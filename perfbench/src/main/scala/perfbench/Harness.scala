package perfbench

import graft.{Main, SparkEntry}
import graft.engine.{BoundedCaches, GraftSession}
import graft.pipeline.{Pipeline, PipelineContext, Runner}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark process: a cold session set-up, then one full migration
  * (`Runner.run` over `Main.registry`, as `Main.execute` does), then the
  * catalog pass (each query through `SparkEntry.queries(name)(spark, dir)`
  * and a sink), all in the same JVM. It times calls into each module's public entry points from outside and
  * writes the raw measurements as one JSON object; `run.py` turns them into
  * metrics.
  *
  * Arguments (key=value): in, out (migration source and target dirs), cat
  * (catalog data dir), catout (where each query's sink writes the result the
  * oracle check reads), queries (comma list), catSeconds (rounds continue
  * until this many seconds have passed), result (JSON output path), trace
  * (optional span JSONL path; turns on the span recorder).
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val opt = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    // Cold set-up: JVM start to the end of the session's first job.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local("perfbench")
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = opt.get("trace").map(_ => new Tracer(spark))
    val out = mutable.LinkedHashMap("setup_s" -> num(setupS), "config" -> config(spark))
    try {
      if (opt.contains("in")) out("migration") = migration(spark, opt("in"), opt("out"), tracer)
      if (opt.contains("cat")) out("catalog") = catalog(spark, opt, tracer)
      tracer.foreach(_.writeSpans(opt("trace")))
      out("vm_hwm_kb") = vmHwmKb().toString
      Files.writeString(Paths.get(opt("result")), out.map { case (k, v) => q(k) + ":" + v }
        .mkString("{", ",", "}"))
    } finally spark.stop()
  }

  /** The effective configuration, as the session actually holds it. */
  private def config(spark: SparkSession): String = {
    val c = spark.sparkContext.getConf
    val localDir = c.get("spark.local.dir", "")
    val why = sys.env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some(_) => "SPARK_GRAFT_LOCAL_DIR is set"
      case None => "GraftSession default (tmpfs when it has room, else java.io.tmpdir)"
    }
    obj(
      "master" -> q(spark.sparkContext.master),
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
      "spark_local_dir" -> q(localDir),
      "spark_local_dir_why" -> q(why),
      "driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "SPARK_GRAFT_MAXLIVE" -> q(sys.env.getOrElse("SPARK_GRAFT_MAXLIVE", "unset (default 6)")),
      "SPARK_GRAFT_REROOT" -> q(sys.env.getOrElse("SPARK_GRAFT_REROOT", "unset (reroot on)")),
      "spark_version" -> q(spark.version),
      "jdk" -> q(System.getProperty("java.runtime.version")))
  }

  // ---------------- migration ----------------

  private def migration(spark: SparkSession, in: String, outDir: String,
      tracer: Option[Tracer]): String = {
    val registry = Main.registry(in, outDir)
    val deps = registry.map(p => q(p.name) + ":" + p.dependsOn.map(q).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    // What `Main.execute` runs (`Runner.run` over `Main.registry`, every
    // module), with each pipeline wrapped so that its time brackets exactly
    // the body Runner runs and, when tracing, its span encloses that body.
    // Only pipelines that complete get a time.
    val times = mutable.LinkedHashMap.empty[String, Double]
    val wrapped = registry.map { p =>
      new Pipeline {
        val name = p.name
        override val dependsOn = p.dependsOn
        override val module = p.module
        def run(ctx: PipelineContext): Unit = {
          tracer.foreach(_.open(s"pipeline:${p.name}"))
          try {
            val s = System.nanoTime()
            p.run(ctx)
            times(p.name) = (System.nanoTime() - s) / 1e9
          } finally tracer.foreach(_.close())
        }
      }
    }
    var error: Option[String] = None
    val t0 = System.nanoTime()
    val cpu0 = cpuSeconds()
    tracer.foreach(_.open("migration"))
    try Runner.run(PipelineContext(spark), wrapped)
    catch { case e: Throwable => error = Some(rootMessage(e)) }
    finally tracer.foreach(_.close())
    val wall = (System.nanoTime() - t0) / 1e9
    obj(
      "wall_s" -> num(wall),
      "cpu_s" -> num(cpuSeconds() - cpu0),
      "pipelines" -> times.map { case (k, v) => q(k) + ":" + num(v) }.mkString("{", ",", "}"),
      "depends_on" -> deps,
      "error" -> error.fold("null")(q))
  }

  // ---------------- catalog ----------------

  private def catalog(spark: SparkSession, opt: Map[String, String],
      tracer: Option[Tracer]): String = {
    val dir = opt("cat")
    val resultDir = opt("catout")
    val names = opt("queries").split(",").toSeq
    val budget = opt.getOrElse("catSeconds", "0").toDouble
    val failures = mutable.LinkedHashMap.empty[String, String]
    def fresh(): Unit = { BoundedCaches.releaseAll(); spark.catalog.clearCache() }
    Files.writeString(Paths.get(s"$resultDir/oracle_sql.json"),
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(s => q(n) + ":" + q(s)))
        .mkString("{", ",", "}"))
    // Rounds: every round runs every query once, in the same order, each
    // from released caches. A query's sink writes its result, which the
    // oracle check reads after the run.
    val construct = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val exec = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    var attempted, failed = 0
    val start = System.nanoTime()
    val cpu0 = cpuSeconds()
    var rounds = 0
    tracer.foreach(_.open("catalog"))
    while (rounds == 0 || (System.nanoTime() - start) / 1e9 < budget) {
      names.foreach { n =>
        fresh()
        attempted += 1
        tracer.foreach(_.open(s"query:$n"))
        try {
          tracer.foreach(_.open(s"query:$n:construct"))
          val t0 = System.nanoTime()
          val df = try SparkEntry.queries(n)(spark, dir) finally tracer.foreach(_.close())
          val t1 = System.nanoTime()
          tracer.foreach(_.open(s"query:$n:exec"))
          try df.coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$n")
          finally tracer.foreach(_.close())
          val t2 = System.nanoTime()
          construct(n) += (t1 - t0) / 1e9
          exec(n) += (t2 - t1) / 1e9
        } catch { case e: Throwable =>
          failed += 1
          failures.getOrElseUpdate(n, rootMessage(e))
        } finally tracer.foreach(_.close())
      }
      rounds += 1
    }
    tracer.foreach(_.close())
    def arr(b: Seq[Double]) = b.map(num).mkString("[", ",", "]")
    obj(
      "cpu_s" -> num(cpuSeconds() - cpu0),
      "rounds" -> rounds.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "construct_s" -> names.map(n => q(n) + ":" + arr(construct(n).toSeq)).mkString("{", ",", "}"),
      "exec_s" -> names.map(n => q(n) + ":" + arr(exec(n).toSeq)).mkString("{", ",", "}"),
      "failures" -> failures.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}"))
  }

  // ---------------- helpers ----------------

  private def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${e.getClass.getSimpleName}: ${e.getMessage} | root ${c.getClass.getSimpleName}: ${c.getMessage}"
  }

  /** CPU time of the whole JVM (all threads), user plus system. */
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def vmHwmKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1L
    else scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  private[perfbench] def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private[perfbench] def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  private[perfbench] def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
