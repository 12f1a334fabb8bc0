package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Span recorder for the traced run. The harness opens and closes spans on
  * its own thread around calls into each module (workload -> pipeline or
  * query -> construct or execute). Each open span is also the thread's Spark
  * job group, which Spark copies to every job started for it, so after the
  * run each job in Spark's status store is attached to its span. Spans stay
  * in memory until [[writeSpans]] writes one JSON line per span, one per job
  * (with its stage and task metrics) and a last line with the cache peak.
  */
final class Tracer(spark: SparkSession) {
  import Harness.{num, obj, q}

  private val GroupKey = "spark.jobGroup.id"
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
    var end = 0.0
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var cachedPeak = 0L

  def open(name: String): Unit = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), nowMs)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(GroupKey, s"perfbench-${s.id}")
  }

  /** Closes the innermost span; the blocks cached at that moment count
    * towards the cache peak. */
  def close(): Unit = {
    stack.head.end = nowMs
    stack = stack.tail
    sc.setLocalProperty(GroupKey, stack.headOption.map(s => s"perfbench-${s.id}").orNull)
    cachedPeak = math.max(cachedPeak, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
  }

  /** Writes the spans, jobs and cache peak as JSON lines. */
  def writeSpans(path: String): Unit = {
    val spanLines = spans.map(s => obj("type" -> q("span"), "id" -> s.id.toString,
      "name" -> q(s.name), "parent" -> s.parent.toString,
      "start_ms" -> num(s.start), "end_ms" -> num(s.end)))
    val jobLines = PerfbenchBus.jobs(sc).map { j =>
      val span = if (j.group.startsWith("perfbench-")) j.group.stripPrefix("perfbench-") else "-1"
      obj("type" -> q("job"), "id" -> j.id.toString, "span" -> span,
        "desc" -> q(j.description), "call_site" -> q(j.callSite),
        "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "run_ms" -> j.runMs.toString, "cpu_ns" -> j.cpuNs.toString, "gc_ms" -> j.gcMs.toString,
        "sched_delay_ms" -> j.schedulerDelayMs.toString,
        "shuffle_write_bytes" -> j.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> j.shuffleReadBytes.toString,
        "spill_bytes" -> j.spillBytes.toString, "in_bytes" -> j.inputBytes.toString,
        "in_records" -> j.inputRecords.toString, "out_bytes" -> j.outputBytes.toString,
        "out_records" -> j.outputRecords.toString)
    }
    val lines = (spanLines ++ jobLines) :+
      obj("type" -> q("cache"), "cached_bytes_peak" -> cachedPeak.toString)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
