package org.apache.spark

import org.apache.spark.status.api.v1.StageStatus

/** Read access to the job and stage records Spark's own status store keeps
  * (package-private to Spark). The trace recorder reads them once, after the
  * run, so tracing adds no listener and no per-event work of its own.
  */
object PerfbenchBus {

  /** One finished job with the summed metrics of the stages it ran. */
  final case class JobRecord(
      id: Int, group: String, description: String, callSite: String,
      startMs: Long, endMs: Long, stages: Int, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, schedulerDelayMs: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      inputBytes: Long, inputRecords: Long, outputBytes: Long, outputRecords: Long)

  def jobs(sc: SparkContext): Seq[JobRecord] = {
    sc.listenerBus.waitUntilEmpty()
    val store = sc.statusStore
    val stages = store.stageList(null).filter(_.status == StageStatus.COMPLETE)
      .map(s => s.stageId -> s).toMap
    val owner = scala.collection.mutable.HashMap.empty[Int, Int]
    val jobs = store.jobsList(null).sortBy(_.jobId)
    jobs.foreach(j => j.stageIds.foreach(s => owner.getOrElseUpdate(s, j.jobId)))
    jobs.filter(_.completionTime.isDefined).map { j =>
      val own = j.stageIds.filter(s => owner(s) == j.jobId).flatMap(stages.get)
      def sum(f: v1Stage => Long): Long = own.map(f).sum
      val delay = own.map { s =>
        store.taskList(s.stageId, s.attemptId, Int.MaxValue).map(_.schedulerDelay).sum
      }.sum
      JobRecord(j.jobId, j.jobGroup.getOrElse(""), j.description.getOrElse(""),
        own.sortBy(-_.stageId).headOption.fold("")(_.name),
        j.submissionTime.fold(0L)(_.getTime), j.completionTime.get.getTime,
        own.size, own.map(_.numTasks).sum,
        sum(_.executorRunTime), sum(_.executorCpuTime), sum(_.jvmGcTime), delay,
        sum(_.shuffleWriteBytes), sum(_.shuffleReadBytes),
        sum(s => s.memoryBytesSpilled + s.diskBytesSpilled),
        sum(_.inputBytes), sum(_.inputRecords), sum(_.outputBytes), sum(_.outputRecords))
    }
  }

  private type v1Stage = org.apache.spark.status.api.v1.StageData
}
