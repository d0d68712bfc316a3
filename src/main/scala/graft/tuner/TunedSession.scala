package graft.tuner

import org.apache.spark.sql.SparkSession

/** The tuning loop (reference EP1, CountingApp.scala:61-84) rebuilt around
  * SparkSession: read history → [[Tuner.decide]] → apply → record this run.
  *
  * Spark-4 adaptation: `spark.sql.shuffle.partitions` is runtime-settable,
  * so the decision applies to the *current* session immediately;
  * `spark.default.parallelism` (RDD world) only applies to the next
  * session and is returned for the caller's builder by [[recommendedConf]].
  */
class Tuner(metricsRoot: String, appName: String) {
  val store = new MetricsStore(metricsRoot, appName)

  /** All tuned knobs for the NEXT session's builder (SURVEY §7:
    * DataFrame shuffles obey spark.sql.shuffle.partitions, RDD jobs
    * spark.default.parallelism — the tuner sets both to the decision the
    * next [[tuneAndRunTracked]] would apply). */
  def recommendedConf(spark: SparkSession): Map[String, String] = {
    val d = Tuner.decide(store.history(spark), spark.conf.getAll)
    d.conf + ("spark.default.parallelism" -> d.partitions.toString)
  }

  /** The one record step: attach a listener, run `body`, wait for the
    * async listener bus to drain so the run is complete, snapshot the
    * rows once, persist them as the next run id, detach. */
  private def record[T](spark: SparkSession)(body: => T): (T, Int, List[StageRunInfo]) = {
    val runId = store.nextRunId(spark)
    val listener = new MetricsListener(runId)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      val stages = listener.stageRows
      val tasks = listener.taskRows
      store.persist(spark.sparkContext.hadoopConfiguration, runId, stages, tasks)
      (result, runId, StageRunInfo.assemble(stages, tasks))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `body` with metrics recording and no conf change; returns
    * (result, runId). */
  def withRecording[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (result, runId, _) = record(spark)(body)
    (result, runId)
  }

  /** Attach an ambient flight recorder: metrics auto-persist on
    * application end with no further calls (reference flight-recorder
    * contract). Returns the listener so the app can flush() early if it
    * wants the run visible before shutdown. Do not combine with
    * withRecording on the same store in one app (run-id collision). */
  def attachFlightRecorder(spark: SparkSession): FlightRecorder = {
    val runId = store.nextRunId(spark)
    val fr = new FlightRecorder(store, runId,
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.addSparkListener(fr)
    fr
  }

  /** Full loop step: decide from one store read, apply the decision to
    * the session, then record this run. Also returns the pre-run history
    * and this run's own stage infos assembled straight from the listener
    * rows. A caller that wants the post-run history (e.g. the demo's
    * AQE-settle series) appends `recorded` to `priorHistory` instead of
    * re-reading the store: one history read per iteration, not two. */
  def tuneAndRunTracked[T](spark: SparkSession)(body: => T): TunedRun[T] = {
    val history = store.history(spark)
    val d = Tuner.decide(history, spark.conf.getAll)
    d.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val (result, runId, recorded) = record(spark)(body)
    TunedRun(result, d.partitions, d.maxPartitionBytes, runId, history, recorded)
  }
}

object Tuner {
  /** The one decision function: every tier derived from one history.
    *   - shuffle: the reference decision table over the most expensive
    *     shuffle's series, slot-floored (see `applySlotFloor`);
    *   - scan: split size from the biggest input stage of the latest run
    *     (cold start → memory bound alone);
    *   - skew: the latest run's per-task shuffle-read profile
    *     (balanced or pre-evolution history → None, AQE defaults stand). */
  def decide(history: Seq[List[StageRunInfo]], conf: Map[String, String]): Decision = {
    val cp = new ComputePartitions(conf)
    val target = StageRunInfo.aligned(history)(_.shuffle.bytesWritten)
    val scans = StageRunInfo.aligned(history)(_.inputSizeMb)
    Decision(
      cp.applySlotFloor(cp.fromStageMetricSharedCluster(target)),
      cp.maxPartitionBytes(scans.lastOption.map(_.inputSizeMb).getOrElse(0.0)),
      history.lastOption.flatMap(SkewAdvisor.analyze))
  }

  /** Run `body`, then put back every session key a [[Decision]] can set
    * as it was before: set keys get their old value, unset keys are
    * unset again. */
  def withConfRestored[T](spark: SparkSession)(body: => T): T = {
    val saved = Decision.confKeys.map(k => k -> spark.conf.getOption(k))
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** What the tuner applies to the next run. */
case class Decision(partitions: Int, maxPartitionBytes: Long,
    skew: Option[SkewAdvisor.SkewReport]) {
  /** The session conf this decision sets. */
  def conf: Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString) ++
      skew.map(SkewAdvisor.recommendedConf).getOrElse(Map.empty)
}

object Decision {
  /** Every key [[Decision.conf]] can hold. */
  val confKeys: Seq[String] = Seq("spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes") ++ SkewAdvisor.confKeys
}

/** One tracked tuning-loop step — see [[Tuner.tuneAndRunTracked]]. */
case class TunedRun[T](result: T, partitions: Int, maxPartitionBytes: Long,
    runId: Int, priorHistory: List[List[StageRunInfo]],
    recorded: List[StageRunInfo])
