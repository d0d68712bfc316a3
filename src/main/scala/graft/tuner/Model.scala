package graft.tuner

/** Metrics data model (FIXTURES.md §A3) — the Spark-native replacement for
  * the reference's sparkMeasure-serialized records
  * (/root/reference/src/main/scala/com/highperformancespark/robinsparkles/
  * ComputePartitions.scala:11-34, Listener.scala:51-57).
  */
case class ShuffleVolume(bytesWritten: Long, bytesRead: Long)

case class TaskMetric(
    runId: Int,
    stageId: Int,
    taskId: Long,
    executorId: String,
    durationMs: Long,
    peakMemory: Long,
    // Per-task shuffle-read volume — the reducer-skew signal
    // (SkewAdvisor). Added after the first stores were written; run
    // files from older builds lack the field and read back as 0
    // (MetricsStore zero-fills), which disables skew analysis on them.
    shuffleReadBytes: Long = 0L)

case class StageMetric(
    runId: Int,
    stageId: Int,
    attempt: Int,
    executorCpuTimeMs: Long,
    stageDurationMs: Long,
    bytesRead: Long,
    shuffleBytesWritten: Long,
    shuffleBytesRead: Long,
    submittedAtMs: Long)

/** One stage of one historical run, with its tasks attached — mirrors the
  * reference's StageInfo (ComputePartitions.scala:17-30). */
case class StageRunInfo(
    executorCpuTimeMs: Long,
    stageTimeMs: Long,
    inputSizeMb: Double,
    numExecutors: Int,
    shuffle: ShuffleVolume,
    tasks: Seq[TaskMetric]) {
  /** Partitions used = number of tasks (ComputePartitions.scala:28). */
  def numPartitionsUsed: Int = tasks.length
}

object StageRunInfo {
  /** Join stage rows to their tasks by stageId — inner-join semantics like
    * the reference (Listener.scala:63-67), but a stage with zero tasks is
    * kept with an empty list instead of throwing. */
  def assemble(stages: Seq[StageMetric], tasks: Seq[TaskMetric]): List[StageRunInfo] = {
    val byStage = tasks.groupBy(_.stageId)
    stages.sortBy(_.stageId).map { st =>
      val ts = byStage.getOrElse(st.stageId, Seq.empty)
      StageRunInfo(
        executorCpuTimeMs = st.executorCpuTimeMs,
        stageTimeMs = st.stageDurationMs,
        inputSizeMb = st.bytesRead.toDouble / (1024 * 1024),
        numExecutors = ts.map(_.executorId).distinct.size.max(1),
        shuffle = ShuffleVolume(st.shuffleBytesWritten, st.shuffleBytesRead),
        tasks = ts)
    }.toList
  }

  /** Per run, the stage with the largest `key`, aligned by stage ordinal
    * across runs (ComputePartitions.scala:52-61): the ordinal is picked on
    * the first run and looked up in every later one. Keys in use: shuffle
    * bytes written (the decision table's target stage), input bytes (the
    * scan tier) and shuffle bytes read (the reducer side, whose task
    * count is what AQE settled on after coalescing). Returns Nil on empty
    * history (fixes reference quirk Q2 — MatchError on a first-ever run). */
  def aligned[K: Ordering](runs: Seq[List[StageRunInfo]])(
      key: StageRunInfo => K): List[StageRunInfo] =
    runs.headOption match {
      case Some(first) if first.nonEmpty =>
        val idx = first.zipWithIndex.maxBy(p => key(p._1))._2
        runs.flatMap(r => r.lift(idx)).toList
      case _ => Nil
    }
}
