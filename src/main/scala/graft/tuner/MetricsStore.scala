package graft.tuner

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoder, SparkSession}

/** Run store: one JSON-lines file per run and kind, written on the driver
  * through the Hadoop FS API, like the reference's flight recorders write
  * one file per run (Listener.scala:25-42):
  *
  *   <root>/<appName>/flight_stage/run-N.jsonl   (one StageMetric a line)
  *   <root>/<appName>/flight_task/run-N.jsonl    (one TaskMetric a line)
  *
  * Writing needs no Spark job, so the same [[persist]] serves a scoped
  * recording ([[Tuner.withRecording]]) and the application-end flush of
  * a [[FlightRecorder]], when SparkContext.stop() already forbids jobs.
  */
class MetricsStore(root: String, appName: String) {
  private def base = s"$root/$appName"
  private def dir(kind: String) = s"$base/flight_$kind"
  private val runFile = "^run-(\\d+)\\.jsonl$".r

  /** Fields added to the model after stores were written; older lines
    * lack them and read back as 0 (see `TaskMetric.shuffleReadBytes`). */
  private val laterFields = Seq("shuffleReadBytes")

  private def exists(conf: Configuration, p: String): Boolean = {
    val path = new Path(p)
    path.getFileSystem(conf).exists(path)
  }

  /** Stores written by builds before the JSON-lines layout kept Parquet
    * under `kind=stage|task/run=N`. Reading one as empty history would
    * silently restart tuning from a cold start, so it fails instead. */
  private def requireCurrentLayout(conf: Configuration): Unit =
    Seq("stage", "task").map(k => s"$base/kind=$k").find(exists(conf, _)).foreach { p =>
      throw new IllegalStateException(
        s"metrics store $p uses the Parquet run layout, which this build no " +
          s"longer reads: runs are stored as JSON lines under $base/flight_stage " +
          "and flight_task. Move or delete the old store to start a new one.")
    }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Write one run as JSON lines, one line per row, each built from the
    * row's case-class fields. Starts no Spark job. */
  def persist(conf: Configuration, runId: Int,
      stages: Seq[StageMetric], tasks: Seq[TaskMetric]): Unit = {
    def write(kind: String, rows: Seq[Product]): Unit = {
      val p = new Path(s"${dir(kind)}/run-$runId.jsonl")
      val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        p.getFileSystem(conf).create(p, true), java.nio.charset.StandardCharsets.UTF_8))
      try rows.foreach(r => w.println(json.writeValueAsString(r))) finally w.close()
    }
    write("stage", stages)
    write("task", tasks)
  }

  /** Rows of one kind across all runs. A crashed writer can leave a
    * truncated trailing line, so malformed lines and rows missing a
    * required field are dropped instead of letting the non-nullable
    * decode throw and poison every later tuned run against this store. */
  private def read[T: Encoder](spark: SparkSession, kind: String): Seq[T] = {
    val enc = implicitly[Encoder[T]]
    if (!exists(spark.sparkContext.hadoopConfiguration, dir(kind))) Nil
    else spark.read.schema(enc.schema)
      .option("mode", "DROPMALFORMED").json(dir(kind))
      .na.fill(0L, laterFields.filter(enc.schema.fieldNames.contains))
      .na.drop("any")
      .as[T](enc).collect().toSeq
  }

  /** All runs in id order, each assembled into per-stage infos. A missing
    * store is empty history (reference quirk Q2 fixed); a store in the
    * old Parquet layout throws. */
  def history(spark: SparkSession): List[List[StageRunInfo]] = {
    import spark.implicits._
    requireCurrentLayout(spark.sparkContext.hadoopConfiguration)
    try {
      val tasksByRun = read[TaskMetric](spark, "task").groupBy(_.runId)
      read[StageMetric](spark, "stage").groupBy(_.runId).toList.sortBy(_._1)
        .map { case (rid, st) => StageRunInfo.assemble(st, tasksByRun.getOrElse(rid, Nil)) }
    } catch {
      // R22 error-tolerance is ONLY for an unreadable layout: warn + empty
      // history. Runtime corruption (SparkException etc.) propagates.
      case e: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"[graft.tuner] unreadable metrics store at $base: ${e.getMessage}")
        Nil
    }
  }

  /** Next run id = max(recorded run file ids) + 1 (reference R27
    * allocated sequentially; counting assembled history reused ids
    * whenever a run captured zero stages, and persist's overwriting
    * create would then silently clobber the prior run file). */
  def nextRunId(spark: SparkSession): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    requireCurrentLayout(conf)
    Seq("stage", "task").flatMap { k =>
      val p = new Path(dir(k))
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq
        .flatMap(st => runFile.findFirstMatchIn(st.getPath.getName).map(_.group(1).toInt))
    }.foldLeft(-1)(math.max) + 1
  }
}
