package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.tuner.{MetricsListener, StageMetric}

/** Same-JVM probe of one registry query, read from the engine's own
  * flight recorder ([[MetricsListener]]):
  *
  *   - AQE on and off are interleaved rep by rep after one warm pass per
  *     mode, so machine-load drift hits both modes alike. Min-of-N is the
  *     reported basis: contention only ever adds time.
  *   - Every timed rep runs under a fresh listener. Per mode, the fastest
  *     rep's stages are printed (wall, executor CPU, input and shuffle
  *     bytes) with its driver gap: wall time outside every stage.
  *   - With a plan dir, the plan each mode's last rep actually executed
  *     (with AQE on, the final adaptive plan) is written to
  *     `<planDir>/<query>_aqe_{on,off}.txt`, so the on/off diff shows
  *     which node AQE changed at run time.
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.tools.Probe <query> [reps] [planDir]
  */
object Probe {
  /** One AQE mode's rep times, and the fastest rep's stages and gap. */
  final case class Mode(aqe: Boolean, reps: Seq[Double],
      stages: Seq[StageMetric], driverGapSec: Double)

  /** Wall time outside the union of the stage intervals
    * `[submittedAtMs, submittedAtMs + stageDurationMs]`. Stages of one
    * query overlap (independent branches run concurrently), so a plain
    * sum of stage walls would count the overlap twice and understate the
    * gap. */
  def driverGapMs(wallMs: Long, stages: Seq[StageMetric]): Long = {
    val covered = stages
      .map(s => (s.submittedAtMs, s.submittedAtMs + s.stageDurationMs))
      .sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
      }._1
    wallMs - covered
  }

  /** Runs the probe on `spark` and prints its report; `spark` is left
    * running and its AQE setting as it was. */
  def run(spark: SparkSession, sfDir: String, query: String, reps: Int,
      planDir: Option[String]): Seq[Mode] = {
    val sc = spark.sparkContext
    val aqeKey = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(aqeKey)
    // The last query execution to finish is the rep's noop write: eager
    // queries (index fits, Materialize barriers) finish their own writes
    // during construction, before it.
    @volatile var lastPlan = ""
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastPlan = qe.executedPlan.toString
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // Timer starts BEFORE construction: eager queries do their real work
    // at DataFrame-construction time — Bench.runAt times it the same way.
    def once(aqe: Boolean): Double = {
      spark.conf.set(aqeKey, aqe.toString)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(query)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def recorded(aqe: Boolean, rep: Int): (Double, Seq[StageMetric], String) = {
      val l = new MetricsListener(rep)
      sc.addSparkListener(l)
      try {
        val sec = once(aqe)
        ListenerBusAccess.waitUntilEmpty(sc)
        (sec, l.stageRows, lastPlan)
      } finally sc.removeSparkListener(l)
    }
    val modes = Seq(true, false)
    val runs = try {
      modes.foreach(once) // warm codegen and parquet footers per mode, as in Bench
      spark.listenerManager.register(planListener)
      (1 to reps).flatMap(r => modes.map(aqe => aqe -> recorded(aqe, r)))
    } finally {
      spark.listenerManager.unregister(planListener)
      prior match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None => spark.conf.unset(aqeKey)
      }
    }

    val mb = 1024.0 * 1024.0
    modes.map { aqe =>
      val mine = runs.collect { case (`aqe`, run) => run }
      val tag = if (aqe) "on" else "off"
      val (wall, stages, _) = mine.minBy(_._1)
      val mode = Mode(aqe, mine.map(_._1), stages,
        driverGapMs(math.round(wall * 1000), stages) / 1000.0)
      println(f"\n$query aqe_$tag @ $sfDir: reps=" +
        mode.reps.map(x => f"$x%.3f").mkString(",") + f" min=$wall%.3f")
      println(f"${"stage"}%-7s ${"wall_s"}%8s ${"cpu_s"}%8s ${"read_MB"}%9s " +
        f"${"shW_MB"}%8s ${"shR_MB"}%8s  role")
      stages.sortBy(_.submittedAtMs).foreach { s =>
        val role =
          if (s.bytesRead > 0) "scan"
          else if (s.shuffleBytesRead > 0) "post-shuffle"
          else "other"
        println(f"${s.stageId}%-7d ${s.stageDurationMs / 1000.0}%8.3f " +
          f"${s.executorCpuTimeMs / 1000.0}%8.3f ${s.bytesRead / mb}%9.1f " +
          f"${s.shuffleBytesWritten / mb}%8.1f ${s.shuffleBytesRead / mb}%8.1f  $role")
      }
      val scan = stages.filter(_.bytesRead > 0)
      println(f"${stages.length} stages; driver gap ${mode.driverGapSec}%.3f s; " +
        f"scan stages ${scan.map(_.stageDurationMs).sum / 1000.0}%.3f s wall, " +
        f"${scan.map(_.executorCpuTimeMs).sum / 1000.0}%.3f s cpu, " +
        f"${stages.map(_.bytesRead).sum / mb}%.1f MB read")
      planDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val out = Paths.get(d, s"${query}_aqe_$tag.txt")
        Files.write(out, (s"// $query @ $sfDir — executed plan of the last rep, " +
          s"aqe=$tag\n" + mine.last._3).getBytes(StandardCharsets.UTF_8))
        println(s"wrote $out")
      }
      mode
    }
  }

  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("q_simhash")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = graft.core.LocalSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      query, reps, args.lift(2))
    finally {
      graft.core.TempDirs.cleanupAll()
      spark.stop()
    }
  }
}
