package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Runs one workload as a closed loop (one client: the next op starts
  * when the previous one returns) for a fixed time, and writes the raw
  * run record as JSON. `perfbench/run.py` generates the inputs, starts
  * this JVM, checks the answers and turns the record into metrics.
  *
  *   Harness --workload W --data DIR --work DIR --record FILE
  *           --seconds S --trace 0|1 --cores N --rows t=n,...
  *
  * With --trace 1 half of the ops run with spans and a job-grouping
  * listener; the rest run as in the untraced run, so the record carries
  * its own tracing overhead. The warm-up is one untraced round of the
  * same ops. */
object Harness {
  /** Any failure outside an op ends the JVM with a nonzero code, even if
    * Spark's non-daemon threads are still up. */
  def main(args: Array[String]): Unit =
    try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val rows = opt("rows").split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong
    }.toMap
    val work = opt("work")

    val spark = SparkSession.builder()
      .master(s"local[${opt("cores")}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", opt("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.LogQuiet.boundedWindowWarnings()
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer(spark.sparkContext)
    val listener = new StageListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, opt("data"), work, tracer, rows)
    val w: Workload = workload match {
      case "analytics" => new Analytics(ctx)
      case "tuned_curation" => new TunedCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val warmup = w.warmup()
    val setupEndMs = System.currentTimeMillis()

    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val cpu0 = Proc.ticks()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // Whole rounds, at least two, so every op kind has two samples. In a
    // traced run an op kind is traced in every other round, starting in
    // the first round for even kinds and in the second for odd ones, so
    // every kind has an untraced twin and warm-up drift does not favour
    // either side.
    def traced(n: Int) = trace && (n / w.roundOps + n % w.roundOps) % 2 == 0
    var n = 0
    while (System.nanoTime() < deadline || n < 2 * w.roundOps || n % w.roundOps != 0) {
      tracer.enabled = traced(n)
      tracer.op = n
      val start = System.nanoTime()
      val out = try Right(w.op(n)) catch { case e: Throwable => Left(e) }
      val lat = (System.nanoTime() - start) / 1e9
      tracer.enabled = false
      ops += (out match {
        case Right(o) => Map("n" -> n, "kind" -> o.kind, "latency_s" -> lat,
          "start_s" -> (start - t0) / 1e9, "input_rows" -> o.inputRows,
          "traced" -> traced(n), "state" -> o.state, "result" -> o.result)
        case Left(e) => Map("n" -> n, "kind" -> "error", "latency_s" -> lat,
          "start_s" -> (start - t0) / 1e9, "input_rows" -> 0L,
          "traced" -> traced(n), "error" -> e.toString)
      })
      n += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpu1 = Proc.ticks()
    val peakRssKb = Proc.peakRssKb()

    val counters = if (trace) w.counters() else Map.empty[String, Double]
    if (trace) org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

    // First result of each registry query, for the DuckDB oracle compare.
    val firsts = ctx.firsts.map { case (q, (rs, schema)) =>
      q -> Map("columns" -> schema.fieldNames.toSeq, "rows" -> rs.toSeq.map(_.toSeq))
    }
    val oracle = (ctx.firsts.keys.toSeq :+ "q31_jaccard_pairs").distinct
      .flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    val stages = listener.stages.asScala.toSeq.map { s =>
      Map("stage" -> s.stageId, "attempt" -> s.attempt, "submit_ms" -> s.submitMs,
        "complete_ms" -> s.completeMs, "tasks" -> s.numTasks,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
        "gc_ms" -> s.gcMs, "cpu_ns" -> s.cpuNs,
        "task_ms" -> listener.taskDurations(s.stageId))
    }
    val record = Map(
      "workload" -> workload,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "wall_s" -> wallS,
      "round_ops" -> w.roundOps,
      "warmup" -> warmup.map(o => Map("kind" -> o.kind, "result" -> o.result)),
      "ops" -> ops,
      "cpu" -> Map("start" -> cpu0, "end" -> cpu1),
      "peak_rss_kb" -> peakRssKb,
      "counters" -> counters,
      "oracle" -> oracle,
      "firsts" -> firsts,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> listener.jobs.asScala.toSeq.map(j =>
        Map("job" -> j.jobId, "span" -> j.span, "stages" -> j.stageIds)),
      "stages" -> stages)
    Files.writeString(Paths.get(opt("record")), Json(record))
    spark.stop()
    graft.core.TempDirs.cleanupAll()
  }
}

/** Host and process counters read from /proc. */
object Proc {
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  /** Busy and steal ticks of the whole host (/proc/stat) and busy ticks
    * of this JVM (/proc/self/stat utime + stime). */
  def ticks(): Map[String, Long] = {
    val cpu = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6) + cpu(7)
    val self = read("/proc/self/stat")
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    // fields after the command name start at field 3 (state)
    Map("host_busy" -> busy, "steal" -> cpu(7), "self" -> (f(11).toLong + f(12).toLong))
  }

  def peakRssKb(): Long =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
