package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import graft.tools.Probe
import graft.tuner.StageMetric

/** The one remaining probe main, driven on the shared spec session: the
  * union-based driver gap, an end-to-end run, and the guard that keeps
  * session setup in one place. */
class ProbeSpec extends SparkSpec {
  private def stage(id: Int, fromMs: Long, toMs: Long): StageMetric =
    StageMetric(runId = 1, stageId = id, attempt = 0, executorCpuTimeMs = 0L,
      stageDurationMs = toMs - fromMs, bytesRead = 0L, shuffleBytesWritten = 0L,
      shuffleBytesRead = 0L, submittedAtMs = fromMs)

  test("driver gap is wall time outside the union of stage intervals") {
    // Overlapping [0,10] and [5,15]: 15 ms covered. A plain sum of stage
    // walls would count 20 and read a gap of 0.
    assert(Probe.driverGapMs(20, Seq(stage(0, 0, 10), stage(1, 5, 15))) == 5)
    assert(Probe.driverGapMs(20, Seq(stage(1, 12, 15), stage(0, 0, 10))) == 7)
    assert(Probe.driverGapMs(20, Seq(stage(0, 0, 15), stage(1, 2, 5))) == 5)
    assert(Probe.driverGapMs(20, Nil) == 20)
  }

  test("q_simhash: both AQE modes timed with stages, both executed plans written") {
    val planDir = graft.core.TempDirs.create("graft-probe-spec")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val modes = Probe.run(spark, sf, "q_simhash", 1, Some(planDir))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore,
      "the probe must leave the session's AQE setting as it found it")
    assert(modes.map(_.aqe) == Seq(true, false))
    modes.foreach { m =>
      assert(m.reps.length == 1 && m.reps.head > 0, s"one timed rep: $m")
      assert(m.stages.nonEmpty, s"the listener must record stages: $m")
    }
    val plans = Seq("on", "off").map { tag =>
      val p = Paths.get(planDir, s"q_simhash_aqe_$tag.txt")
      assert(Files.isRegularFile(p), s"$p not written")
      new String(Files.readAllBytes(p), UTF_8)
    }
    // The written plans are the ones the reps ran, not a fresh planning
    // of the frame: AQE-on shows its final adaptive plan, AQE-off none.
    assert(plans(0).contains("AdaptiveSparkPlan isFinalPlan=true"), plans(0))
    assert(!plans(1).contains("AdaptiveSparkPlan"), plans(1))
  }

  test("SparkSession.builder() appears in src/main only in LocalSession and WordCountApp") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"specs run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val hits = Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          new String(Files.readAllBytes(p), UTF_8).contains("SparkSession.builder()"))
        .map(p => root.relativize(p).toString).toSet
    }
    assert(hits == Set("graft/core/LocalSession.scala", "graft/apps/WordCountApp.scala"))
  }
}
