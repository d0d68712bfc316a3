package graft

import java.nio.file.Files
import graft.apps.WordCountApp

/** EP1 app port: arg parsing (quirk Q5 fix) and the cross-run tuning loop
  * through the text-file surface. */
class WordCountAppSpec extends SparkSpec {

  test("named-flag parser rejects the reference's silent arg skipping") {
    assert(WordCountApp.parseArgs(Array("--input", "a")).isLeft)
    assert(WordCountApp.parseArgs(Array("--input", "a", "--bogus", "x")).isLeft)
    val ok = WordCountApp.parseArgs(Array(
      "--input", "i", "--output", "o", "--metrics", "m", "--app-name", "n"))
    assert(ok.exists(a => a.input == "i" && a.appName == "n"))
  }

  test("--tune off records metrics without touching conf (reference EP2)") {
    val in = Files.createTempFile("words2", ".txt")
    Files.writeString(in, "alpha beta beta\n")
    val out = Files.createTempDirectory("wc2-out").toString
    val metrics = Files.createTempDirectory("wc2-metrics").toString
    val args = WordCountApp.Args(in.toString, out, metrics, "wc2-spec", tune = false)

    graft.tuner.Tuner.withConfRestored(spark) {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val (partitions, runId) = WordCountApp.run(spark, args)
      assert(runId == 0)
      assert(partitions == 7, "record-only mode reports the ambient setting")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7",
        "record-only mode must not rewrite conf")
      val tuner = new graft.tuner.Tuner(metrics, "wc2-spec")
      assert(tuner.store.history(spark).length == 1, "metrics still recorded")
    }
  }

  test("two tuned runs share history through the metrics store") {
    val in = Files.createTempFile("words", ".txt")
    Files.writeString(in, "I am some words\nWords And words Woooooooooooo\nPanda words\n")
    val out = Files.createTempDirectory("wc-out").toString
    val metrics = Files.createTempDirectory("wc-metrics").toString
    val args = WordCountApp.Args(in.toString, out, metrics, "wc-spec")

    graft.tuner.Tuner.withConfRestored(spark) {
      val (_, run0) = WordCountApp.run(spark, args)
      val (_, run1) = WordCountApp.run(spark, args)
      assert(run0 == 0 && run1 == 1, "run ids must advance via the store")
      // Output is the reference fixture's expectation: words→4 (case-folded).
      val rows = spark.read.csv(out).collect()
        .map(r => r.getString(0) -> r.getString(1).toLong).toMap
      assert(rows("words") == 4L)
      assert(rows("panda") == 1L)
      assert(!rows.contains("the"))
    }
  }
}
