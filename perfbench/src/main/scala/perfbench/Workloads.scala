package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.core.Tables
import graft.dedup.{DedupClusters, MinHashDedup}
import graft.similarity.AnnIvf
import graft.tuner.Tuner

/** What the loop needs from a workload: one op at a time, each a fixed
  * sequence of calls into the program's public functions, every call
  * wrapped in a span named `<module>.<function>`.
  *
  * Ops report what they produced (digests, small result sets) so the
  * checker can decide, op by op, whether the answer was right. `state`
  * names the configuration the op ran under (the tuner's knobs), so a
  * traced op is compared only with untraced ops in the same state. */
final case class OpOut(kind: String, inputRows: Long, result: Map[String, Any],
    state: String = "")

final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val tracer: Tracer, val rows: Map[String, Long]) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def table(name: String): DataFrame = Tables.t(spark, data, name)
  /** Registry query results whose first occurrence is saved for the
    * oracle compare: name -> (rows, schema). */
  val firsts = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  /** Run a registry query and collect its rows, keeping the first result
    * of each name for the oracle. */
  def registry(spanName: String, q: String): Array[Row] = {
    val (rows, schema) = span(spanName) {
      val df = SparkEntry.queries(q)(spark, data)
      (df.collect(), df.schema)
    }
    if (!firsts.contains(q)) firsts(q) = (rows, schema)
    rows
  }

  def vectors: DataFrame =
    table("embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
}

object Ctx {
  /** Digest of a result as a set of rows: the row order of an unordered
    * result may change with the tuner's partition count. */
  def digest(rows: Iterable[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).toSeq.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def pairs(rows: Iterable[Row]): Seq[Seq[Long]] =
    rows.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq

  def hits(rows: Iterable[Row]): Seq[Seq[Long]] =
    rows.map(r => Seq(r.getAs[Long]("qid"), r.getAs[Long]("cand_id"))).toSeq

  /** Files and bytes under a directory tree (data files only). */
  def dirStats(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val walk = java.nio.file.Files.walk(p)
      try {
        val files = walk.iterator().asScala.filter { f =>
          java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
        }.toSeq
        (files.size.toLong, files.map(java.nio.file.Files.size).sum)
      } finally walk.close()
    }
  }

  /** Rows in the cells an IVF search probes, averaged over queries: the
    * probe's nprobe nearest centroids by cosine, summed cell sizes. */
  def probedRowsPerQuery(s: SparkSession, idx: String, queries: DataFrame,
      nprobe: Int): Double = {
    val cents = s.read.parquet(s"$idx/centroids").collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Seq[Double]]("cemb").toArray))
    val sizes = s.read.parquet(s"$idx/assigned").groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val qs = queries.collect().map(_.getAs[Seq[Double]]("qemb").toArray)
    if (qs.isEmpty) 0.0
    else qs.map { q =>
      cents.sortBy { case (cid, c) => (-cos(q, c), cid) }.take(nprobe)
        .map { case (cid, _) => sizes.getOrElse(cid, 0L) }.sum.toDouble
    }.sum / qs.length
  }
}

trait Workload {
  def ctx: Ctx
  /** The loop ends on a multiple of this many ops, so every run sees the
    * same mix of op kinds. */
  def roundOps: Int
  /** Untimed work before the loop so JIT, code generation and file caches
    * are warm: one round of the same ops the loop runs. Its results are
    * the reference the timed ops are checked against. */
  def warmup(): Seq[OpOut] = (0 until roundOps).map(op)
  def op(i: Int): OpOut
  /** Layer counters for the traced run, computed after the loop with
    * tracing off. */
  def counters(): Map[String, Double] = Map.empty
}

/** Relational registry queries in rotation. `dedup`, `similarity` and
  * `tuner` do no work here: the control workload for their changes. */
final class Analytics(val ctx: Ctx) extends Workload {
  private val kinds = Seq(
    ("queries", "q01_pricing_summary", Seq("lineitem")),
    ("queries", "q04_multiway_join", Seq("lineitem", "orders")),
    ("queries", "q15_window_rank", Seq("orders")),
    ("queries", "q18_topk", Seq("orders")),
    ("queries", "q34_sessionization", Seq("events")),
    ("plans", "q_asof_join", Seq("events", "orders")),
    ("operators", "q_salted_join", Seq("lineitem", "orders")))
  def roundOps: Int = kinds.size

  def op(i: Int): OpOut = {
    val (layer, q, facts) = kinds(i % kinds.size)
    val rows = ctx.registry(s"$layer.$q", q)
    OpOut(q, facts.map(ctx.rows).sum, Map("digest" -> Ctx.digest(rows)))
  }
}

/** The paper's loop around a real application, one job at a time: each
  * op is one step of the LLM-curation chain, in job order, inside its own
  * `Tuner.tuneAndRunTracked` iteration, so the tuner re-tunes before each
  * job. The chain runs over the generated corpus (planted duplicates) and
  * embeddings (planted clusters). A round is the six steps, then a read of
  * the run store that confirms every run landed. The steps share one
  * store, which grows by six runs per round, warm-up included. */
final class TunedCuration(val ctx: Ctx) extends Workload {
  import ctx.spark
  private val idx = s"${ctx.work}/ivf"
  private val nDocs = ctx.rows("documents")
  private val nVecs = ctx.rows("embeddings")
  private val k = AnnIvf.chooseK(nVecs)
  private val nprobe = math.min(k, AnnIvf.DEFAULT_NPROBE)
  private val pairSchema = StructType(Seq(StructField("id1", LongType),
    StructField("id2", LongType)))
  private def queries = ctx.vectors.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("qid"), col("emb").as("qemb"))
  private val tuner = new Tuner(s"${ctx.work}/metrics-store", "curation")
  /** Partition count the tuner chose, per step kind, in run order. */
  private val parts = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Int]]
  private var storeRuns = 0
  private var lastPairs: Array[Row] = Array.empty

  private def pairFrame(pairs: Array[Row]): DataFrame = spark.createDataFrame(
    pairs.map(r => Row(r.getLong(0), r.getLong(1))).toSeq.asJava, pairSchema)

  /** (kind, input records, body) of each step in job order. */
  private val steps: Seq[(String, () => Long, () => Map[String, Any])] = Seq(
    ("q30_exact_dedup", () => nDocs, () => Map("digest" -> Ctx.digest(
      ctx.registry("queries.q30_exact_dedup", "q30_exact_dedup")))),
    ("nearDuplicates", () => nDocs, () => {
      lastPairs = ctx.span("dedup.nearDuplicates") {
        MinHashDedup.nearDuplicates(ctx.table("documents")).collect()
      }
      Map("digest" -> Ctx.digest(lastPairs), "pairs" -> Ctx.pairs(lastPairs))
    }),
    ("connectedComponents", () => lastPairs.length.toLong, () => {
      val comps = ctx.span("dedup.connectedComponents") {
        DedupClusters.connectedComponents(pairFrame(lastPairs)).orderBy("id").collect()
      }
      Map("pairs_digest" -> Ctx.digest(lastPairs),
        "components" -> comps.map(r => Seq(r.getLong(0), r.getLong(1))).toSeq)
    }),
    ("q_simhash", () => nDocs, () => Map("digest" -> Ctx.digest(
      ctx.registry("queries.q_simhash", "q_simhash")))),
    ("AnnIvf.fit", () => nVecs, () => {
      ctx.span("similarity.AnnIvf.fit") {
        AnnIvf.fit(ctx.vectors, idx, k, fitIters = 2, knownN = nVecs)
      }
      Map.empty
    }),
    ("AnnIvf.search", () => nVecs, () => Map("hits" -> Ctx.hits(
      ctx.span("similarity.AnnIvf.search") {
        AnnIvf.search(spark, idx, queries, nprobe).collect()
      }))))

  def roundOps: Int = steps.size + 1

  def op(i: Int): OpOut = i % roundOps match {
    case j if j < steps.size =>
      val (kind, rows, body) = steps(j)
      val run = ctx.span("tuner.Tuner.overhead") { tuner.tuneAndRunTracked(spark)(body()) }
      parts(kind) = parts.getOrElse(kind, Vector.empty) :+ run.partitions
      OpOut(kind, rows(), run.result ++ Map("run_id" -> run.runId,
        "partitions" -> run.partitions), s"${run.partitions}/${run.maxPartitionBytes}")
    case _ =>
      val history = ctx.span("tuner.MetricsStore.history") { tuner.store.history(spark) }
      storeRuns = history.size
      OpOut("store_history", 0L, Map("store_runs" -> history.size))
  }

  override def counters(): Map[String, Double] = {
    val cands = MinHashDedup.candidatePairs(MinHashDedup.bandSignatures(
      MinHashDedup.signatures(ctx.table("documents")))).count()
    val (_, rounds) = DedupClusters.connectedComponentsWithRounds(pairFrame(lastPairs))
    val (files, bytes) = Ctx.dirStats(idx)
    val (_, inBytes) = Ctx.dirStats(s"${ctx.data}/embeddings.parquet")
    // Rounds until no step's partition count changes any more.
    val plateau = parts.values.map { p =>
      p.indices.find(i => p.drop(i).forall(_ == p.last)).getOrElse(0) + 1
    }.max
    Map("dedup.candidate_pairs" -> cands.toDouble,
      "dedup.pairs_kept" -> lastPairs.length.toDouble,
      "dedup.cc_rounds" -> rounds.toDouble,
      "similarity.probed_rows_per_query" ->
        Ctx.probedRowsPerQuery(spark, idx, queries, nprobe),
      "core.index_files" -> files.toDouble,
      "core.index_bytes_per_input_byte" -> bytes.toDouble / inBytes,
      "tuner.store_runs" -> storeRuns.toDouble,
      "tuner.partitions_last" -> parts.values.last.last.toDouble,
      "tuner.iters_to_plateau" -> plateau.toDouble)
  }
}
