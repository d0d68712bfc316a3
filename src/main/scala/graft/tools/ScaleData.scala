package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic local scale-up of the driver testdata: replicate every
  * fact table `factor`× with per-replica key offsets so join cardinalities
  * and key uniqueness scale linearly, giving the bench a second scale
  * point (~sf1 from sf0.1) to measure scaling exponents against
  * (BENCH_NOTES.md). Dimensions (region, nation) stay fixed, as in TPC-H.
  *
  *   runMain graft.tools.ScaleData /root/testdata/sf0.1 /root/repo/localdata/sf1 10
  *
  * Distribution-preserving tweaks (a naive 10× copy would CHANGE the
  * workload, not scale it):
  *   - documents: replica i > 0 salts every token with "~i", so the
  *     near-dup pair graph becomes 10 disjoint copies of the original —
  *     pair counts scale ~10×; raw duplication would square them (every
  *     doc would gain 9 exact clones and the LSH buckets would fuse).
  *   - embeddings: replica i > 0 flips each dimension's sign by a
  *     deterministic hash of (tag, replica, dimension) — norms and the
  *     within-replica cosine structure are preserved bitwise (sign flips
  *     square to one), replicas stay mutually near-orthogonal, and the
  *     2^64 possible patterns plant no duplicates at any factor or
  *     chaining depth; raw copies would plant N exact duplicates and
  *     distort ANN candidate volume.
  *   - events: event_id/user_id offset (user offset = customer offset so
  *     the stream-static join keys stay aligned); ts kept verbatim as the
  *     raw nanos long (the sink schema stays loadable by Tables.t, and a
  *     10× event rate per hour window is exactly what "the service got
  *     busier" looks like).
  *   - Every other column is copied verbatim: value distributions, date
  *     ranges, group cardinalities (l_returnflag, o_orderstatus, …) keep
  *     their sf0.1 shape.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/localdata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tag = args.lift(3).getOrElse("")
    // Optional 5th arg: csv of table names to expand (default all). A
    // decade whose suite reads only `documents` doesn't need 600 M
    // lineitem rows written first — partial dirs are supported by Bench's
    // scale block (a missing table fails its query loudly with the -1
    // sentinel, never silently).
    val tables = args.lift(4).map(_.split(",").map(_.trim).toSet)
    val spark = graft.core.LocalSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    expand(spark, src, dst, factor, tag, tables)
    spark.stop()
  }

  /** Marker recording the salt tag an expansion was built with, written
    * into every dst dir and consulted when chaining (see the guard in
    * expand). Pre-existing chain dirs built before the marker existed get
    * theirs retro-fitted from the recorded BENCH_NOTES provenance. */
  private val TagMarker = "_scale_tag.txt"

  /** Every table an expansion can write — the src-sanity precondition
    * checks the WANTED subset of these exists before any destructive
    * step (ADVICE r15). */
  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Marker format since round 16 (ADVICE r15): line 1 = tag, line 2 =
    * "factor=N". Pre-r16 markers carry only the tag line; readers treat
    * their factor as unknown. Returns (tag, factor). */
  private def readMarker(f: java.io.File): (String, Option[Int]) = {
    val src = scala.io.Source.fromFile(f)
    val lines = try src.getLines().toList finally src.close()
    val tag = lines.headOption.getOrElse("").trim
    val fac = lines.collectFirst {
      case l if l.trim.startsWith("factor=") =>
        scala.util.Try(l.trim.stripPrefix("factor=").toInt).toOption
    }.flatten
    (tag, fac)
  }

  /** @param tag distinguishes CHAINED expansions' token salts: level-1
    *   replica i salts tokens `t~i`, and a level-2 run over that output
    *   with an empty tag would salt its replica j as `t~j` — colliding
    *   with level-1 replica i = j and planting exact duplicate documents
    *   across the two levels (fused LSH buckets, inflated pair counts).
    *   A sf1→sf10 run passes e.g. "b" so level-2 salts read `t~b3`,
    *   disjoint from every level-1 salt by construction. Since round 14
    *   this is ENFORCED, not advisory: every expansion stamps its tag
    *   into `_scale_tag.txt` in dst, and expanding a marked dir requires
    *   a fresh non-empty tag (a reused tag would not just collide salts —
    *   it would un-flip the embedding sign patterns back to exact
    *   duplicates, since sign flips square to one). The tag feeds
    *   the embedding sign-flip hash the same way, so level-2 sign
    *   patterns are independent of level-1's and chained embeddings stay
    *   duplicate-free (the pre-round-13 cyclic rotation offered only 64
    *   distinct transforms and excluded the embedding family from
    *   chained-dir measurements; the sign-flip transform removed that
    *   caveat).
    *
    *   Byte-inflation caveat (round 12): each salting level LENGTHENS
    *   tokens (~2.7 chars/token per level — measured 7.29 chars/token at
    *   sf1 vs 9.99 at chained sf10, corpus bytes ×13.71 per ×10 docs;
    *   ×13.28 already at the FIRST level, sf0.1→sf1), so byte-bound
    *   operators (per-character explodes, string-heavy projections) read
    *   RAW time-exponents up to ~log10(13.7) = 1.14 when their per-byte
    *   truth is 1.0. Since round 13 the Bench scale block measures the
    *   per-dir corpus chars itself and emits `bytes_factor` +
    *   `exponents_bytes` next to the raw exponents (VERDICT r12 item 3)
    *   — read those for token/byte-bound queries; the deeper
    *   diagnostic (vocab loads, chars/token) is recorded in BENCH_NOTES
    *   "Round 12 — second decade" and bench_evidence/r12_vocab_probe.txt. */
  def expand(s: SparkSession, src: String, dst: String, factor: Int,
      tag: String = "", tables: Option[Set[String]] = None): Unit = {
    // Chained-tag guard (ADVICE r13): expanding a ScaleData OUTPUT with
    // the same tag (e.g. both default "") is worse than the token-salt
    // collision the scaladoc warns about — the embedding sign flips
    // square to one, so level-2 replica j applies level-1 replica j's
    // exact pattern and RESTORES base vectors bitwise, planting exact
    // duplicates. Every dst carries its tag in a marker; chaining off a
    // marked dir requires a fresh non-empty tag.
    val srcMarker = new java.io.File(src, TagMarker)
    if (srcMarker.isFile) {
      val (srcTag, _) = readMarker(srcMarker)
      require(tag.trim.nonEmpty && tag.trim != srcTag,
        s"$src is itself a ScaleData expansion (tag '$srcTag'): chaining " +
          s"with tag '$tag' would replay its token salts and un-flip its " +
          "embedding sign patterns back to exact duplicates — pass a " +
          "distinct non-empty tag")
    }
    // Partial re-expansion guard (ADVICE r14): writing a SUBSET of tables
    // under a new tag into a dst built with a different tag would leave
    // mixed-tag tables behind one marker — the chain guard above would
    // then reason over the wrong tag for the untouched tables. A FULL
    // re-expand legitimately rebrands (every table is rewritten); a
    // partial one must match the tag the dir already carries. A partial
    // into an UNMARKED dir that already holds tables is refused too
    // (round-15 review): pre-marker legacy dirs carry an unknowable tag,
    // so stamping this run's tag over them would vouch for salts it
    // never wrote — full-expand the dir or retrofit its true marker.
    val dstMarker = new java.io.File(dst, TagMarker)
    if (tables.isDefined) {
      if (dstMarker.isFile) {
        val (dstTag, dstFactor) = readMarker(dstMarker)
        require(tag.trim == dstTag,
          s"$dst was expanded with tag '$dstTag': a partial re-expansion " +
            s"(tables=${tables.get.toSeq.sorted.mkString(",")}) with tag " +
            s"'${tag.trim}' would mix salts behind one marker — reuse tag " +
            s"'$dstTag' or rewrite the full dir")
        // Factor must match too (ADVICE r15): a same-tag partial with a
        // DIFFERENT factor passes the tag check but leaves mixed-factor
        // tables (inconsistent key strides / row counts) behind one
        // marker — the same mixed-provenance class. A legacy marker
        // without a factor line can't vouch either way; retrofit it
        // (append "factor=N" with the dir's true factor) or full-expand.
        require(dstFactor.contains(factor),
          dstFactor match {
            case Some(df) =>
              s"$dst was expanded with factor $df: a partial re-expansion " +
                s"with factor $factor would mix key strides behind one " +
                s"marker — reuse factor $df or rewrite the full dir"
            case None =>
              s"$dst's marker carries no factor line (pre-r16 format): a " +
                "partial re-expansion cannot verify stride consistency — " +
                s"retrofit the marker (append 'factor=N' with the dir's " +
                "true factor) or rewrite the full dir"
          })
      } else {
        val existing = Option(new java.io.File(dst).list()).getOrElse(Array.empty)
          .filter(_.endsWith(".parquet"))
        require(existing.isEmpty,
          s"$dst holds tables (${existing.sorted.mkString(",")}) but no " +
            "_scale_tag.txt: a partial re-expansion would stamp tag " +
            s"'${tag.trim}' over salts of unknown tag — full-expand the " +
            "dir or retrofit the marker it was built with")
      }
    }
    def want(name: String): Boolean = tables.forall(_.contains(name))
    // Src sanity BEFORE any destructive step (ADVICE r15): the rebrand
    // invalidation below deletes dst's marker first, so a full re-expand
    // with a typo'd src path used to destroy a valid dir's provenance
    // marker without writing a single table. Every WANTED table must
    // exist under src before the marker is touched; a doomed run now
    // fails here with the dst untouched. (Existence only — a corrupt
    // table still fails mid-run, which is exactly what the
    // invalidate-first pattern below exists for.)
    val missingSrc = AllTables.filter(want)
      .filterNot(n => new java.io.File(src, s"$n.parquet").exists())
    require(missingSrc.isEmpty,
      s"src $src is missing ${missingSrc.mkString(",")} — refusing before " +
        s"touching $dst (a doomed run must not invalidate its marker)")
    // Rebrand invalidation (round-15 review): a FULL re-expand with a new
    // tag spans many long parquet writes; a crash mid-run must not leave
    // the OLD marker vouching for a half-rebranded dir. Delete it first —
    // the fresh marker is re-stamped only after every table lands
    // (same invalidate-first pattern as IndexManifest).
    if (tables.isEmpty && dstMarker.isFile && !dstMarker.delete())
      throw new java.io.IOException(s"could not invalidate $dstMarker before rebrand")
    def rd(name: String): DataFrame = s.read.parquet(s"$src/$name.parquet")
    // Fact tables repartition before write (round 14): the expansion's
    // lineage is narrow (read → explode → project, no shuffle), so the
    // output file count equals the SOURCE's — a single-file documents
    // input stays a single file (= one parquet row group = scan
    // parallelism 1, whatever maxPartitionBytes says) through every
    // chaining level. That starved the sf10→sf100 decade's tokenize
    // stages on 1 core of 32 and read as impossibly sub-linear
    // exponents (bench_evidence/r14_third_decade_*.json, incl. the
    // 4 MB-split control that proved split sizing can't rescue a
    // monolithic row group). 32 files ≈ the generating session's
    // parallelism; dims keep their verbatim single file.
    def wr(df: DataFrame, name: String, parts: Int = 32): Unit =
      (if (parts > 1) df.repartition(parts) else df)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    def keyStride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L
    // Replica index column: every source row appears once per replica.
    // Cast in a second projection — a generator cannot be nested inside
    // another expression (UNSUPPORTED_GENERATOR.NESTED_IN_EXPRESSIONS).
    def reps(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("rep", col("rep").cast("long"))
    def off(key: String, stride: Long) = col(key) + col("rep") * lit(stride)

    // Dims: fixed, verbatim (TPC-H keeps nation/region constant across sf).
    if (want("region")) wr(rd("region"), "region", 1)
    if (want("nation")) wr(rd("nation"), "nation", 1)

    // Strides are lazy so a partial expansion (tables given) never reads
    // the tables it isn't writing.
    lazy val ck = keyStride(rd("customer"), "c_custkey")
    lazy val ok = keyStride(rd("orders"), "o_orderkey")
    lazy val pk = keyStride(rd("part"), "p_partkey")
    lazy val sk = keyStride(rd("supplier"), "s_suppkey")

    if (want("customer"))
      wr(reps(rd("customer")).withColumn("c_custkey", off("c_custkey", ck))
        .drop("rep"), "customer")
    if (want("supplier"))
      wr(reps(rd("supplier")).withColumn("s_suppkey", off("s_suppkey", sk))
        .drop("rep"), "supplier")
    if (want("part"))
      wr(reps(rd("part")).withColumn("p_partkey", off("p_partkey", pk))
        .drop("rep"), "part")
    if (want("orders"))
      wr(reps(rd("orders"))
        .withColumn("o_orderkey", off("o_orderkey", ok))
        .withColumn("o_custkey", off("o_custkey", ck))
        .drop("rep"), "orders")
    if (want("lineitem"))
      wr(reps(rd("lineitem"))
        .withColumn("l_orderkey", off("l_orderkey", ok))
        .withColumn("l_partkey", off("l_partkey", pk))
        .withColumn("l_suppkey", off("l_suppkey", sk))
        .drop("rep"), "lineitem")

    // events: written as TIMESTAMP micros (ts div 1000 — the same ns→µs
    // truncation Tables.t and DuckDB both apply to the driver fixture's
    // TIMESTAMP(NANOS) column), so DuckDB types the scaled table as
    // TIMESTAMP and the events-family oracles hash-match at sf1+ (the r06
    // raw-INT64 layout read as BIGINT and excluded the whole family from
    // the scale-correctness evidence). Tables.t branches on the read
    // dtype, so both layouts stay loadable. Conf restored afterward —
    // expand() also runs on shared test sessions, where leaving
    // nanosAsLong set would change how a later plain spark.read sees
    // events.parquet.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = s.conf.getOption(nanosKey)
    if (want("events")) {
    s.conf.set(nanosKey, "true")
    try {
      // Normalize whatever layout the source carries (nanos-long, NTZ µs,
      // or already-UTC µs) to TIMESTAMP so the scaled write is always the
      // UTC-flagged layout DuckDB oracles directly.
      val ev = graft.core.Tables.normEventTs(
        s.read.parquet(s"$src/events.parquet"))
      val ek = keyStride(ev, "event_id")
      wr(reps(ev)
        .withColumn("event_id", off("event_id", ek))
        .withColumn("user_id", off("user_id", ck)) // joins c_custkey
        .drop("rep"), "events")
    } finally prevNanos match {
      case Some(v) => s.conf.set(nanosKey, v)
      case None => s.conf.unset(nanosKey)
    }
    }

    if (want("documents")) {
    val docs = rd("documents")
    val dk = keyStride(docs, "doc_id")
    val salted = when(col("rep") === 0, col("text")).otherwise(
      concat_ws(" ", transform(split(col("text"), " "),
        t => when(t === "", t).otherwise(concat(t, lit("~" + tag), col("rep"))))))
    wr(reps(docs)
      .withColumn("doc_id", off("doc_id", dk))
      .withColumn("text", salted)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"), "documents")
    }

    if (want("embeddings")) {
    val emb = rd("embeddings")
    val vk = keyStride(emb, "vec_id")
    // Replica i ≠ 0 flips each dimension's sign by a deterministic hash of
    // (tag, replica, dimension). Sign flips are exact in IEEE float, and
    // they square to one, so every within-replica dot product — and hence
    // every norm and cosine — is preserved TERM FOR TERM (bitwise-equal
    // accumulation), while cross-replica dot products are sign-modulated
    // (near-orthogonal in expectation): replicas never fuse into the same
    // near-dup neighborhoods. Unlike the previous 64-position cyclic
    // rotation (which offered only 64 distinct transforms and planted
    // exact duplicates past 64 replicas — the "embedding family excluded
    // from chained dirs" caveat in BENCH_NOTES through round 13), the
    // 2^64 possible sign patterns make collisions impossible in practice
    // at any chaining depth; the tag feeds the hash so level-2 patterns
    // are independent of level-1's (same mechanism as the token salt).
    // ScaleDataSpec asserts both invariants: bitwise-preserved
    // within-replica cosines, and zero duplicate vectors across a chained
    // expansion.
    val flipSign = (d: Column) =>
      lit(1.0f) - lit(2.0f) * pmod(xxhash64(lit(tag), col("rep"), d), lit(2L)).cast("float")
    val flipped = when(col("rep") === 0, col("embedding")).otherwise(
      transform(col("embedding"), (x, d) => x * flipSign(d)))
    wr(reps(emb)
      .withColumn("vec_id", off("vec_id", vk))
      .withColumn("embedding", flipped)
      .drop("rep"), "embeddings")
    }

    // Stamp the expansion's tag AND factor so a future chaining or
    // partial run off this dir hits the guards above. Written last — a
    // marker on a half-written dir would vouch for data that isn't there.
    val dstDir = new java.io.File(dst)
    dstDir.mkdirs()
    val mw = new java.io.PrintWriter(new java.io.File(dstDir, TagMarker))
    try mw.print(s"${tag.trim}\nfactor=$factor") finally mw.close()
  }
}
