package graft

import org.apache.spark.sql.functions._
import graft.checks.{Drift, Referential, Stats, Uniqueness}
import graft.gen.TokenData

/** Distributed checks vs brute-force truth on small in-memory data. */
class ChecksSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private lazy val toks: DataFrame = TokenData.tokenTable(spark, 5000, 4).cache()

  /** The HLL pre-filter as ValidateJob runs it: observed on the input of
    * the exact salted pass.
    */
  private def prefilter(df: DataFrame, rsd: Double = 0.01): Uniqueness.HllVerdict = {
    val (keys, verdict) = Uniqueness.observePrefilter(df, "doc_id", rsd)
    Uniqueness.duplicateKeys(keys, "doc_id").write.format("noop").mode("overwrite").save()
    verdict()
  }

  test("salted duplicate keys == brute-force duplicate set") {
    val salted = Uniqueness.duplicateKeys(toks, "doc_id", salt = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val brute = toks.groupBy("doc_id").count().filter(col("count") > 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == brute)
    assert(salted.nonEmpty, "generator must inject duplicates")
  }

  test("HLL prefilter flags duplicate presence and respects bounds") {
    val v = prefilter(toks)
    assert(v.rows == 5000)
    // ~14 injected dups at 5000 rows; estimate must be within 5% of truth
    val exact = toks.select(countDistinct("doc_id")).head().getLong(0)
    assert(math.abs(v.approxDistinct - exact).toDouble / exact < 0.05)
  }

  test("HLL prefilter certifies a clean table") {
    val clean = spark.range(10000).selectExpr("cast(id as string) as doc_id")
    val v = prefilter(clean)
    assert(!v.mayHaveDups || v.approxDistinct >= 9800) // no false certainty
  }

  test("HLL prefilter: 200k distinct keys within 3·rsd; 5% injected duplicates set mayHaveDups") {
    val rsd = 0.01
    val keys = spark.range(200000).selectExpr("concat('doc-', cast(id as string)) as doc_id")
    val clean = prefilter(keys, rsd)
    assert(clean.rows == 200000)
    assert(math.abs(clean.approxDistinct - 200000).toDouble / 200000 <= 3 * rsd,
      s"estimate ${clean.approxDistinct} vs 200000")
    assert(!clean.mayHaveDups, s"clean keys flagged: $clean")
    // 5% of the rows repeat an existing key: 200k rows, 190k distinct
    val dupd = keys.filter("cast(substr(doc_id, 5) as long) < 190000")
      .union(spark.range(10000).selectExpr("concat('doc-', cast(id as string)) as doc_id"))
    val v = prefilter(dupd, rsd)
    assert(v.rows == 200000)
    assert(math.abs(v.approxDistinct - 190000).toDouble / 190000 <= 3 * rsd,
      s"estimate ${v.approxDistinct} vs 190000")
    assert(v.mayHaveDups, s"5% duplicates not flagged: $v")
  }

  test("referential broadcast anti-join finds exactly the bad sources") {
    val dim = TokenData.allowedSources(spark)
    val bad = Referential.violations(toks, dim)
    val badSources = bad.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(badSources == Set("spam"))
    val expected = toks.filter(col("source") === "spam").count()
    assert(bad.count() == expected)
  }

  test("salted shuffle join == broadcast anti-join") {
    val dim = TokenData.allowedSources(spark)
    val a = Referential.violations(toks, dim).select("doc_id").collect().map(_.getString(0)).toSet
    val b = Referential.saltedJoinViolations(toks, dim).select("doc_id").collect().map(_.getString(0)).toSet
    assert(a == b)
  }

  test("salted source counts == plain groupBy counts") {
    val salted = Referential.saltedSourceCounts(toks)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val plain = toks.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
  }

  test("profile exact stats match brute force") {
    val p = Stats.profile(toks).head()
    assert(p.getAs[Long]("n_rows") == 5000)
    assert(p.getAs[Int]("token_min") == -5)      // injected k=0
    assert(p.getAs[Int]("token_max") == 300000)  // injected k=1
    assert(p.getAs[Int]("doc_id_len_min") == 1)  // injected "x"
    val totalToks = toks.select(sum(size(col("tokens")))).head().getLong(0)
    assert(p.getAs[Long]("total_tokens") == totalToks)
  }

  test("PSI of a table against itself is zero; KS of itself is zero") {
    val snap = s"/tmp/graft-test-snap-${System.nanoTime()}"
    Drift.writeSnapshot(toks, snap)
    val snapshot = spark.read.parquet(snap)
    assert(Drift.psiSourceMix(toks, snapshot).head().getDouble(0) == 0.0)
    assert(Drift.ksBinned(toks, snapshot).head().getDouble(0) == 0.0)
  }

  test("PSI detects a shifted source mix; KS detects a shifted n_tok") {
    val snap = s"/tmp/graft-test-snap2-${System.nanoTime()}"
    Drift.writeSnapshot(toks, snap)
    val snapshot = spark.read.parquet(snap)
    val shifted = toks.withColumn("source",
      when(col("source") === "web", lit("books")).otherwise(col("source")))
    assert(Drift.psiSourceMix(shifted, snapshot).head().getDouble(0) > 0.5)
    val longer = toks.withColumn("n_tok", col("n_tok") + 100)
    assert(Drift.ksBinned(longer, snapshot).head().getDouble(0) > 0.15)
  }

  test("sketch profile: HLL distincts within 3 rsd, quantiles within the sketches' rank error") {
    val r = Stats.sketchProfile(toks).head()
    // the HLL sketch at rsd 0.01: within 3·rsd of the exact count
    for (c <- Seq("doc_id", "source")) {
      val exact = toks.select(countDistinct(c)).head().getLong(0)
      val approx = r.getAs[Long](s"${c}_approx_distinct")
      assert(math.abs(approx - exact).toDouble / exact <= 0.03, s"$c: approx $approx vs exact $exact")
    }
    // a value q answers quantile p within rank error eps when
    // rank(< q) - eps <= p <= rank(<= q) + eps (tie-aware: n_tok repeats)
    val xs = toks.select("n_tok").collect().map(_.getInt(0))
    def withinRank(q: Double, p: Double, eps: Double): Boolean =
      xs.count(_ < q).toDouble / xs.length - eps <= p && p <= xs.count(_ <= q).toDouble / xs.length + eps
    val ps = Seq(0.5, 0.9, 0.99)
    // percentile_approx at accuracy 10000: rank error 1/accuracy
    for ((p, q) <- ps.zip(r.getAs[Seq[Int]]("n_tok_p50_p90_p99")))
      assert(withinRank(q, p, 1.0 / 10000), s"percentile_approx p=$p gave $q")
    // t-digest at k=200: the 2% rank error SketchSpec pins
    for ((p, q) <- ps.zip(r.getAs[Seq[Double]]("n_tok_td_p50_p90_p99")))
      assert(withinRank(q, p, 0.02), s"t-digest p=$p gave $q")
  }

  test("token vocab approx within 5% of exact") {
    val approx = Stats.tokenVocabApprox(toks).head().getLong(0)
    val exact = toks.select(explode(col("tokens")).as("t")).select(countDistinct("t")).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  /** Driver-side truth for the TokenFreq family: exploded (source,
    * token) -> count map computed in plain Scala.
    */
  private lazy val bruteCounts: Map[(String, Int), Long] =
    toks.select(col("source"), col("tokens")).collect()
      .flatMap(r => r.getSeq[Int](1).map(t => (r.getString(0), t)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }

  test("tokenTopk == brute-force per-source top-10 (cnt desc, token asc)") {
    val got = graft.checks.TokenFreq.topK(toks, 10).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val exp = bruteCounts.toSeq.groupBy(_._1._1).toSeq.flatMap { case (src, kvs) =>
      kvs.map { case ((_, tok), c) => (tok, c) }
        .sortBy { case (tok, c) => (-c, tok) }.take(10).zipWithIndex
        .map { case ((tok, c), i) => (src, tok, c, i + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(got.toSeq === exp)
  }

  test("vocabCoverage == brute-force totals / distinct / oov per source") {
    val vocab = TokenData.VOCAB
    val got = graft.checks.TokenFreq.vocabCoverage(toks, vocab).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val exp = bruteCounts.toSeq.groupBy(_._1._1).map { case (src, kvs) =>
      val total = kvs.map(_._2).sum
      val distinct = kvs.size.toLong
      val oov = kvs.collect { case ((_, t), c) if t < 0 || t >= vocab => c }.sum
      // coverage counts IN-VOCAB distinct ids only (OOV ids are not
      // vocabulary entries and must not push coverage past 1.0)
      val inVocab = kvs.count { case ((_, t), _) => t >= 0 && t < vocab }.toLong
      src -> ((total, distinct, oov, inVocab.toDouble / vocab))
    }
    assert(got === exp)
  }

  test("cmsTopkEst: est >= cnt everywhere, exact where the bucket is pure; probes broadcast") {
    val q = graft.checks.TokenFreq.cmsTopkEst(toks, 3)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$plan")
    val rows = q.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))
    val nSources = toks.select("source").distinct().count()
    assert(rows.length === nSources * 3)
    rows.foreach { case (src, tok, cnt, est, over, _) =>
      assert(bruteCounts((src, tok)) === cnt, s"probe cnt $src/$tok")
      assert(est >= cnt && over === est - cnt, s"CMS one-sided bound violated at $src/$tok")
    }
    // recompute one probe's estimate by hand: bucket sums over the
    // exact counts with the same split-md5 bucket hashes
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(tok: Int, d: Int): Long =
      java.lang.Long.parseLong(md5hex(tok.toString).slice(8 * d, 8 * d + 8), 16) % 1024L
    val (src0, tok0, _, est0, _, _) = rows.minBy(t => (t._1, t._6))
    val expEst = (0 to 1).map { d =>
      val b = bucket(tok0, d)
      bruteCounts.collect { case ((s, t), c) if s == src0 && bucket(t, d) == b => c }.sum
    }.min
    assert(est0 === expEst, s"hand-recomputed CMS estimate for $src0/$tok0")
  }

  test("rare tokens: bottom-decile threshold and per-source fractions match brute force") {
    val q = graft.checks.TokenFreq.rareTokens(toks)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"rare set must broadcast into the scan:\n$plan")
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    val rows = toks.select("source", "tokens").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1)))
    val counts = rows.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nvocab = counts.size.toLong
    val k = (nvocab + 9) / 10
    // smallest count value whose cumulative id coverage reaches ceil(nvocab/10)
    val sortedCnts = counts.values.toSeq.sorted
    val thr = sortedCnts(k.toInt - 1)
    val rareSet = counts.collect { case (t, c) if c <= thr => t }.toSet
    val expected = rows.groupBy(_._1).map { case (src, ds) =>
      val all = ds.flatMap(_._2)
      val nRare = all.count(rareSet.contains).toLong
      src -> ((all.length.toLong, nRare,
        BigDecimal(nRare.toDouble / all.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        all.filter(rareSet.contains).distinct.length.toLong, thr))
    }
    assert(got === expected)
    assert(rareSet.nonEmpty && rareSet.size >= (nvocab / 10).toInt,
      "threshold must cover at least a decile of the vocab")
  }

  test("token drift KS: per-source bucket-histogram distance matches brute force") {
    val got = graft.checks.TokenFreq.tokenDriftKS(toks, 64).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = toks.select("source", "tokens").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1).map(t => ((t % 64) + 64) % 64)))
    val corpus = rows.flatMap(_._2)
    val ctot = corpus.length.toDouble
    val ccdf = (0 until 64).map(b => corpus.count(_ <= b) / ctot)
    // evaluate at EVERY corpus bucket: the source CDF is a step
    // function that holds its value across buckets the source skips
    val evalAt = corpus.distinct.sorted
    val expected = rows.groupBy(_._1).map { case (src, ds) =>
      val bs = ds.flatMap(_._2)
      val tot = bs.length.toDouble
      val d = evalAt.map(b => math.abs(bs.count(_ <= b) / tot - ccdf(b))).max
      src -> BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { case (src, ks) =>
      assert(math.abs(ks - expected(src)) < 1e-9, s"$src ks=$ks vs ${expected(src)}")
      assert(ks >= 0.0 && ks <= 1.0)
    }
    assert(got.keySet === expected.keySet)
  }

  test("token drift KS: source with empty buckets is not underestimated") {
    import spark.implicits._
    // A source concentrated in the top bucket against a near-uniform
    // corpus: its CDF is 0 up to bucket 62 while the corpus CDF is
    // ~0.969 there, so true KS ≈ 0.969. An evaluation restricted to
    // the source's PRESENT buckets sees only bucket 63, where both
    // CDFs are 1.0, and would misreport KS = 0 (round-4 review).
    val uni = (0 until 6400).map(i => ("u" + i, Seq(i % 64), "uniform"))
    val top = (0 until 100).map(i => ("t" + i, Seq(63), "topheavy"))
    val df = (uni ++ top).toDF("doc_id", "tokens", "source")
    val got = graft.checks.TokenFreq.tokenDriftKS(df, 64).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expectedTop = 6300.0 / 6500.0 // corpus CDF at bucket 62, source CDF 0
    assert(math.abs(got("topheavy") - BigDecimal(expectedTop)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"topheavy ks=${got("topheavy")} vs $expectedTop")
    assert(got.keySet === Set("uniform", "topheavy"))
  }

  test("chunk windows: materialized slices match a driver-side recompute; one shuffle") {
    val dir = "/root/testdata/sf0.001"
    val q = ValidationQueries.chunkWindows(spark, dir)
    val plan = q.queryExecution.executedPlan.toString()
    assert("Exchange".r.findAllIn(plan).length === 1,
      s"chunking must be generate + one rollup:\n$plan")
    val got = q.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        // content_checksum is an exact digit string (DECIMAL(38,0)
        // accumulator — long wraps at the design scale)
        r.getString(4).toLong))).toMap
    val (wSz, st) = (ValidationQueries.ChunkW, ValidationQueries.ChunkS)
    val rows = TokenData.read(spark, dir).select("source", "tokens").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1)))
    val expected = rows.groupBy(_._1).map { case (src, ds) =>
      val wnds = ds.toSeq.flatMap { case (_, ts) =>
        (0 until ts.length by st).map(s0 => ts.slice(s0, s0 + wSz)) }
      src -> ((wnds.length.toLong, wnds.count(_.length == wSz).toLong,
        wnds.map(_.length.toLong).sum,
        wnds.map(w => w.zipWithIndex.map { case (t, i) => (i + 1).toLong * t }.sum).sum))
    }
    assert(got === expected)
    // the token table has rows where size % stride != 0 -> partial tails
    assert(got.values.exists(v => v._1 > v._2), "expected some partial windows")
  }

  test("suggest suite: suggested keywords reproduce the observed profile exactly") {
    val dir = "/root/testdata/sf0.001"
    val got = ValidationQueries.suggestSuite(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val rows = TokenData.read(spark, dir)
      .select("doc_id", "n_tok", "tokens", "source").collect()
    val ids = rows.map(_.getString(0)).filter(_ != null)
    val ntoks = rows.map(_.getInt(1))
    val sizes = rows.map(_.getSeq[Int](2).length)
    val elems = rows.flatMap(_.getSeq[Int](2))
    val srcs = rows.map(_.getString(3)).filter(_ != null).distinct.sorted
    assert(got(("doc_id", "required")) === (if (ids.length == rows.length) "true" else "false"))
    assert(got(("doc_id", "minLength")) === ids.map(_.length).min.toString)
    assert(got(("doc_id", "maxLength")) === ids.map(_.length).max.toString)
    assert(got(("n_tok", "minimum")) === ntoks.min.toString)
    assert(got(("n_tok", "maximum")) === ntoks.max.toString)
    assert(got(("tokens", "minItems")) === sizes.min.toString)
    assert(got(("tokens", "maxItems")) === sizes.max.toString)
    assert(got(("tokens.items", "minimum")) === elems.min.toString)
    assert(got(("tokens.items", "maximum")) === elems.max.toString)
    assert(got(("source", "enum")) === srcs.mkString(","))
    // the suggestions load as a real suite: every row passes its own
    // observed-bounds constraints (closing the profile -> suite loop)
    import graft.suite.{Constraint, FieldConstraint, Suite}
    val sug = Suite("suggested", Seq(
      FieldConstraint("n_tok.min", "n_tok",
        Constraint.Minimum(got(("n_tok", "minimum")).toDouble)),
      FieldConstraint("n_tok.max", "n_tok",
        Constraint.Maximum(got(("n_tok", "maximum")).toDouble)),
      FieldConstraint("tokens.minItems", "tokens",
        Constraint.MinItems(got(("tokens", "minItems")).toInt)),
      FieldConstraint("source.enum", "source", Constraint.Enum(srcs.toSeq))))
    val fails = graft.compilex.ConstraintCompiler
      .failCounts(TokenData.read(spark, dir), sug)
      .agg(sum("fails")).head().getLong(0)
    assert(fails === 0L, "data must satisfy its own suggested constraints")
  }

  test("formatProbe: one scan + agg-only plan; counts match driver-side recompute") {
    val dir = "/root/testdata/sf0.001"
    val df = ValidationQueries.formatProbe(spark, dir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"pure projection + agg expected:\n$plan")
    // driver-side recompute of the closed-form variants: email is valid
    // iff the probe carries '@' (n_tok%3 != 1), uuid iff the variant is
    // base/tail-dashed/uppercase (n_tok%5 in {0,3,4})
    val nt = TokenData.read(spark, dir).select("n_tok")
      .collect().map(_.getInt(0))
    val got = df.agg(sum("n_email"), sum("n_uuid")).head()
    assert(got.getLong(0) === nt.count(_ % 3 != 1).toLong)
    assert(got.getLong(1) === nt.count(n => Set(0, 3, 4)(n % 5)).toLong)
  }
}
