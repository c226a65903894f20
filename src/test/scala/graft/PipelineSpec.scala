package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Ann, Multimodal, TextOps}

/** Pipeline operators: ANN recall, multimodal plumbing, text-op
  * properties (MinHash≈Jaccard, SimHash locality), plan quality
  * (pushdown, broadcast).
  */
class PipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  test("IVF ANN: recall@5 >= 0.5 with 4/16 probes and all vectors bucketed") {
    val assigned = Ann.ivfAssign(emb, 16)
    assert(assigned.count() == emb.count(), "every vector must land in exactly one bucket")
    val r = Ann.ivfSearchWithRecall(emb, nQueries = 20, k = 16, nProbe = 4, topK = 5).head()
    assert(r.getAs[Long]("n_queries") == 20)
    val recall = r.getAs[Double]("recall_at_k")
    assert(recall >= 0.5 && recall <= 1.0, s"recall=$recall")
    // more probes -> recall must not decrease
    val r8 = Ann.ivfSearchWithRecall(emb, 20, 16, 8, 5).head().getAs[Double]("recall_at_k")
    assert(r8 >= recall)
  }

  test("IVF k-means refinement: deterministic centroids, sane recall") {
    val refined = Ann.kmeansCentroids(emb, 16, 2)
    val again = Ann.kmeansCentroids(emb, 16, 2)
    assert(refined.map(_._2).toSeq == again.map(_._2).toSeq,
      "Lloyd refinement must be bit-stable across runs")
    assert(refined.map(_._2.length).distinct.toSeq == Seq(64))
    val r = Ann.ivfSearchWithRecall(emb, 20, 16, 4, 5, refineIters = 2).head()
    assert(r.getAs[Long]("n_queries") == 20)
    val rec = r.getAs[Double]("recall_at_k")
    assert(rec >= 0.5 && rec <= 1.0, s"refined recall=$rec")
  }

  test("multimodal: typed mapPartitions feature extraction is deterministic and batched") {
    val media = Multimodal.asMediaTable(docs)
    val feats = Multimodal.extractFeatures(spark, media)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.feature.length == 8))
    assert(rows.forall(r => r.feature.forall(f => f >= 0f && f <= 1f)))
    // digest matches the SQL-side md5 (the oracle-checked path)
    val sqlDigest = docs.select(col("doc_id").cast("long"), md5(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.forall(r => sqlDigest(r.doc_id) == r.digest))
    // determinism across runs
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(rows.map(_.feature.toSeq).toSet == again.map(_.feature.toSeq).toSet)
  }

  test("multimodal resize: fixed-size thumbnail contract, one row per input, narrow plan") {
    val media = Multimodal.asMediaTable(docs)
    val thumbs = Multimodal.resizeAll(spark, media, 16, 12)
    val plan = thumbs.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"resize must stay narrow:\n$plan")
    val rows = thumbs.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(t => t.width == 16 && t.height == 12 && t.thumb.length == 16 * 12))
    // deterministic: same payload -> same thumbnail bytes
    val again = Multimodal.resizeAll(spark, media, 16, 12).collect()
      .map(t => t.doc_id -> t.thumb.toSeq).toMap
    assert(rows.forall(t => again(t.doc_id) == t.thumb.toSeq))
  }

  test("multimodal frame sampling: 1->N lazy expansion, stride honored, narrow plan") {
    val media = Multimodal.asMediaTable(docs)
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 64, stride = 4)
    val plan = frames.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"frame sampling must stay narrow:\n$plan")
    val got = frames.collect().groupBy(_.doc_id)
    val sizes = docs.select(col("doc_id").cast("long"), length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    sizes.foreach { case (id, n) =>
      val nFrames = n / 64
      val expected = (0 until nFrames by 4).toSeq
      val gotIdx = got.getOrElse(id, Array.empty).map(_.frame_idx).sorted.toSeq
      assert(gotIdx == expected, s"doc $id: $gotIdx vs $expected")
    }
    assert(got.values.exists(_.length > 1), "expected multi-frame docs at this size")
    // frame features are frame-local: two different frames of one doc differ
    val multi = got.values.find(_.length > 1).get
    assert(multi.map(_.feature.toSeq).distinct.length > 1)
  }

  test("MinHash signature equality rate approximates Jaccard similarity") {
    import spark.implicits._
    // construct docs with known overlap: A vs B share half their shingle space
    val base = (0 until 200).map(i => s"w$i").mkString(" ")
    val half = ((0 until 100) ++ (300 until 400)).map(i => s"w$i").mkString(" ")
    val df = Seq(("A", base), ("B", half), ("C", base)).toDF("id", "text")
      .withColumn("_sh", TextOps.shingleHashes(col("text")))
    val sigs = df.select(col("id") +: (0 until 8).map(i => TextOps.minhash(col("_sh"), i).as(s"mh$i")): _*)
      .collect().map(r => r.getString(0) -> (1 to 8).map(r.getLong)).toMap
    // identical docs -> identical signatures
    assert(sigs("A") == sigs("C"))
    // ~half-overlapping docs -> some but not all matches is expected;
    // at k=8 just assert it differs from both extremes
    val agree = sigs("A").zip(sigs("B")).count { case (x, y) => x == y }
    assert(agree < 8, "distinct docs must not collide on the full signature")
  }

  test("SimHash locality: editing one word flips few bits; unrelated text flips many") {
    import spark.implicits._
    val a = (0 until 60).map(i => s"tok$i").mkString(" ")
    val b = (0 until 59).map(i => s"tok$i").mkString(" ") + " CHANGED"
    val c = (100 until 160).map(i => s"other$i").mkString(" ")
    val df = Seq(("a", a), ("b", b), ("c", c)).toDF("id", "text")
      .select(col("id"), TextOps.simhash16(col("text")).as("sh"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a"), m("b")) <= ham(m("a"), m("c")),
      s"near-dup hamming ${ham(m("a"), m("b"))} must be <= unrelated ${ham(m("a"), m("c"))}")
  }

  test("hyperplane LSH locality: perturbed vector keeps most sig bits; unrelated differs more") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val far = Array.fill(64)(rnd.nextGaussian().toFloat)
    val planes = graft.pipeline.Ann.hyperplanes(16, 64)
    val df = Seq(("base", base.toSeq), ("near", near.toSeq), ("far", far.toSeq))
      .toDF("id", "embedding")
      .select(col("id"), graft.pipeline.Ann.hyperplaneSig(col("embedding"), planes).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    def ham(a: Int, b: Int) = Integer.bitCount(a ^ b)
    assert(ham(m("base"), m("near")) <= 2,
      s"near-dup must share almost all bits, hamming=${ham(m("base"), m("near"))}")
    assert(ham(m("base"), m("near")) < ham(m("base"), m("far")),
      s"near ${ham(m("base"), m("near"))} must beat far ${ham(m("base"), m("far"))}")
  }

  test("LSH skew guard: a degenerate boilerplate corpus stays bounded, truncation is visible") {
    import spark.implicits._
    // 1000 near-identical docs (shared boilerplate text => ONE shared
    // band signature per band): without the bucket cap the within-bucket
    // join is ~1000² per band (~2M candidate pairs) — the scale-killer
    // the guard exists for (round-2 VERDICT item 4)
    val boiler = (0 until 40).map(i => s"term$i").mkString(" ")
    val degenerate = (0 until 1000).map(i => (s"dup-$i", boiler))
    // plus a small legitimate near-dup pair in its own tiny bucket
    val pairText = (100 until 140).map(i => s"uniq$i").mkString(" ")
    val d = (degenerate ++ Seq(("pair-a", pairText), ("pair-b", pairText)))
      .toDF("doc_id", "text")
    val long = PipelineQueries.lshLongFrom(d)
    val pairs = PipelineQueries.lshPairsFrom(d, cap = 64).collect()
    // the degenerate bucket is excluded wholesale: no dup-* pair survives,
    // the small bucket still yields its pair — bounded, not silent
    assert(!pairs.exists(r => r.getString(0).startsWith("dup-")),
      "over-cap bucket must not generate pairs")
    assert(pairs.exists(r => r.getString(0) == "pair-a" && r.getString(1) == "pair-b"),
      "under-cap buckets must still pair")
    // the truncation ledger names every dropped bucket with its size
    val dropped = PipelineQueries.lshOversizedFrom(long, cap = 64).collect()
    assert(dropped.length == 4, s"one oversized bucket per band, got ${dropped.length}")
    assert(dropped.forall(_.getAs[Long]("n_docs") == 1000L))
  }

  test("banded hyperplane LSH: near-dup shares a full band signature, unrelated shares none") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.map(x => x + 0.005f * rnd.nextGaussian().toFloat)
    val far = Array.fill(64)(rnd.nextGaussian().toFloat)
    val df = Seq(("base", base.toSeq), ("near", near.toSeq), ("far", far.toSeq))
      .toDF("id", "embedding")
      .select(col("id"), Ann.bandedHyperplaneSigs(col("embedding"), 64,
        PipelineQueries.NeardupBands, PipelineQueries.NeardupBits).as("sigs"))
    val m = df.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))).toMap
    def shared(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(shared(m("base"), m("near")) >= 1,
      s"near-dup must match at least one of ${PipelineQueries.NeardupBands} bands exactly")
    assert(shared(m("base"), m("far")) == 0,
      "unrelated vector must not share a full 10-bit band signature")
  }

  test("plan quality: filters and column pruning reach the parquet scan") {
    val df = RelationalQueries.pushdownScan(spark, dir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"expected pushed filters in:\n$plan")
    // only the two needed columns are read
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double") ||
      plan.contains("ReadSchema: struct<l_extendedprice:double,l_quantity:double"),
      s"expected pruned read schema in:\n$plan")
  }

  test("plan quality: dimension joins broadcast, no shuffle of the fact side") {
    val df = RelationalQueries.joinRevenueByNation(spark, dir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dims must not sort-merge:\n$plan")
  }

  test("plan quality: referential anti-join broadcasts the dim") {
    val toks = graft.gen.TokenData.tokenTable(spark, 1000, 2)
    val dim = graft.gen.TokenData.allowedSources(spark)
    val plan = graft.checks.Referential.violations(toks, dim)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("sampled knnLabelPurity: query side broadcast; agrees with the exact sweep on its qids") {
    // round-3 VERDICT item 6: the full leave-one-out n² crossJoin is a
    // test-scale baseline; the sampled variant must (a) BROADCAST the
    // bounded query side so the corpus never shuffles, (b) equal the
    // exact variant restricted to the same query set
    val sampled = PipelineQueries.knnLabelPurity(spark, dir, nQueries = 8)
    val plan = sampled.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n$plan")
    // truth: same pipeline with the query set filtered the slow way
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val qids = e.select(col("vec_id")).orderBy(col("vec_id")).limit(8)
      .collect().map(_.getLong(0)).toSet
    val a = e.select(col("vec_id").as("qid"), col("embedding").as("qv"), col("label").as("qlabel"))
      .filter(col("qid").isin(qids.toSeq: _*))
    val cos = round(graft.functions.CosineSim.cosine_sim(col("qv"), col("embedding")), 4)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    val truth = e.crossJoin(a).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("label"), col("vec_id"), cos.as("cos"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy(col("qlabel"))
      .agg(round(avg((col("label") === col("qlabel")).cast("double")), 6).as("purity"),
        count(lit(1)).as("n_neighbors"))
    assert(sampled.collect().map(_.toString).sorted.toSeq ===
      truth.collect().map(_.toString).sorted.toSeq)
  }

  test("connected components: chains, merges, and singleton pairs resolve to min-id clusters") {
    import spark.implicits._
    // a 12-node CHAIN (diameter 11 — one-hop label propagation would
    // need 11 rounds; large-star/small-star must do it in O(log n)),
    // a triangle merging with the chain's tail via a bridge, and an
    // isolated pair
    val chain = (0 until 11).map(i => (f"c$i%02d", f"c${i + 1}%02d"))
    val tri = Seq(("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("c11", "t1"))
    val pair = Seq(("p9", "p8"))
    val edges = (chain ++ tri ++ pair).toDF("a", "b")
    val got = graft.pipeline.ConnectedComponents.components(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val chainAndTri = ((0 to 11).map(i => f"c$i%02d") ++ Seq("t1", "t2", "t3"))
    chainAndTri.foreach(n => assert(got(n) == "c00", s"$n -> ${got(n)}"))
    assert(got("p8") == "p8" && got("p9") == "p8")
    assert(got.size == chainAndTri.size + 2)
  }

  test("connected components: duplicate/reversed/self edges tolerated; empty graph is empty") {
    import spark.implicits._
    val edges = Seq(("b", "a"), ("a", "b"), ("a", "a"), ("b", "a")).toDF("x", "y")
    val got = graft.pipeline.ConnectedComponents.components(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("a" -> "a", "b" -> "a"))
    val empty = graft.pipeline.ConnectedComponents.components(
      Seq.empty[(String, String)].toDF("x", "y"))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("node", "component"))
  }

  test("connected components: self-loop-only nodes survive as singleton components") {
    import spark.implicits._
    // node "c" appears ONLY in a self-loop — the doc contract is one
    // row per node in ANY edge, so it must come back as its own
    // singleton, not vanish (round-4 review)
    val edges = Seq(("a", "b"), ("c", "c")).toDF("x", "y")
    val got = graft.pipeline.ConnectedComponents.components(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("a" -> "a", "b" -> "a", "c" -> "c"))
  }

  test("fingerprint: whitespace-only differences do not change document identity") {
    import spark.implicits._
    val df = Seq(("1", "hello world"), ("2", "hello world "), ("3", " hello  world"),
      ("4", "hello worlds")).toDF("id", "text")
    val fp = df.select(col("id"), graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("1") == fp("2") && fp("1") == fp("3"),
      s"padding variants must share a fingerprint: $fp")
    assert(fp("1") != fp("4"), "distinct words must differ")
  }

  test("hyperplane signature: embedding/plane dim mismatch raises, never bucket-collapses") {
    import spark.implicits._
    val planes = graft.pipeline.Ann.hyperplanes(8, 4)
    val bad = Seq((1L, Seq(0.1f, 0.2f))).toDF("id", "embedding")
    val e = intercept[Exception] {
      bad.select(graft.pipeline.Ann.hyperplaneSig(col("embedding"), planes)).collect()
    }
    assert(e.getMessage != null && e.toString.toLowerCase.contains("dim"),
      s"expected a dim-mismatch raise, got $e")
  }

  test("pack bins: the window's shard partitioning serves the aggregation — no third shuffle") {
    val q = PipelineQueries.packBins(spark, dir)
    val plan = q.queryExecution.executedPlan.toString()
    // exchange 1: the docs() parallelism repartition; exchange 2:
    // hash(shard) for the window — groupBy(shard, bin) clusters on a
    // SUPERSET of the window keys, so HashPartitioning(shard) already
    // satisfies it and no further exchange may appear
    assert("Exchange".r.findAllIn(plan).length === 2, s"expected 2 exchanges:\n$plan")
    assert(!plan.contains("SinglePartition"), "window must stay partitioned")
    val rows = q.collect()
    assert(rows.length <= 16 * 4 && rows.map(_.getLong(3)).sum ==
      docs.agg(org.apache.spark.sql.functions.sum(col("n_chars"))).head().getLong(0))
  }

  test("hash sampling: deterministic across runs and shuffle-minimal") {
    val a = PipelineQueries.sampleHash(spark, dir).collect().map(_.toString).sorted.toSeq
    val b = PipelineQueries.sampleHash(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(a === b, "md5-mod sampling must be bit-stable across runs")
    val plan = PipelineQueries.sampleHash(spark, dir).queryExecution.executedPlan.toString()
    // repartition + the two-phase agg's single state exchange
    assert("Exchange".r.findAllIn(plan).length === 2, s"expected 2 exchanges:\n$plan")
  }

  test("tokenize: md5-vocab ids and positional checksum match a driver-side recompute; map-only plan") {
    val q = PipelineQueries.tokenize(spark, dir)
    val plan = q.queryExecution.executedPlan.toString()
    // the docs() parallelism repartition is the ONLY exchange — tokenization itself never shuffles
    assert("Exchange".r.findAllIn(plan).length === 1, s"tokenize must stay map-only:\n$plan")
    val got = q.collect().map(r => r.getLong(0) ->
      ((r.getInt(2), r.getLong(3), Option(r.get(4)), Option(r.get(5))))).toMap
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rx = java.util.regex.Pattern.compile(TextOps.bpeishPattern)
    val rows = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    rows.foreach { case (id, text) =>
      val m = rx.matcher(text)
      val toks = Iterator.continually(m).takeWhile(_.find())
        .map(mm => (java.lang.Long.parseLong(md5hex(mm.group(0)).take(8), 16) % 262144L).toInt).toSeq
      val checksum = toks.zipWithIndex.map { case (t, i) => (i + 1).toLong * t }.sum
      val exp = (toks.length, checksum, toks.headOption, toks.lastOption)
      assert(got(id) === exp, s"doc $id")
    }
  }

  test("decontam: benchmark n-grams broadcast; ledger matches a driver-side recompute") {
    val q = PipelineQueries.decontam(spark, dir)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"bench n-gram set must broadcast:\n$plan")
    val got = q.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // -1 limit: Spark's split keeps trailing empty tokens
    def ngrams(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 8) Seq.empty else (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" "))
    }
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0).toString, r.getString(1), r.getString(2)))
    val (bench, train) = rows.partition { case (id, _, _) => md5hex(id).head == '0' }
    val benchSet = bench.flatMap(t => ngrams(t._3)).toSet
    val expected = train.groupBy(_._2).map { case (src, ds) =>
      val hits = ds.toSeq.map(d => ngrams(d._3).count(benchSet.contains).toLong)
      src -> ((ds.length.toLong, hits.count(_ > 0).toLong, hits.sum))
    }
    assert(got === expected)
  }

  test("decontam: shuffle_hash fallback above the broadcast ceiling gives identical results") {
    val fast = PipelineQueries.decontam(spark, dir).collect().toSet
    spark.conf.set("spark.graft.decontam.broadcastMaxNgrams", "0")
    try {
      val slow = PipelineQueries.decontam(spark, dir)
      val plan = slow.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastHashJoin"),
        s"threshold 0 must force the shuffle path:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        s"fallback must be a shuffle_hash join (big side never sorts):\n$plan")
      assert(slow.collect().toSet === fast,
        "both join strategies must produce the identical ledger")
    } finally spark.conf.unset("spark.graft.decontam.broadcastMaxNgrams")
  }

  test("repetition: per-doc dup fractions and top-bigram share match a driver-side recompute") {
    val q = PipelineQueries.repetition(spark, dir)
    val got = q.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getDouble(2), r.getInt(3), r.getDouble(4), r.getDouble(5)))).toMap
    val rows = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.size === rows.length)
    rows.foreach { case (id, text) =>
      val w = text.split(" ", -1).toSeq
      val bg = if (w.length < 2) Seq.empty[String] else w.sliding(2).map(_.mkString(" ")).toSeq
      val (nw, nb, dw, db, gotRow) = (w.length, bg.length,
        (w.length - w.distinct.length).toDouble / math.max(w.length, 1),
        (bg.length - bg.distinct.length).toDouble / math.max(bg.length, 1),
        got(id))
      val topFrac = if (bg.isEmpty) 0.0
        else bg.groupBy(identity).values.map(_.length).max.toDouble / bg.length
      assert(gotRow._1 === nw && gotRow._3 === nb, s"doc $id sizes")
      assert(math.abs(gotRow._2 - dw) < 1e-6, s"doc $id dup_word_frac ${gotRow._2} vs $dw")
      assert(math.abs(gotRow._4 - db) < 1e-6, s"doc $id dup_bigram_frac ${gotRow._4} vs $db")
      assert(math.abs(gotRow._5 - topFrac) < 1e-6, s"doc $id top_bigram_frac ${gotRow._5} vs $topFrac")
    }
  }

  test("dedup keep ledger: kept+dropped = total; dropped = clustered nodes minus clusters") {
    val keep = PipelineQueries.dedupKeep(spark, dir).collect()
    assert(keep.map(_.getLong(1)).sum == docs.count())
    keep.foreach(r => assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
      s"${r.getString(0)}: n_docs must equal dropped+kept"))
    val clusters = PipelineQueries.dupClusters(spark, dir).collect()
    val expectedDropped = clusters.length - clusters.map(_.getLong(1)).distinct.length
    assert(keep.map(_.getLong(2)).sum == expectedDropped,
      "every clustered doc except one canonical per cluster must drop")
  }

  test("quality-aware keep: one keeper per cluster, keeper has the cluster-max score") {
    val best = PipelineQueries.dedupKeepBest(spark, dir).collect()
    val clusters = PipelineQueries.dupClusters(spark, dir).collect()
    val nClusters = clusters.map(_.getLong(1)).distinct.length
    // exactly one keeper per cluster, everything else drops
    assert(best.map(_.getLong(2)).sum == nClusters, "one kept doc per cluster")
    assert(best.map(_.getLong(1)).sum == clusters.length, "ledger covers every clustered doc")
    best.foreach(r => assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
      s"${r.getString(0)}: n_clustered must equal kept+dropped"))
    // the keeper really is the score-argmax: recompute per cluster
    import org.apache.spark.sql.functions._
    val scored = docs.select(col("doc_id"), PipelineQueries.modelScore.as("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val differs = clusters.groupBy(_.getLong(1)).count { case (clusterId, members) =>
      val ids = members.map(_.getLong(0))
      // keep rule: max score, MIN doc_id on exact ties — mirror exactly
      val bestScore = ids.map(scored).max
      val kept = ids.filter(id => scored(id) == bestScore).min
      kept != clusterId // cluster_id IS the min-id canonical
    }
    assert(best.map(_.getLong(4)).sum == differs,
      "n_keep_differs_minid must count clusters whose argmax-quality keeper isn't the min-id")
  }

  test("curate pipeline end-to-end: ledger stages are monotone and n_final matches the written corpus") {
    val out = java.nio.file.Files.createTempDirectory("graft_curate").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(graft.run.CurateJob.run(spark, dir, out))
    val ledger = spark.read.json(s"$out/ledger").collect()
    assert(ledger.map(_.getAs[Long]("n_docs")).sum == docs.count())
    ledger.foreach { r =>
      val (n, t, f, c, fin) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_funnel"), r.getAs[Long]("n_clean"), r.getAs[Long]("n_final"))
      assert(n >= t && t >= f && f >= c && c >= fin, s"${r.getAs[String]("source")}: not monotone")
    }
    val curated = spark.read.parquet(s"$out/curated")
    assert(curated.count() == ledger.map(_.getAs[Long]("n_final")).sum,
      "the written corpus must be exactly the ledger's n_final survivors")
    // the printed count is observed on the write; it must equal what landed
    val printed = """: (\d+) curated sequences""".r.findFirstMatchIn(buf.toString("UTF-8"))
      .getOrElse(fail(s"no count in:\n$buf")).group(1).toLong
    assert(printed == curated.count())
    assert(curated.columns.sorted.toSeq == Seq("doc_id", "n_tok", "source", "tokens"))
    // the curated output feeds the validation engine's shape directly
    val row = curated.head()
    assert(row.getSeq[Int](row.fieldIndex("tokens")).length == row.getAs[Int]("n_tok"))
  }

  test("droppedDocIds on sf0.01: the non-root nodes of the near-dup components") {
    val sf = "/root/testdata/sf0.01"
    val edges = PipelineQueries.lshPairs(spark, sf).filter(col("is_dup"))
      .select(col("id_a"), col("id_b"))
    val got = PipelineQueries.droppedDocIds(spark, sf).collect().map(_.getLong(0)).toSet
    val viaComponents = graft.pipeline.ConnectedComponents.components(edges)
      .filter(col("node") =!= col("component")).select(col("node"))
      .collect().map(_.getLong(0)).toSet
    assert(got == viaComponents)
    // and by a driver-side union-find over the same edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    edges.collect().foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    assert(got.nonEmpty && got == parent.keys.filter(n => find(n) != n).toSet)
  }

  test("curate on a corpus with no near-dup pair drops nothing at the dedup stage") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_nodup").toString
    val dupNodes = PipelineQueries.lshPairs(spark, dir).filter(col("is_dup"))
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    docs.join(dupNodes, Seq("doc_id"), "left_anti")
      .write.parquet(s"$tmp/in/documents.parquet")
    assert(PipelineQueries.lshPairs(spark, s"$tmp/in").filter(col("is_dup")).isEmpty)
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true, "UTF-8"))(
      graft.run.CurateJob.run(spark, s"$tmp/in", s"$tmp/out"))
    val ledger = spark.read.json(s"$tmp/out/ledger").collect()
    assert(ledger.nonEmpty)
    ledger.foreach { r =>
      assert(r.getAs[Long]("n_final") == r.getAs[Long]("n_clean"), r.getAs[String]("source"))
    }
  }

  test("source overlap matrix: pair counts partition the verified near-dup pairs") {
    val overlap = PipelineQueries.sourceOverlap(spark, dir).collect()
    val nDup = PipelineQueries.lshPairs(spark, dir).filter(col("is_dup")).count()
    assert(overlap.map(_.getLong(2)).sum == nDup,
      "every near-dup pair must land in exactly one (source_a, source_b) cell")
    overlap.foreach(r => assert(r.getString(0) <= r.getString(1), "pairs must be unordered"))
  }

  test("filter funnel: cumulative per-stage survivors match a driver-side recompute; one scan") {
    val q = PipelineQueries.filterFunnel(spark, dir)
    val plan = q.queryExecution.executedPlan.toString()
    assert("Exchange".r.findAllIn(plan).length === 2, s"parallelism repartition + agg state only:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length === 1, s"expected ONE scan:\n$plan")
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val stop = TextOps.Stopwords.toSet
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (src, ds) =>
        var n, a, b, c, e = 0L
        ds.foreach { case (_, text) =>
          val w = text.split(" ", -1).toSeq
          val bg = if (w.length < 2) Seq.empty[String] else w.sliding(2).map(_.mkString(" ")).toSeq
          val sr = r6(w.count(stop).toDouble / math.max(w.length, 1))
          val dw = r6((w.length - w.distinct.length).toDouble / math.max(w.length, 1))
          val db = r6((bg.length - bg.distinct.length).toDouble / math.max(bg.length, 1))
          val c1 = w.length >= 25; val c2 = c1 && sr >= 0.02
          val c3 = c2 && dw <= 0.65; val c4 = c3 && db <= 0.08
          n += 1; if (c1) a += 1; if (c2) b += 1; if (c3) c += 1; if (c4) e += 1
        }
        src -> ((n, a, b, c, e))
      }
    assert(got === expected)
    got.values.foreach { case (n, a, b, c, e) =>
      assert(n >= a && a >= b && b >= c && c >= e, "funnel must be monotone") }
  }

  test("pii ledger: injected positives detected exactly; redaction removes every match") {
    val q = PipelineQueries.piiLedger(spark, dir)
    val plan = q.queryExecution.executedPlan.toString()
    // 2 exchanges: docs()'s deliberate parallelism repartition + the
    // per-source rollup — detection/redaction itself adds NO shuffle
    assert("Exchange".r.findAllIn(plan).length === 2,
      s"pii ledger must be projection + one rollup:\n$plan")
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val eRe = PipelineQueries.EmailRe.r
    val iRe = PipelineQueries.Ipv4Re.r
    val pRe = PipelineQueries.PhoneRe.r
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0).toString, r.getString(1), r.getString(2)))
    val expected = rows.groupBy(_._2).map { case (src, ds) =>
      val per = ds.toSeq.map { case (id, _, text) =>
        val hx = md5hex(id); val h = h32(id)
        val pii = text +
          (if ("012345".contains(hx(0))) s" reach user${h % 997}@example.org" else "") +
          (if ("0123".contains(hx(1))) s" from 10.${h % 200}.${h % 97}.42" else "") +
          (if ("01".contains(hx(2))) s" call 555-${"%04d".format(h % 10000)}" else "")
        val red = pRe.replaceAllIn(iRe.replaceAllIn(
          eRe.replaceAllIn(pii, "<EMAIL>"), "<IP>"), "<PHONE>")
        assert(eRe.findFirstIn(red).isEmpty && iRe.findFirstIn(red).isEmpty &&
          pRe.findFirstIn(red).isEmpty, s"redaction left PII in doc $id")
        (eRe.findAllIn(pii).length.toLong, iRe.findAllIn(pii).length.toLong,
          pRe.findAllIn(pii).length.toLong, h32(red))
      }
      src -> ((ds.length.toLong,
        per.count(_._1 > 0).toLong, per.count(_._2 > 0).toLong, per.count(_._3 > 0).toLong,
        per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum, per.map(_._4).sum))
    }
    assert(got === expected)
    // the injection gates must produce real positives at this sf
    assert(got.values.map(_._5).sum > 0 && got.values.map(_._6).sum > 0 &&
      got.values.map(_._7).sum > 0, "PII injection produced no positives")
  }

  test("dup-ngrams: per-source corpus self-overlap matches a brute-force recompute") {
    val got = PipelineQueries.dupNgrams(spark, dir).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def ngrams(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 8) Seq.empty
      else (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" "))
    }
    val rows = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), ngrams(r.getString(2)).distinct))
    val docCount = rows.flatMap(_._3).groupBy(identity).view.mapValues(_.length).toMap
    val expected = rows.groupBy(_._2).map { case (src, ds) =>
      val shared = ds.toSeq.map(_._3.count(g => docCount(g) > 1).toLong)
      src -> ((ds.length.toLong, ds.map(_._3.length.toLong).sum,
        shared.sum, shared.count(_ > 0).toLong))
    }
    assert(got === expected)
  }

  test("quality p10: smallest value whose cumulative count reaches ceil(n/10)") {
    val got = PipelineQueries.qualityP10(spark, dir).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // recompute from the SAME Spark-evaluated signal (no driver-side
    // re-rounding ambiguity)
    val sig = docs.select(col("source"),
      TextOps.stopwordRatio(col("text")).as("sr")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expected = sig.groupBy(_._1).map { case (src, xs) =>
      val vals = xs.map(_._2).sorted
      val k = (vals.length + 9) / 10
      val thr = vals(k - 1)
      src -> ((vals.length.toLong, thr, vals.count(_ < thr).toLong))
    }
    assert(got === expected)
  }

  test("plan quality: failCounts is one scan + partial/final agg; only agg state shuffles") {
    val df = graft.gen.TokenData.read(spark, "/root/testdata/sf0.001")
    val q = graft.compilex.ConstraintCompiler.failCounts(
      df, graft.suite.NorthStar.suite, Set("tokens"))
    val plan = q.queryExecution.executedPlan.toString()
    // exactly one parquet scan of the table
    assert("Scan parquet".r.findAllIn(plan).length === 1, s"expected ONE scan:\n$plan")
    // two-phase agg: partial on the scan side, final after a
    // single-row exchange (shuffled bytes independent of row count)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
    assert("Exchange".r.findAllIn(plan).length === 1, s"expected ONE exchange (agg state only):\n$plan")
  }
}
