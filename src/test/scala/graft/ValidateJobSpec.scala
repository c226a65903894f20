package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.run.ValidateJob
import graft.compilex.ConstraintCompiler
import graft.io.PartitionedParquetIO
import graft.gen.TokenData
import graft.suite.NorthStar

/** End-to-end ValidateJob: full run, resume-skips-completed, identical
  * final output; partition pruning reaches the scan.
  */
class ValidateJobSpec extends SparkSpec {

  private def tmp(name: String) = s"/tmp/graft-vj-${name}-${System.nanoTime()}"

  /** Manifest RECORDS (appends are newline-bracketed as a torn-write
    * guard, so raw line counts include blank separators).
    */
  private def manifestRecords(ckpt: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(ckpt, "manifest.jsonl")).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  test("partitioned write + partition filter prunes at scan level") {
    val io = new PartitionedParquetIO("source")
    val path = tmp("io")
    io.write(TokenData.tokenTable(spark, 3000, 4), path)
    val pruned = io.readPartitions(spark, path, "source", Seq("wiki"))
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("source"),
      s"expected partition filters in scan:\n$plan")
    assert(pruned.select("source").distinct().collect().map(_.getString(0)).toSet == Set("wiki"))
  }

  test("validate run writes verdicts + violations; resume skips completed partitions") {
    val table = tmp("table"); val out1 = tmp("out1"); val ckpt = tmp("ckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 4000, 4), table)

    ValidateJob.run(spark, table, out1, ckpt)
    val verdicts = spark.read.parquet(s"$out1/verdicts")
    val parts = verdicts.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(parts.map(_._1).toSet.contains("spam"))
    assert(parts.forall(!_._4), "every partition has injected violations")
    assert(parts.map(_._2).sum == 4000)

    // manifest complete
    val hash = ValidateJob.suiteHash(NorthStar.suite)
    val done = ValidateJob.completedDetail(ckpt, hash).keySet
    assert(done == parts.map(_._1).toSet)

    // resume: second run with same checkpoint must skip all partitions
    // (manifest gains no new lines) and still produce the verdict table
    val linesBefore = Files.readAllLines(Paths.get(ckpt, "manifest.jsonl")).size()
    val out2 = tmp("out2")
    ValidateJob.run(spark, table, out2, ckpt)
    val linesAfter = Files.readAllLines(Paths.get(ckpt, "manifest.jsonl")).size()
    assert(linesAfter == linesBefore, "resume must not revalidate completed partitions")
    val v2 = spark.read.parquet(s"$out2/verdicts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(v2 == parts.toSet, "resumed output must equal original")
  }

  test("incremental restart: appended files validate alone; rewrites trigger full revalidate") {
    val table = tmp("inc_table"); val out = tmp("inc_out"); val ckpt = tmp("inc_ckpt")
    val base = TokenData.tokenTable(spark, 3000, 4).cache()
    new PartitionedParquetIO("source").write(base, table)
    ValidateJob.run(spark, table, out, ckpt)
    val hash = ValidateJob.suiteHash(NorthStar.suite)
    val st0 = ValidateJob.completedDetail(ckpt, hash)
    assert(st0.values.forall(_.files.nonEmpty), "lineage must record file fingerprints")
    val linesAfterFull = manifestRecords(ckpt).size
    val webViolBefore = spark.read.parquet(s"$out/violations/partition=web").count()

    // APPEND new rows to exactly one partition (new parquet files under
    // source=web only)
    val extra = base.filter(org.apache.spark.sql.functions.col("source") === "web").limit(200)
    val extraRows = extra.count()
    extra.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("source").parquet(table)

    ValidateJob.run(spark, table, out, ckpt)
    val lines = manifestRecords(ckpt)
    // exactly TWO new manifest records: web's uncertified record and its
    // incremental completion record
    assert(lines.size == linesAfterFull + 2,
      s"expected one incremental entry, got ${lines.size - linesAfterFull}")
    assert(lines.last.contains("\"partition\":\"web\""))
    val st1 = ValidateJob.completedDetail(ckpt, hash)
    assert(st1("web").rows == st0("web").rows + extraRows,
      "incremental entry must carry CUMULATIVE rows")
    assert(st1("web").files.size > st0("web").files.size)
    // verdict table reflects the cumulative counts
    val v = spark.read.parquet(s"$out/verdicts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("web") == st1("web").rows)
    // violations for web APPENDED (not overwritten): the original
    // exploded violation rows are still there, plus the delta's
    // (manifest `violations` counts violating ROWS; the output explodes
    // per (row, constraint), so compare growth, not equality)
    val webViolAfter = spark.read.parquet(s"$out/violations/partition=web").count()
    assert(webViolAfter > webViolBefore,
      s"delta violations must append: $webViolBefore -> $webViolAfter")
    assert(st1("web").violations > st0("web").violations)

    // REWRITE the web partition (compaction): remove a file -> full
    // revalidate of that partition only
    val webDir = new java.io.File(s"$table/source=web")
    val dataFiles = webDir.listFiles().filter(f => f.isFile && !f.getName.startsWith("_")
      && !f.getName.startsWith("."))
    assert(dataFiles.nonEmpty)
    dataFiles.head.delete()
    val linesBefore = manifestRecords(ckpt).size
    ValidateJob.run(spark, table, out, ckpt)
    val lines2 = manifestRecords(ckpt)
    assert(lines2.size == linesBefore + 2, "only web must revalidate")
    assert(lines2.last.contains("\"partition\":\"web\""))
    val st2 = ValidateJob.completedDetail(ckpt, hash)
    // full revalidate: counts now reflect the CURRENT (post-delete) data
    val nowWeb = spark.read.parquet(table)
      .filter(org.apache.spark.sql.functions.col("source") === "web").count()
    assert(st2("web").rows == nowWeb)
  }

  test("crashed incremental append (uncertified record last) recovers via full revalidate") {
    val table = tmp("crash_table"); val out = tmp("crash_out"); val ckpt = tmp("crash_ckpt")
    val base = TokenData.tokenTable(spark, 3000, 4).cache()
    new PartitionedParquetIO("source").write(base, table)
    ValidateJob.run(spark, table, out, ckpt)
    val hash = ValidateJob.suiteHash(NorthStar.suite)

    // Simulate a crash inside the incremental bracket on web: files
    // appended, violations append HALF-landed (here: duplicated rows),
    // no completion record — the uncertified record is what the attempt
    // left last.
    val extra = base.filter(col("source") === "web").limit(150)
    extra.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("source").parquet(table)
    val webViol = s"$out/violations/partition=web"
    val violDir = new java.io.File(webViol)
    val part0 = violDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part0.toPath,
      new java.io.File(violDir, "part-halflanded-" + part0.getName).toPath)
    ValidateJob.appendManifest(ckpt, ValidateJob.uncertified("web"))
    assert(!ValidateJob.completedDetail(ckpt, hash).contains("web"))

    ValidateJob.run(spark, table, out, ckpt)
    val nowWeb = spark.read.parquet(table).filter(col("source") === "web").count()
    assert(ValidateJob.completedDetail(ckpt, hash)("web").rows == nowWeb)
    // the Overwrite recovery wiped the half-landed duplicates: the
    // violations dir equals an independent fresh validate of the slice
    val fresh = tmp("crash_fresh")
    ValidateJob.validatePartition(
      spark.read.parquet(table).filter(col("source") === "web"),
      NorthStar.suite, fresh, "web")
    assert(spark.read.parquet(webViol).count() ==
      spark.read.parquet(s"$fresh/violations/partition=web").count(),
      "recovered violations must not contain duplicated rows")
  }

  test("emptied partition directory revalidates instead of keeping stale counts") {
    val table = tmp("empty_table"); val out = tmp("empty_out"); val ckpt = tmp("empty_ckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 2000, 4), table)
    ValidateJob.run(spark, table, out, ckpt)
    val hash = ValidateJob.suiteHash(NorthStar.suite)
    assert(ValidateJob.completedDetail(ckpt, hash)("web").rows > 0)

    // retention/compaction accident: the directory survives, the data
    // files do not
    new java.io.File(s"$table/source=web").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(f => assert(f.delete()))

    ValidateJob.run(spark, table, out, ckpt)
    val after = ValidateJob.completedDetail(ckpt, hash)("web")
    assert(after.rows == 0 && after.violations == 0,
      s"manifest must reflect the emptied partition, got $after")
    val v = spark.read.parquet(s"$out/verdicts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("web") == 0, "verdict table must not carry stale counts")

    // a third run is stable: the recorded empty file list matches, so it skips
    val lines = Files.readAllLines(Paths.get(ckpt, "manifest.jsonl")).size()
    ValidateJob.run(spark, table, out, ckpt)
    assert(Files.readAllLines(Paths.get(ckpt, "manifest.jsonl")).size() == lines,
      "validated-empty partition must skip on the next run")
  }

  test("a removed partition leaves the verdicts, the summary and the violations output") {
    val table = tmp("rm_table"); val out = tmp("rm_out"); val ckpt = tmp("rm_ckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 3000, 4), table)
    ValidateJob.run(spark, table, out, ckpt)
    val forumsOut = Paths.get(out, "violations", "partition=forums")
    assert(Files.exists(forumsOut))

    val aside = tmp("rm_aside")
    Files.move(Paths.get(table, "source=forums"), Paths.get(aside))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(ValidateJob.run(spark, table, out, ckpt))
    val dirs = new java.io.File(table).listFiles().filter(_.isDirectory)
      .map(_.getName.stripPrefix("source=")).toSet
    assert(!dirs.contains("forums"))
    assert(spark.read.parquet(s"$out/verdicts").collect().map(_.getString(0)).toSet == dirs)
    val printedRows = """rows: (\d+)""".r.findFirstMatchIn(buf.toString("UTF-8"))
      .getOrElse(fail(s"no summary in:\n$buf")).group(1).toLong
    assert(printedRows == spark.read.parquet(table).count())
    assert(!Files.exists(forumsOut), "the removed partition's violations must be deleted")

    // the same directory coming back is validated again, not skipped
    // against its old manifest line
    Files.move(Paths.get(aside), Paths.get(table, "source=forums"))
    ValidateJob.run(spark, table, out, ckpt)
    assert(Files.exists(forumsOut))
    val v = spark.read.parquet(s"$out/verdicts").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("forums") == spark.read.parquet(table).filter(col("source") === "forums").count())
  }

  test("a crashed partition that is then removed loses its output and revalidates when it comes back") {
    val table = tmp("crm_table"); val out = tmp("crm_out"); val ckpt = tmp("crm_ckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 3000, 4), table)
    ValidateJob.run(spark, table, out, ckpt)
    val forumsOut = Paths.get(out, "violations", "partition=forums")
    assert(Files.exists(forumsOut))

    // a task crashed inside its bracket: the uncertified record is last
    ValidateJob.appendManifest(ckpt, ValidateJob.uncertified("forums"))
    val aside = tmp("crm_aside")
    Files.move(Paths.get(table, "source=forums"), Paths.get(aside))
    ValidateJob.run(spark, table, out, ckpt)
    assert(!Files.exists(forumsOut), "the removed partition's violations must be deleted")
    assert(!spark.read.parquet(s"$out/verdicts").collect().map(_.getString(0)).contains("forums"))

    Files.move(Paths.get(aside), Paths.get(table, "source=forums"))
    ValidateJob.run(spark, table, out, ckpt)
    assert(Files.exists(forumsOut))
    val v = spark.read.parquet(s"$out/verdicts").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("forums") == spark.read.parquet(table).filter(col("source") === "forums").count())
  }

  test("a checkpoint holding intent markers of an older build is refused before planning") {
    val table = tmp("old_table"); val out = tmp("old_out"); val ckpt = tmp("old_ckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 1000, 2), table)
    ValidateJob.run(spark, table, out, ckpt)
    val intents = Files.createDirectories(Paths.get(ckpt, "intents"))
    Files.write(intents.resolve("web.intent"), "a:1".getBytes("UTF-8"))
    Files.write(intents.resolve("a%3Ab.intent"), Array.emptyByteArray)
    val records = manifestRecords(ckpt)
    val buf = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalStateException](
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(ValidateJob.run(spark, table, out, ckpt)))
    assert(e.getMessage.contains("partitions a:b, web") && e.getMessage.contains("fresh checkpoint"),
      e.getMessage)
    assert(!buf.toString("UTF-8").contains("[validate]"), "refused before planning")
    assert(manifestRecords(ckpt) == records)
  }

  test("main's argument parser rejects unknown keys and dangling arguments") {
    val base = Seq("--table", "t", "--out", "o")
    assert(ValidateJob.parseArgs(base ++ Seq("--suite", "s.json")) ==
      Map("--table" -> "t", "--out" -> "o", "--suite" -> "s.json"))
    def rejects(args: Seq[String], named: String): Unit = {
      val e = intercept[IllegalArgumentException](ValidateJob.parseArgs(args))
      assert(e.getMessage.contains(named), e.getMessage)
    }
    rejects(base ++ Seq("--suit", "s.json"), "--suit")
    rejects(base ++ Seq("--checkpoint"), "--checkpoint")
    rejects(base ++ Seq("--salt", "64"), "--salt")
    rejects(Seq("--table", "t"), "--out")
    rejects(base ++ Seq("--suite-resources", "r.json"), "--suite-resources")
  }

  test("torn manifest line cannot merge into the next record") {
    val ckpt = tmp("torn")
    Files.createDirectories(Paths.get(ckpt))
    // a crash mid-append leaves a partial record with no newline; the
    // next append must NOT concatenate onto it (first-match-per-field
    // parsing would then read the stale rows with the new file list)
    val torn = """{"partition":"web","suiteHash":"h1","rows":12,"violations":1,"wallMs":1,"ts":1,"files":["a:1"""
    Files.write(Paths.get(ckpt, "manifest.jsonl"), torn.getBytes("UTF-8"))
    ValidateJob.appendManifest(ckpt,
      ValidateJob.ManifestEntry("web", "h1", 1234, 5, 1, 2, Seq("a:1", "b:2")))
    val st = ValidateJob.completedDetail(ckpt, "h1")
    assert(st("web").rows == 1234 && st("web").violations == 5,
      s"recovery entry must win over the torn fragment: ${st("web")}")
    assert(st("web").files == Set("a:1", "b:2"))
  }

  test("manifest round-trips partition values and file names containing quotes/backslashes") {
    val ckpt = tmp("esc")
    // a Hive-unescaped partition value can contain ANY character; the
    // manifest codec must round-trip it exactly — a regex-era parse
    // captured up to the first quote and credited a prefix-named
    // partition with this one's lineage (round-4 review)
    val nasty = """we"b\x"""
    val files = Seq("""part-"0000".snappy.parquet:12""", "plain:3")
    ValidateJob.appendManifest(ckpt,
      ValidateJob.ManifestEntry(nasty, "h1", 7, 2, 1, 2, files))
    ValidateJob.appendManifest(ckpt,
      ValidateJob.ManifestEntry("web", "h1", 100, 0, 1, 2, Seq("a:1")))
    val st = ValidateJob.completedDetail(ckpt, "h1")
    assert(st.keySet == Set(nasty, "web"), s"partitions: ${st.keySet}")
    assert(st(nasty).rows == 7 && st(nasty).files == files.toSet)
    assert(st("web").rows == 100 && st("web").files == Set("a:1"))
  }

  test("readPartitions selects the NULL slice via the Hive sentinel") {
    val io = new PartitionedParquetIO("source")
    val path = tmp("ionull")
    val df = TokenData.tokenTable(spark, 1000, 4)
      .withColumn("source", when(col("n_tok") % 7 === 0, lit(null: String))
        .otherwise(col("source")))
    io.write(df, path)
    val nulls = io.readPartitions(spark, path, "source",
      Seq(ValidateJob.NullPartition))
    assert(nulls.count() > 0, "null slice must be selectable")
    assert(nulls.filter(col("source").isNotNull).count() == 0)
    val mixed = io.readPartitions(spark, path, "source",
      Seq("wiki", ValidateJob.NullPartition))
    val srcs = mixed.select("source").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(srcs == Set(Some("wiki"), None), s"got $srcs")
  }

  test("partition discovery reads directory names, not table data") {
    val table = tmp("disc")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 2000, 4), table)
    // ground truth straight from the filesystem layout
    val dirs = new java.io.File(table).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("source=")).map(_.stripPrefix("source=")).toSet
    assert(dirs.nonEmpty)
    assert(ValidateJob.listPartitions(spark, table, "source").toSet == dirs)
    // flat (non-partitioned) layout falls back to a distinct scan
    val flat = tmp("flat")
    TokenData.tokenTable(spark, 500, 2).write.parquet(flat)
    val viaScan = spark.read.parquet(flat).select("source").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ValidateJob.listPartitions(spark, flat, "source").toSet == viaScan)
  }

  test("validatePartition runs exactly ONE job (observe metrics, no second scan)") {
    val table = tmp("onescan"); val out = tmp("oneout")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 3000, 4), table)
    val slice = spark.read.parquet(table).filter(col("source") === "web")
    val expectRows = slice.count()
    def jobCount: Int = {
      // status store updates are async behind the listener bus — settle
      var last = -1; var cur = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      while (cur != last) { last = cur; Thread.sleep(200)
        cur = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length }
      cur
    }
    val before = jobCount
    val (rows, viol) = ValidateJob.validatePartition(slice, NorthStar.suite, out, "web")
    val ran = jobCount - before
    assert(rows == expectRows)
    assert(viol > 0, "generator injects violations into every partition")
    assert(ran == 1, s"expected one scan job, saw $ran")
    // and the violations parquet agrees with the observed metric
    val written = spark.read.parquet(s"$out/violations/partition=web")
    assert(written.select("doc_id").distinct().count() <= viol)
  }

  test("topViolations: two-phase top-k matches single-window truth; no global sort of all violations") {
    import org.apache.spark.sql.expressions.Window
    TokenData.ensure(spark, "/root/testdata/sf0.001")
    val twoPhase = ValidationQueries.topViolations(spark, "/root/testdata/sf0.001")
    val plan = twoPhase.queryExecution.executedPlan.toString()
    assert(plan.contains("_salt"), s"phase-1 window must partition by (source, _salt):\n$plan")
    // truth: the naive single window
    val sev = ValidationQueries.Severity.foldLeft(lit(0)) { case (acc, (cid, w)) =>
      when(col("constraint_id") === cid, lit(w)).otherwise(acc)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(col("severity").desc, col("doc_id").asc, col("constraint_id").asc)
    val truth = ValidationQueries.violations(spark, "/root/testdata/sf0.001")
      .withColumn("severity", sev)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rk") <= 5)
    assert(twoPhase.collect().map(_.toString).sorted.toSeq ==
      truth.collect().map(_.toString).sorted.toSeq)
  }

  test("partition dir names unescape %XX only — literal '+' survives") {
    assert(ValidateJob.unescapePathName("a+b") == "a+b")
    assert(ValidateJob.unescapePathName("a%3Db") == "a=b")
    assert(ValidateJob.unescapePathName("sp%20ace") == "sp ace")
    assert(ValidateJob.unescapePathName("%2") == "%2")
  }

  test("special characters in partition values survive the whole run (decode + re-escape)") {
    import spark.implicits._
    val table = tmp("esc"); val out = tmp("escout"); val ckpt = tmp("escckpt")
    // ':' crashes a raw Hadoop path component; '+' is the URLDecoder trap;
    // '"' and '\\' are JSON-escaped in the manifest line
    val sources = Seq("a:b", "a+b", "plain", "we\"b", "x\\y")
    val df = sources.zipWithIndex.flatMap { case (s, i) =>
      Seq((s"doc-$i-1", Seq(1, 2, 3), 3, s), (s"doc-$i-2", Seq(4, 5), 2, s))
    }.toDF("doc_id", "tokens", "n_tok", "source")
    new PartitionedParquetIO("source").write(df, table)
    ValidateJob.run(spark, table, out, ckpt)
    val verdicts = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every partition found by directory listing, decoded correctly,
    // and validated against its actual (non-empty) slice
    assert(verdicts.keySet == sources.toSet, s"got ${verdicts.keySet}")
    assert(sources.forall(s => verdicts(s) == 2L), s"rows per partition: $verdicts")
    // violations written under the RE-ESCAPED dir for each partition
    sources.foreach { s =>
      val dir = Paths.get(out, "violations", s"partition=${ValidateJob.escapePathName(s)}")
      assert(Files.exists(dir), s"missing violations dir for '$s': $dir")
    }
  }

  test("NULL partition values are validated via the Hive sentinel, not silently skipped") {
    import spark.implicits._
    val table = tmp("nullp"); val out = tmp("nullpout"); val ckpt = tmp("nullpckpt")
    // null source rows land in __HIVE_DEFAULT_PARTITION__; a literal
    // string-equality filter would match ZERO rows and checkpoint the
    // slice as validated-empty (round-2 ADVICE, low)
    val df = Seq(
      ("doc-n-1", Seq(1, 2, 3), 3, null.asInstanceOf[String]),
      ("doc-n-2", Seq(4, 5), 2, null.asInstanceOf[String]),
      ("doc-w-1", Seq(6), 1, "web"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    new PartitionedParquetIO("source").write(df, table)
    assert(ValidateJob.listPartitions(spark, table, "source")
      .contains(ValidateJob.NullPartition))
    ValidateJob.run(spark, table, out, ckpt)
    val verdicts = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts(ValidateJob.NullPartition) == 2L,
      s"null slice must be validated against its actual rows: $verdicts")
    // the null-source rows also carry source.enum/required violations
    val viols = spark.read.parquet(
      s"$out/violations/partition=${ValidateJob.NullPartition}")
    assert(viols.count() > 0)
    // non-partitioned fallback surfaces nulls as the same sentinel (and
    // must not NPE sorting a null String)
    val flat = tmp("nullflat")
    df.write.parquet(flat)
    assert(ValidateJob.listPartitions(spark, flat, "source").toSet ==
      Set(ValidateJob.NullPartition, "web"))
  }

  test("--suite JSON file drives a full run (CLI schema-file analogue, column-aware applicators)") {
    val table = tmp("suitefile"); val out = tmp("suitefileout"); val ckpt = tmp("suitefileckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 2000, 4), table)
    val suiteJson = tmp("suite") + ".json"
    // patternProperties resolves against the TABLE's columns (n_tok);
    // doc_id/minLength via plain properties; name-driven + named mixed
    Files.writeString(Paths.get(suiteJson),
      """{"$id": "file-suite",
          "properties": {"doc_id": {"minLength": 5}},
          "patternProperties": {"^n_": {"minimum": 0}},
          "propertyNames": {"maxLength": 10}}""")
    val suite = ValidateJob.loadSuite(spark, table, suiteJson, Nil)
    assert(suite.constraints.exists(_.field == "n_tok"),
      s"patternProperties must resolve to n_tok: ${suite.constraints.map(_.id)}")
    assert(!suite.constraints.exists(_.id.contains("propertyNames")),
      "all column names pass maxLength 10 — no propertyNames constraint expected")
    ValidateJob.run(spark, table, out, ckpt, suite = suite)
    val verdicts = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // the generator injects doc_id="x" rows (minLength violations)
    assert(verdicts.values.sum > 0, s"expected violations from the file suite: $verdicts")
  }

  test("--suite with the round-3 OBJECT applicators round-trips through run") {
    // parseSuiteDocument → loadSuite → run → verdicts with
    // patternProperties + schema-form additionalProperties +
    // propertyNames + min/maxProperties + unevaluatedProperties, all
    // resolved against the REAL table's columns (round-3 VERDICT item 8)
    val table = tmp("objsuite"); val out = tmp("objsuiteout"); val ckpt = tmp("objsuiteckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 2000, 4), table)
    val suiteJson = tmp("objsuite") + ".json"
    Files.writeString(Paths.get(suiteJson),
      """{"$id": "object-applicators",
          "minProperties": 3, "maxProperties": 4,
          "propertyNames": {"pattern": "^(doc_id|tokens|n_tok)$"},
          "properties": {"doc_id": {"minLength": 5}, "n_tok": {"minimum": 0}},
          "patternProperties": {"^tok": {"minItems": 1}},
          "additionalProperties": {"maxLength": 5}}""")
    val suite = ValidateJob.loadSuite(spark, table, suiteJson, Nil)
    val ids = suite.constraints.map(_.id).toSet
    assert(ids.contains("patternProperties.tokens.minItems"), s"ids: $ids")
    assert(ids.contains("additionalProperties.source.maxLength"), s"ids: $ids")
    assert(ids.contains("minProperties"), s"ids: $ids")
    assert(ids.contains("source.propertyNames"), s"ids: $ids")
    ValidateJob.run(spark, table, out, ckpt, suite = suite)
    val verdicts = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(verdicts.values.sum > 0, s"expected violations: $verdicts")
    // unevaluatedProperties THROUGH an allOf branch: the evaluated set
    // flows from the branch's properties, the leftover columns get the
    // uP schema — checked via loadSuite against the same table
    val upJson = tmp("upsuite") + ".json"
    Files.writeString(Paths.get(upJson),
      """{"allOf": [{"properties": {"doc_id": {"minLength": 5}}}],
          "properties": {"tokens": {"minItems": 1}},
          "unevaluatedProperties": false}""")
    val upSuite = ValidateJob.loadSuite(spark, table, upJson, Nil)
    val upIds = upSuite.constraints.map(_.id).toSet
    assert(upIds.contains("n_tok.unevaluatedProperties"), s"ids: $upIds")
    assert(upIds.contains("source.unevaluatedProperties"), s"ids: $upIds")
    assert(upIds.contains("allOf[0].doc_id.minLength"), s"ids: $upIds")
  }

  test("--suite with format keywords round-trips through run (exact checkers in the job surface)") {
    val table = tmp("fmtsuite"); val out = tmp("fmtsuiteout"); val ckpt = tmp("fmtsuiteckpt")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 2000, 4), table)
    val suiteJson = tmp("fmtsuite") + ".json"
    // doc_id is never uuid-shaped -> every present doc_id fails; the
    // source labels are all valid single-label hostnames -> no failures
    Files.writeString(Paths.get(suiteJson),
      """{"$id": "format-suite",
          "properties": {
            "doc_id": {"format": "uuid"},
            "source": {"format": "hostname"}}}""")
    val suite = ValidateJob.loadSuite(spark, table, suiteJson, Nil)
    assert(suite.constraints.exists(c => c.field == "doc_id" && c.id.contains("format")),
      s"ids: ${suite.constraints.map(_.id)}")
    ValidateJob.run(spark, table, out, ckpt, suite = suite)
    val violations = spark.read.parquet(s"$out/verdicts")
      .agg(org.apache.spark.sql.functions.sum("violations")).head().getLong(0)
    val expected = spark.read.parquet(table).where("doc_id IS NOT NULL").count()
    assert(violations === expected,
      s"every present non-uuid doc_id must fail format: got $violations, expected $expected")
  }

  /** The north-star suite without its `source` constraints, over a
    * token table re-keyed into `n` partitions `p0..p<n-1>`.
    */
  private val noSourceSuite = NorthStar.suite.copy(
    constraints = NorthStar.suite.constraints.filterNot(_.field == "source"))
  private def writeSpread(table: String, rows: Long, n: Int): Set[String] = {
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, rows, 4)
      .withColumn("source", concat(lit("p"), pmod(xxhash64(col("doc_id")), lit(n.toLong)).cast("string"))),
      table)
    (0 until n).map(i => s"p$i").toSet
  }

  test("partition jobs run concurrently; an uncertified then a completion record per partition; verdicts == groupBy truth") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val table = tmp("conc"); val out = tmp("concout"); val ckpt = tmp("concckpt")
    val parts = writeSpread(table, 6000, 10)
    // partition jobs, told apart by call site; the listener bus delivers
    // job starts and ends in order, so `active` is the live count
    val partJobs = scala.collection.mutable.Set.empty[Int]
    var active = 0; var maxActive = 0; var ended = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        if (j.stageInfos.exists(_.details.contains("validatePartition"))) {
          partJobs += j.jobId; active += 1; maxActive = math.max(maxActive, active)
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        if (partJobs.contains(j.jobId)) { active -= 1; ended += 1 }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ValidateJob.run(spark, table, out, ckpt, suite = noSourceSuite)
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 30000
      while (listener.synchronized(ended) < parts.size && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    listener.synchronized {
      assert(ended == parts.size, s"expected one job per partition, saw $ended")
      assert(maxActive >= 2, s"partition jobs never overlapped (max active $maxActive)")
    }

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val records = manifestRecords(ckpt).map(mapper.readTree)
    assert(records.size == 2 * parts.size)
    assert(records.forall(r => Seq("partition", "suiteHash", "rows", "violations", "wallMs", "ts", "files")
      .forall(r.has)), s"incomplete manifest records: $records")
    val hash = ValidateJob.suiteHash(noSourceSuite)
    val byPart = records.groupBy(_.get("partition").asText)
    assert(byPart.keySet == parts)
    assert(byPart.values.forall(_.map(_.get("suiteHash").asText) == Seq("", hash)),
      s"each partition must open uncertified and complete under the suite hash: $records")
    assert(!Files.exists(Paths.get(ckpt, "intents")))

    val truth = ConstraintCompiler.withVerdicts(spark.read.parquet(table), noSourceSuite)
      .groupBy("source")
      .agg(count(lit(1)), sum(when(col("row_valid") === false, 1L).otherwise(0L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = spark.read.parquet(s"$out/verdicts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == truth)
    assert(truth.exists(_._3 > 0), "the generator injects violations")
  }

  test("a failing partition stays uncertified while the others land; the next run revalidates it alone") {
    import scala.jdk.CollectionConverters._
    val table = tmp("corrupt"); val out = tmp("corruptout"); val ckpt = tmp("corruptckpt")
    val parts = writeSpread(table, 4000, 8)
    val bad = "p5"
    val corrupt = Paths.get(table, s"source=$bad", "part-corrupt.parquet")
    Files.write(corrupt, "this is not a parquet file".getBytes("UTF-8"))

    intercept[Exception](ValidateJob.run(spark, table, out, ckpt, suite = noSourceSuite))
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith("graft-validate") && t.isAlive), "a validate thread outlived run")
    val hash = ValidateJob.suiteHash(noSourceSuite)
    assert(ValidateJob.completedDetail(ckpt, hash).keySet == parts - bad)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val badLast = manifestRecords(ckpt).map(mapper.readTree).filter(_.get("partition").asText == bad)
    assert(badLast.map(_.get("suiteHash").asText) == Seq(""),
      s"the failed partition's last record must be the uncertified one: $badLast")
    assert(!Files.exists(Paths.get(ckpt, "intents")))

    Files.delete(corrupt)
    val before = manifestRecords(ckpt).size
    ValidateJob.run(spark, table, out, ckpt, suite = noSourceSuite)
    val lines = manifestRecords(ckpt)
    assert(lines.size == before + 2, "only the failed partition revalidates")
    assert(lines.takeRight(2).forall(_.contains(s"\"partition\":\"$bad\"")))
    val st = ValidateJob.completedDetail(ckpt, hash)
    assert(st.keySet == parts)
    assert(st(bad).rows == spark.read.parquet(table).filter(col("source") === bad).count())
  }

  test("summary's global counts equal the written outputs (observed, not read back)") {
    def summaryCounts(table: String): ((Long, Long), (Long, Long)) = {
      val out = tmp("sumout"); val ckpt = tmp("sumckpt")
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(
        ValidateJob.run(spark, table, out, ckpt))
      val m = """duplicate doc_ids=(\d+)  referential violations=(\d+)""".r
        .findFirstMatchIn(buf.toString("UTF-8")).getOrElse(fail(s"no summary in:\n$buf"))
      val dup = spark.read.parquet(s"$out/dup_doc_ids").count()
      val ref = spark.read.parquet(s"$out/referential_violations")
        .agg(coalesce(sum(col("bad_rows")), lit(0L))).head().getLong(0)
      ((m.group(1).toLong, m.group(2).toLong), (dup, ref))
    }
    val dirty = tmp("sumdirty")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 3000, 4), dirty)
    val (printed, written) = summaryCounts(dirty)
    assert(written._1 > 0 && written._2 > 0, "the generator injects duplicates and spam rows")
    assert(printed == written)
    // below row 1000 no duplicate is injected; without spam nothing is unreferenced
    val clean = tmp("sumclean")
    new PartitionedParquetIO("source").write(
      TokenData.tokenTable(spark, 999, 4).filter(col("source") =!= "spam"), clean)
    assert(summaryCounts(clean) == ((0L, 0L), (0L, 0L)))
  }

  test("formatSummary renders the pretty console sink (PJS:cli.py:76-118 analogue)") {
    val s = ValidateJob.formatSummary(
      Seq(("web", 100L, 0L, true), ("spam", 50L, 3L, false)), dupDocIds = 2L, referentialBad = 5L)
    assert(s.contains("partitions: 2   rows: 150   violating rows: 3"))
    assert(s.contains("verdict: FAIL (1/2 partitions violated)"))
    assert(s.contains("FAIL  spam"))
    assert(s.linesIterator.exists(l => l.trim.startsWith("ok") && l.contains("web")))
    assert(s.contains("duplicate doc_ids=2  referential violations=5"))
    val pass = ValidateJob.formatSummary(Seq(("web", 10L, 0L, true)), 0L, 0L)
    assert(pass.contains("verdict: PASS (all partitions clean)"))
  }

  test("suite change invalidates checkpoint (hash mismatch forces revalidation)") {
    val table = tmp("t2"); val out = tmp("o3"); val ckpt = tmp("c2")
    new PartitionedParquetIO("source").write(TokenData.tokenTable(spark, 1000, 2), table)
    ValidateJob.run(spark, table, out, ckpt)
    val otherSuite = NorthStar.suite.copy(name = "other",
      constraints = NorthStar.suite.constraints.take(2))
    assert(ValidateJob.completedDetail(ckpt, ValidateJob.suiteHash(otherSuite)).isEmpty)

    // a one-pattern edit whose suite texts share a 32-bit String.hashCode
    // ("^Aa" vs "^BB") is still a suite change
    def withPattern(re: String) = NorthStar.suite.copy(constraints = NorthStar.suite.constraints :+
      graft.suite.FieldConstraint("doc_id.pattern", "doc_id", graft.suite.Constraint.Pattern(re)))
    val ckpt2 = tmp("c2b")
    ValidateJob.run(spark, table, tmp("o3b"), ckpt2, suite = withPattern("^Aa"))
    assert(ValidateJob.completedDetail(ckpt2, ValidateJob.suiteHash(withPattern("^Aa"))).nonEmpty)
    assert(ValidateJob.completedDetail(ckpt2, ValidateJob.suiteHash(withPattern("^BB"))).isEmpty)
  }
}
