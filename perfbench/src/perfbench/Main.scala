package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import graft.run.{CurateJob, ValidateJob}

/** What one operation did, for the output check and the metrics. */
final case class OpRecord(id: Int, wallS: Double, newRows: Long, traced: Boolean,
                          check: Map[String, Any])

/** The benchmark's JVM side: builds the session, sets a workload up
  * once, runs its operations in a closed loop (one client) for
  * the requested seconds and writes everything the Python side needs to
  * check outputs and print metrics to `<work>/result.json`.
  *
  * Args: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --docs <documents.parquet>
  *
  * `--workload train` instead sets every workload up once on small
  * inputs and measures nothing: the build runs it to have the JVM write
  * the classes it loads to a class-data-sharing archive.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)

    if (workload == "train") {
      Seq(new ValidateBulk(spark, work, seed, nproc, rows = 4000),
        new ValidateIncremental(spark, work, seed, nproc, baseRows = 4000),
        new Curate(spark, work, seed, a("docs"))).foreach { wl => wl.prepare(); wl.warm() }
      spark.stop()
      return
    }
    val wl: Workload = workload match {
      case "validate_bulk"        => new ValidateBulk(spark, work, seed, nproc)
      case "validate_incremental" => new ValidateIncremental(spark, work, seed, nproc)
      case "curate"               => new Curate(spark, work, seed, a("docs"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (traced) Some(new Tracer(spark, nproc)) else None

    // set-up = session start + input generation + one warm-up that the
    // first operation would otherwise pay
    val p0 = System.nanoTime()
    wl.prepare()
    val prepareS = secs(p0)
    val w0 = System.nanoTime()
    wl.warm()
    val warmS = secs(w0)

    // CPU seconds of the whole process per operation: the compute an
    // operation costs, which host steal time does not inflate
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    val cpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    // closed loop, one client. A traced run traces the odd operations and
    // runs at least three (untraced, traced, untraced), so the tracing
    // overhead is read against untraced operations of the same process
    val m0 = System.nanoTime()
    while (secs(m0) < seconds || (traced && ops.size < 3)) {
      val id = ops.size
      val withTrace = tracer.isDefined && id % 2 == 1
      val c0 = osBean.getProcessCpuTime
      ops += (if (withTrace) tracer.get.traceOp(id, wl) else wl.op(id, None))
      cpus += (osBean.getProcessCpuTime - c0) / 1e9
    }
    val measuredS = secs(m0)

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    val hwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k.startsWith("spark.driver.host") ||
        k.contains(".id") || k.contains("startTime") || k.contains("dir") }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "warm_s" -> warmS, "measured_s" -> measuredS,
      "peak_rss_mb" -> hwmKb / 1024.0,
      "inputs" -> wl.inputs,
      "ops" -> ops.zip(cpus).map { case (o, cpu) => Map("id" -> o.id, "wall_s" -> o.wallS,
        "cpu_s" -> cpu, "new_rows" -> o.newRows, "traced" -> o.traced, "check" -> o.check) },
      "layers" -> tracer.map(_.summary(ops.toSeq)).getOrElse(Map.empty),
      "env" -> Map(
        "nproc" -> nproc,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "spark_conf" -> conf.toMap))
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))
    Json.write(s"$work/result.json", result)
    spark.stop()
  }

  def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  /** Runs `body` with Scala console output captured; returns it too. */
  def captured[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val r = Console.withOut(ps)(body)
    ps.flush()
    (r, buf.toString("UTF-8"))
  }

  /** Every regular data file under `dir` (recursively), sorted. */
  def dataFiles(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Nil
    val s = Files.walk(root)
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    finally s.close()
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    val s = Files.walk(root)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** A workload: input generation (repeatable), a warm-up, and an operation. */
trait Workload {
  /** Generates the inputs. */
  def prepare(): Unit
  /** Runs once after the inputs exist, before anything is measured. */
  def warm(): Unit
  /** One timed operation; `span` wraps each public graft call it makes. */
  def op(id: Int, span: Option[Tracer#OpScope]): OpRecord
  /** Input sizes on disk etc., recorded with the result. */
  def inputs: Map[String, Any]
  /** The table and checkpoint the traced listing/manifest probe inspects after op `id`. */
  def probeTarget(id: Int): Option[(String, String)] = None
}

object Workload {
  def call[T](span: Option[Tracer#OpScope], name: String)(body: => T): T =
    span.fold(body)(_.span(name)(body))

  def bytesUnder(dir: String): Long = Main.dataFiles(dir).map(p => new File(p).length).sum

  /** The ValidateJob console line naming its per-partition plan. */
  private val PlanLine = """\[validate\] partitions=(\d+) skip=(\d+) incremental=(\d+) full=(\d+)""".r
  def planCounts(out: String): Map[String, Long] =
    PlanLine.findFirstMatchIn(out).map { m =>
      Map("partitions" -> m.group(1).toLong, "skipped" -> m.group(2).toLong,
        "incremental" -> m.group(3).toLong, "full" -> m.group(4).toLong)
    }.getOrElse(Map.empty)

  /** What the Python side checks for one validate operation. */
  def validateCheck(table: String, out: String, snap: String, plan: Map[String, Long]): Map[String, Any] =
    Map("kind" -> "validate", "table_files" -> Main.dataFiles(table),
      "violation_files" -> Main.dataFiles(s"$out/violations"), "out" -> snap, "plan" -> plan)
}

/** Each operation is one fresh ValidateJob.run (new output and
  * checkpoint dirs) over the same seeded table.
  */
final class ValidateBulk(spark: SparkSession, work: String, seed: Long, nproc: Int,
                         rows: Long = 150000L) extends Workload {
  private var table = ""
  private var rowCount = 0L

  def prepare(): Unit = {
    table = s"$work/bulk/table"
    rowCount = Gen.writeTokens(spark, table, seed, 0, rows, nproc).values.sum
  }
  /** One whole operation, discarded: the same code paths, generated
    * classes and JIT work as the measured ones.
    */
  def warm(): Unit = {
    Main.captured(ValidateJob.run(spark, table, s"$work/bulk/warm-out", s"$work/bulk/warm-out/_checkpoint"))
    Main.deleteTree(s"$work/bulk/warm-out")
  }

  def op(id: Int, span: Option[Tracer#OpScope]): OpRecord = {
    val out = s"$work/bulk/out-$id"
    val t0 = System.nanoTime()
    val (_, printed) = Main.captured(Workload.call(span, "validate") {
      ValidateJob.run(spark, table, out, s"$out/_checkpoint")
    })
    val wall = Main.secs(t0)
    OpRecord(id, wall, rowCount, span.isDefined,
      Workload.validateCheck(table, out, out, Workload.planCounts(printed)))
  }

  def inputs: Map[String, Any] = Map("rows" -> rowCount, "table_bytes" -> Workload.bytesUnder(table),
    "table_files" -> Main.dataFiles(table).size)
  override def probeTarget(id: Int): Option[(String, String)] =
    Some((table, s"$work/bulk/out-$id/_checkpoint"))
}

/** A closed loop with one writer: each round appends a seeded batch of
  * new rows as new files into two of the five clean partitions (plus
  * the batch's spam-class rows into `source=spam`), then reruns
  * ValidateJob.run on the same output and checkpoint. The base table,
  * its full validation and one discarded round are set-up.
  */
final class ValidateIncremental(spark: SparkSession, work: String, seed: Long, nproc: Int,
                                baseRows: Long = 60000L) extends Workload {
  val batchRows: Long = baseRows / 200 // 0.5%
  private def dir = s"$work/inc"
  private def table = s"$dir/table"
  private def out = s"$dir/out"
  private def ckpt = s"$dir/checkpoint"
  private var baseBytes = 0L
  private var appended = 0L

  def prepare(): Unit = {
    Gen.writeTokens(spark, table, seed, 0, baseRows, nproc)
    baseBytes = Workload.bytesUnder(table)
    appended = 0L
  }
  /** The base validation, which writes the base manifest the rounds
    * resume from, then one round whose record is dropped: the first
    * round pays JIT work on the incremental path the later ones do not.
    */
  def warm(): Unit = {
    Main.captured(ValidateJob.run(spark, table, out, ckpt))
    op(-1, None)
  }

  def op(id: Int, span: Option[Tracer#OpScope]): OpRecord = {
    val first = baseRows + appended
    val pick = new scala.util.Random(Gen.h(seed, 7, id)).shuffle(Gen.Sources).take(2).sorted
    val t0 = System.nanoTime()
    val written = Workload.call(span, "append") {
      Gen.writeTokens(spark, table, seed, first, batchRows, 1, pick)
    }
    val (_, printed) = Main.captured(Workload.call(span, "validate") {
      ValidateJob.run(spark, table, out, ckpt)
    })
    val wall = Main.secs(t0)
    appended += batchRows
    // the outputs a later round overwrites are snapshotted for the check
    val snap = s"$dir/snap-$id"
    Seq("verdicts", "dup_doc_ids", "referential_violations")
      .foreach(d => Main.copyDir(s"$out/$d", s"$snap/$d"))
    OpRecord(id, wall, batchRows, span.isDefined,
      Workload.validateCheck(table, out, snap, Workload.planCounts(printed)) +
        ("appended_to" -> written.keys.toSeq.sorted))
  }

  def inputs: Map[String, Any] = Map("base_rows" -> baseRows, "batch_rows" -> batchRows,
    "base_table_bytes" -> baseBytes, "appended_rows" -> appended,
    "final_table_bytes" -> Workload.bytesUnder(table))
  override def probeTarget(id: Int): Option[(String, String)] = Some((table, ckpt))
}

/** Each operation is one CurateJob.run over a seeded permutation and
  * re-sharding of the documents table (content unchanged).
  */
final class Curate(spark: SparkSession, work: String, seed: Long, docs: String) extends Workload {
  private def dir = s"$work/curate"
  private var shards = 0
  private var docCount = 0L

  def prepare(): Unit = {
    shards = Gen.writeDocuments(spark, docs, s"$dir/in", seed)
    docCount = spark.read.parquet(s"$dir/in/documents.parquet").count()
  }
  /** One run over a fifth of the documents: the same jobs and generated
    * classes as an operation. A whole operation would warm the JIT no
    * better and cost a third more: the job count, not the document
    * count, sets a CurateJob.run's time.
    */
  def warm(): Unit = {
    val sub = s"$dir/warm"
    spark.read.parquet(s"$dir/in/documents.parquet")
      .filter(pmod(xxhash64(lit(seed), col("doc_id")), lit(5L)) === 0)
      .write.parquet(s"$sub/documents.parquet")
    Main.captured(CurateJob.run(spark, sub, s"$sub/out"))
    Main.deleteTree(sub)
  }

  def op(id: Int, span: Option[Tracer#OpScope]): OpRecord = {
    val out = s"$dir/out-$id"
    val t0 = System.nanoTime()
    Main.captured(Workload.call(span, "curate") { CurateJob.run(spark, s"$dir/in", out) })
    val wall = Main.secs(t0)
    OpRecord(id, wall, docCount, span.isDefined, Map("kind" -> "curate",
      "ledger_files" -> Option(new File(s"$out/ledger").listFiles).toSeq.flatten
        .map(_.getPath).filter(_.endsWith(".json")).sorted,
      "curated_files" -> Main.dataFiles(s"$out/curated")))
  }

  def inputs: Map[String, Any] = Map("documents" -> docCount, "shards" -> shards,
    "documents_bytes" -> Workload.bytesUnder(s"$dir/in"),
    "documents_glob" -> s"$dir/in/documents.parquet/*.parquet",
    "oracle_sql" -> graft.SparkEntry.oracleSql("d_curate_ledger"))
}
