package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.compilex.ConstraintCompiler
import graft.run.ValidateJob
import graft.suite.NorthStar

/** Traced mode. Spans are recorded around the public graft calls the
  * benchmark makes; Spark's own metrics arrive through a
  * QueryExecutionListener (executed-plan SQLMetrics, planning phases)
  * and a SparkListener (SQL execution bounds, jobs, task metrics, block
  * updates). Each query or job is attributed to a layer by its output
  * path, else by the first graft source file in its call site. Nothing
  * inside graft is instrumented. Everything is kept in memory and
  * written out at exit.
  */
final class Tracer(spark: SparkSession, nproc: Int) {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Double, endMs: Double,
                        counts: Map[String, Double] = Map.empty)

  private val spans = ArrayBuffer.empty[Span]
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  /** Spans of one operation: a stack of open span ids under the op span. */
  final class OpScope(val op: Int, root: Int) {
    private var stack = List(root)
    def span[T](name: String)(body: => T): T = {
      val id = spans.size
      val start = nowMs
      spans += Span(id, name, stack.head, op, start, start)
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }
  }

  // ---- per-operation state filled by the listener thread ----------------
  final class Exec(val id: Long, val startMs: Double, val callFile: String) {
    var endMs: Double = startMs
    var layer: String = layerOfFile(callFile)
    val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }
  final class Job(val id: Int, val startMs: Double, val execId: Option[Long], val callFile: String) {
    var endMs: Double = startMs
  }
  final class Acc {
    val execs = mutable.LinkedHashMap.empty[Long, Exec]
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.Map.empty[Int, Int]
    val tasks = ArrayBuffer.empty[TaskRec]
    val blocks = mutable.Map.empty[String, Long]
    val qePhases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // plan metrics per QueryExecution (from the QueryExecutionListener),
    // joined to execution ids through the execution-end events
    val qeResults = ArrayBuffer.empty[(QueryExecution, Map[String, Double], Option[String])]
    val qeExec = mutable.Map.empty[QueryExecution, Long]
  }
  private var acc = new Acc
  private val accs = mutable.Map.empty[Int, (Acc, OpRecord, Map[String, Double])]

  private def layerOf(a: Acc, execId: Option[Long], callFile: String): String =
    execId.flatMap(a.execs.get).map(_.layer).getOrElse(layerOfFile(callFile))

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = acc.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          acc.execs(s.executionId) = new Exec(s.executionId, s.time.toDouble, callFile(s.details))
        case s: SparkListenerSQLExecutionEnd =>
          acc.execs.get(s.executionId).foreach(_.endMs = s.time.toDouble)
          PerfbenchAccess.queryExecution(s).foreach(q => acc.qeExec(q) = s.executionId)
        case _ =>
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = acc.synchronized {
      val execId = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val file = j.stageInfos.headOption.map(s => callFile(s.details)).getOrElse("")
      acc.jobs(j.jobId) = new Job(j.jobId, j.time.toDouble, execId, file)
      j.stageIds.foreach(s => acc.stageJob(s) = j.jobId)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = acc.synchronized {
      acc.jobs.get(j.jobId).foreach(_.endMs = j.time.toDouble)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = acc.synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val info = t.taskInfo
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        acc.tasks += TaskRec(t.stageId, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          m.jvmGCTime / 1e3, delay / 1e3,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime / 1e3)
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = acc.synchronized {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        acc.blocks(info.blockId.name) = math.max(acc.blocks.getOrElse(info.blockId.name, 0L), size)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var outPath: Option[String] = None
      visit(qe.executedPlan) {
        case w: DataWritingCommandExec =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand => outPath = Some(c.outputPath.toString)
            case _ =>
          }
          val cm = w.cmd.metrics
          def g(k: String) = cm.get(k).map(v).getOrElse(0.0)
          m("sink_rows") += g("numOutputRows"); m("sink_bytes") += g("numOutputBytes")
          m("sink_files") += g("numFiles")
          m("sink_commit_s") += (g("taskCommitTime") + g("jobCommitTime")) / 1e3
        case s: FileSourceScanExec =>
          m("scan_rows") += metric(s, "numOutputRows"); m("scan_bytes") += metric(s, "filesSize")
          m("scan_files") += metric(s, "numFiles"); m("scan_time_s") += seconds(s, "scanTime")
        case w: WholeStageCodegenExec =>
          val scans = stageScans(w.child)
          if (scans.nonEmpty) {
            m("stage_minus_scan_s") += math.max(0.0,
              seconds(w, "pipelineTime") - scans.map(seconds(_, "scanTime")).sum)
          }
        case g: GenerateExec => m("generate_rows") += metric(g, "numOutputRows"); m("has_generate") = 1
        case a: BaseAggregateExec =>
          m("agg_time_s") += seconds(a, "aggTime"); m("agg_spill") += metric(a, "spillSize")
          m("agg_peak") = math.max(m("agg_peak"), metric(a, "peakMemory"))
        case _ =>
      }
      val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 }
      acc.synchronized {
        phases.foreach { case (k, s) => acc.qePhases(k) += s }
        acc.qeResults += ((qe, m.toMap, outPath))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Runs one traced operation, then the listing/manifest/compile probes. */
  def traceOp(id: Int, wl: Workload): OpRecord = {
    val sc = spark.sparkContext
    acc = new Acc
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    val root = spans.size
    val start = nowMs
    spans += Span(root, "op", -1, id, start, start)
    val rec = wl.op(id, Some(new OpScope(id, root)))
    spans(root) = spans(root).copy(endMs = start + rec.wallS * 1e3)
    // a query or job's parent is the innermost benchmark span open at its start
    val own = spans.drop(root + 1).toSeq
    def parentAt(ms: Double): Int =
      own.filter(s => s.startMs <= ms && ms <= s.endMs).lastOption.fold(root)(_.id)
    PerfbenchAccess.drain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
    acc.qeResults.foreach { case (qe, m, outPath) =>
      acc.qeExec.get(qe).flatMap(acc.execs.get).foreach { e =>
        outPath.flatMap(layerOfPath).foreach(e.layer = _)
        m.foreach { case (k, x) => e.m(k) = x }
      }
    }
    acc.qeResults.clear(); acc.qeExec.clear()
    val probe = new OpScope(id, -1)
    val probes: Map[String, Double] = wl.probeTarget(id) match {
      case Some((table, ckpt)) =>
        val t0 = System.nanoTime()
        probe.span("probe.listing") {
          ValidateJob.listPartitions(spark, table, "source")
            .foreach(p => ValidateJob.listPartFiles(spark, table, "source", p))
        }
        val t1 = System.nanoTime()
        val lines = probe.span("probe.manifest") {
          ValidateJob.completedDetail(ckpt, ValidateJob.suiteHash(NorthStar.suite))
          val f = java.nio.file.Paths.get(ckpt, "manifest.jsonl")
          if (java.nio.file.Files.exists(f))
            java.nio.file.Files.readAllLines(f).toArray.count(_.toString.trim.nonEmpty)
          else 0
        }
        val df = spark.read.parquet(table)
        val t2 = System.nanoTime()
        probe.span("probe.compile") {
          ConstraintCompiler.violations(df, NorthStar.suite, fusedIntArrays = Set("tokens"))
        }
        val t3 = System.nanoTime()
        Map("listing_s" -> (t1 - t0) / 1e9, "manifest_lines" -> lines.toDouble,
          "compile_s" -> (t3 - t2) / 1e9)
      case None => Map.empty
    }
    accs(id) = (acc, rec, probes)
    acc.synchronized {
      acc.execs.values.foreach(e => spans += Span(spans.size, s"query:${e.layer}", parentAt(e.startMs), id,
        e.startMs, e.endMs, e.m.toMap))
      acc.jobs.values.filter(_.execId.isEmpty).foreach(j =>
        spans += Span(spans.size, s"job:${layerOfFile(j.callFile)}", parentAt(j.startMs), id, j.startMs, j.endMs))
    }
    rec
  }

  /** Per-layer metrics: the mean over traced operations of each op's value. */
  def summary(ops: Seq[OpRecord]): Map[String, Any] = {
    val per = accs.toSeq.sortBy(_._1).map { case (_, (a, rec, probes)) => opLayers(a, rec, probes) }
    val traced = ops.filter(_.traced).map(_.wallS)
    // op 0 is left out: it still pays JIT compilation the later ops do not
    val untraced = ops.filterNot(_.traced).drop(1).map(_.wallS)
    val tp50 = median(traced); val up50 = median(untraced)
    val mean = if (per.isEmpty) Map.empty[String, Double]
      else per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
    mean ++ Map(
      "trace.op_p50_traced_s" -> tp50, "trace.op_p50_untraced_s" -> up50,
      "trace.overhead_frac" -> (if (up50 > 0) tp50 / up50 - 1 else 0.0),
      "trace.self_s" -> selfTimes)
  }

  private def opLayers(a: Acc, rec: OpRecord, probes: Map[String, Double]): Map[String, Double] = {
    val execs = a.execs.values.toSeq
    def byLayer(l: String) = execs.filter(_.layer == l)
    def dur(es: Seq[Exec]) = es.map(e => (e.endMs - e.startMs) / 1e3).sum
    def sumM(es: Seq[Exec], k: String) = es.map(_.m(k)).sum
    val pv = byLayer("run.partition_validate")
    val checks = execs.filter(_.layer.startsWith("checks."))
    val scanRows = sumM(execs, "scan_rows")
    val scanBytes = sumM(execs, "scan_bytes")
    val evalS = sumM(pv, "stage_minus_scan_s")
    val genExecs = execs.filter(_.m("has_generate") > 0)
    val plan = rec.check.get("plan").collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Long]] }
      .getOrElse(Map.empty)

    def taskLayer(t: TaskRec): String =
      a.stageJob.get(t.stage).flatMap(a.jobs.get).map(j => layerOf(a, j.execId, j.callFile)).getOrElse("")
    val tasks = a.tasks.toSeq
    // wall time covered by query executions and by jobs outside any query
    val covered = union(execs.map(e => (e.startMs, e.endMs)) ++
      a.jobs.values.filter(_.execId.isEmpty).map(j => (j.startMs, j.endMs)))
    // Spark actions issued from ConnectedComponents: one per round, plus
    // the edge-list checkpoint
    val cc = execs.filter(_.callFile == "ConnectedComponents.scala").map(e => (e.startMs, e.endMs)) ++
      a.jobs.values.filter(j => j.execId.isEmpty && j.callFile == "ConnectedComponents.scala")
        .map(j => (j.startMs, j.endMs))
    val cpuS = tasks.map(_.cpuS).sum

    Map(
      "run.listing_s" -> probes.getOrElse("listing_s", 0.0),
      "run.manifest_lines" -> probes.getOrElse("manifest_lines", 0.0),
      "run.partitions_full" -> plan.getOrElse("full", 0L).toDouble,
      "run.partitions_incremental" -> plan.getOrElse("incremental", 0L).toDouble,
      "run.partitions_skipped" -> plan.getOrElse("skipped", 0L).toDouble,
      "run.rows_scanned_per_new_row" -> ratio(scanRows, rec.newRows.toDouble),
      "run.partition_validate_s" -> dur(pv),
      "run.partition_task_skew" -> stageSkew(tasks.filter(taskLayer(_) == "run.partition_validate"), _.runS),
      "run.driver_other_s" -> math.max(0.0, rec.wallS - math.min(covered, rec.wallS * 1e3) / 1e3),
      "plan.queries" -> execs.size.toDouble,
      "plan.jobs" -> a.jobs.size.toDouble,
      "plan.analysis_s" -> a.qePhases("analysis"),
      "plan.optimize_s" -> a.qePhases("optimization"),
      "plan.physical_s" -> a.qePhases("planning"),
      "compilex.build_s" -> probes.getOrElse("compile_s", 0.0),
      "scan.time_s" -> sumM(execs, "scan_time_s"),
      "scan.rows" -> scanRows,
      "scan.bytes" -> scanBytes,
      "scan.files" -> sumM(execs, "scan_files"),
      "scan.bytes_per_row" -> ratio(scanBytes, scanRows),
      "eval.stage_s" -> evalS,
      "eval.rows_per_core_s" -> ratio(sumM(pv, "scan_rows"), evalS),
      "generate.rows_out" -> sumM(execs, "generate_rows"),
      "generate.rows_out_per_row_in" -> ratio(sumM(genExecs, "generate_rows"), sumM(genExecs, "scan_rows")),
      "sink.rows" -> sumM(execs, "sink_rows"),
      "sink.bytes" -> sumM(execs, "sink_bytes"),
      "sink.files" -> sumM(execs, "sink_files"),
      "sink.commit_s" -> sumM(execs, "sink_commit_s"),
      "exchange.shuffle_write_bytes" -> tasks.map(_.swBytes).sum.toDouble,
      "exchange.shuffle_write_records" -> tasks.map(_.swRecords).sum.toDouble,
      "exchange.shuffle_read_bytes" -> tasks.map(_.srBytes).sum.toDouble,
      "exchange.fetch_wait_s" -> tasks.map(_.fetchWaitS).sum,
      "exchange.partition_skew" -> stageSkew(tasks.filter(_.srBytes > 0), _.srBytes.toDouble),
      "agg.time_s" -> sumM(execs, "agg_time_s"),
      "agg.spill_bytes" -> sumM(execs, "agg_spill"),
      "agg.peak_mem_bytes" -> (if (execs.isEmpty) 0.0 else execs.map(_.m("agg_peak")).max),
      "checks.hll_s" -> dur(byLayer("checks.hll")),
      "checks.uniqueness_s" -> dur(byLayer("checks.uniqueness")),
      "checks.referential_s" -> dur(byLayer("checks.referential")),
      "checks.rows_scanned" -> sumM(checks, "scan_rows"),
      "pipeline.cc_rounds" -> cc.size.toDouble,
      "pipeline.cc_s" -> union(cc) / 1e3,
      "pipeline.persist_bytes" -> a.blocks.values.sum.toDouble,
      "task.count" -> tasks.size.toDouble,
      "task.run_s" -> tasks.map(_.runS).sum,
      "task.cpu_s" -> cpuS,
      "task.gc_s" -> tasks.map(_.gcS).sum,
      "task.sched_delay_s" -> tasks.map(_.delayS).sum,
      "task.cpu_util" -> ratio(cpuS, rec.wallS * nproc))
  }

  /** Mean self time per span name: its duration minus the union of its children. */
  private def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      s.name -> math.max(0.0, (s.endMs - s.startMs - union(c)) / 1e3)
    }
    self.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum / math.max(1, accs.size) }
  }

  def writeSpans(path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      Json.string(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> math.max(0.0, s.endMs - s.startMs - union(c)), "counts" -> s.counts))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class TaskRec(stage: Int, runS: Double, cpuS: Double, gcS: Double, delayS: Double,
                           swBytes: Long, swRecords: Long, srBytes: Long, fetchWaitS: Double)

  /** Layer of a query by the path it writes. */
  def layerOfPath(p: String): Option[String] = {
    val rules = Seq(
      "/violations/partition=" -> "run.partition_validate", "/verdicts" -> "run.verdicts",
      "/uniqueness_prefilter" -> "checks.hll", "/dup_doc_ids" -> "checks.uniqueness",
      "/referential_violations" -> "checks.referential", "/ledger" -> "curate.ledger",
      "/curated" -> "curate.curated")
    rules.collectFirst { case (frag, layer) if p.contains(frag) => layer }
  }

  /** Layer of a query or job with no output path, by its call-site file. */
  def layerOfFile(f: String): String = f match {
    case "ConnectedComponents.scala" => "pipeline.cc"
    case "PipelineQueries.scala" | "TextOps.scala" => "pipeline.other"
    case "CurateJob.scala" => "curate.summary"
    case "Gen.scala" => "ingest"
    case "Uniqueness.scala" => "checks.hll"
    case "Referential.scala" => "checks.referential"
    case "ValidateJob.scala" => "run.summary"
    case "" => "other"
    case other => s"bench:${other.stripSuffix(".scala")}"
  }

  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
  /** First non-Spark, non-library source file in a call-site long form. */
  def callFile(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("org.apache.spark") || l.startsWith("scala.") || l.startsWith("java."))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1))).nextOption().getOrElse("")

  def v(m: SQLMetric): Double = math.max(0L, m.value).toDouble
  def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(v).getOrElse(0.0)
  def seconds(p: SparkPlan, k: String): Double = p.metrics.get(k).map { m =>
    if (m.metricType == "nsTiming") v(m) / 1e9 else v(m) / 1e3
  }.getOrElse(0.0)

  /** Pre-order walk through adaptive plans, query stages, commands and subqueries. */
  def visit(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)(f)
      case q: QueryStageExec => visit(q.plan)(f)
      case c: CommandResultExec => visit(c.commandPhysicalPlan)(f)
      case _ => p.children.foreach(visit(_)(f))
    }
    p.subqueries.foreach(visit(_)(f))
  }

  /** File scans that run inside one codegen stage (not behind an InputAdapter). */
  def stageScans(p: SparkPlan): Seq[SparkPlan] = p match {
    case s: FileSourceScanExec => Seq(s)
    // a columnar scan feeds its stage's ColumnarToRow through an InputAdapter
    case i: InputAdapter => i.child match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
    case other => other.children.flatMap(stageScans)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Length of the union of intervals. */
  def union(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Max/median of a per-task quantity within each stage of ≥2 tasks,
    * averaged over stages weighted by the stage's total.
    */
  def stageSkew(tasks: Seq[TaskRec], f: TaskRec => Double): Double = {
    val stages = tasks.groupBy(_.stage).values.filter(_.size >= 2).toSeq
    val w = stages.map(_.map(f).sum)
    val sk = stages.map { ts => val med = median(ts.map(f)); if (med > 0) ts.map(f).max / med else 1.0 }
    if (w.sum > 0) sk.zip(w).map { case (s, x) => s * x }.sum / w.sum else 0.0
  }
}
