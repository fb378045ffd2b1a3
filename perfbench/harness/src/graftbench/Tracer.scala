package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The traced round: listens to Spark's job/stage/task events and to every
  * finished QueryExecution, ties them to the current op through a per-op
  * job group, and after each op reads the planning phases
  * (`QueryExecution.tracker`) and the final AQE plans' SQLMetrics.
  *
  * Spans (run → workload → op → queries.build / plans.* / exec.job →
  * exec.stage, with the planning and jobs that run inside the entry call
  * nested under queries.build, plus the session.* set-up spans) stay in
  * memory and are written to `spans.jsonl` by [[finish]]. Per op it also writes the final
  * formatted plan and the per-stage table under `ops/`.
  */
final class Tracer(spark: SparkSession, dir: File) extends SparkListener with QueryExecutionListener {
  private val opsDir = new File(dir, "ops")
  opsDir.mkdirs()

  final case class Span(id: Int, parent: Int, op: String, name: String, startMs: Double, endMs: Double)
  private final case class StageRec(id: Int, attempt: Int, name: String, tasks: Int,
      submitMs: Long, completeMs: Long, runMs: Long, cpuMs: Long)
  private final class TaskAgg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var peakMem = 0L
    var shufBytes = 0L; var shufRecords = 0L; var fetchWaitMs = 0L; var spill = 0L
    var bytesRead = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private def span(parent: Int, op: String, name: String, s: Double, e: Double): Int =
    spans.synchronized { spans += Span(spans.size, parent, op, name, s, e); spans.size - 1 }

  private val runSpan = span(-1, "", "run", Main.nowMs, Double.NaN)
  private val workloadSpan = span(runSpan, "", "workload", Main.nowMs, Double.NaN)

  // events, keyed by op id via the job group
  private val jobOp = mutable.Map.empty[Int, String]
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]
  private val taskAggs = mutable.Map.empty[String, TaskAgg]
  private val qes = mutable.Map.empty[String, mutable.ArrayBuffer[QueryExecution]]

  @volatile private var curOp: String = ""
  private var curName = ""
  private var curSink = ""

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def opOfStage(stageId: Int): Option[String] =
    stageJob.get(stageId).flatMap(jobOp.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobOp(e.jobId) = group
    jobTimes(e.jobId) = (e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    stages((si.stageId, si.attemptNumber())) = StageRec(si.stageId, si.attemptNumber(),
      si.name.takeWhile(_ != '\n'), si.numTasks,
      si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
      if (tm == null) 0L else tm.executorRunTime,
      if (tm == null) 0L else tm.executorCpuTime / 1000000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) opOfStage(e.stageId).foreach { op =>
      val a = taskAggs.getOrElseUpdate(op, new TaskAgg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.shufBytes += m.shuffleWriteMetrics.bytesWritten
      a.shufRecords += m.shuffleWriteMetrics.recordsWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes.getOrElseUpdate(curOp, mutable.ArrayBuffer.empty) += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  def beginOp(id: String, name: String, sink: String): Unit = {
    curOp = id; curName = name; curSink = sink
    spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
  }

  /** Close the current op: drain the listener bus, then turn its events,
    * planning phases and final plans into spans, artifacts and counts.
    */
  def endOp(startMs: Double, builtMs: Double, endMs: Double, built: Option[DataFrame]): Map[String, Any] = {
    spark.sparkContext.clearJobGroup()
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val op = curOp
    synchronized {
      val opSpan = span(workloadSpan, op, s"op:$curName", startMs, endMs)
      // planning and jobs that happen inside the entry call belong to it
      val buildSpan = span(opSpan, op, "queries.build", startMs, builtMs)
      def parentAt(t: Double) = if (t < builtMs) buildSpan else opSpan
      // QueryExecutions the op ran; the returned DataFrame's own one is
      // only analysed (its plan is never asked for, which would plan it)
      val opQes = qes.getOrElse(op, Nil).toVector
      val trackers = built.map(_.queryExecution.tracker).toSeq ++ opQes.map(_.tracker)

      // planning phases
      val phaseSums = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
      for (t <- trackers; (phase, s) <- t.phases if phaseSums.contains(phase)) {
        phaseSums(phase) += s.durationMs
        val layer = if (phase == "optimization") "plans.optimizer" else s"plans.$phase"
        span(parentAt(s.startTimeMs.toDouble), op, layer, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }

      // jobs and stages
      val jobs = jobOp.collect { case (j, o) if o == op => j }.toVector.sorted
      val buildJobs = jobs.count(j => jobTimes(j)._1 <= builtMs)
      val jobSpan = jobs.map { j =>
        val (s, e) = jobTimes(j)
        j -> span(parentAt(s.toDouble), op, "exec.job", s.toDouble, (if (e < 0) s else e).toDouble)
      }.toMap
      val opStages = stages.values.filter(st => stageJob.get(st.id).exists(jobSpan.contains))
        .toVector.sortBy(st => (st.id, st.attempt))
      for (st <- opStages if st.submitMs >= 0)
        span(jobSpan(stageJob(st.id)), op, "exec.stage", st.submitMs.toDouble, st.completeMs.toDouble)
      val stageIntervals = opStages.filter(_.submitMs >= 0)
        .map(st => (st.submitMs.toDouble, st.completeMs.toDouble))
      val stageUnion = unionLength(stageIntervals)
      val busy = unionLength(stageIntervals :+ ((startMs, builtMs)))

      // final plans: scans, joins/generates, writes
      val plans = opQes.map(_.executedPlan)
      val nodes = plans.flatMap(walk)
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      val scans = nodes.collect { case s: FileSourceScanExec => s }.distinct
      val joinRows = nodes.collect {
        case j: BaseJoinExec => metric(j, "numOutputRows")
        case g: GenerateExec => metric(g, "numOutputRows")
      }.sum
      val writes = nodes.collect { case w: DataWritingCommandExec => w }.distinct
      def isSink(w: DataWritingCommandExec) = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.contains(curSink)
        case _ => false
      }
      val (sinkW, progW) = writes.partition(isSink)
      val resultRows = sinkW.map(metric(_, "numOutputRows")).sum
      val rowsScanned = scans.map(metric(_, "numOutputRows")).sum
      val a = taskAggs.getOrElse(op, new TaskAgg)

      // artifacts: final formatted plans + per-stage table
      val base = s"${op}_$curName"
      val metricLines = nodes.distinct.flatMap { n =>
        val ms = n.metrics.toSeq.sortBy(_._1).collect { case (k, m) if m.value != 0 => s"$k=${m.value}" }
        if (ms.isEmpty) None else Some(s"${n.nodeName}: ${ms.mkString(", ")}")
      }
      Files.writeString(Paths.get(opsDir.getPath, s"$base.plan.txt"),
        opQes.map(qe => try qe.explainString(FormattedMode) catch {
          case e: Throwable => s"(plan unavailable: ${e.getMessage})"
        }).mkString("", "\n\n", "\n== SQLMetrics of the final plans ==\n") +
          metricLines.mkString("", "\n", "\n"))
      Files.writeString(Paths.get(opsDir.getPath, s"$base.stages.tsv"),
        ("stage\tattempt\ttasks\twall_ms\trun_ms\tcpu_ms\tname" +: opStages.map(st =>
          s"${st.id}\t${st.attempt}\t${st.tasks}\t${st.completeMs - st.submitMs}\t${st.runMs}\t${st.cpuMs}\t${st.name}"))
          .mkString("", "\n", "\n"))

      val wallS = (endMs - startMs) / 1000.0
      Map("trace" -> Map(
        "queries.build_jobs" -> buildJobs,
        "plans.analysis_s" -> phaseSums("analysis") / 1000.0,
        "plans.optimizer_s" -> phaseSums("optimization") / 1000.0,
        "plans.planning_s" -> phaseSums("planning") / 1000.0,
        "plans.extent_pushed" -> scans.count(_.metadata.get("PushedFilters").exists(_.contains("extent"))),
        "exec.jobs" -> jobs.size,
        "exec.stages" -> opStages.size,
        "exec.tasks" -> a.tasks,
        "exec.stage_wall_s" -> stageUnion / 1000.0,
        "exec.driver_gap_s" -> math.max(0.0, wallS - busy / 1000.0),
        "tasks.cpu_s" -> a.cpuNs / 1e9,
        "tasks.run_s" -> a.runMs / 1000.0,
        "tasks.gc_s" -> a.gcMs / 1000.0,
        "tasks.peak_exec_mem_mb" -> a.peakMem / 1048576.0,
        "ops.join_rows_out" -> joinRows,
        "ops.result_rows" -> resultRows,
        "sources.files_read" -> scans.map(metric(_, "numFiles")).sum,
        "sources.partitions_read" -> scans.map(metric(_, "numPartitions")).sum,
        "sources.bytes_read" -> a.bytesRead,
        "sources.rows_scanned" -> rowsScanned,
        "sources.files_written" -> progW.map(metric(_, "numFiles")).sum,
        "sources.bytes_written" -> progW.map(metric(_, "numOutputBytes")).sum,
        "shuffle.bytes_written" -> a.shufBytes,
        "shuffle.records_written" -> a.shufRecords,
        "shuffle.fetch_wait_s" -> a.fetchWaitMs / 1000.0,
        "shuffle.spill_bytes" -> a.spill))
    }
  }

  /** Every node of a finished plan: through AQE's final plan, query
    * stages, reused exchanges and subqueries.
    */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
    case q: QueryStageExec        => q +: walk(q.plan)
    case r: ReusedExchangeExec    => r +: walk(r.child)
    case _                        => p +: (p.children ++ p.subqueries).flatMap(walk)
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Close the run: add the set-up spans and write every span out. The
    * run span starts with the first set-up cycle.
    */
  def finish(setup: Seq[Map[String, Any]]): Unit = synchronized {
    val end = Main.nowMs
    val start = (spans(runSpan).startMs +: setup.map(_("start_ms").asInstanceOf[Double])).min
    spans(runSpan) = spans(runSpan).copy(startMs = start, endMs = end)
    spans(workloadSpan) = spans(workloadSpan).copy(endMs = end)
    setup.zipWithIndex.foreach { case (s, i) =>
      val st = s("start_ms").asInstanceOf[Double]
      val b = st + s("build_s").asInstanceOf[Double] * 1000
      val en = b + s("enable_s").asInstanceOf[Double] * 1000
      val w = en + s("warmup_s").asInstanceOf[Double] * 1000
      val p = span(runSpan, s"setup$i", "session.setup", st, w)
      span(p, s"setup$i", "session.build", st, b)
      span(p, s"setup$i", "session.enable", b, en)
      span(p, s"setup$i", "session.warmup", en, w)
    }
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    Files.writeString(Paths.get(dir.getPath, "spans.jsonl"), spans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("", "\n", "\n"))
  }
}
