package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One op execution's wall-clock window (epoch ms). Events are attributed to
  * the op whose window holds their start time: ops run one at a time.
  */
case class Window(pass: Int, op: String, startMs: Long, endMs: Long)

/** Listener-side tracing. Each callback only copies the fields it needs into
  * a queue; attribution and aggregation run after the session has stopped.
  */
class Tracer(spark: SparkSession) {
  case class Job(id: Int, timeMs: Long, stages: Seq[Int])
  case class Stage(id: Int, submitMs: Long, doneMs: Long)
  case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
                  gcMs: Long, schedMs: Long, shuffleWrite: Long,
                  shuffleRead: Long, spill: Long, peakMem: Long,
                  inBytes: Long, inRows: Long, failed: Boolean)
  case class Qe(startMs: Long, endMs: Long, secs: Double, phases: Map[String, Double],
                writePath: Option[String], writeRows: Long, writeBytes: Long,
                candidateRows: Option[Long])
  case class Progress(timeMs: Long, runId: String, durations: Map[String, Long],
                      stateRows: Long, stateMem: Long, stateCommitMs: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
                       i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = e.taskMetrics
      if (m == null) tasks.add(Task(e.stageId, info.duration, 0, 0, 0, 0, 0, 0,
                                    0, 0, 0, 0, failed = true))
      else {
        val getting = if (info.gettingResultTime > 0)
          info.finishTime - info.gettingResultTime else 0L
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
        tasks.add(Task(e.stageId, info.duration, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, sched,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, info.failed))
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(describe(qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.runId.toString,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  })

  /** Every node of an executed plan, through adaptive wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case o => o.children ++ o.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  private def describe(qe: QueryExecution, durationNs: Long): Qe = {
    val phases = qe.tracker.phases
    val start = phases.values.map(_.startTimeMs).filter(_ > 0)
    val all = nodes(qe.executedPlan)
    val write = all.collectFirst {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] => w
    }
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    // Distinct (da, db) candidate pairs of the pair engine: the final-mode
    // aggregate whose output is exactly those two columns.
    val cands = all.collect {
      case h: HashAggregateExec if h.requiredChildDistributionExpressions.isDefined &&
          h.aggregateExpressions.isEmpty && h.output.map(_.name) == Seq("da", "db") =>
        metric(h, "numOutputRows")
    }
    val planned = phases.get("planning").map(_.endTimeMs)
      .getOrElse(if (start.isEmpty) 0L else start.max)
    Qe(if (start.isEmpty) 0L else start.min, planned + durationNs / 1000000L,
      durationNs / 1e9,
      phases.map { case (k, v) => k -> v.durationMs / 1e3 },
      write.map(_.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString),
      write.fold(0L)(metric(_, "numOutputRows")), write.fold(0L)(metric(_, "numOutputBytes")),
      if (cands.isEmpty) None else Some(cands.sum))
  }

  /** Layer metrics per timed op window and per pass (sums over the pass's
    * ops). The runner takes medians over the passes it counts.
    */
  def summarize(windows: Seq[Window], cores: Int): Map[String, Any] = {
    def owner(t: Long): Option[Window] =
      windows.find(w => t >= w.startMs && t <= w.endMs)
    val jobOwner = jobs.asScala.toSeq.flatMap(j => owner(j.timeMs).map(j -> _))
    val stageOwner = jobOwner.flatMap { case (j, w) => j.stages.map(_ -> w) }.toMap
    val stagesDone = stages.asScala.toSeq.filter(s => stageOwner.contains(s.id))
    val taskList = tasks.asScala.toSeq.filter(t => stageOwner.contains(t.stage))
    val qeList = qes.asScala.toSeq.flatMap(q => owner(q.startMs).map(q -> _))
    val progList = progress.asScala.toSeq.flatMap(p => owner(p.timeMs).map(p -> _))

    def perWindow(w: Window): Map[String, Double] = {
      val ts = taskList.filter(t => stageOwner(t.stage) == w)
      val sts = stagesDone.filter(s => stageOwner(s.id) == w)
      val qs = qeList.collect { case (q, `w`) => q }
      val ps = progList.collect { case (p, `w`) => p }
      val wall = (w.endMs - w.startMs) / 1e3
      val slowest = if (sts.isEmpty) None else Some(sts.maxBy(s => s.doneMs - s.submitMs))
      val skew = slowest.map { s =>
        val d = ts.filter(_.stage == s.id).map(_.durationMs.toDouble)
        val med = Harness.median(d)
        if (d.isEmpty || med <= 0) 1.0 else d.max / med
      }.getOrElse(0.0)
      def phase(k: String) = qs.map(_.phases.getOrElse(k, 0.0)).sum
      def writes(suffix: String) = qs.filter(_.writePath.exists(_.endsWith(suffix)))
      def phaseEnd(suffix: String) = writes(suffix).map(_.endMs).maxOption
      def between(from: String, to: String) =
        (for (a <- phaseEnd(from); b <- phaseEnd(to)) yield (b - a) / 1e3).getOrElse(0.0)
      val batches = ps.filter(_.durations.contains("addBatch"))
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      val lastByRun = ps.groupBy(_.runId).values.map(_.maxBy(_.timeMs))
      Map(
        "wall_s" -> wall,
        "engine.scan_bytes" -> ts.map(_.inBytes).sum.toDouble,
        "engine.scan_rows" -> ts.map(_.inRows).sum.toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "exec.jobs" -> jobOwner.count(_._2 == w).toDouble,
        "exec.stages" -> sts.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.sched_wait_s" -> ts.map(_.schedMs).sum / 1e3,
        "exec.task_s" -> ts.map(_.durationMs).sum / 1e3,
        "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "exec.task_skew" -> skew,
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "exec.peak_exec_mem_bytes" -> (0L +: ts.map(_.peakMem)).max.toDouble,
        "exec.failed_tasks" -> ts.count(_.failed).toDouble,
        // MatchGraph builds its three artifacts in order; each phase runs
        // from the previous artifact's write end to its own write end.
        "dedup.rep_pairs_s" -> phaseEnd("/rep_pairs").fold(0.0)(e => (e - w.startMs) / 1e3),
        "dedup.pairs_s" -> between("/rep_pairs", "/pairs"),
        "dedup.components_s" -> between("/pairs", "/components"),
        // The engine counts its candidates before the verify pass, so the
        // aggregate shows up in a query of its own within the op.
        "dedup.candidate_rows" -> qs.flatMap(_.candidateRows).maxOption.getOrElse(0L).toDouble,
        "dedup.verified_pairs" -> writes("/rep_pairs").map(_.writeRows).sum.toDouble,
        "dedup.artifact_bytes" -> Seq("/rep_pairs", "/pairs", "/components")
          .flatMap(writes).map(_.writeBytes).sum.toDouble,
        "dedup.candidates_seen" -> qs.count(_.candidateRows.isDefined).toDouble,
        "stream.batches" -> batches.size.toDouble,
        "stream.state_rows" -> lastByRun.map(_.stateRows).sum.toDouble,
        "stream.state_mem_bytes" -> lastByRun.map(_.stateMem).sum.toDouble,
        "stream.state_commit_ms" -> ps.map(_.stateCommitMs).sum.toDouble
      ) ++ Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
               "commitOffsets", "triggerExecution").map(k => s"stream.ms.$k" -> dur(k))
    }

    val perOp = windows.map(w => w -> perWindow(w))
    val passes = perOp.groupBy(_._1.pass).toSeq.sortBy(_._1).map { case (p, ws) =>
      val keys = ws.head._2.keys
      val sums = keys.map(k => k -> ws.map(_._2(k)).sum).toMap
      // Maxima and ratios do not add across ops.
      p -> (sums ++ Map(
        "exec.task_skew" -> ws.map(_._2("exec.task_skew")).max,
        "exec.peak_exec_mem_bytes" -> ws.map(_._2("exec.peak_exec_mem_bytes")).max,
        "exec.idle_frac" -> (1 - sums("exec.task_s") / (sums("wall_s") * cores))))
    }
    Map(
      "per_pass" -> passes.map { case (p, m) => Map("pass" -> p) ++ m },
      "per_op" -> perOp.map { case (w, m) => Map("pass" -> w.pass, "op" -> w.op) ++ m })
  }
}
