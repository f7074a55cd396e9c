package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** The traced run's own instrumentation: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener that record events
  * in memory. Nothing is aggregated while queries run; [[report]] reads
  * the events after the session has stopped (which drains the listener
  * bus), attributes them to the benchmark's query windows, and returns
  * per-layer metrics per traced pass plus the span tree as JSON.
  *
  * Plan phases and operator counts are read from the QueryExecution of
  * each query's collect (the final AQE plan included).
  *
  * Attribution: jobs carry the job group the harness sets per query
  * (`perfbench/<pass>/<query>`), so eager jobs inside a query's build are
  * attributed too; streaming micro-batch jobs run under the stream's own
  * group and are placed by start time. Stages and tasks follow their job;
  * RDD blocks follow the stage that computed their RDD. */
final class Recorder(spark: SparkSession) {
  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, var submit: Long, var done: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long,
      schedMs: Long, failed: Boolean, inBytes: Long, inRows: Long, shW: Long, shR: Long,
      fetchMs: Long, spill: Long)
  final case class Plan(start: Long, end: Long, phases: Seq[(String, Long, Long)],
      counts: Map[String, Int])
  final case class Progress(ts: Long, dur: Map[String, Long], stateCommitMs: Long, stateRows: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val rddStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val blocks = new ConcurrentLinkedQueue[(Int, Long)] // rdd id, bytes
  private val plans = new ConcurrentLinkedQueue[Plan]
  private val progress = new ConcurrentLinkedQueue[Progress]

  var jvmCold: Snap = _
  var jvmWarm: Snap = _
  var kernels: Seq[(String, Long)] = Nil

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(Job(e.jobId, g, e.time, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      stages.put(s.stageId, Stage(s.stageId, s.submissionTime.getOrElse(0L), 0L))
      s.rddInfos.foreach(r => rddStage.putIfAbsent(r.id, s.stageId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.done = e.stageInfo.completionTime.getOrElse(0L)
        s.submit = e.stageInfo.submissionTime.getOrElse(s.submit)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val dur = i.finishTime - i.launchTime
        val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
        tasks.add(Task(e.stageId, m.executorRunTime,
          m.executorCpuTime, sched, i.failed, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
          blocks.add((rdd, b.memSize + b.diskSize))
        case _ =>
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (p, s) => (p, s.startTimeMs, s.endTimeMs) }
      if (ph.nonEmpty)
        plans.add(Plan(ph.map(_._2).min, ph.map(_._3).max, ph, Recorder.count(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli, dur,
        p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numRowsUpdated).sum))
    }
  })

  /** Per-layer metrics (mean per traced pass) and the span tree JSON. */
  def report(runs: Seq[Harness.Timed], tracedPasses: Seq[Int],
      cores: Int): (Seq[(String, Double)], String) = {
    val nPass = math.max(1, tracedPasses.size).toDouble
    val allJobs = jobs.asScala.toSeq
    val byGroup = allJobs.groupBy(_.group)
    def within(t: Long, r: Harness.Timed) = t >= r.t0Ms && t <= r.endMs
    val jobsOf: Map[Harness.Timed, Seq[Job]] = runs.map { r =>
      val own = byGroup.getOrElse(s"perfbench/${r.pass}/${r.name}", Nil)
      val other = allJobs.filter(j => !j.group.startsWith("perfbench/") && within(j.start, r))
      r -> (own ++ other)
    }.toMap
    val stageJob = allJobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val tasksByStage = tasks.asScala.toSeq.groupBy(_.stage)
    val runOfJob: Map[Int, Harness.Timed] = jobsOf.toSeq.flatMap { case (r, js) => js.map(_.id -> r) }.toMap
    def tasksOf(js: Seq[Job]) = js.flatMap(_.stages).flatMap(s => tasksByStage.getOrElse(s, Nil))
    val plansOf: Map[Harness.Timed, Seq[Plan]] = {
      val ps = plans.asScala.toSeq
      runs.map(r => r -> ps.filter(p => within(p.start, r))).toMap
    }

    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    val spans = new Spans
    tracedPasses.foreach { p =>
      val rs = runs.filter(_.pass == p)
      if (rs.nonEmpty) {
        val passId = spans.add("pass", s"pass $p", -1, "", rs.map(_.t0Ms).min, rs.map(_.endMs).max)
        rs.foreach { r =>
          val qid = s"$p/${r.name}"
          val qs = spans.add("query", r.name, passId, qid, r.t0Ms, r.endMs)
          val bs = spans.add("build", "build", qs, qid, r.t0Ms, r.buildEndMs)
          val es = spans.add("execute", "execute", qs, qid, r.buildEndMs, r.execEndMs)
          spans.add("release", "release", qs, qid, r.execEndMs, r.endMs)
          val js = jobsOf(r)
          val (buildJobs, execJobs) = js.partition(_.start < r.buildEndMs)
          add("build.ms", r.buildNs / 1e6)
          add("build.jobs", buildJobs.size)
          add("release.ms", r.releaseNs / 1e6)
          m("storage.resident_mb_at_start") = math.max(m("storage.resident_mb_at_start"), r.residentMb)
          add("exec.jobs", execJobs.size)
          val execStages = execJobs.flatMap(_.stages).filter(s => tasksByStage.contains(s))
          add("exec.stages", execStages.size)
          // build.* and exec.* split the query's tasks by phase; scan.*,
          // shuffle.* and spill.mb count both phases
          val ts = tasksOf(js)
          val buildTs = tasksOf(buildJobs)
          val execTs = tasksOf(execJobs)
          add("build.task_run_ms", buildTs.map(_.runMs).sum)
          add("build.task_cpu_ms", buildTs.map(_.cpuNs).sum / 1e6)
          add("exec.tasks", execTs.size)
          add("exec.task_run_ms", execTs.map(_.runMs).sum)
          add("exec.task_cpu_ms", execTs.map(_.cpuNs).sum / 1e6)
          add("exec.sched_delay_ms", execTs.map(_.schedMs).sum)
          add("exec.failed_tasks", execTs.count(_.failed))
          add("scan.input_mb", ts.map(_.inBytes).sum / 1048576.0)
          add("scan.input_rows", ts.map(_.inRows).sum)
          add("shuffle.write_mb", ts.map(_.shW).sum / 1048576.0)
          add("shuffle.read_mb", ts.map(_.shR).sum / 1048576.0)
          add("shuffle.fetch_wait_ms", ts.map(_.fetchMs).sum)
          add("spill.mb", ts.map(_.spill).sum / 1048576.0)
          val execWall = math.max(1L, r.execEndMs - r.buildEndMs)
          val covered = Spans.union(execJobs.map(j => (math.max(j.start, r.buildEndMs),
            math.min(j.end, r.execEndMs))))
          add("exec.driver_gap_ms", math.max(0L, execWall - covered))
          add("exec.slot_wall_ms", cores.toDouble * execWall)
          js.foreach { j =>
            val parent = if (j.start < r.buildEndMs) bs else es
            val jid = spans.add("job", s"job ${j.id}", parent, qid, j.start, j.end)
            j.stages.flatMap(s => Option(stages.get(s))).filter(_.done > 0).foreach { s =>
              spans.add("stage", s"stage ${s.id}", jid, qid, s.submit, s.done)
            }
          }
          // the query's own action is planned during execute (its analysis
          // ran when the Dataset was built); eager actions end inside build
          plansOf(r).foreach { pl =>
            val parent = if (pl.end < r.buildEndMs) bs else es
            pl.phases.foreach { case (ph, a, b) => spans.add("plan", ph, parent, qid, a, b) }
            if (pl.end >= r.buildEndMs) {
              pl.phases.foreach { case (ph, a, b) => add(s"plan.${ph}_ms", b - a) }
              pl.counts.foreach { case (k, v) => add(s"plan.$k", v) }
            }
          }
          val rdds = rddStage.asScala.collect {
            case (rdd, st) if stageJob.get(st).flatMap(runOfJob.get).contains(r) => rdd
          }.toSet
          blocks.asScala.filter(b => rdds.contains(b._1)).foreach { b =>
            add("cut.blocks", 1); add("cut.mb", b._2 / 1048576.0)
          }
          progress.asScala.filter(pr => within(pr.ts, r)).foreach { pr =>
            def dur(k: String): Long = pr.dur.getOrElse(k, 0L)
            add("stream.batches", 1)
            add("stream.trigger_ms", dur("triggerExecution"))
            add("stream.add_batch_ms", dur("addBatch"))
            add("stream.wal_commit_ms", dur("walCommit") + dur("commitOffsets"))
            add("stream.state_commit_ms", pr.stateCommitMs)
            add("stream.state_rows", pr.stateRows)
          }
        }
      }
    }
    val slotRun = m("exec.task_run_ms")
    val slotWall = m.remove("exec.slot_wall_ms").getOrElse(1.0)
    val resident = m.remove("storage.resident_mb_at_start").getOrElse(0.0)
    val perPass = Recorder.layerNames.map { k =>
      k -> (k match {
        case "exec.slot_util" => slotRun / math.max(1.0, slotWall)
        case "storage.resident_mb_at_start" => resident
        case "io.wchar_mb" => jvmWarm.wcharMb / nPass
        case "jvm.gc_ms" => jvmWarm.gcMs / nPass
        case "jvm.jit_ms" => jvmCold.jitMs
        case _ => m(k) / nPass
      })
    }
    val self = spans.selfByKind.map { case (k, v) => s"self.${k}_ms" -> v / nPass }
    val kernel = kernels.map { case (f, rows) =>
      val cpuNs = tasksOf(byGroup.getOrElse(s"perfbench/kernel/$f", Nil)).map(_.cpuNs).sum
      s"kernel.$f.ns_per_row" -> cpuNs.toDouble / (Kernels.reps * rows)
    }
    val all = perPass ++ Recorder.spanKinds.map(k => s"self.${k}_ms" -> self.getOrElse(s"self.${k}_ms", 0.0)) ++ kernel
    (all, spans.render(all))
  }
}

object Recorder {
  val layerNames: Seq[String] = Seq(
    "scan.input_mb", "scan.input_rows", "build.ms", "build.jobs", "build.task_run_ms",
    "build.task_cpu_ms",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "plan.exchanges", "plan.broadcasts", "plan.scans", "plan.codegen_stages",
    "plan.single_partition_ops",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.sched_delay_ms", "exec.driver_gap_ms", "exec.slot_util", "exec.failed_tasks",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "spill.mb",
    "cut.blocks", "cut.mb", "storage.resident_mb_at_start", "release.ms",
    "stream.batches", "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.state_commit_ms", "stream.state_rows", "io.wchar_mb", "jvm.jit_ms", "jvm.gc_ms")

  /** Span kinds reported as self time; a query span has none, since its
    * build, execute and release children tile it. */
  val spanKinds: Seq[String] = Seq("pass", "build", "execute", "release", "plan", "job", "stage")

  /** Operator counts of an executed plan, descending into the final AQE
    * plan, query stages and subqueries. */
  def count(root: SparkPlan): Map[String, Int] = {
    val c = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ReusedExchangeExec =>
        case s: ShuffleExchangeLike =>
          c("exchanges") += 1
          if (s.outputPartitioning == SinglePartition) c("single_partition_ops") += 1
        case _: BroadcastExchangeLike => c("broadcasts") += 1
        case _: FileSourceScanExec | _: BatchScanExec => c("scans") += 1
        case _: WholeStageCodegenExec => c("codegen_stages") += 1
        case w: WindowExec if w.partitionSpec.isEmpty => c("single_partition_ops") += 1
        case co: CoalesceExec if co.numPartitions == 1 => c("single_partition_ops") += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    Seq("exchanges", "broadcasts", "scans", "codegen_stages", "single_partition_ops")
      .map(k => k -> c(k)).toMap
  }
}

/** Span tree: name, kind, parent, query id, start and end (epoch ms). */
final class Spans {
  private final case class S(id: Int, kind: String, name: String, parent: Int, q: String, a: Long, b: Long)
  private val all = mutable.ArrayBuffer.empty[S]
  def add(kind: String, name: String, parent: Int, q: String, a: Long, b: Long): Int = {
    all += S(all.size, kind, name, parent, q, a, math.max(a, b))
    all.size - 1
  }
  /** Self time: a span's duration minus the union of its children. */
  def selfByKind: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.toSeq.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.a, s.a), math.min(c.b, s.b)))
      s.kind -> (s.b - s.a - Spans.union(cs.toSeq)).toDouble
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }
  def render(metrics: Seq[(String, Double)]): String = {
    val ss = all.map(s =>
      s"""{"id":${s.id},"kind":"${s.kind}","name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""query":${Json.str(s.q)},"start_ms":${s.a},"end_ms":${s.b}}""")
    s"""{"metrics":${metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")},"spans":${ss.mkString("[\n", ",\n", "]")}}"""
  }
}

object Spans {
  /** Total length of the union of [a, b) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curA, curB = 0L
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }
}
