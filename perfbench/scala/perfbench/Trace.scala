package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, so the benchmark's
  * own spans and Spark's job, stage and task times share one clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** Everything one pass did, summed from Spark's listener events. */
final class PassAcc {
  var jobs, stages, tasks, barrierJobs, executions, nativeExprs = 0L
  var barrierMs, taskMs, cpuNs, gcMs = 0.0
  var analysisMs, optimizationMs, planningMs = 0.0
  var checkpointBytes, shuffleWrite, shuffleRead, spill, peakTaskMem = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans kept in memory and written out when the run ends, plus the
  * per-pass layer counters. Jobs are parented to the operation whose job
  * group started them; stages and tasks to their job. Jobs that run
  * without a SQL execution id are the bare RDD actions — the fused
  * checkpoint materialisations among them. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = new ConcurrentHashMap[String, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Boolean)]() // span, start, barrier
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobParent = new ConcurrentHashMap[Long, java.lang.Long]()
  @volatile private var acc = new PassAcc

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Start a pass: fresh counters. */
  def reset(): PassAcc = { acc = new PassAcc; acc }

  /** Jobs of `group` become children of span `id`. */
  def bindGroup(group: String, id: Long): Unit = groupSpan.put(group, id)

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val barrier = props.forall(p => p.getProperty("spark.sql.execution.id") == null)
    val id = newId()
    jobStart.put(e.jobId, (id, e.time, barrier))
    e.stageIds.foreach(s => stageJob.put(s, id))
    val a = acc
    a.synchronized { a.jobs += 1; if (barrier) a.barrierJobs += 1 }
    group.flatMap(g => Option(groupSpan.get(g))).foreach(p => jobParent.put(id, p))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (id, start, barrier) =>
      val parent = Option(jobParent.remove(id)).map(_.longValue).getOrElse(0L)
      record(Span(id, parent, if (barrier) "barrier_job" else "job", s"job ${e.jobId}",
        start.toDouble, e.time.toDouble))
      if (barrier) { val a = acc; a.synchronized { a.barrierMs += (e.time - start) } }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val parent = Option(stageJob.get(si.stageId)).map(_.longValue).getOrElse(0L)
    for (s <- si.submissionTime; c <- si.completionTime)
      record(Span(newId(), parent, "stage", s"stage ${si.stageId}", s.toDouble, c.toDouble))
    val a = acc
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val parent = Option(stageJob.get(e.stageId)).map(_.longValue).getOrElse(0L)
    record(Span(newId(), parent, "task", s"task ${info.taskId}",
      info.launchTime.toDouble, info.finishTime.toDouble))
    val a = acc
    a.synchronized {
      a.tasks += 1
      a.taskMs += info.duration
      a.taskIntervals += ((info.launchTime, info.finishTime))
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakTaskMem = math.max(a.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val a = acc
      a.synchronized { a.checkpointBytes += b.memSize + b.diskSize }
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    val natives = qe.optimizedPlan.collect { case n =>
      n.expressions.map(_.collect {
        case x if x.getClass.getName.startsWith("graft.plans.") => 1
      }.size).sum
    }.sum
    val a = acc
    a.synchronized {
      a.executions += 1
      a.analysisMs += ms("analysis"); a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning"); a.nativeExprs += natives
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Install on a session's context and query-execution listener bus. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wall time of [startMs, endMs] during which no task was running. */
  def driverOnlyMs(a: PassAcc, startMs: Long, endMs: Long): Double = {
    val sorted = a.taskIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var (curS, curE) = (-1L, -1L)
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (endMs - startMs - busy).toDouble
  }

  /** Spans as JSON lines. */
  def writeSpans(path: String): Unit = {
    val lines = allSpans.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** The per-layer metrics of one traced pass. */
object Layers {
  def pass(t: Tracer, a: PassAcc, startMs: Long, endMs: Long, slots: Int, runs: Seq[OpRun],
           ctx: PassCtx, before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = {
    val wallS = (endMs - startMs) / 1e3
    val mb = 1024.0 * 1024.0
    def delta(k: String) = (after(k) - before(k)).toDouble
    val (sinks, queries) = runs.partition(_.op.sink)
    a.synchronized(Map(
      "queries.build_s" -> queries.map(_.buildNs).sum / 1e9,
      "queries.analysis_s" -> a.analysisMs / 1e3,
      "queries.optimization_s" -> a.optimizationMs / 1e3,
      "queries.planning_s" -> a.planningMs / 1e3,
      "queries.executions" -> a.executions.toDouble,
      "ops.jobs" -> a.jobs.toDouble,
      "ops.stages" -> a.stages.toDouble,
      "ops.tasks" -> a.tasks.toDouble,
      "ops.barrier_jobs" -> a.barrierJobs.toDouble,
      "ops.barrier_s" -> a.barrierMs / 1e3,
      "ops.checkpoint_mb" -> a.checkpointBytes / mb,
      "ops.driver_only_s" -> t.driverOnlyMs(a, startMs, endMs) / 1e3,
      "operators.task_s" -> a.taskMs / 1e3,
      "operators.task_cpu_s" -> a.cpuNs / 1e9,
      "operators.gc_s" -> a.gcMs / 1e3,
      "operators.core_busy" -> a.taskMs / 1e3 / (wallS * slots),
      "operators.pass_wall_s" -> wallS,
      "operators.slots" -> slots.toDouble,
      "operators.shuffle_write_mb" -> a.shuffleWrite / mb,
      "operators.shuffle_read_mb" -> a.shuffleRead / mb,
      "operators.spill_mb" -> a.spill / mb,
      "operators.peak_task_mem_mb" -> a.peakTaskMem / mb,
      "plans.native_exprs" -> a.nativeExprs.toDouble,
      "ml.infer_calls" -> delta("infer_calls"),
      "ml.infer_rows" -> delta("infer_rows"),
      "ml.infer_s" -> delta("infer_ns") / 1e9,
      "sources.objects_written" -> delta("objects_written"),
      "sources.object_mb" -> delta("object_bytes") / mb,
      "sources.jsonl_records" -> ctx.jsonlWritten.values.sum.toDouble,
      "sources.write_s" -> sinks.map(r => r.buildNs + r.collectNs).sum / 1e9))
  }
}
