package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchShim, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read from `nanoTime` so that
  * intervals are monotonic. Spark's own event times are epoch ms. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed call into a graft layer's public function. */
final case class Call(id: Long, layer: String, op: String, startUs: Long, endUs: Long,
                      measured: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** A span the workload adds itself (a streaming micro-batch). */
final case class Extra(id: String, parent: String, kind: String, name: String,
                       startUs: Long, endUs: Long, attrs: Map[String, Any])

final class JobRec(val jobId: Int, val call: Option[Long], val batch: Option[String],
                   val startUs: Long, val stageIds: Seq[Int]) {
  @volatile var endUs: Long = startUs
}

final class StageRec(val stageId: Int, val attempt: Int, val startUs: Long) {
  var endUs: Long = startUs
  var job: Int = -1
  var numTasks = 0
  var runMs, cpuMs, gcMs, inBytes, shWrite, shRead, spill, fetchWaitMs, shWriteMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
}

/** Per-call Spark aggregates. */
final case class CallStats(call: Call, jobs: Seq[JobRec], stages: Seq[StageRec], planMs: Double) {
  def jobUnionUs: Long = Stats.unionLength(jobs.map(j => (j.startUs, j.endUs)))
  def stageUnionUs: Long = Stats.unionLength(stages.map(s => (s.startUs, s.endUs)))
}

/** Times every call the benchmark makes into a graft layer and, when
  * tracing, records what Spark did for it.
  *
  * Untraced, [[call]] only reads the clock. Traced, it also tags the
  * calling thread with the local property `graftbench.call` before the
  * call, and a registered SparkListener and QueryExecutionListener
  * record each job, stage and SQL execution. A job belongs to the call
  * named by its property (threads Spark starts inside a call, such as
  * a streaming query's, inherit it); a job or execution without one
  * belongs to the call whose interval holds its start. Spans stay in
  * memory until [[writeSpans]]. */
final class Recorder(spark: SparkSession, val traced: Boolean, val cores: Int) {
  import Recorder._

  private val ids = new AtomicLong(1)
  private val callBuf = ArrayBuffer.empty[Call]
  private val extras = ArrayBuffer.empty[Extra]
  @volatile var measuring = false
  /** The id of the call in progress on the benchmark's thread, 0 if none. */
  @volatile var current = 0L

  def calls: Seq[Call] = synchronized(callBuf.toList)
  def measuredCalls: Seq[Call] = calls.filter(_.measured)

  /** Run `f` as one call of `layer`; returns its value and wall ms. */
  def call[T](layer: String, op: String)(f: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(CallProp, id.toString)
    val outer = current
    current = id
    val t0 = Clock.nowUs
    try {
      val r = f
      val t1 = Clock.nowUs
      synchronized(callBuf += Call(id, layer, op, t0, t1, measuring))
      (r, (t1 - t0) / 1000.0)
    } catch {
      case e: Throwable =>
        synchronized(callBuf += Call(id, layer, op, t0, Clock.nowUs, measuring))
        throw e
    } finally {
      current = outer
      if (traced) sc.setLocalProperty(CallProp, if (outer == 0) null else outer.toString)
    }
  }

  def addSpan(e: Extra): Unit = if (traced) synchronized(extras += e)

  // ---- Spark-side records (traced runs only) ----
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val execStart = mutable.HashMap.empty[Long, Long]     // executionId -> start us
  private val execOfQe = mutable.HashMap.empty[Long, Long]      // qe.id -> executionId
  private val planMsOfQe = mutable.HashMap.empty[Long, Double]  // qe.id -> planning ms

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val batch = for (q <- prop(QueryProp); b <- prop(BatchProp)) yield s"$q/$b"
      val j = new JobRec(e.jobId, prop(CallProp).map(_.toLong), batch,
        e.time * 1000L, e.stageIds)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stages.valuesIterator.filter(_.stageId == s).foreach(_.job = e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      val i = e.stageInfo
      val s = new StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L)
      s.job = jobs.valuesIterator.filter(_.stageIds.contains(i.stageId)).map(_.jobId)
        .foldLeft(-1)(math.max)
      stages((i.stageId, i.attemptNumber())) = s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach(_.taskMs += e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.endUs = i.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
        s.numTasks = i.numTasks
        Option(i.taskMetrics).foreach { m =>
          s.runMs = m.executorRunTime
          s.cpuMs = m.executorCpuTime / 1000000L
          s.gcMs = m.jvmGCTime
          s.inBytes = m.inputMetrics.bytesRead
          s.shWrite = m.shuffleWriteMetrics.bytesWritten
          s.shRead = m.shuffleReadMetrics.totalBytesRead
          s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
          s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
          s.shWriteMs = m.shuffleWriteMetrics.writeTime / 1000000L
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Recorder.this.synchronized(execStart(s.executionId) = s.time * 1000L)
      case x: SparkListenerSQLExecutionEnd =>
        BenchShim.queryExecutionId(x).foreach(q => Recorder.this.synchronized(execOfQe(q) = x.executionId))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      Recorder.this.synchronized(planMsOfQe(qe.id) = ms)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until Spark's listener buses have delivered every event
    * posted so far, then stop listening. */
  def finish(): Unit = if (traced) {
    BenchShim.drainListenerBus(spark.sparkContext, 60000L)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  // ---- attribution ----
  private def callAt(us: Long, cs: Seq[Call]): Option[Long] =
    cs.filter(c => c.startUs <= us && us <= c.endUs).sortBy(c => c.endUs - c.startUs)
      .headOption.map(_.id)

  private def jobCall(j: JobRec, cs: Seq[Call]): Option[Long] =
    j.call.orElse(callAt(j.startUs, cs))

  def callStats(cs: Seq[Call]): Seq[CallStats] = synchronized {
    val all = calls
    val jobsByCall = jobs.values.toSeq.groupBy(j => jobCall(j, all))
    val stagesByJob = stages.values.toSeq.groupBy(_.job)
    val planByCall = planMsOfQe.toSeq.flatMap { case (qid, ms) =>
      execOfQe.get(qid).flatMap(execStart.get).flatMap(callAt(_, all)).map(_ -> ms)
    }.groupMapReduce(_._1)(_._2)(_ + _)
    cs.map { c =>
      val js = jobsByCall.getOrElse(Some(c.id), Nil)
      CallStats(c, js, js.flatMap(j => stagesByJob.getOrElse(j.jobId, Nil)),
        planByCall.getOrElse(c.id, 0.0))
    }
  }

  /** The per-layer metrics over the measured calls: sums per call for
    * counts, bytes and task times; fractions and ratios as named. */
  def layerMetrics(): Map[String, Double] = {
    val cs = callStats(measuredCalls)
    val n = math.max(cs.size, 1).toDouble
    def per(f: CallStats => Double) = cs.map(f).sum / n
    def stSum(f: StageRec => Long) = per(c => c.stages.map(f).sum.toDouble)
    val wallMs = cs.map(_.call.ms).sum
    val skews = cs.flatMap(_.stages).filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(med, 1.0)
    }
    Map(
      "driver.plan_ms" -> per(_.planMs),
      "driver.jobs" -> per(_.jobs.size.toDouble),
      "driver.stages" -> per(_.stages.size.toDouble),
      "driver.tasks" -> stSum(_.numTasks.toLong),
      "driver.gap_ms" -> per(c => c.call.ms - c.stageUnionUs / 1000.0),
      "exec.run_ms" -> stSum(_.runMs),
      "exec.cpu_ms" -> stSum(_.cpuMs),
      "exec.gc_ms" -> stSum(_.gcMs),
      "exec.slot_busy_frac" -> cs.flatMap(_.stages).map(_.runMs).sum / math.max(wallMs * cores, 1.0),
      "io.input_bytes" -> stSum(_.inBytes),
      "io.shuffle_write_bytes" -> stSum(_.shWrite),
      "io.shuffle_read_bytes" -> stSum(_.shRead),
      "io.spill_bytes" -> stSum(_.spill),
      "io.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "graft.calls" -> cs.size.toDouble,
      "graft.call_p50_ms" -> (if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.call.ms))),
      "graft.self_ms" -> per(c => c.call.ms - c.jobUnionUs / 1000.0)
    )
  }

  /** Self time per layer over the measured calls, in ms: a graft
    * layer's self time is its calls' wall time not covered by any of
    * their jobs, less planning; `driver.plan` is the planning phases;
    * `driver.sched` is job time not covered by a stage; stage wall
    * time splits between `exec` and `io` in the ratio of task run time
    * to shuffle fetch-wait plus shuffle-write time. */
  def selfTimes(): Seq[(String, Double)] = {
    val cs = callStats(measuredCalls)
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    cs.foreach { c =>
      val jobMs = c.jobUnionUs / 1000.0
      val stageMs = c.stageUnionUs / 1000.0
      acc(c.call.layer) += math.max(0.0, c.call.ms - jobMs - c.planMs)
      acc("driver.plan") += math.min(c.planMs, math.max(0.0, c.call.ms - jobMs))
      acc("driver.sched") += math.max(0.0, jobMs - stageMs)
      val run = c.stages.map(_.runMs).sum.toDouble
      val io = c.stages.map(s => s.fetchWaitMs + s.shWriteMs).sum.toDouble
      val ioShare = if (run > 0) math.min(1.0, io / run) else 0.0
      acc("io") += stageMs * ioShare
      acc("exec") += stageMs * (1 - ioShare)
    }
    acc.toSeq
  }

  /** Workload -> call -> job -> stage spans (plus the workload's own
    * extra spans), one JSON object per line. */
  def writeSpans(path: java.io.File, workload: String, startUs: Long, endUs: Long): Unit = {
    val all = calls
    val lines = ArrayBuffer.empty[String]
    lines += Json.obj("id" -> "w", "parent" -> null, "kind" -> "workload", "name" -> workload,
      "start_us" -> startUs, "end_us" -> endUs)
    all.foreach { c =>
      lines += Json.obj("id" -> s"c${c.id}", "parent" -> "w", "kind" -> "call",
        "name" -> s"${c.layer}:${c.op}", "start_us" -> c.startUs, "end_us" -> c.endUs,
        "measured" -> c.measured)
    }
    synchronized {
      extras.foreach { e =>
        lines += Json.obj("id" -> e.id, "parent" -> e.parent, "kind" -> e.kind, "name" -> e.name,
          "start_us" -> e.startUs, "end_us" -> e.endUs, "attrs" -> e.attrs)
      }
      val batchSpan = extras.filter(_.kind == "batch").map(e => e.attrs.getOrElse("batch_key", "") -> e.id).toMap
      jobs.values.foreach { j =>
        val parent = j.batch.flatMap(batchSpan.get)
          .orElse(jobCall(j, all).map(id => s"c$id")).getOrElse("w")
        lines += Json.obj("id" -> s"j${j.jobId}", "parent" -> parent, "kind" -> "job",
          "name" -> s"job ${j.jobId}", "start_us" -> j.startUs, "end_us" -> j.endUs)
      }
      stages.values.foreach { s =>
        lines += Json.obj("id" -> s"s${s.stageId}.${s.attempt}", "parent" -> s"j${s.job}",
          "kind" -> "stage", "name" -> s"stage ${s.stageId}", "start_us" -> s.startUs,
          "end_us" -> s.endUs, "tasks" -> s.numTasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
          "input_bytes" -> s.inBytes, "shuffle_write_bytes" -> s.shWrite,
          "shuffle_read_bytes" -> s.shRead, "spill_bytes" -> s.spill)
      }
    }
    java.nio.file.Files.writeString(path.toPath, lines.mkString("", "\n", "\n"))
  }
}

object Recorder {
  val CallProp = "graftbench.call"
  /** Spark's own properties naming a streaming query and micro-batch. */
  val QueryProp = "sql.streaming.queryId"
  val BatchProp = "streaming.sql.batchId"
}
