package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** What every workload shares: the session, the recorder, the seed,
  * where its inputs are and where it may write, its size parameters,
  * and the run's attempted/failed counts and heap checkpoints. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
                val data: File, val work: File, params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one user-visible operation; `ok = false` fails it. */
  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  private var heapPeak = 0.0
  /** Live heap after a full collection, kept as a running peak over
    * the measured phase. Call only between timed operations. */
  def heapCheckpoint(): Unit = {
    // collect until the live heap stops shrinking: later collections,
    // after pauses, also reclaim what Spark's context cleaner released
    // in reaction to the earlier ones
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    System.gc()
    var last = used
    var i = 0
    var shrinking = true
    while (shrinking && i < 5) {
      Thread.sleep(100); System.gc()
      val now = used
      shrinking = now < last - 1.0
      last = math.min(last, now)
      i += 1
    }
    heapPeak = math.max(heapPeak, last)
  }
  def heapPeakMb: Double = heapPeak

  /** Release every cache and checkpoint a call left behind, so the
    * next call starts from the same storage baseline. */
  def releaseCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Run `f` over `items` on `threads` driver threads; the warm-up
    * passes use it, so their JIT and code-generation cost overlaps. */
  def parallel[T](items: Seq[T], threads: Int)(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = items.map(x => pool.submit(new Runnable { def run(): Unit = f(x) }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** One benchmark workload: set-up (not timed), a measured phase that
  * runs until `deadlineNs`, and output checks (not timed). */
trait Workload {
  def setup(): Unit
  def measure(deadlineNs: Long): Unit
  def check(): Unit
  /** The end-to-end metrics, by the names in BENCHMARK.json. */
  def endToEnd: Map[String, Double]
  /** Workload-specific figures for the record (metric name -> value). */
  def detail: Map[String, Any]
}

/** The order-insensitive canonical hash of a result: rows rendered
  * with doubles rounded to 6 places, sorted, then SHA-256. */
object ResultHash {
  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
  def apply(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(cell).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The JIT compiler's activity, from its management bean. */
object Jit {
  private val bean = ManagementFactory.getCompilationMXBean

  /** Total time the JIT compilers have spent compiling so far. */
  def compileMs: Long = bean.getTotalCompilationTime

  /** Wait, at most `maxMs`, until the JIT compilers have been idle for
    * two polls in a row, so compilations the warm-up queued finish
    * before measuring instead of during it. Returns the time waited. */
  def settle(maxMs: Long = 5000L, pollMs: Long = 200L): Long = {
    val start = System.nanoTime()
    var last = compileMs
    var idle = 0
    while (idle < 2 && (System.nanoTime() - start) / 1000000L < maxMs) {
      Thread.sleep(pollMs)
      val now = compileMs
      idle = if (now == last) idle + 1 else 0
      last = now
    }
    (System.nanoTime() - start) / 1000000L
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toSeq
    val o = opts.filter(_._1 != "param").toMap
    val params = opts.filter(_._1 == "param").map { case (_, kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val workload = o("workload")
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val out = new File(o("out"))
    val work = new File(o("work"))

    val spark = graft.BenchSession.build()
    val rec = new Recorder(spark, traced, cores)
    val ctx = new Ctx(spark, rec, o("seed").toLong, new File(o("data")), work, params)
    val w: Workload = workload match {
      case "stream_ingest" => new StreamIngest(ctx)
      case "analytics" => new Analytics(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var status = 0
    try {
      w.setup()
      val settleMs = Jit.settle()
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val t0 = Clock.nowUs
      rec.measuring = true
      w.measure(System.nanoTime() + (o("seconds").toDouble * 1e9).toLong)
      rec.measuring = false
      val t1 = Clock.nowUs
      w.check()
      rec.finish()
      val layer = if (traced) rec.layerMetrics() else Map.empty[String, Double]
      if (traced) {
        rec.writeSpans(new File(o("trace_dir"), "spans.jsonl"), workload, t0, t1)
        val self = rec.selfTimes()
        val total = math.max(self.map(_._2).sum, 1e-9)
        Files.writeString(new File(o("trace_dir"), "selftime.tsv").toPath,
          ("layer\tself_ms\tshare\n" +: self.map { case (l, ms) =>
            f"$l\t$ms%.3f\t${ms / total}%.4f\n" }).mkString)
      }
      val e2e = w.endToEnd ++ Map("heap_live_peak_mb" -> ctx.heapPeakMb)
      Files.writeString(out.toPath, Json.obj(
        "e2e" -> e2e, "layer" -> layer, "detail" -> w.detail,
        "setup_jvm_s" -> setupS, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "failures" -> ctx.failures.toSeq,
        "calls_by_op" -> rec.measuredCalls.groupBy(_.op).map { case (k, v) => k -> v.size },
        "record" -> Map(
          "master" -> spark.sparkContext.master,
          "cores" -> cores,
          "host_nproc" -> Runtime.getRuntime.availableProcessors(),
          "spark_version" -> spark.version,
          "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576L,
          "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
            .map(_.toString).filterNot(_.startsWith("--add-opens")),
          "conf_overrides" -> graft.BenchSession.confOverrides.toMap,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "measured_s" -> (t1 - t0) / 1e6,
          "jit_settle_ms" -> settleMs,
          "jit_compile_ms" -> Jit.compileMs)))
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        status = 1
    } finally {
      spark.stop()
    }
    sys.exit(status)
  }
}
