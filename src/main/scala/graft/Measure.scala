package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Per-query measurement on BenchSession's session — the quick loop the
  * whole-suite Bench is too coarse for:
  *
  * `runMain graft.Measure <time|profile|explain> <sfDir> <name,name,...> [runs] [k=v;k=v]`
  *
  *  - `time`: cold runs (clearCache between), each run and the min
  *    printed. "Cold" means no cached data: the fixtures' parquet
  *    schemas stay cached in the session between runs ([[Tables]]),
  *    so only the first run of a session pays their inference jobs.
  *    With a `k=v;k=v` override list: a paired A/B of those runtime
  *    SQL confs instead (see `ab`).
  *  - `profile`: stage table of the LAST run — where inside a cell the
  *    time goes.
  *  - `explain`: the formatted physical plan, without running the
  *    query (the plan-audit loop behind docs/PLANS.md).
  *
  * Comma-separated names share one JVM/session, which would otherwise
  * cost a ~20 s spin-up per query.
  */
object Measure {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("time", "profile", "explain")(args(0)),
      "usage: Measure <time|profile|explain> <sfDir> <name,name,...> [runs] [k=v;k=v]")
    val Array(mode, dir, list) = args.take(3)
    val names = list.split(',').toSeq
    val runs = args.lift(3).map(_.toInt)
    val overrides = args.lift(4).map(BenchSession.parseConfPairs).getOrElse(Nil)
    val spark = BenchSession.build()
    try mode match {
      case "time" if overrides.isEmpty => names.foreach(time(spark, dir, _, runs.getOrElse(3)))
      case "time" => names.foreach(ab(spark, dir, _, runs.getOrElse(3), overrides))
      case "profile" => names.foreach(profile(spark, dir, _, runs.getOrElse(1)))
      case "explain" => names.foreach { n =>
        println(s"===== $n =====")
        println(explain(spark, dir, n).getOrElse(s"[explain] unknown query: $n"))
      }
    } finally spark.stop()
  }

  /** The formatted physical plan of registry query `name`, or None for
    * an unknown name. The caches its build left are released after, so
    * cells explained in one session plan as they do one JVM each. */
  def explain(spark: SparkSession, dir: String, name: String): Option[String] =
    SparkEntry.queries.get(name).map { fn =>
      try fn(spark, dir).queryExecution.explainString(ExplainMode.fromString("formatted"))
      finally BenchSession.releaseCaches(spark)
    }

  private def time(spark: SparkSession, dir: String, name: String, runs: Int): Unit = {
    val times = (1 to runs).map { i =>
      val t = BenchSession.timeQuery(spark, name, dir)
      println(f"[time] $name run $i: $t%.3f s")
      t
    }
    val ok = times.filter(_ >= 0)
    if (ok.isEmpty) println(s"[time] $name: every run failed (unknown query name?)")
    else println(f"[time] $name min: ${ok.min}%.3f s")
  }

  /** Paired A/B: arm A is the session as-is, arm B the overrides,
    * alternated run by run inside ONE JVM so host drift hits both arms
    * equally (single-arm run-to-run noise on a shared host is ±30%).
    * Only valid for RUNTIME-settable confs (AQE knobs, join strategy
    * prefs — not codegen/static ones). */
  private def ab(spark: SparkSession, dir: String, name: String, runs: Int,
                 overrides: Seq[(String, String)]): Unit = {
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    def setB(): Unit = overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    def setA(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val a = mutable.ArrayBuffer.empty[Double]
    val b = mutable.ArrayBuffer.empty[Double]
    // ABBA counterbalancing: alternate which arm leads each iteration
    // so warm-cache and within-iteration drift hit the arms
    // symmetrically instead of always favoring the follower
    (1 to runs).foreach { i =>
      def runA(): Unit = { setA(); a += BenchSession.timeQuery(spark, name, dir) }
      def runB(): Unit = { setB(); b += BenchSession.timeQuery(spark, name, dir) }
      if (i % 2 == 1) { runA(); runB() } else { runB(); runA() }
    }
    setA()
    val am = a.filter(_ >= 0); val bm = b.filter(_ >= 0)
    if (am.nonEmpty && bm.nonEmpty)
      println(f"[ab] $name A_min=${am.min}%.3f B_min=${bm.min}%.3f " +
        f"A_med=${am.sorted.apply(am.size / 2)}%.3f B_med=${bm.sorted.apply(bm.size / 2)}%.3f " +
        f"ratioB/A=${bm.min / am.min}%.3f")
    else println(s"[ab] $name failed: A=${a.mkString(",")} B=${b.mkString(",")}")
  }

  private final case class Stage(id: Int, name: String, callsite: String, ms: Long,
                                 tasks: Int, input: Long, shufRead: Long,
                                 shufWrite: Long, spill: Long)

  /** Runs the query `runs` times through the same noop-sink path Bench
    * times and prints every stage of the LAST run — duration, task
    * count, input/shuffle/spill bytes and graft callsite — sorted by
    * wall time: the Spark UI's stage view, which the bench session
    * disables. */
  private def profile(spark: SparkSession, dir: String, name: String, runs: Int): Unit = {
    val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = Option(si.taskMetrics)
        val st = Stage(si.stageId, si.name,
          si.details.linesIterator.toSeq.drop(1).find(l =>
            l.contains("graft.") && !l.contains("graft.Measure")).getOrElse("").trim,
          (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L),
          si.numTasks,
          m.fold(0L)(_.inputMetrics.bytesRead),
          m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.memoryBytesSpilled))
        stages.synchronized { stages((si.stageId, si.attemptNumber())) = st }
      }
    }
    // every stage event of a finished action is POSTED before the
    // action returns; waiting for the bus to deliver them is exact,
    // where sampling the recorded set for stability can stop early
    // during one long listener stall
    def drain(): Unit = ListenerBridge.waitUntilEmpty(spark.sparkContext, 60000L)
    spark.sparkContext.addSparkListener(listener)
    try (1 to runs).foreach { i =>
      if (i == runs) { drain(); stages.synchronized(stages.clear()) }
      val t = BenchSession.timeQuery(spark, name, dir)
      println(f"[profile] $name run $i: $t%.3f s")
    } finally {
      drain()
      spark.sparkContext.removeSparkListener(listener)
    }

    def mb(b: Long) = f"${b / 1e6}%8.1f"
    val all = stages.synchronized(stages.values.toSeq)
    println(f"[profile] ${all.size} stages, total stage ms ${all.map(_.ms).filter(_ > 0).sum}")
    println(f"${"ms"}%7s ${"tasks"}%5s ${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s ${"spillMB"}%8s  stage (callsite)")
    all.sortBy(-_.ms).take(40).foreach { s =>
      println(f"${s.ms}%7d ${s.tasks}%5d ${mb(s.input)} ${mb(s.shufRead)} ${mb(s.shufWrite)} ${mb(s.spill)}  [${s.id}] ${s.name.take(60)} | ${s.callsite.take(90)}")
    }
  }
}
