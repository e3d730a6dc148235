package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.ops.{CacheScope, GraphOps}

/** Read-only batch analytics, in passes. A pass is 7 calls in an
  * order the seed permutes:
  *  - five TPC-H registry queries, Q4, Q8, Q12, Q16 and Q20
  *    (`q<n>_tpch_q<m>` in `SparkEntry.queries` with m a multiple of
  *    4), over TPC-H-style tables, each built through the registry and
  *    collected;
  *  - two `GraphOps` calls over a hub-skewed edge table: `pageRank`
  *    (fixed rounds) and `triangles` (joins), each under its own owned
  *    cache scope, collected.
  * Caches are released after every call, outside its timing.
  *
  * Check: every call's result hash must equal the warm pass's. The warm
  * pass's TPC-H results are also written as parquet with the
  * registry's oracle SQL, which `run.py` compares against
  * DuckDB after the run. */
final class Analytics(ctx: Ctx) extends Workload {
  import ctx._

  /** Every fourth TPC-H query of the registry: Q4, Q8, ..., Q20. */
  private val tpch = graft.SparkEntry.queries.keys.toSeq.sorted.filter { n =>
    n.matches("q[0-9]+_tpch_q[0-9]+") && n.split("_q").last.toInt % 4 == 0
  }
  private val graphOps: Seq[(String, DataFrame => CacheScope => DataFrame)] = Seq(
    "pageRank" -> (e => s => GraphOps.pageRank(e)(s)),
    "triangles" -> (e => s => GraphOps.triangles(e)(s)))

  private def collect(df: DataFrame) = (df.schema, df.collect().toSeq)

  /** One call: (layer, name, body returning the result's schema and rows). */
  private val calls: Seq[(String, String, () => (StructType, Seq[Row]))] =
    tpch.map(n => ("graft.queries", n,
      () => collect(graft.SparkEntry.queries(n)(spark, data.getPath)))) ++
    graphOps.map { case (n, f) => ("GraphOps", n, () => {
      val scope = CacheScope.owned()
      try collect(f(spark.read.parquet(new File(data, "edges.parquet").getPath))(scope))
      finally scope.close()
    }) }

  private val expected = mutable.Map.empty[String, String]
  /** Wall-clock time of each measured pass, input to all results,
    * cache releases included. */
  private val passS = ArrayBuffer.empty[Double]
  private val byCall = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def setup(): Unit = {
    require(tpch.size == 5, s"expected 5 TPC-H queries, found ${tpch.size}")
    val outDir = dir("tpch_results")
    // warm pass, on all cores: the hashes every timed call must
    // reproduce, and the TPC-H results the DuckDB check reads
    parallel(calls, rec.cores) { case (layer, n, body) =>
      val (schema, rows) = body()
      expected.synchronized(expected(n) = ResultHash(rows))
      if (layer == "graft.queries") {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(outDir, n).getPath)
      }
    }
    releaseCaches()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => tpch.contains(k) }
    Files.writeString(new File(outDir, "oracle_sql.json").toPath, Json.write(oracle))
  }

  def measure(deadlineNs: Long): Unit = {
    val rng = new scala.util.Random(seed)
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadlineNs) {
      val passStart = System.nanoTime()
      // (call, its rows, or None if it threw), checked after the pass
      val results = rng.shuffle(calls).map { case (layer, n, body) =>
        n -> (try {
          val ((_, rows), ms) = try rec.call(layer, n)(body()) finally releaseCaches()
          byCall.getOrElseUpdate(n, ArrayBuffer.empty) += ms
          Some(rows)
        } catch { case NonFatal(e) => System.err.println(s"$n: $e"); None })
      }
      passS += (System.nanoTime() - passStart) / 1e9
      results.foreach { case (n, rows) =>
        outcome(rows.exists(ResultHash(_) == expected(n)), s"$n: result differs from the warm pass")
      }
      passes += 1
      heapCheckpoint()
    }
  }

  def check(): Unit = ()

  private def lat = byCall.values.flatten.toSeq

  /** The slowest call's median. */
  private def slowest: (String, Double) =
    byCall.map { case (n, xs) => n -> Stats.median(xs.toSeq) }.maxBy(_._2)

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> lat.size / passS.sum,
    "latency_p50_ms" -> Stats.median(lat),
    "latency_tail_ms" -> Stats.tailMean(lat, 0.3),
    "pass_s" -> Stats.median(passS.toSeq))

  def detail: Map[String, Any] = {
    def sumOf(names: Seq[String]) = names.map(n => Stats.median(byCall(n).toSeq)).sum
    val jobs = if (!rec.traced) Map.empty[String, Any] else
      rec.callStats(rec.measuredCalls).filter(_.call.layer == "GraphOps").groupBy(_.call.op)
        .map { case (n, cs) => s"graph.${n}_jobs" -> cs.map(_.jobs.size.toDouble).sum / cs.size }
    val tpchLat = tpch.flatMap(byCall(_))
    Map(
      "analytics.passes" -> passS.size,
      "analytics.pass_s_each" -> passS.toSeq,
      "analytics.slowest_call" -> slowest._1,
      "analytics.slowest_call_ms" -> slowest._2,
      "analytics.call_samples" -> lat.size,
      "tpch.pass_s" -> sumOf(tpch) / 1000.0,
      "tpch.query_p50_ms" -> Stats.median(tpchLat),
      "tpch.slowest_query_ms" -> tpch.map(n => Stats.median(byCall(n).toSeq)).max,
      "graph.pass_s" -> sumOf(graphOps.map(_._1)) / 1000.0) ++
      byCall.map { case (n, xs) =>
        (if (tpch.contains(n)) s"tpch.${n}_ms" else s"graph.${n}_ms") -> Stats.median(xs.toSeq)
      } ++ jobs
  }
}
