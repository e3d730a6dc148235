package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** `Measure explain` names several cells in one session; each cell's
  * plan must be the plan it has alone, whatever cells came before. */
class MeasureSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sfDir

  /** The plan without what differs build to build: expression and
    * exchange plan ids. */
  private def stripIds(plan: String): String =
    plan.replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "plan_id=?")
  private def inMemory(plan: String): Int = "InMemoryRelation".r.findAllMatchIn(plan).size

  test("Measure.explain releases a cell's caches: l2_minhash_estimate after l2_minhash_lsh plans as it does alone") {
    BenchSession.releaseCaches(spark)
    // alone, the cell's plan holds only the caches it registers itself
    // (nearDupPairs caches its shingle prep)
    val alone = Measure.explain(spark, dir, "l2_minhash_estimate").get
    // the leak being guarded: a cache l2_minhash_lsh registers swaps a
    // subtree of l2_minhash_estimate's plan for an InMemoryRelation
    SparkEntry.queries("l2_minhash_lsh")(spark, dir)
    val leaked = SparkEntry.queries("l2_minhash_estimate")(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(inMemory(leaked) > inMemory(alone),
      s"no cache leaks here, so the check below shows nothing:\n$leaked")
    BenchSession.releaseCaches(spark)

    assert(Measure.explain(spark, dir, "l2_minhash_lsh").isDefined)
    val second = Measure.explain(spark, dir, "l2_minhash_estimate").get
    val diff = stripIds(second).linesIterator.zip(stripIds(alone).linesIterator)
      .filter { case (a, b) => a != b }.take(5).mkString("\n")
    assert(stripIds(second) == stripIds(alone),
      s"l2_minhash_lsh's caches leaked into the next cell's plan:\n$diff")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(Measure.explain(spark, dir, "no_such_cell").isEmpty)
  }
}
