package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}

class MinHashExprSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val P = MinHashes.P

  /** The interpreted HOF spelling the kernel replaces: one
    * transform + array_min pass per permutation. */
  private def composed(df: org.apache.spark.sql.DataFrame) = {
    val base = df.select(col("doc_id"),
      ShingleExprs.shingle_sha60(col("text")).as("arr"))
    val sigs = (0 until MinHashes.NPERM).map(k => array_min(expr(
      s"transform(arr, h -> (h % $P * ${MinHashes.permA(k)}L + ${MinHashes.permB(k)}L) % $P)")))
    base.select(col("doc_id"), array(sigs: _*).as("sig"))
  }

  private def native(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
      MinHashExprs.minhash_sig(ShingleExprs.shingle_sha60(col("text"))).as("sig"))

  test("minhash_sig equals the 64 transform/array_min passes on the fixture") {
    val docs = Tables(spark, SparkFixture.sfDir, "documents")
    val a = composed(docs).as[(Long, Seq[Long])].collect().toMap
    val b = native(docs).as[(Long, Seq[Long])].collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, sig) => assert(b(id) == sig, s"doc $id differs") }
  }

  test("edge cases: single-shingle doc, repeated text, hash order irrelevance") {
    val docs = Seq(
      (1L, "one two"),             // < 3 words: one shingle
      (2L, "a b c a b c a b c"),   // repeated 3-grams collapse to 3 distinct
      (3L, "x y z w v u t")
    ).toDF("doc_id", "text")
    val a = composed(docs).as[(Long, Seq[Long])].collect().toMap
    val b = native(docs).as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
    // signatures are permutation minima over a SET — identical docs agree
    val dup = Seq((10L, "p q r s t"), (11L, "p q r s t")).toDF("doc_id", "text")
    val sigs = native(dup).as[(Long, Seq[Long])].collect().toMap
    assert(sigs(10L) == sigs(11L))
  }

  /** (doc_id, band, bsig) from `minhash_bands` next to (doc_id, band,
    * values) sliced from `minhash_sig`, under one codegen setting. */
  private def bandsAndSlices(df: org.apache.spark.sql.DataFrame, codegen: Boolean) = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sigs = native(df)
      val bands = sigs.select(col("doc_id"),
          explode(MinHashExprs.minhash_bands(col("sig"), 16, 4)).as("b"))
        .select(col("doc_id"), col("b.band"), col("b.bsig"))
        .as[(Long, Int, Array[Byte])].collect()
      val slices = sigs.as[(Long, Seq[Long])].collect().flatMap { case (id, sig) =>
        sig.grouped(4).take(16).zipWithIndex.map { case (vs, b) => (id, b, vs) }
      }
      (bands, slices)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def decode(bsig: Array[Byte]): Seq[Long] =
    bsig.grouped(4).map(_.foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))).toSeq

  test("minhash_bands equals the band slices of minhash_sig, codegen and interpreted") {
    // repartition keeps the edge docs off the optimizer's local-relation
    // folding, so the projection really runs under each setting
    val edge = Seq((1L, "one two"), (2L, "solo"), (3L, ""), (4L, "a b c a b c a b c"))
      .toDF("doc_id", "text").repartition(1)
    val docs = Tables(spark, SparkFixture.sfDir, "documents").select("doc_id", "text").union(edge)
    val results = Seq(true, false).map { cg =>
      val (bands, slices) = bandsAndSlices(docs, cg)
      val got = bands.map { case (id, b, bsig) => (id, b, decode(bsig)) }.sortBy(r => (r._1, r._2))
      val want = slices.map { case (id, b, vs) => (id, b, vs.toSeq) }.sortBy(r => (r._1, r._2))
      assert(got.toSeq == want.toSeq, s"codegen=$cg")
      assert(bands.forall(_._3.length == 16), s"codegen=$cg: 4 bytes per value")
      bands.map { case (id, b, bsig) => (id, b, bsig.toSeq) }.sortBy(r => (r._1, r._2)).toSeq
    }
    assert(results(0) == results(1), "codegen and interpreted keys differ")
  }

  test("minhash_bands: distinct (band, values) pairs give distinct keys; bad input fails loudly") {
    val docs = Tables(spark, SparkFixture.sfDir, "documents").select("doc_id", "text")
    val (bands, slices) = bandsAndSlices(docs, codegen = true)
    val valuesOf = slices.map { case (id, b, vs) => (id, b) -> vs.toSeq }.toMap
    val keyToValues = bands.groupBy { case (_, b, bsig) => (b, bsig.toSeq) }
      .map { case (k, rows) => k -> rows.map { case (id, b, _) => valuesOf((id, b)) }.toSet }
    assert(keyToValues.values.forall(_.size == 1), "one key, two value tuples")
    val pairs = slices.map { case (_, b, vs) => (b, vs.toSeq) }.toSet
    assert(keyToValues.size == pairs.size, "two value tuples, one key")
    // a value the 4-byte encoding cannot hold is rejected, not truncated
    val bad = spark.range(1).select(MinHashExprs.minhash_bands(
      array((Seq(MinHashes.P) ++ Seq.fill(63)(0L)).map(lit): _*), 16, 4))
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage.contains("outside [0, 1000000007)"), e.getMessage)
    val short = spark.range(1).select(MinHashExprs.minhash_bands(array(lit(1L), lit(2L)), 16, 4))
    assert(intercept[Exception](short.collect()).getMessage.contains("needs 64 signature values"))
  }
}
