package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class VectorExprSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.5f, -0.25f, 0.125f), Array(-1.0f, 2.0f, -4.0f)),
    (3L, Array(1e-3f, 2e3f, -7.5f), Array(3.25f, 1e-2f, 9.0f))
  ).toDF("id", "a", "b")

  test("vec_dot / vec_norm are bit-identical to the HOF fold they replace") {
    val hofDot =
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, x) -> acc + x)")
    val hofNorm =
      expr("sqrt(aggregate(a, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    val rows = vecs.select(
      VectorExprs.vec_dot(col("a"), col("b")).as("nd"), hofDot.as("hd"),
      VectorExprs.vec_norm(col("a")).as("nn"), hofNorm.as("hn")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot differs")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(3)), "norm differs")
    }
  }

  test("vec_l2sq is bit-identical to the HOF fold it replaces") {
    val hofL2 =
      expr("aggregate(zip_with(a, b, (x, y) -> (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), cast(0.0 as double), (acc, x) -> acc + x)")
    val rows = vecs.select(
      VectorExprs.vec_l2sq(col("a"), col("b")).as("nd"), hofL2.as("hd")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)), "l2sq differs")
    }
    // null/length contract matches vec_dot's zip_with parity
    val edge = Seq(
      (1L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](3.0f, 4.0f)),
      (2L, Array[java.lang.Float](1.0f), Array[java.lang.Float](3.0f, 4.0f))
    ).toDF("id", "a", "b")
    assert(edge.select(VectorExprs.vec_l2sq(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
  }

  test("vec_cos is bit-identical to the spelled-out dot/norm composition") {
    def spelled(a: String, b: String) =
      VectorExprs.vec_dot(col(a), col(b)) /
        (VectorExprs.vec_norm(col(a)) * VectorExprs.vec_norm(col(b)))
    def same(x: Double, y: Double): Boolean =
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    val dbl = vecs.select(col("id"),
      col("a").cast("array<double>").as("a"), col("b").cast("array<double>").as("b"))
    for (df <- Seq(vecs, dbl); (a, b) <- Seq(("a", "b"), ("b", "a"))) {
      val rows = df.select(VectorExprs.vec_cos(col(a), col(b)), spelled(a, b),
        VectorExprs.vec_cos(col(b), col(a))).collect()
      assert(rows.length == 3)
      rows.foreach { r =>
        assert(same(r.getDouble(0), r.getDouble(1)), s"vec_cos($a, $b) differs: $r")
        // a·b and |a||b| fold the same pairs in the same order either way round
        assert(same(r.getDouble(0), r.getDouble(2)), s"vec_cos not symmetric: $r")
      }
    }
    // null input: null on both spellings
    val edge = Seq(
      (1L, Array[java.lang.Float](0.0f, 0.0f), Array[java.lang.Float](3.0f, 4.0f)),
      (2L, null, Array[java.lang.Float](3.0f, 4.0f))
    ).toDF("id", "a", "b")
    val nul = edge.filter(col("id") === 2L)
      .select(VectorExprs.vec_cos(col("a"), col("b")), spelled("a", "b")).collect()
    assert(nul.length == 1 && nul(0).isNullAt(0) && nul(0).isNullAt(1))
    // zero vector: Spark's double division by zero — DIVIDE_BY_ZERO
    // under ANSI mode (the default), null without it — on both spellings
    val zero = edge.filter(col("id") === 1L)
    for (c <- Seq(VectorExprs.vec_cos(col("a"), col("b")), spelled("a", "b"))) {
      val conf = "spark.sql.ansi.enabled"
      val saved = spark.conf.getOption(conf)
      try {
        spark.conf.set(conf, "true")
        val err = intercept[Exception](zero.select(c).collect())
        assert(err.getMessage.contains("DIVIDE_BY_ZERO"), err.getMessage)
        spark.conf.set(conf, "false")
        assert(zero.select(c).collect().head.isNullAt(0))
      } finally saved match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("vec_dot participates in whole-stage codegen (no fallback)") {
    // range source (not a LocalRelation, which gets constant-folded);
    // arrays built with array() — a transform() HOF here would itself
    // block codegen for the whole projection, which is exactly the
    // failure mode vec_dot exists to avoid
    val df = spark.range(100)
      .withColumn("a", array((0 until 64).map(i => (col("id") + i).cast("float")): _*))
      .withColumn("b", array((0 until 64).map(i => lit(i * 2).cast("float")): _*))
      .select(VectorExprs.vec_dot(col("a"), col("b")).as("d"))
    val plan = df.queryExecution.executedPlan
    val codegenSpans = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    // the vec_dot projection must sit INSIDE a codegen span ("*(n)")
    assert(codegenSpans.exists(_.toString().contains("vec_dot")),
      s"vec_dot not inside a WholeStageCodegen span:\n$plan")
    assert(df.count() == 100)
  }

  test("extensions register vec_dot/vec_norm for SQL text") {
    vecs.createOrReplaceTempView("vx")
    val r = spark.sql(
      "SELECT id, round(vec_dot(a, b), 6) AS d, round(vec_norm(a), 6) AS n, round(vec_l2sq(a, b), 6) AS l2 FROM vx ORDER BY id")
      .collect()
    assert(r.length == 3)
    assert(math.abs(r(0).getDouble(1) - 32.0) < 1e-9) // 1*4 + 2*5 + 3*6
    assert(math.abs(r(0).getDouble(3) - 27.0) < 1e-9) // 3^2 + 3^2 + 3^2
  }

  test("extensions register the text kernels for SQL text") {
    val r = spark.sql(
      """SELECT size(shingle_sha60('a b c d')) AS n3,
                size(shingle_sha60('a b c d', 2)) AS n2,
                size(minhash_sig(shingle_sha60('a b c d'))) AS nsig,
                simhash_sig(shingle_sha60('a b c d')) AS sig""").collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 3)
    assert(r.getInt(2) == graft.functions.MinHashes.NPERM)
    assert(r.getLong(3) ==
      graft.functions.SimHashes.compute(graft.functions.ShingleHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c d"), 3)))
  }

  test("null element or mismatched length yields null, matching zip_with/aggregate") {
    val df = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f, 4.0f)),
      (2L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](3.0f, 4.0f)),
      (3L, Array[java.lang.Float](1.0f), Array[java.lang.Float](3.0f, 4.0f))
    ).toDF("id", "a", "b")
    val hof =
      expr("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, x) -> acc + x)")
    val rows = df.select(col("id"), VectorExprs.vec_dot(col("a"), col("b")).as("nd"), hof.as("hd"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"id=${r.getLong(0)}: native null=${r.isNullAt(1)} hof null=${r.isNullAt(2)}")
      if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2))
    }
  }

  test("null vector yields null, not a crash") {
    val withNull = Seq((1L, Array(1.0f), Option(Array(2.0f))), (2L, Array(1.0f), None))
      .toDF("id", "a", "b")
    val out = withNull.select(VectorExprs.vec_dot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(2.0), None))
  }

  test("wrong-arity SQL calls fail analysis with the expected arity, not an index error") {
    vecs.createOrReplaceTempView("arity_vecs")
    def analysisMessage(sql: String): String =
      intercept[Exception](spark.sql(sql).queryExecution.analyzed).getMessage
    assert(analysisMessage("SELECT vec_dot(a) FROM arity_vecs")
      .contains("vec_dot expects 2 arguments, got 1"))
    assert(analysisMessage("SELECT vec_norm() FROM arity_vecs")
      .contains("vec_norm expects 1 argument, got 0"))
    assert(analysisMessage("SELECT vec_l2sq(a) FROM arity_vecs")
      .contains("vec_l2sq expects 2 arguments, got 1"))
    assert(analysisMessage("SELECT shingle_sha60() FROM arity_vecs")
      .contains("shingle_sha60 expects (string) or (string, <int literal gram width>)"))
    assert(analysisMessage("SELECT ulid_timestamp() FROM arity_vecs")
      .contains("ulid_timestamp expects 1 argument, got 0"))
    assert(analysisMessage("SELECT minhash_sig() FROM arity_vecs")
      .contains("minhash_sig expects 1 argument, got 0"))
    assert(analysisMessage("SELECT simhash_sig() FROM arity_vecs")
      .contains("simhash_sig expects 1 argument, got 0"))
    assert(analysisMessage("SELECT ulid(1, 2) FROM arity_vecs")
      .contains("ulid expects 0 or 1 arguments"))
  }

  test("shingle_sha60 gram width accepts any integral literal; non-int gets a type message") {
    // SQL text integer literals can parse as TINYINT..BIGINT depending
    // on context — the builder must not key on IntegerType alone.
    val widths = spark.sql(
      """SELECT size(shingle_sha60('a b c d', CAST(2 AS TINYINT))) AS t,
                size(shingle_sha60('a b c d', CAST(2 AS SMALLINT))) AS s,
                size(shingle_sha60('a b c d', CAST(2 AS BIGINT))) AS b""").collect().head
    assert(widths.getInt(0) == 3 && widths.getInt(1) == 3 && widths.getInt(2) == 3)
    def analysisMessage(sql: String): String =
      intercept[Exception](spark.sql(sql).queryExecution.analyzed).getMessage
    // correct arity, wrong type: the message must name the type problem,
    // not report 'got 2 args'
    assert(analysisMessage("SELECT shingle_sha60('a b', 'x') FROM arity_vecs")
      .contains("gram width must be an integer literal"))
  }
}
