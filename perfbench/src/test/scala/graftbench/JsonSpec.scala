package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The record writer must produce JSON a strict parser reads back to
  * the same keys and values, whatever the strings hold: quotes,
  * backslashes, every control character, line and paragraph
  * separators, astral characters and lone surrogates. */
class JsonSpec extends AnyFunSuite {

  private def check(p: Prop, name: String): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, s"$name: $r")
  }

  private val hostileString: Gen[String] =
    Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.choose('\u0000', '\u001f').map(_.toString),
      2 -> Gen.oneOf("\"", "\\", "/", "\u007f", " ", " ", "é", "中"),
      1 -> Gen.choose('\ud800', '\udfff').map(_.toString), // lone surrogates
      1 -> Gen.const("😀") // a well-formed astral pair
    )).map(_.mkString)

  private val mapper = new ObjectMapper()

  test("objects with hostile keys and values parse back unchanged") {
    check(Prop.forAll(Gen.mapOf(Gen.zip(hostileString, hostileString))) { m =>
      val back = mapper.readTree(Json.write(m))
      back.size == m.size && m.forall { case (k, v) => back.get(k) != null && back.get(k).asText == v }
    }, "object roundtrip")
  }

  test("nested records keep numbers, booleans, nulls and string lists") {
    check(Prop.forAll(hostileString, Gen.listOf(hostileString), Gen.choose(-1e12, 1e12)) {
      (k, xs, d) =>
        val back = mapper.readTree(Json.obj(k -> Map("xs" -> xs, "d" -> d, "ok" -> true,
          "none" -> None)))
        val inner = back.get(k)
        inner.get("d").asDouble == d && inner.get("ok").asBoolean && inner.get("none").isNull &&
          (0 until xs.size).forall(i => inner.get("xs").get(i).asText == xs(i))
    }, "nested roundtrip")
  }

  test("non-finite doubles are written as null") {
    assert(Json.write(Seq(Double.NaN, Double.PositiveInfinity, 1.5)) == "[null,null,1.5]")
  }
}

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == (0.99, 990.0))
    assert(Stats.tail(xs.take(100)) == (0.9, 90.0))
    assert(Stats.tail(xs.take(12)) == (0.5, 6.0))
  }

  test("the tail mean averages the slowest share, at least one sample") {
    val xs = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0)
    assert(Stats.tailMean(xs, 0.3) == 9.0)
    assert(Stats.tailMean(xs.take(2), 0.3) == 5.0)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }
}
