package graft.model

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MinHashes, ShingleHashes}

/** Property-based checks (scalacheck) for the pieces whose contracts
  * are algebraic rather than fixture-shaped: the cursor checkpoint
  * codec (roundtrip over ADVERSARIAL strings, not just happy-path
  * ids), the cursor total order, and the two native kernels against
  * independent reference implementations.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, name: String): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, s"$name: $r")
  }

  // strings with quotes, backslashes, control chars, unicode — the
  // cases a hand-rolled JSON codec gets wrong
  private val nastyString: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('"', '\\', '\n', '\r', '\t', ' ', '\u0001'),
      1 -> Gen.oneOf('\u00e9', '\u4e2d', '\u20ac') // non-ascii BMP chars
    )).map(_.mkString)

  test("cursor checkpoint codec roundtrips arbitrary shard/sequence strings") {
    check(Prop.forAll(nastyString, nastyString, Gen.oneOf(true, false)) {
      (shard, seq, inc) =>
        val c = Cursor.atSequence(shard, seq, inc)
        Cursor.fromCheckpoint(c.checkpoint) == c
    }, "checkpoint roundtrip")
  }

  test("Bench conf_overrides stamp parses back to the same map (escaped keys and values)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    check(Prop.forAll(Gen.mapOf(Gen.zip(nastyString, nastyString))) { m =>
      val parsed = mapper.readValue(graft.Bench.confJson(m.toSeq),
        classOf[java.util.Map[String, String]])
      scala.jdk.CollectionConverters.MapHasAsScala(parsed).asScala.toMap == m
    }, "conf_overrides JSON roundtrip")
  }

  test("cursor ordering is a total order; inclusive sorts before exclusive") {
    val seqNum = Gen.listOfN(12, Gen.numChar).map(_.mkString)
    val cur = for {
      s <- seqNum; i <- Gen.oneOf(true, false)
    } yield Cursor.atSequence("shard-0", s, i)
    val ord = Cursor.ordering
    check(Prop.forAll(cur, cur, cur) { (a, b, c) =>
      val anti = math.signum(ord.compare(a, b)) == -math.signum(ord.compare(b, a))
      val trans = !(ord.compare(a, b) <= 0 && ord.compare(b, c) <= 0) ||
        ord.compare(a, c) <= 0
      anti && trans
    }, "total order")
    check(Prop.forAll(seqNum) { s =>
      ord.compare(Cursor.atSequence("shard-0", s, true),
                  Cursor.atSequence("shard-0", s, false)) < 0
    }, "inclusive first")
  }

  // independent reference: the permutation formula re-derived from the
  // documented family, not from the kernel's loop
  private def minhashRef(hs: Seq[Long]): Seq[Long] =
    (0 until MinHashes.NPERM).map { k =>
      hs.map(h => ((h % MinHashes.P) * MinHashes.permA(k) + MinHashes.permB(k)) % MinHashes.P).min
    }

  test("minhash kernel equals the formula reference on arbitrary 60-bit hash sets") {
    val hashes = Gen.nonEmptyListOf(Gen.chooseNum(0L, (1L << 60) - 1))
    check(Prop.forAll(hashes) { hs =>
      val native = MinHashes.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(hs.toArray))
        .toLongArray().toSeq
      native == minhashRef(hs)
    }, "minhash kernel")
  }

  // independent reference: per-bit majority vote re-derived from the
  // documented rule (strictly-more-set-than-clear sets the bit)
  private def simhashRef(hs: Seq[Long]): Long =
    (0 until 60).map { b =>
      val set = hs.count(h => ((h >>> b) & 1L) == 1L)
      if (set > hs.size - set) 1L << b else 0L
    }.sum

  test("simhash kernel equals the majority-vote reference on arbitrary hash sets") {
    val hashes = Gen.nonEmptyListOf(Gen.chooseNum(0L, (1L << 60) - 1))
    check(Prop.forAll(hashes) { hs =>
      graft.functions.SimHashes.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(hs.toArray)) == simhashRef(hs)
    }, "simhash kernel")
  }

  // independent reference: sliding(3) + sha-256 hex prefix, written
  // against the documented semantics (not the kernel's byte loop)
  private def shingleRef(text: String, n: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def h(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val ws = text.split(" ", -1)
    val gs = if (ws.length >= n) ws.sliding(n).map(_.mkString(" ")).toSeq else Seq(text)
    gs.map(h).distinct
  }

  test("shingle kernel equals the sliding/sha-256 reference at any gram width") {
    val word = Gen.frequency(8 -> Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString),
      1 -> Gen.const("")) // empty words = double spaces in the text
    val text = Gen.listOf(word).map(_.mkString(" "))
    check(Prop.forAll(text, Gen.oneOf(1, 2, 3, 8, 13)) { (t, n) =>
      ShingleHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), n)
        .toLongArray().toSeq == shingleRef(t, n)
    }, "shingle kernel")
  }
}
