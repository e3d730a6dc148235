package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** Port of the reference's two TCK suites (behavioral, through the
  * public facade only): field round-trip, strict per-shard ordering,
  * fan-out, the cursor positioning matrix (first / middle /
  * right-before-last / last, inclusive and exclusive, via ULID and
  * externalId), checkpoint at/after, seek both directions, throttling
  * recovery, close cascade. Reference evidence: `MessiClientTck.java`,
  * `MessiStreamingConsumerTck.java` (cites in SURVEY.md §5).
  */
class ConsumerTckSpec extends AnyFunSuite {

  private def freshLog() = new ShardLog()

  private def msg(extId: String, pk: String = "pk1"): Message =
    Message(None, pk, Some(extId),
      Map("payload1" -> s"p1-$extId".getBytes("UTF-8"),
          "payload2" -> s"p2-$extId".getBytes("UTF-8")),
      Map("key1" -> "value1"),
      Some(new Timestamp(1700000000000L)),
      Some(MessageOrdering("group1", 42L)),
      None, None, Some(MessageSource("client-1")))

  /** Publish a..d with controlled arrival times t0, t0+10, t0+20, t0+30. */
  private def publishAbcd(log: ShardLog, t0: Long = 100000L): Producer = {
    val p = new Producer(log, seed = 1)
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (e, i) =>
      val withUlid = msg(e).copy(ulid = Some(Ulid(t0 + i * 10, new java.util.Random(i))))
      log.putRecords(Seq(withUlid), arrivalMillis = t0 + i * 10)
    }
    p
  }

  private def drain(c: ShardConsumer, n: Int): Seq[Message] =
    (1 to n).flatMap(_ => c.receive(500))

  test("empty shard: receive times out with None") {
    val log = freshLog()
    val c = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    assert(c.receive(50).isEmpty)
  }

  test("every field survives publish -> consume; provider stamped at read") {
    val log = freshLog()
    new Producer(log, seed = 1).publish(msg("a"))
    val c = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    val got = c.receive(500).get
    assert(got.partitionKey == "pk1")
    assert(got.externalId.contains("a"))
    assert(new String(got.data("payload1"), "UTF-8") == "p1-a")
    assert(new String(got.data("payload2"), "UTF-8") == "p2-a")
    assert(got.attributes == Map("key1" -> "value1"))
    assert(got.timestamp.contains(new Timestamp(1700000000000L)))
    assert(got.ordering.contains(MessageOrdering("group1", 42L)))
    assert(got.source.contains(MessageSource("client-1")))
    assert(got.ulid.isDefined) // producer assigned one
    // provider enrichment: firstProvider set once, provider overwritten
    val p = got.provider.get
    assert(p.technology == "graft" && p.shardId == log.shardId && p.sequenceNumber == "000000000000")
    assert(got.firstProvider.contains(p))
  }

  test("firstProvider is preserved once set; provider always overwritten") {
    val log = freshLog()
    val original = Provider("upstream", 1L, "other-shard", "000000000099")
    log.putRecords(Seq(msg("a").copy(firstProvider = Some(original))), arrivalMillis = 5L)
    val got = new ShardConsumer(log, Cursor.trimHorizon(log.shardId)).receive(500).get
    assert(got.firstProvider.contains(original))
    assert(got.provider.get.shardId == log.shardId)
  }

  test("strict per-shard ordering a,b,c,d; fan-out to independent consumers") {
    val log = freshLog()
    publishAbcd(log)
    val c1 = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    val c2 = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    assert(drain(c1, 4).flatMap(_.externalId) == Seq("a", "b", "c", "d"))
    assert(drain(c2, 4).flatMap(_.externalId) == Seq("a", "b", "c", "d"))
  }

  test("cursor NOW sees only messages published after it") {
    val log = freshLog()
    publishAbcd(log)
    val c = new ShardConsumer(log, Cursor.now(log.shardId))
    assert(c.receive(50).isEmpty)
    log.putRecords(Seq(msg("e")), arrivalMillis = 200000L)
    assert(c.receive(500).flatMap(_.externalId).contains("e"))
  }

  test("AT_PROVIDER_SEQUENCE inclusive replays the message, exclusive starts after") {
    val log = freshLog()
    publishAbcd(log)
    val c0 = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    val all = drain(c0, 4)
    val b = all(1)
    val atB = new ShardConsumer(log, Cursor.at(b))
    assert(drain(atB, 3).flatMap(_.externalId) == Seq("b", "c", "d"))
    val afterB = new ShardConsumer(log, Cursor.after(b))
    assert(drain(afterB, 2).flatMap(_.externalId) == Seq("c", "d"))
  }

  test("checkpoint string round-trips through restart (at/after semantics)") {
    val log = freshLog()
    publishAbcd(log)
    val c0 = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    drain(c0, 2) // delivered a, b
    val ckAt = c0.cursorAtLast.get.checkpoint
    val ckAfter = c0.cursorAfterLast.get.checkpoint
    val resumedAt = new ShardConsumer(log, Cursor.fromCheckpoint(ckAt))
    assert(drain(resumedAt, 3).flatMap(_.externalId) == Seq("b", "c", "d"))
    val resumedAfter = new ShardConsumer(log, Cursor.fromCheckpoint(ckAfter))
    assert(drain(resumedAfter, 2).flatMap(_.externalId) == Seq("c", "d"))
  }

  // -------- cursor positioning matrix via AT_ULID (scan-to-match) ----

  private def ulidOf(log: ShardLog, pos: Int): Ulid = {
    val c = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    drain(c, pos + 1).last.ulid.get
  }

  for ((name, pos) <- Seq(("first", 0), ("middle", 1), ("right-before-last", 2), ("last", 3))) {
    test(s"AT_ULID at $name message, inclusive and exclusive") {
      val log = freshLog()
      publishAbcd(log)
      val expected = Seq("a", "b", "c", "d")
      val u = ulidOf(log, pos)
      val inc = new ShardConsumer(log,
        Cursor(log.shardId, StartingPoint.AtUlid(u, inclusive = true)))
      assert(drain(inc, 4 - pos).flatMap(_.externalId) == expected.drop(pos))
      val exc = new ShardConsumer(log,
        Cursor(log.shardId, StartingPoint.AtUlid(u, inclusive = false)))
      assert(drain(exc, 3 - pos).flatMap(_.externalId) == expected.drop(pos + 1))
    }
  }

  test("AT_ULID with no exact match replays from the tolerance lower bound") {
    val log = freshLog()
    publishAbcd(log, t0 = 100000L)
    // a ULID that was never published, timestamped near c (t0+20)
    val ghost = Ulid(100020L, new java.util.Random(999))
    val c = new ShardConsumer(log,
      Cursor(log.shardId, StartingPoint.AtUlid(ghost, inclusive = true, toleranceMillis = 15)))
    // lower bound 100005 -> first arrival >= that is b: replay from b
    assert(drain(c, 3).flatMap(_.externalId) == Seq("b", "c", "d"))
  }

  test("AT_EXTERNAL_ID finds the exact message inside the tolerance window") {
    val log = freshLog()
    publishAbcd(log, t0 = 100000L)
    val c = new ShardConsumer(log,
      Cursor(log.shardId, StartingPoint.AtExternalId("c", 100020L, toleranceMillis = 100)))
    assert(drain(c, 2).flatMap(_.externalId) == Seq("c", "d"))
    val exc = new ShardConsumer(log,
      Cursor(log.shardId, StartingPoint.AtExternalId("c", 100020L, toleranceMillis = 100, inclusive = false)))
    assert(drain(exc, 1).flatMap(_.externalId) == Seq("d"))
  }

  test("AT_EXTERNAL_ID miss replays from lower bound (lookahead fallback)") {
    val log = freshLog()
    publishAbcd(log, t0 = 100000L)
    val c = new ShardConsumer(log,
      Cursor(log.shardId, StartingPoint.AtExternalId("nope", 100020L, toleranceMillis = 12)))
    // lower bound 100008 -> first arrival >= that is b
    assert(drain(c, 3).flatMap(_.externalId) == Seq("b", "c", "d"))
  }

  test("seek repositions both directions, including past the end") {
    val log = freshLog()
    publishAbcd(log, t0 = 100000L)
    val c = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    drain(c, 4)
    c.seek(100010L) // backwards to b
    assert(drain(c, 3).flatMap(_.externalId) == Seq("b", "c", "d"))
    c.seek(999999L) // past end
    assert(c.receive(50).isEmpty)
    log.putRecords(Seq(msg("e")), arrivalMillis = 999999L)
    assert(c.receive(500).flatMap(_.externalId).contains("e"))
  }

  test("publish requires partitionKey") {
    val p = new Producer(freshLog(), seed = 1)
    intercept[IllegalArgumentException](p.publish(msg("a").copy(partitionKey = "")))
    intercept[IllegalArgumentException](p.publish(msg("a").copy(partitionKey = null)))
  }

  test("producer assigns strictly monotonic ULIDs when absent, keeps existing ones") {
    val log = freshLog()
    val p = new Producer(log, seed = 1)
    p.publish(msg("a"), msg("b"), msg("c"))
    val fixed = Ulid(123L, new java.util.Random(5))
    p.publish(msg("d").copy(ulid = Some(fixed)))
    val got = drain(new ShardConsumer(log, Cursor.trimHorizon(log.shardId)), 4)
    val assigned = got.take(3).map(_.ulid.get)
    assert(assigned.sliding(2).forall { case Seq(x, y) => x < y })
    assert(got(3).ulid.contains(fixed))
  }

  test("throttled publish retries until all records land (reference's flaky area, done deterministically)") {
    val log = freshLog()
    log.injectPutFailures(2)
    val p = new Producer(log, pollIntervalMs = 1, seed = 1)
    p.publish(msg("a"), msg("b"))
    assert(log.size == 2)
    assert(drain(new ShardConsumer(log, Cursor.trimHorizon(log.shardId)), 2)
      .flatMap(_.externalId) == Seq("a", "b"))
  }

  test("async publish resolves to the assigned sequence numbers in order; a consumer reads them back") {
    import scala.concurrent.Await
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val log = freshLog()
    log.injectPutFailures(1) // the future completes only after the retry lands
    val p = new Producer(log, pollIntervalMs = 1, seed = 1)
    val seqs = Await.result(p.publishAsync(msg("a"), msg("b"), msg("c")), 10.seconds)
    assert(seqs == Seq(0L, 1L, 2L).map(ShardLog.formatSeq))
    val got = drain(new ShardConsumer(log, Cursor.trimHorizon(log.shardId)), 3)
    assert(got.flatMap(_.externalId) == Seq("a", "b", "c"))
    assert(got.flatMap(_.provider.map(_.sequenceNumber)) == seqs)
  }

  test("closed producer/consumer throw on use") {
    val log = freshLog()
    val p = new Producer(log, seed = 1)
    p.close()
    intercept[IllegalStateException](p.publish(msg("a")))
    val c = new ShardConsumer(log, Cursor.trimHorizon(log.shardId))
    c.close()
    intercept[IllegalStateException](c.receive(10))
  }
}
