package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.model._

/** Multi-shard topic semantics: partition-key routing, per-shard
  * ordering (and nothing more), per-shard source partitions, composite
  * offsets, admin surface, progress tracker parity. */
class TopicSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def msg(pk: String, extId: String): Message = Message.simple(pk, extId)

  test("partition-key routing: same key -> same shard, order preserved per key") {
    val topic = Topics.create("tp-route-" + System.nanoTime(), 4)
    val p = topic.producer(seed = 1)
    val keys = (0 until 8).map("user-" + _)
    for (i <- 0 until 10; k <- keys) p.publish(msg(k, s"$k/$i"))
    // same key always lands on the shard md5 says
    keys.foreach { k =>
      val expected = topic.shardFor(k).shardId
      val df = topic.toDF(spark).filter(col("partitionKey") === k)
      val shards = df.select("provider.shardId").distinct().as[String].collect()
      assert(shards.toSeq == Seq(expected), s"key $k spread across $shards")
      // per-key order = publish order (sequence-sorted within the shard)
      val seqSorted = df.orderBy("provider.sequenceNumber")
        .select("externalId").as[String].collect()
      assert(seqSorted.toSeq == (0 until 10).map(i => s"$k/$i"))
    }
    assert(topic.toDF(spark).count() == 80)
  }

  test("streaming a 4-shard topic: one input partition per shard, composite offsets, restart") {
    val name = "tp-stream-" + System.nanoTime()
    val topic = Topics.create(name, 4)
    val p = topic.producer(seed = 2)
    (0 until 40).foreach(i => p.publish(msg("k" + i, "e" + i)))

    val ckpt = Files.createTempDirectory("tp").toString
    val seen = StreamingTckSpec.sink(name)
    def start() = spark.readStream.format("graft-messages").option("topic", name).load()
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("externalId").as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().foreach(seen.add)
      }.option("checkpointLocation", ckpt).start()

    val q = start()
    q.processAllAvailable()
    assert(seen.toArray.map(_.toString).toSeq.sortBy(_.drop(1).toInt) == (0 until 40).map("e" + _))
    val off = q.lastProgress.sources.head.endOffset
    assert(off.contains("\"offsets\"") && "shardId-".r.findAllIn(off).size == 4)
    q.stop()

    seen.clear()
    (40 until 45).foreach(i => p.publish(msg("k" + i, "e" + i)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(seen.toArray.map(_.toString).toSeq.sortBy(_.drop(1).toInt) == (40 until 45).map("e" + _))
  }

  test("source lag metrics: records behind latest per shard and max, 0 once caught up") {
    val name = "tp-lag-" + System.nanoTime()
    val topic = Topics.create(name, 2)
    val p = topic.producer(seed = 3)
    (0 until 60).foreach(i => p.publish(msg("k" + i, "e" + i)))
    val cap = 10
    assert(topic.shards.map(_.size).max > cap, "fixture: the backlog must exceed one batch")
    val q = spark.readStream.format("graft-messages").option("topic", name)
      .option("maxRecordsPerBatch", cap.toString).load()
      .writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("tp-lag").toString).start()
    try {
      q.processAllAvailable()
      def lag(m: java.util.Map[String, String]) = m.asScala.toMap
      // after the first batch each shard is behind by what the cap held back
      val first = lag(q.recentProgress.find(_.numInputRows > 0).get.sources.head.metrics)
      val behind = topic.shards.map(s => s.shardId -> math.max(0, s.size - cap))
      // no read failed, so every recovery counter reads 0
      val recoveries = for (s <- topic.shards;
                            k <- Seq("throttleBackoffs", "readRetries", "iteratorReacquisitions"))
        yield s"$k.${s.shardId}" -> "0"
      assert(first == (behind.map { case (id, n) => s"recordsBehindLatest.$id" -> n.toString } :+
        ("maxRecordsBehindLatest" -> behind.map(_._2).max.toString)).toMap ++ recoveries)
      assert(first("maxRecordsBehindLatest").toLong > 0)
      val last = lag(q.lastProgress.sources.head.metrics)
      assert(last.size == 3 + recoveries.size && last.values.forall(_ == "0"),
        s"caught up yet behind: $last")
    } finally q.stop()
  }

  test("source recovery metrics: throttle backoffs, read retries and iterator re-acquisitions per shard") {
    val name = "tp-recover-" + System.nanoTime()
    val topic = Topics.create(name, 2)
    val p = topic.producer(seed = 4)
    def publish(from: Int): Unit = (from until from + 20).foreach(i => p.publish(msg("k" + i, "e" + i)))
    publish(0)
    assert(topic.shards.forall(_.size > 0), "fixture: both shards hold records")
    val Seq(hit, quiet) = topic.shards
    // first batch: one expired iterator, then two throttles on the same read
    hit.injectIteratorExpiry(1)
    hit.injectReadFailures(2)
    val q = spark.readStream.format("graft-messages").option("topic", name)
      .option("pollIntervalMs", "10").load()
      .writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("tp-recover").toString).start()
    try {
      q.processAllAvailable()
      // second batch: one generic read failure
      hit.injectReadFailures(1, generic = true)
      publish(20)
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).sum == 40)
      val m = q.lastProgress.sources.head.metrics.asScala.toMap
      def counts(id: String) = Seq("throttleBackoffs", "readRetries", "iteratorReacquisitions")
        .map(k => m(s"$k.$id").toLong)
      assert(counts(hit.shardId) == Seq(2L, 1L, 1L), s"injected on ${hit.shardId}: $m")
      assert(counts(quiet.shardId) == Seq(0L, 0L, 0L), s"nothing injected on ${quiet.shardId}: $m")
      assert(Seq(hit.throttleBackoffs.get, hit.readRetries.get, hit.iteratorReacquisitions.get) ==
        Seq(2L, 1L, 1L))
    } finally q.stop()
  }

  test("admin surface: list/create-if-absent/shard discovery/lastMessage") {
    val name = "tp-admin-" + System.nanoTime()
    val topic = Topics.getOrCreate(name, 2)
    assert(Topics.list().contains(name))
    assert(Topics.getOrCreate(name).numShards == 2) // create-if-absent keeps existing
    assert(topic.shardIds == Seq("shardId-000000000000", "shardId-000000000001"))
    assert(topic.shardOf(topic.firstShard.shardId).eq(topic.firstShard))
    intercept[IllegalArgumentException](topic.shardOf("nope"))
    assert(topic.lastMessage(spark).isEmpty)
    topic.producer(seed = 3).publish(msg("a", "x"), msg("b", "y"), msg("c", "z"))
    assert(topic.lastMessage(spark).isDefined)
  }

  test("consumer over a topic shard honors cursors") {
    val topic = Topics.create("tp-cons-" + System.nanoTime(), 2)
    val p = topic.producer(seed = 4)
    (0 until 6).foreach(i => p.publish(msg("fixed-key", "e" + i))) // one shard
    val shard = topic.shardFor("fixed-key")
    val c = topic.consumer(Cursor.trimHorizon(shard.shardId))
    val got = (0 until 6).flatMap(_ => c.receive(300)).flatMap(_.externalId)
    assert(got == (0 until 6).map("e" + _))
  }

  test("file progress tracker: flush cadence, safe cursor, corrupt file -> None") {
    var now = 0L
    val f = Files.createTempFile("progress", ".json")
    Files.delete(f)
    val tr = new FileProgressTracker(f, "sh", flushIntervalMs = 5000, clock = () => now)
    assert(tr.safeCursor().isEmpty) // no file yet
    now = 10000
    tr.registerProgress("000000000003") // first flush (10000 - 0 >= 5000)
    assert(tr.safeCursor().contains(Cursor.atSequence("sh", "000000000003", inclusive = false)))
    now = 12000
    tr.registerProgress("000000000007") // within 5s -> NOT flushed
    assert(tr.safeCursor().contains(Cursor.atSequence("sh", "000000000003", inclusive = false)))
    now = 15001
    tr.registerTimePassed() // cadence reached -> flushed
    assert(tr.safeCursor().contains(Cursor.atSequence("sh", "000000000007", inclusive = false)))
    Files.write(f, "garbage{{{".getBytes)
    assert(tr.safeCursor().isEmpty) // corrupt -> restart from TRIM_HORIZON
  }

  test("file progress tracker reads the reference's on-disk format") {
    // byte-shape of FileBasedProgressTracker.java:28-49 (Jackson pretty print)
    val f = Files.createTempFile("progress-ref", ".json")
    Files.write(f,
      "{\n  \"timestamp\" : \"2026-08-12T07:00:00.123Z\",\n  \"sequence\" : \"49590338271490256608559692538361571095921575989136588898\"\n}".getBytes)
    val tr = new FileProgressTracker(f, "shardId-000000000001")
    assert(tr.safeCursor().contains(Cursor.atSequence(
      "shardId-000000000001",
      "49590338271490256608559692538361571095921575989136588898", inclusive = false)))
  }
}
