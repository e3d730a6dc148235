package graftbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.model.Message
import graft.ops.CorpusOps
import graft.streaming.{IngestDedup, Topic, TopicOffset, Topics}

/** Publish, drain and dedup-at-ingest over graft's message layer.
  *
  * Catch-up phase (closed loop, `warm_cycles` unmeasured then `cycles`
  * measured times): publish the seeded backlog to a fresh 4-shard topic
  * through a `TopicProducer`, drain it through the `graft-messages`
  * source (`Trigger.AvailableNow`, fixed `maxRecordsPerBatch`) into
  * `IngestDedup.bandCollisions` and a parquet file sink, then curate the
  * first-seen documents with `CorpusOps.exactDedupKeepers`.
  *
  * Tail phase (open loop): one generator thread publishes the next
  * messages at a fixed rate on a schedule that ignores the query, to a
  * fresh topic a running query tails. A message's latency runs from
  * when it was due to the commit of the micro-batch that read it (the
  * batch that emits its verdicts): the batch's trigger start plus its
  * `triggerExecution` time.
  *
  * Check: every document's dup verdict (any band collided) in the sink
  * must equal the verdict of batch `IngestDedup.bandCollisions` over
  * the same bodies, every document must have all 16 band rows, and the
  * curated keepers must be the least id per exact text among the
  * first-seen documents. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val shards = 4
  private var backlog: Array[Message] = _
  private var tailPool: Array[Message] = _
  private val progress = new ConcurrentLinkedQueue[(Boolean, StreamingQueryProgress)]()
  private val publishMs, drainMs, curateMs, cycleS, tailLatMs, lateMs = ArrayBuffer.empty[Double]
  private val cycleOut = ArrayBuffer.empty[File]
  private var tailOut: File = _
  private var tailDocs = 0
  private var backlogMid, backlogEnd = 0L
  private var readCalls, recordsRead = 0L
  private var sigMs = Double.NaN
  /** Records per shard after a backlog publish, and the share of backlog
    * documents the batch detector calls duplicates: the shard skew and
    * dup share the inputs actually produced. */
  private var shardSizes = Seq.empty[Int]
  private var dupShare = Double.NaN
  private var runs = 0

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(rec.measuring -> p)
      rec.addSpan(Extra(s"b${p.id}/${p.batchId}", s"c${rec.current}", "batch",
        s"micro-batch ${p.batchId}", Instant.parse(p.timestamp).toEpochMilli * 1000L, commitUs(p),
        Map("batch_key" -> s"${p.id}/${p.batchId}", "rows" -> p.numInputRows)))
    }
  }

  /** When a micro-batch committed: its trigger start plus its
    * `triggerExecution` time, which covers the sink write and the
    * offset and commit log writes. */
  private def commitUs(p: StreamingQueryProgress): Long =
    (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)) * 1000L

  private def messages(df: DataFrame): Array[Message] =
    df.as[(Long, String, String)].collect().map { case (id, key, text) =>
      Message(None, key, Some(id.toString), Map("body" -> text.getBytes("UTF-8")),
        Map.empty, None, None, None, None, None)
    }

  /** Per-doc verdicts of the batch detector over the same bodies. */
  private def batchVerdicts(msgs: Array[Message]): Map[Long, Boolean] = {
    val df = msgs.map(m => (m.externalId.get.toLong, new String(m.data("body"), "UTF-8")))
      .toSeq.toDF("doc_id", "text")
    IngestDedup.bandCollisions(df).groupBy("doc_id").agg(max(col("dup")))
      .as[(Long, Boolean)].collect().toMap
  }

  private def docsOf(topic: String): DataFrame =
    spark.readStream.format("graft-messages").option("topic", topic)
      .option("maxRecordsPerBatch", int("max_per_batch").toLong).load()
      .select(col("externalId").cast("long").as("doc_id"),
        col("data").getItem("body").cast("string").as("text"))

  private def newTopic(tag: String): (String, Topic) = {
    runs += 1
    val name = s"bench-$tag-$runs"
    (name, Topics.create(name, shards))
  }

  private def sink(df: DataFrame, tag: String) = {
    val root = dir(s"stream/$tag-$runs")
    val out = new File(root, "out")
    (IngestDedup.bandCollisions(df).toDF().writeStream.format("parquet")
      .option("path", out.getPath)
      .option("checkpointLocation", new File(root, "checkpoint").getPath), out)
  }

  /** One catch-up cycle: publish the backlog, drain it, then curate
    * what the stream let through: the first-seen documents, read back
    * through the topic's batch view, collapsed to one keeper per exact
    * text by `CorpusOps.exactDedupKeepers`. */
  private def catchUp(): Unit = {
    val (name, topic) = newTopic("catchup")
    val producer = topic.producer(seed)
    val (_, pubMs) = rec.call("graft.streaming", "publish") {
      backlog.grouped(500).foreach(b => producer.publish(b.toIndexedSeq: _*))
    }
    val (writer, out) = sink(docsOf(name), "catchup")
    val (_, ms) = rec.call("graft.streaming", "drain") {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.exception.foreach(throw _)
    }
    val (calls, served) = (topic.shards.map(_.readCalls.get).sum, topic.shards.map(_.recordsRead.get).sum)
    val curated = new File(out.getParentFile, "curated")
    val (_, curMs) = rec.call("CorpusOps", "exactDedupKeepers") {
      val firstSeen = spark.read.parquet(out.getPath).groupBy("doc_id")
        .agg(max(col("dup")).as("dup")).filter(!col("dup"))
      val bodies = topic.toDF(spark).select(col("externalId").cast("long").as("doc_id"),
        col("data").getItem("body").cast("string").as("text"))
      CorpusOps.exactDedupKeepers(bodies.join(firstSeen, "doc_id").select("doc_id", "text"))
        .write.mode("overwrite").parquet(curated.getPath)
    }
    if (rec.measuring) {
      cycleOut += out
      publishMs += pubMs; drainMs += ms; curateMs += curMs
      cycleS += (pubMs + ms + curMs) / 1000.0
      readCalls += calls; recordsRead += served
      shardSizes = topic.shards.map(_.size)
    }
  }

  /** The open-loop tail: returns when the generator has published
    * `seconds` worth of messages and the query has read them all. */
  private def tail(seconds: Double): Unit = {
    val (name, topic) = newTopic("tail")
    val (writer, out) = sink(docsOf(name), "tail")
    tailOut = out
    val rate = dbl("tail_rate")
    // one second of messages first, drained before the schedule starts,
    // so latency excludes the query's start-up
    val warm = rate.toInt
    val n = math.min(tailPool.length - warm, math.max(1, (rate * seconds).toInt))
    tailDocs = warm + n
    val due = new Array[Long](n)
    val shardIdx = new Array[Int](n)
    val seqIdx = new Array[Long](n)
    rec.call("graft.streaming", "tail") {
      val q = writer.trigger(Trigger.ProcessingTime(0L)).start()
      try {
        val producer = topic.producer(seed)
        val counters = new Array[Long](shards)
        val shardPos = topic.shards.zipWithIndex.toMap
        tailPool.take(warm).foreach(m => counters(shardPos(topic.shardFor(m.partitionKey))) += 1)
        producer.publish(tailPool.take(warm).toIndexedSeq: _*)
        q.processAllAvailable()
        val warmBatch = q.lastProgress.batchId
        val t0 = Clock.nowUs + 100000L
        val gen = new Thread(() => {
          var i = 0
          while (i < n) {
            val now = Clock.nowUs
            val dueI = t0 + (i * 1e6 / rate).toLong
            if (dueI > now) Thread.sleep(math.max(1L, (dueI - now) / 1000L))
            else {
              // everything due by now goes out in one put
              val sent = Clock.nowUs
              val batch = ArrayBuffer.empty[Message]
              while (i < n && t0 + (i * 1e6 / rate).toLong <= sent) {
                val m = tailPool(warm + i)
                due(i) = t0 + (i * 1e6 / rate).toLong
                val s = shardPos(topic.shardFor(m.partitionKey))
                shardIdx(i) = s; seqIdx(i) = counters(s); counters(s) += 1
                batch += m; i += 1
              }
              lateMs.synchronized(lateMs += (sent - due(i - batch.size)) / 1000.0)
              producer.publish(batch.toSeq: _*)
            }
          }
        })
        gen.start()
        gen.join()
        q.processAllAvailable()
        // batch commit times and the per-shard end index each batch read to
        val batches = progress.asScala.map(_._2)
          .filter(p => p.id == q.id && p.batchId > warmBatch && p.numInputRows > 0)
          .toSeq.sortBy(_.batchId).map { p =>
            val ends = TopicOffset.fromJson(p.sources.head.endOffset).offsets
              .map(o => topic.shards.indexWhere(_.shardId == o.shardId) -> o.nextIndex).toMap
            (commitUs(p), p.numInputRows, ends)
          }
        // records published but not yet committed, half-way and at the end
        // of the schedule: a backlog that grows means the rate is over
        // capacity
        def backlogAt(us: Long) =
          due.count(_ <= us) - batches.filter(_._1 <= us).map(_._2).sum
        backlogMid = backlogAt(due(n / 2))
        backlogEnd = backlogAt(due(n - 1))
        (0 until n).foreach { i =>
          batches.find(_._3.getOrElse(shardIdx(i), 0L) > seqIdx(i)).foreach { case (end, _, _) =>
            tailLatMs += (end - due(i)) / 1000.0
          }
        }
      } finally q.stop()
    }
  }

  def setup(): Unit = {
    spark.streams.addListener(listener)
    val all = spark.read.parquet(new File(data, "messages.parquet").getPath)
      .select("doc_id", "partition_key", "text")
    val b = int("backlog")
    backlog = messages(all.filter(col("doc_id") < b))
    tailPool = messages(all.filter(col("doc_id") >= b).orderBy("doc_id"))
    // warm cycles, not measured: the drain keeps speeding up over the
    // first few as the JIT compiles its hot paths
    (1 to int("warm_cycles")).foreach(_ => catchUp())
  }

  /** A fixed number of catch-up cycles, then a tail phase lasting
    * `tail_share` of the run's seconds. */
  def measure(deadlineNs: Long): Unit = {
    val tailS = (deadlineNs - System.nanoTime()) / 1e9 * dbl("tail_share")
    (1 to int("cycles")).foreach(_ => catchUp())
    heapCheckpoint()
    tail(tailS)
    heapCheckpoint()
    if (rec.traced) {
      // the signature kernels alone, over the backlog bodies
      val bodies = backlog.map(m => new String(m.data("body"), "UTF-8")).toSeq.toDF("text")
      sigMs = rec.call("graft.functions", "minhash_sig(shingle_sha60)") {
        bodies.select(graft.functions.MinHashExprs.minhash_sig(
          graft.functions.ShingleExprs.shingle_sha60(col("text")))).write.format("noop")
          .mode("overwrite").save()
      }._2
    }
  }

  /** Per document of a sink's output: (any band collided, band rows). */
  private def verdicts(out: File): Map[Long, (Boolean, Long)] =
    spark.read.parquet(out.getPath).groupBy("doc_id").agg(max(col("dup")), count(lit(1)))
      .as[(Long, Boolean, Long)].collect().map { case (d, dup, n) => d -> (dup, n) }.toMap

  private def compare(out: File, expected: Map[Long, Boolean], what: String): Unit = {
    val got = verdicts(out)
    expected.foreach { case (d, dup) =>
      outcome(got.get(d).contains((dup, 16L)),
        s"$what doc $d: (verdict, bands) ${got.get(d)}, batch says $dup")
    }
  }

  def check(): Unit = {
    val expectedBacklog = batchVerdicts(backlog)
    dupShare = expectedBacklog.count(_._2).toDouble / backlog.length
    // curation keeps the least id per exact text among first-seen docs
    val expectedKeepers = backlog.map(m => (m.externalId.get.toLong, new String(m.data("body"), "UTF-8")))
      .filter { case (d, _) => !expectedBacklog(d) }.groupBy(_._2).values.map(_.map(_._1).min).toSet
    cycleOut.foreach { o =>
      compare(o, expectedBacklog, "catch-up")
      val kept = spark.read.parquet(new File(o.getParentFile, "curated").getPath)
        .select("doc_id").as[Long].collect().toSet
      (expectedKeepers ++ kept).foreach(d => outcome(kept(d) == expectedKeepers(d),
        s"curated keeper $d: kept ${kept(d)}, expected ${expectedKeepers(d)}"))
    }
    compare(tailOut, batchVerdicts(tailPool.take(tailDocs)), "tail")
  }

  /** Messages drained per second, median over the catch-up cycles. */
  private def drainRate = Stats.median(drainMs.map(backlog.length * 1000.0 / _).toSeq)

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> drainRate,
    "latency_p50_ms" -> Stats.median(tailLatMs.toSeq),
    "latency_tail_ms" -> Stats.tail(tailLatMs.toSeq)._2,
    "pass_s" -> Stats.median(cycleS.toSeq))

  def detail: Map[String, Any] = {
    val ps = progress.asScala.filter(x => x._1 && x._2.numInputRows > 0).map(_._2).toSeq
    def p50(key: String) = if (ps.isEmpty) null
      else Stats.median(ps.map(_.durationMs.getOrDefault(key, 0L).toDouble))
    val st = ps.flatMap(_.stateOperators.headOption)
    Map(
      "stream.drain_ms_each" -> drainMs.toSeq,
      "stream.cycle_s_each" -> cycleS.toSeq,
      "stream.publish_msgs_per_s" -> backlog.length * publishMs.size / (publishMs.sum / 1000.0),
      "stream.drain_msgs_per_s" -> drainRate,
      "stream.tail_latency_p50_ms" -> Stats.median(tailLatMs.toSeq),
      "stream.tail_latency_p99_ms" -> Stats.pct(tailLatMs.toSeq, 0.99),
      "stream.tail_latency_tail_ms" -> Stats.tail(tailLatMs.toSeq)._2,
      "stream.tail_latency_tail_percentile" -> Stats.tail(tailLatMs.toSeq)._1,
      "stream.tail_samples" -> tailLatMs.size,
      "stream.tail_rate_msgs_per_s" -> dbl("tail_rate"),
      "stream.tail_utilisation" -> dbl("tail_rate") / drainRate,
      "stream.shard_records" -> shardSizes,
      "stream.hot_shard_share" -> shardSizes.max.toDouble / shardSizes.sum,
      "stream.dup_share" -> dupShare,
      "streaming.publish_ms" -> Stats.median(publishMs.toSeq),
      "corpus.exactDedupKeepers_ms" -> Stats.median(curateMs.toSeq),
      "streaming.read_calls" -> readCalls,
      "streaming.records_per_read" -> recordsRead.toDouble / math.max(readCalls, 1L),
      "streaming.batch_latestOffset_ms" -> p50("latestOffset"),
      "streaming.batch_queryPlanning_ms" -> p50("queryPlanning"),
      "streaming.batch_addBatch_ms" -> p50("addBatch"),
      "streaming.batch_walCommit_ms" -> p50("walCommit"),
      "streaming.batch_commitOffsets_ms" -> p50("commitOffsets"),
      "streaming.batches" -> ps.size,
      "streaming.state_rows" -> (if (st.isEmpty) null else st.map(_.numRowsTotal).max),
      "streaming.state_bytes" -> (if (st.isEmpty) null else st.map(_.memoryUsedBytes).max),
      "streaming.state_commit_ms" -> (if (st.isEmpty) null
        else Stats.median(st.map(_.commitTimeMs.toDouble))),
      "streaming.backlog_mid_records" -> backlogMid,
      "streaming.backlog_end_records" -> backlogEnd,
      "streaming.generator_late_ms" -> (if (lateMs.isEmpty) null else Stats.pct(lateMs.toSeq, 0.99)),
      "streaming.over_capacity" -> (backlogEnd > 1.5 * backlogMid + dbl("tail_rate") / 2),
      "functions.sig_ms" -> (if (sigMs.isNaN) null else sigMs))
  }
}
