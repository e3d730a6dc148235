package graft.streaming

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{Cursor, Message, StartingPoint}

/** Kinesis-shaped Structured Streaming source (DataSource V2) over
  * [[ShardLog]]s — the Spark re-expression of the reference's consume
  * loop (SURVEY.md §3.2): `latestOffset`/`planInputPartitions` replace
  * GetShardIterator, `PartitionReader` replaces GetRecords + decode +
  * provider-enrich, the trigger interval replaces pollIntervalMs, and
  * the checkpointed offset log replaces cursor persistence — with the
  * SAME wire format: a single-shard offset serializes to
  * `{"shardId": ..., "sequenceNumber": ..., "inclusive": ...}`
  * (`KinesisMessiCursor.java:58-68`); multi-shard topics nest one such
  * object per shard under `"offsets"`.
  *
  * Options:
  *  - `log` one registry shard log, or `topic` a multi-shard topic
  *  - `startingPosition` "earliest" (default) | "latest" |
  *     "at_timestamp:<epochMillis>" | a cursor checkpoint JSON
  *  - `maxRecordsPerBatch` per-shard admission control per micro-batch
  *     (the reference's GetRecords LIMIT=1000 pacing,
  *     `KinesisStreamingBuffer.java:41,100`)
  *
  * Lag: each micro-batch's source progress `metrics` carry the records
  * behind latest per shard and their max ([[MessageMicroBatchStream.metrics]]).
  *
  * Scale shape: shard discovery happens on the driver
  * (`planInputPartitions` = §2A-12), each shard becomes ONE
  * InputPartition read sequentially by an executor — per-shard order
  * preserved, shards read in parallel, offsets tracked per shard. Swap
  * ShardLog for the Kinesis SDK and nothing else changes.
  */
class MessageTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-messages"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Message.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val topicOpt = Option(opts.get("topic"))
    val logOpt = Option(opts.get("log"))
    require(topicOpt.isDefined || logOpt.isDefined, "option 'log' or 'topic' is required")
    new MessageTable(topicOpt, logOpt, Option(opts.get("startingPosition")),
      Option(opts.get("maxRecordsPerBatch")).map(_.toInt).getOrElse(1000),
      Option(opts.get("pollIntervalMs")).map(_.toLong).getOrElse(1000L))
  }
}

final class MessageTable(topicOpt: Option[String], logOpt: Option[String],
                         startingPosition: Option[String], maxPerBatch: Int,
                         pollIntervalMs: Long = 1000L)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  /** Shard-log registry names backing this subscription. */
  private def logNames: Seq[String] = topicOpt match {
    case Some(topic) =>
      val t = Topics.get(topic).getOrElse(
        throw new IllegalArgumentException(s"unknown topic '$topic' — create it with Topics.create"))
      (0 until t.numShards).map(i => s"$topic#$i")
    case None => Seq(logOpt.get)
  }

  override def name(): String = s"graft-messages/${topicOpt.orElse(logOpt).get}"
  override def schema(): StructType = Message.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.CONTINUOUS_READ,
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MessageScanBuilder(logNames, startingPosition, maxPerBatch, pollIntervalMs)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new MessageWriteBuilder(topicOpt, logOpt)
}

/** Scan builder with replay pruning (SURVEY.md §4.2-5): a pushed
  * `provider.publishedTimestamp >= ts` predicate becomes a per-shard
  * timestamp SEEK — the declarative equivalent of the reference's
  * server-side `AT_TIMESTAMP` shard iterator
  * (`KinesisStreamingBuffer.java:258-262`). Sound because arrival
  * timestamps are monotone within a shard. All predicates stay
  * residual (Spark re-applies them); the seek only prunes the scan.
  */
final class MessageScanBuilder(logNames: Seq[String], startingPosition: Option[String],
                               maxPerBatch: Int, pollIntervalMs: Long = 1000L)
    extends ScanBuilder with SupportsPushDownV2Filters {
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private var pushed: Array[Predicate] = Array.empty
  private var minArrival: Option[Long] = None

  private def lowerBound(p: Predicate): Option[Long] = {
    val inclusive = p.name == ">="
    if (!inclusive && p.name != ">") return None
    p.children() match {
      case Array(f: NamedReference, l: V2Literal[_])
          if f.fieldNames.toSeq == Seq("provider", "publishedTimestamp") =>
        l.value() match {
          case v: java.lang.Long => Some(if (inclusive) v.longValue else v.longValue + 1)
          case _ => None
        }
      case _ => None
    }
  }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    pushed = predicates.filter(p => lowerBound(p).isDefined)
    minArrival = pushed.flatMap(lowerBound).maxOption
    predicates // everything stays residual; the seek is purely a prune
  }
  override def pushedPredicates(): Array[Predicate] = pushed

  override def build(): Scan =
    new MessageScan(logNames, startingPosition, maxPerBatch, minArrival, pollIntervalMs)
}

final class MessageScan(logNames: Seq[String], startingPosition: Option[String],
                        maxPerBatch: Int, minArrival: Option[Long] = None,
                        pollIntervalMs: Long = 1000L)
    extends Scan {
  override def readSchema(): StructType = Message.schema

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MessageMicroBatchStream(logNames, startingPosition, maxPerBatch, pollIntervalMs)

  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream =
    new MessageContinuousStream(logNames, startingPosition, pollIntervalMs)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      logNames.map { n =>
        val log = ShardLog.getOrCreate(n)
        val start = minArrival match {
          case Some(ts) => log.indexAtTimestamp(ts)
          case None => 0L
        }
        MessagePartition(n, start, ShardLog.parseSeq(log.endSequence)): InputPartition
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new MessageReaderFactory(pollIntervalMs)
  }
}

/** Per-shard offset = the reference's cursor checkpoint (canonical
  * form: next-index, inclusive=true). */
final case class ShardOffset(shardId: String, sequenceNumber: String, inclusive: Boolean) {
  def nextIndex: Long = ShardLog.parseSeq(sequenceNumber) + (if (inclusive) 0 else 1)
  def json: String =
    s"""{"shardId": ${Cursor.jsonStr(shardId)}, "sequenceNumber": ${Cursor.jsonStr(sequenceNumber)}, "inclusive": $inclusive}"""
}

object ShardOffset {
  def fromJson(s: String): ShardOffset = {
    val c = Cursor.fromCheckpoint(s)
    val sp = c.start.asInstanceOf[StartingPoint.AtProviderSequence]
    ShardOffset(c.shardId, sp.sequenceNumber, sp.inclusive)
  }
}

/** Composite offset over all shards of the subscription. Single-shard
  * topics serialize as the bare cursor JSON (reference wire parity). */
final case class TopicOffset(offsets: Seq[ShardOffset]) extends Offset {
  override def json(): String =
    if (offsets.size == 1) offsets.head.json
    else offsets.map(_.json).mkString("""{"offsets": [""", ", ", "]}")
}

object TopicOffset {
  def fromJson(s: String): TopicOffset =
    if (s.contains("\"offsets\"")) {
      val objs = "\\{[^{}]*\\}".r.findAllIn(s.substring(s.indexOf('['))).toSeq
      TopicOffset(objs.map(ShardOffset.fromJson))
    } else TopicOffset(Seq(ShardOffset.fromJson(s)))
}

final class MessageMicroBatchStream(logNames: Seq[String], startingPosition: Option[String],
                                    maxPerBatch: Int, pollIntervalMs: Long = 1000L)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  private def logs: Seq[ShardLog] = logNames.map(ShardLog.getOrCreate)

  // Trigger.AvailableNow: freeze the end position at prepare time so
  // the run drains exactly what existed at start (paced by
  // maxRecordsPerBatch) and then terminates, even while producers keep
  // appending — the catch-up/batch-drain mode (reference: the
  // millisBehindLatest hot loop, `KinesisStreamingBuffer.java:162-167`).
  @volatile private var frozenEnd: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnd = Some(logs.map(l => l.shardId -> ShardLog.parseSeq(l.endSequence)).toMap)

  // Admission control: each micro-batch admits at most maxPerBatch
  // records PER SHARD; the engine loops batches until caught up.
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch.toLong)

  override def initialOffset(): Offset =
    MessageStartingPosition.resolve(logs, startingPosition)

  /** The engine-supplied ReadLimit, unwrapped to a per-batch row cap.
    * ReadMaxRows carries the cap directly; a CompositeReadLimit (e.g.
    * under Trigger.AvailableNow) takes the tightest row component;
    * ReadAllAvailable / anything row-less means unbounded.
    */
  private def rowCap(limit: ReadLimit): Long = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxRows}
    limit match {
      case r: ReadMaxRows => r.maxRows()
      case c: CompositeReadLimit =>
        val rows = c.getReadLimits.collect { case r: ReadMaxRows => r.maxRows() }
        if (rows.isEmpty) Long.MaxValue else rows.min
      case _: ReadAllAvailable => Long.MaxValue
      case _ => Long.MaxValue
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val starts = start.asInstanceOf[TopicOffset].offsets.map(o => o.shardId -> o.nextIndex).toMap
    val cap = rowCap(limit)
    TopicOffset(logs.map { log =>
      val s = starts.getOrElse(log.shardId, 0L)
      val live = ShardLog.parseSeq(log.endSequence)
      val end = frozenEnd.flatMap(_.get(log.shardId)).map(math.min(_, live)).getOrElse(live)
      val capped = if (cap == Long.MaxValue) end else math.min(end, s + cap)
      ShardOffset(log.shardId, ShardLog.formatSeq(capped), inclusive = true)
    })
  }

  override def latestOffset(): Offset =
    TopicOffset(logs.map(log =>
      ShardOffset(log.shardId, log.endSequence, inclusive = true)))

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = TopicOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val starts = start.asInstanceOf[TopicOffset].offsets.map(o => o.shardId -> o.nextIndex).toMap
    val ends = end.asInstanceOf[TopicOffset].offsets.map(o => o.shardId -> o.nextIndex).toMap
    logNames.flatMap { n =>
      val log = ShardLog.getOrCreate(n)
      val s = starts.getOrElse(log.shardId, 0L)
      val e = ends.getOrElse(log.shardId, s)
      if (e <= s) None else Some(MessagePartition(n, s, e): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MessageReaderFactory(pollIntervalMs)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Records behind latest after each trigger — graft's analogue of the
    * reference's `millisBehindLatest` pacing signal: per shard
    * (`recordsBehindLatest.<shardId>`, the shard log's end minus the
    * consumed offset) and their max (`maxRecordsBehindLatest`). Reads
    * each shard's end position once: O(shards), no job. Then the
    * reader's recoveries per shard, cumulative over the log's life:
    * `throttleBackoffs.<shardId>`, `readRetries.<shardId>` and
    * `iteratorReacquisitions.<shardId>`. Empty until a batch has been
    * consumed. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): util.Map[String, String] =
    if (!latestConsumedOffset.isPresent) util.Collections.emptyMap()
    else {
      val consumed = latestConsumedOffset.get.asInstanceOf[TopicOffset].offsets
        .map(o => o.shardId -> o.nextIndex).toMap
      val behind = logs.map { log =>
        val end = ShardLog.parseSeq(log.endSequence)
        log.shardId -> math.max(0L, end - consumed.getOrElse(log.shardId, 0L))
      }
      val m = new util.LinkedHashMap[String, String]()
      m.put("maxRecordsBehindLatest", behind.map(_._2).max.toString)
      behind.foreach { case (id, n) => m.put(s"recordsBehindLatest.$id", n.toString) }
      logs.foreach { log =>
        m.put(s"throttleBackoffs.${log.shardId}", log.throttleBackoffs.get.toString)
        m.put(s"readRetries.${log.shardId}", log.readRetries.get.toString)
        m.put(s"iteratorReacquisitions.${log.shardId}", log.iteratorReacquisitions.get.toString)
      }
      m
    }
}

final case class MessagePartition(logName: String, startIdx: Long, endIdx: Long)
    extends InputPartition

/** Read-side error recovery — reference policy
  * (`KinesisStreamingBuffer.java:121-148`, §2A-14..16): throttling
  * (ProvisionedThroughputExceeded analogue) backs off 3x the poll
  * interval, any other failure 1x, then retry — indefinitely, like the
  * reference's fill loop. Spark task retry is NOT the mechanism: in
  * local mode task maxFailures=1, and on a cluster a task re-run
  * re-reads the whole partition; absorbing transient service errors
  * belongs at the source.
  */
object ReadRetry {
  /** Attempts for non-throttle errors before giving up — a permanent
    * failure (corrupt state, bug) must surface, not hang the task.
    * Throttles retry indefinitely like the reference's fill loop:
    * backpressure is expected to clear. */
  private val MaxGenericAttempts = 20

  /** Consecutive iterator expiries (with no successful read between)
    * before the reader stops spinning. Expiry is expected lifecycle and
    * costs no generic-failure budget, but a reacquire() that can never
    * refresh the handle — shard closed, permanent auth loss — would
    * otherwise loop forever logging once per poll tick. 100 ticks is
    * minutes of wall-clock: far beyond any transient, cheap to hit
    * before a human notices a wedged stream. */
  private val MaxConsecutiveExpiries = 100

  def readWithRetry(log: ShardLog, fromSeq: Option[String], inclusive: Boolean,
                    limit: Int, pollIntervalMs: Long,
                    reacquire: () => Unit = () => ()): Seq[(String, Message)] = {
    var genericFailures = 0
    var throttles = 0
    var consecutiveExpiries = 0
    while (true) {
      try return log.read(fromSeq, inclusive, limit)
      catch {
        case e: IteratorExpiredException =>
          // distinct recovery class (KinesisStreamingBuffer.java:121-127):
          // re-acquire the iterator from the original cursor and retry on
          // the next poll tick — no generic-failure budget consumed; an
          // expired iterator is expected lifecycle, not an error. Only a
          // long unbroken run of expiries (reacquire never helps) fails.
          consecutiveExpiries += 1
          if (consecutiveExpiries >= MaxConsecutiveExpiries)
            throw new IllegalStateException(
              s"iterator on ${log.shardId} expired $consecutiveExpiries times in a row; " +
              "reacquire() is not refreshing the handle (shard closed?)", e)
          System.err.println(s"[graft-source] iterator expired on ${log.shardId} (${e.getMessage}); re-acquiring")
          reacquire()
          Thread.sleep(pollIntervalMs)
        case _: ThrottledException =>
          consecutiveExpiries = 0 // a different signal: the handle reached the service
          throttles += 1
          log.throttleBackoffs.incrementAndGet()
          if (throttles % 10 == 0) // periodic heartbeat: backpressure, not a hang
            System.err.println(s"[graft-source] still throttled after $throttles attempts on ${log.shardId}")
          Thread.sleep(3 * pollIntervalMs) // reference: 3x poll-interval
        case scala.util.control.NonFatal(e) =>
          consecutiveExpiries = 0
          genericFailures += 1
          if (genericFailures >= MaxGenericAttempts) throw e
          log.readRetries.incrementAndGet()
          System.err.println(s"[graft-source] read failed (${e.getMessage}); retrying in ${pollIntervalMs}ms")
          Thread.sleep(pollIntervalMs)
      }
    }
    Nil // unreachable
  }
}

final class MessageReaderFactory(pollIntervalMs: Long = 1000L) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MessagePartition]
    new PartitionReader[InternalRow] {
      private lazy val serializer = MessageReaderFactory.serializer()
      private val log = ShardLog.getOrCreate(p.logName)
      private var idx = p.startIdx
      private var buf: Iterator[Message] = Iterator.empty
      private var current: Message = _
      // One read per ReadChunk-sized range, not per record: against a
      // real provider each read() is one GetRecords RPC — per-record
      // reads would be 1000x the RPC volume of the reference's batched
      // LIMIT=1000 fills (KinesisStreamingBuffer.java:41,100).
      override def next(): Boolean = {
        if (!buf.hasNext && idx < p.endIdx) {
          val want = math.min(MessageReaderFactory.ReadChunk.toLong, p.endIdx - idx).toInt
          val recs = ReadRetry.readWithRetry(
            log, Some(ShardLog.formatSeq(idx)), inclusive = true, limit = want, pollIntervalMs,
            reacquire = () => log.reacquireIterator())
          idx += recs.size
          buf = recs.iterator.map(_._2)
        }
        if (buf.hasNext) { current = buf.next(); true } else false
      }
      override def get(): InternalRow = serializer(current).copy()
      override def close(): Unit = ()
    }
  }
}

object MessageReaderFactory {
  /** Records per read — the reference's GetRecords fill size
    * (`KinesisStreamingBuffer.java:41`). */
  val ReadChunk: Int = 1000

  private lazy val encoder =
    ExpressionEncoder(Message.encoder.asInstanceOf[AgnosticEncoder[Message]]).resolveAndBind()

  /** One Message serializer and deserializer per executor thread.
    * The first call of either generates a projection's Java source
    * (then compiles it or finds it in Spark's code cache); a fresh one
    * per reader or writer would pay that per partition per trigger.
    * Neither is thread-safe (each reuses its output row),
    * hence per thread: take one on the thread that calls it (a
    * continuous reader is created on the task thread but read on a
    * data-reader thread), and `.copy()` a serialized row before the
    * next call on that thread. */
  private final class Codec {
    lazy val serializer: ExpressionEncoder.Serializer[Message] = encoder.createSerializer()
    lazy val deserializer: ExpressionEncoder.Deserializer[Message] = encoder.createDeserializer()
  }
  private val codec = ThreadLocal.withInitial[Codec](() => new Codec)

  def serializer(): ExpressionEncoder.Serializer[Message] = codec.get.serializer
  def deserializer(): ExpressionEncoder.Deserializer[Message] = codec.get.deserializer
}

/** Shared starting-position resolution for micro-batch and continuous
  * streams: "earliest" | "latest" | "at_timestamp:<ms>" | cursor JSON.
  */
object MessageStartingPosition {
  def resolve(logs: Seq[ShardLog], startingPosition: Option[String]): TopicOffset =
    TopicOffset(logs.map { log =>
      val idx: Long = startingPosition.map(_.trim) match {
        case None | Some("earliest") => 0L
        case Some("latest") => ShardLog.parseSeq(log.endSequence)
        case Some(sp) if sp.startsWith("at_timestamp:") =>
          val ts = sp.stripPrefix("at_timestamp:").toLong
          log.indexAtTimestamp(ts)
        case Some(json) =>
          TopicOffset.fromJson(json).offsets.find(_.shardId == log.shardId)
            .map(_.nextIndex).getOrElse(0L)
      }
      ShardOffset(log.shardId, ShardLog.formatSeq(idx), inclusive = true)
    })
}

/** Continuous-processing path (Trigger.Continuous): the closest Spark
  * analogue to the reference's always-on poll loop
  * (`KinesisStreamingBuffer.java:150-170`). One long-running reader per
  * shard polls its log: while records are available it emits them
  * back-to-back (the reference's immediate re-poll while
  * `millisBehindLatest >= pollInterval`); when caught up it sleeps
  * `pollIntervalMs` (reference default 1000 ms,
  * `KinesisMessiClientFactory.java:64`) — giving record-level, not
  * micro-batch, latency. Offsets remain the cursor-JSON wire format.
  */
final case class MessageContinuousPartition(logName: String, startIdx: Long)
    extends InputPartition

final case class ShardPartitionOffset(shardId: String, nextIdx: Long)
    extends org.apache.spark.sql.connector.read.streaming.PartitionOffset

final class MessageContinuousStream(logNames: Seq[String], startingPosition: Option[String],
                                    pollIntervalMs: Long)
    extends org.apache.spark.sql.connector.read.streaming.ContinuousStream {
  import org.apache.spark.sql.connector.read.streaming.PartitionOffset

  private def logs: Seq[ShardLog] = logNames.map(ShardLog.getOrCreate)

  override def initialOffset(): Offset =
    MessageStartingPosition.resolve(logs, startingPosition)

  override def deserializeOffset(json: String): Offset = TopicOffset.fromJson(json)

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val starts = start.asInstanceOf[TopicOffset].offsets.map(o => o.shardId -> o.nextIndex).toMap
    logNames.map { n =>
      val log = ShardLog.getOrCreate(n)
      MessageContinuousPartition(n, starts.getOrElse(log.shardId, 0L)): InputPartition
    }.toArray
  }

  override def createContinuousReaderFactory()
      : org.apache.spark.sql.connector.read.streaming.ContinuousPartitionReaderFactory =
    new MessageContinuousReaderFactory(pollIntervalMs)

  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    TopicOffset(offsets.toSeq.map { case ShardPartitionOffset(sid, next) =>
      ShardOffset(sid, ShardLog.formatSeq(next), inclusive = true)
    })

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class MessageContinuousReaderFactory(pollIntervalMs: Long)
    extends org.apache.spark.sql.connector.read.streaming.ContinuousPartitionReaderFactory {
  import org.apache.spark.sql.connector.read.streaming.{ContinuousPartitionReader, PartitionOffset}

  override def createReader(partition: InputPartition): ContinuousPartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MessageContinuousPartition]
    new ContinuousPartitionReader[InternalRow] {
      private lazy val serializer = MessageReaderFactory.serializer()
      private val log = ShardLog.getOrCreate(p.logName)
      private var idx = p.startIdx // next index to EMIT — getOffset contract
      private var buf: Iterator[Message] = Iterator.empty
      private var current: Message = _

      /** Blocks until the next record lands (the engine polls this from
        * a dedicated data-reader thread and interrupts it on stop).
        * Fills a ReadChunk-sized buffer per read() — one GetRecords RPC
        * per chunk, not per record (KinesisStreamingBuffer.java:41,100);
        * `idx` advances per EMITTED row so getOffset never claims
        * prefetched-but-unemitted records.
        */
      override def next(): Boolean = {
        while (!Thread.currentThread().isInterrupted) {
          if (buf.hasNext) { current = buf.next(); idx += 1; return true }
          try {
            val recs = ReadRetry.readWithRetry(
              log, Some(ShardLog.formatSeq(idx)), inclusive = true,
              limit = MessageReaderFactory.ReadChunk, pollIntervalMs,
              reacquire = () => log.reacquireIterator())
            if (recs.nonEmpty) buf = recs.iterator.map(_._2)
            else Thread.sleep(pollIntervalMs)
          } catch {
            // engine stop interrupts the data-reader thread — also mid
            // ReadRetry backoff sleep; clean end-of-stream, not an error
            case _: InterruptedException =>
              Thread.currentThread().interrupt()
              return false
          }
        }
        false
      }
      override def get(): InternalRow = serializer(current).copy()
      override def getOffset: PartitionOffset = ShardPartitionOffset(log.shardId, idx)
      override def close(): Unit = ()
    }
  }
}
