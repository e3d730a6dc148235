package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.model.{Message, Provider}

/** One durable, totally-ordered, append-only shard — the engine's
  * in-memory equivalent of a Kinesis shard, with simulator parity:
  * zero-padded 12-digit decimal sequence numbers starting at
  * "000000000000" (`simulator/KinesisShardStream.java:30-50`), arrival
  * timestamps, timestamp→sequence linear scan (`:76-86`), and
  * injectable throttling for retry tests
  * (`simulator/KinesisAsyncClientSimulator.java:39-254`).
  *
  * Read-side enrichment happens here, exactly like
  * `KinesisStreamingBuffer.java:178-207`: `firstProvider` is set iff
  * absent; `provider` is ALWAYS overwritten with this read's stamp.
  */
final class ShardLog(val shardId: String = "shardId-000000000000") {
  import ShardLog.Record

  private val records = ArrayBuffer.empty[Record]
  @volatile private var failPutsRemaining: Int = 0

  def size: Int = synchronized(records.size)

  /** Next sequence number that WILL be assigned (exclusive end offset). */
  def endSequence: String = synchronized(ShardLog.formatSeq(records.size.toLong))

  /** Simulate N throttled put batches (rate-limit recovery tests). */
  def injectPutFailures(n: Int): Unit = synchronized { failPutsRemaining = n }

  @volatile private var failReadsRemaining: Int = 0
  @volatile private var failReadsGeneric: Boolean = false

  /** Simulate N failed reads: throttles (ProvisionedThroughputExceeded
    * analogue) or generic errors — the reader's backoff-retry loop
    * (reference rows §2A-15/16) must absorb them.
    */
  def injectReadFailures(n: Int, generic: Boolean = false): Unit = synchronized {
    failReadsRemaining = n
    failReadsGeneric = generic
  }

  @volatile private var expireItersRemaining: Int = 0

  /** Simulate N expired-iterator reads (ExpiredIteratorException
    * analogue, `KinesisStreamingBuffer.java:121-127`): the reader must
    * re-acquire its iterator from the original cursor and continue —
    * distinct from throttle/generic retry, no failure budget consumed.
    */
  def injectIteratorExpiry(n: Int): Unit = synchronized { expireItersRemaining = n }

  /** GetShardIterator calls observed (re-acquisitions after expiry) —
    * the in-memory log is positional, so re-acquisition is only
    * bookkeeping here; a real-Kinesis adapter supplies a live
    * nextShardIteratorSupplier through the same seam. */
  val iteratorReacquisitions = new java.util.concurrent.atomic.AtomicLong()

  /** Throttled reads [[ReadRetry.readWithRetry]] backed off from, and
    * generic read failures it retried, since creation. Cumulative,
    * like [[iteratorReacquisitions]]; the micro-batch source reports
    * all three per shard in its progress metrics. */
  val throttleBackoffs = new java.util.concurrent.atomic.AtomicLong()
  val readRetries = new java.util.concurrent.atomic.AtomicLong()

  /** The re-acquisition seam ([[ReadRetry.readWithRetry]]'s `reacquire`
    * callback): reconstruct the read position from the cursor. */
  def reacquireIterator(): Unit = iteratorReacquisitions.incrementAndGet()

  /** Append a batch; returns assigned sequence numbers. Throws
    * [[ThrottledException]] while injected failures remain — the
    * producer's retry loop must re-send (only) the failed entries.
    */
  def putRecords(msgs: Seq[Message],
                 arrivalMillis: Long = System.currentTimeMillis()): Seq[String] = synchronized {
    if (failPutsRemaining > 0) {
      failPutsRemaining -= 1
      throw new ThrottledException(s"injected throttle, ${failPutsRemaining} remaining")
    }
    msgs.map { m =>
      val seq = ShardLog.formatSeq(records.size.toLong)
      records += Record(seq, arrivalMillis, m)
      seq
    }
  }

  /** Read up to `limit` records strictly ordered, starting at
    * `fromSeq` (inclusive or exclusive). `fromSeq=None` = TRIM_HORIZON.
    * Returns enriched messages with their sequence numbers.
    */
  /** Records served since creation — lets tests observe scan pruning. */
  val recordsRead = new java.util.concurrent.atomic.AtomicLong()

  /** read() invocations since creation — each one models one GetRecords
    * RPC against a real provider; tests assert readers batch them. */
  val readCalls = new java.util.concurrent.atomic.AtomicLong()

  def read(fromSeq: Option[String], inclusive: Boolean, limit: Int): Seq[(String, Message)] = synchronized {
    readCalls.incrementAndGet()
    if (expireItersRemaining > 0) {
      expireItersRemaining -= 1
      throw new IteratorExpiredException(s"injected iterator expiry, $expireItersRemaining remaining")
    }
    if (failReadsRemaining > 0) {
      failReadsRemaining -= 1
      if (failReadsGeneric) throw new RuntimeException(s"injected read error, $failReadsRemaining remaining")
      else throw new ThrottledException(s"injected read throttle, $failReadsRemaining remaining")
    }
    val startIdx = fromSeq match {
      case None => 0
      case Some(seq) =>
        val i = ShardLog.parseSeq(seq).toInt
        if (inclusive) i else i + 1
    }
    val out = records.iterator.slice(startIdx, math.min(records.size, startIdx + math.max(limit, 0)))
      .map(r => r.sequenceNumber -> enrich(r)).toSeq
    recordsRead.addAndGet(out.size)
    out
  }

  /** First sequence with arrival timestamp >= ts (AT_TIMESTAMP
    * semantics, linear scan like the simulator). None = past the end. */
  def sequenceAtTimestamp(epochMillis: Long): Option[String] = synchronized {
    records.find(_.arrivalMillis >= epochMillis).map(_.sequenceNumber)
  }

  /** Index of the first record with arrival timestamp >= ts — the
    * AT_TIMESTAMP seek; past the end it is the end index, so a reader
    * positioned there waits for the next record. */
  def indexAtTimestamp(epochMillis: Long): Long = synchronized {
    sequenceAtTimestamp(epochMillis).map(ShardLog.parseSeq)
      .getOrElse(ShardLog.parseSeq(endSequence))
  }

  private def enrich(r: Record): Message = {
    val stamp = Provider("graft", r.arrivalMillis, shardId, r.sequenceNumber)
    val first = r.message.firstProvider.orElse(Some(stamp))
    r.message.copy(firstProvider = first, provider = Some(stamp))
  }
}

final class ThrottledException(msg: String) extends RuntimeException(msg)

/** The ExpiredIteratorException analogue: the read position handle went
  * stale; recover by re-acquiring from the original cursor, not by
  * generic retry (`KinesisStreamingBuffer.java:121-127`). */
final class IteratorExpiredException(msg: String) extends RuntimeException(msg)

object ShardLog {
  final case class Record(sequenceNumber: String, arrivalMillis: Long, message: Message)
  def formatSeq(n: Long): String = f"$n%012d"
  def parseSeq(s: String): Long = s.toLong

  /** Global registry so DataSource V2 instances (created reflectively
    * by Spark from options) can resolve a log by name within the JVM —
    * the test-double wiring, like the reference's simulator SPI alias.
    */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, ShardLog]()
  def getOrCreate(name: String): ShardLog =
    registry.computeIfAbsent(name, _ => new ShardLog())
  def getOrCreate(name: String, shardId: String): ShardLog =
    registry.computeIfAbsent(name, _ => new ShardLog(shardId))
  def remove(name: String): Unit = registry.remove(name)
}
