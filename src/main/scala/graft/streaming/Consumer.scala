package graft.streaming

import scala.concurrent.{ExecutionContext, Future}

import graft.model._

/** Pull-style consumer over one shard — the reference's
  * `KinesisMessiStreamingConsumer` surface (`receive`, `receiveAsync`,
  * `seek`, cursor factories), including the AT_ULID / AT_EXTERNAL_ID
  * scan-to-match resolution (`KinesisMessiStreamingConsumer.java:63-148`,
  * SURVEY.md §2A-13):
  *
  *  - fuzzy seek to `target - tolerance` (AT_TIMESTAMP semantics);
  *  - scan forward comparing ULID / externalId;
  *  - exact match → start there (inclusive or exclusive);
  *  - no match within the window → REPLAY from the first message whose
  *    timestamp >= lower bound (the reference's lookahead-buffer
  *    fallback).
  *
  * In Spark terms this consumer is the TCK-parity facade; the
  * equivalent declarative forms are a `filter` after a timestamp-seek
  * in batch, and [[CursorGate]] (flatMapGroupsWithState) online.
  */
final class ShardConsumer(log: ShardLog, initial: Cursor, pollIntervalMs: Long = 5) {
  require(initial.shardId == log.shardId,
    s"cursor shard ${initial.shardId} != log shard ${log.shardId}")

  private var cursor: Cursor = initial
  private var nextIdx: Long = -1L // resolved position; -1 = unresolved
  private var closed = false
  private var lastDelivered: Option[Message] = None

  def isClosed: Boolean = closed
  def close(): Unit = closed = true

  /** Blocking poll with timeout; None when nothing arrives in time. */
  def receive(timeoutMillis: Long): Option[Message] = {
    if (closed) throw new IllegalStateException("consumer is closed")
    val deadline = System.currentTimeMillis() + timeoutMillis
    var out: Option[Message] = None
    var done = false
    while (!done) {
      if (nextIdx < 0) resolve()
      if (nextIdx >= 0) {
        val got = log.read(Some(ShardLog.formatSeq(nextIdx)), inclusive = true, limit = 1)
        if (got.nonEmpty) {
          nextIdx += 1
          lastDelivered = Some(got.head._2)
          out = Some(got.head._2)
          done = true
        }
      }
      if (!done) {
        if (System.currentTimeMillis() >= deadline) done = true
        else Thread.sleep(math.min(pollIntervalMs, math.max(1, deadline - System.currentTimeMillis())))
      }
    }
    out
  }

  def receiveAsync()(implicit ec: ExecutionContext): Future[Option[Message]] =
    Future(receive(300000L))

  /** Re-seek to a provider-time position, both directions — drains
    * state and re-resolves, like `KinesisStreamingBuffer.java:295-324`. */
  def seek(epochMillis: Long): Unit = {
    cursor = Cursor.atTime(log.shardId, epochMillis)
    nextIdx = -1
  }

  /** Checkpoint helpers on the last delivered message (reference:
    * `cursorAt` replays it, `cursorAfter` starts at the next one). */
  def cursorAtLast: Option[Cursor] = lastDelivered.map(Cursor.at)
  def cursorAfterLast: Option[Cursor] = lastDelivered.map(Cursor.after)

  private def resolve(): Unit = cursor.start match {
    case StartingPoint.OldestRetained => nextIdx = 0L
    case StartingPoint.Now => nextIdx = ShardLog.parseSeq(log.endSequence)
    case StartingPoint.AtProviderSequence(seq, inc) =>
      nextIdx = ShardLog.parseSeq(seq) + (if (inc) 0 else 1)
    case StartingPoint.AtProviderTime(ts) =>
      nextIdx = log.indexAtTimestamp(ts)
    case StartingPoint.AtUlid(u, inc, tol) =>
      scanToMatch(u.timestampMillis - tol, u.timestampMillis + tol,
        m => m.ulid.contains(u), inc)
    case StartingPoint.AtExternalId(id, ts, tol, inc) =>
      scanToMatch(ts - tol, ts + tol, m => m.externalId.contains(id), inc)
  }

  private def scanToMatch(lower: Long, upper: Long,
                          matches: Message => Boolean, inclusive: Boolean): Unit = {
    // no message at/after the lower bound yet: the seek lands on the
    // end index and there is nothing to scan
    val s0 = log.indexAtTimestamp(lower)
    var i = s0
    val end = ShardLog.parseSeq(log.endSequence)
    var found = -1L
    while (found < 0 && i < end) {
      val rec = log.read(Some(ShardLog.formatSeq(i)), inclusive = true, limit = 1)
      rec.headOption match {
        case Some((_, m)) if matches(m) => found = i
        case Some((_, m)) if m.provider.exists(_.publishedTimestamp > upper) =>
          i = end // out of the tolerance window: stop scanning
        case _ => i += 1
      }
    }
    // exact match → position there; no match → lookahead replay
    // from the first message >= lower bound
    nextIdx = if (found >= 0) found + (if (inclusive) 0 else 1) else s0
  }
}
