package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{MinHashExprs, ShingleExprs}
import graft.ops.CorpusOps

/** Near-dup detection AT INGEST — the dedup a 100 TB pipeline wants to
  * run BEFORE paying to store a document: MinHash-LSH banding applied
  * to the arriving stream, with each band bucket's first-seen owner
  * held in keyed streaming state.
  *
  * Shape: signatures are row-local (the same native `shingle_sha60` +
  * `minhash_sig` kernels and the same `CorpusOps.lshBands` banding as
  * batch `l2_minhash_lsh`, 16 bands × 4 rows); the only shuffle keys by
  * band bucket (band, bsig), where a `flatMapGroupsWithState` keeps
  * min(doc_id) seen per bucket. The emitted stream is one record per
  * (doc, band) with its collision verdict — collision events are tiny
  * (candidate-sized, not corpus-sized), and the per-doc rollup
  * (`dup = ANY band collided`, an LSH candidate in the batch path's
  * sense) composes downstream: a second hop over the message bus, or a
  * batch rollup over the sink (IngestDedupSpec drives both the stream
  * and the rollup).
  *
  * Determinism: keep-first is by doc_id, not arrival order — a batch's
  * verdicts depend only on min(doc_id) across state ∪ batch, so two
  * docs of one micro-batch race deterministically (smaller id owns the
  * bucket) and replays reproduce identical verdicts.
  *
  * State size: one long per live band bucket. At scale the state store
  * is RocksDB-backed and the bucket space is bounded by distinct band
  * signatures seen; with a bounded dedup horizon, [[bandCollisionsTtl]]
  * ages buckets out by EVENT-TIME timeout, so live state is bounded by
  * the horizon's bucket arrivals, not the stream's lifetime.
  */
object IngestDedup {

  /** (doc_id, band, dup) per arriving (doc_id, band) — `dup` iff the
    * bucket has (or this batch contains) a smaller doc_id. */
  final case class BandHit(doc_id: Long, band: Int, dup: Boolean)

  /** One (doc, band) row of the bucket stream, as the state function
    * reads it (the bucket key itself is the group key). */
  final case class BandRow(doc_id: Long, band: Int, ts: Timestamp)

  /** The state key: (band, bsig) — `bsig` is `minhash_bands`' packed
    * band values. Checkpoints written under the earlier string key
    * (`"$band|v1,v2,v3,v4"`) do not restart on this schema. */
  type BandKey = (Int, Array[Byte])

  def bandCollisions(docs: DataFrame, nBands: Int = 16, rowsPerBand: Int = 4): Dataset[BandHit] = {
    implicit val hitEnc = Encoders.product[BandHit]
    implicit val stateEnc = Encoders.scalaLong
    buckets(docs, nBands, rowsPerBand)
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: BandKey, rows: Iterator[BandRow], state: GroupState[Long]) =>
          keepFirst(rows.toVector, state)
      }
  }

  /** [[bandCollisions]] with a bounded dedup horizon: bucket state ages
    * out once the watermark passes last-arrival + `horizonMs` — a
    * duplicate arriving after the horizon BUT AHEAD of the watermark is
    * treated as first-seen (by then the original has been
    * curated/compacted; unbounded keep-first needs the batch dedup pass
    * anyway). Caller must supply an event time column `ts` WITH a
    * watermark (the timeout clock IS the watermark). Live state is
    * bounded by distinct buckets per horizon.
    *
    * Late data: a row whose event time is already BEHIND the current
    * watermark is dropped by Spark's EventTimeTimeout late-data filter
    * before it reaches the state function — it emits NO BandHit verdict
    * at all (not a first-seen one), so downstream rollups see the doc
    * vanish. A caller that needs a verdict for every doc must bound
    * arrival lateness via the watermark delay (or run the unbounded
    * [[bandCollisions]], which carries no event-time filter).
    */
  def bandCollisionsTtl(docs: DataFrame, horizonMs: Long,
                        nBands: Int = 16, rowsPerBand: Int = 4): Dataset[BandHit] = {
    implicit val hitEnc = Encoders.product[BandHit]
    implicit val stateEnc = Encoders.scalaLong
    buckets(docs, nBands, rowsPerBand)
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: BandKey, rows: Iterator[BandRow], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toVector
            val hits = keepFirst(batch, state)
            state.setTimeoutTimestamp(batch.iterator.map(_.ts.getTime).max + horizonMs)
            hits
          }
      }
  }

  /** Keep-first by doc_id: the bucket's owner is min(doc_id) over state
    * ∪ batch; every other row of the batch is a dup. */
  private def keepFirst(batch: Vector[BandRow], state: GroupState[Long]): Iterator[BandHit] = {
    val batchMin = batch.iterator.map(_.doc_id).min
    val seenMin = state.getOption.fold(batchMin)(math.min(_, batchMin))
    state.update(seenMin)
    batch.iterator.map(r => BandHit(r.doc_id, r.band, r.doc_id > seenMin))
  }

  /** (doc_id, band, bsig, event time) bucket stream grouped by
    * (band, bsig) — the banding kit's [[CorpusOps.lshBands]] over the
    * row-local signature, one record per (doc, band). The event-time
    * COLUMN rides through the projection so the upstream watermark
    * attribute (the TTL path's timeout clock) survives; `ts` defaults
    * to epoch 0 when the input carries no event time (the unbounded
    * path). Grouping by the two columns keeps the key in Catalyst (no
    * per-row key lambda). Null-body docs share one bucket per band, as
    * under the earlier string key. */
  private def buckets(docs: DataFrame, nBands: Int, rowsPerBand: Int)
      : KeyValueGroupedDataset[BandKey, BandRow] = {
    val withTs = if (docs.columns.contains("ts")) docs
      else docs.withColumn("ts", lit(new Timestamp(0L)))
    val sig = MinHashExprs.minhash_sig(ShingleExprs.shingle_sha60(col("text")))
    CorpusOps.lshBands(withTs, nBands, rowsPerBand, sig)
      .select(col("doc_id"), col("band"), col("bsig"), col("ts"))
      .groupBy(col("band"), col("bsig"))
      .as[BandKey, BandRow](
        Encoders.tuple(Encoders.scalaInt, Encoders.BINARY), Encoders.product[BandRow])
  }
}
