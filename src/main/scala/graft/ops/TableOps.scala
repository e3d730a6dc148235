package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse TABLE-MAINTENANCE primitives — the batch forms of MERGE /
  * CDC-apply / slowly-changing-dimension history that keep a curated
  * corpus or feature table current between full rebuilds. All plain
  * declarative plans: one key-partitioned exchange each (join or
  * window), partial-aggregation/AQE friendly, nothing driver-side —
  * at 100 TB these are the shapes a nightly maintenance job runs.
  */
object TableOps {

  /** MERGE (upsert) with whole-ROW semantics: where a key exists in
    * `updates` the update row WINS ENTIRELY (including its nulls —
    * this is row replacement, not per-column coalesce); keys only in
    * `base` pass through; keys only in `updates` insert. Both inputs
    * must share `base`'s schema; key columns must be non-null.
    *
    * Shape: ONE full-outer shuffle join on the keys — both sides
    * partition together; with a bucketed base table the exchange on
    * the base side disappears entirely ([[Bucketing]]). */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val cols = base.columns.toSeq
    // string aliases (not Dataset column refs): updates commonly
    // DERIVE from the base table, and attribute-identity resolution
    // would make every key reference ambiguous in that self-join
    val b = base.alias("_ub")
    val u = updates.select(cols.map(col): _*)
      .withColumn("_present", lit(1)).alias("_uu")
    val cond = keys.map(k => col(s"_ub.$k") === col(s"_uu.$k")).reduce(_ && _)
    b.join(u, cond, "full_outer")
      .select(cols.map { c =>
        when(col("_uu._present").isNotNull, col(s"_uu.$c"))
          .otherwise(col(s"_ub.$c")).as(c)
      }: _*)
  }

  /** Apply a CDC CHANGELOG to obtain final state: per key, the row
    * with the highest `seqCol` wins; a winning row whose `opCol` is
    * `"delete"` erases the key. `seqCol` (with `tieBreak` columns
    * appended) must totally order each key's changes — the usual
    * commit-LSN / kafka-offset contract.
    *
    * Null-op contract: `opCol` must be NON-NULL on a winning row — a
    * null op is a malformed changelog record, and the plain
    * `op != 'delete'` filter would silently treat it as a DELETE
    * (null predicate → row dropped), losing the key. The filter raises
    * an error instead; losing rows never have their op inspected.
    *
    * Shape: one key-partitioned window (rank by seq desc) + a filter —
    * the rank predicate compiles to WindowGroupLimit, so each input
    * partition forwards at most one row per key into the exchange. */
  def cdcApply(changelog: DataFrame, keys: Seq[String], seqCol: String,
               opCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (Seq(seqCol) ++ tieBreak).map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val opOk = when(col(opCol).isNull,
      raise_error(concat(lit(s"cdcApply: NULL $opCol on the winning row for key ("),
        concat_ws(",", keys.map(k => col(k).cast("string")): _*),
        lit(") — a null op would silently act as a delete; fix the changelog")))
        .cast("boolean"))
      .otherwise(col(opCol) =!= "delete")
    changelog.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && opOk)
      .drop("_rn")
  }

  /** Build SCD TYPE-2 history from a change stream: per key (ordered
    * by `tsCol`, then `tieBreak`), collapse runs of the UNCHANGED
    * `valueCol` and emit one row per run with `valid_from` /
    * `valid_to` (null = current) — the dimension-table shape
    * point-in-time joins consume.
    *
    * Shape: two window passes (lag for run starts, lead for interval
    * ends) sharing ONE key exchange — the second window's
    * partitioning/order prefix matches the first, so Catalyst plans a
    * single sort. */
  def scd2(changes: DataFrame, key: String, tsCol: String, valueCol: String,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (Seq(tsCol) ++ tieBreak).map(col)
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    val starts = changes
      .withColumn("_prev", lag(col(valueCol), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col(valueCol))
    starts
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(key), col(valueCol), col(tsCol).as("valid_from"),
        col("valid_to"))
  }

  /** INCREMENTAL MAINTENANCE of a SUM/COUNT aggregate materialized
    * view: `mv` holds the current per-key aggregates, `delta` the
    * SAME aggregates computed over an insert batch alone; the result
    * is the view as a full recompute would produce it — a full-outer
    * key merge adding the two sides with missing-side zeros. Only the
    * SELF-MAINTAINABLE aggregate class applies (counts and sums —
    * exact under decimal addition, so maintained == recomputed
    * bit-for-bit); MIN/MAX and deletes need counted auxiliary views
    * or a recompute, the standard IVM limitation. Every non-key
    * column of `mv` must be such an aggregate; `delta` must share the
    * schema. One aggregate over the batch + one view-sized merge —
    * the batch is touched once, the fact history never. */
  def maintainAgg(mv: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "maintainAgg needs at least one key column")
    val cols = mv.columns.toSeq
    val aggCols = cols.filterNot(keys.contains)
    val m = mv.alias("_mb")
    val d = delta.select(cols.map(col): _*).alias("_md")
    // null-SAFE key equality: a NULL group key is legal under groupBy
    // semantics (one NULL group), and a plain === would strand it as a
    // duplicate NULL row on every maintenance round
    val cond = keys.map(k => col(s"_mb.$k") <=> col(s"_md.$k")).reduce(_ && _)
    m.join(d, cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"_mb.$k"), col(s"_md.$k")).as(k)) ++
        aggCols.map(c =>
          // cast back to the view's column type: decimal addition widens
          // (18,6)+(18,6) → (19,6), and an uncast merge would drift the
          // stored view's schema a digit per maintenance round
          (coalesce(col(s"_mb.$c"), lit(0)) + coalesce(col(s"_md.$c"), lit(0)))
            .cast(mv.schema(c).dataType).as(c)): _*)
  }

  /** The INSERT DELTA of a JOIN view V = A ⋈_keys B — the rows a full
    * recompute would add after insert batches ΔA / ΔB land on the two
    * sides: Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, with `a` / `b` the
    * PRE-batch snapshots (using post-batch snapshots would double-count
    * ΔA⋈ΔB). Either delta may be empty (one-sided ingest).
    *
    * Shape: three joins, each with a BATCH-sized delta on one side —
    * the base tables are probed, never joined against each other, so
    * maintenance cost scales with the batch (times join fan-out), not
    * the view history. Each join shuffles on `keys` (or broadcasts the
    * delta when it is small enough — size-decided); with both bases
    * bucketed on the join keys ([[Bucketing]]) the base-side exchanges
    * disappear and the three probes are exchange-free on the 100 TB
    * side. Returned columns follow `viewCols`. DELETES are out of
    * scope, as across this whole family: a general differential needs
    * counted multisets (row multiplicities that can go negative); the
    * insert-only form is the nightly-append contract the q88/q100/q103
    * views share. */
  def joinDelta(a: DataFrame, deltaA: DataFrame, b: DataFrame,
                deltaB: DataFrame, keys: Seq[String],
                viewCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "joinDelta needs at least one key column")
    require(viewCols.nonEmpty, "joinDelta needs the view's column list")
    def sel(df: DataFrame): DataFrame = df.select(viewCols.map(col): _*)
    sel(deltaA.join(b, keys))
      .unionByName(sel(a.join(deltaB, keys)))
      .unionByName(sel(deltaA.join(deltaB, keys)))
  }

  /** INCREMENTAL MAINTENANCE of a JOIN materialized view: `mv` holds
    * the current rows of V = A ⋈_keys B; the result appends
    * [[joinDelta]]'s three delta joins — set-equal (multiset-equal,
    * join multiplicities included) to recomputing the join over the
    * post-batch snapshots, without ever re-executing base ⋈ base.
    * The whole update is a pure APPEND of the delta rows, so a stored
    * view maintains with an append-mode write of `joinDelta` alone.
    * Completes the incremental-view family: sums/counts
    * ([[maintainAgg]]), distincts ([[maintainDistinct]]), envelopes
    * ([[maintainZoneMap]]), joins here. */
  def maintainJoin(mv: DataFrame, a: DataFrame, deltaA: DataFrame,
                   b: DataFrame, deltaB: DataFrame,
                   keys: Seq[String]): DataFrame =
    mv.unionByName(joinDelta(a, deltaA, b, deltaB, keys, mv.columns.toSeq))

  /** COUNTED-multiset join delta — the general differential the
    * insert-only [[joinDelta]] documents as out of scope: every input
    * row carries a signed MULTIPLICITY (`multCol`: +1 insert, −1
    * delete; a consolidated snapshot may carry any non-zero count),
    * and the join is BILINEAR in multiplicities —
    * (A+ΔA)⋈(B+ΔB) = A⋈B + ΔA⋈B + A⋈ΔB + ΔA⋈ΔB with the output
    * multiplicity the PRODUCT of the sides' (the DBSP / differential
    * dataflow Z-set algebra). `a`/`b` are the PRE-batch snapshots;
    * deletes must reference rows present in them (standard changelog
    * contract). Same three batch-sided joins as [[joinDelta]] — the
    * bases are probed, never joined against each other. The result is
    * UNCONSOLIDATED (append it to the stored view; the same view row
    * may appear with several signed counts) — [[consolidate]] merges,
    * which is how a DBSP view stays append-only between compactions. */
  def joinDeltaCounted(a: DataFrame, deltaA: DataFrame, b: DataFrame,
                       deltaB: DataFrame, keys: Seq[String],
                       viewCols: Seq[String],
                       multCol: String = "_mult"): DataFrame = {
    require(keys.nonEmpty, "joinDeltaCounted needs at least one key column")
    require(viewCols.nonEmpty, "joinDeltaCounted needs the view's column list")
    require(!viewCols.contains(multCol), s"$multCol must not be a view column")
    def side(df: DataFrame, as: String): DataFrame =
      df.withColumnRenamed(multCol, as)
    def j(l: DataFrame, r: DataFrame): DataFrame =
      side(l, "_ml").join(side(r, "_mr"), keys)
        .select(viewCols.map(col) :+
          (col("_ml") * col("_mr")).as(multCol): _*)
    j(deltaA, b).unionByName(j(a, deltaB)).unionByName(j(deltaA, deltaB))
  }

  /** Merge a counted view's signed rows: one group-by over the view
    * columns summing multiplicities, zero-count rows vanish (an
    * insert+delete pair nets out). Run at COMPACTION or read time —
    * the stored view appends [[joinDeltaCounted]] batches between
    * consolidations, so maintenance writes stay batch-sized while
    * only the periodic consolidation pays a view-keyed shuffle. */
  def consolidate(view: DataFrame, viewCols: Seq[String],
                  multCol: String = "_mult"): DataFrame =
    view.groupBy(viewCols.map(col): _*)
      .agg(sum(multCol).as(multCol))
      .filter(col(multCol) =!= 0L)

  /** [[maintainJoin]] with DELETES: `mv` is the consolidated counted
    * view of A ⋈_keys B; the result is the consolidated view after
    * signed batches ΔA / ΔB land — equal to recomputing the join of
    * the POST-batch snapshots with per-row join multiplicities. */
  def maintainJoinCounted(mv: DataFrame, a: DataFrame, deltaA: DataFrame,
                          b: DataFrame, deltaB: DataFrame,
                          keys: Seq[String],
                          multCol: String = "_mult"): DataFrame = {
    val viewCols = mv.columns.toSeq.filterNot(_ == multCol)
    consolidate(
      mv.unionByName(
        joinDeltaCounted(a, deltaA, b, deltaB, keys, viewCols, multCol)),
      viewCols, multCol)
  }

  /** Signed per-key AGGREGATE delta of a batch carrying multiplicities
    * (`multCol`: +1 insert, −1 delete) — the Z-set image of the batch
    * under the LINEAR aggregates: each of `sumCols` becomes
    * Σ mult·value, the count column Σ mult. One batch-sized aggregate;
    * the view and the fact history are never touched. `sumCols` name
    * BOTH the batch's per-row value columns and the view's aggregate
    * columns (the [[maintainAgg]] schema convention); keep them
    * DECIMAL for bit-exact maintenance. */
  def aggDeltaCounted(batch: DataFrame, keys: Seq[String], sumCols: Seq[String],
                      countCol: String = "cnt",
                      multCol: String = "_mult"): DataFrame = {
    require(keys.nonEmpty, "aggDeltaCounted needs at least one key column")
    require(!sumCols.contains(countCol) && !keys.contains(countCol),
      s"$countCol collides with a key/sum column")
    // each Σ mult·value casts back to the batch column's own type:
    // sum over decimal widens to (38,s), and an uncast delta would
    // drift a stored view's schema away from the freshly built mv0
    // (values stay exact — the cast only undoes the precision widening)
    val aggs = sumCols.map(c => sum(col(multCol) * col(c))
        .cast(batch.schema(c).dataType).as(c)) :+
      sum(col(multCol)).as(countCol)
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[maintainAgg]] with DELETES — the counted-aggregate form of the
    * q110 Z-set algebra: `mv` holds per-key SUM/COUNT aggregates
    * (`sumCols` + `countCol`), `batch` carries signed rows, and the
    * result equals recomputing the aggregates over the post-batch
    * snapshot — SUM and COUNT are LINEAR (they factor through
    * Σ mult·value), so one full-outer key merge adds the
    * [[aggDeltaCounted]] image in and groups whose count reaches zero
    * VANISH (a fully-deleted group leaves no residue; deletes must
    * reference rows present in the maintained history — the standard
    * changelog contract, under which a zero count forces zero sums).
    * MIN/MAX are NOT linear — a delete of the current extremum needs
    * the value multiset (auxiliary-structure variant) or a recompute;
    * that remains this family's documented limitation, as does
    * COUNT DISTINCT (sketch path, [[maintainDistinct]] — HLL registers
    * cannot unmerge either). Cost: one batch aggregate + one
    * view-sized merge, same shape as [[maintainAgg]]. */
  def maintainAggCounted(mv: DataFrame, batch: DataFrame, keys: Seq[String],
                         sumCols: Seq[String], countCol: String = "cnt",
                         multCol: String = "_mult"): DataFrame = {
    require(keys.nonEmpty, "maintainAggCounted needs at least one key column")
    val d = aggDeltaCounted(batch, keys, sumCols, countCol, multCol)
    val m = mv.alias("_mb")
    val dd = d.alias("_md")
    // null-safe: a NULL group key must merge with the view's NULL row,
    // not append a duplicate (see maintainAgg)
    val cond = keys.map(k => col(s"_mb.$k") <=> col(s"_md.$k")).reduce(_ && _)
    m.join(dd, cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"_mb.$k"), col(s"_md.$k")).as(k)) ++
        (sumCols :+ countCol).map(c =>
          // pinned to the view's type — see maintainAgg's drift note
          (coalesce(col(s"_mb.$c"), lit(0)) +
            coalesce(col(s"_md.$c"), lit(0)))
            .cast(mv.schema(c).dataType).as(c)): _*)
      .filter(col(countCol) =!= 0L)
  }

  /** Z-set PIPELINE maintenance — the DBSP chain rule through an
    * agg-over-join view: V = γ_aggKeys(A ⋈_joinKeys B) with SUM/COUNT
    * aggregates. Because differentiation composes (Δ(g∘f) = Δg ∘ Δf
    * for Z-set operators), a signed batch on either base side
    * propagates as ONE delta pass per operator: [[joinDeltaCounted]]
    * produces the join view's signed delta rows, and those rows feed
    * DIRECTLY into [[maintainAggCounted]] as its signed batch — the
    * intermediate join view is never materialized, stored, or
    * recomputed. `aggMv` holds the current (aggKeys, sumCols, countCol)
    * aggregates; `a`/`b` are PRE-batch snapshots carrying `multCol`
    * (+1 rows for a plain table); `sumCols` name both the join
    * output's value columns and the view's aggregate columns (the
    * [[maintainAgg]] schema convention — alias in the inputs). The
    * view's `countCol` is Σ join multiplicities, i.e. COUNT(*) of the
    * joined rows; groups whose count reaches zero vanish.
    *
    * Cost: three batch-sided joins + one batch-sized aggregate + one
    * view-sized merge. The bases are probed, never joined against each
    * other, and the fact history is never rescanned — the silver→gold
    * nightly shape at any scale. */
  def maintainPipelineCounted(aggMv: DataFrame, a: DataFrame, deltaA: DataFrame,
                              b: DataFrame, deltaB: DataFrame,
                              joinKeys: Seq[String], aggKeys: Seq[String],
                              sumCols: Seq[String], countCol: String = "cnt",
                              multCol: String = "_mult"): DataFrame = {
    require(aggKeys.nonEmpty, "maintainPipelineCounted needs agg key columns")
    val viewCols = (aggKeys ++ sumCols).distinct
    val dv = joinDeltaCounted(a, deltaA, b, deltaB, joinKeys, viewCols, multCol)
    maintainAggCounted(aggMv, dv, aggKeys, sumCols, countCol, multCol)
  }

  /** KEY-driven deletion for the counted family — deletes usually
    * ARRIVE as keys (an order cancellation, a retention purge), not as
    * signed full rows. Probes the stored PRE-batch snapshot with a
    * LEFT SEMI join on the key list (key-partitioned; the output is
    * delete-bounded and the snapshot is never rescanned downstream)
    * and stamps multiplicity −1 — exactly the signed batch the Z-set
    * maintainers consume. CASCADES fall out of the algebra, not out of
    * extra machinery: a deleted DIMENSION key removes every joined
    * fact contribution through joinDeltaCounted's ΔA⋈B term, so the
    * fact side needs no tombstones of its own. The derived batch
    * NEGATES the stored multiplicity (not a flat −1): a consolidated
    * snapshot may legally carry |mult| > 1 per row (the
    * [[joinDeltaCounted]] contract), and cancelling the key means
    * cancelling its FULL count. A snapshot without the mult column is
    * treated as +1-per-row and stamped −1. */
  def deleteBatchByKey(stored: DataFrame, delKeys: DataFrame,
                       keys: Seq[String], multCol: String = "_mult"): DataFrame = {
    require(keys.nonEmpty, "deleteBatchByKey needs key columns")
    val probed =
      stored.join(delKeys.select(keys.map(col): _*).distinct(), keys, "left_semi")
    if (stored.columns.contains(multCol))
      probed.withColumn(multCol, -col(multCol))
    else probed.withColumn(multCol, lit(-1L))
  }

  /** MIN/MAX with DELETES — the auxiliary-structure variant
    * [[maintainAggCounted]] documents as its limitation: min/max are
    * NOT linear (deleting the current extremum needs the runner-up),
    * so the maintained object is the counted VALUE MULTISET — one row
    * per (key, value) with a positive count, which is exactly
    * [[maintainAggCounted]] with the value lifted into the group key
    * and COUNT as the only aggregate. Deletes decrement; a value
    * whose count reaches zero vanishes, so [[readMinMax]] recovers
    * the runner-up EXACTLY — none of the stale-envelope looseness
    * insert-only [[maintainZoneMap]] tolerates. Aux size = distinct
    * (key, value) pairs — the standard space trade; quantize the
    * value first when it is continuous and the consumer accepts
    * bucketed extrema. */
  def maintainValueCounts(aux: DataFrame, batch: DataFrame, keys: Seq[String],
                          valueCol: String, countCol: String = "cnt",
                          multCol: String = "_mult"): DataFrame =
    maintainAggCounted(aux, batch, keys :+ valueCol, Nil, countCol, multCol)

  /** Per-key min/max (+ exact row count) read off the
    * [[maintainValueCounts]] auxiliary view — aux-sized work, the
    * history is never rescanned. Output: keys, `mn_<value>`,
    * `mx_<value>`, `countCol`. Pass `distinctCol` to ALSO emit the
    * EXACT per-key distinct-value count — it is just the aux's row
    * count per key, so the same view answers the one aggregate
    * [[maintainDistinct]]'s HLL sketches can only approximate and
    * can never unmerge a delete from. */
  def readMinMax(aux: DataFrame, keys: Seq[String], valueCol: String,
                 countCol: String = "cnt",
                 distinctCol: Option[String] = None): DataFrame = {
    val base = Seq(
      min(valueCol).as(s"mn_$valueCol"),
      max(valueCol).as(s"mx_$valueCol"),
      sum(countCol).as(countCol)) ++
      distinctCol.map(c => count(lit(1)).as(c))
    aux.groupBy(keys.map(col): _*).agg(base.head, base.tail: _*)
  }

  /** EXACT per-key order statistic read off the [[maintainValueCounts]]
    * auxiliary view — the full payoff of storing the counted value
    * multiset: not just min/max but ANY discrete quantile, exact
    * under arbitrary deletes (where sketch quantiles drift and
    * insert-only digests cannot unmerge). The rank-`p` value is the
    * element at 1-based sorted position ceil(p·total); per key one
    * value-ordered cumulative window finds the row whose cumulative
    * count covers that position — aux-sized work (distinct values per
    * key), the history never rescanned. `p` must have an exact
    * decimal form (0.5, 0.25, 0.99 — the ceil is computed in DECIMAL
    * so the position is engine-exact, never an IEEE boundary).
    * Returns keys + `q_<value>` + `total`. */
  def readQuantile(aux: DataFrame, keys: Seq[String], valueCol: String,
                   p: java.math.BigDecimal,
                   countCol: String = "cnt"): DataFrame = {
    require(p.signum > 0 && p.compareTo(java.math.BigDecimal.ONE) <= 0,
      s"p must be in (0, 1] (got $p)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(keys.map(col): _*)
    val pos = ceil(lit(p) * col("_tot")) // decimal * long -> exact decimal
    aux
      .withColumn("_cum", sum(countCol).over(w))
      .withColumn("_tot", sum(countCol).over(wt))
      .filter(col("_cum") - col(countCol) < pos && pos <= col("_cum"))
      .select(keys.map(col) :+ col(valueCol).as(s"q_$valueCol") :+
        col("_tot").as("total"): _*)
  }

  /** Maintained TOP-K (leaderboard) read off the
    * [[maintainValueCounts]] auxiliary view — the third non-linear
    * family member after min/max ([[readMinMax]]) and quantiles
    * ([[readQuantile]]): the per-key top-`k` leaderboard kept exact
    * under arbitrary deletes, runner-up promotion included (deleting
    * the current #1 just removes its aux row; the next value slides
    * into rank 1 — no recompute, no tombstone scan). Emits one row
    * per leaderboard SLOT: (keys..., rank 1..k, value), a value with
    * multiplicity m filling m consecutive slots — exactly the
    * row_number-over-the-post-delete-snapshot semantics, but computed
    * in aux-sized work (distinct values per key) with the history
    * never rescanned.
    *
    * Plan shape: a row_number rank ≤ k filter FIRST — Spark's
    * WindowGroupLimit pushes the per-key top-k selection below the
    * sort, so only ≤ k aux rows per key reach the cumulative window
    * that assigns slots. A non-positive stored count violates the
    * [[maintainValueCounts]] contract (deletes must reference present
    * rows) and fails LOUDLY — a silent descending `sequence` would
    * emit phantom ranks. */
  def readTopK(aux: DataFrame, keys: Seq[String], valueCol: String, k: Int,
               countCol: String = "cnt", ascending: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "readTopK needs at least one key column")
    require(k >= 1, s"k must be >= 1 (got $k)")
    val ord = if (ascending) col(valueCol).asc else col(valueCol).desc
    val wr = Window.partitionBy(keys.map(col): _*).orderBy(ord)
    val wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aux
      .withColumn("_cnt",
        when(col(countCol) <= 0L,
          raise_error(concat(lit("readTopK: non-positive count "),
            col(countCol).cast("string"), lit(" for value "),
            col(valueCol).cast("string"),
            lit(" — aux violates the counted-multiset contract")))
            .cast("long"))
          .otherwise(col(countCol).cast("long")))
      .withColumn("_rn", row_number().over(wr))
      .filter(col("_rn") <= k)
      .withColumn("_cum", sum("_cnt").over(wc))
      .filter(col("_cum") - col("_cnt") < k)
      .select(keys.map(col) :+ col(valueCol) :+
        explode(sequence(col("_cum") - col("_cnt") + 1,
          least(col("_cum"), lit(k.toLong)))).as("rank"): _*)
      .select(keys.map(col) :+ col("rank") :+ col(valueCol): _*)
  }

  /** Per-key HLL distinct-count SKETCH table — the materialization
    * side of [[maintainDistinct]]: (keys..., sketch binary). lgK
    * sizes the registers (relative std error ~1.04/√2^lgK). */
  def distinctSketch(df: DataFrame, keys: Seq[String], valueCol: String,
                     lgK: Int = 12): DataFrame = {
    require(keys.nonEmpty, "distinctSketch needs at least one key column")
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
  }

  /** Insert-only ZONE-MAP / envelope maintenance: per-key min/max/sum
    * columns merged by one full-outer key join — least/greatest skip
    * the missing side (Spark semantics), sums zero-fill. min/max are
    * self-maintainable under INSERTS only (a delete can strand a
    * stale envelope bound — still CORRECT for data skipping, just
    * looser; a periodic [[Layout]] rewrite re-tightens). Completes
    * the incremental-view family: sums/counts ([[maintainAgg]]),
    * distincts ([[maintainDistinct]]), envelopes here. */
  def maintainZoneMap(mv: DataFrame, delta: DataFrame, keys: Seq[String],
                      minCols: Seq[String], maxCols: Seq[String],
                      sumCols: Seq[String] = Nil,
                      bloomStatCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "maintainZoneMap needs at least one key column")
    // presence markers: after the full-outer join, a MISSING side and a
    // present row whose bloom is NULL both read as NULL columns — but
    // they merge differently (new key: the other side's bloom covers
    // alone; present-but-uncovered: the merge must stay NULL, a bloom
    // that misses rows would wrongly prune)
    val m = mv.withColumn("_mbp", lit(true)).alias("_mb")
    val d = delta.select(mv.columns.toSeq.map(col): _*)
      .withColumn("_mdp", lit(true)).alias("_md")
    // null-safe keys — see maintainAgg's NULL-group note
    val cond = keys.map(k => col(s"_mb.$k") <=> col(s"_md.$k")).reduce(_ && _)
    m.join(d, cond, "full_outer").select(
      keys.map(k => coalesce(col(s"_mb.$k"), col(s"_md.$k")).as(k)) ++
        minCols.map(c => least(col(s"_mb.$c"), col(s"_md.$c")).as(c)) ++
        maxCols.map(c => greatest(col(s"_mb.$c"), col(s"_md.$c")).as(c)) ++
        sumCols.map(c => (coalesce(col(s"_mb.$c"), lit(0L)) +
          coalesce(col(s"_md.$c"), lit(0L))).as(c)) ++
        // bloom merge: one-sided keys pass the present side's sketch
        // through; two-sided keys union (bit-identical to a rebuild at
        // equal build params), unless EITHER present side is
        // uncovered (NULL) — then the merge is NULL (conservative:
        // the reader treats a missing bloom as "constrains nothing")
        bloomStatCols.map(c =>
          when(col("_mb._mbp").isNull, col(s"_md.$c"))
            .when(col("_md._mdp").isNull, col(s"_mb.$c"))
            .when(col(s"_mb.$c").isNull || col(s"_md.$c").isNull,
              lit(null).cast("binary"))
            .otherwise(graft.functions.BloomExprs.bloom_union(
              col(s"_mb.$c"), col(s"_md.$c"))).as(c)): _*)
  }

  // ---- versioned snapshot store (the streaming commit convention) ----
  //
  // Every streaming maintenance loop in this engine commits its state
  // as `$root/v=<version>` snapshot directories keyed off the
  // micro-batch id (the poor-man's Delta commit: exactly-once falls
  // out of idempotent overwrite, and a restarted batch re-derives its
  // version from the FIRST EXISTING version <= batchId). These
  // helpers make that resolution rule one spelling — and give the
  // store the retention story an unbounded commit log needs.

  /** The snapshot directory of version `v` under `root`. */
  def versionPath(root: String, v: Long): String = s"$root/v=$v"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, root: String)
    : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** All snapshot versions currently present under `root`, ascending.
    * One filesystem listing — version-count-bounded driver metadata
    * (the reason [[vacuumVersions]] exists: at a commit per
    * micro-batch this grows without retention). */
  def listVersions(spark: org.apache.spark.sql.SparkSession,
                   root: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toLong).toOption)
      .sorted
  }

  private val vacuumMarker = "_VACUUM_HORIZON"

  /** The store's vacuum horizon — the oldest version whose resolution
    * behavior is still guaranteed ([[vacuumVersions]] wrote it); None
    * for a never-vacuumed store. */
  def vacuumHorizon(spark: org.apache.spark.sql.SparkSession,
                    root: String): Option[Long] = {
    val (fs, p) = fsOf(spark, root)
    val m = new org.apache.hadoop.fs.Path(p, vacuumMarker)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val s = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
        Some(s.toLong)
      } finally in.close()
    }
  }

  /** THE resolution rule of the versioned store: the first existing
    * version <= `batchId` — what every replayed micro-batch reads its
    * predecessor state from. Fails LOUDLY (never silently serves a
    * NEWER snapshot, which would break replay determinism) when
    * `batchId` precedes the vacuum horizon or no version qualifies. */
  def resolveVersion(spark: org.apache.spark.sql.SparkSession,
                     root: String, batchId: Long): Long = {
    vacuumHorizon(spark, root).foreach { h =>
      if (batchId < h) throw new IllegalStateException(
        s"resolveVersion($root, $batchId): the store was vacuumed to " +
          s"horizon $h — versions serving batch ids below it were deleted, " +
          s"and serving a newer snapshot instead would silently change a " +
          s"replayed batch's input. Re-seed the store or replay from >= $h.")
    }
    val cand = listVersions(spark, root).filter(_ <= batchId)
    if (cand.isEmpty) throw new IllegalStateException(
      s"resolveVersion($root, $batchId): no snapshot version <= $batchId " +
        s"exists (present: ${listVersions(spark, root).mkString(", ")})")
    cand.max
  }

  /** RETENTION for the versioned snapshot store — the operator the
    * per-micro-batch commit cadence needs (a lifecycle stream
    * otherwise keeps O(batches × state) forever). Deletes every
    * version strictly below the FLOOR of `keepFrom` — the largest
    * existing version <= `keepFrom` — and records the floor in a
    * `_VACUUM_HORIZON` marker. Keeping the floor (not just versions
    * >= `keepFrom`) is what preserves the resolution contract: for
    * EVERY `batchId >= floor`, [[resolveVersion]] returns the SAME
    * version after the vacuum as before (no version existed in
    * (floor, keepFrom), so ids in that gap still resolve to the
    * floor), and replay of any retained batch is bit-identical.
    * Resolving below the floor fails loudly ([[resolveVersion]]).
    * The marker is written BEFORE any delete, so a crash mid-vacuum
    * can only leave extra versions behind — stale-but-loud, never a
    * silently re-routed replay. Returns the versions deleted. */
  def vacuumVersions(spark: org.apache.spark.sql.SparkSession,
                     root: String, keepFrom: Long): Seq[Long] = {
    val versions = listVersions(spark, root)
    val floorOpt = versions.filter(_ <= keepFrom).lastOption
    floorOpt match {
      case None => Seq.empty // nothing at or below keepFrom: no-op
      case Some(floor) =>
        val doomed = versions.filter(_ < floor)
        if (doomed.isEmpty && vacuumHorizon(spark, root).exists(_ >= floor))
          return Seq.empty
        val (fs, p) = fsOf(spark, root)
        val horizon = math.max(floor, vacuumHorizon(spark, root).getOrElse(Long.MinValue))
        // marker first (atomic rename), deletes after — see scaladoc
        val tmp = new org.apache.hadoop.fs.Path(p, s".$vacuumMarker.tmp")
        val out = fs.create(tmp, true)
        try out.write(s"$horizon\n".getBytes("UTF-8")) finally out.close()
        val marker = new org.apache.hadoop.fs.Path(p, vacuumMarker)
        // OVERWRITE-rename, not delete-then-rename: the latter has a
        // crash window with NO marker on disk while earlier vacuums'
        // deletions persist — a later below-horizon resolve could then
        // silently serve a leftover version instead of failing loudly.
        // FileContext.rename(OVERWRITE) is atomic where the FS supports
        // it (HDFS, local) and throws loudly where it does not.
        // CHECKSUM-FS hygiene: fc's ChecksumFs rename carries the
        // source's `.crc` sidecar onto the destination's, but a source
        // WITHOUT one leaves the destination's old `.marker.crc` in
        // place — describing STALE content and bricking every later
        // fs.open(marker) with ChecksumException. fs.create(tmp) on a
        // checksummed fs writes the tmp's sidecar, so only a crc-less
        // tmp strands one; drop the marker's sidecar BEFORE the rename
        // regardless (a crash after the drop leaves the old marker
        // crc-less — readable, missing checksums just skip
        // verification) and the tmp's after (orphan cleanup; a no-op
        // once the rename has carried it).
        def crcOf(x: org.apache.hadoop.fs.Path) =
          new org.apache.hadoop.fs.Path(x.getParent, s".${x.getName}.crc")
        fs.delete(crcOf(marker), false)
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(marker),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        fs.delete(crcOf(tmp), false)
        doomed.foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(versionPath(root, v)), true)
        }
        doomed
    }
  }

  /** Incremental DISTINCT-COUNT view maintenance — the
    * non-self-maintainable aggregate [[maintainAgg]] cannot carry
    * (COUNT DISTINCT needs the SET, not a number; re-counting means
    * re-scanning all history): store a per-key HLL sketch instead and
    * merge each ingest batch's sketch in with one full-outer key join
    * + a register-max union. HLL register state is SET-determined
    * (max per bucket), so the maintained sketch's ESTIMATE equals the
    * from-scratch rebuild's exactly — batch boundaries, merge order
    * and partitioning all invisible — and sits within the lgK error
    * band of the true distinct count. The view stays key-count-sized
    * (2^lgK bytes per key) while the history it summarizes is
    * unbounded — the 100 TB trade this op exists for. */
  def maintainDistinct(mv: DataFrame, delta: DataFrame, keys: Seq[String],
                       sketchCol: String = "sketch"): DataFrame = {
    require(keys.nonEmpty, "maintainDistinct needs at least one key column")
    val m = mv.alias("_mb")
    val d = delta.select(mv.columns.toSeq.map(col): _*).alias("_md")
    // null-safe keys — see maintainAgg's NULL-group note
    val cond = keys.map(k => col(s"_mb.$k") <=> col(s"_md.$k")).reduce(_ && _)
    m.join(d, cond, "full_outer")
      .select(keys.map(k => coalesce(col(s"_mb.$k"), col(s"_md.$k")).as(k)) :+
        when(col(s"_mb.$sketchCol").isNull, col(s"_md.$sketchCol"))
          .when(col(s"_md.$sketchCol").isNull, col(s"_mb.$sketchCol"))
          .otherwise(hll_union(col(s"_mb.$sketchCol"), col(s"_md.$sketchCol")))
          .as(sketchCol): _*)
  }
}
