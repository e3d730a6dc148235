package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT for scan locality — the write-side
  * optimization that makes 100 TB reads cheap. Sorting a table by
  * (x, y) lexicographically clusters x only: each output file covers a
  * thin x-range but the FULL y domain, so a y-predicate prunes
  * nothing. A Morton (Z-order) key interleaves the bits of both
  * dimensions, so consecutive key ranges cover near-square blocks of
  * the (x, y) plane — every file's min/max footer envelope is tight in
  * BOTH dimensions and either predicate prunes files (the
  * Delta/Iceberg `ZORDER BY` semantic, built here from plain
  * shift/mask arithmetic).
  *
  * Everything is codegen'd built-in bit arithmetic (shiftleft / & / |)
  * — no UDF, no custom expression needed — and the same shift/mask
  * ladder is spelled in ANSI SQL by the q52 oracle, so key values are
  * engine-exact integers.
  */
object Layout {

  /** Bits of the low 16 bits of `c` spread to the even positions of a
    * 32-bit value — the standard interleave ladder ((x | x<<8) & m8,
    * then 4/2/1). */
  private def spread16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key of two 16-bit coordinates: x in the even bit
    * positions, y in the odd. Callers quantize wider domains down to
    * 16 bits first (`% 65536`, or a range-rank for non-integer
    * columns) — locality needs only the high-order structure. */
  def mortonKey(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Range-partition `df` into `numFiles` output partitions by the
    * Morton key of (`xCol`, `yCol`) and sort within each — the
    * write-side shape whose parquet files carry tight min/max
    * envelopes in BOTH dimensions. One skew-aware range exchange
    * (sampled bounds, the same machinery as a global sort) + an
    * in-partition sort; no global sort barrier. */
  def clusterByMorton(df: DataFrame, xCol: String, yCol: String,
                      numFiles: Int): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1 (got $numFiles)")
    df.withColumn("_zkey", mortonKey(col(xCol), col(yCol)))
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
  }

  /** HILBERT curve key of two `order`-bit coordinates — the
    * space-filling curve whose consecutive key ranges are CONNECTED
    * blocks (Morton's Z jumps across the plane at every quadrant
    * seam, so a key range can span two far-apart stripes; Hilbert
    * ranks strictly better on range-scan locality and is what large
    * tables cluster by when scan ranges matter more than key
    * arithmetic).
    *
    * Unlike [[mortonKey]]'s shift/mask ladder, the xy2d walk is
    * inherently SEQUENTIAL per bit level (each level rotates the
    * frame the next level reads), so as Column arithmetic it needs
    * `order` chained projections — measured ~2 s of Janino compile
    * tax per fresh plan at order 16. It is therefore a NATIVE kernel
    * ([[graft.functions.LayoutExprs.hilbert_key]]): one codegen'd JVM
    * loop per row, free to plan; the q75 oracle replays the identical
    * walk as an unrolled SQL CTE ladder — engine-exact integers.
    * Coordinates are masked to `order` bits inside the kernel. */
  def hilbertKey(x: Column, y: Column, order: Int = 16): Column =
    graft.functions.LayoutExprs.hilbert_key(
      x.cast("long"), y.cast("long"), order)

  /** [[clusterByMorton]] with the Hilbert key — same one-exchange
    * write shape, tighter range-scan locality. */
  def clusterByHilbert(df: DataFrame, xCol: String, yCol: String,
                       numFiles: Int, order: Int = 16): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1 (got $numFiles)")
    df.withColumn("_hkey", hilbertKey(col(xCol), col(yCol), order))
      .repartitionByRange(numFiles, col("_hkey"))
      .sortWithinPartitions("_hkey")
      .drop("_hkey")
  }

  /** CLUSTERING-HEALTH metric — the measured OPTIMIZE/recluster
    * trigger: given per-chunk key envelopes (one row per file/chunk,
    * CLOSED intervals [`mnCol`, `mxCol`]), how deeply do the
    * envelopes overlap? A perfectly clustered layout has depth 1
    * everywhere (each key point lives in one file, every predicate
    * prunes to one chunk); q103-style maintained zone maps LOOSEN
    * under appends, and once depth drifts a [[clusterByMorton]] /
    * [[clusterByHilbert]] rewrite re-tightens — this metric is the
    * number that says when.
    *
    * Computed as a boundary SWEEP, never a chunk × chunk interval
    * self-join (a 100 TB table at 1 GB files has 10⁵ chunks — the
    * join is 10¹⁰ pairs, the sweep 2·10⁵ events): each envelope
    * emits (+1 at mn, −1 at mx), events order by (pos, starts-first)
    * so touching closed intervals count as overlapping, and a running
    * sum reads the depth. Sampled at each chunk's START event:
    * depth(c) = number of chunks whose envelope covers c's mn,
    * c itself included. Returns ONE row of exact integers —
    * (n_chunks, sum_start_depth, max_depth); avg depth =
    * sum_start_depth / n_chunks, left undivided so the output is
    * engine-exact (sum and max are permutation-invariant under tied
    * positions, so the nondeterministic order among ties is
    * invisible). The window is a single global cumsum over the
    * metadata-sized event table — chunk-count-bounded, not
    * data-bounded. */
  def clusteringDepth(zones: DataFrame, mnCol: String, mxCol: String,
                      numRanges: Int = 64): DataFrame = {
    require(numRanges >= 1, s"numRanges must be >= 1 (got $numRanges)")
    // envelope contract, enforced loudly: a NULL (or non-castable)
    // bound would become a NULL event that sorts first and silently
    // corrupts the running depth; an inverted mn > mx would skew the
    // sweep. Malformed zone metadata is a bug upstream — fail the job.
    val mn = col(mnCol).cast("long")
    val mx = col(mxCol).cast("long")
    val checked = zones.select(
      when(mn.isNull || mx.isNull,
        raise_error(lit(s"clusteringDepth: NULL or non-integral envelope " +
          s"bound in ($mnCol, $mxCol) — fix the zone metadata")).cast("long"))
        .when(mn > mx,
          raise_error(concat(lit(s"clusteringDepth: inverted envelope "),
            mn.cast("string"), lit(" > "), mx.cast("string"))).cast("long"))
        .otherwise(mn).as("mn"),
      mx.as("mx"))
    val ev = checked.select(explode(array(
        struct(col("mn").as("pos"), lit(1).as("d")),
        struct(col("mx").as("pos"), lit(-1).as("d")))).as("e"))
      .select(col("e.pos").as("pos"), col("e.d").as("d"))
    // PARALLEL prefix sum — no global single-task window (a 100 TB
    // table has ~10⁶ chunks; one task would still survive 2M tiny
    // rows, but the ceiling is needless): events bucket by VALUE
    // RANGE (a deterministic, monotone function of pos — no sampled
    // partitioner, so the two subtrees below stay consistent without
    // a cache), each bucket cumsums under its own window partition,
    // and bucket prefix offsets (≤ numRanges tiny rows) broadcast
    // back in. Ties share a pos and therefore a bucket, so the
    // permutation-invariance argument is untouched.
    val env = broadcast(ev.agg(min("pos").as("_lo"), max("pos").as("_hi")))
    // span arithmetic in DECIMAL(38,0): a mixed-sign envelope wider
    // than half the long range would overflow (hi - lo + 1) in long
    // math and make the bucket assignment non-monotone in pos —
    // silently wrong depths. Decimal subtraction is exact here; the
    // double cast after it is monotone non-decreasing, which is all
    // bucketing needs (ties still share a pos and therefore a bucket).
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val bucketed = ev.crossJoin(env).select(col("pos"), col("d"),
      least(lit(numRanges - 1), greatest(lit(0),
        floor((d38(col("pos")) - d38(col("_lo"))).cast("double") /
          (d38(col("_hi")) - d38(col("_lo")) + 1).cast("double") * numRanges)))
        .cast("int").as("_bkt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_bkt")
      .orderBy(col("pos").asc, col("d").desc)
      .rowsBetween(Long.MinValue, 0)
    // prior-bucket offsets: one numRanges-row aggregate + a window
    // over those ≤ numRanges rows (single task over tiny data — the
    // per-event work above is what parallelized)
    val wo = org.apache.spark.sql.expressions.Window
      .orderBy("_bkt").rowsBetween(Long.MinValue, -1)
    val offsets = bucketed.groupBy("_bkt").agg(sum("d").as("_bsum"))
      .select(col("_bkt"), coalesce(sum("_bsum").over(wo), lit(0L)).as("_off"))
    bucketed.withColumn("_run", sum("d").over(w))
      .join(broadcast(offsets), "_bkt")
      .select(col("d"), (col("_run") + col("_off")).as("depth"))
      .filter(col("d") === 1)
      .agg(count(lit(1)).as("n_chunks"),
        sum("depth").as("sum_start_depth"),
        max("depth").as("max_depth"))
  }

  /** Write `df` as a CHUNK-PARTITIONED table: one directory per value
    * of `chunkCol` (hive-style partitioning), so a chunk predicate at
    * read time prunes whole directories from the file listing — the
    * physical substrate [[prunedRead]] consumes. `chunkCol` should be
    * STRING-typed (format numeric chunk ids up front): partition-value
    * type inference round-trips strings exactly, so the zone table's
    * chunk ids match the scan's partition column without a cast that
    * could defeat partition-filter pushdown. The range exchange packs
    * each task's rows into few chunks, so the table lands as ~one file
    * per chunk instead of `writeTasks × chunks` shards. */
  def writeClustered(df: DataFrame, path: String, chunkCol: String,
                     writeTasks: Int = 16): Unit =
    // HASH exchange, not range: a range exchange runs RangePartitioner's
    // SAMPLING pass (an extra scan of the input per write) only to make
    // each task's chunks ADJACENT, which nothing downstream needs —
    // chunk-wholeness (all rows of a chunk in one task ⇒ ~one file per
    // chunk) holds under hash too, and the hive-style partitionBy
    // directories carry the layout; the chunk-dir row sets (and so the
    // zone envelopes and every read result) are identical. Paired A/B:
    // 0.75–0.87 min-ratio on q126/q127/q129/q131/q132/q133/q135, ~1.0
    // on q121/q136 (round-18 ledger). clusterByMorton/clusterByHilbert
    // keep their range exchange — there key ADJACENCY per file is the
    // semantic (tight per-file envelopes).
    df.repartition(math.max(1, writeTasks), col(chunkCol))
      .write.mode("overwrite").partitionBy(chunkCol).parquet(path)

  /** ONE range predicate per dimension of a [[prunedRead]] — a closed
    * interval `[lo, hi]` on `column`, either side open-ended via
    * `None`. The read derives BOTH the zone-envelope resolution and
    * the exact row residual from this single spec, so the two can
    * never disagree: an independently-authored zone predicate tighter
    * than the residual (the class that silently DROPS rows) is
    * unrepresentable by construction. */
  final case class RangeSpec(column: String, lo: Option[Any],
                             hi: Option[Any]) {
    require(lo.isDefined || hi.isDefined,
      s"RangeSpec($column): at least one bound required")
    /** Exact row predicate over the data column. The envelope test is
      * NOT derived here anymore — [[prunedRead]] routes this residual
      * through the [[graft.plans.TransparentZoneMapFileIndex]], which
      * re-derives the chunk-intersection test from the PUSHED form of
      * this very predicate, so the two can never diverge. */
    def residual: Column =
      (lo.map(v => col(column) >= lit(v)) ++
        hi.map(v => col(column) <= lit(v))).reduce(_ && _)
  }
  object RangeSpec {
    def between(column: String, lo: Any, hi: Any): RangeSpec =
      RangeSpec(column, Some(lo), Some(hi))
    def atLeast(column: String, lo: Any): RangeSpec =
      RangeSpec(column, Some(lo), None)
  }

  /** ZONE-MAP-PRUNED READ — the maintained envelopes finally SKIPPING
    * I/O, not just measuring it: resolve the range predicates against
    * the chunk-level zone table (the q83/q103 min/max envelopes,
    * `mn_<col>`/`mx_<col>` columns keyed by `chunkCol`), read ONLY the
    * matching chunks of a [[writeClustered]] table, and apply the
    * exact row predicate to the survivors. BOTH predicates derive from
    * the SAME [[RangeSpec]]s — the envelope test `mx >= lo AND
    * mn <= hi` is emitted mechanically per dimension, so a zone
    * predicate inconsistent with the residual cannot be written (the
    * silent-row-drop footgun the dual-predicate form carried).
    *
    * The zone resolution is a PLANNING-TIME step over the
    * chunk-count-bounded metadata table — the manifest-pruning step
    * every lakehouse reader (Delta/Iceberg data skipping) runs before
    * touching data. The envelopes feed a
    * [[graft.plans.TransparentZoneMapFileIndex]], Spark's own planning
    * seam for file listing: the residual's PUSHED conjuncts intersect
    * the envelopes there, pruned chunk directories never reach the
    * parquet reader (PlanContractSpec pins the EXECUTED scan's
    * `numFiles` < total), and the query plan carries NO chunk-id
    * literal list — at 10⁶ chunks the envelopes are driver-side
    * planning metadata (where Delta keeps its manifest), not a
    * 10⁶-element IN-expression.
    *
    * Correctness does not depend on the envelopes being TIGHT — stale
    * (q103-loosened) bounds only scan extra chunks; the residual keeps
    * the row set exact either way. An all-NULL chunk envelope is
    * skipped, consistently: its rows fail the range residual too. And
    * since round 14 this form IS the transparent reader in explicit
    * clothing — [[zoneMapRead]] under the residual filters — so a zone
    * table that misses a chunk KEEPS it (rows survive, skipping
    * loosens) instead of silently dropping its rows; the completeness
    * contract became a tightness optimization. Non-numeric/temporal
    * bound types prune nothing (conservative) but stay exact. */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
                 zones: DataFrame, chunkCol: String,
                 preds: Seq[RangeSpec]): DataFrame = {
    require(preds.nonEmpty, "prunedRead needs at least one RangeSpec")
    zoneMapRead(spark, path, zones, chunkCol, preds.map(_.column).distinct)
      .filter(preds.map(_.residual).reduce(_ && _))
  }

  /** Parquet relation over a custom [[FileIndex]] — the seam both
    * pruned-read forms share. The table's schema comes from the
    * session's schema cache ([[graft.Tables.schema]]), so a table read
    * again starts no inference job. */
  private def relationOver(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           idx: org.apache.spark.sql.execution.datasources.FileIndex): DataFrame = {
    val fullSchema = graft.Tables.schema(spark, path)
    val dataSchema = org.apache.spark.sql.types.StructType(
      fullSchema.filterNot(f => idx.partitionSchema.fieldNames.contains(f.name)))
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx, idx.partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** TRANSPARENT zone-map-pruned table — the step past [[prunedRead]]:
    * no predicate is passed at all. The returned DataFrame reads the
    * whole [[writeClustered]] table, but its scan is backed by a
    * [[graft.plans.TransparentZoneMapFileIndex]] holding the collected
    * chunk envelopes (`mn_<col>`/`mx_<col>` per `cols` entry, the
    * [[TableOps.readMinMax]] convention, chunk-count-bounded driver
    * metadata — the Delta-manifest position). Whatever range
    * predicates the QUERY later applies — `.filter(...)`, a SQL WHERE
    * over a temp view, a join's pushed bound — reach the scan as
    * Spark's own `dataFilters` and prune chunk directories at listing
    * time. Pruning is conservative: unrecognized predicate shapes,
    * lossy casts, and chunks MISSING from the zone table are all kept
    * (an incomplete zone table loosens skipping here instead of
    * dropping rows — strictly safer than the explicit
    * [[prunedRead]] contract), and the pushed predicates still
    * re-filter every surviving row, so the row set is exact under any
    * envelope state. Numeric, temporal, AND string envelope columns
    * prune (strings in UTF8 binary order — Spark's own default
    * string comparison); anything else is ignored. */
  def zoneMapRead(spark: org.apache.spark.sql.SparkSession, path: String,
                  zones: DataFrame, chunkCol: String,
                  cols: Seq[String]): DataFrame = {
    val env = collectEnvelopes(zones, chunkCol, cols, "zoneMapRead")
    val inner = graft.plans.ZoneMapFileIndex.listing(spark, path)
    relationOver(spark, path,
      new graft.plans.TransparentZoneMapFileIndex(inner, Some(chunkCol), env))
  }

  /** Collect a zone table into the index's driver-side stats map
    * (key → column → [[graft.plans.ZoneMapFileIndex.ColStats]]) —
    * chunk-count- or file-count-bounded metadata, the one deliberate
    * driver action of the reader family.
    * A NULL envelope value means the column is all-NULL in that unit
    * (None bound → the index may DROP under a range conjunct); a
    * non-null value outside the comparable domain (NaN, binary, …)
    * must instead OMIT the column — "no envelope known" — or a wrong
    * drop could follow from a type, not from data. OPTIONAL
    * `nc_<col>` / `rc_<col>` columns (exact null count / row count —
    * the Delta/Iceberg stats parity) ride along when present and let
    * `IS NULL` prune; absent or NULL counts constrain nothing. A NULL
    * unit key is unaddressable and its row is skipped (the index
    * keeps unaddressed units anyway). */
  private def collectEnvelopes(zones: DataFrame, keyCol: String,
                               cols: Seq[String], what: String)
    : Map[String, graft.plans.ZoneMapFileIndex.ColEnv] = {
    require(cols.nonEmpty, s"$what needs at least one envelope column")
    cols.foreach { c =>
      require(zones.columns.contains(s"mn_$c") && zones.columns.contains(s"mx_$c"),
        s"zone table has no (mn_$c, mx_$c) envelope — zone columns: " +
          zones.columns.mkString(", "))
    }
    val haveCounts = cols.map(c => c ->
      (zones.columns.contains(s"nc_$c") && zones.columns.contains(s"rc_$c"))).toMap
    // OPTIONAL per-unit bloom sketch over xxhash64(col) — bf_<col>
    // BINARY ([[fileZones]] emits it for `bloomCols` entries); a NULL
    // or unreadable sketch simply constrains nothing
    val haveBloom = cols.map(c => c ->
      zones.columns.contains(s"bf_$c")).toMap
    // envelope columns of NESTED stats carry the dotted path in their
    // NAME (mn_provider.published_ts) — backtick so col() never
    // re-parses the dot as struct access on the zone table itself
    def zc(n: String) = col(s"`$n`")
    val sel = col(keyCol).cast("string").as("_ck") +:
      cols.flatMap { c =>
        Seq(zc(s"mn_$c"), zc(s"mx_$c")) ++
          (if (haveCounts(c))
            Seq(zc(s"nc_$c").cast("long"), zc(s"rc_$c").cast("long"))
          else Seq.empty) ++
          (if (haveBloom(c)) Seq(zc(s"bf_$c")) else Seq.empty)
      }
    val rows = zones.select(sel: _*).collect()
    // per-column field offsets within the projection above
    val width = (c: String) =>
      2 + (if (haveCounts(c)) 2 else 0) + (if (haveBloom(c)) 1 else 0)
    val offsets = cols.scanLeft(1) { case (o, c) => o + width(c) }
    def bound(v: Any): Either[Unit, Option[graft.plans.ZBound]] =
      if (v == null) Right(None)
      else graft.plans.ZBound.of(v)
        .map(b => Right(Some(b))).getOrElse(Left(()))
    rows.filter(!_.isNullAt(0)).map { r =>
      val perCol = cols.zip(offsets).flatMap { case (c, o) =>
        (bound(r.get(o)), bound(r.get(o + 1))) match {
          case (Right(mn), Right(mx)) =>
            val (nc, rc) =
              if (haveCounts(c))
                (if (r.isNullAt(o + 2)) None else Some(r.getLong(o + 2)),
                  if (r.isNullAt(o + 3)) None else Some(r.getLong(o + 3)))
              else (None, None)
            val bOff = o + 2 + (if (haveCounts(c)) 2 else 0)
            val bf =
              if (haveBloom(c) && !r.isNullAt(bOff))
                scala.util.Try(org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(
                    r.get(bOff).asInstanceOf[Array[Byte]]))).toOption
              else None
            Some(c -> graft.plans.ZoneMapFileIndex.ColStats(mn, mx, nc, rc, bf))
          case _ => None
        }
      }.toMap
      r.getString(0) -> perCol
    }.toMap
  }

  /** The per-file envelope aggregation [[fileZones]] and
    * [[maintainFileZones]] share — ONE spelling, so the maintained
    * table can never drift from the rebuild. Keyed by the
    * `_metadata.file_path` hidden column: parquet immutability holds
    * per PATH, and a bare file NAME can collide across partition
    * directories (non-UUID writers reuse part names), which under a
    * name key would silently prune the wrong file's rows. The reader
    * normalizes scheme variants ([[graft.plans.ZoneMapFileIndex.pathKey]]). */
  private def fileZoneAgg(df: DataFrame, cols: Seq[String],
                          bloomCols: Seq[String] = Nil,
                          bloomExpectedItems: Long = 100000L): DataFrame = {
    require(bloomCols.forall(cols.contains),
      s"bloomCols (${bloomCols.mkString(", ")}) must be a subset of the " +
        s"envelope cols (${cols.mkString(", ")})")
    // nc_/rc_ (exact null/row counts — count(c) skips nulls) ride
    // along so IS NULL prunes files too, the Delta stats parity.
    // bf_<col> (per-file bloom over xxhash64(col) — Spark's own
    // partial-combinable BloomFilterAggregate) rides along for
    // `bloomCols`: the Delta bloom-filter-index parity, pruning point
    // lookups on high-cardinality unordered keys whose per-file
    // envelopes span ~the whole domain. ~expectedItems bytes per
    // (file, col) — size it to rows-per-file; oversizing only wastes
    // manifest bytes, undersizing only raises the false-positive rate
    // (keeps extra files) — never a wrong drop.
    val bloomSet = bloomCols.toSet
    val aggs = cols.flatMap(c => Seq(
      min(c).as(s"mn_$c"), max(c).as(s"mx_$c"),
      (count(lit(1)) - count(col(c))).as(s"nc_$c"),
      count(lit(1)).as(s"rc_$c")) ++
      (if (bloomSet(c))
        Seq(graft.functions.BloomExprs.bloom_filter_agg(
          xxhash64(col(c)), bloomExpectedItems).as(s"bf_$c"))
      else Seq.empty))
    df.groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-FILE zone table of a parquet table — min/max envelopes keyed
    * by file PATH ([[fileZoneAgg]]), the footer-stats image real
    * lakehouse skipping works from. One scan builds it;
    * [[zoneMapReadFiles]] consumes it. File-count-bounded output (a
    * 100 TB table at 1 GB files is 10⁵ rows — metadata-sized). */
  def fileZones(spark: org.apache.spark.sql.SparkSession, path: String,
                cols: Seq[String], bloomCols: Seq[String] = Nil,
                bloomExpectedItems: Long = 100000L): DataFrame = {
    require(cols.nonEmpty, "fileZones needs at least one envelope column")
    fileZoneAgg(spark.read.parquet(path), cols, bloomCols, bloomExpectedItems)
  }

  /** INCREMENTAL per-file zone maintenance — the action a lakehouse
    * schedules per commit instead of rebuilding footer stats: list the
    * table's CURRENT files, scan ONLY those missing from `zones`
    * (parquet files are immutable once written, so a known file's
    * envelope never changes), and append their envelopes. The listing
    * diff is file-count-bounded driver metadata (the same
    * manifest-sized class as the reader's envelope collect); the data
    * scan is NEW-FILES-bounded. Files that vanished (compaction,
    * vacuum) keep their stale rows — harmless by the reader's
    * contract (lookups key on files actually listed; unknown names
    * are kept) — and a `fileZones` rebuild drops them when tightness
    * matters. Returns the maintained zone table (`zones` unchanged
    * when nothing is new). */
  def maintainFileZones(spark: org.apache.spark.sql.SparkSession,
                        path: String, zones: DataFrame,
                        cols: Seq[String],
                        bloomExpectedItems: Long = 100000L): DataFrame = {
    require(cols.nonEmpty, "maintainFileZones needs at least one envelope column")
    require(zones.columns.contains("file"),
      s"zone table has no 'file' key column (the fileZones convention) — " +
        s"zone columns: ${zones.columns.mkString(", ")}")
    cols.foreach { c =>
      // the OTHER unsound fill direction (the guard below covers
      // stored-not-in-fresh): a `cols` entry the stored table has no
      // envelope for would null-fill mn_/mx_ on the STORED rows, and
      // a NULL envelope reads as ALL-NULL (droppable) — old files
      // would silently vanish under any later filter on that column.
      // Adding an envelope column is a REBUILD (fileZones), never a
      // maintain; LayoutSpec pins the loud failure.
      require(zones.columns.contains(s"mn_$c") && zones.columns.contains(s"mx_$c"),
        s"zone table has no (mn_$c, mx_$c) envelope — stored rows would get " +
          s"NULL (= ALL-NULL, droppable) envelopes there; to start tracking " +
          s"a new column, rebuild with fileZones. Zone columns: " +
          zones.columns.mkString(", "))
    }
    val currentPaths = spark.read.parquet(path).inputFiles
    def key(p: String) = graft.plans.ZoneMapFileIndex.pathKey(p)
    val known = zones.select(col("file").cast("string"))
      .collect().map(r => key(r.getString(0))).toSet
    val freshPaths = currentPaths.filterNot(p => known.contains(key(p)))
    if (freshPaths.isEmpty) zones
    else {
      // bloom columns carry over from the STORED table's bf_ set, so a
      // maintained table keeps the same stats family as the rebuild.
      // (Unlike envelopes, a bloom NULL-fill is safe in BOTH
      // directions — a missing bloom only loosens skipping — but
      // matching the stored set keeps maintain == rebuild.) Pass the
      // SAME `bloomExpectedItems` the original build used, or the
      // appended files' sketches get a different sizing — still
      // correct (per-file probes never merge), just not
      // rebuild-identical.
      val storedBloomCols = zones.columns.toSeq.collect {
        case b if b.startsWith("bf_") && cols.contains(b.stripPrefix("bf_")) =>
          b.stripPrefix("bf_")
      }
      val fresh = fileZoneAgg(spark.read.parquet(freshPaths.toIndexedSeq: _*),
        cols, storedBloomCols, bloomExpectedItems)
      // the missing-column fill is only safe in ONE direction: a
      // stored table from an earlier generation may lack the nc_/rc_
      // COUNT columns (a NULL count constrains nothing at the
      // reader), but a stored ENVELOPE column `cols` does not cover
      // would null-fill on the FRESH rows — and a NULL envelope reads
      // as ALL-NULL (droppable), silently pruning the appended files'
      // rows under any filter on that column. Fail loudly instead.
      val uncovered = zones.columns.filter(c =>
        (c.startsWith("mn_") || c.startsWith("mx_")) && !fresh.columns.contains(c))
      require(uncovered.isEmpty,
        s"maintainFileZones: cols (${cols.mkString(", ")}) does not cover the " +
          s"stored envelope columns ${uncovered.mkString(", ")} — fresh files " +
          s"would get NULL envelopes there, which the reader treats as " +
          s"ALL-NULL (droppable); pass every stored envelope column")
      zones.unionByName(fresh, allowMissingColumns = true)
    }
  }

  /** [[zoneMapRead]] at FILE granularity over a PLAIN (unpartitioned)
    * parquet table — no layout contract needed: `zones` carries one
    * row per FILE (`fileCol` = file path, the [[fileZones]]
    * convention), and the returned DataFrame's scan drops
    * non-intersecting FILES from the listing when the query's own
    * pushed predicates exclude their envelopes. This is exactly how
    * Delta/Iceberg skip over footer stats — per file, no partitioning
    * required. The same conservative contract as [[zoneMapRead]]:
    * files missing from the zone table are kept, unrecognized
    * predicate shapes keep everything, survivors re-filter row-exact. */
  def zoneMapReadFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                       zones: DataFrame, fileCol: String,
                       cols: Seq[String]): DataFrame = {
    // keys normalize to scheme-independent paths so the zone table's
    // URI spelling ("file:///x") matches the listing's ("file:/x")
    val env = collectEnvelopes(zones, fileCol, cols, "zoneMapReadFiles")
      .map { case (k, v) => graft.plans.ZoneMapFileIndex.pathKey(k) -> v }
    val inner = graft.plans.ZoneMapFileIndex.listing(spark, path)
    relationOver(spark, path,
      new graft.plans.TransparentZoneMapFileIndex(inner, None, Map.empty, env))
  }

  /** The q109 → OPTIMIZE loop closed: measure the layout's clustering
    * depth from its chunk envelopes and REWRITE when it has drifted
    * past `maxDepthThreshold` — the maintenance action a lakehouse
    * table schedules once [[graft.ops.TableOps.maintainZoneMap]]-style
    * appends loosen the envelopes. Returns (table, triggered): when
    * the measured max_depth exceeds the threshold, the table comes
    * back [[clusterByMorton]]-rewritten (one skew-aware range exchange
    * + in-partition sorts — the only cost shape); otherwise `df`
    * passes through untouched. The depth probe is ONE driver-side
    * action over the chunk-count-bounded metric (the convergence-probe
    * class, never data-sized). An empty `zones` never triggers. */
  def reclusterIfDeep(df: DataFrame, zones: DataFrame,
                      mnCol: String, mxCol: String, maxDepthThreshold: Long,
                      xCol: String, yCol: String, numFiles: Int): (DataFrame, Boolean) = {
    require(maxDepthThreshold >= 1,
      s"maxDepthThreshold must be >= 1 (got $maxDepthThreshold)")
    val row = clusteringDepth(zones, mnCol, mxCol).select("max_depth").head()
    val deep = !row.isNullAt(0) && row.getLong(0) > maxDepthThreshold
    if (deep) (clusterByMorton(df, xCol, yCol, numFiles), true)
    else (df, false)
  }
}
