package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** Reference Morton interleave, bit-by-bit — the semantics the
    * column ladder must reproduce. */
  private def mortonRef(x: Int, y: Int): Long = {
    var acc = 0L
    for (i <- 0 until 16)
      acc |= (((x >> i) & 1).toLong << (2 * i)) |
             (((y >> i) & 1).toLong << (2 * i + 1))
    acc
  }

  test("mortonKey matches the bit-by-bit reference on deterministic pseudo-random pairs") {
    // 1000 pairs from a fixed LCG — covers low/high bits and both-ends
    // of the 16-bit domain without Math.random nondeterminism
    val pairs = Iterator.iterate(12345L)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .take(1000)
      .map(s => (((s >>> 16) & 0xFFFF).toInt, ((s >>> 40) & 0xFFFF).toInt))
      .toSeq
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Layout.mortonKey(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    pairs.foreach { case (x, y) =>
      assert(got((x, y)) == mortonRef(x, y), s"mismatch at ($x, $y)")
    }
  }

  test("maintainFileZones scans only unknown files and equals the full rebuild; no-op when nothing is new") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mfz").toString
    spark.range(0, 800).toDF("id")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val base = Layout.fileZones(spark, dir, Seq("id"))
    val baseRows = base.collect()
    val baseDf = spark.createDataFrame(
      spark.sparkContext.parallelize(baseRows.toIndexedSeq), base.schema)
    // nothing new: the SAME DataFrame passes through (no scan planned)
    assert(Layout.maintainFileZones(spark, dir, baseDf, Seq("id")) eq baseDf)
    // two appended files: maintained == the full rebuild, set-equal
    spark.range(2000, 2100).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    spark.range(3000, 3100).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    val maintained = Layout.maintainFileZones(spark, dir, baseDf, Seq("id"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(maintained) == rows(Layout.fileZones(spark, dir, Seq("id"))),
      "maintained file zones diverged from the rebuild")
    // and the maintained table PRUNES: a probe inside one appended
    // file's range reads that file, not the whole table
    val r = Layout.zoneMapReadFiles(spark, dir, maintained, "file", Seq("id"))
      .filter(col("id").between(3000, 3099))
    assert(r.count() == 100)
    // an envelope-less zones table fails loudly (the fileZones contract)
    intercept[IllegalArgumentException] {
      Layout.maintainFileZones(spark, dir, baseDf.drop("mn_id"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Layout.maintainFileZones(spark, dir,
        baseDf.withColumnRenamed("file", "f"), Seq("id"))
    }
  }

  test("fileZones over a NESTED struct leaf: dotted-path envelopes prune files, IS NULL prunes off nc_ counts") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-fznest").toString
    // 8 range-packed plain files; nested leaf m.v mirrors id, and the
    // leaf is NULL only in the last file's range
    spark.range(0, 800)
      .select(col("id"), struct(
        when(col("id") >= 700, lit(null).cast("long"))
          .otherwise(col("id")).as("v"),
        lit("s").as("tag")).as("m"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val zones = Layout.fileZones(spark, dir, Seq("m.v"))
    assert(Seq("mn_m.v", "mx_m.v", "nc_m.v", "rc_m.v")
        .forall(zones.columns.contains),
      s"fileZones did not emit dotted-path stats: ${zones.columns.mkString(", ")}")
    def table() = Layout.zoneMapReadFiles(spark, dir, zones, "file", Seq("m.v"))
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }.sum
    }
    val total = spark.read.parquet(dir).inputFiles.length.toLong
    // a pushed range on the nested leaf keeps only intersecting files
    val r = table().filter(col("m.v").between(200L, 299L))
    assert(r.count() == 100)
    assert(scanned(table().filter(col("m.v").between(200L, 299L))) < total,
      "nested-leaf range did not prune files")
    // IS NULL on the leaf prunes zero-null files off the emitted counts
    val n = table().filter(col("m.v").isNull)
    assert(n.count() == 100)
    assert(scanned(table().filter(col("m.v").isNull)) < total,
      "nested-leaf IS NULL did not consume nc_ counts")
  }

  test("per-file BLOOM stats: point lookups prune where envelopes cannot; absent probes scan ZERO files; no-bloom tables keep all") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-fzbloom").toString
    // 8 files range-packed on id, but the PROBED key is a hash
    // scramble of id — every file's (mn_k, mx_k) spans ~the whole
    // domain, so envelope pruning is structurally useless here
    spark.range(0, 4000)
      .select(col("id"), expr("(id * 2654435761) % 1000000007").as("k"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val total = spark.read.parquet(dir).inputFiles.length.toLong
    val probe = 2654435761L % 1000000007L // k of id=1 — present
    val absent = probe + 1L               // no id maps here (checked below)
    assert(spark.read.parquet(dir).filter(col("k") === absent).count() == 0)
    def scanned(zones: org.apache.spark.sql.DataFrame, v: Long): Long = {
      val df = Layout.zoneMapReadFiles(spark, dir, zones, "file", Seq("k"))
        .filter(col("k") === v)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }.sum
    }
    // contrast: envelope-only zones keep EVERY file for the point probe
    val noBloom = Layout.fileZones(spark, dir, Seq("k"))
    assert(scanned(noBloom, probe) == total,
      "scrambled-key envelopes unexpectedly pruned — the contrast is broken")
    val withBloom = Layout.fileZones(spark, dir, Seq("k"),
      bloomCols = Seq("k"), bloomExpectedItems = 1000L)
    assert(withBloom.columns.contains("bf_k"), withBloom.columns.mkString(","))
    // present probe: only the holding file (+ rare false positives)
    val sPresent = scanned(withBloom, probe)
    assert(sPresent >= 1 && sPresent <= 2,
      s"bloom kept $sPresent of $total files for a present key")
    // the row set is exact either way (survivors re-filter row-level)
    assert(Layout.zoneMapReadFiles(spark, dir, withBloom, "file", Seq("k"))
      .filter(col("k") === probe).count() == 1)
    // absent probe: a definitive bloom 'absent' on every file — the
    // scan plans ZERO files and the result is exactly empty
    val r = Layout.zoneMapReadFiles(spark, dir, withBloom, "file", Seq("k"))
      .filter(col("k") === absent)
    assert(r.count() == 0)
    assert(scanned(withBloom, absent) <= 1,
      "an absent key should prune ~every file off the blooms")
    // a CAST around the probed column must NOT consult the bloom (the
    // literal's hash input differs from the stored values') — conservative
    // keep, still row-exact
    assert(Layout.zoneMapReadFiles(spark, dir, withBloom, "file", Seq("k"))
      .filter(col("k").cast("decimal(20,0)") === lit(new java.math.BigDecimal(probe)))
      .count() == 1)
    // maintain: the stored bf_ set carries — an appended file gets its
    // OWN bloom from the new-files-only scan, and a probe for a key
    // living only there still prunes to ~that one file
    val stored = spark.createDataFrame(
      spark.sparkContext.parallelize(withBloom.collect().toIndexedSeq),
      withBloom.schema)
    spark.range(90000, 90100)
      .select(col("id"), expr("(id * 2654435761) % 1000000007").as("k"))
      .coalesce(1).write.mode("append").parquet(dir)
    val maintained = Layout.maintainFileZones(spark, dir, stored, Seq("k"))
    assert(maintained.filter(col("bf_k").isNull).count() == 0,
      "the appended file's zone row is missing its bloom")
    val newProbe = (90001L * 2654435761L) % 1000000007L
    val sNew = scanned(maintained, newProbe)
    assert(sNew >= 1 && sNew <= 2,
      s"maintained bloom kept $sNew files for the appended file's key")
    assert(Layout.zoneMapReadFiles(spark, dir, maintained, "file", Seq("k"))
      .filter(col("k") === newProbe).count() == 1)
  }

  test("clusterByMorton partitions cover near-square blocks; lexicographic sort covers stripes") {
    // a full 128x128 grid into 16 partitions: a lexicographic (x, y)
    // range layout makes thin full-height x-stripes (extent 8 + 128),
    // Z-order makes 32x32 blocks (extent 32 + 32) — the per-partition
    // min/max envelope that parquet footers carry must be tighter in
    // the SUM of extents for either-dimension pruning to win
    val grid = spark.range(128L * 128L)
      .select((col("id") / 128).cast("int").as("x"), (col("id") % 128).cast("int").as("y"))
    def avgExtent(df: org.apache.spark.sql.DataFrame): Double =
      df.groupBy(spark_partition_id().as("p"))
        .agg(((max("x") - min("x")) + (max("y") - min("y"))).as("ext"))
        .agg(avg("ext")).first().getDouble(0)
    val zExt = avgExtent(Layout.clusterByMorton(grid, "x", "y", 16))
    val lexExt = avgExtent(
      grid.repartitionByRange(16, col("x"), col("y"))
        .sortWithinPartitions("x", "y"))
    // range-partition bounds are SAMPLED, so partition edges cut
    // through z-blocks and the average envelope lands above the
    // ideal 32+32=64 (measured ~88) — still far under the ~136 the
    // lexicographic stripes pay
    assert(zExt < 0.75 * lexExt,
      s"z-order envelope ($zExt) must be substantially tighter than lexicographic ($lexExt)")
    assert(zExt <= 110, s"16 partitions of a 128-grid should be near-block extents, got $zExt")
  }

  /** Reference Hilbert xy2d, the textbook bit-level walk — the
    * semantics the projection ladder must reproduce. */
  private def hilbertRef(x0: Int, y0: Int, order: Int): Long = {
    var x = x0.toLong; var y = y0.toLong; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val (nx, ny) = if (rx == 1) (s - 1 - y, s - 1 - x) else (y, x)
        x = nx; y = ny
      }
      s >>= 1
    }
    d
  }

  test("hilbertKey matches the bit-level xy2d reference on pseudo-random pairs") {
    val pairs = Iterator.iterate(98765L)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .take(500)
      .map(s => (((s >>> 16) & 0xFFFF).toInt, ((s >>> 40) & 0xFFFF).toInt))
      .toSeq
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbertKey(col("x"), col("y")).as("h"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    pairs.foreach { case (x, y) =>
      assert(got((x, y)) == hilbertRef(x, y, 16), s"mismatch at ($x, $y)")
    }
    // low-order sanity: the first unit-square walk is (0,0)(0,1)(1,1)(1,0)
    val tiny = Seq((0, 0), (0, 1), (1, 1), (1, 0)).toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), order = 1).as("h"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(tiny == Map((0, 0) -> 0L, (0, 1) -> 1L, (1, 1) -> 2L, (1, 0) -> 3L))
    // SQL-text path through the extension registry
    val viaSql = pairs.toDF("x", "y").createOrReplaceTempView("hilbert_pairs")
    val sqlGot = spark.sql(
      "SELECT x, y, hilbert_key(CAST(x AS BIGINT), CAST(y AS BIGINT)) AS h FROM hilbert_pairs")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    pairs.foreach { case (x, y) =>
      assert(sqlGot((x, y)) == hilbertRef(x, y, 16), s"SQL-path mismatch at ($x, $y)")
    }
  }

  test("clusterByHilbert: every partition's key range is one connected block (Morton's is not)") {
    // the locality claim that justifies Hilbert over Morton: walk the
    // full 64x64 curve in key order — consecutive Hilbert keys are
    // always GRID NEIGHBORS (step distance 1), while the Z curve
    // jumps across quadrant seams (steps up to 2^k). So any
    // contiguous key range (= any file after a range-partitioned
    // write) is one connected region under Hilbert.
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64).cast("int").as("x"), (col("id") % 64).cast("int").as("y"))
    val walk = grid
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), order = 6).as("h"))
      .orderBy("h").collect().map(r => (r.getInt(0), r.getInt(1)))
    val steps = walk.sliding(2).map { case Array((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.toSeq
    assert(steps.forall(_ == 1), s"Hilbert walk must step to a grid neighbor every time")
    val zwalk = grid
      .select(col("x"), col("y"), Layout.mortonKey(col("x"), col("y")).as("z"))
      .orderBy("z").collect().map(r => (r.getInt(0), r.getInt(1)))
    val zmax = zwalk.sliding(2).map { case Array((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.max
    assert(zmax > 1, s"the Z walk should jump at quadrant seams (got max step $zmax)")
  }

  test("clusteringDepth: hand-traceable sweep — overlap, containment, touching, disjoint") {
    // chunks: [0,10] and [5,15] overlap; [15,20] TOUCHES [5,15] at 15
    // (closed intervals share the point -> overlap); [30,40] disjoint.
    // start depths: [0,10]->1, [5,15]->2, [15,20]->2, [30,40]->1
    val zones = Seq((0L, 10L), (5L, 15L), (15L, 20L), (30L, 40L))
      .toDF("mn", "mx")
    val r = Layout.clusteringDepth(zones, "mn", "mx").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 6L, 2L)),
      s"got (n=${r.getLong(0)}, sum=${r.getLong(1)}, max=${r.getLong(2)})")
    // containment: [0,100] swallows [10,20] and [30,40] -> start
    // depths 1, 2, 2; a perfectly clustered layout reads all 1s
    val nest = Seq((0L, 100L), (10L, 20L), (30L, 40L)).toDF("mn", "mx")
    val r2 = Layout.clusteringDepth(nest, "mn", "mx").collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((3L, 5L, 2L)),
      s"got (n=${r2.getLong(0)}, sum=${r2.getLong(1)}, max=${r2.getLong(2)})")
    val perfect = Seq((0L, 9L), (10L, 19L), (20L, 29L)).toDF("mn", "mx")
    val r3 = Layout.clusteringDepth(perfect, "mn", "mx").collect().head
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) == ((3L, 3L, 1L)),
      s"perfect layout must read depth 1 everywhere: $r3")
  }

  test("clusteringDepth: the sweep is range-bucketed (no single-task global window) and matches a serial reference") {
    // 500 pseudo-random envelopes spanning a wide domain — enough to
    // populate many value buckets
    val zs = Iterator.iterate(98765L)(s => s * 6364136223846793005L + 1442695040888963407L)
      .take(500)
      .map { s =>
        val mn = (s >>> 20) & 0xFFFFF
        (mn, mn + ((s >>> 8) & 0xFFF))
      }.toSeq
    val depthDf = Layout.clusteringDepth(zs.toDF("mn", "mx"), "mn", "mx")
    // the per-event cumsum must run under a HASH(_bkt) partitioning,
    // not the single-partition exchange a global ORDER BY window plans
    val plan = depthDf.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(_bkt"),
      s"sweep cumsum lost its bucketed partitioning:\n$plan")
    // serial reference: sort events (pos, starts-first), running sum,
    // read at starts
    val events = zs.flatMap { case (mn, mx) => Seq((mn, 1), (mx, -1)) }
      .sortBy { case (p, d) => (p, -d) }
    var run = 0L
    val startDepths = events.map { case (_, d) => run += d; (d, run) }
      .collect { case (1, dep) => dep }
    val r = depthDf.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((startDepths.size.toLong, startDepths.sum, startDepths.max)),
      s"bucketed sweep diverged from the serial reference: $r")
  }

  test("clusteringDepth: NULL or inverted envelopes fail loudly") {
    val withNull = Seq((Some(1L), Some(5L)), (None, Some(9L)))
      .toDF("mn", "mx")
    val e1 = intercept[Exception] {
      Layout.clusteringDepth(withNull, "mn", "mx").collect()
    }
    assert(e1.getMessage.contains("NULL or non-integral envelope"),
      s"unexpected failure: ${e1.getMessage}")
    val inverted = Seq((1L, 5L), (9L, 3L)).toDF("mn", "mx")
    val e2 = intercept[Exception] {
      Layout.clusteringDepth(inverted, "mn", "mx").collect()
    }
    assert(e2.getMessage.contains("inverted envelope"),
      s"unexpected failure: ${e2.getMessage}")
  }

  test("reclusterIfDeep: drifted layout triggers a morton rewrite that restores depth; healthy layout passes through") {
    // deterministic (x, y) points
    val pts = Iterator.iterate(424242L)(s => s * 6364136223846793005L + 1442695040888963407L)
      .take(4000)
      .map(s => (((s >>> 16) & 0xFFFF).toInt, ((s >>> 40) & 0xFFFF).toInt))
      .toSeq
    val df = pts.toDF("x", "y")
    val zk = Layout.mortonKey(col("x"), col("y"))
    // chunk envelopes of a layout = per output-partition min/max of
    // the morton key (exactly what parquet footers would carry)
    def zonesOf(t: org.apache.spark.sql.DataFrame) =
      t.select(spark_partition_id().as("chunk"), zk.as("zkey"))
        .groupBy("chunk").agg(min("zkey").as("mn"), max("zkey").as("mx"))
    def maxDepth(t: org.apache.spark.sql.DataFrame): Long =
      Layout.clusteringDepth(zonesOf(t), "mn", "mx")
        .select("max_depth").head().getLong(0)
    // "appends degraded the layout": round-robin placement gives every
    // chunk a near-full-domain envelope — depth ≈ n_chunks
    val degraded = df.repartition(16)
    val before = maxDepth(degraded)
    assert(before > 8, s"degraded layout should read deep (got $before)")
    // clustered baseline: the depth a fresh OPTIMIZE would produce
    val baseline = maxDepth(Layout.clusterByMorton(df, "x", "y", 16))
    val (rewritten, fired) =
      Layout.reclusterIfDeep(degraded, zonesOf(degraded), "mn", "mx",
        maxDepthThreshold = 8, "x", "y", numFiles = 16)
    assert(fired, "drifted layout must trigger the rewrite")
    val after = maxDepth(rewritten)
    assert(after <= baseline + 1,
      s"rewrite did not restore clustering: depth $before -> $after (baseline $baseline)")
    // healthy layout: no rewrite, the very same frame passes through
    val healthy = Layout.clusterByMorton(df, "x", "y", 16)
    val (same, fired2) =
      Layout.reclusterIfDeep(healthy, zonesOf(healthy), "mn", "mx",
        maxDepthThreshold = before, "x", "y", numFiles = 16)
    assert(!fired2 && (same eq healthy),
      "healthy layout must pass through untouched")
  }
}
