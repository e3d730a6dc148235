package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchSession.{timeNoop, timeQuery}
import graft.ops.{CorpusOps, GraphOps}

/** Scale-up stress harness: "would it survive 10×?", measured.
  *
  * Registry cells run on the chosen fixture AND on a `factor`×
  * replicated copy of the tables they touch. Replication is
  * structure-preserving: documents/embeddings get distinct ids and a
  * copy-specific word prefix (replicas sit BELOW the 0.8 Jaccard
  * near-dup threshold, so the corpus grows without a synthetic
  * candidate-pair explosion); lineitem/orders shift every key column by
  * `i · 10M` per replica, so the co-purchase and customer–supplier
  * graphs become `factor` DISJOINT copies — node, edge and document
  * mass scale by exactly `factor` while per-component structure
  * (degree profile, diameter, cluster sizes) stays fixed. That isolates
  * the engine's growth exponent from data-shape drift: a cell whose
  * ratio lands far above its plan-predicted exponent (linear for the
  * round-bounded graph family and candidate-bounded near-dup, n^1.5
  * for the IVF-bounded ANN index builds) is a scaling bug, not noise.
  *
  * Synthetic entries then price single ops on generated inputs at a
  * base and a scaled size (the fixture tables cannot exercise a hub,
  * a hot key or a hot cluster).
  *
  * Usage: `sbt "runMain graft.Stress [sfDir] [factor] [name ...]"` —
  * optional names restrict the run to those cells/entries (a shorter
  * run is less exposed to co-tenant load waves when re-adjudicating a
  * few). Prints one JSON line per entry:
  * `{"name":…,"base":s,"scaled":s,"ratio":r}` (`"ratio":null,
  * "failed":true` when either side fails).
  */
object Stress {

  /** The registry cells timed at 1× and `factor`×: the corpus-heavy
    * pipelines, then the expensive bench cells (graph, ANN, zone-map,
    * cascade). */
  private[graft] val cells: Seq[String] = Seq(
    "l1_bloom_dedup",
    "l2_jaccard_pairs", "l2_containment", "l2_winnow_pairs", "l2_minhash_lsh", "l2_simhash", "l2_embedding_cosine",
    "l2_dup_clusters", "l3_ann_lsh", "l3_semdedup", "l3_ann_pq", "l3_ann_ivfpq",
    "l3_ann_ivfpq_residual", "l3_ann_refined",
    // l8_profile_approx is absent: it profiles `events`, which this
    // harness does not scale
    "l6_corpus_clean",
    "l6_pack_shards", "l8_decontaminate", "l8_repetition", "l8_chunk_windows",
    "l8_line_dedup", "l4_entropy", "l8_mixture_apply",
    "l8_pack_sequences", "l4_classifier", "l4_vocab_oov", "l3_knn_graph", "l8_span_dedup",
    "l3_cluster_sample_kept", "l2_edit_distance", "l4_bpe_merges",
    "l4_bpe_encode", "l4_bpe_merges_batched", "l8_weighted_sample",
    "l3_ann_incremental", "l8_importance", "l8_heavy_hitters",
    "l2_incremental_clusters", "l8_cdc_chunks", "l3_truncated_recall",
    // unigram-LM: train cost is WORD-TYPE-bounded after the one corpus
    // scan (the fixture vocabulary is constant under replication), so
    // the 10x ratio isolates the scan; encode adds the occurrence join
    "l4_unigram_lm", "l4_unigram_encode",
    // graph-search: index build is the IVF n^1.5, traversal beam-sized
    "l3_ann_graph_search",
    // hnsw: same shared index; layer builds + descent are 4^-l-sized
    "l3_ann_hnsw",
    // BENCH_r12's most expensive cells, most expensive first
    "l3_ann_hnsw_incremental", "q77_louvain_l2",
    "q99_condensation", "q76_pagerank_incr",
    "q72_scc", "q95_hyperball", "q70_louvain",
    "q69_modularity", "q85_betweenness", "q64_lpa", "q48_components",
    "q44_pagerank", "q65_hits", "q46_ppr", "q47_pagerank_weighted",
    "q73_random_walks", "q63_wppr",
    // each later round's own expensive cells, audited the round they
    // shipped; the read-only zone _apply family should read ~flat (only
    // the pruned read scales, not the write)
    "q121_zonemap_pruned_read", "l3_ann_compact",
    "l2_incremental_delete", "l3_ann_delete",
    "l6_cascade_delete", "l4_bm25_incremental", "q125_mv_topk_delete",
    "l6_cascade_insert",
    "q126_zonemap_transparent_read", "q127_zonemap_string_or_read",
    "q128_zonemap_file_read", "q129_zonemap_prefix_read",
    "q130_zonemap_zorder_read",
    "l6_cascade_delete_apply", "l6_cascade_insert_apply",
    "q131_zonemap_nullcount_read", "q132_zonemap_notbetween_read",
    "q133_zonemap_notin_read", "q134_zonemap_zorder_files_read",
    "l3_ann_retrain",
    "q121_zonemap_pruned_read_apply", "q126_zonemap_transparent_read_apply",
    "q127_zonemap_string_or_read_apply", "q128_zonemap_file_read_apply",
    "q129_zonemap_prefix_read_apply", "q130_zonemap_zorder_read_apply",
    "q131_zonemap_nullcount_read_apply", "q132_zonemap_notbetween_read_apply",
    "q133_zonemap_notin_read_apply", "q134_zonemap_zorder_files_read_apply")

  /** One result line; a -1 (failed) side never becomes a ratio — a
    * both-sides failure must NOT print ratio 1.00 and pass silently. */
  private def report(name: String, b: Double, s: Double, extra: String = ""): Unit = {
    val ratio = if (b <= 0 || s <= 0) "null,\"failed\":true" else f"${s / b}%.2f"
    println(f"""{"name":"$name"$extra,"base":$b%.3f,"scaled":$s%.3f,"ratio":$ratio}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val only = args.drop(2).toSet
    def selected(name: String) = only.isEmpty || only(name)
    val spark = BenchSession.build()

    // pid-stamped scratch: old scaled corpora (and the zone fixtures
    // the _apply prewarms persist against them — keyed to this
    // never-repeating dir, so unreachable after the run) reap once
    // their owning process is gone instead of accumulating a
    // multi-table copy per invocation
    val scaledDir = graft.ops.ArtifactCache.scratchDir("stress")
    buildScaled(spark, sfDir, scaledDir, factor)

    val names = cells.filter(selected)
    if (names.nonEmpty) {
      // one warm-up per corpus (JIT, codegen, parquet footers) so the
      // first timed cell doesn't absorb one-time costs
      timeQuery(spark, names.last, sfDir)
      timeQuery(spark, names.last, scaledDir)
      // the _apply cells time the REPAIR path: their FIRST run per
      // corpus builds and persists the stored bundle (construction), so
      // prewarm each once per corpus — the timed run then measures
      // read-stored + maintenance only
      names.filter(_.endsWith("_apply")).foreach { n =>
        timeQuery(spark, n, sfDir)
        timeQuery(spark, n, scaledDir)
      }
      names.foreach(n => report(n, timeQuery(spark, n, sfDir), timeQuery(spark, n, scaledDir)))
    }

    /** Warm-up at `base`, then time `run` at `base` and at `scaled`. */
    def scaling(name: String, base: Long, scaled: Long)(run: Long => Double): Unit =
      if (selected(name)) {
        run(base)
        report(name, run(base), run(scaled), s""","base_n":$base,"scaled_n":$scaled""")
      }

    // SKEWED semdedup: the uniform replicas above spread evenly over
    // the adaptive centroids, so they never exercise the hot-cluster
    // guard. This corpus collapses 80% of its vectors onto one seed
    // direction — the shape real embedding corpora take — and the
    // ratio shows the guard keeps the pairwise stage ~linear (~cap·n
    // candidates) instead of quadratic in the hot cluster (n²·0.64).
    scaling("semdedup_skew", 2000, 2000L * factor) { n =>
      val vecs = skewedEmbeddings(spark, n.toInt)
      timeNoop(spark, "semdedup_skew")(CorpusOps.semDedup(vecs, k = 32, tau = 0.5))
    }

    // GRAPH family: a deterministic synthetic multigraph at E and
    // E·factor edges. What this pins: per-iteration cost tracks the
    // EDGE table (ratio ~ factor), and the data-derived round width
    // (edge partition count) does not leave the 10× graph stuck at
    // the 1× width.
    scaling("graph_pagerank", 100000, 100000L * factor) { n =>
      val edges = GraphOps.undirect(
        spark.range(n).selectExpr(
          "cast(id % 20000 as bigint) as src",
          // hub-skewed destinations: id*2654435761 mod fans out with a
          // bias to small ids, the shape real interaction graphs take
          "cast((id * 2654435761) % (1 + id % 997) as bigint) as dst"))
      timeNoop(spark, "graph_pagerank")(GraphOps.pageRank(edges))
    }

    // TRIANGLES under a HUB: the quadratic trap degree orientation
    // defuses. With orientation the hub, being the HIGHEST-degree
    // node, emits NO wedges (all its edges point at it), so cost
    // tracks the chord count — the measured ratio at factor× edges
    // should stay near the edge ratio, not its square.
    scaling("graph_triangles", 100000, 100000L * factor) { n =>
      val edges = starChords(spark, n)
      timeNoop(spark, "graph_triangles")(GraphOps.triangles(edges))
    }

    // ADAMIC-ADAR under a hub: the derived cap (~sqrt(2E)) keeps wedge
    // volume (2E)^1.5-bounded at ANY size — the star hub (highest
    // degree) exceeds the cap at both scales and generates no wedges,
    // while the cap GROWS with the graph so mid-degree centers are not
    // silently dropped at 10x. Ratio should track the edge ratio.
    scaling("graph_adamic", 100000, 100000L * factor) { n =>
      val edges = starChords(spark, n)
      timeNoop(spark, "graph_adamic")(GraphOps.adamicAdar(edges))
    }

    // LINK-PREDICT under the same hub graph: identical wedge-volume
    // argument as graph_adamic (shared derived cap), plus the two
    // UNCAPPED endpoint-degree joins — which are node-sized, so the
    // ratio should still track the edge ratio.
    scaling("graph_linkpredict", 100000, 100000L * factor) { n =>
      val edges = starChords(spark, n)
      timeNoop(spark, "graph_linkpredict")(GraphOps.linkPredict(edges))
    }

    // BETWEENNESS with a FIXED seed count: state is (seeds × reached)
    // and each round's work is frontier-/level-sized joins against the
    // edge table — at fixed seeds the ratio should track the edge
    // ratio, not the state product. Chord graph, no star hub: σ path
    // counts through a hub multiply, which is the 2^52 guard's job,
    // not the scale test's.
    scaling("graph_betweenness", 100000, 100000L * factor) { n =>
      val edges = GraphOps.undirect(chords(spark, n))
      val seeds = spark.range(1, 9).selectExpr("id as node")
      timeNoop(spark, "graph_betweenness")(GraphOps.betweenness(edges, seeds, maxHops = 3))
    }

    // INCREMENTAL CLUSTER ASSIGNMENT: the batch-sized-work claim. The
    // stored cluster table grows factor× (persisted to parquet first —
    // assignment must not re-pay the corpus propagation), the ingest
    // batch stays FIXED, and only incrementalClusters is timed: the
    // delta rounds are batch-sized, untouched clusters pass through one
    // broadcast remap join (a corpus-linear SCAN, no shuffle), so the
    // ratio should sit far below factor — unlike l2_dup_clusters,
    // whose full recompute tracks the corpus.
    scaling("incremental_clusters", 50000, 50000L * factor) { nClusters =>
      // synthetic stored state: nClusters pair-clusters of size 2
      // (ids 2i ~ 2i+1), persisted like the production table
      val storedDir = java.nio.file.Files.createTempDirectory("graft-incr").toString
      CorpusOps.dupClusters(spark.range(nClusters).selectExpr("id * 2 as d1", "id * 2 + 1 as d2"))
        .write.mode("overwrite").parquet(storedDir)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      // fixed batch: 1000 docs, each bridging two neighboring stored
      // clusters (the merge path) + intra-batch chain pairs
      val batchPairs = spark.range(500L)
        .selectExpr("1000000000 + id * 2 as d1", "1000000001 + id * 2 as d2")
      val crossPairs = spark.range(1000L)
        .selectExpr("1000000000 + id as d1", s"(id * 4) % ${2L * nClusters} as d2")
      timeNoop(spark, "incremental_clusters")(CorpusOps.incrementalClusters(
        spark.read.parquet(storedDir), batchPairs, crossPairs))
    }

    // SCC at the fixed schedule: the round count never moves, and each
    // round is one edge-sized join at edge-derived width — so 10x
    // edges must cost ~10x, never edge².
    scaling("graph_scc", 20000, 20000L * factor) { n =>
      val edges = cyclesChords(spark, n)
      timeNoop(spark, "graph_scc")(GraphOps.scc(edges))
    }

    // CONVERGED-FORM SCC: the production sccConverged form adds a
    // convergence PROBE (an action) per outer round — this entry
    // prices that action-per-round cost at scale.
    scaling("graph_scc_converged", 20000, 20000L * factor) { n =>
      val edges = cyclesChords(spark, n)
      timeNoop(spark, "graph_scc_converged")(GraphOps.sccConverged(edges))
    }

    // CONVERGED-FORM K-TRUSS: peel until no edge drops, with the
    // per-round convergence action — prices kTrussConverged's
    // action-per-round against the fixed-round graph_ktruss entry.
    scaling("graph_ktruss_converged", 100000, 100000L * factor) { n =>
      val edges = starChords(spark, n)
      timeNoop(spark, "graph_ktruss_converged")(GraphOps.kTrussConverged(edges, k = 3))
    }

    // TWO-LEVEL LOUVAIN: fixed rounds at both levels, contraction in
    // between — per-level cost is edge-linear and the level-2 graph is
    // community-sized, so 10x edges must cost ~10x at worst. Base
    // graph: 4-cliques chained by single bridges (real community
    // structure at any scale — level 1 should find the cliques).
    scaling("graph_louvain", 15000, 15000L * factor) { nCliques =>
      val base = spark.range(nCliques)
      val intra = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
        .map { case (i, j) =>
          base.selectExpr(s"id * 4 + $i as src", s"id * 4 + $j as dst")
        }.reduce(_.union(_))
      val chain = base.filter("id > 0")
        .selectExpr("(id - 1) * 4 as src", "id * 4 as dst")
      val edges = intra.union(chain)
      timeNoop(spark, "graph_louvain") {
        val l1 = GraphOps.louvain(edges)
        val coarse = GraphOps.louvainContract(edges, l1)
        GraphOps.louvain(coarse, weightCol = Some("w"))
      }
    }

    // HYPERBALL: the neighborhood function's edge-linear claim — per
    // hop ONE edge-sized join + ONE node-keyed register-max merge, so
    // 10x edges must cost ~10x even though the EXACT pair closure it
    // replaces would grow with sum-of-ball-sizes (superlinear on the
    // hub-free chord graph, quadratic under a hub).
    scaling("graph_hyperball", 100000, 100000L * factor) { n =>
      val edges = chords(spark, n)
      timeNoop(spark, "graph_hyperball")(GraphOps.hyperBall(edges, maxH = 3, lgK = 7))
    }

    // K-TRUSS: the same E^1.5 degree-orientation bound as
    // graph_triangles, paid once per peel round — at fixed rounds the
    // 10x-edge ratio must track the triangle-enumeration ratio, never
    // edge².
    scaling("graph_ktruss", 100000, 100000L * factor) { n =>
      val edges = starChords(spark, n)
      timeNoop(spark, "graph_ktruss")(GraphOps.kTruss(edges, k = 3, rounds = 2))
    }

    // BFS DEPTH: seededBfs (the betweenness/harmonic forward pass)
    // probes a CARRIED visited checkpoint — one leaf per round — so
    // doubling the exploration depth should ~double the time (a
    // shape that unioned all h prior level leaves per round would
    // read ratio ~3.7 here). Ring graph: the frontier stays
    // seed-bounded at every depth, so the measurement isolates the
    // per-round machinery rather than frontier growth.
    scaling("graph_bfs_depth", 5, 10) { depth =>
      val n = 100000L
      val ring = spark.range(n).selectExpr("id as a", s"(id + 1) % $n as b")
        .selectExpr("stack(2, a, b, b, a) as (src, dst)")
      val seeds = spark.range(256).selectExpr(s"(id * 390625) % $n as node")
      timeNoop(spark, "graph_bfs_depth")(GraphOps.harmonicCentrality(ring, seeds, maxHops = depth.toInt))
    }

    // SKEW-MITIGATED JOIN under a manufactured hot key: half the fact
    // rows land on ONE key, the dim is key-spaced. saltedJoinProfiled
    // spreads the hot key over the salt buckets, so per-reducer work is
    // bounded by ~max_freq/buckets and the ratio at factor× rows should
    // track the row ratio — a single-hot-reducer join would pin one
    // task at factor× the work and the wall clock with it.
    scaling("skew_join", 1000000, 1000000L * factor) { n =>
      val (fact, dim) = hotKeyJoin(spark, n, "k")
      timeNoop(spark, "skew_join")(graft.ops.SkewTools.saltedJoinProfiled(fact, dim, "k", buckets = 32)
        .groupBy("k").agg(sum("v").as("sv"), sum("d").as("sd")))
    }

    // AUTO-SKEW RULE: the same 50%-hot workload as skew_join, but the
    // query text is the PLAIN cross-name join and the optimizer rule
    // does the salting — the ratio must track skew_join's (same
    // rewritten physical shape; the rule adds only optimization-time
    // work, never a per-row cost).
    scaling("auto_skew_rule", 1000000, 1000000L * factor) { n =>
      val (fact, dim) = hotKeyJoin(spark, n, "k2")
      spark.conf.set(graft.plans.AutoSkew.EnabledKey, "true")
      graft.plans.AutoSkew.register(spark, "k", Seq(7L), buckets = 32)
      try timeNoop(spark, "auto_skew_rule")(fact.join(dim, col("k") === col("k2"))
        .groupBy("k").agg(sum("v").as("sv"), sum("d").as("sd")))
      finally {
        spark.conf.unset(graft.plans.AutoSkew.EnabledKey)
        graft.plans.AutoSkew.unregister(spark, "k")
      }
    }

    // MV CONSOLIDATION: the q110 compaction — a counted view that
    // accumulated N signed delta rows between compactions consolidates
    // with ONE view-keyed shuffle, so 10x accumulated rows must cost
    // ~linear (the amortization claim: maintenance writes stay
    // batch-sized because this periodic pass is cheap and linear).
    scaling("mv_consolidate", 1000000, 1000000L * factor) { n =>
      val v = spark.range(n).selectExpr(
        s"id % ${math.max(1L, n / 20L)} as k", "id % 7 as a",
        "CASE WHEN id % 3 = 0 THEN CAST(-1 AS BIGINT) ELSE CAST(1 AS BIGINT) END as _mult")
      timeNoop(spark, "mv_consolidate")(graft.ops.TableOps.consolidate(v, Seq("k", "a")))
    }

    // ANN INDEX vs TRAVERSAL split: l3_knn_graph is the n^1.5 IVF
    // index build alone; l3_ann_graph_search adds symmetrization +
    // the fixed-beam traversal. At 10x vectors the index ratio is the
    // n^1.5 story; the BEYOND-INDEX delta (search minus build) must
    // grow far slower — the traversal is beam x degree rows per query,
    // query-count-bounded, plus a graph-linear symmetrize.
    if (selected("ann_index_vs_traverse")) {
      timeQuery(spark, "l3_knn_graph", sfDir); timeQuery(spark, "l3_ann_graph_search", sfDir) // warm-up
      val ib = timeQuery(spark, "l3_knn_graph", sfDir)
      val is = timeQuery(spark, "l3_knn_graph", scaledDir)
      val gb = timeQuery(spark, "l3_ann_graph_search", sfDir)
      val gs = timeQuery(spark, "l3_ann_graph_search", scaledDir)
      val tb = math.max(0.001, gb - ib)
      val ts = math.max(0.001, gs - is)
      println(f"""{"name":"ann_index_vs_traverse","index_base":$ib%.3f,"index_scaled":$is%.3f,"index_ratio":${is / ib}%.2f,"beyond_index_base":$tb%.3f,"beyond_index_scaled":$ts%.3f,"beyond_index_ratio":${ts / tb}%.2f}""")
    }

    // FROZEN-QUANTIZER ingest: the below-gate arm of
    // retrainIfDriftedStored against PERSISTED state + index, with a
    // FIXED-size batch on both corpora. The train/state build is paid
    // once (untimed); the timed step is what every steady-state ingest
    // commit costs — batch·nlist assignment, batch·m·k encoding, and
    // one narrow d2c-column aggregate over the stored index. Expected
    // ~flat at 10× corpus (the aggregate is the only corpus-row-sized
    // term, and it reads one stored column); contrast with
    // l3_ann_incremental, whose self-contained spelling re-trains the
    // codebook over the full corpus per call.
    if (selected("ann_retrain_frozen")) {
      val batch = Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 200).select("vec_id", "embedding")
        .withColumn("vec_id", col("vec_id") + 900000000L)
      def prep(dir: String, tag: String): String = {
        val corpus = Tables(spark, dir, "embeddings").select("vec_id", "embedding")
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-frozen-$tag").toString
        val st = CorpusOps.trainQuantizer(corpus)
        st.cents.write.parquet(s"$root/quant_cents")
        st.codebook.write.parquet(s"$root/quant_cb")
        CorpusOps.ivfpqEncodeAll(st, corpus)
          .write.parquet(s"$root/index")
        spark.sharedState.cacheManager.clearCache()
        root
      }
      def timeFrozen(root: String, dir: String): Double = timeNoop(spark, "ann_retrain_frozen") {
        val st = CorpusOps.QuantizerState(
          spark.read.parquet(s"$root/quant_cents"),
          spark.read.parquet(s"$root/quant_cb"))
        val (idx, trig, _) = CorpusOps.retrainIfDriftedStored(
          st, spark.read.parquet(s"$root/index"),
          Tables(spark, dir, "embeddings").select("vec_id", "embedding"),
          batch, driftThreshold = 100.0)
        require(!trig, "stress batch must take the frozen path")
        idx
      }
      val rBase = prep(sfDir, "base")
      val rScaled = prep(scaledDir, "scaled")
      timeFrozen(rBase, sfDir) // warm-up
      report("ann_retrain_frozen", timeFrozen(rBase, sfDir), timeFrozen(rScaled, scaledDir))
    }
    spark.stop()
  }

  /** Hash-chord edges over `nEdges / 2` nodes, deduplicated and
    * oriented src < dst — hub-free. */
  private def chords(spark: SparkSession, nEdges: Long): DataFrame = {
    val nodes = nEdges / 2
    spark.range(nEdges)
      .selectExpr(s"1 + (id * 6364136223) % $nodes as a",
        s"1 + (id * 2654435761) % $nodes as b")
      .selectExpr("least(a, b) as src", "greatest(a, b) as dst")
      .filter("src < dst").distinct()
  }

  /** `chords` plus a star: one hub (node 0) wired to nEdges/10 spokes —
    * a naive wedge join would emit (nEdges/10)² hub wedges. */
  private def starChords(spark: SparkSession, nEdges: Long): DataFrame = {
    val spokes = spark.range(1, nEdges / 10)
      .selectExpr("cast(0 as bigint) as src", "id as dst")
    spokes.union(chords(spark, nEdges)).distinct()
  }

  /** Disjoint directed 4-cycles (guaranteed SCC structure at any
    * scale) plus one-way hash chords for edge mass. */
  private def cyclesChords(spark: SparkSession, nCycles: Long): DataFrame = {
    val n = 4L * nCycles
    val cycles = spark.range(n)
      .selectExpr("id as src", "(id div 4) * 4 + (id + 1) % 4 as dst")
    val extra = spark.range(nCycles)
      .selectExpr(s"(id * 6364136223) % $n as src",
        s"(id * 2654435761) % $n as dst")
      .filter("src <> dst")
    cycles.union(extra).distinct()
  }

  /** Fact rows (k, v) with HALF of them on key 7, and a key-spaced dim
    * (`dimKey`, d) over 10 000 keys. */
  private def hotKeyJoin(spark: SparkSession, nRows: Long, dimKey: String): (DataFrame, DataFrame) = {
    val nKeys = 10000L
    val fact = spark.range(nRows)
      .selectExpr(s"CASE WHEN id % 2 = 0 THEN 7 ELSE 1 + (id * 2654435761) % $nKeys END as k",
        "id as v")
    val dim = spark.range(nKeys + 1).selectExpr(s"id as $dimKey", "id * 31 as d")
    (fact, dim)
  }

  /** 32 deterministic seed directions; 80% of the remaining vectors on
    * seed 0's direction + noise (ONE hot cluster), 20% uniform. */
  private def skewedEmbeddings(spark: SparkSession, n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val u = Array.fill(64)(1.0f / 8.0f)
    val seeds = (0L until 32L).map { i =>
      (i, if (i == 0) u
          else Array.tabulate(64)(d => if (d == i.toInt % 64) 1.0f else 0.0f))
    }
    val rest = (32 until n).map { i =>
      (i.toLong,
        if (i % 5 != 0) Array.tabulate(64)(d => u(d) + (0.06 * (rnd.nextDouble() * 2 - 1)).toFloat)
        else Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    (seeds ++ rest).toDF("vec_id", "embedding")
  }

  /** Write the `factor`× corpus into `outDir`: documents + embeddings
    * (distinct ids, copy-specific word pad) and lineitem + orders
    * (join-consistent key shifts). Non-key columns replicate verbatim. */
  private def buildScaled(spark: SparkSession, sfDir: String, outDir: String, factor: Int): Unit = {
    val off = 10000000L
    def replicate(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val t = Tables(spark, sfDir, table)
      (0 until factor).map(copy(t, _)).reduce(_ union _)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    // 40 pad words: a copy of an n-word doc shares n-2 shingles and
    // adds ~40, so J = (n-2)/(n+38) < 0.8 needs n < 162 — true for the
    // whole fixture (max 100 tokens). A 20-word pad would leave docs
    // with >= 82 tokens ABOVE the threshold and flood the corpus with
    // synthetic near-dup pairs.
    val pad = (i: Int) =>
      (('a' to 't').map(c => s"$c$i") ++ ('a' to 't').map(c => s"$c${i + 1000}"))
        .mkString(" ") + " "
    replicate("documents") { (docs, i) =>
      docs.select(
        (col("doc_id") + i * off).as("doc_id"),
        concat(lit(if (i == 0) "" else pad(i)), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicate("embeddings") { (emb, i) =>
      emb.select((col("vec_id") + i * off).as("vec_id"), col("embedding"), col("label"))
    }
    // orderkey/partkey/suppkey/custkey all move together, so the
    // co-purchase and customer–supplier graphs stay join-consistent
    replicate("lineitem") { (li, i) =>
      li.select(
        (col("l_orderkey") + i * off).as("l_orderkey"),
        (col("l_partkey") + i * off).as("l_partkey"),
        (col("l_suppkey") + i * off).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    replicate("orders") { (ord, i) =>
      ord.select(
        (col("o_orderkey") + i * off).as("o_orderkey"),
        (col("o_custkey") + i * off).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }
  }
}
