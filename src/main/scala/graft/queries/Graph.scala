package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GraphKit._

/** Graph-analytics battery over the part CO-PURCHASE graph: nodes are
  * parts, an undirected edge connects two parts that appear in the
  * SAME order at least `MinSupport` times. The support threshold is
  * what makes the graph analytically interesting (the raw co-purchase
  * graph is near-complete at every scale — ~116k edges over 2k parts
  * at sf0.01); at support >= 2 the graph fractures into real
  * components with real structure (~3.4k edges, 61 triangles at
  * sf0.01).
  *
  * Edge-build scale shape (shared by all three queries): the
  * within-order self-join is bounded by lines-per-order² — a
  * DATA-MODEL constant (TPC-H ~7 lines/order), so pair volume is
  * corpus-LINEAR, not quadratic; the join keys on l_orderkey so both
  * sides shuffle-partition together, and the `p1 < p2` predicate
  * halves the output and canonicalizes in the same pass. The support
  * filter is a partial-aggregatable groupBy — map-side combine eats
  * the duplicate-pair mass before it crosses the wire.
  *
  * The edge builds, seeds and every oracle round chain come from
  * [[GraphKit]]. The iterative/propagation queries delegate to
  * [[graft.ops.GraphOps]] / [[graft.ops.CorpusOps.dupClusters]] and
  * inherit their round discipline (AQE-off child session at
  * edge-derived width, lineage cuts between rounds). Every value in
  * this battery is an exact integer — no rounding contract is needed
  * anywhere.
  */
object Graph {

  // CONNECTED COMPONENTS (q48): which parts form co-purchase
  // "product families"? GraphOps.connectedComponents = dupClusters'
  // min-label propagation + pointer doubling (2 doublings/round,
  // 3 rounds covers diameter 32); component id = the component's
  // minimum part key — deterministic, so the oracle REPLAYS the same
  // three rounds unrolled (relax-and-double via the edge∪pointer
  // union join, then the pointer-jump self-join) and matches
  // exactly even where a component's true diameter exceeds the cover.
  private val q48 = QueryDef(
    "q48_components",
    (s, dir) => {
      val comp = graft.ops.GraphOps.connectedComponents(
        coEdges(s, dir).toDF("src", "dst"))
      comp.select(col("node").as("part"), col("component"),
          col("component_size"))
        .orderBy("component", "part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e", cols = Seq("p1" -> "a", "p2" -> "b"))},
            |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM e),
            |${componentRounds(3)}
            |SELECT node AS part, lbl AS component,
            |       count(*) OVER (PARTITION BY lbl) AS component_size
            |FROM r3 ORDER BY component, part""".stripMargin))

  // MULTI-SOURCE BFS (q49): hop distance from the 10 smallest part
  // keys in the graph to everything reachable within 4 hops —
  // GraphOps.hopDistance's monotone min-merge rounds over the
  // undirected (both-directions) edge list. The oracle unrolls the
  // same 4 rounds; the merge is spelled coalesce(least(d, nd), d, nd)
  // in BOTH engines, which is null-correct under either least()
  // semantic. Unreached parts are absent on both sides.
  private val q49 = QueryDef(
    "q49_bfs",
    (s, dir) => {
      // seeds derive from the SAME pipeline as the edges — lineage-cut
      // the pair build once so the seed checkpoint seam inside the
      // rounds reads this leaf instead of re-running the whole
      // co-purchase build (the q46 seed-seam lesson, +3 s at sf0.1)
      val edges = bothWays(cutCoEdges(s, dir)).toDF("src", "dst")
      val d = graft.ops.GraphOps.hopDistance(edges, smallestSeeds(edges), maxHops = 4)
      d.select(col("node").as("part"), col("dist")).orderBy("dist", "part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e")},
            |d0 AS (SELECT node, 0 AS dist FROM ($smallestSeedsSql)),
            |${minMergeRounds(4, "min(d.dist) + 1")}
            |SELECT node AS part, dist FROM d4 ORDER BY dist, part""".stripMargin))

  // TRIANGLE COUNTS (q50): per-part triangle participation —
  // GraphOps.triangles' degree-oriented enumeration (acyclic
  // orientation, out-degree O(√E), wedge join bounded by E^1.5). The
  // oracle enumerates the SAME triangle set with the id-order a<b<c
  // join — the canonical-form edges make that a three-way self-join —
  // and explodes the three corners identically.
  private val q50 = QueryDef(
    "q50_triangles",
    (s, dir) => {
      val tri = graft.ops.GraphOps.triangles(
        coEdges(s, dir).toDF("src", "dst"))
      tri.select(col("node").as("part"), col("triangles")).orderBy("part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
            |        FROM pe e1
            |        JOIN pe e2 ON e1.p2 = e2.p1
            |        JOIN pe e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
            |corners AS (SELECT a AS node FROM tri
            |            UNION ALL SELECT b FROM tri
            |            UNION ALL SELECT c FROM tri)
            |SELECT node AS part, count(*) AS triangles
            |FROM corners GROUP BY node ORDER BY part""".stripMargin))

  // WEIGHTED SHORTEST PATHS (q56): Bellman-Ford relaxation rounds with
  // the co-purchase SUPPORT as the edge cost — min total support from
  // the seed parts within 4 relaxations (GraphOps.shortestPaths; the
  // anytime bounded-exploration semantics). Same monotone-merge
  // spelling as q49, step = dist + w instead of dist + 1; exact longs.
  // The oracle MATERIALIZEs each round's distance table — each is
  // referenced twice (relax join + merge), and inlined CTEs would
  // re-expand the whole prefix exponentially.
  private val q56 = QueryDef(
    "q56_sssp",
    (s, dir) => {
      // same seed-seam discipline as q49: one lineage cut feeds both
      // the weighted edge table and the seed set
      val edges = bothWays(cutCoEdges(s, dir, weighted = true)).toDF("src", "dst", "w")
      val d = graft.ops.GraphOps.shortestPaths(edges, smallestSeeds(edges), "w", rounds = 4)
      d.select(col("node").as("part"), col("dist")).orderBy("dist", "part")
    },
    Some(s"""WITH ${coEdgesCte(weighted = true)},
            |${bothWaysCte("e", cols = Seq("p1" -> "src", "p2" -> "dst", "c" -> "w"))},
            |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM ($smallestSeedsSql)),
            |${minMergeRounds(4, "min(d.dist + e.w)", materialize = true)}
            |SELECT node AS part, dist FROM d4 ORDER BY dist, part""".stripMargin))

  // K-CORE (q57): the 3-core of the co-purchase graph by 4 fixed peel
  // rounds (GraphOps.kCore) — drop degree-<3 nodes, recompute degrees
  // over the survivors, repeat; the fixpoint is the true 3-core and
  // fixed rounds make it replayable. Output = surviving (node, deg).
  // Every peel's degree table and edge filter replays identically in
  // the oracle (MATERIALIZED for the same exponential-inline reason).
  private val q57 = QueryDef(
    "q57_kcore",
    (s, dir) => {
      val core = graft.ops.GraphOps.kCore(
        coEdges(s, dir).toDF("src", "dst"), k = 3)
      core.select(col("node").as("part"), col("deg")).orderBy("part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |e0 AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM pe),
            |${kCorePeels(3, 4)}
            |SELECT node AS part, deg FROM fd WHERE deg >= 3 ORDER BY part""".stripMargin))

  // LABEL-PROPAGATION COMMUNITIES (q64): synchronous LPA over the
  // co-purchase graph — nodes adopt their neighbors' most frequent
  // label, ties toward the smaller label (GraphOps.labelPropagation).
  // FINER than q48's components: bridges between dense regions don't
  // merge labels. The engine's max_by((c, -lbl)) argmax and the
  // oracle's row_number() OVER (ORDER BY c DESC, lbl) pick the same
  // row per node (the key is unique), so three unrolled rounds match
  // exactly — all integers.
  private val q64 = QueryDef(
    "q64_lpa",
    (s, dir) => {
      val com = graft.ops.GraphOps.labelPropagation(
        bothWays(cutCoEdges(s, dir)).toDF("src", "dst"))
      com.select(col("node").as("part"), col("community"))
        .withColumn("community_size",
          count(lit(1)).over(Window.partitionBy(col("community"))))
        .orderBy("community", "part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e")},
            |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
            |${lpaRounds(3, materializeLast = false)}
            |SELECT node AS part, lbl AS community,
            |       count(*) OVER (PARTITION BY lbl) AS community_size
            |FROM l3 ORDER BY community, part""".stripMargin))

  // ADAMIC-ADAR link prediction (q66): which co-purchase edges are
  // "missing"? Non-adjacent part pairs scored by Σ 1/ln(deg) over
  // shared neighbors (GraphOps.adamicAdar). Hub centers are excluded
  // from wedge generation above a SCALE-DERIVED cap — max(64, the
  // smallest power of two whose square is >= 2E), ~√(2E), bounding
  // wedge volume at (2E)^1.5 at any graph size; the derivation is
  // integer-only and the oracle re-derives the identical cap from
  // count(*) (the l2_simhash adaptive-parameter pattern). Scores are
  // sums of per-center doubles whose shuffle-order drift (~1e-13)
  // dies at round(6); ranking ties break on (a, b). Top-50 predicted
  // links.
  private val q66 = QueryDef(
    "q66_adamic_adar",
    (s, dir) => {
      val aa = graft.ops.GraphOps.adamicAdar(coEdges(s, dir).toDF("src", "dst"))
      aa.select(col("a"), col("b"), round(col("score"), 6).as("score"))
        .orderBy(desc("score"), asc("a"), asc("b")).limit(50)
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("score"), asc("a"), asc("b"))))
        .select(col("rnk"), col("a"), col("b"), col("score"))
        .orderBy("rnk")
    },
    Some(s"""WITH ${coEdgesCte()},
            |$hubCapCte,
            |${bothWaysCte("e2")},
            |deg AS (SELECT src AS z, count(*) AS deg FROM e2 GROUP BY src),
            |zw AS (SELECT e2.src AS z2, e2.dst AS n,
            |              1.0 / ln(CAST(deg.deg AS DOUBLE)) AS w
            |       FROM e2 JOIN deg ON e2.src = deg.z
            |       WHERE deg.deg >= 2 AND deg.deg <= (SELECT cap FROM prm)),
            |pairs AS (SELECT l.n AS a, r.n AS b, l.w
            |          FROM zw l JOIN zw r ON l.z2 = r.z2 AND l.n < r.n),
            |scored AS (SELECT a, b, SUM(w) AS score FROM pairs GROUP BY a, b),
            |nonadj AS (SELECT s.a, s.b, s.score FROM scored s
            |           LEFT JOIN pe ON s.a = pe.p1 AND s.b = pe.p2
            |           WHERE pe.p1 IS NULL),
            |top AS (SELECT a, b, round(score, 6) AS score FROM nonadj
            |        ORDER BY score DESC, a, b LIMIT 50)
            |SELECT row_number() OVER (ORDER BY score DESC, a, b) AS rnk, a, b, score
            |FROM top ORDER BY rnk""".stripMargin))

  // MODULARITY (q69): grade q64's LPA communities with the standard
  // "are these communities real" score — per community c, with
  // m = |canonical edges|, e_c intra-community edges, d_c the degree
  // sum, contribution = e_c/m − (d_c/2m)², Q = Σ contributions
  // (Newman-Girvan; GraphOps.modularity). The contribution is ONE
  // division of exact integer terms, (4·m·e_c − d_c²)/(4m²), rounded
  // to 9 — both engines divide the identical longs, so the round is
  // pure belt-and-suspenders. The oracle replays q64's three LPA
  // rounds then the same integer aggregates.
  private val q69 = QueryDef(
    "q69_modularity",
    (s, dir) => {
      val pe = cutCoEdges(s, dir)
      val com = graft.ops.GraphOps.labelPropagation(bothWays(pe).toDF("src", "dst"))
      graft.ops.GraphOps.modularity(pe.toDF("src", "dst"), com)
        .orderBy("community")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e")},
            |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
            |${lpaRounds(3, materializeLast = true)},
            |cm AS (SELECT node, lbl AS community FROM l3),
            |mm AS (SELECT count(*) AS m FROM pe),
            |lab AS (SELECT x.community AS ca, y.community AS cb
            |        FROM pe JOIN cm x ON pe.p1 = x.node JOIN cm y ON pe.p2 = y.node),
            |degsum AS (SELECT community, count(*) AS deg_sum FROM
            |           (SELECT ca AS community FROM lab
            |            UNION ALL SELECT cb FROM lab) GROUP BY community),
            |ein AS (SELECT ca AS community, count(*) AS e_in FROM lab
            |        WHERE ca = cb GROUP BY ca),
            |nn AS (SELECT community, count(*) AS n_nodes FROM cm GROUP BY community)
            |SELECT nn.community, nn.n_nodes,
            |       coalesce(degsum.deg_sum, 0) AS deg_sum,
            |       coalesce(ein.e_in, 0) AS e_in,
            |       round(CAST(4 * (SELECT m FROM mm) * coalesce(ein.e_in, 0)
            |                  - coalesce(degsum.deg_sum, 0) * coalesce(degsum.deg_sum, 0) AS DOUBLE)
            |             / CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE), 9) AS contribution
            |FROM nn LEFT JOIN degsum USING (community) LEFT JOIN ein USING (community)
            |ORDER BY community""".stripMargin))

  // LOUVAIN communities (q70): modularity-OPTIMIZING local moves over
  // the co-purchase graph (GraphOps.louvain) — the step past q64's
  // LPA (frequency-following) and q69's scoring: nodes greedily move
  // to the neighbor community with the highest modularity gain,
  // semi-synchronously (odd ids move on odd rounds, evens on even —
  // the red/black gate that kills the synchronous label chase). The
  // gain argmax ranks by the exact integer score
  // 2m·k_{i,c} − deg_i·Σtot(c∖{i}), ties to the smaller community id,
  // so the oracle's four unrolled rounds (row_number over score DESC,
  // c ASC) land on identical labels — no rounding contract anywhere.
  private val q70 = QueryDef(
    "q70_louvain",
    (s, dir) => {
      val com = graft.ops.GraphOps.louvain(coEdges(s, dir).toDF("src", "dst"))
      com.select(col("node").as("part"), col("community"))
        .withColumn("community_size",
          count(lit(1)).over(Window.partitionBy(col("community"))))
        .orderBy("community", "part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e2")},
            |deg AS (SELECT src AS node, count(*) AS deg FROM e2 GROUP BY src),
            |m2t AS (SELECT sum(deg) AS m2 FROM deg),
            |${louvainLevel("l")}
            |SELECT node AS part, c AS community,
            |       count(*) OVER (PARTITION BY c) AS community_size
            |FROM l4 ORDER BY community, part""".stripMargin))

  // STRONGLY CONNECTED COMPONENTS (q72): over the DIRECTED trade
  // graph — supplier → customer for delivered lineitems, customer →
  // supplier for returns (l_returnflag = 'R'), nodes coded s*2 /
  // c*2+1 like q65 — which suppliers and customers sit in mutual
  // sale/return cycles? GraphOps.scc's min-label coloring peel at the
  // fixed Seq(5, 2) schedule; the oracle REPLAYS the exact schedule
  // (GraphKit.sccCtes; outer 1 runs on the full table, live = every
  // node). All values exact integers. GraphOpsSpec pins the fixture fully assigned AND
  // at its fixpoint (a deeper schedule changes nothing), so the
  // fixed schedule is not hiding an unconverged closure.
  private val q72 = QueryDef(
    "q72_scc",
    (s, dir) => {
      graft.ops.GraphOps.scc(tradeGraph(s, dir))
        .orderBy("component", "node")
    },
    Some {
      s"""WITH ${sccCtes(Seq(5, 2))}
         |SELECT a.node, a.component, s.component_size
         |FROM allf a JOIN (SELECT component, count(*) AS component_size
         |                  FROM allf GROUP BY 1) s USING (component)
         |ORDER BY component, node""".stripMargin
    })

  // DETERMINISTIC RANDOM WALKS (q73): the DeepWalk/node2vec corpus
  // prep — one walk per node, 3 steps, each step choosing the
  // neighbor whose rank (row_number over neighbor id, per source)
  // equals sha60(walk ‖ ':' ‖ step) mod degree. The "randomness" is
  // the portable 60-bit hash both engines compute identically, so
  // the whole walk corpus is exactly replayable — the property a
  // training pipeline needs for reproducible embedding runs.
  // Scale shape: NO edge-sized intermediates — each step is a
  // walk-sized join onto the degree table (compute the rank) and a
  // (src, rnk)-keyed equi-join onto the ranked adjacency (one row
  // per walk); the adjacency ranking is one per-source window pass,
  // built once. L fixed ⇒ L·2 walk-sized joins total.
  private val q73 = QueryDef(
    "q73_random_walks",
    (s, dir) => {
      import graft.queries.QueryDef.sha60
      // lineage-cut the pair build once (the q49 seam), then CACHE the
      // ranked adjacency and degree tables — each of the 3 steps joins
      // both, and replaying the window per step would re-rank the
      // whole edge table L times
      val e2 = bothWays(cutCoEdges(s, dir)).toDF("src", "dst")
      val scope = graft.ops.CacheScope.sessionOwned
      val adj = scope.cached(e2.withColumn("rnk",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1))
      val deg = scope.cached(
        e2.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
      var pos = deg.select(col("node").as("walk"), col("node").as("cur"))
      val steps = scala.collection.mutable.ArrayBuffer(
        pos.select(col("walk"), lit(0).as("step"), col("cur").as("node")))
      for (st <- 1 to 3) {
        // each step's position table feeds BOTH the next step's chain
        // and its own output branch of the final union — cache it so
        // the union does not re-execute every prefix step per branch
        // (L·2 walk-sized joins total, not ~L²)
        pos = scope.cached(pos
          .join(deg, col("cur") === col("node"))
          .select(col("walk"), col("cur").as("src"),
            (sha60(concat(col("walk").cast("string"), lit(s":$st")))
              % col("deg")).as("rnk"))
          .join(adj, Seq("src", "rnk"))
          .select(col("walk"), col("dst").as("cur")))
        steps += pos.select(col("walk"), lit(st).as("step"), col("cur").as("node"))
      }
      steps.reduce(_.unionByName(_)).orderBy("walk", "step")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e2")},
            |adj AS (SELECT src, dst,
            |        row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
            |        FROM e2),
            |deg AS (SELECT src AS node, count(*) AS deg FROM e2 GROUP BY 1),
            |w0 AS (SELECT node AS walk, node AS cur FROM deg),
            |${uniformWalkSteps(3)}
            |${walkTailSql("w0", 3)}""".stripMargin))

  // MULTI-LEVEL LOUVAIN (q77): the full two-phase algorithm — after
  // q70's local moves, every community CONTRACTS to a super-node
  // (GraphOps.louvainContract: inter-community weights + ONE
  // self-loop row per community carrying the intra weight, so coarse
  // modularity equals fine modularity) and the SAME local-move
  // machinery reruns WEIGHTED on the coarse graph; the final label of
  // a part is its level-2 community reached through its level-1
  // community. All weights are exact integer counts, so the gain
  // argmax stays integer-exact at both levels and the oracle replays
  // both levels' rounds as generated CTEs (weighted sums CAST to
  // BIGINT — DuckDB's SUM(BIGINT) is HUGEINT). Self-loop candidate
  // mass is excluded at level 2 (src <> dst in the kic build) in BOTH
  // engines — the standard phase-2 treatment.
  private val q77 = QueryDef(
    "q77_louvain_l2",
    (s, dir) => {
      val pe = cutCoEdges(s, dir).toDF("src", "dst")
      val l1 = graft.ops.GraphOps.louvain(pe)
      val coarse = graft.ops.GraphOps.louvainContract(pe, l1)
      val l2 = graft.ops.GraphOps.louvain(coarse, weightCol = Some("w"))
      l1.select(col("node").as("part"), col("community").as("c1"))
        .join(l2.select(col("node").as("c1"), col("community")), "c1")
        .select(col("part"), col("community"))
        .withColumn("community_size",
          count(lit(1)).over(Window.partitionBy(col("community"))))
        .orderBy("community", "part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e2")},
            |deg AS (SELECT src AS node, count(*) AS deg FROM e2 GROUP BY src),
            |m2t AS (SELECT sum(deg) AS m2 FROM deg),
            |${louvainLevel("a")},
            |ce AS MATERIALIZED (SELECT least(la.c, lb.c) AS src,
            |        greatest(la.c, lb.c) AS dst, count(*) AS w
            |      FROM pe JOIN a4 la ON la.node = pe.p1
            |      JOIN a4 lb ON lb.node = pe.p2 GROUP BY 1, 2),
            |${bothWaysCte("e2b", "ce", Seq("src" -> "src", "dst" -> "dst", "w" -> "w"))},
            |degb AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS deg FROM e2b GROUP BY src),
            |m2b AS (SELECT CAST(sum(deg) AS BIGINT) AS m2 FROM degb),
            |${louvainLevel("b", "e2b", "degb", "m2b", "CAST(sum(e.w) AS BIGINT)", " AND e.src <> e.dst")}
            |SELECT p.node AS part, l2.c AS community,
            |       count(*) OVER (PARTITION BY l2.c) AS community_size
            |FROM a4 p JOIN b4 l2 ON l2.node = p.c
            |ORDER BY community, part""".stripMargin))

  // FREQUENT TRIPLES (q79): the market-basket itemset classic one
  // level above the co-purchase PAIR build — parts bought together in
  // the same order as an ORDERED triple (p1 < p2 < p3), support >= 2,
  // top-20 by (support desc, triple). Scale shape: the within-order
  // triple enumeration is bounded by C(lines-per-order, 3) — a
  // DATA-MODEL constant (TPC-H ~7 lines/order ⇒ <= 35 triples/order),
  // so triple volume is corpus-LINEAR like the pair build, and both
  // self-joins key on l_orderkey so the order's lines co-partition;
  // the support filter is one partial-aggregatable groupBy. A
  // NON-constant basket bound would need the a-priori prune
  // (candidate triples from frequent pairs) — noted, not needed here.
  private val q79 = QueryDef(
    "q79_frequent_triples",
    (s, dir) => {
      val op = orderParts(s, dir)
      op.as("a")
        .join(op.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .join(op.as("c"), col("a.l_orderkey") === col("c.l_orderkey") &&
          col("b.l_partkey") < col("c.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"),
          col("c.l_partkey").as("p3"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(desc("support"), asc("p1"), asc("p2"), asc("p3"))
        .limit(20)
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            |SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
            |       count(*) AS support
            |FROM op a
            |JOIN op b ON a.l_orderkey = b.l_orderkey
            |         AND a.l_partkey < b.l_partkey
            |JOIN op c ON a.l_orderkey = c.l_orderkey
            |         AND b.l_partkey < c.l_partkey
            |GROUP BY 1, 2, 3 HAVING count(*) >= 2
            |ORDER BY support DESC, p1, p2, p3 LIMIT 20""".stripMargin))

  // ASSOCIATION RULES (q80): the market-basket completion of q79 —
  // directed rules a → b over the same-order part pairs, scored by
  // CONFIDENCE = supp(a,b)/supp(a) (how often baskets with a also
  // hold b) and LIFT = confidence / (supp(b)/N) (how much better than
  // b's base rate — lift > 1 is real association, not popularity).
  // Pair support >= 2; top-20 by (round(lift, 6) desc, a, b). All
  // supports are exact integers from partial-aggregatable counts; the
  // two divisions happen in ONE spelled order (conf = pair/a, lift =
  // conf·N/b) and round 6 — engine-stable ordering. Scale: pair
  // volume is the q79 data-model-constant bound; per-part supports
  // are one groupBy; N rides as a broadcast 1-row aggregate.
  private val q80 = QueryDef(
    "q80_assoc_rules",
    (s, dir) => {
      val op = orderParts(s, dir)
      val supp = op.groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("s"))
      val n = op.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n"))
      val pairs = op.as("a").join(op.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("sp"))
        .filter(col("sp") >= 2)
      // both rule directions from the canonical pair via one explode
      val rules = pairs.select(explode(array(
          struct(col("p1").as("x"), col("p2").as("y"), col("sp")),
          struct(col("p2").as("x"), col("p1").as("y"), col("sp")))).as("r"))
        .select(col("r.x").as("a"), col("r.y").as("b"), col("r.sp"))
      rules
        .join(supp.select(col("p").as("a"), col("s").as("sa")), "a")
        .join(supp.select(col("p").as("b"), col("s").as("sb")), "b")
        .crossJoin(broadcast(n))
        .select(col("a"), col("b"), col("sp").as("support"),
          round(col("sp") / col("sa"), 6).as("confidence"),
          round(col("sp") / col("sa") * col("n") / col("sb"), 6).as("lift"))
        .orderBy(desc("lift"), asc("a"), asc("b")).limit(20)
    },
    Some(s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            |supp AS (SELECT l_partkey AS p, count(*) AS s FROM op GROUP BY 1),
            |n AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
            |pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS sp
            |          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
            |                            AND a.l_partkey < b.l_partkey
            |          GROUP BY 1, 2 HAVING count(*) >= 2),
            |${bothWaysCte("rules", "pairs", Seq("p1" -> "a", "p2" -> "b", "sp" -> "sp"))}
            |SELECT r.a, r.b, r.sp AS support,
            |       round(r.sp / sa.s, 6) AS confidence,
            |       round(r.sp / sa.s * (SELECT n FROM n) / sb.s, 6) AS lift
            |FROM rules r
            |JOIN supp sa ON sa.p = r.a
            |JOIN supp sb ON sb.p = r.b
            |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin))

  // NEIGHBORHOOD LINK PREDICTION (q81): the exact-integer companions
  // of q66's Adamic-Adar — common-neighbor count, Jaccard overlap
  // cn/(deg_a + deg_b − cn), preferential attachment deg_a·deg_b
  // (Liben-Nowell & Kleinberg 2003) for non-adjacent pairs sharing
  // >= 2 neighbors (cn >= 2 cuts the one-shared-neighbor noise floor
  // that dominates a support-thresholded graph). GraphOps.linkPredict
  // returns the integer ingredients; the ONE division (and its
  // round(6)) happens here, so the rounding contract lives in query
  // code. Same scale-derived wedge-center cap as q66, re-derived by
  // the oracle from count(*); endpoint degrees join uncapped. Top-30
  // by (jaccard desc, a, b).
  private val q81 = QueryDef(
    "q81_link_predict",
    (s, dir) => {
      val lp = graft.ops.GraphOps.linkPredict(coEdges(s, dir).toDF("src", "dst"))
      lp.filter(col("cn") >= 2)
        .select(col("a"), col("b"), col("cn"),
          round(col("cn") / (col("deg_a") + col("deg_b") - col("cn")), 6)
            .as("jaccard"),
          (col("deg_a") * col("deg_b")).as("pref"))
        .orderBy(desc("jaccard"), asc("a"), asc("b")).limit(30)
    },
    Some(s"""WITH ${coEdgesCte()},
            |$hubCapCte,
            |${bothWaysCte("e2")},
            |deg AS (SELECT src AS z, count(*) AS deg FROM e2 GROUP BY src),
            |zn AS (SELECT e2.src AS z2, e2.dst AS n
            |       FROM e2 JOIN deg ON e2.src = deg.z
            |       WHERE deg.deg >= 2 AND deg.deg <= (SELECT cap FROM prm)),
            |cn AS (SELECT l.n AS a, r.n AS b, count(*) AS cn
            |       FROM zn l JOIN zn r ON l.z2 = r.z2 AND l.n < r.n
            |       GROUP BY 1, 2),
            |nonadj AS (SELECT c.a, c.b, c.cn FROM cn c
            |           LEFT JOIN pe ON c.a = pe.p1 AND c.b = pe.p2
            |           WHERE pe.p1 IS NULL AND c.cn >= 2)
            |SELECT n.a, n.b, n.cn,
            |       round(n.cn / (da.deg + db.deg - n.cn), 6) AS jaccard,
            |       da.deg * db.deg AS pref
            |FROM nonadj n
            |JOIN deg da ON da.z = n.a
            |JOIN deg db ON db.z = n.b
            |ORDER BY jaccard DESC, a, b LIMIT 30""".stripMargin))

  // K-SOURCE BETWEENNESS (q85): which parts sit ON the shortest paths
  // between others? GraphOps.betweenness — Brandes' forward σ
  // path-count BFS + backward dependency folding from the 10 smallest
  // part keys, explored 3 hops (the q49 seed/horizon conventions; a
  // fixed seed sample is the standard estimator, Brandes & Pich
  // 2007). σ are exact longs (2^52-guarded); each backward level
  // rounds its δ aggregate to 9 (the q44 per-round discipline), so
  // the oracle's unrolled forward/backward levels land on identical
  // doubles and the final per-node sum rounds to 6.
  private val q85 = QueryDef(
    "q85_betweenness",
    (s, dir) => {
      val edges = bothWays(cutCoEdges(s, dir)).toDF("src", "dst")
      graft.ops.GraphOps.betweenness(edges, smallestSeeds(edges), maxHops = 3)
        .select(col("node").as("part"), round(col("bc"), 6).as("bc"))
        .orderBy("part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e")},
            |${bfsLevels(3)},
            |${dependencyLevels(3)}
            |SELECT node AS part, round(sum(delta), 6) AS bc
            |FROM al WHERE node != seed GROUP BY node ORDER BY part""".stripMargin))

  // GRAPH PROFILE (q86): the one-row structural summary an analyst
  // reads before running anything else on a graph — node/edge counts,
  // density, degree stats, wedge count Σ deg·(deg−1)/2, total
  // triangles, and the GLOBAL CLUSTERING COEFFICIENT 3·triangles /
  // wedges (transitivity — what fraction of open wedges close).
  // Triangles come from GraphOps.triangles' degree-oriented E^1.5
  // enumeration (per-node counts sum to 3T — exact integer div); the
  // oracle counts the same set via the canonical a<b<c triple join.
  // Everything is one edge checkpoint + three 1-row broadcast
  // aggregates; the only divisions are the three rounded ratios.
  // Nodes = edge endpoints (the support>=2 graph's isolated parts
  // don't exist as nodes).
  private val q86 = QueryDef(
    "q86_graph_profile",
    (s, dir) => {
      val pe = cutCoEdges(s, dir)
      val deg = bothWays(pe).groupBy(col("p1").as("node")).agg(count(lit(1)).as("deg"))
      val ds = broadcast(deg.agg(count(lit(1)).as("n"), max("deg").as("max_deg"),
        expr("cast(sum(deg * (deg - 1) div 2) as bigint)").as("wedges")))
      val mm = broadcast(pe.agg(count(lit(1)).as("m")))
      val tr = broadcast(graft.ops.GraphOps.triangles(pe.toDF("src", "dst"))
        .agg(coalesce(expr("sum(triangles) div 3"), lit(0L)).as("t")))
      ds.crossJoin(mm).crossJoin(tr)
        .select(col("n").as("n_nodes"), col("m").as("n_edges"), col("max_deg"),
          round((lit(2) * col("m")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double"), 6).as("density"),
          round((lit(2) * col("m")).cast("double")
            / col("n").cast("double"), 6).as("avg_deg"),
          col("wedges"), col("t").as("n_triangles"),
          when(col("wedges") > 0,
            round((lit(3) * col("t")).cast("double")
              / col("wedges").cast("double"), 6))
            .otherwise(lit(0.0)).as("clustering"))
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e2")},
            |deg AS (SELECT src AS node, count(*) AS deg FROM e2 GROUP BY 1),
            |ds AS (SELECT count(*) AS n, max(deg) AS max_deg,
            |              CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges
            |       FROM deg),
            |mm AS (SELECT count(*) AS m FROM pe),
            |tri AS (SELECT count(*) AS t FROM pe ab
            |        JOIN pe bc ON ab.p2 = bc.p1
            |        JOIN pe ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2)
            |SELECT n AS n_nodes, m AS n_edges, max_deg,
            |  round(CAST(2 * m AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6) AS density,
            |  round(CAST(2 * m AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_deg,
            |  wedges, t AS n_triangles,
            |  CASE WHEN wedges > 0
            |       THEN round(CAST(3 * t AS DOUBLE) / CAST(wedges AS DOUBLE), 6)
            |       ELSE 0.0 END AS clustering
            |FROM ds, mm, tri""".stripMargin))

  // NODE2VEC BIASED WALKS (q87): q73's deterministic walks with the
  // second-order transition bias (Grover & Leskovec 2016) — candidate
  // x from cur with previous node prev weighs α = 1/p if x = prev
  // (return), 1 if x is adjacent to prev (triadic), 1/q otherwise
  // (outward). p = 2, q = 1/2 scaled by 2 gives EXACT INTEGER weights
  // {1, 2, 4} (DFS-leaning — the "structural equivalence" setting);
  // the choice is hash-deterministic: r = sha60(walk‖':'‖step) mod
  // Σw picks the candidate whose cumulative-weight range covers r
  // (cum over dst order — a total order, since adjacency rows are
  // distinct per cur). Step 1 has prev = start, every candidate
  // triadic, so it degenerates to the uniform first step the paper
  // prescribes. Scale shape: per step one walk-sized adjacency join
  // (candidate volume Σ deg(cur) ≤ 2E — the PageRank-round class),
  // one edge-sized prev-adjacency tag join, ONE walk-keyed window
  // exchange carrying both the running and total weight sums; every
  // quantity is an exact integer, no rounding contract anywhere.
  private val q87 = QueryDef(
    "q87_node2vec_walks",
    (s, dir) => {
      import graft.queries.QueryDef.sha60
      val scope = graft.ops.CacheScope.sessionOwned
      val adj = scope.cached(bothWays(cutCoEdges(s, dir)).toDF("src", "dst"))
      var pos = adj.select(col("src").as("walk")).distinct()
        .select(col("walk"), col("walk").as("prev"), col("walk").as("cur"))
      val steps = scala.collection.mutable.ArrayBuffer(
        pos.select(col("walk"), lit(0).as("step"), col("cur").as("node")))
      val w = Window.partitionBy("walk")
      val wo = w.orderBy("dst")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      for (st <- 1 to 3) {
        val cand = pos.join(adj, col("cur") === col("src"))
          .select(col("walk"), col("prev"), col("cur"), col("dst"))
        val tagged = cand.join(
            adj.select(col("src").as("ps"), col("dst").as("pd")),
            col("prev") === col("ps") && col("dst") === col("pd"), "left")
          .select(col("walk"), col("cur"), col("dst"),
            when(col("dst") === col("prev"), lit(1))
              .when(col("ps").isNotNull, lit(2)).otherwise(lit(4)).as("wt"))
        pos = scope.cached(tagged
          .withColumn("cum", sum("wt").over(wo))
          .withColumn("tot", sum("wt").over(w))
          .withColumn("r",
            sha60(concat(col("walk").cast("string"), lit(s":$st"))) % col("tot"))
          .filter(col("cum") - col("wt") <= col("r") && col("r") < col("cum"))
          .select(col("walk"), col("cur").as("prev"), col("dst").as("cur")))
        steps += pos.select(col("walk"), lit(st).as("step"), col("cur").as("node"))
      }
      steps.reduce(_.unionByName(_)).orderBy("walk", "step")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("adj")},
            |s0 AS (SELECT DISTINCT src AS walk, src AS prev, src AS cur FROM adj),
            |${node2vecSteps(3)}
            |${walkTailSql("s0", 3)}""".stripMargin))

  // HARMONIC CENTRALITY (q93): the centrality family's third member —
  // H(v) = Σ 1/d(s,v) from the same 10 seeds and 3-hop horizon as
  // q85's betweenness (Boldi & Vigna's closeness variant: reciprocals
  // make disconnected pairs contribute 0 instead of poisoning a
  // mean). GraphOps.harmonicCentrality shares betweenness' per-seed
  // forward BFS; distances are exact longs, each 1/d one IEEE
  // division, and the ≤10-term sum's order drift dies at round(6).
  // The oracle replays the identical forward levels.
  private val q93 = QueryDef(
    "q93_harmonic",
    (s, dir) => {
      val edges = bothWays(cutCoEdges(s, dir)).toDF("src", "dst")
      graft.ops.GraphOps.harmonicCentrality(edges, smallestSeeds(edges), maxHops = 3)
        .select(col("node").as("part"), col("n_reached"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("part")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e")},
            |${bfsLevels(3)}
            |SELECT node AS part, count(*) AS n_reached,
            |       round(SUM(CAST(1.0 AS DOUBLE) / dist), 6) AS harmonic
            |FROM st3 WHERE dist >= 1
            |GROUP BY node ORDER BY part""".stripMargin))

  // HYPERBALL NEIGHBORHOOD FUNCTION (q95): N(h) = how many (node,
  // node) pairs sit within h hops — the scalable complement to q86's
  // one-row profile and q49's exact BFS: per-node HLL ball sketches
  // merge register-wise per hop (GraphOps.hyperBall, Boldi & Vigna
  // 2013), edge-linear per round where exact all-pairs state
  // explodes. Sketch estimates are engine-specific, so the gate is
  // the q05/q34 bound-check pattern: the engine ALSO runs the exact
  // pair closure (GraphOps.neighborhoodExact — affordable on the
  // fixture, the thing hyperBall replaces at scale) and emits
  // deterministic verdicts — per-h estimates within 5%, and the
  // 90%-effective-diameter read off the estimated curve equal to the
  // exact one. lgK = 7 (128 registers/node) keeps the sketches in
  // true dense-HLL estimation mode on the fixture — the 100 TB
  // memory shape, not the sparse-exact fallback lgK 12 would give
  // here.
  private val q95 = QueryDef(
    "q95_hyperball",
    (s, dir) => {
      val scope = graft.ops.CacheScope.sessionOwned
      val pe = coEdges(s, dir).toDF("src", "dst")
      val est = scope.cached(graft.ops.GraphOps.hyperBall(pe, maxH = 3, lgK = 7))
      val exact = scope.cached(graft.ops.GraphOps.neighborhoodExact(pe, maxH = 3))
      val n3e = est.filter(col("h") === 3).select(col("n_est").as("n3e"))
      val n3x = exact.filter(col("h") === 3).select(col("n_exact").as("n3x"))
      val d90e = est.crossJoin(broadcast(n3e))
        .filter(col("n_est").cast("double") >=
          lit(0.9) * col("n3e").cast("double"))
        .agg(min("h").as("d90_est"))
      val d90x = exact.crossJoin(broadcast(n3x))
        .filter(col("n_exact").cast("double") >=
          lit(0.9) * col("n3x").cast("double"))
        .agg(min("h").as("d90_exact"))
      est.join(exact, "h")
        .crossJoin(broadcast(d90e)).crossJoin(broadcast(d90x))
        .select(col("h"), col("n_exact"),
          (abs(col("n_est") - col("n_exact")).cast("double") / col("n_exact")
            <= lit(0.05)).as("within_5pct"),
          (col("d90_est") === col("d90_exact")).as("d90_match"))
        .orderBy("h")
    },
    Some(s"""WITH ${coEdgesCte()},
            |${bothWaysCte("e2")},
            |${ballRounds(3)}
            |SELECT h, n_exact, true AS within_5pct, true AS d90_match
            |FROM ns ORDER BY h""".stripMargin))

  // K-TRUSS BACKBONE (q98): the community-backbone extractor one
  // notch stronger than q57's k-core — every surviving edge must sit
  // in >= k−2 triangles WITHIN the surviving subgraph (Cohen 2008),
  // by fixed-round support peeling (GraphOps.kTruss; engine and
  // oracle run the SAME rounds, so they agree converged or not — the
  // q57 trade; the fixture peel reaches its fixpoint in 2). k = 3:
  // edges in no triangle drop, i.e. the triangle-supported core of
  // the co-purchase graph. Per round one E^1.5-bounded support
  // enumeration (the q50 orientation) + an integer filter; the
  // oracle enumerates triangles id-ordered (a<b<c) — same triangle
  // set, same supports. All exact integers.
  private val q98 = QueryDef(
    "q98_ktruss",
    (s, dir) => {
      graft.ops.GraphOps.kTruss(coEdges(s, dir).toDF("src", "dst"),
          k = 3, rounds = 3)
        .select(col("src").as("p1"), col("dst").as("p2"), col("support"))
        .orderBy("p1", "p2")
    },
    Some(s"""WITH ${coEdgesCte()},
            |e0 AS (SELECT p1 AS src, p2 AS dst FROM pe),
            |${kTrussRounds(3, 4)}
            |SELECT src AS p1, dst AS p2, support FROM s4
            |WHERE support >= 1 ORDER BY p1, p2""".stripMargin))

  // SCC CONDENSATION (q99): the component-level view of the directed
  // trade graph — contract q72's SCC assignment onto the edges. Rows
  // with c_src = c_dst carry the INTRA-component edge count (the
  // louvainContract self-loop convention — also what keeps the query
  // non-empty when the whole graph collapses into one SCC, as the
  // sf0.001 fixture does); rows with c_src != c_dst are the
  // condensation DAG, which is acyclic by the SCC theorem — the
  // dependency order a topological pipeline stage runs on. ONE
  // edge-sized double label join + a component²-bounded aggregate —
  // the louvainContract shape on a directed graph. All exact
  // integers; oracle = the q72 closure prefix + the same
  // contraction.
  private val q99 = QueryDef(
    "q99_condensation",
    (s, dir) => {
      val scope = graft.ops.CacheScope.sessionOwned
      // de is NOT cached: scc lineage-cuts its input internally, and
      // the contraction's two join sides read the ~1 s de build more
      // cheaply than a cache materialization distorts the scc path
      // (measured: caching de cost ~5 s at sf0.1)
      val de = tradeGraph(s, dir)
      val cm = scope.cached(graft.ops.GraphOps.scc(de)
        .select(col("node"), col("component")))
      de.join(cm.select(col("node").as("src"), col("component").as("c_src")), "src")
        .join(cm.select(col("node").as("dst"), col("component").as("c_dst")), "dst")
        .groupBy("c_src", "c_dst").agg(count(lit(1)).as("n_edges"))
        .orderBy("c_src", "c_dst")
    },
    Some {
      s"""WITH ${sccCtes(Seq(5, 2))}
         |SELECT ca.component AS c_src, cb.component AS c_dst,
         |       count(*) AS n_edges
         |FROM de JOIN allf ca ON de.src = ca.node
         |        JOIN allf cb ON de.dst = cb.node
         |GROUP BY c_src, c_dst ORDER BY c_src, c_dst""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(q48, q49, q50, q56, q57, q64, q66, q69, q70,
    q72, q73, q77, q79, q80, q81, q85, q86, q87, q93, q95, q98, q99)
}
