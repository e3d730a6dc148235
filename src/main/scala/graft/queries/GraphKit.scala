package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The graph family's shared kit: the edge builds, seed sets and label
  * tails every graph cell ([[Graph]] and the transaction-graph cells of
  * [[Relational]]) feeds into or reads out of [[graft.ops.GraphOps]],
  * each beside its DuckDB twin, and one SQL generator per oracle round
  * shape. The oracles replay the engine's fixed round schedules, so a
  * multi-round CTE chain is always generated here, never unrolled by
  * hand. Where a generated chain breaks its lines does not matter:
  * `SparkEntry.oracleSql` trims every line and joins the lines with
  * single spaces, so only the tokens and the spaces inside a line
  * reach the oracle.
  *
  * Node ids on the transaction graph: supplier s → 2s, customer
  * c → 2c+1 (parity-split, so the two directions of an edge can never
  * collide). On the co-purchase graph: part keys, pairs canonical
  * (p1 < p2).
  */
private[queries] object GraphKit {

  // ------------------------------------------------------------ edges

  /** Supplier → customer pairs of every order line, one row per line;
    * `keep` carries further `orders` columns through. */
  def txPairs(s: SparkSession, dir: String, keep: String*): DataFrame =
    Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables(s, dir, "orders").select((Seq("o_orderkey", "o_custkey") ++ keep).map(col): _*),
        col("l_orderkey") === col("o_orderkey"))
      .select(Seq((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst")) ++
        keep.map(col): _*)

  /** The distinct transaction edges (src, dst); `weighted` keeps the
    * line count per pair as `w` instead. */
  def txEdges(s: SparkSession, dir: String, weighted: Boolean = false): DataFrame =
    if (weighted) txPairs(s, dir).groupBy("src", "dst").agg(count(lit(1)).as("w"))
    else txPairs(s, dir).distinct()

  /** [[txEdges]]' twin as a CTE `name`, optionally restricted by `where`. */
  def txEdgeCte(name: String = "ed", weighted: Boolean = false, where: String = ""): String = {
    val from = "FROM lineitem JOIN orders ON l_orderkey = o_orderkey" +
      (if (where.isEmpty) "" else s"\nWHERE $where")
    if (weighted)
      s"""$name AS (SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst,
         |  count(*) AS w
         |  $from
         |  GROUP BY 1, 2)""".stripMargin
    else
      s"""$name AS (SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
         |  $from)""".stripMargin
  }

  /** The supplier nodes, from lineitem directly: every order line names
    * a supplier with an edge, so this equals the even nodes of
    * [[txEdges]] — and derived from the edges it would re-run their
    * whole join at GraphOps' seed checkpoint (measured +3 s at sf0.1). */
  def supplierSeeds(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select((col("l_suppkey") * 2).as("node")).distinct()

  /** The directed trade graph: supplier → customer for delivered
    * lines, customer → supplier for returns (l_returnflag = 'R'). */
  def tradeGraph(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .join(Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        when(col("l_returnflag") =!= "R", col("l_suppkey") * 2)
          .otherwise(col("o_custkey") * 2 + 1).as("src"),
        when(col("l_returnflag") =!= "R", col("o_custkey") * 2 + 1)
          .otherwise(col("l_suppkey") * 2).as("dst"))
      .distinct()

  /** Canonical (p1 < p2) co-purchase edges with support >= 2. */
  def coEdges(s: SparkSession, dir: String): DataFrame =
    coEdgesW(s, dir).select(col("p1"), col("p2"))

  /** The distinct (order, part) rows — the baskets the co-purchase
    * pairs and the market-basket cells count over. */
  def orderParts(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")).distinct()

  /** [[coEdges]] keeping the support count as the edge weight `c`. */
  def coEdgesW(s: SparkSession, dir: String): DataFrame = {
    val op = orderParts(s, dir)
    op.as("a").join(op.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
  }

  /** [[coEdges]] (`weighted`: [[coEdgesW]]) lineage-cut once. A cell
    * that reads the pair build twice — both union branches, or edges
    * and seeds — reads the cut leaf instead of re-running the build
    * (the seed seam cost +3 s at sf0.1 before the cut). */
  def cutCoEdges(s: SparkSession, dir: String, weighted: Boolean = false): DataFrame =
    graft.ops.CacheScope.sessionOwned.checkpointed(
      if (weighted) coEdgesW(s, dir) else coEdges(s, dir), reliable = false)

  /** [[coEdges]]' twin `pe(p1, p2)` (`weighted`: `pe(p1, p2, c)`). */
  def coEdgesCte(weighted: Boolean = false): String =
    s"""pe AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2${if (weighted) ", count(*) AS c" else ""}
       |       FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
       |       JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
       |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Both directions of a pair table whose halves cannot collide —
    * parity-split or canonical (p1 < p2) ids — so no distinct. The
    * first two columns swap, the rest ride along. Not
    * `GraphOps.undirect`, which adds a distinct and one more shuffle. */
  def bothWays(df: DataFrame): DataFrame = {
    val Seq(a, b, rest @ _*) = df.columns.toSeq
    df.union(df.select(col(b).as(a) +: col(a).as(b) +: rest.map(col): _*))
  }

  /** [[bothWays]]' twin: CTE `name` over `from`, whose first two
    * `cols` (source column → output name) swap in the second branch.
    * The transaction cells spell it `UNION` (their oracles' dedup
    * sees disjoint halves). */
  def bothWaysCte(name: String, from: String = "pe",
                  cols: Seq[(String, String)] = Seq("p1" -> "src", "p2" -> "dst"),
                  union: String = "UNION ALL"): String = {
    val first = cols.map { case (c, as) => if (c == as) c else s"$c AS $as" }
    val second = cols(1)._1 +: cols.head._1 +: cols.drop(2).map(_._1)
    s"""$name AS (SELECT ${first.mkString(", ")} FROM $from
       |  $union SELECT ${second.mkString(", ")} FROM $from)""".stripMargin
  }

  /** The transaction cells' `e` over `ed`: (src, dst), plus `w` when weighted. */
  def txBothWaysCte(weighted: Boolean = false, name: String = "e", from: String = "ed"): String =
    if (weighted) bothWaysCte(name, from, Seq("src" -> "src", "dst" -> "dst", "w" -> "w"))
    else bothWaysCte(name, from, Seq("src" -> "src", "dst" -> "dst"), union = "UNION")

  // ------------------------------------------------------ seeds, labels

  /** The seed sample of the BFS, SSSP and centrality cells: the 10
    * smallest source nodes. */
  def smallestSeeds(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct().orderBy("node").limit(10)

  /** [[smallestSeeds]]' twin over the edge CTE `e`. */
  val smallestSeedsSql = "SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 10"

  /** The top `k` transaction-graph nodes by round(`score`, 6) desc,
    * node asc, as (rnk, node, `as`) with the node labelled `s<id>` /
    * `c<id>`; `customersOnly` ranks the customer nodes alone. The
    * label is built on the k survivors only. */
  def labelTop(ranks: DataFrame, score: String, k: Int, as: String,
               customersOnly: Boolean = false): DataFrame = {
    val id = expr("cast(node div 2 as string)")
    val label =
      if (customersOnly) concat(lit("c"), id)
      else when(col("node") % 2 === 0, concat(lit("s"), id)).otherwise(concat(lit("c"), id))
    val kept = if (customersOnly) ranks.where(col("node") % 2 === 1) else ranks
    kept.select(col("node"), round(col(score), 6).as(as))
      .orderBy(desc(as), asc("node")).limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(desc(as), asc("node"))))
      .select(col("rnk"), label.as("node"), col(as))
  }

  /** [[labelTop]]'s label over `node` in SQL. */
  val nodeLabelSql = "CASE WHEN node % 2 = 0 THEN 's' || (node // 2) ELSE 'c' || (node // 2) END"

  /** [[labelTop]]'s twin for a rank CTE `from`(node, pr): the query's tail. */
  def labelTopSql(from: String, k: Int = 20, customersOnly: Boolean = false): String =
    s"""fin AS (SELECT node, round(pr, 6) AS pr FROM $from${if (customersOnly) " WHERE node % 2 = 1" else ""}
       |        ORDER BY pr DESC, node LIMIT $k),
       |r AS (SELECT row_number() OVER (ORDER BY pr DESC, node) AS rnk, node, pr FROM fin)
       |SELECT rnk, ${if (customersOnly) "'c' || (node // 2)" else nodeLabelSql} AS node, pr
       |FROM r ORDER BY rnk""".stripMargin

  // ------------------------------------------------------- round shapes

  /** `k` PageRank rounds `prefix`1..k from rank CTE `from` over edge
    * CTE `e`: each joins the node table `nodes` (`table alias`, or a
    * bare name) on dst, carries its `keys` and rounds
    * `restart` + 0.85 · Σ `contrib` to 9 — GraphOps' per-round
    * rounding, so the ranks match bit for bit. */
  def prRounds(k: Int, prefix: String = "p", from: String = "p0", e: String = "e",
               nodes: String = "deg d", keys: Seq[String] = Seq("node", "deg"),
               restart: String = "0.15 / (SELECT n FROM n)",
               contrib: String = "p.pr / p.deg"): String = {
    val a = nodes.split(' ').last
    val ks = keys.map(a + "." + _).mkString(", ")
    (1 to k).map { i =>
      val p = if (i == 1) from else s"$prefix${i - 1}"
      s"""$prefix$i AS (SELECT $ks,
         |       round($restart + 0.85 * SUM($contrib), 9) AS pr
         |       FROM ${if (e == "e") e else s"$e e"} JOIN $p p ON p.node = e.src
         |       JOIN $nodes ON $a.node = e.dst
         |       GROUP BY $ks)""".stripMargin
    }.mkString(",\n")
  }

  /** Out-degree (`weighted`: out-weight) `deg` over edge CTE `e`, and
    * the node count `n`. */
  def prDegSql(e: String = "e", deg: String = "deg", n: String = "n",
               weighted: Boolean = false): String =
    s"""$deg AS (SELECT src AS node, ${if (weighted) "sum(w)" else "count(*)"} AS deg FROM $e GROUP BY src),
       |$n AS (SELECT count(*) AS n FROM $deg)""".stripMargin

  /** The oracle of the four 3-round transaction-graph ranks: q44
    * (plain), q47 (`weighted`: out-mass split by line count), q46
    * (`personalized`: restart mass at the suppliers, top customers
    * out) and q63 (both). */
  def txPageRankSql(weighted: Boolean, personalized: Boolean): String = {
    val contrib = if (weighted) "p.pr * e.w / p.deg" else "p.pr / p.deg"
    val (nodes, rounds) =
      if (personalized)
        (s"""deg AS (SELECT src AS node, ${if (weighted) "sum(w)" else "count(*)"} AS deg FROM e GROUP BY src),
            |ns AS (SELECT count(*) AS ns FROM deg WHERE node % 2 = 0),
            |b AS (SELECT node, deg,
            |             CASE WHEN node % 2 = 0 THEN 1.0 / (SELECT ns FROM ns) ELSE 0.0 END AS pr0,
            |             CASE WHEN node % 2 = 0 THEN 0.15 / (SELECT ns FROM ns) ELSE 0.0 END AS bs
            |      FROM deg),
            |p0 AS (SELECT node, deg, bs, pr0 AS pr FROM b)""".stripMargin,
          prRounds(3, nodes = "b", keys = Seq("node", "deg", "bs"), restart = "b.bs",
            contrib = contrib))
      else
        (s"""${prDegSql(weighted = weighted)},
            |p0 AS (SELECT node, deg, 1.0 / (SELECT n FROM n) AS pr FROM deg)""".stripMargin,
          prRounds(3, contrib = contrib))
    s"""WITH ${txEdgeCte(weighted = weighted)},
       |${txBothWaysCte(weighted)},
       |$nodes,
       |$rounds,
       |${labelTopSql("p3", customersOnly = personalized)}""".stripMargin
  }

  /** `k` HITS pull pairs over the directed edge CTE `ed` and the node
    * CTE `nodes`, from hub scores `h0`: authority `a`r pulls the
    * hubs pointing at it, hub `h`r the authorities it points at. */
  def hitsRounds(k: Int): String =
    (1 to k).flatMap { r =>
      def pull(v: String, by: String, from: String, src: String, on: String) =
        s"""$v$r AS MATERIALIZED (SELECT n.node, coalesce(p.raw, 0.0) AS $v FROM nodes n LEFT JOIN
           |  (SELECT e.$by AS node, SUM($from.$from) AS raw FROM ed e JOIN $src $from ON e.$on = $from.node
           |   GROUP BY e.$by) p ON n.node = p.node)""".stripMargin
      Seq(pull("a", "dst", "h", s"h${r - 1}", "src"), pull("h", "src", "a", s"a$r", "dst"))
    }.mkString(",\n")

  /** `k` monotone min-merge rounds from distance CTE `d0` over edge
    * CTE `e`: `n`r is the best `step` into each node from `d`r-1,
    * `d`r the null-safe least of the two. `materialize` keeps every
    * `d`r but the last (each is read twice: relax and merge). */
  def minMergeRounds(k: Int, step: String, materialize: Boolean = false): String =
    (1 to k).map { r =>
      val p = r - 1
      val m = if (materialize && r < k) " MATERIALIZED" else ""
      s"""n$r AS (SELECT e.dst AS node, $step AS nd
         |       FROM e JOIN d$p d ON e.src = d.node GROUP BY e.dst),
         |d$r AS$m (SELECT coalesce(d.node, n.node) AS node,
         |              coalesce(least(d.dist, n.nd), d.dist, n.nd) AS dist
         |       FROM d$p d FULL JOIN n$r n ON d.node = n.node)""".stripMargin
    }.mkString(",\n")

  /** The forward BFS shared by betweenness and harmonic centrality:
    * seeds `sd` ([[smallestSeedsSql]]), then per hop the σ path
    * counts into nodes not yet reached, accumulated as
    * `st`h(seed, node, dist, sigma). */
  def bfsLevels(hops: Int): String = {
    val levels = (1 to hops).map { h =>
      val p = h - 1
      s"""c$h AS (SELECT f.seed, e.dst AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |       FROM e JOIN st$p f ON e.src = f.node${if (h == 1) "" else s" WHERE f.dist = $p"} GROUP BY 1, 2),
         |n$h AS (SELECT seed, node, $h AS dist, sigma FROM c$h
         |       WHERE NOT EXISTS (SELECT 1 FROM st$p x
         |                         WHERE x.seed = c$h.seed AND x.node = c$h.node)),
         |st$h AS MATERIALIZED (SELECT * FROM st$p UNION ALL SELECT * FROM n$h)""".stripMargin
    }
    (s"sd AS ($smallestSeedsSql)" +:
      "st0 AS (SELECT node AS seed, node, 0 AS dist, 1::BIGINT AS sigma FROM sd)" +:
      levels).mkString(",\n")
  }

  /** Brandes' backward dependency levels over [[bfsLevels]]' `st`hops,
    * deepest first, each δ aggregate rounded to 9, ending in
    * `al`(seed, node, delta). */
  def dependencyLevels(hops: Int): String = {
    val levels = (hops - 1 to 0 by -1).map { l =>
      s"""t$l AS (SELECT v.seed, v.node,
         |         round(sum(CAST(v.sigma AS DOUBLE) / CAST(p.sigma AS DOUBLE)
         |               * (1 + p.delta)), 9) AS delta
         |       FROM st$hops v JOIN e ON e.src = v.node
         |       JOIN d${l + 1} p ON p.seed = v.seed AND p.node = e.dst
         |       WHERE v.dist = $l GROUP BY 1, 2),
         |d$l AS${if (l > 0) " MATERIALIZED" else ""} (SELECT v.seed, v.node, v.sigma, coalesce(t.delta, 0.0) AS delta
         |       FROM st$hops v LEFT JOIN t$l t ON t.seed = v.seed AND t.node = v.node
         |       WHERE v.dist = $l)""".stripMargin
    }
    val al = (0 to hops).map(l => s"SELECT seed, node, delta FROM d$l").mkString("\nUNION ALL ")
    (s"d$hops AS (SELECT seed, node, sigma, 0.0 AS delta FROM st$hops WHERE dist = $hops)" +:
      levels :+ s"al AS ($al)").mkString(",\n")
  }

  /** `rounds` k-core peels from `e0`: degrees `d`r over `e`r-1, then
    * `e`r keeps the edges whose ends both have degree >= k; `fd` is
    * the degree table of the last survivors. */
  def kCorePeels(k: Int, rounds: Int): String = {
    def deg(name: String, e: String, m: String) =
      s"""$name AS$m (SELECT node, count(*) AS deg FROM
         |  (SELECT src AS node FROM $e UNION ALL SELECT dst FROM $e) GROUP BY node)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""${deg(s"d$r", s"e${r - 1}", " MATERIALIZED")},
         |e$r AS MATERIALIZED (SELECT src, dst FROM e${r - 1}
         |  WHERE src IN (SELECT node FROM d$r WHERE deg >= $k)
         |    AND dst IN (SELECT node FROM d$r WHERE deg >= $k))""".stripMargin
    }
    (peels :+ deg("fd", s"e$rounds", "")).mkString(",\n")
  }

  /** `k` synchronous label-propagation rounds over edge CTE `e` from
    * `l0`: each node takes its neighbours' most frequent label, ties to
    * the smaller. Every `l`r is MATERIALIZED, the last only if
    * `materializeLast`. */
  def lpaRounds(k: Int, materializeLast: Boolean): String =
    (1 to k).map { r =>
      val m = if (r < k || materializeLast) " MATERIALIZED" else ""
      s"""c$r AS (SELECT e.dst AS node, l.lbl, count(*) AS c
         |       FROM e JOIN l${r - 1} l ON e.src = l.node GROUP BY 1, 2),
         |l$r AS$m (SELECT node, lbl FROM (
         |  SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |  FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** `k` connected-components rounds over edge CTE `e`(a, b) from
    * `l0`: a min-label relax over the edge ∪ pointer union, then a
    * pointer jump (`r`r). */
  def componentRounds(k: Int): String =
    (1 to k).map { r =>
      val p = if (r == 1) "l0" else s"r${r - 1}"
      s"""r${r}a AS (SELECT t.a AS node, min(lt.lbl) AS lbl
         |        FROM (SELECT a, b FROM e
         |              UNION ALL SELECT node, lbl FROM $p) t
         |        JOIN $p lt ON t.b = lt.node GROUP BY t.a),
         |r$r AS (SELECT x.node, y.lbl FROM r${r}a x JOIN r${r}a y ON x.lbl = y.node)""".stripMargin
    }.mkString(",\n")

  /** One Louvain level: `lp`0 puts every node of `deg` in its own
    * community, then 4 semi-synchronous local-move rounds (odd ids on
    * odd rounds) over the both-ways edges `e2`, each node taking the
    * candidate community of highest integer gain
    * m2·k − deg·Σtot(c∖{i}), ties to the smaller id. `kExpr` is the
    * node's edge mass into a community, `selfFilter` drops self-loop
    * mass on a contracted level. Ends in `lp`4(node, deg, c). */
  def louvainLevel(lp: String, e2: String = "e2", deg: String = "deg", m2t: String = "m2t",
                   kExpr: String = "count(*)", selfFilter: String = ""): String = {
    val rounds = (1 to 4).map { r =>
      val p = s"$lp${r - 1}"
      s"""tot$lp$r AS (SELECT c, CAST(sum(deg) AS BIGINT) AS tot FROM $p GROUP BY c),
         |kic$lp$r AS (SELECT e.src AS node, l.c, $kExpr AS k
         |        FROM $e2 e JOIN $p l ON e.dst = l.node
         |        WHERE e.src % 2 = ${r % 2}$selfFilter GROUP BY 1, 2),
         |cand$lp$r AS (SELECT node, c, k FROM kic$lp$r
         |        UNION ALL SELECT node, c, 0 FROM $p WHERE node % 2 = ${r % 2}),
         |sc$lp$r AS (SELECT cd.node, cd.c,
         |        (SELECT m2 FROM $m2t) * cd.k - d.deg *
         |        (t.tot - CASE WHEN cd.c = l.c THEN d.deg ELSE 0 END) AS score
         |        FROM cand$lp$r cd JOIN $p l ON l.node = cd.node
         |        JOIN $deg d ON d.node = cd.node JOIN tot$lp$r t ON t.c = cd.c),
         |b$lp$r AS (SELECT node, c FROM (SELECT node, c,
         |        row_number() OVER (PARTITION BY node ORDER BY score DESC, c) AS rn
         |        FROM sc$lp$r) WHERE rn = 1),
         |$lp$r AS MATERIALIZED (SELECT l.node, l.deg, coalesce(b.c, l.c) AS c
         |        FROM $p l LEFT JOIN b$lp$r b ON b.node = l.node)""".stripMargin
    }
    (s"${lp}0 AS (SELECT node, deg, node AS c FROM $deg)" +: rounds).mkString(",\n")
  }

  /** The min-label SCC coloring peel at a fixed `schedule` over the
    * trade graph `de`: per outer round the live-restricted edge table,
    * then per inner round ONE CTE holding the forward and backward
    * min-label pull-merge and the stale pointer jump, then the
    * fmin = bmin assignment `found`o and the live anti join. Ends in
    * `allf`(node, component) over the two outer rounds. */
  def sccCtes(schedule: Seq[Int]): String = {
    val outer = schedule.zipWithIndex.map { case (inner, idx) =>
      val o = idx + 1
      val p = o - 1
      val pulls = (1 to inner).map { i =>
        s"""l${o}_$i AS MATERIALIZED (
           |  SELECT m.node, m.dir, coalesce(least(m.lab1, j.lab), m.lab1) AS lab
           |  FROM (SELECT l.node, l.dir,
           |               coalesce(least(l.lab, p.nl), l.lab) AS lab1
           |        FROM l${o}_${i - 1} l LEFT JOIN (
           |          SELECT el.src AS node, el.dir, min(l2.lab) AS nl
           |          FROM el$o el JOIN l${o}_${i - 1} l2
           |            ON el.dst = l2.node AND el.dir = l2.dir
           |          GROUP BY 1, 2) p
           |          ON l.node = p.node AND l.dir = p.dir) m
           |  LEFT JOIN l${o}_${i - 1} j
           |    ON m.lab1 = j.node AND m.dir = j.dir)""".stripMargin
      }.mkString(",\n")
      val elCte =
        if (o == 1) s"el$o AS (SELECT src, dst, dir FROM e2)"
        else
          s"""el$o AS MATERIALIZED (
             |  SELECT e2.src, e2.dst, e2.dir FROM e2
             |  JOIN live$p ls ON e2.src = ls.node
             |  JOIN live$p ld ON e2.dst = ld.node)""".stripMargin
      s"""$elCte,
         |l${o}_0 AS (SELECT node, dir, node AS lab FROM live$p
         |            CROSS JOIN (SELECT 'f' AS dir UNION ALL SELECT 'b')),
         |$pulls,
         |found$o AS MATERIALIZED (
         |  SELECT node, fmin AS component FROM (
         |    SELECT node, min(CASE WHEN dir = 'f' THEN lab END) AS fmin,
         |                 min(CASE WHEN dir = 'b' THEN lab END) AS bmin
         |    FROM l${o}_$inner GROUP BY node) WHERE fmin = bmin),
         |live$o AS MATERIALIZED (
         |  SELECT l.node FROM live$p l LEFT JOIN found$o f ON l.node = f.node
         |  WHERE f.node IS NULL)""".stripMargin
    }.mkString(",\n")
    s"""de AS (
       |  SELECT DISTINCT
       |    CASE WHEN l_returnflag <> 'R' THEN l_suppkey * 2
       |         ELSE o_custkey * 2 + 1 END AS src,
       |    CASE WHEN l_returnflag <> 'R' THEN o_custkey * 2 + 1
       |         ELSE l_suppkey * 2 END AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e2 AS (SELECT src, dst, 'f' AS dir FROM de
       |       UNION ALL SELECT dst, src, 'b' FROM de),
       |live0 AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM de UNION ALL SELECT dst FROM de)),
       |$outer,
       |allf AS (SELECT * FROM found1 UNION ALL SELECT * FROM found2)""".stripMargin
  }

  /** `rounds` k-truss support peels from `e0`(src, dst): per round the
    * id-ordered triangles `t`r, each edge's support `s`r, and the
    * edges `e`r in >= k−2 of them. */
  def kTrussRounds(k: Int, rounds: Int): String =
    (1 to rounds).map { r =>
      s"""t$r AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e1.dst = e2.src
         |  JOIN e${r - 1} e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |s$r AS MATERIALIZED (SELECT src, dst, count(*) AS support FROM (
         |            SELECT a AS src, b AS dst FROM t$r
         |  UNION ALL SELECT b AS src, c AS dst FROM t$r
         |  UNION ALL SELECT a AS src, c AS dst FROM t$r) GROUP BY src, dst),
         |e$r AS MATERIALIZED (SELECT src, dst FROM s$r WHERE support >= ${k - 2})""".stripMargin
    }.mkString(",\n")

  /** `h` exact ball-growth hops over the both-ways edges `e2`: `b`i
    * holds every (a, b) within i hops, and `ns` their counts per hop. */
  def ballRounds(h: Int): String = {
    val balls = (1 to h).map { i =>
      s"""b$i AS MATERIALIZED (SELECT DISTINCT a, b FROM (
         |  SELECT a, b FROM b${i - 1} UNION ALL
         |  SELECT b${i - 1}.a, e2.dst AS b FROM b${i - 1} JOIN e2 ON b${i - 1}.b = e2.src))""".stripMargin
    }
    val counts = (0 to h).map(i => s"SELECT $i AS h, count(*) AS n_exact FROM b$i")
    ("b0 AS MATERIALIZED (SELECT DISTINCT src AS a, src AS b FROM e2)" +: balls :+
      s"ns AS (          ${counts.mkString("\nUNION ALL ")})").mkString(",\n")
  }

  /** The portable 60-bit walk hash of `walk` at step `st` (the SQL side
    * of `QueryDef.sha60(concat(walk, ':st'))`). */
  private def walkHashSql(walk: String, st: Int): String =
    s"CAST(concat('0x', substr(sha256(CAST($walk AS VARCHAR) || ':$st'), 1, 15)) AS BIGINT)"

  /** `k` uniform walk steps from `w0`(walk, cur): the step-st neighbour
    * is the one ranked hash mod degree in `adj`(src, dst, rnk). */
  def uniformWalkSteps(k: Int): String =
    (1 to k).map { st =>
      s"""s$st AS (SELECT w.walk, a.dst AS cur
         |  FROM ${if (st == 1) "w0" else s"s${st - 1}"} w
         |  JOIN deg d ON d.node = w.cur
         |  JOIN adj a ON a.src = w.cur AND a.rnk =
         |    ${walkHashSql("w.walk", st)} % d.deg)""".stripMargin
    }.mkString(",\n")

  /** `k` node2vec steps from `s0`(walk, prev, cur) over `adj`(src, dst):
    * candidate weights 1 (return), 2 (triadic) or 4 (outward), and the
    * candidate whose cumulative weight range covers hash mod Σw. */
  def node2vecSteps(k: Int): String =
    (1 to k).map { st =>
      val r = s"${walkHashSql("walk", st)} % tot"
      s"""c$st AS (SELECT w.walk, w.cur, a.dst,
         |    CASE WHEN a.dst = w.prev THEN 1
         |         WHEN ex.src IS NOT NULL THEN 2 ELSE 4 END AS wt
         |  FROM s${st - 1} w JOIN adj a ON a.src = w.cur
         |  LEFT JOIN adj ex ON ex.src = w.prev AND ex.dst = a.dst),
         |k$st AS (SELECT walk, cur, dst, wt,
         |    sum(wt) OVER (PARTITION BY walk ORDER BY dst
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(wt) OVER (PARTITION BY walk) AS tot
         |  FROM c$st),
         |s$st AS (SELECT walk, cur AS prev, dst AS cur FROM k$st
         |  WHERE cum - wt <=
         |    $r
         |   AND $r < cum)""".stripMargin
    }.mkString(",\n")

  /** The walk corpus: step 0 from `base`, step st from `s`st, as
    * (walk, step, node) ordered by walk and step. */
  def walkTailSql(base: String, k: Int): String =
    (s"SELECT walk, 0 AS step, cur AS node FROM $base" +:
      (1 to k).map(st => s"UNION ALL SELECT walk, $st AS step, cur AS node FROM s$st") :+
      "ORDER BY walk, step").mkString("\n")

  /** The wedge-centre cap of the link-prediction cells as CTE `prm`:
    * max(64, the smallest power of two whose square is >= 2E). */
  val hubCapCte: String =
    """prm AS (SELECT GREATEST(64, (SELECT MIN(1::BIGINT << b)
      |        FROM (SELECT unnest(range(0, 32)) AS b)
      |        WHERE (1::BIGINT << b) * (1::BIGINT << b) >=
      |              2 * (SELECT count(*) FROM pe))) AS cap)""".stripMargin
}
