package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs.vec_cos
import graft.ops.CacheScope
import graft.ops.CorpusOps.{cellScores, cosineCells, sqrtSeedCents, topPerQuery}
import QueryDef.sha60

/** The embedding/ANN family's shared kit: the query set, the kNN-graph
  * candidate scoring, the HNSW and flat beam searches and the recall
  * count on the Spark side, each beside its DuckDB twin, and one SQL
  * generator per oracle shape — the long format, the cell table, the
  * exact cosine score, the PQ chain, the ranked tail, the recall count
  * and the graph searches. `SparkEntry.oracleSql` trims every line and
  * joins the lines with single spaces, so only the tokens and the
  * spaces inside a line reach the oracle.
  *
  * Naming in the SQL: `x`(vec_id, d, v) is every vector in long format
  * (d 0-based, v the component as DOUBLE) and `n`(vec_id, nrm) its
  * norms; every other CTE a generator writes carries the caller's tag
  * `t` as a suffix (`cd$t`, `assign$t`, …), so two chains can share
  * one query. Every rank is on a 6dp-rounded score with an id
  * tie-break, as in the engine. */
private[queries] object VecKit {

  // -------------------------------------------------------- query set

  /** The query vectors every search cell serves: vec_id 0, 1 and 2. */
  def isQuery(id: Column): Column = id.isin(0, 1, 2)

  /** [[isQuery]]'s twin on SQL column `id`. */
  def isQuerySql(id: String): String = s"$id IN (0, 1, 2)"

  /** The query rows of `e`: (qid, `as`), `as` the embedding. */
  def queries(e: DataFrame, as: String = "embedding"): DataFrame =
    e.filter(isQuery(col("vec_id"))).select(col("vec_id").as("qid"), col("embedding").as(as))

  /** [[queries]]' ids as CTE `qs`(qid). */
  val queryIdsCte = "qs AS (SELECT 0 AS qid UNION ALL SELECT 1 UNION ALL SELECT 2)"

  // ----------------------------------------------------------- recall

  /** Recall@10 of `got` against the exact top-10 `ref`, both (qid,
    * vid): one row (label, qid, [n_cand,] n_hit, recall) per reference
    * qid; `cands`(qid, n_cand) adds the candidate count. */
  def recallRows(label: Column, ref: DataFrame, got: DataFrame,
                 cands: Option[DataFrame] = None): DataFrame = {
    val hits = ref.join(got.select("qid", "vid"), Seq("qid", "vid"), "semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    val qids = ref.select("qid").distinct()
    val nHit = coalesce(col("n_hit"), lit(0L))
    cands.fold(qids)(qids.join(_, Seq("qid"), "left"))
      .join(hits, Seq("qid"), "left")
      .select(Seq(label, col("qid")) ++
        cands.map(_ => coalesce(col("n_cand"), lit(0L)).as("n_cand")) ++
        Seq(nHit.as("n_hit"), round(nHit / 10.0, 6).as("recall")): _*)
  }

  /** [[recallRows]]' count as CTE `name`(label, qid, n_hit) over the
    * reference CTE `ref` and the result CTE `got`. */
  def hitsCte(name: String, label: String, ref: String, got: String): String =
    s"""$name AS (SELECT $label, q0.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit
       |  FROM (SELECT DISTINCT qid FROM $ref) q0
       |  LEFT JOIN (SELECT r0.qid, count(*) AS n FROM $ref r0
       |             JOIN $got s0 ON s0.qid = r0.qid AND s0.vid = r0.vid
       |             GROUP BY r0.qid) h ON h.qid = q0.qid)""".stripMargin

  /** [[recallRows]]' report over the [[hitsCte]]s `parts`, ordered by
    * `label` and qid; `extra` names further columns of the parts. */
  def recallSql(label: String, parts: Seq[String], extra: String = ""): String =
    s"""SELECT $label, qid, n_hit, round(n_hit / 10.0, 6) AS recall$extra
       |FROM (${parts.map(p => s"SELECT * FROM $p").mkString("\n  UNION ALL ")})
       |ORDER BY $label, qid""".stripMargin

  // ------------------------------------------------ kNN graph (Spark)

  /** The IVF-bounded scored candidates of the kNN graph over `e`
    * (vec_id, embedding): (qid, vid, simr) for every probe-cell pair,
    * no rank cut. One centroid pass serves the assignment (rn = 1) and
    * the probe lists (rn <= 4); only that 4n-row slice is cached. SQL
    * twin: [[knnCtes]]. */
  def knnCandScored(e: DataFrame)(implicit scope: CacheScope): DataFrame = {
    // assign (rn = 1) is a subset of the probe lists, so caching the
    // full n x nlist table would store n^1.5 rows for nothing
    val cdTop = scope.cached(cosineCells(e, sqrtSeedCents(e), 4))
    cellScores(cdTop.select(col("vid").as("qid"), col("cid")),
      cdTop.filter(col("rn") === 1).select("vid", "cid"), e)
  }

  /** The top-5 kNN graph over `e`: (qid, rn, vid, simr), unordered. */
  def knnGraphTop5(e: DataFrame)(implicit scope: CacheScope): DataFrame =
    topPerQuery(knnCandScored(e), 5)

  /** Every vector's nearest max(32, ⌈√n⌉) seed cell (vid, cid) and its
    * sha60 hash order `hk` (the cluster-sample cells). */
  def clusterAssign(e: DataFrame): DataFrame =
    cosineCells(e, sqrtSeedCents(e), 1).select(col("vid"), col("cid"))
      .withColumn("hk", pmod(sha60(col("vid").cast("string")), lit(1000000007L)))

  // ---------------------------------------------- graph search (Spark)

  /** The graph searches over the corpus `e`, written once for
    * l3_ann_graph_search, l3_ann_hnsw, l3_ann_hnsw_incremental and
    * l3_ann_compact: the sha60 level table, top-k link ranking
    * ([[top]], [[layerTop3]], [[sym]]), the scorer for the three query
    * nodes, the flat beam ([[flatBeam]]) and the layered search —
    * {top-level entry, the query itself}, a beam-1 descent per layer
    * 3→1, then a width-10 base-layer beam for two rounds. [[seen]]
    * returns every (qid, vid, simr) the layered search scored;
    * [[search]] its result-heap top-10. */
  final class HnswSearch(val e: DataFrame)(implicit scope: CacheScope) {
    private lazy val lvl: DataFrame = scope.cached(e.select(col("vec_id").as("vid"))
      .withColumn("h", sha60(col("vid").cast("string")))
      .withColumn("lvl",
        when(pmod(col("h"), lit(64L)) === 0, 3)
          .when(pmod(col("h"), lit(16L)) === 0, 2)
          .when(pmod(col("h"), lit(4L)) === 0, 1)
          .otherwise(0))
      .select("vid", "lvl"))
    val q: DataFrame = broadcast(queries(e, "qe"))
    def scored(cands: DataFrame): DataFrame =
      cands.join(e.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid")
        .join(q, "qid")
        .select(col("qid"), col("vid"),
          round(vec_cos(col("qe"), col("ve")), 6).as("simr"))
    // per-round LINEAGE CUTS, not caches: each round references the
    // previous scored set TWICE (anti-join + union), so cached
    // lineage doubles the logical plan every round — 10 rounds
    // would hand Catalyst a 2^10-node tree (measured: minutes of
    // pure planning). The GraphOps round discipline applies.
    def cut(df: DataFrame): DataFrame = scope.checkpointed(df, reliable = false)
    def beam10(df: DataFrame): DataFrame =
      topPerQuery(df, 10).select("qid", "vid", "simr")
    /** Each node's top-`k` scored links as directed (a, b) edges. */
    def top(cs: DataFrame, k: Int): DataFrame =
      topPerQuery(cs, k).select(col("qid").as("a"), col("vid").as("b"))
    def sym(g: DataFrame): DataFrame =
      g.union(g.select(col("b").as("a"), col("a").as("b"))).distinct()
    /** Top-3 links among layer-`l` members — a kNN graph WITHIN the
      * layer, so upper layers are not left edgeless. */
    def layerTop3(cs: DataFrame, l: Int): DataFrame =
      top(cs.join(lvl.select(col("vid").as("qid"), col("lvl").as("lq"))
          .filter(col("lq") >= l), "qid")
        .join(lvl.select(col("vid"), col("lvl").as("lv"))
          .filter(col("lv") >= l), "vid"), 3)
    private lazy val entry = broadcast(lvl.orderBy(col("lvl").desc, col("vid").asc)
      .limit(1).select(col("vid")))

    /** The flat beam over `adj`: entries 0..3, then 3 rounds that
      * expand the beam's neighbours, score those not in the beam and
      * keep the top 10. Every beam goes through `mat`; with `keepSeen`
      * each round's scored rows too, and the union of everything
      * scored comes back beside the last beam. SQL twin:
      * [[flatBeamCtes]]. */
    def flatBeam(adj: DataFrame, mat: DataFrame => DataFrame,
                 keepSeen: Boolean): (DataFrame, Option[DataFrame]) = {
      var beam = mat(scored(q.select(col("qid"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 4).select(col("vec_id").as("vid"))))))
      var seen = beam
      for (_ <- 1 to 3) {
        val expand = beam.select(col("qid"), col("vid").as("a"))
          .join(adj, "a").select(col("qid"), col("b").as("vid")).distinct()
          .join(beam.select("qid", "vid"), Seq("qid", "vid"), "left_anti")
        val ns = if (keepSeen) mat(scored(expand)) else scored(expand)
        if (keepSeen) seen = mat(seen.union(ns))
        beam = mat(beam10(beam.union(ns)))
      }
      (beam, if (keepSeen) Some(seen) else None)
    }

    def seen(adjBase: DataFrame, layerAdj: Int => DataFrame): DataFrame = {
      var all = cut(scored(q.select(col("qid")).crossJoin(entry)
        .union(q.select(col("qid"), col("qid").as("vid")))))
      for (l <- 3 to 1 by -1) {
        val top1 = topPerQuery(all, 1).select(col("qid"), col("vid").as("a"))
        val neigh = top1.join(layerAdj(l), "a")
          .select(col("qid"), col("b").as("vid")).distinct()
          .join(all.select("qid", "vid"), Seq("qid", "vid"), "left_anti")
        all = cut(all.union(scored(neigh)))
      }
      var beam = cut(beam10(all))
      for (_ <- 1 to 2) {
        val expand = beam.select(col("qid"), col("vid").as("a"))
          .join(adjBase, "a").select(col("qid"), col("b").as("vid")).distinct()
          .join(all.select("qid", "vid"), Seq("qid", "vid"), "left_anti")
        val ns = cut(scored(expand))
        all = cut(all.union(ns))
        beam = cut(beam10(beam.union(ns)))
      }
      all
    }

    def search(adjBase: DataFrame, layerAdj: Int => DataFrame,
               method: String): DataFrame =
      topPerQuery(seen(adjBase, layerAdj).select("qid", "vid", "simr").distinct()
          .filter(col("vid") =!= col("qid")), 10)
        .select(lit(method).as("method"), col("qid"), col("rn"),
          col("vid"), col("simr"))
  }

  /** The incremental-HNSW scaffolding (l3_ann_hnsw_incremental and
    * l3_ann_compact): the search over the corpus, and the
    * insertion-maintained adjacency — base and per layer. */
  final case class HnswIncrKit(hs: HnswSearch, adjM: DataFrame,
                               layerAdjM: Int => DataFrame)

  /** The stored corpus (vec_id % 8 != 5) indexed frozen, and the batch
    * linked in from ONE batch-vs-stored scoring pass (batch side
    * BROADCAST so the corpus side streams — the l3_knn_bruteforce
    * idiom; at real scale swap the brute pass for IVF probe lists,
    * docs/SCALING.md). SQL twin: [[storedKnnCtes]], [[batchScoreCtes]]
    * and [[adjacencyCtes]]. */
  def hnswIncrKit(e: DataFrame)(implicit scope: CacheScope): HnswIncrKit = {
    val hs = new HnswSearch(e)
    val stored = e.filter(col("vec_id") % 8 =!= 5)
    val batch = e.filter(col("vec_id") % 8 === 5)
    val csStored = scope.cached(knnCandScored(stored))
    val bs = scope.cached(stored
      .select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .crossJoin(broadcast(batch
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))))
      .select(col("qid"), col("vid"),
        round(vec_cos(col("qe"), col("ve")), 6).as("simr")))
    val adjM = scope.cached(hs.sym(hs.top(csStored, 5).unionByName(hs.top(bs, 5))))
    HnswIncrKit(hs, adjM,
      l => hs.sym(hs.layerTop3(csStored, l).unionByName(hs.layerTop3(bs, l))))
  }

  // ------------------------------------------------ SQL: long format

  /** The long format `name`(vec_id, d, v) of every embedding. */
  def longCte(name: String = "x"): String =
    s"""$name AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
       |         CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)""".stripMargin

  /** The norms `name`(vec_id, nrm) of long CTE `x`. */
  def normCte(name: String = "n", x: String = "x"): String =
    s"$name AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM $x GROUP BY vec_id)"

  /** `x` and its norms `n`. */
  val longCtes: String = s"${longCte()},\n${normCte()}"

  // ------------------------------------------------- SQL: cell table

  /** `nl$t`(nlist): max(32, ⌈√n⌉), n counting the vectors `stored`
    * keeps (all when empty) — [[sqrtSeedCents]]' count. */
  def sqrtListsCte(t: String = "", stored: String = ""): String =
    s"""nl$t AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
       |  FROM embeddings${if (stored.isEmpty) "" else s" WHERE $stored"})""".stripMargin

  /** [[sqrtListsCte]]'s list count as a scalar. */
  def sqrtLists(t: String = ""): String = s"(SELECT nlist FROM nl$t)"

  /** The seed centroids `cent${t}0`(cid, d, v): the vectors below
    * `lists` (a literal or a scalar subquery) that `stored` keeps. */
  def seedCents(t: String = "", lists: String = "32", stored: String = ""): String =
    s"""cent${t}0 AS (SELECT vec_id AS cid, d, v FROM x
       |  WHERE vec_id < $lists${if (stored.isEmpty) "" else s" AND $stored"})""".stripMargin

  /** `cd$t`(vid, cid, simr | d2c): every vector (only those `where`
    * keeps, when given) against each centroid of `cents`(cid, d, v) —
    * round(cos, 6), or with `l2` round(L2², 6). */
  private def cellCte(t: String, cents: String, l2: Boolean = false, where: String = ""): String = {
    val w = if (where.isEmpty) "" else s"\n  WHERE x.$where"
    if (l2)
      s"""cd$t AS (SELECT x.vec_id AS vid, c.cid,
         |  round(SUM((x.v - c.v) * (x.v - c.v)), 6) AS d2c
         |  FROM x JOIN $cents c ON c.d = x.d$w
         |  GROUP BY x.vec_id, c.cid)""".stripMargin
    else
      s"""cd$t AS (SELECT x.vec_id AS vid, c.cid,
         |  round(SUM(x.v * c.v) / (n.nrm * cn.cnrm), 6) AS simr
         |  FROM x JOIN $cents c ON c.d = x.d
         |  JOIN n ON n.vec_id = x.vec_id
         |  JOIN (SELECT cid, sqrt(SUM(v * v)) AS cnrm FROM $cents GROUP BY cid) cn
         |    ON cn.cid = c.cid$w
         |  GROUP BY x.vec_id, c.cid, n.nrm, cn.cnrm)""".stripMargin
  }

  /** `cr$t` ranks each vector's cells of `cd$t`, best first (`rn`);
    * `assign$t`(vid, cid) is rn = 1 (the L2 twin keeps d2c, the drift
    * ratio's input); with `probeK` > 0, `probes$t`(qid, cid, rn) is
    * rn <= probeK, only the query vectors' with `queriesOnly`. */
  private def cellRankCtes(t: String, l2: Boolean = false, probeK: Int = 4,
                           queriesOnly: Boolean = false): String = {
    val keep = if (l2) ", d2c" else ""
    val order = if (l2) "d2c, cid" else "simr DESC, cid"
    val probes =
      if (probeK == 0) ""
      else s""",
              |probes$t AS (SELECT vid AS qid, cid, rn FROM cr$t
              |  WHERE rn <= $probeK${if (queriesOnly) " AND " + isQuerySql("vid") else ""})""".stripMargin
    s"""cr$t AS (SELECT vid, cid$keep,
       |  row_number() OVER (PARTITION BY vid ORDER BY $order) AS rn FROM cd$t),
       |assign$t AS (SELECT vid, cid$keep FROM cr$t WHERE rn = 1)$probes""".stripMargin
  }

  /** [[cellCte]] and [[cellRankCtes]] in one. */
  def cellCtes(t: String, cents: String, l2: Boolean = false, where: String = "",
               probeK: Int = 4, queriesOnly: Boolean = false): String =
    s"""${cellCte(t, cents, l2, where)},
       |${cellRankCtes(t, l2, probeK, queriesOnly)}""".stripMargin

  /** Two Lloyd rounds from `cent0`: round i assigns every vector to
    * its best centroid of the previous round and moves each centroid
    * to its members' per-dim mean, rounded 6 — `cent$i`. */
  def lloydCtes(l2: Boolean = false): String =
    (1 to 2).map { i =>
      s"""${cellCtes(s"$i", s"cent${i - 1}", l2, probeK = 0)},
         |cent$i AS (SELECT a.cid, x.d, round(AVG(x.v), 6) AS v
         |  FROM assign$i a JOIN x ON x.vec_id = a.vid GROUP BY a.cid, x.d)""".stripMargin
    }.mkString(",\n")

  /** `cand$t`(qid, cid, vid): the members of each probed cell, the
    * query itself excluded — only probe ranks <= `maxRank` when given,
    * only vectors listed in CTE `allowed`(vec_id) when given. */
  def candCte(t: String = "", maxRank: Int = 0, allowed: String = "",
              name: String = ""): String =
    s"""${if (name.isEmpty) s"cand$t" else name} AS (SELECT p.qid, p.cid, a.vid
       |  FROM probes$t p JOIN assign$t a ON a.cid = p.cid${
         if (allowed.isEmpty) "" else s"\n  JOIN $allowed al ON al.vec_id = a.vid"}
       |  WHERE a.vid != p.qid${if (maxRank > 0) s" AND p.rn <= $maxRank" else ""})""".stripMargin

  /** The residual `name`(vec_id, d, v) of each vector of `assign`
    * against its centroid in `cents`. */
  def residualCte(name: String, assign: String, cents: String): String =
    s"""$name AS (SELECT a.vid AS vec_id, x.d, x.v - c.v AS v
       |  FROM $assign a JOIN x ON x.vec_id = a.vid
       |  JOIN $cents c ON c.cid = a.cid AND c.d = x.d)""".stripMargin

  // ------------------------------------------------------- SQL: score

  /** `dp$t` and `sc$t`(qid, vid, simr): the exact round(cos, 6) of
    * every (qid, vid) row of the candidate CTE `cand`, over long CTE
    * `x` and its norms `n`. */
  def scoreCtes(t: String, cand: String, materialized: Boolean = false,
                x: String = "x", n: String = "n"): String =
    s"""dp$t AS (SELECT c.qid, c.vid, SUM(xa.v * xb.v) AS dot
       |  FROM $cand c JOIN $x xa ON xa.vec_id = c.qid
       |  JOIN $x xb ON xb.vec_id = c.vid AND xb.d = xa.d GROUP BY c.qid, c.vid),
       |sc$t AS${if (materialized) " MATERIALIZED" else ""} (SELECT qid, vid,
       |  round(dot / (na.nrm * nb.nrm), 6) AS simr
       |  FROM dp$t JOIN $n na ON na.vec_id = qid JOIN $n nb ON nb.vec_id = vid)""".stripMargin

  /** The (qid, vid) pairs of every query vector with every other
    * vector: brute force's candidates. */
  def allPairsCte(name: String): String =
    s"""$name AS (SELECT q.vec_id AS qid, v.vec_id AS vid FROM embeddings q
       |  JOIN embeddings v ON v.vec_id != q.vec_id
       |  WHERE ${isQuerySql("q.vec_id")})""".stripMargin

  /** The ranking of one qid's rows: (simr DESC, vid), or with `l2`
    * (adr, vid); columns qualified by `alias` when given. */
  private def rankOver(l2: Boolean = false, alias: String = ""): String = {
    val a = if (alias.isEmpty) "" else s"$alias."
    s"row_number() OVER (PARTITION BY ${a}qid ORDER BY ${
      if (l2) s"${a}adr, ${a}vid" else s"${a}simr DESC, ${a}vid"}) AS rn"
  }

  /** CTE `name`(`cols`) over each qid's best `k` rows of `src`(qid,
    * vid, simr | adr) — `src` a CTE or a parenthesized query, filtered
    * by `where` first. */
  def topKCte(name: String, src: String, k: Int, cols: String = "qid, vid, simr",
              l2: Boolean = false, where: String = "", materialized: Boolean = false): String =
    s"""$name AS${if (materialized) " MATERIALIZED" else ""} (SELECT $cols FROM (
       |  SELECT qid, vid, ${if (l2) "adr" else "simr"}, ${rankOver(l2)}
       |  FROM $src${if (where.isEmpty) "" else s" WHERE $where"}) WHERE rn <= $k)""".stripMargin

  /** The query tail: each qid's best `k` rows of `src`, as (qid, rn,
    * vid, simr | adr) ordered by qid, rn. */
  def topKSql(src: String, k: Int = 10, l2: Boolean = false): String = {
    val m = if (l2) "adr" else "simr"
    s"""SELECT qid, rn, vid, $m FROM (
       |  SELECT qid, vid, $m, ${rankOver(l2)} FROM $src)
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  // ------------------------------------------------ SQL: hyperplanes

  /** `name`(p, d, v): `count` hyperplanes of 64 dims —
    * [[graft.ops.CorpusOps.subPlaneVal]]'s twin. */
  def planesCte(name: String, count: String): String =
    s"""$name AS (SELECT p, d,
       |    CAST(((p*64 + d) * 2654435761 + 1013904223) % 2147483647 AS DOUBLE)
       |      / 2147483647.0 * 2 - 1 AS v
       |  FROM (SELECT unnest(range(0, $count)) AS p) tp,
       |       (SELECT unnest(range(0, 64)) AS d) td)""".stripMargin

  /** `name`(vec_id, p, dot): every vector's dot with each plane of
    * `planes`. */
  def planeDotsCte(name: String, planes: String): String =
    s"""$name AS (SELECT x.vec_id, pl.p, SUM(x.v * pl.v) AS dot
       |  FROM x JOIN $planes pl ON pl.d = x.d GROUP BY x.vec_id, pl.p)""".stripMargin

  // --------------------------------------------------------- SQL: PQ

  /** `name`(keys, sub, sd, v): the 8-dim subvectors of long CTE `src`. */
  def subvectorsCte(name: String, src: String, keys: String = "vec_id"): String =
    s"$name AS (SELECT $keys, d // 8 AS sub, d % 8 AS sd, v FROM $src)"

  /** `pd$t`(vec_id, sub, cid, qd2, d2r): each subvector of `sv`
    * against every codeword of `cb`(sub, cid, sd, cv) — qd2 the L2²,
    * d2r it rounded 6 — and `codes$t`(vec_id, sub, code): the nearest
    * codeword by (d2r, cid). */
  def pqEncodeCtes(t: String, sv: String, cb: String): String =
    s"""pd$t AS (SELECT s.vec_id, s.sub, c.cid,
       |  SUM((s.v - c.cv) * (s.v - c.cv)) AS qd2,
       |  round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
       |  FROM $sv s JOIN $cb c ON c.sub = s.sub AND c.sd = s.sd
       |  GROUP BY s.vec_id, s.sub, c.cid),
       |codes$t AS (SELECT vec_id, sub, cid AS code FROM (
       |  SELECT vec_id, sub, cid,
       |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
       |  FROM pd$t) WHERE rn = 1)""".stripMargin

  /** The PQ codebook over long CTE `src`: `sv` ([[subvectorsCte]]),
    * the seed codebook `cb0` (the subvectors of vectors 0..15) and
    * `iters` Lloyd rounds — encode, then each codeword the per-dim
    * mean of its members rounded 6 — ending at `cb$iters`. */
  def pqCodebookCtes(src: String = "x", iters: Int = 0): String =
    (Seq(subvectorsCte("sv", src),
      "cb0 AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16)") ++
      (1 to iters).map { i =>
        s"""${pqEncodeCtes(s"$i", "sv", s"cb${i - 1}")},
           |cb$i AS (SELECT s.sub, k.code AS cid, s.sd, round(AVG(s.v), 6) AS cv
           |  FROM codes$i k JOIN sv s ON s.vec_id = k.vec_id AND s.sub = k.sub
           |  GROUP BY s.sub, k.code, s.sd)""".stripMargin
      }).mkString(",\n")

  /** `adc`(qid, vid, adr): each query's asymmetric distance round(Σ
    * qd2, 6) to the vectors of `codes`, the query LUT being `pd`'s rows
    * of the query vectors — to every other vector, or only to the
    * (qid, vid) rows of `cand`. With `lut`(qid, cid, sub, code, qd2)
    * the LUT is per probed cell instead (the residual coder), joined
    * on `cand`'s cid. */
  def adcCte(cand: String = "", lut: String = ""): String =
    if (cand.isEmpty)
      s"""adc AS (SELECT l.vec_id AS qid, k.vec_id AS vid, round(SUM(l.qd2), 6) AS adr
         |  FROM codes k JOIN pd l ON l.sub = k.sub AND l.cid = k.code
         |  WHERE ${isQuerySql("l.vec_id")} AND k.vec_id != l.vec_id
         |  GROUP BY l.vec_id, k.vec_id)""".stripMargin
    else {
      val on =
        if (lut.isEmpty) "pd l ON l.vec_id = c.qid AND l.sub = k.sub AND l.cid = k.code"
        else s"$lut l ON l.qid = c.qid AND l.cid = c.cid AND l.sub = k.sub AND l.code = k.code"
      s"""adc AS (SELECT c.qid, c.vid, round(SUM(l.qd2), 6) AS adr
         |  FROM $cand c JOIN codes k ON k.vec_id = c.vid
         |  JOIN $on
         |  GROUP BY c.qid, c.vid)""".stripMargin
    }

  /** `csum`(vec_id, code_sum): each vector's codes as one positional
    * checksum Σ code·16^sub. */
  def codeSumCte(codes: String): String =
    s"""csum AS (SELECT vec_id,
       |  CAST(SUM(code * CAST(power(16, sub) AS BIGINT)) AS BIGINT) AS code_sum
       |  FROM $codes GROUP BY vec_id)""".stripMargin

  /** `dr`(drift): the batch's (vid >= 400) mean d2c over the training
    * split's, both DECIMAL-summed, from `assign`(vid, cid, d2c). */
  def driftCte(assign: String): String = {
    def mean(where: String) =
      s"(SELECT CAST(SUM(CAST(d2c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m FROM $assign WHERE $where)"
    s"""dr AS (SELECT round(bm.m / tm.m, 6) AS drift FROM
       |  ${mean("vid >= 400")} bm,
       |  ${mean("vid < 400")} tm)""".stripMargin
  }

  // -------------------------------------------------- SQL: kNN graph

  /** [[knnCandScored]]'s twin: max(32, ⌈√n⌉) seed cells (counted and
    * seeded over the vectors `stored` keeps), every vector's (only
    * those `where` keeps) top-4 cells, candidates the probe-cell
    * co-members, scored — ending with `sc$t`(qid, vid, simr). */
  def knnCtes(t: String = "", stored: String = "", where: String = "",
              materialized: Boolean = false): String =
    Seq(sqrtListsCte(t, stored), seedCents(t, sqrtLists(t), stored),
      cellCtes(t, s"cent${t}0", where = where), candCte(t),
      scoreCtes(t, s"cand$t", materialized)).mkString(",\n")

  /** The predicate of the incremental-HNSW stored corpus. */
  private val storedPred = "vec_id % 8 <> 5"

  /** The frozen stored-corpus index of [[hnswIncrKit]]: `scs`. */
  val storedKnnCtes: String = knnCtes("s", storedPred, storedPred, materialized = true)

  /** [[hnswIncrKit]]'s one batch-vs-stored scoring pass: `scb`. */
  val batchScoreCtes: String =
    s"""bc AS (SELECT q.vec_id AS qid, v.vec_id AS vid FROM embeddings q
       |  JOIN embeddings v ON v.$storedPred WHERE q.vec_id % 8 = 5),
       |${scoreCtes("b", "bc", materialized = true)}""".stripMargin

  // ------------------------------------------- SQL: graph search

  /** [[HnswSearch]]'s level table `lvl`(vid, lvl). */
  val lvlCte: String =
    """lvl AS MATERIALIZED (SELECT vid, CASE WHEN h % 64 = 0 THEN 3
      |    WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
      |  FROM (SELECT vec_id AS vid,
      |    CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM embeddings))""".stripMargin

  /** `name`(a, b): [[HnswSearch.sym]] of the edge CTEs `parts`. */
  def symCte(name: String, parts: Seq[String]): String =
    s"""$name AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |  ${parts.map(p => s"SELECT a, b FROM $p UNION ALL SELECT b, a FROM $p")
            .mkString("\n  UNION ALL ")}))""".stripMargin

  /** `name`(a, b): [[HnswSearch.layerTop3]] of scored CTE `src`. */
  private def layerTop3Cte(name: String, src: String, l: Int): String =
    s"""$name AS (SELECT a, b FROM (
       |  SELECT s.qid AS a, s.vid AS b, ${rankOver(alias = "s")}
       |  FROM $src s JOIN lvl la ON la.vid = s.qid AND la.lvl >= $l
       |             JOIN lvl lb ON lb.vid = s.vid AND lb.lvl >= $l) WHERE rn <= 3)""".stripMargin

  /** The search graph `adj$m` (every source's top-5 links,
    * symmetrized) and the layer graphs `adj$m$l` (top-3 among layer-l
    * members) over the scored CTEs `srcs`. */
  def adjacencyCtes(m: String, srcs: Seq[String]): String = {
    val base = srcs.map(s => topKCte(s"g5$m$s", s, 5, "qid AS a, vid AS b"))
    val layers = (1 to 3).map { l =>
      val arms = srcs.map(s => s"al$m$l$s")
      (srcs.map(s => layerTop3Cte(s"al$m$l$s", s, l)) :+ symCte(s"adj$m$l", arms))
        .mkString(",\n")
    }
    (base ++ Seq(symCte(s"adj$m", srcs.map(s => s"g5$m$s"))) ++ layers).mkString(",\n")
  }

  /** `ex$t`(qid, vid): the `adj` neighbours of each (qid, vid) of
    * `from` that `seen` does not hold for that qid, and `sc$t` their
    * scores — one search expansion. */
  private def expandCtes(t: String, from: String, adj: String, seen: String): String =
    s"""ex$t AS (SELECT DISTINCT f.qid, ja.b AS vid
       |  FROM $from f JOIN $adj ja ON ja.a = f.vid
       |  WHERE NOT EXISTS (SELECT 1 FROM $seen p
       |                    WHERE p.qid = f.qid AND p.vid = ja.b)),
       |${scoreCtes(t, s"ex$t", materialized = true)}""".stripMargin

  /** [[HnswSearch.search]] over `adj$m`/`adj$m$l` (needs `lvl`, `qs`
    * and `entry`): every scored set `seen$m`0..5 and the result-heap
    * top-10 `ftop$m`(qid, rn, vid, simr). */
  def hnswSearchCtes(m: String): String = {
    // seen$m$i: everything scored after expansion i (`from`'s nodes)
    def round(i: Int, t: String, from: String, adj: String): String =
      s"""${expandCtes(t, from, adj, s"seen$m${i - 1}")},
         |seen$m$i AS MATERIALIZED (SELECT * FROM seen$m${i - 1}
         |  UNION ALL SELECT * FROM sc$t)""".stripMargin
    val descent = (1 to 3).map { i =>
      s"""${topKCte(s"hcur$m$i", s"seen$m${i - 1}", 1, "qid, vid")},
         |${round(i, s"h$m$i", s"hcur$m$i", s"adj$m${4 - i}")}""".stripMargin
    }.mkString(",\n")
    val baseRounds = (1 to 2).map { j =>
      s"""${round(j + 3, s"hx$m$j", s"hb$m${j - 1}", s"adj$m")},
         |${topKCte(s"hb$m$j", s"(SELECT * FROM hb$m${j - 1} UNION ALL SELECT * FROM schx$m$j)",
              10, materialized = true)}""".stripMargin
    }.mkString(",\n")
    s"""hc0$m AS (SELECT qs.qid, entry.vid FROM qs, entry
       |  UNION ALL SELECT qid, qid AS vid FROM qs),
       |${scoreCtes(s"h${m}0", s"hc0$m", materialized = true)},
       |seen${m}0 AS MATERIALIZED (SELECT * FROM sch${m}0),
       |$descent,
       |${topKCte(s"hb${m}0", s"seen${m}3", 10, materialized = true)},
       |$baseRounds,
       |${topKCte(s"ftop$m", s"(SELECT DISTINCT qid, vid, simr FROM seen${m}5)", 10,
            "qid, rn, vid, simr", where = "vid <> qid")}""".stripMargin
  }

  /** [[hnswSearchCtes]]' entry: `lvl`'s top node, and the query ids. */
  val entryCtes: String =
    s"""entry AS (SELECT vid FROM lvl ORDER BY lvl DESC, vid LIMIT 1),
       |$queryIdsCte""".stripMargin

  /** [[HnswSearch.flatBeam]]'s twin over `adj` (needs `qs`): the
    * scored rounds `scf`0..3 and the beams `fb`0..3. */
  def flatBeamCtes(adj: String): String = {
    val rounds = (1 to 3).map { i =>
      s"""${expandCtes(s"f$i", s"fb${i - 1}", adj, s"fb${i - 1}")},
         |${topKCte(s"fb$i", s"(SELECT * FROM fb${i - 1} UNION ALL SELECT * FROM scf$i)",
              10, materialized = true)}""".stripMargin
    }.mkString(",\n")
    s"""fc0 AS (SELECT qs.qid, v.vec_id AS vid FROM qs,
       |  (SELECT vec_id FROM embeddings WHERE vec_id < 4) v),
       |${scoreCtes("f0", "fc0", materialized = true)},
       |fb0 AS MATERIALIZED (SELECT * FROM scf0),
       |$rounds""".stripMargin
  }
}
