package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorExprs.vec_cos
import graft.ops.TextScores
import graft.ops.TableOps.counted
import graft.ops.CorpusOps.{JaccardThreshold, bigramRows, bm25StatRows, bm25TfRows, bm25Top,
  ceilLog2, cellScores, cosineCells, hashRank, idHash, idUniform, lshBands, lshCandidates,
  minhashSigs, nearDupPairs, shuffleOrder, simhashPairs, sqrtSeedCents, subPlaneVal,
  topPerQuery, verifiedJaccard}
import QueryDef.sha60

/** LLM-data-pipeline operators over `documents` / `embeddings`
  * (SURVEY.md §2B L1–L7: exact + MinHash/LSH + SimHash +
  * embedding-cosine dedup, kNN / LSH / IVF / IVF-k-means similarity
  * search, language-ID / quality / token / fingerprint text analysis,
  * binary payloads, media pipeline, corpus-cleanup composite,
  * token-budget shard packing).
  *
  * Scale notes (100 TB posture):
  *  - near-dup never goes O(n²): `l2_jaccard_pairs` uses prefix
  *    filtering (exact), `l2_minhash_lsh` banding (sub-quadratic
  *    candidate generation), `l2_simhash` bit-chunk banding with a
  *    pigeonhole guarantee for hamming ≤ 9.
  *  - every pipeline is shuffle-on-key (shingle / band / chunk / dim)
  *    with only aggregated or candidate-pair-sized intermediates.
  */
object Llm {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Query-internal caches route through [[graft.ops.CacheScope]]: under
    * the default implicit ([[graft.ops.CacheScope.sessionOwned]]) this is
    * plain cache() — Verify/BenchSession clear it between queries — but a
    * pipeline that lifts a query body into a context with an OWNED scope
    * in implicit scope inherits the unpersist-on-close lifecycle instead
    * of an unreleasable corpus-sized cache. */
  private def cached(df: DataFrame)(implicit scope: graft.ops.CacheScope): DataFrame =
    scope.cached(df)

  // (word n-grams are produced by the native kernel
  // graft.functions.ShingleExprs.shingle_sha60(text, n) — 3-gram
  // shingles for near-dup, 8-gram windows for decontamination; the
  // oracle-side SQL spellings live in shinglesSql / grams8Sql and
  // ShingleExprSpec pins the kernel against the composed built-ins)

  private val shinglesSql =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
      |    THEN list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [array_to_string(ws, ' ')] END) AS sh FROM w)),
      |sh2 AS (SELECT DISTINCT doc_id,
      |  CAST(concat('0x', substr(sha256(sh), 1, 15)) AS BIGINT) AS h FROM s),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY doc_id)""".stripMargin

  /** CTE chain ending in `pairs(d1, d2, j)` — the exact near-dup pair
    * set (prefix-filter algorithm, independently spelled in SQL).
    * Shared by the l2 pair oracles and the cluster oracle. */
  private val jaccardPairsCte =
    s"""$shinglesSql,
       |pr AS (SELECT doc_id, h FROM (
       |  SELECT sh2.doc_id, h, row_number() OVER (PARTITION BY sh2.doc_id ORDER BY h) AS rn, sz.sz
       |  FROM sh2 JOIN sz ON sh2.doc_id = sz.doc_id)
       |  WHERE rn <= sz - ceil(sz * $JaccardThreshold) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id),
       |i AS (SELECT c.d1, c.d2, count(*) AS i
       |  FROM cand c JOIN sh2 a ON a.doc_id = c.d1
       |  JOIN sh2 b ON b.doc_id = c.d2 AND b.h = a.h GROUP BY c.d1, c.d2),
       |pairs AS (SELECT d1, d2, CAST(i AS DOUBLE) / (x.sz + y.sz - i) AS j
       |  FROM i JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= $JaccardThreshold)""".stripMargin

  /** The exact near-dup pair set as DuckDB SQL — oracle for both l2
    * pair variants. */
  private val jaccardOracle =
    s"WITH $jaccardPairsCte SELECT d1, d2, j FROM pairs ORDER BY d1, d2"

  /** CTE chain `e`, `reach`, `comp(doc_id, cluster_id)` — the true
    * transitive closure of the undirected pair table `src(d1, d2)`,
    * cluster_id = the smallest reachable doc_id (a recursive CTE: the
    * query must open with WITH RECURSIVE). Shared by the cluster
    * oracles. */
  private def closureCte(src: String): String =
    s"""e AS (SELECT d1 AS a, d2 AS b FROM $src UNION SELECT d2 AS a, d1 AS b FROM $src),
       |reach AS (SELECT a, b FROM e
       |  UNION SELECT r.a AS a, e.b AS b FROM reach r JOIN e ON e.a = r.b),
       |comp AS (SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  /** Cluster table (cluster_id, doc_id, cluster_size) of the closure
    * over `src`, after the near-dup pair CTEs and any `ctes` (each
    * ending in ",\n"). The oracle of the three cluster-maintenance
    * cells. */
  private def clustersOracle(src: String, ctes: String = ""): String =
    s"""WITH RECURSIVE $jaccardPairsCte,
       |$ctes${closureCte(src)}
       |SELECT cluster_id, doc_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY cluster_id, doc_id""".stripMargin

  /** CTEs `perm`, `sg(doc_id, k, mh)`: the native MinHash kernel's 64
    * LCG permutations replayed component-for-component in SQL over
    * `sh2`. Shared by the MinHash oracles. */
  private val minhashSgCte =
    """perm AS (SELECT k, (1103515245 * k + 12345) % 1000000007 AS a,
      |                (69069 * k + 1) % 1000000007 AS b
      |         FROM (SELECT unnest(range(0, 64)) AS k)),
      |sg AS (SELECT doc_id, k, MIN(((h % 1000000007) * a + b) % 1000000007) AS mh
      |       FROM sh2, perm GROUP BY doc_id, k)""".stripMargin

  // ---------------------------------------------------------------- L1
  private val l1 = QueryDef(
    "l1_exact_dedup",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
        .orderBy("h")
    },
    Some("""SELECT sha256(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
            FROM documents GROUP BY sha256(text) ORDER BY h"""))

  // ---------------------------------------------------------------- L2
  // Exact n-gram-Jaccard near-dup via prefix filtering: a pair with
  // J >= T must share one of each doc's first |S|-ceil(T*|S|)+1
  // shingles under ANY global total order — candidates stay
  // sub-quadratic, and the result is EXACT, not approximate.
  // The Spark side orders by (global document frequency, shingle) —
  // rarest-first prefixes collide far less than lexicographic ones, so
  // the candidate join shrinks by an order of magnitude (ppjoin-style);
  // the oracle uses plain lexicographic order: both are exact, so the
  // final pair set is identical.
  /** The exact near-dup pair set (d1, d2, j), unordered — shared by
    * l2_jaccard_pairs and the l6 cleanup pipeline. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(t(s, dir, "documents"))

  private val l2 = QueryDef(
    "l2_jaccard_pairs",
    (s, dir) => jaccardPairs(s, dir),
    Some(jaccardOracle))

  // Directional shingle-CONTAINMENT near-dup — the sub-document case
  // symmetric Jaccard structurally misses (a paragraph quoted inside a
  // much larger page has J ≈ |a|/|b| but containment ≈ 1). Exact
  // prefix-filter algorithm (see CorpusOps.containmentPairs); the
  // oracle replays it with a lexicographic prefix order — any global
  // total order yields the same exact pair set, as with
  // l2_jaccard_pairs.
  private val l2contain = QueryDef(
    "l2_containment",
    (s, dir) => graft.ops.CorpusOps.containmentPairs(t(s, dir, "documents")),
    Some(s"""WITH $shinglesSql,
            |pr AS (SELECT doc_id, h FROM (
            |  SELECT sh2.doc_id, h, row_number() OVER (PARTITION BY sh2.doc_id ORDER BY h) AS rn, sz.sz
            |  FROM sh2 JOIN sz ON sh2.doc_id = sz.doc_id)
            |  WHERE rn <= sz - ceil(sz * 0.9) + 1),
            |cand AS (SELECT DISTINCT p.doc_id AS a, f.doc_id AS b
            |         FROM pr p JOIN sh2 f ON f.h = p.h AND p.doc_id != f.doc_id),
            |i AS (SELECT c.a, c.b, count(*) AS i FROM cand c
            |      JOIN sh2 x ON x.doc_id = c.a
            |      JOIN sh2 y ON y.doc_id = c.b AND y.h = x.h
            |      GROUP BY c.a, c.b),
            |pairs AS (SELECT i.a, i.b, CAST(i.i AS DOUBLE) / sa.sz AS c
            |          FROM i JOIN sz sa ON sa.doc_id = i.a
            |          WHERE CAST(i.i AS DOUBLE) / sa.sz >= 0.9)
            |SELECT a, b, c FROM pairs ORDER BY a, b""".stripMargin))

  // MinHash + banded LSH: 64 permutations ((a_k*h + b_k) mod P over the
  // portable sha-60 shingle hash), 16 bands x 4 rows, bucket-join for
  // candidates (the CorpusOps banding kit), then exact-Jaccard
  // verification. The oracle is the exact pair set — so this also
  // checks LSH recall, not just shape.
  private val l2minhash = QueryDef(
    "l2_minhash_lsh",
    (s, dir) => {
      // ZERO corpus-sized shuffles before banding: the native shingle
      // kernel already returns each doc's DISTINCT 60-bit hash array in
      // the scan, and the native minhash_sig kernel folds all 64
      // signature minima from it in one pass — the earlier spelling
      // exploded the shingle table and ran 64 min() aggs through a
      // corpus-wide groupBy, shuffling every (doc_id, h) row for what
      // is per-doc arithmetic (58x ratio at the 10x stress). Same
      // ((h % P) * a_k + b_k) % P family over the same distinct set ->
      // bit-identical signatures, candidates, and pair set. Cached
      // intermediate is doc-count-sized — the signature table a 100 TB
      // run would materialize to storage anyway.
      val doc = cached(minhashSigs(t(s, dir, "documents")))
      // length filter inside the bucket join (same exact integer form
      // as the jaccard path: J >= 4/5 forces 5*min(sz) >= 4*max(sz)) —
      // bands collide heavily on merely-similar pairs (a 4-row band
      // matches with prob J^4, ~13% per band at J = 0.6), and pairs
      // that cannot pass the threshold shouldn't reach the candidate
      // distinct or the verification joins. Provably lossless, so the
      // exact-pair-set oracle is unchanged.
      val cand = lshCandidates(lshBands(doc.select("doc_id", "sig", "sz"), 16, 4),
        least(col("x.sz"), col("y.sz")) * 5 >= greatest(col("x.sz"), col("y.sz")) * 4)
      verifiedJaccard(cand, doc.select("doc_id", "arr", "sz"))
    },
    Some(jaccardOracle))

  // MinHash estimator accuracy as an oracle-checked OUTPUT (the
  // l3_ann_recall pattern applied to dedup): for every verified
  // near-dup pair, the fraction of matching signature components
  // (j_est = matches/64) sits next to the exact Jaccard, with the
  // absolute error — the sketch-quality eval a pipeline publishes
  // before trusting banding parameters at scale (expected sigma =
  // sqrt(J(1-J)/64) ~ 0.05 at J = 0.8). The oracle replays the native
  // kernel's LCG permutation family component-for-component in SQL,
  // so the signatures themselves are cross-checked, not just the pair
  // set. Cost: pair-set-sized joins against the signature table the
  // LSH path already materializes.
  private val l2minhashEst = QueryDef(
    "l2_minhash_estimate",
    (s, dir) => {
      val doc = minhashSigs(t(s, dir, "documents"))
      jaccardPairs(s, dir)
        .join(doc.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
        .join(doc.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
        .withColumn("n_match",
          expr("size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b))"))
        .select(col("d1"), col("d2"), col("j"), col("n_match"),
          (col("n_match") / lit(64.0)).as("j_est"),
          round(abs(col("j") - col("n_match") / lit(64.0)), 6).as("abs_err"))
        .orderBy("d1", "d2")
    },
    Some(s"""WITH $jaccardPairsCte,
            |$minhashSgCte,
            |m AS (SELECT p.d1, p.d2, p.j,
            |        count(CASE WHEN s1.mh = s2.mh THEN 1 END) AS n_match
            |      FROM pairs p JOIN sg s1 ON s1.doc_id = p.d1
            |      JOIN sg s2 ON s2.doc_id = p.d2 AND s2.k = s1.k
            |      GROUP BY p.d1, p.d2, p.j)
            |SELECT d1, d2, j, n_match, n_match / 64.0 AS j_est,
            |       round(abs(j - n_match / 64.0), 6) AS abs_err
            |FROM m ORDER BY d1, d2""".stripMargin))

  // LSH BAND-WIDTH SWEEP (l2_lsh_sweep): the banding-parameter twin
  // of l3_nprobe_sweep — for band ROW width r ∈ {2, 4, 8} (so 32/16/8
  // bands over the 64-perm signature), the candidate volume and the
  // precision/recall of raw banding against the EXACT Jaccard >= 0.8
  // pair set. The S-curve in numbers: a pair at Jaccard J collides in
  // some band with prob 1 − (1 − J^r)^(64/r) — narrow bands (r = 2)
  // catch everything but drown in merely-similar collisions, wide
  // bands (r = 8) are precise but leak true pairs. The signature
  // table is computed ONCE (the native kernels, doc-count-sized,
  // cached); each sweep point re-bands the same signatures and
  // self-joins the buckets. No length prefilter here — the sweep
  // measures the RAW banding tradeoff the production filter then
  // tightens. Counts exact; two ratio divisions round 6.
  private lazy val l2sweep = QueryDef(
    "l2_lsh_sweep",
    (s, dir) => {
      val doc = cached(minhashSigs(t(s, dir, "documents")).drop("sz")) // no length filter
      val truth = cached(jaccardPairs(s, dir).select(col("d1"), col("d2")))
      val nPerm = graft.functions.MinHashes.NPERM
      Seq(2, 4, 8).map { r =>
        val cand = lshCandidates(lshBands(doc.select("doc_id", "sig"), nPerm / r, r))
        cand.agg(count(lit(1)).as("n_cand"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .crossJoin(cand.join(truth, Seq("d1", "d2"), "semi")
            .agg(count(lit(1)).as("true_found")))
          .select(lit(r).as("r"), lit(nPerm / r).as("n_bands"),
            col("n_cand"), col("n_true"), col("true_found"),
            when(col("n_cand") > 0,
              round(col("true_found") / col("n_cand"), 6))
              .otherwise(lit(0.0)).as("precision"),
            round(col("true_found") / col("n_true"), 6).as("recall"))
      }.reduce(_ union _).orderBy("r")
    },
    Some {
      val perR = Seq(2, 4, 8).map { r =>
        s"""bk$r AS (SELECT doc_id, k // $r AS band,
           |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS bsig
           |  FROM sg GROUP BY doc_id, k // $r),
           |cd$r AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM bk$r x JOIN bk$r y
           |  ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
           |o$r AS (SELECT $r AS r, ${64 / r} AS n_bands,
           |    (SELECT count(*) FROM cd$r) AS n_cand,
           |    (SELECT count(*) FROM pairs) AS n_true,
           |    (SELECT count(*) FROM cd$r c JOIN pairs p
           |     ON p.d1 = c.d1 AND p.d2 = c.d2) AS true_found)""".stripMargin
      }.mkString(",\n")
      val unions = Seq(2, 4, 8).map(r => s"SELECT * FROM o$r").mkString("\nUNION ALL ")
      s"""WITH $jaccardPairsCte,
         |$minhashSgCte,
         |$perR,
         |u AS ($unions)
         |SELECT r, n_bands, n_cand, n_true, true_found,
         |  CASE WHEN n_cand > 0 THEN round(true_found / n_cand, 6) ELSE 0.0 END AS precision,
         |  round(true_found / n_true, 6) AS recall
         |FROM u ORDER BY r""".stripMargin
    })

  // Duplicate-cluster assignment: connected components over the exact
  // near-dup pair graph — the step between pair listing and keeper
  // selection (A~B, B~C must put A, B, C in ONE cluster even though
  // A~C was never emitted; pairwise keeper rules split such chains).
  // cluster_id = the smallest reachable doc_id: pure integer min, so
  // both engines agree bit-for-bit. Spark runs fixed-round min-label
  // propagation with pointer doubling over the pair-graph-sized label
  // table (CorpusOps.dupClusters — no corpus-sized shuffle, no driver
  // loop); the oracle computes the true transitive closure with a
  // recursive CTE, so the fixed rounds' convergence is itself checked.
  private val l2clusters = QueryDef(
    "l2_dup_clusters",
    (s, dir) => graft.ops.CorpusOps.dupClusters(jaccardPairs(s, dir))
      .orderBy("cluster_id", "doc_id"),
    Some(clustersOracle("pairs")))

  // INCREMENTAL cluster maintenance (l2_incremental_clusters): the
  // production ingest shape for duplicate-CLUSTER ids — docs split
  // 90/10 into an existing corpus and a new batch; the corpus's stored
  // cluster table (dupClusters over corpus-only pairs) absorbs the
  // batch WITHOUT re-running the corpus pair graph: batch-vs-corpus
  // candidates come from the same prefix-filter index incremental
  // dedup uses, corpus endpoints contract to their stored cluster rep,
  // and only the delta graph (batch pairs ∪ batch→rep edges)
  // propagates (CorpusOps.incrementalClusters — untouched clusters
  // pass through one broadcast remap join unchanged). The ORACLE is
  // the full recompute: DuckDB's true transitive closure over the
  // WHOLE corpus∪batch pair set — so the oracle gate itself pins
  // incremental == from-scratch, ids and sizes both (min-doc-id
  // cluster ids make the equality exact, see the op's scaladoc).
  private val l2incrClusters = QueryDef(
    "l2_incremental_clusters",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val stored = graft.ops.CorpusOps.dupClusters(nearDupPairs(corpus))
      val bp = graft.ops.CorpusOps.nearDupPairs(batch)
      val cp = graft.ops.CorpusOps.nearDupPairsAgainst(corpus, batch)
      graft.ops.CorpusOps.incrementalClusters(stored, bp, cp)
        .orderBy("cluster_id", "doc_id")
    },
    Some(clustersOracle("pairs")))

  // CLUSTER MAINTENANCE UNDER DELETES (l2_incremental_delete): the
  // removal half l2_incremental_clusters leaves open. Every 7th doc is
  // removed from the stored corpus; a removed doc can SPLIT its
  // cluster (it may be the only bridge) or depose a min-id
  // representative, so CorpusOps.removeFromClusters recomputes ONLY
  // the touched clusters over the persisted pair graph (the auxiliary
  // structure deletion needs — the q118 value-multiset lesson) while
  // untouched clusters pass through one anti-join unchanged. The
  // ORACLE is the full recompute: DuckDB's transitive closure over the
  // pair graph restricted to surviving endpoints (a pair's existence
  // depends only on its two docs, so endpoint filtering == rebuilding
  // over the surviving corpus) — the gate itself pins maintained ==
  // rebuilt-from-post-delete, ids and sizes both.
  private val l2incrDelete = QueryDef(
    "l2_incremental_delete",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docs = t(s, dir, "documents")
      val removed = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      val pairs = scope.cached(jaccardPairs(s, dir))
      val stored = graft.ops.CorpusOps.dupClusters(pairs)
      graft.ops.CorpusOps.removeFromClusters(stored, pairs, removed)
        .orderBy("cluster_id", "doc_id")
    },
    Some(clustersOracle("pf",
      "pf AS (SELECT d1, d2 FROM pairs WHERE d1 % 7 <> 0 AND d2 % 7 <> 0),\n")))

  // SimHash: 60-bit signature from sha-60 shingle hashes, chunk-banded
  // by CorpusOps.simhashPairs (scale-derived chunk width w, pigeonhole
  // radius min(9, k-1): 9 at every sf fixture). The oracle derives the
  // identical w/k from count(*), so the banding structure matches
  // bit-for-bit at any sf. Output: pairs within the radius
  // (empirically: planted near-dups land at 1..9, background >= 20).
  // n comes from a parquet count() at plan build — metadata-only, and
  // unavoidable: the chunk count is the arity of an explode, fixed at
  // planning like AQE's stats.
  private val l2simhash = QueryDef(
    "l2_simhash",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // signature per doc in ONE native pass over the shingle kernel's
      // distinct-hash array (bit i set iff strictly more hashes have it
      // set than clear — the same SUM(+/-1) > 0 rule the oracle spells
      // in SQL, so signatures are bit-identical). The earlier spelling
      // exploded the shingle table and pushed it through a corpus-wide
      // groupBy with 60 conditional SUMs — the same shuffle-what-is-
      // per-doc-arithmetic shape the minhash path had.
      val sig = docs.select(col("doc_id"),
        graft.functions.SimHashExprs.simhash_sig(
          graft.functions.ShingleExprs.shingle_sha60(col("text"))).as("sig"))
      simhashPairs(sig, docs.count()).orderBy("d1", "d2")
    },
    Some(s"""WITH $shinglesSql,
            |h AS (SELECT doc_id, CAST(concat('0x', substr(sha256(sh),1,15)) AS BIGINT) AS h FROM s),
            |bits AS (SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS bs
            |         FROM h, (SELECT unnest(range(0,60)) AS i) t GROUP BY doc_id, i),
            |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN bs > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sig
            |        FROM bits GROUP BY doc_id),
            |nn AS (SELECT count(*) AS n FROM documents),
            |prm AS (SELECT GREATEST(6, (SELECT MIN(b) FROM (SELECT unnest(range(0,62)) AS b)
            |        WHERE (1::BIGINT << b) >= (SELECT (n + 511) // 512 FROM nn))) AS w),
            |prm2 AS (SELECT w, CAST((60 + w - 1) // w AS INT) AS k FROM prm),
            |ch AS (SELECT doc_id, sig, c,
            |        (sig >> (c * (SELECT w FROM prm2))) &
            |        ((1::BIGINT << LEAST((SELECT w FROM prm2), 60 - c * (SELECT w FROM prm2))) - 1) AS v
            |       FROM sig, (SELECT unnest(range(0, (SELECT k FROM prm2))) AS c) t),
            |cand AS (SELECT DISTINCT x.doc_id AS d1, x.sig AS s1, y.doc_id AS d2, y.sig AS s2
            |         FROM ch x JOIN ch y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id)
            |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
            |FROM cand WHERE bit_count(xor(s1, s2)) <= LEAST(9, (SELECT k - 1 FROM prm2))
            |ORDER BY d1, d2""".stripMargin))

  // ---------------------------------------------------------------- L3
  // Brute-force cosine top-10 for query vectors 0,1,2. Query side is
  // broadcast; the scan side never shuffles (per-partition dot products,
  // then a global top-k). Ranking happens on round(sim, 6) in BOTH
  // engines so float summation order can't reorder ranks.
  // Cosine kernel: VectorExprs.vec_cos, over the native codegen'd
  // VecDot/VecNorm with the same sequential float→double fold the
  // DuckDB oracle computes. The IVF steps (cell assignment, probe-list
  // scoring, top-k) come from the CorpusOps cosine-IVF kit.

  private val l3 = QueryDef(
    "l3_knn_bruteforce",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      topPerQuery(c.join(broadcast(q), col("vid") =!= col("qid"))
          .select(col("qid"), col("vid"),
            round(vec_cos(col("qe"), col("ve")), 6).as("simr")), 10)
        .orderBy("qid", "rn")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, unnest(embedding) AS qx,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings WHERE vec_id IN (0, 1, 2)),
            e AS (SELECT vec_id AS vid, unnest(embedding) AS ex,
                       generate_subscripts(embedding, 1) AS i FROM embeddings),
            d AS (SELECT qid, vid, SUM(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE)) AS dot
                  FROM q JOIN e USING (i) WHERE vid != qid GROUP BY qid, vid),
            n AS (SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
                  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
            sdf AS (SELECT qid, vid, round(dot / (nq.nrm * nv.nrm), 6) AS simr
                   FROM d JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid),
            r AS (SELECT qid, vid, simr,
                         row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
                  FROM sdf)
            SELECT qid, rn, vid, simr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // LSH-bucketed ANN (the 100 TB scale path): 8 tables x 6 random
  // hyperplanes (deterministic pseudo-random components), candidates =
  // any shared 6-bit code, exact cosine re-rank within candidates.
  // 6 bits/table keeps per-table candidate rate ~1/64 of the corpus
  // while 8 independent tables recover recall on weakly-similar data.
  // MULTI-PROBE (Lv et al., VLDB'07): each query additionally probes
  // the Hamming-1 flips of its 3 LOWEST-|dot| bits per table — the
  // bits most likely to have landed on the wrong side of their
  // hyperplane. 4 probes/table quadruple the candidate rate (still
  // bucket-bounded — the corpus side is untouched, only the 3-row
  // query side fans out) and lift recall without more tables or wider
  // codes. Probe order is deterministic: bits rank by (abs(round(dot,
  // 6)), bit). The hyperplanes are deterministic arithmetic, so the
  // oracle replays the identical algorithm in SQL — bucket codes,
  // probe set, candidates, and the 6dp-rounded re-rank all match
  // bit-for-bit (recall vs brute force is additionally asserted in
  // QueriesSpec).
  private val l3ann = QueryDef(
    "l3_ann_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // each plane dot is ONE native vec_dot against a literal plane
      // vector — the former spelling (64 element_at multiplies per
      // bit x 48 bits) built a ~3000-node expression tree whose
      // generated code dominated runtime (27s -> ~1s at sf0.1)
      def planeDot(p: Int): Column = {
        import graft.functions.VectorExprs.vec_dot
        vec_dot(col("embedding"), lit(Array.tabulate(64)(d => subPlaneVal(p, d))))
      }
      // sign test on the 6dp-ROUNDED dot (round-before-rank rule): the
      // oracle's SUM order is not Spark's sequential fold, and an
      // ulp-of-zero dot would otherwise flip a bucket between engines
      def codeCol(table: Int): Column =
        (0 until 6).map { bit =>
          when(round(planeDot(table * 6 + bit), 6) > 0, 1 << bit).otherwise(0)
        }.reduce(_ + _)
      val coded = e.select(
        col("vec_id"), col("embedding"),
        explode(array((0 until 8).map(t0 => struct(lit(t0).as("tb"), codeCol(t0).as("code"))): _*)).as("tc"))
        .select(col("vec_id"), col("embedding"), col("tc.tb").as("tb"), col("tc.code").as("code"))
      // query side: base code + per-table bit ranking by |rounded dot|
      // (sort_array on struct<ad, bit> = (ad, bit) lexicographic), then
      // explode the 4 deterministic probes
      val q0 = e.filter(col("vec_id").isin(0, 1, 2)).select(
        col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(array((0 until 8).map(t0 => struct(
          lit(t0).as("tb"),
          codeCol(t0).as("code"),
          sort_array(array((0 until 6).map(b => struct(
            abs(round(planeDot(t0 * 6 + b), 6)).as("ad"),
            lit(b).as("bit"))): _*)).as("rank"))): _*)).as("tc"))
        .select(col("qid"), col("qe"), col("tc.tb").as("tb"),
          col("tc.code").as("code"), col("tc.rank").as("rank"))
      val q = q0.select(col("qid"), col("qe"), col("tb"),
        explode(expr(
          """array(code,
            |      cast(code ^ shiftleft(1, rank[0].bit) as int),
            |      cast(code ^ shiftleft(1, rank[1].bit) as int),
            |      cast(code ^ shiftleft(1, rank[2].bit) as int))""".stripMargin)).as("code"))
      val cand = coded.join(q, Seq("tb", "code"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qe"), col("vec_id").as("vid"), col("embedding").as("ve"))
        .distinct()
      topPerQuery(cand.select(col("qid"), col("vid"),
          round(vec_cos(col("qe"), col("ve")), 6).as("simr")), 10)
        .orderBy("qid", "rn")
    },
    Some("""WITH planes AS (
              SELECT p, d,
                     CAST(((p*64 + d) * 2654435761 + 1013904223) % 2147483647 AS DOUBLE)
                       / 2147483647.0 * 2 - 1 AS v
              FROM (SELECT unnest(range(0,48)) AS p) tp, (SELECT unnest(range(0,64)) AS d) td),
            x AS (SELECT vec_id, unnest(embedding) AS e,
                         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            dots AS (SELECT vec_id, p, SUM(CAST(e AS DOUBLE) * v) AS dot
                     FROM x JOIN planes USING (d) GROUP BY vec_id, p),
            codes AS (SELECT vec_id, p // 6 AS tb,
                             SUM(CASE WHEN round(dot, 6) > 0 THEN (1 << (p % 6)) ELSE 0 END) AS code
                      FROM dots GROUP BY vec_id, p // 6),
            q AS (SELECT vec_id AS qid, tb, code FROM codes WHERE vec_id IN (0, 1, 2)),
            brank AS (SELECT vec_id AS qid, p // 6 AS tb, p % 6 AS bit,
                             row_number() OVER (PARTITION BY vec_id, p // 6
                                                ORDER BY abs(round(dot, 6)), p % 6) AS rk
                      FROM dots WHERE vec_id IN (0, 1, 2)),
            qp AS (SELECT qid, tb, code FROM q
                   UNION
                   SELECT q.qid, q.tb, CAST(xor(q.code, 1 << r.bit) AS BIGINT) AS code
                   FROM q JOIN brank r ON r.qid = q.qid AND r.tb = q.tb AND r.rk <= 3),
            cand AS (SELECT DISTINCT qp.qid, c.vec_id AS vid
                     FROM codes c JOIN qp ON c.tb = qp.tb AND c.code = qp.code
                     WHERE c.vec_id != qp.qid),
            n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
                  FROM x GROUP BY vec_id),
            dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
                   FROM cand JOIN x xa ON xa.vec_id = qid
                   JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
                   GROUP BY qid, vid),
            sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
                    FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
            r AS (SELECT qid, vid, simr,
                         row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
                  FROM sdf)
            SELECT qid, rn, vid, simr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // ANN recall evaluation — the index-quality gate a pipeline runs on
  // every ANN build: recall@10 per (variant, query) for the WHOLE
  // index family. Cosine-ranking variants (lsh, ivf, ivf_kmeans)
  // measure against the exact cosine brute force; the ADC family (pq,
  // pq_trained, ivfpq) ranks by L2, so its honest reference is the
  // exact L2 top-10 — mixing the references would misattribute the
  // metric-mismatch error to the index. Pure composition of the
  // audited subplans (their oracles compose the same way) plus
  // top-k-sized joins — the eval itself adds ~30-row work per variant
  // regardless of corpus size, so measuring recall is never the
  // expensive part. (QueriesSpec separately asserts recall FLOORS;
  // this op makes the measurement itself a first-class, oracle-checked
  // output.)
  private lazy val l3recall = QueryDef(
    "l3_ann_recall",
    (s, dir) => {
      val cosRef = l3.run(s, dir).select(col("qid"), col("vid"))
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val wL2 = Window.partitionBy("qid").orderBy(col("d2r").asc, col("vid").asc)
      val l2Ref = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
        .join(broadcast(q), col("vid") =!= col("qid"))
        .withColumn("d2r",
          round(graft.functions.VectorExprs.vec_l2sq(col("qe"), col("ve")), 6))
        .withColumn("rn", row_number().over(wL2)).filter(col("rn") <= 10)
        .select("qid", "vid")
      val variants: Seq[(String, DataFrame, DataFrame)] = Seq(
        ("ivf", l3ivf.run(s, dir), cosRef),
        ("ivf_kmeans", l3ivfKmeans.run(s, dir), cosRef),
        ("ivfpq", l3ivfpq.run(s, dir), l2Ref),
        ("ivfpq_residual", l3ivfpqRes.run(s, dir), l2Ref),
        ("lsh", l3ann.run(s, dir), cosRef),
        ("pq", l3pq.run(s, dir), l2Ref),
        ("pq_trained", l3pqTrained.run(s, dir), l2Ref),
        ("refined", l3refined.run(s, dir), cosRef))
      variants.map { case (name, ann, ref) =>
        val hits = ref.join(ann.select("qid", "vid"), Seq("qid", "vid"), "semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        ref.select("qid").distinct()
          .join(hits, Seq("qid"), "left")
          .select(lit(name).as("variant"), col("qid"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall"))
      }.reduce(_ union _).orderBy("variant", "qid")
    },
    Some {
      def recallCte(name: String, ref: String): String =
        s"""r_$name AS (SELECT '$name' AS variant, q0.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit
           |  FROM (SELECT DISTINCT qid FROM $ref) q0
           |  LEFT JOIN (SELECT r0.qid, count(*) AS n FROM $ref r0
           |             JOIN v_$name s0 ON s0.qid = r0.qid AND s0.vid = r0.vid
           |             GROUP BY r0.qid) h ON h.qid = q0.qid)""".stripMargin
      s"""WITH knn AS (SELECT qid, vid FROM (${l3.oracle.get})),
         |xx AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
         |              generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
         |l2d AS (SELECT q.vec_id AS qid, v.vec_id AS vid,
         |               round(SUM((q.e - v.e) * (q.e - v.e)), 6) AS d2r
         |        FROM xx q JOIN xx v ON v.d = q.d AND v.vec_id != q.vec_id
         |        WHERE q.vec_id IN (0, 1, 2)
         |        GROUP BY q.vec_id, v.vec_id),
         |l2ref AS (SELECT qid, vid FROM (
         |        SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY d2r, vid) AS rn
         |        FROM l2d) WHERE rn <= 10),
         |v_lsh AS (SELECT qid, vid FROM (${l3ann.oracle.get})),
         |v_ivf AS (SELECT qid, vid FROM (${l3ivf.oracle.get})),
         |v_ivf_kmeans AS (SELECT qid, vid FROM (${l3ivfKmeans.oracle.get})),
         |v_pq AS (SELECT qid, vid FROM (${l3pq.oracle.get})),
         |v_pq_trained AS (SELECT qid, vid FROM (${l3pqTrained.oracle.get})),
         |v_ivfpq AS (SELECT qid, vid FROM (${l3ivfpq.oracle.get})),
         |v_ivfpq_residual AS (SELECT qid, vid FROM (${l3ivfpqRes.oracle.get})),
         |v_refined AS (SELECT qid, vid FROM (${l3refined.oracle.get})),
         |${recallCte("lsh", "knn")},
         |${recallCte("ivf", "knn")},
         |${recallCte("ivf_kmeans", "knn")},
         |${recallCte("pq", "l2ref")},
         |${recallCte("pq_trained", "l2ref")},
         |${recallCte("ivfpq", "l2ref")},
         |${recallCte("ivfpq_residual", "l2ref")},
         |${recallCte("refined", "knn")}
         |SELECT variant, qid, n_hit, round(n_hit / 10.0, 6) AS recall
         |FROM (SELECT * FROM r_ivf UNION ALL SELECT * FROM r_ivf_kmeans
         |      UNION ALL SELECT * FROM r_ivfpq UNION ALL SELECT * FROM r_ivfpq_residual
         |      UNION ALL SELECT * FROM r_lsh
         |      UNION ALL SELECT * FROM r_pq UNION ALL SELECT * FROM r_pq_trained
         |      UNION ALL SELECT * FROM r_refined)
         |ORDER BY variant, qid""".stripMargin
    })

  // CONTENT-DEFINED CHUNKING dedup (l8_cdc_chunks): the
  // restic/FastCDC storage-dedup semantic at TOKEN level — chunk
  // boundaries cut where the content's own rolling signature
  // (the positional word-8-gram sha60, native kernel) hits
  // h % 32 == 0, so an insertion early in a document RESHIFTS no
  // boundary after the next cut (fixed-size chunking would invalidate
  // every later chunk — the whole point of CDC), and identical runs
  // land in identical chunks wherever they sit. Expected chunk ~32
  // words. Each (doc, chunk) hashes its reassembled words; a chunk is
  // a DUP when any earlier (doc, chunk) carries the same hash
  // (row_number over the hash). Output: per-doc chunk/dup-chunk/word
  // counts — the dedup-able-storage accounting a chunk store bills
  // by. Shapes: gram hashes row-local; the word explode re-aggregates
  // ~32:1 into chunk rows; dup detection is ONE hash-keyed window at
  // chunk (not word) granularity — corpus-linear throughout, no
  // pairwise anything.
  private lazy val l8cdc = QueryDef(
    "l8_cdc_chunks",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val cuts = d.select(col("doc_id"),
          posexplode(graft.functions.ShingleExprs.gram_sha60_pos(col("text"))))
        .toDF("doc_id", "i", "h")
        .filter(col("h") % 32 === 0)
        .select(col("doc_id").as("cdoc"), col("i"))
      val tok = d.select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "j", "word")
      val wCum = Window.partitionBy("doc_id").orderBy("j")
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunked = tok
        .join(cuts, col("doc_id") === col("cdoc") && col("j") === col("i"), "left")
        .withColumn("cut", when(col("i").isNotNull, 1L).otherwise(0L))
        .withColumn("chunk", coalesce(sum(col("cut")).over(wCum), lit(0L)))
      val ch = chunked.groupBy(col("doc_id"), col("chunk"))
        .agg(
          substring(sha2(array_join(
            transform(array_sort(collect_list(struct(col("j"), col("word")))),
              x => x.getField("word")), " "), 256), 1, 16).as("h"),
          count(lit(1)).as("nw"))
      val wDup = Window.partitionBy("h").orderBy("doc_id", "chunk")
      ch.withColumn("dup", row_number().over(wDup) > 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(col("nw")).as("n_words"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
            |         i -> {'i': i - 1,
            |               'h': CAST(concat('0x', substr(sha256(array_to_string(ws[i:i+7], ' ')), 1, 15)) AS BIGINT)})) AS x
            |       FROM w WHERE len(ws) >= 8),
            |b AS (SELECT doc_id, x.i AS i FROM g0 WHERE x.h % 32 = 0),
            |tok AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS j, unnest(ws) AS word FROM w),
            |f AS (SELECT t.doc_id, t.j, t.word,
            |             CASE WHEN b.i IS NOT NULL THEN 1 ELSE 0 END AS cut
            |      FROM tok t LEFT JOIN b ON b.doc_id = t.doc_id AND b.i = t.j),
            |c AS (SELECT doc_id, j, word,
            |        coalesce(SUM(cut) OVER (PARTITION BY doc_id ORDER BY j
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
            |      FROM f),
            |ch AS (SELECT doc_id, chunk,
            |         substr(sha256(string_agg(word, ' ' ORDER BY j)), 1, 16) AS h,
            |         count(*) AS nw
            |       FROM c GROUP BY doc_id, chunk),
            |r AS (SELECT doc_id, chunk, nw,
            |        row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk) > 1 AS dup
            |      FROM ch)
            |SELECT doc_id, count(*) AS n_chunks,
            |       count(CASE WHEN dup THEN 1 END) AS n_dup_chunks,
            |       CAST(SUM(nw) AS BIGINT) AS n_words
            |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // MATRYOSHKA truncation eval (l3_truncated_recall): recall@10 of
  // PREFIX-truncated embeddings (dims 8/16/32 of 64) against the
  // full-dim exact top-10 — the measurement behind every
  // Matryoshka-representation deployment decision ("how many dims can
  // storage drop before retrieval quality moves"), and the truncation
  // side of the quantization trade l3_quantize_int8 covers for
  // precision. Same eval scaffold as l3_ann_recall (top-k-sized
  // joins; the candidate pass per dims-variant is the brute-force
  // kernel on `slice`d arrays, round(·,6) rank contract), so the
  // oracle replays it dimension-filtered (i <= d) in long format.
  private lazy val l3trunc = QueryDef(
    "l3_truncated_recall",
    (s, dir) => {
      val ref = l3.run(s, dir).select(col("qid"), col("vid"))
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      Seq(8, 16, 32).map { d =>
        val sims = c.join(broadcast(q), col("vid") =!= col("qid"))
          .withColumn("simr",
            round(vec_cos(slice(col("qe"), 1, d), slice(col("ve"), 1, d)), 6))
        val top = topPerQuery(sims, 10).select("qid", "vid")
        val hits = ref.join(top, Seq("qid", "vid"), "semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        ref.select("qid").distinct()
          .join(hits, Seq("qid"), "left")
          .select(lit(d).as("dims"), col("qid"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall"))
      }.reduce(_ union _).orderBy("dims", "qid")
    },
    Some {
      val dimCtes = Seq(8, 16, 32).map { d =>
        s"""t$d AS (SELECT qid, vid FROM (
           |  SELECT dd.qid, dd.vid,
           |         row_number() OVER (PARTITION BY dd.qid
           |                            ORDER BY dd.simr DESC, dd.vid) AS rn
           |  FROM (SELECT q.vec_id AS qid, v.vec_id AS vid,
           |               round(SUM(q.x * v.x) /
           |                     (sqrt((SELECT SUM(n1.x * n1.x) FROM xx n1
           |                            WHERE n1.vec_id = q.vec_id AND n1.i <= $d)) *
           |                      sqrt((SELECT SUM(n2.x * n2.x) FROM xx n2
           |                            WHERE n2.vec_id = v.vec_id AND n2.i <= $d))), 6) AS simr
           |        FROM xx q JOIN xx v ON v.i = q.i AND v.vec_id != q.vec_id
           |        WHERE q.vec_id IN (0, 1, 2) AND q.i <= $d
           |        GROUP BY q.vec_id, v.vec_id) dd) WHERE rn <= 10),
           |r$d AS (SELECT $d AS dims, q0.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit
           |  FROM (SELECT DISTINCT qid FROM knn) q0
           |  LEFT JOIN (SELECT k.qid, count(*) AS n FROM knn k
           |             JOIN t$d s0 ON s0.qid = k.qid AND s0.vid = k.vid
           |             GROUP BY k.qid) h ON h.qid = q0.qid)""".stripMargin
      }.mkString(",\n")
      s"""WITH knn AS (SELECT qid, vid FROM (${l3.oracle.get})),
         |xx AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |              generate_subscripts(embedding, 1) AS i FROM embeddings),
         |$dimCtes
         |SELECT dims, qid, n_hit, round(n_hit / 10.0, 6) AS recall
         |FROM (SELECT * FROM r8 UNION ALL SELECT * FROM r16 UNION ALL SELECT * FROM r32)
         |ORDER BY dims, qid""".stripMargin
    })

  // IVF with k-means training: 2 Lloyd iterations from the same
  // deterministic init (first 32 vectors), then the l3_ann_ivf
  // assign/probe/re-rank. Everything runs in long format
  // (vec_id, dim, value) — the shape a 100 TB pipeline keeps columnar —
  // with every ranking on round(sim, 6), so the oracle replays the
  // identical algorithm: same assignments, same trained centroids
  // (per-dim AVG is order-insensitive to 1e-15, absorbed by rounding),
  // same final top-k. Centroid updates are per-(cluster, dim)
  // aggregations: k*dim-sized shuffles, never corpus-sized state.
  private val l3ivfKmeans = QueryDef(
    "l3_ann_ivf_kmeans",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val x = cached(e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "e0")))
        .select(col("vec_id"), col("d"), col("e0").cast("double").as("x")))
      val n = x.groupBy("vec_id").agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
      def sims(cents: DataFrame): DataFrame = {
        val cn = cents.groupBy("cid").agg(sqrt(sum(col("v") * col("v"))).as("cnrm"))
        x.join(cents, "d")
          .groupBy("vec_id", "cid").agg(sum(col("x") * col("v")).as("dot"))
          .join(n, "vec_id").join(cn, "cid")
          .select(col("vec_id").as("vid"), col("cid"),
                  round(col("dot") / (col("nrm") * col("cnrm")), 6).as("simr"))
      }
      def assignOf(sm: DataFrame): DataFrame = {
        val w = Window.partitionBy("vid").orderBy(col("simr").desc, col("cid").asc)
        sm.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).select("vid", "cid")
      }
      // centroid components ROUNDED at 6dp (round-before-rank rule):
      // unrounded AVGs differ between engines by sum-order ulps, and a
      // downstream simr rounding boundary could flip an assignment
      def lloyd(cents: DataFrame): DataFrame =
        assignOf(sims(cents))
          .join(x.withColumnRenamed("vec_id", "vid"), "vid")
          .groupBy("cid", "d").agg(round(avg(col("x")), 6).as("v"))
      val c0 = x.filter(col("vec_id") < 32)
        .select(col("vec_id").as("cid"), col("d"), col("x").as("v"))
      val s3 = cached(sims(lloyd(lloyd(c0))))
      val assign = assignOf(s3)
      val wProbe = Window.partitionBy("vid").orderBy(col("simr").desc, col("cid").asc)
      val probes = s3.filter(col("vid").isin(0, 1, 2))
        .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= 4)
        .select(col("vid").as("qid"), col("cid"))
      topPerQuery(cellScores(probes, assign, e), 10).orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, unnest(embedding) AS e,
                         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
                  FROM x GROUP BY vec_id),
            c0 AS (SELECT vec_id AS cid, d, CAST(e AS DOUBLE) AS v FROM x WHERE vec_id < 32),
            cn0 AS (SELECT cid, sqrt(SUM(v*v)) AS cnrm FROM c0 GROUP BY cid),
            s1 AS (SELECT x.vec_id AS vid, c.cid,
                          round(SUM(CAST(x.e AS DOUBLE) * c.v) / (n.nrm * cn0.cnrm), 6) AS simr
                   FROM x JOIN c0 c ON c.d = x.d
                   JOIN n ON n.vec_id = x.vec_id JOIN cn0 ON cn0.cid = c.cid
                   GROUP BY x.vec_id, c.cid, n.nrm, cn0.cnrm),
            a1 AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                   FROM s1) WHERE rn = 1),
            c1 AS (SELECT a1.cid, x.d, round(AVG(CAST(x.e AS DOUBLE)), 6) AS v
                   FROM a1 JOIN x ON x.vec_id = a1.vid GROUP BY a1.cid, x.d),
            cn1 AS (SELECT cid, sqrt(SUM(v*v)) AS cnrm FROM c1 GROUP BY cid),
            s2 AS (SELECT x.vec_id AS vid, c.cid,
                          round(SUM(CAST(x.e AS DOUBLE) * c.v) / (n.nrm * cn1.cnrm), 6) AS simr
                   FROM x JOIN c1 c ON c.d = x.d
                   JOIN n ON n.vec_id = x.vec_id JOIN cn1 ON cn1.cid = c.cid
                   GROUP BY x.vec_id, c.cid, n.nrm, cn1.cnrm),
            a2 AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                   FROM s2) WHERE rn = 1),
            c2 AS (SELECT a2.cid, x.d, round(AVG(CAST(x.e AS DOUBLE)), 6) AS v
                   FROM a2 JOIN x ON x.vec_id = a2.vid GROUP BY a2.cid, x.d),
            cn2 AS (SELECT cid, sqrt(SUM(v*v)) AS cnrm FROM c2 GROUP BY cid),
            s3 AS (SELECT x.vec_id AS vid, c.cid,
                          round(SUM(CAST(x.e AS DOUBLE) * c.v) / (n.nrm * cn2.cnrm), 6) AS simr
                   FROM x JOIN c2 c ON c.d = x.d
                   JOIN n ON n.vec_id = x.vec_id JOIN cn2 ON cn2.cid = c.cid
                   GROUP BY x.vec_id, c.cid, n.nrm, cn2.cnrm),
            assign AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                   FROM s3) WHERE rn = 1),
            probes AS (SELECT vid AS qid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                   FROM s3 WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
            cand AS (SELECT DISTINCT p.qid, a.vid
                     FROM probes p JOIN assign a ON a.cid = p.cid
                     WHERE a.vid != p.qid),
            dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
                   FROM cand JOIN x xa ON xa.vec_id = qid
                   JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
                   GROUP BY qid, vid),
            sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
                    FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
            r AS (SELECT qid, vid, simr,
                         row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
                  FROM sdf)
            SELECT qid, rn, vid, simr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // Embedding-cosine near-dup: random-hyperplane codes bucket the
  // vectors; same-code pairs are exact-verified at cosine >= 0.9.
  // The code width is SCALE-PARAMETERIZED: nb = max(16, ceil(log2 n))
  // keeps expected bucket occupancy ~1 vector, so background
  // candidates stay ~n/2 — linear — instead of the n^2/2^(nb+1) a
  // fixed width degenerates to (formula in docs/PERF.md; wider codes
  // trade recall on merely-similar pairs, which the cosine >= 0.9
  // exact verification already bounds). At every test scale
  // (n <= 65536) nb stays 16. Plane dots are ROUNDED to 6dp before the
  // sign test (repo round-before-rank rule): DuckDB's aggregation
  // order need not match vec_dot's sequential fold, and an
  // ulp-of-zero dot would otherwise flip a bucket code between
  // engines. The LSH is deterministic arithmetic, so the oracle
  // implements the identical algorithm in SQL — candidate sets match
  // bit-for-bit. (The fixture embeddings are near-random, so the pair
  // set is empty at sf<=0.1 — the check still pins the full pipeline
  // on both sides.)
  private val l2embed = QueryDef(
    "l2_embedding_cosine",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val nbits = math.max(16, ceilLog2(e.count()))
      val code = (0 until nbits).map { p =>
        import graft.functions.VectorExprs.vec_dot
        val dot = vec_dot(col("embedding"), lit(Array.tabulate(64)(d => subPlaneVal(p, d))))
        when(round(dot, 6) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val coded = e.select(col("vec_id"), col("embedding"), code.as("code"))
      val cand = coded.as("a").join(coded.as("b"),
          col("a.code") === col("b.code") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("v1"), col("a.embedding").as("qe"),
                col("b.vec_id").as("v2"), col("b.embedding").as("ve"))
      cand.select(col("v1"), col("v2"), round(vec_cos(col("qe"), col("ve")), 6).as("simr"))
        .filter(col("simr") >= 0.9)
        .orderBy("v1", "v2")
    },
    Some("""WITH nn AS (SELECT count(*) AS n FROM embeddings),
            prm AS (SELECT GREATEST(16, (SELECT MIN(b) FROM (SELECT unnest(range(0,62)) AS b)
                    WHERE (1::BIGINT << b) >= (SELECT n FROM nn))) AS nb),
            planes AS (
              SELECT p, d,
                     CAST(((p*64 + d) * 2654435761 + 1013904223) % 2147483647 AS DOUBLE)
                       / 2147483647.0 * 2 - 1 AS v
              FROM (SELECT unnest(range(0, (SELECT nb FROM prm))) AS p) tp,
                   (SELECT unnest(range(0,64)) AS d) td),
            x AS (SELECT vec_id, unnest(embedding) AS e,
                         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            dots AS (SELECT vec_id, p, SUM(CAST(e AS DOUBLE) * v) AS dot
                     FROM x JOIN planes USING (d) GROUP BY vec_id, p),
            codes AS (SELECT vec_id,
                             CAST(SUM(CASE WHEN round(dot, 6) > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS code
                      FROM dots GROUP BY vec_id),
            cand AS (SELECT a.vec_id AS v1, b.vec_id AS v2 FROM codes a
                     JOIN codes b ON a.code = b.code AND a.vec_id < b.vec_id),
            n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
                  FROM x GROUP BY vec_id),
            dp AS (SELECT v1, v2, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
                   FROM cand JOIN x xa ON xa.vec_id = v1 JOIN x xb ON xb.vec_id = v2 AND xb.d = xa.d
                   GROUP BY v1, v2)
            SELECT v1, v2, round(dot / (na.nrm * nb.nrm), 6) AS simr
            FROM dp JOIN n na ON na.vec_id = v1 JOIN n nb ON nb.vec_id = v2
            WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.9
            ORDER BY v1, v2"""))

  // IVF-lite ANN (the other scale path): 32 deterministic centroids
  // (the first 32 vectors — honest about being init-only; see
  // l3_ann_ivf_kmeans for the Lloyd-iterated variant), every vector
  // assigned to its nearest centroid, queries probe their nprobe=4
  // closest centroids, exact cosine re-rank within the probed lists.
  // At scale the inverted lists are the partitioning: candidates touch
  // nprobe/k of the corpus. All rankings happen on round(sim, 6) so
  // the SQL oracle — the identical algorithm — matches bit-for-bit;
  // recall vs brute force is additionally asserted in QueriesSpec's
  // ANN recall tests. One cell pass serves both sides: rn = 1 is each
  // vector's inverted list, a query's rn <= 4 its probe list.
  private val l3ivf = QueryDef(
    "l3_ann_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cells = cosineCells(e, e.filter(col("vec_id") < 32), 4)
      val probes = cells.filter(col("vid").isin(0, 1, 2))
        .select(col("vid").as("qid"), col("cid"))
      topPerQuery(cellScores(probes,
          cells.filter(col("rn") === 1).select("vid", "cid"), e), 10)
        .orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, unnest(embedding) AS e,
                         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
                  FROM x GROUP BY vec_id),
            cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
                          round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
                                / (nv.nrm * nc.nrm), 6) AS simr
                   FROM x xv JOIN x xc ON xc.d = xv.d AND xc.vec_id < 32
                   JOIN n nv ON nv.vec_id = xv.vec_id
                   JOIN n nc ON nc.vec_id = xc.vec_id
                   GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
            assign AS (SELECT vid, cid FROM (
                  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                  FROM cd) WHERE rn = 1),
            probes AS (SELECT vid AS qid, cid FROM (
                  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                  FROM cd WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
            cand AS (SELECT DISTINCT p.qid, a.vid
                     FROM probes p JOIN assign a ON a.cid = p.cid
                     WHERE a.vid != p.qid),
            dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
                   FROM cand JOIN x xa ON xa.vec_id = qid
                   JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
                   GROUP BY qid, vid),
            sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
                    FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
            r AS (SELECT qid, vid, simr,
                         row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
                  FROM sdf)
            SELECT qid, rn, vid, simr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // NPROBE RECALL/COST SWEEP (l3_nprobe_sweep): the index-tuning
  // table every IVF deployment reads before picking its operating
  // point — for nprobe ∈ {1, 2, 4, 8}, per query: candidate volume
  // (the COST — candidates scale ~nprobe/nlist of the corpus) and
  // recall@10 vs the brute-force cosine reference. The top-8 cell
  // table and the assignment are computed ONCE and cached; each sweep
  // point is a rank-prefix filter over the same table plus the
  // probed-list re-rank — so the sweep costs one assignment plus four
  // candidate-bounded re-ranks, not four index builds. The
  // np = 4 rows reproduce l3_ann_ivf's recall exactly (same
  // algorithm, same rounding contract). All counts exact; recall is
  // one n/10 division rounded 6 (the l3_ann_recall convention).
  private lazy val l3sweep = QueryDef(
    "l3_nprobe_sweep",
    (s, dir) => {
      val scope = graft.ops.CacheScope.sessionOwned
      val e = t(s, dir, "embeddings")
      // one cell pass at the widest sweep point: a query's nprobe list
      // is its rn <= np prefix, rn = 1 every vector's assignment
      val cells = scope.cached(cosineCells(e, e.filter(col("vec_id") < 32), 8))
      val assign = scope.cached(cells.filter(col("rn") === 1).select("vid", "cid"))
      val qcells = cells.filter(col("vid").isin(0, 1, 2))
      val ref = scope.cached(l3.run(s, dir).select(col("qid"), col("vid")))
      Seq(1, 2, 4, 8).map { np =>
        val probes = qcells.filter(col("rn") <= np)
          .select(col("vid").as("qid"), col("cid"))
        // cached: the candidate count and the re-rank both read it,
        // and it is query-sized (3 probe lists' members)
        val cand = scope.cached(cellScores(probes, assign, e))
        val ncand = cand.groupBy("qid").agg(count(lit(1)).as("n_cand"))
        val top = topPerQuery(cand, 10)
        val hits = ref.join(top.select("qid", "vid"), Seq("qid", "vid"), "semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        ref.select("qid").distinct()
          .join(ncand, Seq("qid"), "left").join(hits, Seq("qid"), "left")
          .select(lit(np).as("nprobe"), col("qid"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)) / 10.0, 6).as("recall"))
      }.reduce(_ union _).orderBy("nprobe", "qid")
    },
    Some {
      val perNp = Seq(1, 2, 4, 8).map { np =>
        s"""p$np AS (SELECT vid AS qid, cid FROM qcd WHERE rn <= $np),
           |c$np AS (SELECT DISTINCT p.qid, a.vid
           |         FROM p$np p JOIN assign a ON a.cid = p.cid
           |         WHERE a.vid != p.qid),
           |nc$np AS (SELECT qid, count(*) AS n_cand FROM c$np GROUP BY 1),
           |dp$np AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
           |          FROM c$np JOIN x xa ON xa.vec_id = qid
           |          JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
           |          GROUP BY qid, vid),
           |r$np AS (SELECT qid, vid FROM (
           |    SELECT dp.qid, dp.vid,
           |           row_number() OVER (PARTITION BY dp.qid
           |             ORDER BY round(dot / (na.nrm * nb.nrm), 6) DESC, dp.vid) AS rn
           |    FROM dp$np dp JOIN n na ON na.vec_id = dp.qid
           |    JOIN n nb ON nb.vec_id = dp.vid) WHERE rn <= 10),
           |h$np AS (SELECT r0.qid, count(*) AS n FROM knn r0
           |         JOIN r$np s0 ON s0.qid = r0.qid AND s0.vid = r0.vid
           |         GROUP BY 1),
           |o$np AS (SELECT $np AS nprobe, q0.qid,
           |           CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
           |           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit,
           |           round(coalesce(h.n, 0) / 10.0, 6) AS recall
           |         FROM (SELECT DISTINCT qid FROM knn) q0
           |         LEFT JOIN nc$np nc ON nc.qid = q0.qid
           |         LEFT JOIN h$np h ON h.qid = q0.qid)""".stripMargin
      }.mkString(",\n")
      val unions = Seq(1, 2, 4, 8)
        .map(np => s"SELECT * FROM o$np").mkString("\nUNION ALL ")
      s"""WITH knn AS (SELECT qid, vid FROM (${l3.oracle.get})),
         |x AS (SELECT vec_id, unnest(embedding) AS e,
         |       generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
         |n AS (SELECT vec_id,
         |       sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
         |     FROM x GROUP BY vec_id),
         |cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
         |       round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
         |             / (nv.nrm * nc.nrm), 6) AS simr
         |     FROM x xv JOIN x xc ON xc.d = xv.d AND xc.vec_id < 32
         |     JOIN n nv ON nv.vec_id = xv.vec_id
         |     JOIN n nc ON nc.vec_id = xc.vec_id
         |     GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
         |assign AS (SELECT vid, cid FROM (
         |     SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
         |     FROM cd) WHERE rn = 1),
         |qcd AS (SELECT vid, cid,
         |     row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
         |     FROM cd WHERE vid IN (0, 1, 2)),
         |$perNp
         |$unions
         |ORDER BY nprobe, qid""".stripMargin
    })

  // Symmetric int8 quantization of the embedding column — the storage
  // side of similarity search at scale (a 100 TB vector corpus ships
  // its ANN index quantized; 4x smaller + SIMD-friendly dot products).
  // Determinism: the per-vector scale is ROUNDED to 6dp before use, so
  // both engines divide by the identical double; round-half on the
  // quantized value is away-from-zero on both engines, and a halfway
  // x/scale is measure-zero for real embeddings. The clamp bounds the
  // rounding slack the 6dp scale introduces at |q| near 127.
  // Scale shape: shuffle-free per-row map over a 2-column pruned scan.
  // The oracle output carries the quantized vector as SCALARS (length,
  // element sum, 60-bit checksum of the comma-joined elements) — the
  // driver's comparer canonicalizes rows through pandas, which cannot
  // sort/hash array cells; the checksum still pins every element
  // byte-for-byte. Library users get the real array from
  // [[graft.ops.CorpusOps.quantizeInt8]].
  private val l3quant = QueryDef(
    "l3_quantize_int8",
    (s, dir) => {
      graft.ops.CorpusOps.quantizeInt8(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"),
          size(col("q")).as("q_len"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          QueryDef.sha60(expr("array_join(transform(q, x -> cast(x as string)), ',')"))
            .as("q_csum"))
        .orderBy("vec_id")
    },
    Some("""WITH qz AS (SELECT vec_id, scale,
              list_transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0
                ELSE CAST(LEAST(127.0, GREATEST(-127.0,
                       round(CAST(x AS DOUBLE) / scale))) AS INTEGER) END) AS q
              FROM (SELECT vec_id, embedding,
                      round(list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127.0, 6) AS scale
                    FROM embeddings))
            SELECT vec_id, scale, len(q) AS q_len,
              CAST(list_sum(q) AS BIGINT) AS q_sum,
              CAST('0x' || substr(sha256(array_to_string(
                list_transform(q, x -> CAST(x AS VARCHAR)), ',')), 1, 15) AS BIGINT) AS q_csum
            FROM qz ORDER BY vec_id"""))

  // TOP PRINCIPAL DIRECTION by distributed power iteration
  // (CorpusOps.topPrincipalDirection) — the first step of
  // All-but-the-Top embedding postprocessing (Mu & Viswanath 2018):
  // mean-center, find the dominant direction, (downstream) project it
  // out. The covariance matrix is NEVER materialized: each of the 3
  // rounds computes C·v = Σ xᵢ(xᵢ·v)/n as a per-vector dot join + a
  // per-dimension weighted sum on the long (vec_id, d, x) layout —
  // two partial-aggregatable corpus shuffles per round, v stays a
  // d-row table. Determinism is the q44 contract: DECIMAL-exact mean,
  // every aggregated double rounded to 9dp before reuse (drift and
  // the 1-ulp sqrt die at the round), sign pinned by the all-ones
  // start; the oracle unrolls the same 3 rounds.
  private val l3pca = QueryDef(
    "l3_pca_top",
    (s, dir) => {
      graft.ops.CorpusOps.topPrincipalDirection(t(s, dir, "embeddings"))
        .select(col("d"), round(col("v"), 6).as("v"))
        .orderBy("d")
    },
    Some("""WITH x AS (SELECT vec_id,
            |            list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xs
            |          FROM embeddings),
            |xl AS (SELECT vec_id, unnest(generate_series(1, len(xs))) AS i, unnest(xs) AS xd FROM x),
            |mn AS (SELECT i, CAST(SUM(CAST(xd AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
            |       FROM xl GROUP BY i),
            |ma AS (SELECT list(m ORDER BY i) AS marr FROM mn),
            |xc AS MATERIALIZED (SELECT vec_id,
            |        list_transform(generate_series(1, len(xs)), i -> xs[i] - marr[i]) AS xs
            |      FROM x, ma),
            |v0 AS (SELECT list_transform(marr, m -> 1.0) AS varr FROM ma),
            |dt1 AS (SELECT vec_id, xs,
            |          round(list_reduce(list_transform(generate_series(1, len(xs)),
            |            i -> xs[i] * varr[i]), (a, b) -> a + b), 9) AS dot
            |        FROM xc, v0),
            |w1 AS MATERIALIZED (SELECT i,
            |        round(CAST(SUM(CAST(xd * dot AS DECIMAL(28,12))) AS DOUBLE), 9) AS w
            |      FROM (SELECT unnest(generate_series(1, len(xs))) AS i, unnest(xs) AS xd, dot
            |            FROM dt1) GROUP BY i),
            |v1 AS (SELECT list(round(w / sqrt((SELECT round(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE), 9) FROM w1)), 9)
            |              ORDER BY i) AS varr FROM w1),
            |dt2 AS (SELECT vec_id, xs,
            |          round(list_reduce(list_transform(generate_series(1, len(xs)),
            |            i -> xs[i] * varr[i]), (a, b) -> a + b), 9) AS dot
            |        FROM xc, v1),
            |w2 AS MATERIALIZED (SELECT i,
            |        round(CAST(SUM(CAST(xd * dot AS DECIMAL(28,12))) AS DOUBLE), 9) AS w
            |      FROM (SELECT unnest(generate_series(1, len(xs))) AS i, unnest(xs) AS xd, dot
            |            FROM dt2) GROUP BY i),
            |v2 AS (SELECT list(round(w / sqrt((SELECT round(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE), 9) FROM w2)), 9)
            |              ORDER BY i) AS varr FROM w2),
            |dt3 AS (SELECT vec_id, xs,
            |          round(list_reduce(list_transform(generate_series(1, len(xs)),
            |            i -> xs[i] * varr[i]), (a, b) -> a + b), 9) AS dot
            |        FROM xc, v2),
            |w3 AS MATERIALIZED (SELECT i,
            |        round(CAST(SUM(CAST(xd * dot AS DECIMAL(28,12))) AS DOUBLE), 9) AS w
            |      FROM (SELECT unnest(generate_series(1, len(xs))) AS i, unnest(xs) AS xd, dot
            |            FROM dt3) GROUP BY i)
            |SELECT i - 1 AS d,
            |       round(round(w / sqrt((SELECT round(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE), 9) FROM w3)), 9), 6) AS v
            |FROM w3 ORDER BY d""".stripMargin))

  // SemDeDup-style semantic dedup: nearest-centroid clustering
  // (deterministic smallest-vec_id seed centroids, same family as
  // l3_ann_ivf), then within each cluster a vector is dropped iff a
  // smaller-id cluster-mate has round(cos, 6) >= tau with it — the
  // parallel, order-free superset of the paper's sequential greedy
  // rule (see CorpusOps.semDedup). The cluster count is SCALE-
  // PARAMETERIZED: k = max(32, 2^ceil(log2(ceil(n/64)))) holds mean
  // cluster size ~64, keeping pairwise candidates ~64·n (linear)
  // instead of the n²/k a fixed k degenerates to; at every fixture
  // scale (n <= 2000) k stays 32. Both engines derive k with the same
  // integer-only arithmetic. tau = 0.35 sits where the near-random
  // fixture embeddings have mass (47/500 drops at sf0.01); the
  // algorithm is threshold-agnostic. Clusters above 256 members would
  // additionally split into secondary-hyperplane sub-buckets (the
  // hot-cluster guard — see CorpusOps.semDedup; SkewGuardSpec drives it on
  // a synthetic hot cluster), and the oracle replays that arithmetic
  // too, so the gate holds at any skew, not just the uniform fixture.
  private val l3semdedup = QueryDef(
    "l3_semdedup",
    (s, dir) => graft.ops.CorpusOps.semDedup(t(s, dir, "embeddings"))
      .orderBy("vec_id"),
    // the hot-cluster guard (cap 256, <= 16 sub-bits, centroid-ranked
    // planes) is replayed IDENTICALLY below — at fixture skew every
    // nbits is 0 and sub collapses to 0, but the oracle carries the
    // full arithmetic so the gate would stay bit-for-bit on ANY skew
    Some("""WITH prm AS (SELECT GREATEST(32, (SELECT MIN(1::BIGINT << b)
                    FROM (SELECT unnest(range(0, 62)) AS b)
                    WHERE (1::BIGINT << b) >= (nn + 63) // 64)) AS k
                  FROM (SELECT count(*) AS nn FROM embeddings)),
            x AS (SELECT vec_id, unnest(embedding) AS e,
                         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
                  FROM x GROUP BY vec_id),
            c0 AS (SELECT vec_id AS cid, d, CAST(e AS DOUBLE) AS v FROM x
                   WHERE vec_id < (SELECT k FROM prm)),
            cn AS (SELECT cid, sqrt(SUM(v * v)) AS cnrm FROM c0 GROUP BY cid),
            s AS (SELECT x.vec_id AS vid, c.cid,
                         round(SUM(CAST(x.e AS DOUBLE) * c.v) / (n.nrm * cn.cnrm), 6) AS simr
                  FROM x JOIN c0 c ON c.d = x.d
                  JOIN n ON n.vec_id = x.vec_id JOIN cn ON cn.cid = c.cid
                  GROUP BY x.vec_id, c.cid, n.nrm, cn.cnrm),
            assign AS (SELECT vid, cid FROM (
                  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
                  FROM s) WHERE rn = 1),
            csz AS (SELECT cid, count(*) AS csz FROM assign GROUP BY cid),
            nb AS (SELECT cid, CASE WHEN m <= 1 THEN 0 ELSE COALESCE(
                     (SELECT MIN(b) FROM (SELECT unnest(range(0, 17)) AS b)
                      WHERE (1::BIGINT << b) >= m), 16) END AS nbits
                   FROM (SELECT cid, (csz + 255) // 256 AS m FROM csz)),
            pl AS (SELECT p, d,
                     CAST(((p*64 + d) * 2654435761 + 1013904223) % 2147483647 AS DOUBLE)
                       / 2147483647.0 * 2 - 1 AS v
                   FROM (SELECT unnest(range(0, 16)) AS p) tp,
                        (SELECT unnest(range(0, 64)) AS d) td),
            cdot AS (SELECT c0.cid, pl.p, round(SUM(c0.v * pl.v), 6) AS cd
                     FROM c0 JOIN pl ON pl.d = c0.d GROUP BY c0.cid, pl.p),
            chosen AS (SELECT cid, p, rk - 1 AS bit FROM (
                     SELECT cdot.cid, cdot.p, nb.nbits,
                            row_number() OVER (PARTITION BY cdot.cid
                                               ORDER BY abs(cdot.cd), cdot.p) AS rk
                     FROM cdot JOIN nb ON nb.cid = cdot.cid) WHERE rk <= nbits),
            vd AS (SELECT x.vec_id AS vid, pl.p,
                          round(SUM(CAST(x.e AS DOUBLE) * pl.v), 6) AS vdot
                   FROM x JOIN pl ON pl.d = x.d GROUP BY x.vec_id, pl.p),
            sub AS (SELECT a.vid, COALESCE(SUM(CASE WHEN vd.vdot > 0
                             THEN (1::BIGINT << ch.bit) ELSE 0 END), 0) AS sub
                    FROM assign a
                    LEFT JOIN chosen ch ON ch.cid = a.cid
                    LEFT JOIN vd ON vd.vid = a.vid AND vd.p = ch.p
                    GROUP BY a.vid),
            p AS (SELECT a.vid AS v1, b.vid AS v2
                  FROM assign a JOIN sub sa ON sa.vid = a.vid
                  JOIN assign b ON a.cid = b.cid AND a.vid < b.vid
                  JOIN sub sb ON sb.vid = b.vid AND sb.sub = sa.sub),
            dp AS (SELECT v1, v2, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
                   FROM p JOIN x xa ON xa.vec_id = v1
                   JOIN x xb ON xb.vec_id = v2 AND xb.d = xa.d GROUP BY v1, v2),
            sims AS (SELECT v1, v2, round(dot / (na.nrm * nb.nrm), 6) AS simr
                     FROM dp JOIN n na ON na.vec_id = v1 JOIN n nb ON nb.vec_id = v2),
            dropped AS (SELECT v2 AS vid, MIN(v1) AS dup_of FROM sims
                        WHERE simr >= 0.35 GROUP BY v2)
            SELECT a.vid AS vec_id, a.cid, d.dup_of IS NULL AS keep, d.dup_of
            FROM assign a LEFT JOIN dropped d ON d.vid = a.vid ORDER BY vec_id"""))

  // Product-quantization ANN (IVF-PQ's storage half): codebook = per
  // 8-dim subspace the 16 seed subvectors (deterministic smallest
  // vec_ids, same seed rule as the IVF family), every vector encoded
  // as 8 nearest-centroid codes (argmin on round(L2²,6), cid
  // tie-break), queries ranked by the ADC sum of codebook distances —
  // round(sum, 6) ascending, vec_id tie-break. The L2² inner loop is
  // the native codegen'd vec_l2sq kernel; the oracle replays the
  // identical algorithm in long format (per-element CAST to DOUBLE
  // before the subtract, matching the kernel's widening order).
  // At 100 TB this is THE index layout: codes (8 bytes/vector here)
  // plus a constant-size codebook move through the cluster; raw
  // vectors never shuffle. Recall floor vs exact L2 is asserted in
  // QueriesSpec's ANN recall tests alongside the other ANN variants.
  private val l3pq = QueryDef(
    "l3_ann_pq",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.ops.CorpusOps.pqCodebook(e)
      val codes = graft.ops.CorpusOps.pqEncode(e, cb)
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.ops.CorpusOps.pqTopK(codes, cb, q).orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            sv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM x),
            cb AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16),
            d2 AS (SELECT s.vec_id, s.sub, c.cid,
                          SUM((s.v - c.cv) * (s.v - c.cv)) AS qd2,
                          round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                   FROM sv s JOIN cb c ON c.sub = s.sub AND c.sd = s.sd
                   GROUP BY s.vec_id, s.sub, c.cid),
            codes AS (SELECT vec_id, sub, cid AS code FROM (
                   SELECT vec_id, sub, cid,
                          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                   FROM d2) WHERE rn = 1),
            adc AS (SELECT l.vec_id AS qid, c.vec_id AS vid, round(SUM(l.qd2), 6) AS adr
                    FROM codes c JOIN d2 l ON l.sub = c.sub AND l.cid = c.code
                    WHERE l.vec_id IN (0, 1, 2) AND c.vec_id != l.vec_id
                    GROUP BY l.vec_id, c.vec_id),
            r AS (SELECT qid, vid, adr,
                         row_number() OVER (PARTITION BY qid ORDER BY adr, vid) AS rn
                  FROM adc)
            SELECT qid, rn, vid, adr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // PQ with a Lloyd-TRAINED codebook: 2 k-means iterations per
  // subspace from the same deterministic seed init (CorpusOps.
  // pqCodebookTrained), then the identical encode/ADC machinery as
  // l3_ann_pq. Training adapts each subspace's 16 centroids to the
  // data distribution, tightening the ADC distance estimates — recall
  // vs exact L2 rises above the seed codebook's (floor-asserted in
  // QueriesSpec; both appear in l3_ann_recall). Assignment on
  // round(L2², 6) with cid tie-break, centroid update = per-dim AVG
  // rounded 6dp — the oracle replays both iterations bit-for-bit.
  private val l3pqTrained = QueryDef(
    "l3_ann_pq_trained",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // cached: encode + the ADC LUT both consume the codebook, whose
      // build is the 2-iteration Lloyd chain over the corpus
      val cb = cached(graft.ops.CorpusOps.pqCodebookTrained(e))
      val codes = graft.ops.CorpusOps.pqEncode(e, cb)
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.ops.CorpusOps.pqTopK(codes, cb, q).orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            sv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM x),
            cb0 AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16),
            d2a AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM sv s JOIN cb0 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            as1 AS (SELECT vec_id, sub, cid FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM d2a) WHERE rn = 1),
            cb1 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
                    FROM as1 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                    GROUP BY s.sub, a.cid, s.sd),
            d2b AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM sv s JOIN cb1 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            as2 AS (SELECT vec_id, sub, cid FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM d2b) WHERE rn = 1),
            cb2 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
                    FROM as2 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                    GROUP BY s.sub, a.cid, s.sd),
            d2 AS (SELECT s.vec_id, s.sub, c.cid,
                          SUM((s.v - c.cv) * (s.v - c.cv)) AS qd2,
                          round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                   FROM sv s JOIN cb2 c ON c.sub = s.sub AND c.sd = s.sd
                   GROUP BY s.vec_id, s.sub, c.cid),
            codes AS (SELECT vec_id, sub, cid AS code FROM (
                   SELECT vec_id, sub, cid,
                          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                   FROM d2) WHERE rn = 1),
            adc AS (SELECT l.vec_id AS qid, c.vec_id AS vid, round(SUM(l.qd2), 6) AS adr
                    FROM codes c JOIN d2 l ON l.sub = c.sub AND l.cid = c.code
                    WHERE l.vec_id IN (0, 1, 2) AND c.vec_id != l.vec_id
                    GROUP BY l.vec_id, c.vec_id),
            r AS (SELECT qid, vid, adr,
                         row_number() OVER (PARTITION BY qid ORDER BY adr, vid) AS rn
                  FROM adc)
            SELECT qid, rn, vid, adr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // IVF-PQ (the FAISS IVFADC composite — THE 100 TB ANN architecture):
  // an L2 coarse quantizer assigns every vector to its nearest of 32
  // seed lists (partial-agg argmin over the broadcast centroids) and
  // queries probe their 4 closest lists; only list co-members reach
  // the ADC re-rank over the 8×16 PQ codes. Candidate volume ~
  // nprobe/nlist of the corpus; the re-rank touches codes + the
  // constant codebook only — at scale neither stage ever moves a raw
  // vector, and both knobs (nprobe, code width) trade recall for
  // scan fraction explicitly. All distances on round(d², 6) with id
  // tie-breaks; the oracle replays the identical two-stage algorithm.
  private val l3ivfpq = QueryDef(
    "l3_ann_ivfpq",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding"))
      val cand = graft.ops.CorpusOps.ivfCandidates(e, q)
      val cb = graft.ops.CorpusOps.pqCodebook(e)
      val codes = graft.ops.CorpusOps.pqEncode(e, cb)
      graft.ops.CorpusOps.pqTopK(codes, cb, q, candidates = Some(cand))
        .orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            cd AS (SELECT a.vec_id AS vid, c.vec_id AS cid,
                          round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
                   FROM x a JOIN x c ON c.d = a.d AND c.vec_id < 32
                   GROUP BY a.vec_id, c.vec_id),
            assign AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd) WHERE rn = 1),
            probes AS (SELECT vid AS qid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
            cand AS (SELECT DISTINCT p.qid, a.vid FROM probes p JOIN assign a ON a.cid = p.cid
                     WHERE a.vid != p.qid),
            sv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM x),
            cb AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16),
            d2 AS (SELECT s.vec_id, s.sub, c.cid,
                          SUM((s.v - c.cv) * (s.v - c.cv)) AS qd2,
                          round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                   FROM sv s JOIN cb c ON c.sub = s.sub AND c.sd = s.sd
                   GROUP BY s.vec_id, s.sub, c.cid),
            codes AS (SELECT vec_id, sub, cid AS code FROM (
                   SELECT vec_id, sub, cid,
                          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                   FROM d2) WHERE rn = 1),
            adc AS (SELECT cn.qid, cn.vid, round(SUM(l.qd2), 6) AS adr
                    FROM cand cn JOIN codes k ON k.vec_id = cn.vid
                    JOIN d2 l ON l.vec_id = cn.qid AND l.sub = k.sub AND l.cid = k.code
                    GROUP BY cn.qid, cn.vid),
            r AS (SELECT qid, vid, adr,
                         row_number() OVER (PARTITION BY qid ORDER BY adr, vid) AS rn
                  FROM adc)
            SELECT qid, rn, vid, adr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // FILTERED ANN (l3_ann_filtered): "top-k among vectors WHERE
  // <metadata predicate>" — the FAISS-IDSelector / pgvector-WHERE
  // retrieval shape. The label predicate's survivor keys semi-join
  // the IVF probe candidates BEFORE the exact cosine re-rank
  // (CorpusOps.ivfFilteredTopK): candidate-bounded, and never the
  // score-then-post-filter spelling that returns < k rows when the
  // filter bites inside the top-k. The oracle replays the identical
  // two-stage algorithm with the filter in the candidate join; recall
  // vs the FILTERED brute force is floored in QueriesSpec (the
  // documented caveat: selective filters thin the probed lists — a
  // production deployment raises nprobe with selectivity).
  private val l3filtered = QueryDef(
    "l3_ann_filtered",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding"))
      val allowed = e.filter(col("label").isin(2, 5, 7)).select("vec_id")
      graft.ops.CorpusOps.ivfFilteredTopK(e, q, allowed).orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            cd AS (SELECT a.vec_id AS vid, c.vec_id AS cid,
                          round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
                   FROM x a JOIN x c ON c.d = a.d AND c.vec_id < 32
                   GROUP BY a.vec_id, c.vec_id),
            assign AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd) WHERE rn = 1),
            probes AS (SELECT vid AS qid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
            al AS (SELECT vec_id FROM embeddings WHERE label IN (2, 5, 7)),
            cand AS (SELECT DISTINCT p.qid, a.vid FROM probes p
                     JOIN assign a ON a.cid = p.cid
                     JOIN al ON al.vec_id = a.vid
                     WHERE a.vid != p.qid),
            n AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id),
            dp AS (SELECT c.qid, c.vid, SUM(xa.v * xb.v) AS dot
                   FROM cand c JOIN x xa ON xa.vec_id = c.qid
                   JOIN x xb ON xb.vec_id = c.vid AND xb.d = xa.d
                   GROUP BY c.qid, c.vid),
            sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
                    FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
            rr AS (SELECT qid, vid, simr,
                          row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
                   FROM sdf)
            SELECT qid, rn, vid, simr FROM rr WHERE rn <= 10 ORDER BY qid, rn"""))

  // Residual-encoding IVF-PQ (the full FAISS IVFADC, Jégou et al.
  // TPAMI'11 §IV): vectors PQ-coded as residuals against their coarse
  // centroid, codebook Lloyd-trained ON the residuals, and the query
  // LUT built per probed list from the QUERY's residual — the code
  // budget spends its 8 bytes on what the coarse quantizer didn't
  // explain, so ADC estimates tighten over the raw-vector composite
  // (l3_ann_ivfpq); l3_ann_recall carries both so the lift is an
  // oracle-checked output, and QueriesSpec floors it above the raw
  // composite's. All stages deterministic (round(·,6) ranks, id
  // tie-breaks); the oracle replays coarse assign → residuals → 2
  // Lloyd iterations → encode → per-probe LUT → ADC bit-for-bit.
  // At scale: same shape as l3_ann_ivfpq (codes + constant codebook
  // move, raw vectors never shuffle) plus one broadcast residual join.
  private val l3ivfpqRes = QueryDef(
    "l3_ann_ivfpq_residual",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding"))
      graft.ops.CorpusOps.ivfpqResidualTopK(e, q).orderBy("qid", "rn")
    },
    Some("""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            cd AS (SELECT a.vec_id AS vid, c.vec_id AS cid,
                          round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
                   FROM x a JOIN x c ON c.d = a.d AND c.vec_id < 32
                   GROUP BY a.vec_id, c.vec_id),
            assign AS (SELECT vid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd) WHERE rn = 1),
            probes AS (SELECT vid AS qid, cid FROM (
                   SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
            res AS (SELECT a.vid AS vec_id, xa.d, xa.v - xc.v AS v
                    FROM assign a JOIN x xa ON xa.vec_id = a.vid
                    JOIN x xc ON xc.vec_id = a.cid AND xc.d = xa.d),
            sv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM res),
            cb0 AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16),
            d2a AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM sv s JOIN cb0 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            as1 AS (SELECT vec_id, sub, cid FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM d2a) WHERE rn = 1),
            cb1 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
                    FROM as1 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                    GROUP BY s.sub, a.cid, s.sd),
            d2b AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM sv s JOIN cb1 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            as2 AS (SELECT vec_id, sub, cid FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM d2b) WHERE rn = 1),
            cb2 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
                    FROM as2 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                    GROUP BY s.sub, a.cid, s.sd),
            d2 AS (SELECT s.vec_id, s.sub, c.cid,
                          round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                   FROM sv s JOIN cb2 c ON c.sub = s.sub AND c.sd = s.sd
                   GROUP BY s.vec_id, s.sub, c.cid),
            codes AS (SELECT vec_id, sub, cid AS code FROM (
                   SELECT vec_id, sub, cid,
                          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                   FROM d2) WHERE rn = 1),
            qres AS (SELECT p.qid, p.cid, xa.d, xa.v - xc.v AS v
                     FROM probes p JOIN x xa ON xa.vec_id = p.qid
                     JOIN x xc ON xc.vec_id = p.cid AND xc.d = xa.d),
            qsv AS (SELECT qid, cid, d // 8 AS sub, d % 8 AS sd, v FROM qres),
            lut AS (SELECT q.qid, q.cid, q.sub, c.cid AS code,
                           SUM((q.v - c.cv) * (q.v - c.cv)) AS qd2
                    FROM qsv q JOIN cb2 c ON c.sub = q.sub AND c.sd = q.sd
                    GROUP BY q.qid, q.cid, q.sub, c.cid),
            cand AS (SELECT p.qid, p.cid, a.vid FROM probes p JOIN assign a ON a.cid = p.cid
                     WHERE a.vid != p.qid),
            adc AS (SELECT cn.qid, cn.vid, round(SUM(l.qd2), 6) AS adr
                    FROM cand cn JOIN codes k ON k.vec_id = cn.vid
                    JOIN lut l ON l.qid = cn.qid AND l.cid = cn.cid
                               AND l.sub = k.sub AND l.code = k.code
                    GROUP BY cn.qid, cn.vid),
            r AS (SELECT qid, vid, adr,
                         row_number() OVER (PARTITION BY qid ORDER BY adr, vid) AS rn
                  FROM adc)
            SELECT qid, rn, vid, adr FROM r WHERE rn <= 10 ORDER BY qid, rn"""))

  // Exact re-rank REFINE (FAISS IndexRefine — the recall-restoring
  // final hop every production ANN serves): the trained-PQ full ADC
  // scan nominates top-R=100 candidates (R·|queries| rows, candidate-
  // bounded however big the corpus), then CorpusOps.refine re-scores
  // each with EXACT cosine on the raw vectors and keeps the top 10.
  // The index's only job becomes coverage at R; the refine fixes the
  // ordering — so recall@10 jumps from the ADC family's ~0.37 to the
  // candidate-coverage ceiling (floored at 0.9 in QueriesSpec, and an
  // oracle-checked row per variant in l3_ann_recall). At scale the
  // re-rank touches R·queries raw vectors — the ONLY stage that ever
  // reads them — via one candidate join; everything upstream moves
  // codes. All ranks on round(·,6) with vid tie-breaks.
  private val l3refined = QueryDef(
    "l3_ann_refined",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // cached: encode + the ADC LUT both consume the codebook, whose
      // build is the 2-iteration Lloyd chain over the corpus
      val cb = cached(graft.ops.CorpusOps.pqCodebookTrained(e))
      val codes = graft.ops.CorpusOps.pqEncode(e, cb)
      val q = e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding"))
      val cand = graft.ops.CorpusOps.pqTopK(codes, cb, q, topK = 100)
      graft.ops.CorpusOps.refine(cand, e, q).orderBy("qid", "rn")
    },
    Some(s"""WITH cand AS (SELECT qid, vid FROM (${l3pqTrained.oracle.get
               .replace("WHERE rn <= 10 ORDER BY qid, rn", "WHERE rn <= 100")})),
            |x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
            |             generate_subscripts(embedding, 1) AS i FROM embeddings),
            |n AS (SELECT vec_id, sqrt(SUM(e * e)) AS nrm FROM x GROUP BY vec_id),
            |dp AS (SELECT c.qid, c.vid, SUM(xa.e * xb.e) AS dot
            |       FROM cand c JOIN x xa ON xa.vec_id = c.qid
            |       JOIN x xb ON xb.vec_id = c.vid AND xb.i = xa.i
            |       GROUP BY c.qid, c.vid),
            |sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
            |        FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
            |rr AS (SELECT qid, vid, simr,
            |              row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
            |       FROM sdf)
            |SELECT qid, rn, vid, simr FROM rr WHERE rn <= 10 ORDER BY qid, rn""".stripMargin))

  // INCREMENTAL index maintenance (CorpusOps.ivfpqIncremental): the
  // corpus splits into a training prefix (vec_id < 400 — builds the
  // frozen coarse centroids + Lloyd-trained residual codebook) and an
  // ingest batch (vec_id >= 400) that is assigned into the EXISTING
  // lists and coded with the FROZEN codebook — no re-train — plus the
  // drift ratio (batch mean distance-to-centroid over train mean,
  // DECIMAL-summed) that tells a pipeline when re-training is due.
  // The oracle replays the whole thing: same Lloyd chain as
  // l3_ann_ivfpq_residual restricted to the train split, then the
  // batch assignment/encode against the frozen state. Codes emit as a
  // positional checksum (flat-output contract).
  private val l3incr = QueryDef(
    "l3_ann_incremental",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.CorpusOps.ivfpqIncremental(
        e.filter(col("vec_id") < 400), e.filter(col("vec_id") >= 400))
        .orderBy("vec_id")
    },
    Some("""WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                              CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            cd AS (SELECT a.vec_id AS vid, c.vec_id AS cid,
                          round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
                   FROM x a JOIN x c ON c.d = a.d AND c.vec_id < 32
                   GROUP BY a.vec_id, c.vec_id),
            asg AS (SELECT vid, cid, d2c FROM (
                   SELECT vid, cid, d2c,
                          row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
                   FROM cd) WHERE rn = 1),
            ta AS (SELECT * FROM asg WHERE vid < 400),
            ba AS (SELECT * FROM asg WHERE vid >= 400),
            res AS (SELECT a.vid AS vec_id, xa.d, xa.v - xc.v AS v
                    FROM ta a JOIN x xa ON xa.vec_id = a.vid
                    JOIN x xc ON xc.vec_id = a.cid AND xc.d = xa.d),
            sv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM res),
            cb0 AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16),
            d2a AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM sv s JOIN cb0 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            as1 AS (SELECT vec_id, sub, cid FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM d2a) WHERE rn = 1),
            cb1 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
                    FROM as1 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                    GROUP BY s.sub, a.cid, s.sd),
            d2b AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM sv s JOIN cb1 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            as2 AS (SELECT vec_id, sub, cid FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM d2b) WHERE rn = 1),
            cb2 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
                    FROM as2 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
                    GROUP BY s.sub, a.cid, s.sd),
            bres AS (SELECT a.vid AS vec_id, xa.d, xa.v - xc.v AS v
                     FROM ba a JOIN x xa ON xa.vec_id = a.vid
                     JOIN x xc ON xc.vec_id = a.cid AND xc.d = xa.d),
            bsv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM bres),
            bd2 AS (SELECT s.vec_id, s.sub, c.cid,
                           round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
                    FROM bsv s JOIN cb2 c ON c.sub = s.sub AND c.sd = s.sd
                    GROUP BY s.vec_id, s.sub, c.cid),
            bcodes AS (SELECT vec_id, sub, cid AS code FROM (
                    SELECT vec_id, sub, cid,
                           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
                    FROM bd2) WHERE rn = 1),
            csum AS (SELECT vec_id,
                            CAST(SUM(code * CAST(power(16, sub) AS BIGINT)) AS BIGINT) AS code_sum
                     FROM bcodes GROUP BY vec_id),
            dr AS (SELECT round(bm.m / tm.m, 6) AS drift FROM
                   (SELECT CAST(SUM(CAST(d2c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m FROM ba) bm,
                   (SELECT CAST(SUM(CAST(d2c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m FROM ta) tm)
            SELECT b.vid AS vec_id, b.cid, b.d2c, c.code_sum, dr.drift
            FROM ba b JOIN csum c ON c.vec_id = b.vid, dr
            ORDER BY vec_id"""))

  // STORED-STATE frozen ingest (l3_ann_incremental_stored): the same
  // semantics as l3_ann_incremental served from a PERSISTABLE
  // QuantizerState + stored index — trainQuantizer/ivfpqEncodeAll pay
  // the train-time build once, ivfpqEncodeStored encodes the batch
  // with BATCH-BOUNDED work and reads the drift denominator from the
  // stored index's persisted d2c column (no corpus re-scoring — the
  // FAISS add/train split as storage layout; CorpusOpsSpec pins the
  // poisoned-stored-vectors proof, T29b streams the lifecycle).
  // Shares l3_ann_incremental's oracle VERBATIM: the gate itself pins
  // stored-state == self-contained, bit for bit.
  private val l3incrStored = QueryDef(
    "l3_ann_incremental_stored",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val e = t(s, dir, "embeddings")
      val train = e.filter(col("vec_id") < 400).select("vec_id", "embedding")
      val batch = e.filter(col("vec_id") >= 400).select("vec_id", "embedding")
      val st = graft.ops.CorpusOps.trainQuantizer(train)
      val idx = graft.ops.CorpusOps.ivfpqEncodeAll(st, train)
      graft.ops.CorpusOps.ivfpqEncodeStored(st, idx, batch).orderBy("vec_id")
    },
    l3incr.oracle)

  // QUANTIZER RE-TRAIN loop closed (l3_ann_retrain): l3_ann_incremental
  // measures the drift ratio "gating when re-training is due" but never
  // acts; CorpusOps.retrainIfDrifted is the reclusterIfDeep /
  // compactIfDegreeHigh discipline applied to the frozen quantizer —
  // the gate probe is the SAME decimal-exact ratio, and past the gate
  // the coarse centroids re-train on the CURRENT corpus (2 L2 Lloyd
  // rounds from the deterministic first-32 init), EVERY vector
  // re-assigns, the residual codebook re-trains, and everything
  // re-encodes. The fixture batch (vec_id >= 400) arrives SCALED ×2 —
  // cosine-invariant but L2-drifted ~2.9× (measured at every sf), so
  // the 1.5 gate trips deterministically and the ORACLE is the
  // retrained pipeline unrolled (the l3_ann_ivf_kmeans chain in L2 +
  // the l3_ann_incremental codebook chain over the NEW residuals);
  // below-gate frozen pass-through is spec-pinned in CorpusOpsSpec.
  private val l3retrain = QueryDef(
    "l3_ann_retrain",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val e = t(s, dir, "embeddings")
      val train = e.filter(col("vec_id") < 400).select("vec_id", "embedding")
      val batch = e.filter(col("vec_id") >= 400)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double) * 2)").as("embedding"))
      val (out, _) = graft.ops.CorpusOps.retrainIfDrifted(train, batch, 1.5)
      out.orderBy("vec_id")
    },
    Some("""WITH x0 AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
            |                   CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
            |x AS (SELECT vec_id, d, CASE WHEN vec_id >= 400 THEN v * 2 ELSE v END AS v FROM x0),
            |fcd AS (SELECT a.vec_id AS vid, c.vec_id AS cid,
            |               round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
            |        FROM x a JOIN x c ON c.d = a.d AND c.vec_id < 32
            |        GROUP BY a.vec_id, c.vec_id),
            |fasg AS (SELECT vid, cid, d2c FROM (
            |        SELECT vid, cid, d2c,
            |               row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
            |        FROM fcd) WHERE rn = 1),
            |dr AS (SELECT round(bm.m / tm.m, 6) AS drift FROM
            |       (SELECT CAST(SUM(CAST(d2c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
            |        FROM fasg WHERE vid >= 400) bm,
            |       (SELECT CAST(SUM(CAST(d2c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
            |        FROM fasg WHERE vid < 400) tm),
            |k0 AS (SELECT vec_id AS cid, d, v FROM x WHERE vec_id < 32),
            |kd1 AS (SELECT a.vec_id AS vid, c.cid,
            |               round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
            |        FROM x a JOIN k0 c ON c.d = a.d GROUP BY a.vec_id, c.cid),
            |ka1 AS (SELECT vid, cid FROM (
            |        SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
            |        FROM kd1) WHERE rn = 1),
            |kc1 AS (SELECT a.cid, x.d, round(AVG(x.v), 6) AS v
            |        FROM ka1 a JOIN x ON x.vec_id = a.vid GROUP BY a.cid, x.d),
            |kd2 AS (SELECT a.vec_id AS vid, c.cid,
            |               round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
            |        FROM x a JOIN kc1 c ON c.d = a.d GROUP BY a.vec_id, c.cid),
            |ka2 AS (SELECT vid, cid FROM (
            |        SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
            |        FROM kd2) WHERE rn = 1),
            |kc2 AS (SELECT a.cid, x.d, round(AVG(x.v), 6) AS v
            |        FROM ka2 a JOIN x ON x.vec_id = a.vid GROUP BY a.cid, x.d),
            |acd AS (SELECT a.vec_id AS vid, c.cid,
            |               round(SUM((a.v - c.v) * (a.v - c.v)), 6) AS d2c
            |        FROM x a JOIN kc2 c ON c.d = a.d GROUP BY a.vec_id, c.cid),
            |aasg AS (SELECT vid, cid, d2c FROM (
            |        SELECT vid, cid, d2c,
            |               row_number() OVER (PARTITION BY vid ORDER BY d2c, cid) AS rn
            |        FROM acd) WHERE rn = 1),
            |res AS (SELECT a.vid AS vec_id, x.d, x.v - c.v AS v
            |        FROM aasg a JOIN x ON x.vec_id = a.vid
            |        JOIN kc2 c ON c.cid = a.cid AND c.d = x.d),
            |sv AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM res),
            |cb0 AS (SELECT sub, vec_id AS cid, sd, v AS cv FROM sv WHERE vec_id < 16),
            |d2a AS (SELECT s.vec_id, s.sub, c.cid,
            |               round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
            |        FROM sv s JOIN cb0 c ON c.sub = s.sub AND c.sd = s.sd
            |        GROUP BY s.vec_id, s.sub, c.cid),
            |as1 AS (SELECT vec_id, sub, cid FROM (
            |        SELECT vec_id, sub, cid,
            |               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
            |        FROM d2a) WHERE rn = 1),
            |cb1 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
            |        FROM as1 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
            |        GROUP BY s.sub, a.cid, s.sd),
            |d2b AS (SELECT s.vec_id, s.sub, c.cid,
            |               round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
            |        FROM sv s JOIN cb1 c ON c.sub = s.sub AND c.sd = s.sd
            |        GROUP BY s.vec_id, s.sub, c.cid),
            |as2 AS (SELECT vec_id, sub, cid FROM (
            |        SELECT vec_id, sub, cid,
            |               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
            |        FROM d2b) WHERE rn = 1),
            |cb2 AS (SELECT s.sub, a.cid, s.sd, round(AVG(s.v), 6) AS cv
            |        FROM as2 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
            |        GROUP BY s.sub, a.cid, s.sd),
            |ed AS (SELECT s.vec_id, s.sub, c.cid,
            |              round(SUM((s.v - c.cv) * (s.v - c.cv)), 6) AS d2r
            |       FROM sv s JOIN cb2 c ON c.sub = s.sub AND c.sd = s.sd
            |       GROUP BY s.vec_id, s.sub, c.cid),
            |codes AS (SELECT vec_id, sub, cid AS code FROM (
            |        SELECT vec_id, sub, cid,
            |               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2r, cid) AS rn
            |        FROM ed) WHERE rn = 1),
            |csum AS (SELECT vec_id,
            |                CAST(SUM(code * CAST(power(16, sub) AS BIGINT)) AS BIGINT) AS code_sum
            |         FROM codes GROUP BY vec_id)
            |SELECT a.vid AS vec_id, a.cid, a.d2c, c.code_sum, dr.drift
            |FROM aasg a JOIN csum c ON c.vec_id = a.vid, dr
            |ORDER BY vec_id""".stripMargin))

  // ---------------------------------------------------------------- L4
  private def stopCount(langWords: Seq[String]): String =
    s"size(filter(ws, x -> x in (${langWords.map(w => s"'$w'").mkString(", ")})))"
  private def stopCountDuck(langWords: Seq[String]): String =
    s"len(list_filter(ws, x -> x IN (${langWords.map(w => s"'$w'").mkString(", ")})))"

  private val enS = TextScores.enStopwords
  private val deS = Seq("der", "die", "das", "und")
  private val esS = Seq("el", "la", "los", "y")
  private val frS = Seq("le", "les", "et", "des")

  /** Quality score in DuckDB SQL — the oracle twin of
    * [[graft.ops.TextScores.quality]], which l4_quality, l6_corpus_clean
    * and the TrainDataPipeline gate call directly — one definition per
    * engine so the oracles can never drift apart. */
  private def qualityDuck(nTok: String, stopN: String): String =
    s"""round(0.4 * least(CAST($nTok AS DOUBLE) / 100.0, 1.0) + 0.3 * least(CAST($stopN AS DOUBLE) / $nTok * 5.0, 1.0) + 0.3, 6)"""

  /** Language pick over the four stopword counts — shared likewise. */
  private val langPredCol: Column =
    when(greatest(col("en_n"), col("de_n"), col("es_n"), col("fr_n")) === 0, "und")
      .when(col("en_n") >= greatest(col("de_n"), col("es_n"), col("fr_n")), "en")
      .when(col("de_n") >= greatest(col("es_n"), col("fr_n")), "de")
      .when(col("es_n") >= col("fr_n"), "es")
      .otherwise("fr")

  private val langPredDuck: String =
    """CASE WHEN greatest(en_n, de_n, es_n, fr_n) = 0 THEN 'und'
      |     WHEN en_n >= greatest(de_n, es_n, fr_n) THEN 'en'
      |     WHEN de_n >= greatest(es_n, fr_n) THEN 'de'
      |     WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END""".stripMargin

  private val l4lang = QueryDef(
    "l4_langid",
    (s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"),
          TextScores.stopCountEn(col("ws")).as("en_n"), expr(stopCount(deS)).as("de_n"),
          expr(stopCount(esS)).as("es_n"), expr(stopCount(frS)).as("fr_n"))
        .withColumn("pred", langPredCol)
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |x AS (SELECT doc_id,
            |  ${stopCountDuck(enS)} AS en_n, ${stopCountDuck(deS)} AS de_n,
            |  ${stopCountDuck(esS)} AS es_n, ${stopCountDuck(frS)} AS fr_n FROM w)
            |SELECT doc_id, en_n, de_n, es_n, fr_n,
            |  $langPredDuck AS pred
            |FROM x ORDER BY doc_id""".stripMargin))

  private val l4quality = QueryDef(
    "l4_quality",
    (s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("stop_n", TextScores.stopCountEn(col("ws")))
        .select(col("doc_id"), col("n_tok"),
          ((length(col("text")) - col("n_tok") + 1).cast("double") / col("n_tok")).as("avg_wlen"),
          (col("stop_n").cast("double") / col("n_tok")).as("stop_ratio"),
          TextScores.quality(col("n_tok"), col("stop_n")).as("quality"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
            x AS (SELECT doc_id, len(ws) AS n_tok,
                    len(list_filter(ws, t -> t IN ('the','a','and','of'))) AS stop_n,
                    length(text) AS n_ch FROM w)
            SELECT doc_id, n_tok,
              CAST(n_ch - n_tok + 1 AS DOUBLE) / n_tok AS avg_wlen,
              CAST(stop_n AS DOUBLE) / n_tok AS stop_ratio,
              ${qualityDuck("n_tok", "stop_n")} AS quality
            FROM x ORDER BY doc_id"""))

  private val l4tokens = QueryDef(
    "l4_tokens",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("n_re"),
          size(array_distinct(split(col("text"), " "))).as("n_uniq"),
          size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("n_sub"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              len(string_split(text, ' ')) AS n_ws,
              len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re,
              len(list_distinct(string_split(text, ' '))) AS n_uniq,
              len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_sub
            FROM documents ORDER BY doc_id"""))

  private val l4tfidf = QueryDef(
    "l4_tfidf",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // corpus size as a broadcast 1-row aggregate (scalar-subquery
      // shape): construction stays action-free
      val nd = broadcast(d.agg(count(lit(1)).cast("double").as("n_docs")))
      val tok = d.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      val tf = tok.groupBy("lang", "word").agg(count(lit(1)).as("tf"))
      val df = tok.select("doc_id", "word").distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word").crossJoin(nd)
        .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      val w = Window.partitionBy("lang").orderBy(col("tfidf").desc, col("word").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("word"), round(col("tfidf"), 6).as("score"))
        .orderBy("lang", "rn")
    },
    Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
            tf AS (SELECT lang, word, count(*) AS tf FROM tok GROUP BY lang, word),
            df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word),
            scored AS (SELECT lang, word, tf,
                tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) AS tfidf
              FROM tf JOIN df USING (word)),
            r AS (SELECT lang, word, tfidf,
                         row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, word) AS rn
                  FROM scored)
            SELECT lang, rn, word, round(tfidf, 6) AS score
            FROM r WHERE rn <= 5 ORDER BY lang, rn"""))

  // Bigram language-model scoring (the CCNet/perplexity-filter
  // semantic): an add-one-smoothed bigram LM with counts from the
  // corpus itself scores every doc's cross-entropy
  // avg(-ln((c(w1 w2)+1)/(c(w1 .)+V))) and perplexity exp(xent) —
  // low = fluent/common, high = atypical (a production pipeline
  // trains the LM on a reference corpus instead; the plumbing is
  // identical). Scale shape: the count tables and vocab scalar are
  // aggregate-sized and join AGGREGATE-side first (cb ⋈ cu is
  // vocab²-bounded), so the occurrence-level table shuffles once for
  // the probability lookup and once for the per-doc avg — same class
  // as tf-idf. Determinism: counts are exact integers, the division
  // is one IEEE op, and ln differs across engines by <= 1 ulp —
  // absorbed by round 6 on the per-doc average (the l4_tfidf
  // precedent).
  /** (doc_id, n_bigrams, x) — the add-one-smoothed bigram-LM per-doc
    * cross-entropy over `docs` (counts from the corpus itself; see the
    * l4_lm_score notes above). Shared by l4_lm_score and
    * l8_ppl_bucket. */
  private def lmXent(docs: DataFrame): DataFrame = {
    val bi = bigramRows(docs)
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = bi.groupBy("w1").agg(count(lit(1)).as("cu"))
    val v = broadcast(bi.agg(countDistinct(col("w2")).cast("double").as("v")))
    val prob = cb.join(cu, "w1").crossJoin(v)
      .select(col("w1"), col("w2"),
        (-log((col("cb") + 1) / (col("cu") + col("v")))).as("nlp"))
    bi.join(prob, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg(col("nlp")).as("x"))
  }

  /** The `w` (doc_id, ws) and `bi` (doc_id, w1, w2) CTEs — the bigram
    * occurrence rows in DuckDB SQL, shared by the bigram-LM oracles. */
  private val bigramCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bi AS (SELECT doc_id,
      |         string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      |       FROM (SELECT doc_id, unnest(list_transform(
      |               generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])) AS bg
      |             FROM w WHERE len(ws) >= 2))""".stripMargin

  /** CTE chain ending in `agg(doc_id, n_bigrams, x)` — the bigram-LM
    * per-doc cross-entropy, independently spelled in DuckDB SQL.
    * Shared by the l4_lm_score and l8_ppl_bucket oracles. */
  private val lmCte =
    s"""$bigramCte,
      |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
      |cu AS (SELECT w1, count(*) AS cu FROM bi GROUP BY w1),
      |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM bi),
      |sc AS (SELECT doc_id, -ln((cb + 1) / (cu + v.v)) AS nlp
      |       FROM bi JOIN cb USING (w1, w2) JOIN cu USING (w1), v),
      |agg AS (SELECT doc_id, count(*) AS n_bigrams, avg(nlp) AS x
      |        FROM sc GROUP BY doc_id)""".stripMargin

  private val l4lm = QueryDef(
    "l4_lm_score",
    (s, dir) => lmXent(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("x"), 6).as("xent"), round(exp(col("x")), 6).as("ppl"))
      .orderBy("doc_id"),
    Some(s"""WITH $lmCte
            |SELECT doc_id, n_bigrams, round(x, 6) AS xent, round(exp(x), 6) AS ppl
            |FROM agg ORDER BY doc_id""".stripMargin))

  // KNESER-NEY bigram LM scoring (l4_kn_lm): l4_lm_score's add-one
  // smoothing is the textbook baseline; INTERPOLATED KNESER-NEY with
  // absolute discounting (Kneser & Ney 1995, Chen & Goodman 1998) is
  // what production perplexity filters actually train:
  //
  //   P(w2|w1) = (c(w1w2) − D)/c(w1·)
  //            + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
  //
  // with D = 0.75 — the discounted bigram estimate backed off to the
  // CONTINUATION probability (how many distinct contexts w2 follows,
  // not how often: the "San Francisco" correction — "Francisco" is
  // frequent but only ever follows "San", so its continuation mass is
  // tiny). Only corpus-observed bigrams are scored (the l4_lm_score
  // convention), so c >= 1 > D and the max(·,0) clamp is vacuous.
  // Scale shape: the type-count tables (c, N1+ forward/backward) are
  // vocab-bounded aggregates — cu and N1+(w1·) share ONE w1-keyed
  // aggregate — N1+(··) rides as a broadcast 1-row scalar, and the
  // occurrence table shuffles once for the probability lookup, once
  // for the per-doc avg. Determinism: counts exact, the probability
  // is a SPELLED left-assoc chain of IEEE ops identical in both
  // engines, ln's <= 1 ulp dies at round 6 on the per-doc avg.
  private val l4kn = QueryDef(
    "l4_kn_lm",
    (s, dir) => {
      val bi = bigramRows(t(s, dir, "documents"))
      val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val ctx = bi.groupBy("w1")
        .agg(count(lit(1)).as("cu"), countDistinct("w2").as("n1f"))
      val cont = bi.groupBy("w2").agg(countDistinct("w1").as("n1p"))
      val nall = broadcast(cb.agg(count(lit(1)).cast("double").as("nall")))
      val prob = cb.join(ctx, "w1").join(cont, "w2").crossJoin(nall)
        .select(col("w1"), col("w2"),
          (-log((col("cb") - lit(0.75)) / col("cu")
            + lit(0.75) * col("n1f") / col("cu") * col("n1p") / col("nall"))).as("nlp"))
      bi.join(prob, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), avg(col("nlp")).as("x"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("x"), 6).as("xent"), round(exp(col("x")), 6).as("ppl"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $bigramCte,
            |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
            |ctx AS (SELECT w1, count(*) AS cu, count(DISTINCT w2) AS n1f
            |        FROM bi GROUP BY w1),
            |cont AS (SELECT w2, count(DISTINCT w1) AS n1p FROM bi GROUP BY w2),
            |nall AS (SELECT CAST(count(*) AS DOUBLE) AS nall FROM cb),
            |sc AS (SELECT doc_id,
            |         -ln((cb - 0.75) / cu + 0.75 * n1f / cu * n1p / nall.nall) AS nlp
            |       FROM bi JOIN cb USING (w1, w2) JOIN ctx USING (w1)
            |            JOIN cont USING (w2), nall),
            |agg AS (SELECT doc_id, count(*) AS n_bigrams, avg(nlp) AS x
            |        FROM sc GROUP BY doc_id)
            |SELECT doc_id, n_bigrams, round(x, 6) AS xent, round(exp(x), 6) AS ppl
            |FROM agg ORDER BY doc_id""".stripMargin))

  // Rolling polynomial hash over the raw characters (mod 1e9+7), the
  // classic document fingerprint; plus a sha-prefix content id.
  private val l4fp = QueryDef(
    "l4_fingerprint",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          expr("aggregate(transform(split(text, ''), c -> cast(ascii(c) as bigint)), 0L, (a, b) -> (a * 31 + b) % 1000000007)").as("fp"),
          substring(sha2(col("text"), 256), 1, 16).as("content_id"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007) AS fp,
              substr(sha256(text), 1, 16) AS content_id
            FROM documents ORDER BY doc_id"""))

  // Winnowing fingerprints (the MOSS local-sketch algorithm): over
  // each doc's POSITIONAL word-3-gram hash sequence, every window of
  // w=4 consecutive hashes contributes its minimum (ties → rightmost
  // position, per the paper), and the distinct selected (pos, hash)
  // set is the sketch. The winnowing guarantee: any shared run of
  // >= w+k-1 words between two docs yields at least one shared sketch
  // entry — substring-granularity dedup/attribution that whole-doc
  // hashing (l4_fingerprint) and set-Jaccard (l2) both miss.
  // Row-local HOF pipeline (positions matter, so the DISTINCT-set
  // shingle kernel does not apply): shuffle-free except the output
  // sort; the sketch leaves the row as scalars (size + 60-bit
  // checksum over the position-sorted entries) per the flat-output
  // contract. A native one-pass kernel is the codegen upgrade if
  // sketching ever dominates a profile.
  /** CTE chain ending in `d(doc_id, p, h)` — the distinct winnow
    * sketch entries per doc (and `g` with the positional gram arrays).
    * Shared by the l4_winnow sketch oracle and the l2_winnow_pairs
    * oracle. */
  private val winnowEntriesCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
      |        THEN list_transform(generate_series(1, len(ws) - 2),
      |             i -> CAST(concat('0x', substr(sha256(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)) AS BIGINT))
      |        ELSE [CAST(concat('0x', substr(sha256(array_to_string(ws, ' ')), 1, 15)) AS BIGINT)] END AS gs
      |      FROM w),
      |p AS (SELECT doc_id, gs,
      |        list_transform(generate_series(1, len(gs)), i -> {'h': gs[i], 'p': i - 1}) AS pg,
      |        GREATEST(1, len(gs) - 3) AS nw FROM g),
      |m AS (SELECT doc_id, gs, list_transform(generate_series(0, nw - 1), j ->
      |        list_reduce(list_concat([{'h': 9223372036854775807, 'p': -1}], pg[j+1:j+4]),
      |          (acc, x) -> CASE WHEN x.h < acc.h OR (x.h = acc.h AND x.p > acc.p)
      |                      THEN x ELSE acc END)) AS mins
      |      FROM p),
      |u AS (SELECT doc_id, unnest(mins) AS x FROM m),
      |d AS (SELECT DISTINCT doc_id, x.p AS p, x.h AS h FROM u)""".stripMargin

  private val l4winnow =
    QueryDef(
      "l4_winnow",
      (s, dir) => {
        graft.ops.CorpusOps.winnowSketches(t(s, dir, "documents"))
          .select(col("doc_id"), col("n_grams"),
            size(col("sketch")).as("sketch_size"),
            sha60(expr("array_join(transform(sketch, x -> concat(x.p, ':', x.h)), ',')"))
              .as("sketch_csum"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $winnowEntriesCte,
             |a AS (SELECT doc_id, count(*) AS sketch_size,
             |        list(concat(p, ':', h) ORDER BY p) AS parts FROM d GROUP BY doc_id),
             |n AS (SELECT doc_id, len(gs) AS n_grams FROM g)
             |SELECT n.doc_id, n.n_grams, a.sketch_size,
             |  CAST(concat('0x', substr(sha256(array_to_string(a.parts, ',')), 1, 15)) AS BIGINT) AS sketch_csum
             |FROM n JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin))

  // Winnow-sketch PAIR listing — substring-level near-dup pairs: every
  // pair of docs sharing >= 3 distinct sketch hashes (each shared
  // entry witnesses a shared >= 6-word run, the MOSS guarantee). This
  // is the duplication class set-Jaccard (l2_jaccard_pairs) and whole-
  // doc hashing (l1) both structurally miss: a paragraph copied
  // between two otherwise-different docs. Inverted-index join with a
  // df <= 16 boilerplate cap (see CorpusOps.winnowPairs for the
  // candidate-volume argument). The oracle replays sketch + index +
  // pair count in SQL off the shared winnow CTE.
  private val l2winnowPairs = QueryDef(
    "l2_winnow_pairs",
    (s, dir) => graft.ops.CorpusOps.winnowPairs(t(s, dir, "documents"))
      .orderBy("d1", "d2"),
    Some(s"""WITH $winnowEntriesCte,
            |dh AS (SELECT DISTINCT doc_id, h FROM d),
            |rare AS (SELECT doc_id, h FROM dh
            |         WHERE h IN (SELECT h FROM dh GROUP BY h HAVING count(*) <= 16)),
            |pp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
            |       FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
            |       GROUP BY a.doc_id, b.doc_id)
            |SELECT d1, d2, n_shared FROM pp WHERE n_shared >= 3
            |ORDER BY d1, d2""".stripMargin))

  // Character-entropy quality signal (bits/char): low entropy flags
  // repeated-character/boilerplate garbage, high entropy flags
  // random-byte/encoding noise — the distribution-level complement to
  // the word-level l8_repetition filter and the ratio-based
  // l4_quality score. H = log2(n) - Σ c·log2(c) / n over per-doc
  // char counts — the identity keeps the aggregation two-stage and
  // partial-aggregatable (no per-row n needed inside the inner agg).
  // Scale shape: the exploded char rows combine map-side to one row
  // per (doc, distinct char) — the shuffle carries ~alphabet-size
  // rows per doc (longs), the l4_tokens word-count class, not the
  // raw character volume. (A single-pass native kernel à la
  // shingle_sha60 would make it shuffle-free; the agg spelling is
  // kept because it is partial-aggregatable and oracle-mirrored
  // term-for-term.) Rounding to 6dp absorbs float-summation-order
  // differences per the repo determinism rule.
  private val l4entropy = QueryDef(
    "l4_entropy",
    (s, dir) => {
      val cc = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      cc.groupBy("doc_id")
        .agg(sum(col("c")).as("n_ch"),
             count(lit(1)).as("n_distinct"),
             sum(col("c").cast("double") * log2(col("c").cast("double"))).as("sc"))
        .select(col("doc_id"), col("n_ch"), col("n_distinct"),
          round(log2(col("n_ch").cast("double")) - col("sc") / col("n_ch"), 6).as("entropy"))
        .orderBy("doc_id")
    },
    Some("""WITH cc AS (SELECT doc_id, ch, count(*) AS c FROM (
              SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents) GROUP BY 1, 2),
            e AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ch, count(*) AS n_distinct,
                         SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS sc
                  FROM cc GROUP BY doc_id)
            SELECT doc_id, n_ch, n_distinct,
                   round(log2(CAST(n_ch AS DOUBLE)) - sc / n_ch, 6) AS entropy
            FROM e ORDER BY doc_id"""))

  // ---------------------------------------------------------------- L6
  // End-to-end corpus cleanup — the composition a training-data
  // pipeline actually runs: quality gate (>= 0.6), language-ID
  // annotation, exact-dup keeper (min doc_id per sha256), and
  // near-dup removal (drop the larger id of every exact-Jaccard >= 0.8
  // pair from the prefix-filter pipeline). All four stages are
  // corpus-parallel: two shuffles for the near-dup pair set, one
  // hash-agg for exact dedup, zero for the row-local stages.
  /** The cleaned corpus derived from a shared [[graft.ops.CleanupStages]]
    * — public so a pipeline publishing BOTH the cleaned table and its
    * funnel accounting (see [[filterFunnel]]) builds the expensive
    * stages once (the realistic run shape; plan-contract-pinned).
    *
    * keeper selection is a SEMI JOIN on the hash-agg'd keeper ids, not
    * a row_number window over sha2(text): the window would shuffle
    * every annotated column (including the split-word array)
    * partitioned by content hash just to pick min(doc_id) per group —
    * the semi join shuffles doc_ids only, and the keeper table is in
    * the stages product anyway for the near-dup stage. rn = 1 under
    * (partitionBy sha2 orderBy doc_id) is exactly doc_id = min(doc_id)
    * within the sha2 group; texts within a group are identical, so the
    * hash-agg's any_value is exact. */
  def corpusClean(docs: DataFrame, stages: graft.ops.CleanupStages): DataFrame = {
    val annotated = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_tok", size(col("ws")))
      .withColumn("en_n", TextScores.stopCountEn(col("ws"))).withColumn("de_n", expr(stopCount(deS)))
      .withColumn("es_n", expr(stopCount(esS))).withColumn("fr_n", expr(stopCount(frS)))
      .withColumn("quality", TextScores.quality(col("n_tok"), col("en_n"))) // en stopwords = quality stoplist
      .withColumn("pred", langPredCol)
    annotated
      .filter(col("quality") >= 0.6)
      .join(stages.keepers.select("doc_id"), Seq("doc_id"), "semi")
      .join(stages.nearDupDropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("pred").as("lang_pred"), col("n_tok"), col("quality"))
      .orderBy("doc_id")
  }

  private val l6clean = QueryDef(
    "l6_corpus_clean",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      corpusClean(docs, graft.ops.CleanupStages(docs))
    },
    Some(s"""WITH pairs AS ($jaccardOracle),
            |q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
            |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of'))) AS stop_n
            |      FROM documents),
            |qual AS (SELECT doc_id, n_tok,
            |        ${qualityDuck("n_tok", "stop_n")} AS quality FROM q),
            |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |lg AS (SELECT doc_id,
            |        ${stopCountDuck(enS)} AS en_n, ${stopCountDuck(deS)} AS de_n,
            |        ${stopCountDuck(esS)} AS es_n, ${stopCountDuck(frS)} AS fr_n FROM w),
            |lp AS (SELECT doc_id, $langPredDuck AS lang_pred FROM lg),
            |keep AS (SELECT doc_id,
            |        row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
            |      FROM documents)
            |SELECT qual.doc_id, lp.lang_pred, qual.n_tok, qual.quality
            |FROM qual JOIN lp USING (doc_id) JOIN keep ON keep.doc_id = qual.doc_id
            |WHERE quality >= 0.6 AND keep.rn = 1
            |  AND qual.doc_id NOT IN (SELECT d2 FROM pairs)
            |ORDER BY doc_id""".stripMargin))

  // Token-budget shard packing — deterministic sequence packing for
  // training shards: per language, docs in doc_id order accumulate
  // into shards of ~2048 tokens (cumulative-sum chunking, the standard
  // streaming-pack rule). Packing is per-partition-key (lang), so it
  // parallelizes across groups; at 100 TB you'd sub-salt each language
  // into (lang, hash-bucket) groups and pack within each — same plan,
  // finer keys. Integer cumulative sums -> exact in both engines.
  private val l6pack = QueryDef(
    "l6_pack_shards",
    (s, dir) => {
      val budget = 2048
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("shard", floor((col("cum") - col("n_tok")) / budget))
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
             min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang", "shard")
    },
    Some("""WITH x AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
            c AS (SELECT lang, doc_id, n_tok,
                    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum FROM x)
            SELECT lang, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS shard,
                   COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
                   MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
            FROM c GROUP BY lang, shard ORDER BY lang, shard"""))

  // Filter FUNNEL — per-stage removal accounting for the l6 cleanup
  // cascade (quality gate -> exact-dup keeper -> near-dup drop), the
  // observability table a production pipeline publishes with every
  // run: each stage's input count, removals, survivors, and removal
  // fraction, in cascade order (stage N sees only stage N-1's
  // survivors, exactly as l6_corpus_clean composes them). One pass:
  // per-doc flags are computed corpus-parallel (the keeper and
  // near-dup sides are the same tables l6 builds), collapsed by a
  // single partial-aggregatable conditional-count aggregate, and the
  // three stage rows come from exploding a 3-element literal over the
  // 1-row result — no per-stage rescan, no driver-side counting. The
  // near-dup drop set is computed over exact-keepers only; the oracle
  // uses full-corpus pairs — provably the same set (see l6 notes).
  /** Per-stage removal accounting over the SAME shared stages as
    * [[corpusClean]] — one [[graft.ops.CleanupStages]] instance serves
    * both outputs, so the pair pipeline runs once per pipeline run. */
  def filterFunnel(docs: DataFrame, stages: graft.ops.CleanupStages): DataFrame = {
      val flagged = docs
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("stop_n", TextScores.stopCountEn(col("ws")))
        .select(col("doc_id"), (TextScores.quality(col("n_tok"), col("stop_n")) >= 0.6).as("q_ok"))
      val nearDrop = stages.nearDupDropIds.withColumn("is_near", lit(true))
      val c = flagged
        .join(stages.keepers.select(col("doc_id"), lit(true).as("is_keeper")), Seq("doc_id"), "left")
        .join(nearDrop, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("c0"),
          count(when(col("q_ok"), 1)).as("c1"),
          count(when(col("q_ok") && col("is_keeper").isNotNull, 1)).as("c2"),
          count(when(col("q_ok") && col("is_keeper").isNotNull && col("is_near").isNull, 1)).as("c3"))
      c.select(explode(array(
          struct(lit(1).as("stage_id"), lit("quality_gate").as("stage"),
            col("c0").as("docs_in"), (col("c0") - col("c1")).as("removed"), col("c1").as("docs_out")),
          struct(lit(2).as("stage_id"), lit("exact_dedup").as("stage"),
            col("c1").as("docs_in"), (col("c1") - col("c2")).as("removed"), col("c2").as("docs_out")),
          struct(lit(3).as("stage_id"), lit("near_dedup").as("stage"),
            col("c2").as("docs_in"), (col("c2") - col("c3")).as("removed"), col("c3").as("docs_out"))))
          .as("st"))
        .select(col("st.*"))
        .withColumn("removal_frac", round(col("removed").cast("double") / col("docs_in"), 6))
        .orderBy("stage_id")
  }

  private val l6funnel = QueryDef(
    "l6_filter_funnel",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      filterFunnel(docs, graft.ops.CleanupStages(docs))
    },
    Some(s"""WITH $jaccardPairsCte,
            |q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
            |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of'))) AS stop_n
            |      FROM documents),
            |fl AS (SELECT doc_id, (${qualityDuck("n_tok", "stop_n")} >= 0.6) AS q_ok FROM q),
            |keep AS (SELECT doc_id,
            |        row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
            |      FROM documents),
            |nd AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
            |ff AS (SELECT fl.doc_id, q_ok, keep.rn = 1 AS is_keeper,
            |              nd.doc_id IS NOT NULL AS is_near
            |       FROM fl JOIN keep ON keep.doc_id = fl.doc_id
            |       LEFT JOIN nd ON nd.doc_id = fl.doc_id),
            |c AS (SELECT count(*) AS c0,
            |             count(CASE WHEN q_ok THEN 1 END) AS c1,
            |             count(CASE WHEN q_ok AND is_keeper THEN 1 END) AS c2,
            |             count(CASE WHEN q_ok AND is_keeper AND NOT is_near THEN 1 END) AS c3
            |      FROM ff)
            |SELECT stage_id, stage, docs_in, removed, docs_out,
            |       round(CAST(removed AS DOUBLE) / docs_in, 6) AS removal_frac
            |FROM (
            |  SELECT 1 AS stage_id, 'quality_gate' AS stage, c0 AS docs_in, c0 - c1 AS removed, c1 AS docs_out FROM c
            |  UNION ALL SELECT 2, 'exact_dedup', c1, c1 - c2, c2 FROM c
            |  UNION ALL SELECT 3, 'near_dedup', c2, c2 - c3, c3 FROM c)
            |ORDER BY stage_id""".stripMargin))

  // ---------------------------------------------------------------- L5b
  // Multimodal pipeline through the oracle gate: documents become
  // media rows whose payloads are REAL format bytes for image and
  // audio — spec-valid BMP files (BITMAPFILEHEADER+BITMAPINFOHEADER +
  // padded pixel array), baseline JPEG headers (SOI/APP0/COM/SOF0
  // marker stream, big-endian u16 dims — the most common real image
  // format, parsed by an actual marker WALK, not fixed offsets),
  // minimal spec-valid PNGs (signature + IHDR + IEND with REAL CRC32s,
  // decoded by a chunk walk that VERIFIES every checksum), and
  // canonical PCM WAV files (RIFF chunk layout), and CBR MPEG-1
  // Layer III streams (real frame-header walk with the spec
  // bitrate/rate tables) built row-side, then DECODED from those
  // actual bytes by the pure-JVM parsers in
  // MediaCodec. Video keeps the documented `grft` stub header (frame
  // extraction needs a real codec library this container doesn't
  // ship). Decode runs per-partition (mapPartitions, one codec per
  // partition), then resize-plan (maxSide=256) and frame-sampling
  // (stride 2, explode + re-agg). The oracle reproduces the same
  // metadata arithmetically (BMP row stride ((3w+3)//4)*4, JPEG
  // header size 45 + comment bytes, WAV data size frames*channels*2,
  // MP3 stream size frames * (144*128000 // rate), PNG constant 45)
  // — so a parser bug that misreads actual bytes hash-fails the row.
  private val l5media = QueryDef(
    "l5_media_pipeline",
    (s, dir) => {
      import graft.multimodal.Multimodal
      // parameter derivations must not be collapsed by their own arm
      // gate: under `id % 8 == k`, id % 8 is CONSTANT and id's parity
      // is fixed — so rate/channel/endian indexes derive from id / 8
      // (or id / 6 where the pre-round-10 oracle pinned that spelling)
      val enc = udf((id: Long, text: String) => (id % 8) match {
        case 0 => Multimodal.MediaCodec.encodeBmp(
          (id % 64 + 16).toInt, (id % 48 + 16).toInt)
        case 1 => Multimodal.MediaCodec.encodeWav(
          (8000 + ((id / 8) % 8) * 1000).toInt, (1 + (id / 8) % 2).toInt,
          (id % 100 + 10).toInt)
        case 2 => Multimodal.MediaCodec.encodeJpeg(
          (id % 512 + 32).toInt, (id % 384 + 32).toInt, text.getBytes("UTF-8"))
        case 3 => Multimodal.MediaCodec.encodeMp3(
          Seq(32000, 44100, 48000)(((id / 6) % 3).toInt),
          (1 + (id / 6) % 2).toInt, (id % 30 + 5).toInt)
        case 4 => Multimodal.MediaCodec.encodePng(
          (id % 300 + 20).toInt, (id % 200 + 20).toInt)
        case 5 => Multimodal.MediaCodec.encodeGif(
          (id % 400 + 20).toInt, (id % 250 + 20).toInt, (id % 5 + 1).toInt)
        case 6 => Multimodal.MediaCodec.encodeTiff(
          (id % 600 + 20).toInt, (id % 400 + 20).toInt,
          littleEndian = (id / 8) % 2 == 0)
        case _ => Multimodal.MediaCodec.encodeHeader(
          (id % 640 + 16).toInt, (id % 480 + 16).toInt, (id % 10 + 1).toInt,
          text.getBytes("UTF-8"))
      })
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 8 === 1 || col("doc_id") % 8 === 3, "audio")
          .when(col("doc_id") % 8 === 7, "video")
          .otherwise("image").as("kind"),
        when(col("doc_id") % 8 === 0, "bmp")
          .when(col("doc_id") % 8 === 1, "wav")
          .when(col("doc_id") % 8 === 2, "jpeg")
          .when(col("doc_id") % 8 === 3, "mp3")
          .when(col("doc_id") % 8 === 4, "png")
          .when(col("doc_id") % 8 === 5, "gif")
          .when(col("doc_id") % 8 === 6, "tiff").otherwise("grft").as("fmt"),
        enc(col("doc_id"), col("text")).as("payload"))
      val feats = Multimodal.extractFeatures(media)
      val resize = Multimodal.resizePlan(feats, maxSide = 256)
      val sampled = Multimodal.sampleFrames(feats, stride = 2)
        .groupBy("media_id").agg(count(lit(1)).as("n_sampled"))
      feats.toDF().select("media_id", "kind", "n_bytes", "width", "height", "n_frames")
        .join(resize.select("media_id", "out_w", "out_h", "scale"), "media_id")
        .join(sampled, "media_id")
        .orderBy("media_id")
    },
    Some("""WITH m AS (SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 8 AS INTEGER)
                        WHEN 1 THEN 'audio' WHEN 3 THEN 'audio'
                        WHEN 7 THEN 'video' ELSE 'image' END AS kind,
                   CASE CAST(doc_id % 8 AS INTEGER)
                        WHEN 0 THEN CAST(54 + ((3 * (doc_id % 64 + 16) + 3) // 4) * 4
                                              * (doc_id % 48 + 16) AS INTEGER)
                        WHEN 1 THEN CAST(44 + (doc_id % 100 + 10) * (1 + (doc_id // 8) % 2) * 2 AS INTEGER)
                        WHEN 2 THEN CAST(45 + octet_length(encode(text)) AS INTEGER)
                        WHEN 3 THEN CAST((doc_id % 30 + 5) *
                             (144 * 128000 // (CASE CAST((doc_id // 6) % 3 AS INTEGER)
                              WHEN 0 THEN 32000 WHEN 1 THEN 44100 ELSE 48000 END)) AS INTEGER)
                        WHEN 4 THEN 45
                        WHEN 5 THEN CAST(14 + 12 * (doc_id % 5 + 1) AS INTEGER)
                        WHEN 6 THEN 38
                        ELSE CAST(16 + octet_length(encode(text)) AS INTEGER) END AS n_bytes,
                   CASE CAST(doc_id % 8 AS INTEGER)
                        WHEN 0 THEN CAST(doc_id % 64 + 16 AS INTEGER)
                        WHEN 1 THEN CAST(8000 + ((doc_id // 8) % 8) * 1000 AS INTEGER)
                        WHEN 2 THEN CAST(doc_id % 512 + 32 AS INTEGER)
                        WHEN 3 THEN CAST(CASE CAST((doc_id // 6) % 3 AS INTEGER)
                              WHEN 0 THEN 32000 WHEN 1 THEN 44100 ELSE 48000 END AS INTEGER)
                        WHEN 4 THEN CAST(doc_id % 300 + 20 AS INTEGER)
                        WHEN 5 THEN CAST(doc_id % 400 + 20 AS INTEGER)
                        WHEN 6 THEN CAST(doc_id % 600 + 20 AS INTEGER)
                        ELSE CAST(doc_id % 640 + 16 AS INTEGER) END AS width,
                   CASE CAST(doc_id % 8 AS INTEGER)
                        WHEN 0 THEN CAST(doc_id % 48 + 16 AS INTEGER)
                        WHEN 1 THEN CAST(1 + (doc_id // 8) % 2 AS INTEGER)
                        WHEN 2 THEN CAST(doc_id % 384 + 32 AS INTEGER)
                        WHEN 3 THEN CAST(1 + (doc_id // 6) % 2 AS INTEGER)
                        WHEN 4 THEN CAST(doc_id % 200 + 20 AS INTEGER)
                        WHEN 5 THEN CAST(doc_id % 250 + 20 AS INTEGER)
                        WHEN 6 THEN CAST(doc_id % 400 + 20 AS INTEGER)
                        ELSE CAST(doc_id % 480 + 16 AS INTEGER) END AS height,
                   CASE CAST(doc_id % 8 AS INTEGER)
                        WHEN 0 THEN 1
                        WHEN 1 THEN CAST(doc_id % 100 + 10 AS INTEGER)
                        WHEN 2 THEN 1
                        WHEN 3 THEN CAST(doc_id % 30 + 5 AS INTEGER)
                        WHEN 4 THEN 1
                        WHEN 5 THEN CAST(doc_id % 5 + 1 AS INTEGER)
                        WHEN 6 THEN 1
                        ELSE CAST(doc_id % 10 + 1 AS INTEGER) END AS n_frames
                 FROM documents),
            r AS (SELECT media_id,
                   least(1.0, 256.0 / greatest(width, height)) AS scale FROM m)
            SELECT m.media_id, m.kind, m.n_bytes, m.width, m.height, m.n_frames,
                   CAST(ceil(m.width * r.scale) AS INTEGER) AS out_w,
                   CAST(ceil(m.height * r.scale) AS INTEGER) AS out_h,
                   r.scale,
                   CAST((m.n_frames - 1) // 2 + 1 AS BIGINT) AS n_sampled
            FROM m JOIN r USING (media_id) ORDER BY media_id"""))

  // ---------------------------------------------------------------- L5
  private val l5 = QueryDef(
    "l5_binary_payload",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          sha2(col("text"), 256).as("sha"),
          md5(col("text")).as("md5h"),
          upper(substring(hex(col("text")), 1, 16)).as("hex16"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              octet_length(encode(text)) AS n_bytes,
              sha256(text) AS sha,
              md5(text) AS md5h,
              upper(substr(hex(encode(text)), 1, 16)) AS hex16
            FROM documents ORDER BY doc_id"""))

  // Cluster-keeper selection — the ACTION step after dup clustering:
  // per connected near-dup cluster, the highest-quality doc (shared l4
  // score, doc_id tiebreak) is the canonical keeper and the rest are
  // drop verdicts — the curation rule production dedup actually ships
  // (min-id keeper rules discard the best-written copy). One
  // cluster-keyed window over the cluster-sized table (pair-graph
  // rows, never the corpus) joined to the corpus-parallel quality
  // score. The oracle re-derives clusters from a true recursive-CTE
  // closure, so keeper verdicts are checked against exact connected
  // components, not the engine's own labels.
  private val l6keeper = QueryDef(
    "l6_cluster_keeper",
    (s, dir) => {
      val q = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("stop_n", TextScores.stopCountEn(col("ws")))
        .select(col("doc_id"), TextScores.quality(col("n_tok"), col("stop_n")).as("quality"))
      val w = Window.partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
      graft.ops.CorpusOps.dupClusters(jaccardPairs(s, dir))
        .join(q, "doc_id")
        .withColumn("rn", row_number().over(w))
        .select(col("cluster_id"), col("doc_id"), col("quality"),
          (col("rn") === 1).as("is_keeper"))
        .orderBy("cluster_id", "doc_id")
    },
    Some(s"""WITH RECURSIVE $jaccardPairsCte,
            |${closureCte("pairs")},
            |qq AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |qn AS (SELECT doc_id, len(ws) AS n_tok, ${stopCountDuck(enS)} AS stop_n FROM qq),
            |ql AS (SELECT doc_id, ${qualityDuck("n_tok", "stop_n")} AS quality FROM qn),
            |r AS (SELECT comp.cluster_id, comp.doc_id, ql.quality,
            |        row_number() OVER (PARTITION BY cluster_id
            |                           ORDER BY quality DESC, comp.doc_id) AS rn
            |      FROM comp JOIN ql ON ql.doc_id = comp.doc_id)
            |SELECT cluster_id, doc_id, quality, rn = 1 AS is_keeper
            |FROM r ORDER BY cluster_id, doc_id""".stripMargin))

  // Binary near-dup — the multimodal dedup class exact hashing (l5)
  // misses: two payloads differing by a small edit (re-encoded header,
  // retouched region, appended metadata) share most byte 4-grams, so
  // their byte-level SimHash signatures sit within a small Hamming
  // radius. Pipeline: payload bytes -> overlapping byte-4-gram strings
  // over the hex encoding (row-local HOFs) -> distinct-gram 60-bit
  // hashes -> the native simhash_sig kernel -> l2_simhash's
  // CorpusOps.simhashPairs chunk banding (background candidates stay
  // linear as the corpus grows). The
  // fixture payload is the UTF-8 text bytes — real media payloads flow
  // through the identical plan (the signature never looks inside the
  // gram strings). Candidates are banded, never all-pairs; signatures
  // are the only corpus-crossing state (media_id, long).
  private val l5neardup = QueryDef(
    "l5_binary_neardup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sig = docs
        .select(col("doc_id").as("media_id"), upper(hex(col("text").cast("binary"))).as("hx"))
        .withColumn("gs", expr(
          """array_distinct(CASE WHEN length(hx) >= 8
            | THEN transform(sequence(0, CAST(length(hx) / 2 AS INT) - 4), i -> substring(hx, 2*i+1, 8))
            | ELSE array(hx) END)""".stripMargin))
        .select(col("media_id"),
          graft.functions.SimHashExprs.simhash_sig(expr(
            // coalesce keeps the lambda non-nullable (conv is nullable
            // to Catalyst) so the array satisfies the kernel's
            // containsNull=false contract; the 0L arm never fires
            "transform(gs, g -> coalesce(cast(conv(substring(sha2(g, 256), 1, 15), 16, 10) as bigint), 0L))")).as("sig"))
      simhashPairs(sig, docs.count(), ("m1", "m2")).orderBy("m1", "m2")
    },
    Some("""WITH bn AS (SELECT doc_id AS media_id, upper(hex(encode(text))) AS hx FROM documents),
            g AS (SELECT media_id, CASE WHEN len(hx) >= 8
                    THEN list_distinct(list_transform(generate_series(0, len(hx) // 2 - 4), i -> substr(hx, 2*i+1, 8)))
                    ELSE [hx] END AS gs FROM bn),
            h AS (SELECT media_id, CAST(concat('0x', substr(sha256(gg), 1, 15)) AS BIGINT) AS h
                  FROM (SELECT media_id, unnest(gs) AS gg FROM g)),
            bits AS (SELECT media_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS bs
                     FROM h, (SELECT unnest(range(0,60)) AS i) t GROUP BY media_id, i),
            sig AS (SELECT media_id, CAST(SUM(CASE WHEN bs > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sig
                    FROM bits GROUP BY media_id),
            nn AS (SELECT count(*) AS n FROM documents),
            prm AS (SELECT GREATEST(6, (SELECT MIN(b) FROM (SELECT unnest(range(0,62)) AS b)
                    WHERE (1::BIGINT << b) >= (SELECT (n + 511) // 512 FROM nn))) AS w),
            prm2 AS (SELECT w, CAST((60 + w - 1) // w AS INT) AS k FROM prm),
            ch AS (SELECT media_id, sig, c,
                    (sig >> (c * (SELECT w FROM prm2))) &
                    ((1::BIGINT << LEAST((SELECT w FROM prm2), 60 - c * (SELECT w FROM prm2))) - 1) AS v
                   FROM sig, (SELECT unnest(range(0, (SELECT k FROM prm2))) AS c) t),
            cand AS (SELECT DISTINCT x.media_id AS m1, x.sig AS s1, y.media_id AS m2, y.sig AS s2
                     FROM ch x JOIN ch y ON x.c = y.c AND x.v = y.v AND x.media_id < y.media_id)
            SELECT m1, m2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
            FROM cand WHERE bit_count(xor(s1, s2)) <= LEAST(9, (SELECT k - 1 FROM prm2))
            ORDER BY m1, m2"""))

  // ---------------------------------------------------------------- L8
  // Training-data hygiene/prep operators beyond SURVEY §2 (graded as
  // first-class pipeline components): eval-set decontamination,
  // deterministic stratified sampling, context-window chunking.

  // Decontamination: flag train docs sharing word-8-grams with a held-
  // out eval set (the GPT-3/Llama-report train-test overlap check).
  // Eval set = doc_id % 10 == 0 (deterministic pseudo-benchmark).
  // Scale shape: grams hash to 60-bit longs at the source, the eval
  // side aggregates to DISTINCT gram hashes (eval sets are tiny next
  // to the corpus), and the overlap is one hash join on longs + a
  // per-doc count — no hint on the eval side, AQE broadcasts it when
  // it fits. Output-sensitive: only contaminated docs emit rows.

  private val grams8Sql =
    """w8 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g8 AS (SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 8
      |    THEN list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))
      |    ELSE [array_to_string(ws, ' ')] END) AS g FROM w8)),
      |h8 AS (SELECT DISTINCT doc_id,
      |  CAST(concat('0x', substr(sha256(g), 1, 15)) AS BIGINT) AS h FROM g8)""".stripMargin

  private val l8decontam = QueryDef(
    "l8_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.CorpusOps.decontaminate(docs, col("doc_id") % 10 === 0)
        .orderBy("doc_id")
    },
    Some(s"""WITH $grams8Sql,
            |ev AS (SELECT DISTINCT h FROM h8 WHERE doc_id % 10 = 0),
            |tr AS (SELECT doc_id, h FROM h8 WHERE doc_id % 10 != 0)
            |SELECT doc_id, count(*) AS n_shared FROM tr JOIN ev USING (h)
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // Deterministic stratified sampling: per stratum (lang), keep the
  // ceil(10%) of docs ranking lowest by a content-independent 60-bit
  // hash of the doc id — reproducible across runs/engines, no RNG.
  // Quota arithmetic is INTEGER ((n+9)/10): n*0.1 in doubles is
  // inexact at multiples of 10 and could ceil differently per engine.
  // Scale shape: one shuffle on the stratum key; the quota is data-
  // dependent so no literal-limit window pushdown applies — rank and
  // count share the single stratum exchange (PlanContractSpec pins
  // this), and petabyte strata would swap to l8_sample_hash.
  private val l8sample = QueryDef(
    "l8_sample_stratified",
    (s, dir) => {
      graft.ops.CorpusOps.stratifiedSample(t(s, dir, "documents"), "lang")
        .select(col("lang"), col("doc_id"), col("rn").cast("long").as("rn"))
        .orderBy("lang", "rn")
    },
    Some("""WITH r AS (SELECT lang, doc_id,
              CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
              FROM documents),
            rr AS (SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n FROM r)
            SELECT lang, doc_id, rn FROM rr WHERE rn <= (n + 9) // 10
            ORDER BY lang, rn"""))

  // The scale-out companion to l8_sample_stratified: hash-THRESHOLD
  // sampling. Keep a doc iff its 60-bit id-hash falls under a fixed
  // integer cutoff (2^60 / 10) — same determinism and ~10% rate, but
  // no rank, no window, no shuffle at all (petabyte strata never sort;
  // the quota is binomial-approximate instead of exact, which is the
  // production trade). The cutoff is integer arithmetic on both
  // engines; the hash is the same sha-60 the exact-quota variant ranks
  // by, so the two samplers are directly comparable.
  private val hashCutoff: Long = (1L << 60) / 10
  private val l8sampleHash = QueryDef(
    "l8_sample_hash",
    (s, dir) => {
      graft.ops.CorpusOps.hashSample(t(s, dir, "documents"))
        .select(col("lang"), col("doc_id"), col("hk"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT lang, doc_id, hk FROM (
            |  SELECT lang, doc_id,
            |    CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
            |  FROM documents)
            |WHERE hk < $hashCutoff ORDER BY doc_id""".stripMargin))

  // QUALITY-WEIGHTED sampling without replacement (Efraimidis-
  // Spirakis A-ES keys): each doc draws a deterministic uniform
  // u ∈ (0,1) from its 60-bit id-hash and competes with key = u^(1/q)
  // — a single global top-k by key IS an exact weighted sample
  // without replacement, the standard trick for "prefer high-quality
  // docs but keep diversity" subset selection. No rejection loop, no
  // state: keys are row-local arithmetic, the top-k compiles to the
  // distributed TakeOrderedAndProject (partial per-partition top-100
  // before one tiny gather — the l4_vocab_oov cut shape), so a
  // petabyte corpus pays one scan + k rows of shuffle. The quality
  // weight is the SHARED TextScores.quality (floor 0.3, so 1/q is
  // bounded); keys round to 6dp with doc_id tie-breaks, and the
  // oracle replays hash → u → pow bit-for-bit (pow's last-ulp risk
  // sits behind the same round(·,6) contract every double rank in
  // the battery uses).
  private val l8weighted = QueryDef(
    "l8_weighted_sample",
    (s, dir) => {
      val keyed = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("stop_n", TextScores.stopCountEn(col("ws")))
        .select(col("doc_id"), TextScores.quality(col("n_tok"), col("stop_n")).as("quality"))
        .withColumn("u", idUniform)
        .withColumn("key", round(pow(col("u"), lit(1.0) / col("quality")), 6))
      keyed.orderBy(desc("key"), asc("doc_id")).limit(100)
        .withColumn("rank", row_number().over(Window.orderBy(desc("key"), asc("doc_id"))))
        .select(col("rank"), col("doc_id"), col("quality"), col("key"))
        .orderBy("rank")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |x AS (SELECT doc_id, len(ws) AS n_tok, ${stopCountDuck(enS)} AS stop_n FROM w),
            |q AS (SELECT doc_id, ${qualityDuck("n_tok", "stop_n")} AS quality FROM x),
            |k AS (SELECT doc_id, quality,
            |        round(pow(((CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            |                    % 1000003) + 0.5) / 1000003, 1.0 / quality), 6) AS key
            |      FROM q),
            |top AS (SELECT doc_id, quality, key FROM k ORDER BY key DESC, doc_id LIMIT 100)
            |SELECT row_number() OVER (ORDER BY key DESC, doc_id) AS rank, doc_id, quality, key
            |FROM top ORDER BY rank""".stripMargin))

  // DSIR-style IMPORTANCE WEIGHTING (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): score every
  // out-of-domain doc by how target-domain-like its token
  // distribution is — per-word log-ratio of add-one-smoothed unigram
  // probabilities between the target slice (lang = 'en') and the raw
  // rest, doc score = mean log-ratio over its tokens, keep the top
  // docs. (The paper hashes n-gram features into buckets; the unigram
  // table IS that feature space un-hashed — hashing is a memory
  // optimization the fixture vocabulary doesn't need, and the scoring
  // algebra is identical.) Scale shape: the count table needs NO
  // target⋈raw join — one tokenize pass with an is-target flag and
  // conditional sums produces both sides in a single
  // partial-aggregatable groupBy; the totals enter as ONE broadcast
  // 1-row aggregate; scoring is the vocab-sized weight table joined
  // back to the occurrence stream (the tf-idf shuffle class). One
  // ln() per WORD (vocab-sized), never per occurrence. Determinism:
  // counts exact, ln differs across engines <= 1 ulp, absorbed by
  // round 6 on the per-doc mean (the l4_lm_score contract); ranks
  // tie-break on doc_id.
  private val l8importance = QueryDef(
    "l8_importance",
    (s, dir) => {
      val tok = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      val wc = cached(tok.groupBy("word").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr")))
      val tot = broadcast(wc.agg(count(lit(1)).cast("double").as("v"),
        sum("ct").cast("double").as("nt"), sum("cr").cast("double").as("nr")))
      val w = wc.crossJoin(tot).select(col("word"),
        log(((col("ct") + 1.0) / (col("nt") + col("v"))) /
            ((col("cr") + 1.0) / (col("nr") + col("v")))).as("lw"))
      val ds = tok.filter(col("lang") =!= "en").select("doc_id", "word")
        .join(w, "word")
        .groupBy("doc_id").agg(round(avg("lw"), 6).as("score"))
      ds.orderBy(desc("score"), asc("doc_id")).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
        .select(col("rank"), col("doc_id"), col("score"))
        .orderBy("rank")
    },
    Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
            |            FROM documents),
            |wc AS (SELECT word,
            |              count(*) FILTER (lang = 'en') AS ct,
            |              count(*) FILTER (lang != 'en') AS cr
            |       FROM tok GROUP BY word),
            |tot AS (SELECT CAST(count(*) AS DOUBLE) AS v,
            |               CAST(sum(ct) AS DOUBLE) AS nt,
            |               CAST(sum(cr) AS DOUBLE) AS nr FROM wc),
            |w AS (SELECT word,
            |             ln(((ct + 1.0) / (nt + v)) / ((cr + 1.0) / (nr + v))) AS lw
            |      FROM wc, tot),
            |ds AS (SELECT t.doc_id, round(avg(w.lw), 6) AS score
            |       FROM tok t JOIN w USING (word)
            |       WHERE t.lang != 'en' GROUP BY t.doc_id),
            |top AS (SELECT doc_id, score FROM ds ORDER BY score DESC, doc_id LIMIT 50)
            |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank, doc_id, score
            |FROM top ORDER BY rank""".stripMargin))

  // Line-level dedup (the CCNet/RefinedWeb boilerplate pass): lines
  // whose corpus-wide document frequency exceeds 1 are stripped and
  // docs reassembled in line order (fixture text has no newlines, so
  // lines come from a deterministic 10-word chunker — see
  // CorpusOps.lineDedup). Spark keys the frequency agg by the 60-bit
  // line hash (lines cross partitions only as longs); the oracle
  // groups by the line text itself — identical output unless sha-60
  // collides, which the gate would surface. Reassembly sorts the
  // collected (line_no, line) structs, so the nondeterministic
  // collect_list order cannot leak into the output.
  private val l8lineDedup = QueryDef(
    "l8_line_dedup",
    (s, dir) => graft.ops.CorpusOps.lineDedup(t(s, dir, "documents"))
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                         generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
            l AS (SELECT doc_id, (i - 1) // 10 AS line_no,
                         string_agg(word, ' ' ORDER BY i) AS line
                  FROM w GROUP BY doc_id, (i - 1) // 10),
            lf AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
            j AS (SELECT l.doc_id, l.line_no, l.line, lf.df FROM l JOIN lf ON lf.line = l.line)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN df <= 1 THEN line END, ' ' ORDER BY line_no), '') AS clean_text,
                   count(CASE WHEN df <= 1 THEN 1 END) AS n_kept,
                   count(CASE WHEN df > 1 THEN 1 END) AS n_dropped
            FROM j GROUP BY doc_id ORDER BY doc_id"""))

  // Context-window chunking: split each doc into 32-word windows with
  // stride 24 (8-word overlap) — the standard prep for fixed-context
  // training. nchunks = 1 + ceil(max(0, len-32)/24) in INTEGER
  // arithmetic; the final window clamps at the end of the doc, so
  // every word is covered. Embarrassingly parallel per doc (explode,
  // no shuffle until the output sort).
  private val l8chunk = QueryDef(
    "l8_chunk_windows",
    (s, dir) => {
      graft.ops.CorpusOps.chunkWindows(t(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            p AS (SELECT doc_id, ws,
                    1 + GREATEST(0, (len(ws) - 32 + 23) // 24) AS nchunks FROM w)
            SELECT doc_id, i AS chunk_id,
                   len(ws[i*24+1 : i*24+32]) AS n_tok,
                   array_to_string(ws[i*24+1 : i*24+32], ' ') AS chunk
            FROM p, (SELECT unnest(range(0, (SELECT max(nchunks) FROM p))) AS i) t
            WHERE i < nchunks ORDER BY doc_id, chunk_id"""))

  // Repetition filter (the Gopher/MassiveText repetition rules, word-
  // level): per doc, the fraction of tokens that are the single most
  // frequent word, the fraction of 2-gram occurrences that are repeats
  // of an earlier 2-gram, and the distinct-word ratio; `keep` applies
  // the thresholds to the ROUNDED values so the cut is identical on
  // both engines. Scale shape: explode -> (doc_id, word) groupBy ->
  // per-doc agg, both partial-aggregatable; the 2-gram repeat stats
  // come from linear per-doc array ops (no second explode). Per-doc
  // constants ride through the aggs as first()/any_value().
  private val l8repetition = QueryDef(
    "l8_repetition",
    (s, dir) => {
      val w = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("g2", when(size(col("ws")) >= 2,
          expr("transform(sequence(0, size(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1]))"))
          .otherwise(expr("slice(ws, 1, 0)")))
        // t2/d2 MUST become scalars in a projection BELOW the explode:
        // inlined into the explode's select they evaluate per exploded
        // TOKEN (array_distinct over the 2-gram array once per word,
        // ~word-count x more work, and the whole array rides through
        // the Generate). Measured 3.5 s -> sub-second at sf0.1.
        .withColumn("t2", size(col("g2")))
        .withColumn("d2", size(array_distinct(col("g2"))))
        .select(col("doc_id"), col("t2"), col("d2"), explode(col("ws")).as("w"))
      w.groupBy("doc_id", "w")
        .agg(count(lit(1)).as("c"), first(col("t2")).as("t2"), first(col("d2")).as("d2"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_uniq"),
          max(col("c")).as("top_c"), first(col("t2")).as("t2"), first(col("d2")).as("d2"))
        .select(col("doc_id"),
          round(col("top_c").cast("double") / col("n_tok"), 6).as("top_word_frac"),
          round(when(col("t2") === 0, 0.0)
            .otherwise((col("t2") - col("d2")).cast("double") / col("t2")), 6).as("dup_2gram_frac"),
          round(col("n_uniq").cast("double") / col("n_tok"), 6).as("uniq_ratio"))
        .withColumn("keep", col("top_word_frac") <= 0.12 && col("dup_2gram_frac") <= 0.05)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |g AS (SELECT doc_id, ws, CASE WHEN len(ws) >= 2
            |        THEN list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])
            |        ELSE ws[1:0] END AS g2 FROM w),
            |m AS (SELECT doc_id, len(g2) AS t2, len(list_distinct(g2)) AS d2, unnest(ws) AS w FROM g),
            |pw AS (SELECT doc_id, w, count(*) AS c, any_value(t2) AS t2, any_value(d2) AS d2
            |       FROM m GROUP BY doc_id, w),
            |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_uniq,
            |              max(c) AS top_c, any_value(t2) AS t2, any_value(d2) AS d2
            |       FROM pw GROUP BY doc_id),
            |f AS (SELECT doc_id,
            |        round(CAST(top_c AS DOUBLE) / n_tok, 6) AS top_word_frac,
            |        round(CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(t2 - d2 AS DOUBLE) / t2 END, 6) AS dup_2gram_frac,
            |        round(CAST(n_uniq AS DOUBLE) / n_tok, 6) AS uniq_ratio FROM pd)
            |SELECT doc_id, top_word_frac, dup_2gram_frac, uniq_ratio,
            |       (top_word_frac <= 0.12 AND dup_2gram_frac <= 0.05) AS keep
            |FROM f ORDER BY doc_id""".stripMargin))

  // Identifier scrubbing: mask numeric identifiers in semi-structured
  // event payloads before they reach a training corpus (the PII-
  // redaction plumbing; the fixture has no emails/phones, so digit
  // runs stand in for the pattern set). Embarrassingly parallel map —
  // no shuffle until the output sort; the regex is evaluated once per
  // row inside codegen'd string expressions.
  private val l8scrub = QueryDef(
    "l8_scrub_ids",
    (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          size(expr("regexp_extract_all(props, '[0-9]+', 0)")).cast("long").as("n_scrubbed"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("scrubbed"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
              CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_scrubbed,
              regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed
            FROM events ORDER BY event_id"""))

  // Mixture planning: per-stratum (lang) sampling weights for
  // temperature-balanced training (tau = 2, i.e. weight ~ sqrt(share):
  // sqrt is IEEE-exactly-rounded on both engines, unlike pow). The
  // normalizer folds the ROUNDED per-stratum weights in lang order on
  // both engines (sorted left-fold — cross-stratum float SUM order is
  // engine-dependent, a sorted fold is not). repeat_factor is the
  // integer epoch count that levels each stratum up to the largest.
  // Scale shape: one tiny per-stratum agg; the 1-row totals/normalizer
  // frames broadcast-crossJoin back in (action-free construction).
  /** The temperature-balanced plan (lang, n, share, mix_share,
    * repeat_factor), unordered — shared by l8_mixture_plan and its
    * realization l8_mixture_apply so the two can never disagree on the
    * quota arithmetic. Construction is action-free (the totals and
    * normalizer are broadcast 1-row aggregates, not collected). */
  private def mixturePlanOf(docs: DataFrame): DataFrame = {
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val totals = byLang.agg(sum(col("n")).as("total"), max(col("n")).as("max_n"))
    val withW = byLang.crossJoin(broadcast(totals))
      .withColumn("share", round(col("n").cast("double") / col("total"), 6))
      .withColumn("w", round(sqrt(col("n").cast("double") / col("total")), 6))
    val norm = withW.agg(expr(
      "aggregate(sort_array(collect_list(struct(lang, w))), cast(0.0 as double), (acc, x) -> acc + x.w)").as("norm"))
    withW.crossJoin(broadcast(norm))
      .select(col("lang"), col("n"), col("share"),
        round(col("w") / col("norm"), 6).as("mix_share"),
        expr("(max_n + n - 1) div n").as("repeat_factor"))
  }

  /** CTE chain ending in `plan(lang, n, share, mix_share,
    * repeat_factor)` — DuckDB spelling of mixturePlanOf, shared by the
    * plan and apply oracles. (`bl` stays visible for the budget CTE.) */
  private val mixturePlanCte =
    """bl AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total, max(n) AS max_n FROM bl),
      |ww AS (SELECT lang, n,
      |         round(CAST(n AS DOUBLE) / total, 6) AS share,
      |         round(sqrt(CAST(n AS DOUBLE) / total), 6) AS w,
      |         max_n FROM bl, tt),
      |nrm AS (SELECT list_aggregate(list(w ORDER BY lang), 'sum') AS norm FROM ww),
      |plan AS (SELECT lang, n, share, round(w / norm, 6) AS mix_share,
      |                (max_n + n - 1) // n AS repeat_factor FROM ww, nrm)""".stripMargin

  private val l8mixture = QueryDef(
    "l8_mixture_plan",
    (s, dir) => mixturePlanOf(t(s, dir, "documents")).orderBy("lang"),
    Some(s"""WITH $mixturePlanCte
            |SELECT lang, n, share, mix_share, repeat_factor
            |FROM plan ORDER BY lang""".stripMargin))

  // Mixture REALIZATION — the other half of mixture planning: turn the
  // temperature-balanced shares into an actual sampled dataset. Budget
  // = 40% of the corpus (integer arithmetic); per-language quota =
  // min(n, max(1, floor(mix_share * budget))) — floor of a double
  // product whose factors are bit-identical on both engines (mix_share
  // is rounded to 6dp upstream), so the quotas are too; selection is
  // the same content-independent sha-60 id-hash rank the stratified
  // sampler uses (reproducible, no RNG). Scale shape: the plan and
  // budget sides are langs-sized/1-row broadcasts; the corpus shuffles
  // once on the stratum key for the rank window — and a petabyte
  // stratum would swap the rank for the l8_sample_hash threshold with
  // a rate of quota/n, exactly as documented there.
  private val l8mixtureApply = QueryDef(
    "l8_mixture_apply",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val budget = broadcast(docs.agg(expr("count(1) * 2 div 5").as("budget")))
      val quotas = mixturePlanOf(docs).crossJoin(budget)
        .select(col("lang"),
          least(col("n"), greatest(lit(1L), floor(col("mix_share") * col("budget")))).as("quota"))
      docs.select(col("lang"), col("doc_id"), idHash.as("hk"))
        .withColumn("pos", hashRank("lang"))
        .join(broadcast(quotas), Seq("lang"))
        .filter(col("pos") <= col("quota"))
        .select(col("lang"), col("pos").cast("long").as("pos"), col("doc_id"), col("quota"))
        .orderBy("lang", "pos")
    },
    Some(s"""WITH $mixturePlanCte,
            |bud AS (SELECT (CAST(sum(n) AS BIGINT) * 2) // 5 AS budget FROM bl),
            |q AS (SELECT lang, least(n, greatest(1, CAST(floor(mix_share * budget) AS BIGINT))) AS quota
            |      FROM plan, bud),
            |r AS (SELECT lang, doc_id,
            |        CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
            |      FROM documents),
            |rr AS (SELECT lang, doc_id,
            |         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS pos FROM r)
            |SELECT rr.lang, CAST(pos AS BIGINT) AS pos, doc_id, quota
            |FROM rr JOIN q ON q.lang = rr.lang WHERE pos <= quota
            |ORDER BY rr.lang, pos""".stripMargin))

  // Deterministic corpus shuffle + sharding — the reproducible
  // "global shuffle before sequence packing" every training run needs:
  // shard = 60-bit id-hash mod nshards, position = rank of (hash,
  // doc_id) within the shard. Identical output on every engine, every
  // run, every partitioning — which is what makes training-data
  // orders auditable. Scale shape: one corpus shuffle keyed by shard,
  // then per-shard local sorts; nshards grows with the corpus
  // (shards ~ corpus / target-shard-size), so each sort stays
  // executor-sized and there is NO global window. 16 shards at
  // fixture scale keeps every shard non-trivially populated.
  private val l8shuffle = QueryDef(
    "l8_shuffle_order",
    (s, dir) => {
      shuffleOrder(t(s, dir, "documents"), 16L).orderBy("shard", "pos")
    },
    Some("""WITH h AS (SELECT doc_id,
              CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
            FROM documents)
            SELECT doc_id, hk % 16 AS shard,
                   row_number() OVER (PARTITION BY hk % 16 ORDER BY hk, doc_id) AS pos
            FROM h ORDER BY shard, pos"""))

  // Per-source corpus card — the observability aggregate a pipeline
  // publishes with every snapshot: doc/token counts, how much of the
  // source is exact-duplicated (docs whose content hash appears more
  // than once corpus-WIDE — cross-source dups count in both sources),
  // and mean quality (the shared l4 score). Scale shape: one
  // hash-agg'd dup-count table joined back on the content hash (the
  // corpus shuffles once, by h — AQE sizes the join), then a
  // source-keyed aggregate that is sources-sized. No windows, no
  // per-row state.
  private val l8stats = QueryDef(
    "l8_source_stats",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_tok", size(col("ws")))
        .withColumn("stop_n", TextScores.stopCountEn(col("ws")))
        .withColumn("h", sha2(col("text"), 256))
        .select("doc_id", "source", "n_tok", "stop_n", "h")
      val dupDocs = d.groupBy("h").agg(count(lit(1)).as("cnt"))
      d.join(dupDocs, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok").cast("long")).as("n_tokens"),
             count(when(col("cnt") > 1, lit(1))).as("dup_docs"),
             round(avg(TextScores.quality(col("n_tok"), col("stop_n"))), 6).as("mean_quality"))
        .orderBy("source")
    },
    Some(s"""WITH w AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws FROM documents),
            |x AS (SELECT doc_id, source, len(ws) AS n_tok,
            |        len(list_filter(ws, t -> t IN ('the','a','and','of'))) AS stop_n,
            |        sha256(text) AS h FROM w),
            |dc AS (SELECT h, count(*) AS cnt FROM x GROUP BY h)
            |SELECT source, count(*) AS n_docs,
            |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
            |       count(CASE WHEN cnt > 1 THEN 1 END) AS dup_docs,
            |       round(AVG(${qualityDuck("n_tok", "stop_n")}), 6) AS mean_quality
            |FROM x JOIN dc USING (h) GROUP BY source ORDER BY source""".stripMargin))

  // Span-level decontamination — l8_decontaminate's refinement: drop
  // only the CONTAMINATED LINES of a train doc (a doc quoting one
  // benchmark passage keeps everything else). Line-local 8-grams vs
  // the eval slice's full-text gram set (eval = doc_id % 10 == 0, the
  // same pseudo-benchmark as l8_decontaminate); the oracle replays
  // the chunker + gram rule exactly.
  private val l8decontamScrub = QueryDef(
    "l8_decontam_scrub",
    (s, dir) => graft.ops.CorpusOps.decontaminateLines(
        t(s, dir, "documents"), col("doc_id") % 10 === 0)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                         generate_subscripts(string_split(text, ' '), 1) AS i
                  FROM documents WHERE doc_id % 10 != 0),
            l AS (SELECT doc_id, (i - 1) // 10 AS line_no,
                         string_agg(word, ' ' ORDER BY i) AS line
                  FROM w GROUP BY doc_id, (i - 1) // 10),
            we AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE doc_id % 10 = 0),
            ev AS (SELECT DISTINCT CAST(concat('0x', substr(sha256(g), 1, 15)) AS BIGINT) AS h FROM (
                  SELECT unnest(CASE WHEN len(ws) >= 8
                    THEN list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))
                    ELSE [array_to_string(ws, ' ')] END) AS g FROM we)),
            lg AS (SELECT doc_id, line_no,
                          CAST(concat('0x', substr(sha256(g), 1, 15)) AS BIGINT) AS h FROM (
                  SELECT doc_id, line_no, unnest(CASE WHEN len(lws) >= 8
                    THEN list_transform(generate_series(1, len(lws)-7), i -> array_to_string(lws[i:i+7], ' '))
                    ELSE [array_to_string(lws, ' ')] END) AS g
                  FROM (SELECT doc_id, line_no, string_split(line, ' ') AS lws FROM l))),
            bad AS (SELECT DISTINCT lg.doc_id, lg.line_no FROM lg JOIN ev USING (h))
            SELECT l.doc_id,
                   coalesce(string_agg(CASE WHEN bad.line_no IS NULL THEN l.line END,
                                       ' ' ORDER BY l.line_no), '') AS clean_text,
                   count(CASE WHEN bad.line_no IS NULL THEN 1 END) AS n_kept,
                   count(CASE WHEN bad.line_no IS NOT NULL THEN 1 END) AS n_dropped
            FROM l LEFT JOIN bad ON bad.doc_id = l.doc_id AND bad.line_no = l.line_no
            GROUP BY l.doc_id ORDER BY l.doc_id"""))

  // Incremental-ingest dedup — the production pattern the full-corpus
  // queries don't cover: a new batch (doc_id % 20 == 0, ~5%) arrives
  // against an already-clean corpus (the rest); each batch doc gets
  // exact/near-dup verdicts AGAINST THE CORPUS ONLY (never
  // corpus-vs-corpus — that work is already paid). The near-dup side
  // uses the lexicographic-prefix filter (no corpus-wide frequency
  // pass per ingest — see CorpusOps.nearDupPairsAgainst); the oracle
  // replays the identical candidate rule, and verification is exact,
  // so the gate is bit-for-bit.
  private val l2incr = QueryDef(
    "l2_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.CorpusOps.incrementalDedup(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
            |sh AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(sha256(s), 1, 15)) AS BIGINT) AS h
            |       FROM (SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
            |         THEN list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
            |         ELSE [array_to_string(ws, ' ')] END) AS s FROM w)),
            |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            |pr AS (SELECT doc_id, h FROM (
            |  SELECT sh.doc_id, h, row_number() OVER (PARTITION BY sh.doc_id ORDER BY h) AS rn, sz.sz
            |  FROM sh JOIN sz ON sh.doc_id = sz.doc_id)
            |  WHERE rn <= sz - ceil(sz * 0.8) + 1),
            |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            |  FROM pr a JOIN pr b ON a.h = b.h
            |  WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 != 0),
            |i AS (SELECT c.d1, c.d2, count(*) AS i
            |  FROM cand c JOIN sh a ON a.doc_id = c.d1
            |  JOIN sh b ON b.doc_id = c.d2 AND b.h = a.h GROUP BY c.d1, c.d2),
            |nd AS (SELECT DISTINCT d1 FROM i
            |  JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
            |  WHERE CAST(i AS DOUBLE) / (x.sz + y.sz - i) >= 0.8),
            |ch AS (SELECT DISTINCT sha256(text) AS h FROM w WHERE doc_id % 20 != 0)
            |SELECT doc_id,
            |  sha256(text) IN (SELECT h FROM ch) AS exact_dup,
            |  doc_id IN (SELECT d1 FROM nd) AS near_dup,
            |  NOT (sha256(text) IN (SELECT h FROM ch))
            |    AND NOT (doc_id IN (SELECT d1 FROM nd)) AS keep
            |FROM w WHERE doc_id % 20 = 0 ORDER BY doc_id""".stripMargin))

  // Bloom-GATED incremental exact dedup — the at-scale ingest
  // primitive: one map-side-combined corpus pass builds a broadcast
  // bloom sketch over the corpus content-hash set (Spark's own
  // BloomFilterAggregate), each batch row is pruned ROW-LOCALLY by
  // might_contain, and only bloom-positive rows pay the exact confirm
  // join. No false negatives + exact confirm ⇒ verdicts BIT-IDENTICAL
  // to the plain exact join, which is exactly what the oracle spells —
  // the sketch changes the cost shape only (append-mostly-new batches
  // join ~(dup_rate+fpp)·|batch| rows, not |batch|). Plan-pinned in
  // PlanContractSpec (partial bloom agg, might_contain filter before
  // the confirm join); CorpusOpsSpec pins bloom == exact verdicts.
  private val l1bloom = QueryDef(
    "l1_bloom_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.CorpusOps.bloomIncrementalDedup(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
        .orderBy("doc_id")
    },
    Some("""WITH ch AS (SELECT DISTINCT sha256(text) AS h
            |            FROM documents WHERE doc_id % 20 != 0)
            |SELECT doc_id, sha256(text) IN (SELECT h FROM ch) AS exact_dup
            |FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id""".stripMargin))

  // Sketch-gated HEAVY-HITTER grams (CorpusOps.heavyGrams): the
  // boilerplate detector — every 8-gram hash in >= 2 docs with its
  // EXACT document frequency. The engine path builds Spark's own
  // count_min_sketch over the gram stream (map-side-merged partial
  // sketches), folds it to a scalar, and prunes the occurrence stream
  // row-locally with the native cms_estimate probe BEFORE the exact
  // count shuffle — no false negatives (CMS over-estimates only), so
  // the oracle is the PLAIN exact SQL: group, count, HAVING. The
  // sketch buys the prune, never the answer.
  private val l8heavy = QueryDef(
    "l8_heavy_hitters",
    (s, dir) => {
      graft.ops.CorpusOps.heavyGrams(t(s, dir, "documents"))
        .orderBy(desc("df"), asc("h"))
    },
    Some(s"""WITH $grams8Sql
            |SELECT h, count(*) AS df FROM h8
            |GROUP BY h HAVING count(*) >= 2
            |ORDER BY df DESC, h""".stripMargin))

  // Per-doc n-gram novelty — the dedup-aware sampling signal: the
  // fraction of a doc's distinct 8-grams first seen (min doc_id) in
  // THIS doc. One partial-agg min per hash + one hash join + one
  // per-doc conditional count; grams cross partitions only as 60-bit
  // longs (CorpusOps.ngramNovelty).
  private val l8novelty = QueryDef(
    "l8_ngram_novelty",
    (s, dir) => graft.ops.CorpusOps.ngramNovelty(t(s, dir, "documents"))
      .orderBy("doc_id"),
    Some(s"""WITH $grams8Sql,
            |fs AS (SELECT h, MIN(doc_id) AS first_doc FROM h8 GROUP BY h)
            |SELECT h8.doc_id, count(*) AS n_grams,
            |       count(CASE WHEN fs.first_doc = h8.doc_id THEN 1 END) AS n_novel,
            |       round(count(CASE WHEN fs.first_doc = h8.doc_id THEN 1 END)
            |             / CAST(count(*) AS DOUBLE), 6) AS novelty
            |FROM h8 JOIN fs USING (h)
            |GROUP BY h8.doc_id ORDER BY doc_id""".stripMargin))

  // Cross-source content-overlap matrix — which sources mirror /
  // syndicate each other, measured in shared distinct 8-gram hashes
  // (exact-dup docs rarely cross sources; shared grams do). The
  // (hash, source) projection bounds the self-join at |sources|²/2
  // pairs per hash — catalog-sized, never corpus² (CorpusOps.
  // sourceOverlap).
  private val l8overlap = QueryDef(
    "l8_source_overlap",
    (s, dir) => graft.ops.CorpusOps.sourceOverlap(t(s, dir, "documents"))
      .orderBy("src_a", "src_b"),
    Some("""WITH w8 AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
            g8 AS (SELECT DISTINCT source, g FROM (
              SELECT source, unnest(CASE WHEN len(ws) >= 8
                THEN list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))
                ELSE [array_to_string(ws, ' ')] END) AS g FROM w8)),
            hs AS (SELECT DISTINCT source,
              CAST(concat('0x', substr(sha256(g), 1, 15)) AS BIGINT) AS h FROM g8)
            SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
            FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  // Fixed-length sequence packing — the actual token-layout step of
  // training prep (the GPT-style pack): within each deterministic
  // shard (60-bit id-hash mod 16, the l8_shuffle_order rule), docs
  // concatenate in (hash, doc_id) order and SPLIT across fixed
  // 256-token sequence boundaries; the output is the
  // (shard, seq, doc_id, off, len) piece table — the exact layout a
  // dataloader replays, and the audit trail for "which doc fed which
  // training sequence". Complements l6_pack_shards (greedy
  // whole-doc shards) and l8_chunk_windows (per-doc windows): this is
  // the boundary-splitting global layout. Scale shape: one corpus
  // shuffle keyed by shard + per-shard sort (nshards grows with the
  // corpus, so the cumulative-sum windows stay executor-sized — no
  // global window), then a row-local explode of each doc's overlapped
  // sequence range (a doc yields ceil(n_tok/256)+1 pieces at most).
  // Integer arithmetic end-to-end -> the gate is bit-for-bit.
  private val l8packSeq = QueryDef(
    "l8_pack_sequences",
    (s, dir) => graft.ops.CorpusOps.packSequences(t(s, dir, "documents"))
      .orderBy("shard", "seq", "off"),
    Some("""WITH h AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
            FROM documents),
            c AS (SELECT doc_id, hk % 16 AS shard, n_tok,
                    CAST(SUM(n_tok) OVER (PARTITION BY hk % 16 ORDER BY hk, doc_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS en
                  FROM h),
            u AS (SELECT doc_id, shard, en - n_tok AS st, en,
                    unnest(generate_series((en - n_tok) // 256, (en - 1) // 256)) AS seq
                  FROM c)
            SELECT shard, seq, doc_id,
                   GREATEST(st, seq * 256) - seq * 256 AS off,
                   LEAST(en, (seq + 1) * 256) - GREATEST(st, seq * 256) AS len
            FROM u ORDER BY shard, seq, off"""))

  // CCNet-style perplexity bucketing — the curation step between LM
  // scoring and mixture planning: per language, docs rank by their
  // bigram-LM cross-entropy (the shared l4_lm_score signal) into
  // head/middle/tail terciles; tail (most atypical third) is dropped.
  // Ordering is by the 6-dp-ROUNDED cross-entropy with a doc_id
  // tiebreak, so both engines rank the identical keys (the raw double
  // differs by ulps of ln/avg reassociation — the l4 rounding
  // precedent). Scale shape: the LM pipeline (two corpus shuffles, see
  // l4_lm_score) plus one lang-keyed window; languages are a catalog,
  // and at 100 TB you'd sub-bucket the rank window by (lang,
  // hash-range) and merge quantile boundaries — documented, not
  // needed at fixture scale. ntile is the standard SQL bucket rule on
  // both engines.
  private val l8pplBucket = QueryDef(
    "l8_ppl_bucket",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = Window.partitionBy("lang").orderBy(round(col("x"), 6).asc, col("doc_id").asc)
      lmXent(docs).join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), round(exp(col("x")), 6).as("ppl"),
          col("bucket"), (col("bucket") <= 2).as("keep"))
        .orderBy("lang", "bucket", "doc_id")
    },
    Some(s"""WITH $lmCte,
            |b AS (SELECT a.doc_id, d.lang, a.x FROM agg a JOIN documents d USING (doc_id)),
            |r AS (SELECT doc_id, lang, x,
            |        ntile(3) OVER (PARTITION BY lang ORDER BY round(x, 6), doc_id) AS bucket
            |      FROM b)
            |SELECT doc_id, lang, round(exp(x), 6) AS ppl, bucket, bucket <= 2 AS keep
            |FROM r ORDER BY lang, bucket, doc_id""".stripMargin))

  // Hashed-n-gram linear classifier scoring — the fasttext-shaped
  // quality/toxicity classifier every production pipeline runs: word
  // unigram + bigram features hash into D=1024 buckets (60-bit sha
  // mod D), a bucket->weight table joins in (broadcast: the model is
  // KB-sized however big the corpus), and the doc score is
  // sigmoid(mean weight). Weights here are a deterministic
  // hash-derived fixture standing in for trained parameters — the
  // pipeline shape (feature hashing, broadcast model join,
  // partial-aggregatable mean, link function) is the real thing.
  // Determinism: weights are integer numerators in [-1000, 1000];
  // the per-doc SUM is an exact integer, the mean is ONE IEEE
  // division, and exp ulps are absorbed by round-6 — bit-for-bit.
  // Scale shape: explode + one doc_id-keyed partial agg; features
  // cross partitions only as (doc_id, bucket) ints.
  private val l4classifier = QueryDef(
    "l4_classifier",
    (s, dir) => {
      val D = 1024L
      val docs = t(s, dir, "documents").withColumn("ws", split(col("text"), " "))
      val uni = docs.select(col("doc_id"), explode(col("ws")).as("f"))
      val big = docs.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(
          expr("transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))")).as("f"))
      val feats = uni.union(big).select(col("doc_id"), pmod(sha60(col("f")), lit(D)).as("b"))
      val weights = broadcast(s.range(D).select(col("id").as("b"),
        (pmod(sha60(concat(lit("w"), col("id").cast("string"))), lit(2001L)) - 1000L).as("num")))
      feats.join(weights, "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feat"), sum(col("num")).as("snum"))
        .select(col("doc_id"), col("n_feat"),
          round(lit(1.0) / (lit(1.0) +
            exp(-(col("snum") / (lit(1000.0) * col("n_feat"))))), 6).as("score"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            fe AS (SELECT doc_id, CAST(concat('0x', substr(sha256(f), 1, 15)) AS BIGINT) % 1024 AS b FROM (
                SELECT doc_id, unnest(ws) AS f FROM w
                UNION ALL
                SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                                                     i -> ws[i] || ' ' || ws[i+1])) AS f
                FROM w WHERE len(ws) >= 2)),
            wt AS (SELECT g AS b,
                     CAST(concat('0x', substr(sha256('w' || CAST(g AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS num
                   FROM generate_series(0, 1023) t(g)),
            a AS (SELECT doc_id, count(*) AS n_feat, CAST(SUM(num) AS BIGINT) AS snum
                  FROM fe JOIN wt USING (b) GROUP BY doc_id)
            SELECT doc_id, n_feat,
                   round(1.0 / (1.0 + exp(-(snum / (1000.0 * n_feat)))), 6) AS score
            FROM a ORDER BY doc_id"""))

  // VIDEO CONTAINER METADATA (l5_video_header): the video half of the
  // media pipeline steps out from behind the grft stub — every doc
  // becomes a minimal spec-valid RIFF/AVI container (LIST/hdrl + the
  // 56-byte avih MainAVIHeader), and the pure-JVM RIFF walk
  // (MediaCodec.decodeAvi — the decodeWav discipline, never fixed
  // offsets) reads dims / total frames / frame interval from the
  // ACTUAL bytes; fps and duration derive from dwMicroSecPerFrame in
  // exact integer arithmetic (fps divides 1e6 by construction).
  // Compressed frame PIXEL decode remains the one documented stub.
  // Decode runs per-partition (one codec instance per partition, the
  // mapPartitions shape); the oracle reproduces the metadata
  // arithmetically, so a parser misreading real bytes hash-fails.
  private val l5video = QueryDef(
    "l5_video_header",
    (s, dir) => {
      import graft.multimodal.Multimodal
      import s.implicits._
      val enc = udf((id: Long) => Multimodal.MediaCodec.encodeAvi(
        (id % 640 + 16).toInt, (id % 480 + 16).toInt, (id % 25 + 1).toInt,
        Seq(10, 20, 25, 50)(((id / 4) % 4).toInt)))
      t(s, dir, "documents")
        .select(col("doc_id").as("media_id"), enc(col("doc_id")).as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, payload) =>
            val (w, h, f, us) = Multimodal.MediaCodec.decodeAvi(payload)
            (id, payload.length, w, h, f, 1000000 / us, f.toLong * us / 1000)
          }
        }
        .toDF("media_id", "n_bytes", "width", "height", "n_frames", "fps", "duration_ms")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 100 AS n_bytes,
           |       CAST(doc_id % 640 + 16 AS INTEGER) AS width,
           |       CAST(doc_id % 480 + 16 AS INTEGER) AS height,
           |       CAST(doc_id % 25 + 1 AS INTEGER) AS n_frames,
           |       CAST(CASE CAST((doc_id // 4) % 4 AS INTEGER)
           |            WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 25 ELSE 50 END AS INTEGER) AS fps,
           |       CAST((doc_id % 25 + 1) * (1000000 // (CASE CAST((doc_id // 4) % 4 AS INTEGER)
           |            WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 25 ELSE 50 END)) // 1000 AS BIGINT) AS duration_ms
           |FROM documents ORDER BY media_id""".stripMargin))

  /** The query-term catalog every BM25 cell and the corpus cascade
    * score against. */
  private val bm25Terms = Seq("table", "scan", "join", "merge")

  /** The BM25 oracle chain dl → st → tf → idf → sc → agg → top over a
    * source CTE `src` of (doc_id, ws) rows, ending in the ranked
    * top-20 SELECT — shared by the l4_bm25 and l4_bm25_incremental
    * oracles, which differ only in their source. */
  private def bm25OracleChain(src: String): String =
    s"""dl AS (SELECT doc_id, len(ws) AS dl FROM $src),
       |st AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(ws) AS term FROM $src)
       |       WHERE term IN ('table','scan','join','merge')
       |       GROUP BY doc_id, term),
       |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |         CAST(round(
       |           round(ln(1.0 + (CAST(st.n_docs - idf.df AS DOUBLE) + 0.5)
       |                          / (CAST(idf.df AS DOUBLE) + 0.5)), 9)
       |           * (CAST(tf.tf AS DOUBLE)
       |              / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |                 * (CAST(dl.dl AS DOUBLE) / st.avgdl)))), 9) AS DECIMAL(18,9)) AS c
       |       FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), st),
       |agg AS (SELECT doc_id, SUM(c) AS sc FROM sc GROUP BY doc_id),
       |top AS (SELECT doc_id, round(CAST(sc AS DOUBLE), 6) AS score
       |        FROM agg ORDER BY sc DESC, doc_id LIMIT 20)
       |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rnk, doc_id, score
       |FROM top ORDER BY rnk""".stripMargin

  // BM25 RETRIEVAL (Okapi, Lucene form — the (k1+1) numerator dropped
  // as rank-equivalent; k1 = 1.2, b = 0.75): score every document
  // against a fixed 4-term query and return the top-20 — the lexical
  // retrieval primitive behind dataset search / dedup-by-query /
  // RAG-corpus curation that l4_tfidf (per-doc weights) doesn't
  // provide. Scale shape: the explode filters to the QUERY'S term set
  // at the scan (candidate-bounded — rows leaving the scan are
  // (doc, query-term) hits, not the corpus token stream), tf/df are
  // partial-aggregatable, df/idf is a term-catalog-sized broadcast,
  // N/avgdl ride as ONE action-free broadcast aggregate, doc length
  // rides the exploded hits (no corpus-keyed join back to a length
  // table), and the top-20 compiles to TakeOrderedAndProject
  // (per-partition top-k, never a global sort). Determinism: see
  // CorpusOps.bm25Top, the one scorer (l4_bm25_incremental ranks with
  // it too).
  private val l4bm25 = QueryDef(
    "l4_bm25",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docs = t(s, dir, "documents")
      val stats = broadcast(docs.withColumn("ws", split(col("text"), " "))
        .agg(count(lit(1)).as("n_docs"),
          (sum(size(col("ws"))).cast("double") / count(lit(1))).as("avgdl")))
      val tf = cached(bm25TfRows(docs, bm25Terms))
      val dft = broadcast(tf.groupBy("term").agg(count(lit(1)).as("df")))
      bm25Top(tf, dft, stats, 20)
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |${bm25OracleChain("w")}""".stripMargin))

  // HYBRID RETRIEVAL FUSION (l3_hybrid_rrf): reciprocal-rank fusion
  // of the lexical (l4_bm25 top-20) and vector (l3_knn_bruteforce,
  // query 0, top-10) rankings — the standard RAG retrieval
  // composition, score-calibration-free by construction. Contributions
  // are EXACT integers (floor(10^12 / (60 + rank)), summed as BIGINT)
  // so the fused order is bit-stable across engines; ties break on id.
  // The ORACLE is the hand-unrolled two-ranking join over the SAME two
  // oracle pipelines (embedded as nested CTE scopes), and QueriesSpec
  // additionally pins the engine fusion == a driver-side unroll of the
  // two engine rankings.
  private val l3hybrid = QueryDef(
    "l3_hybrid_rrf",
    (s, dir) => {
      val lex = l4bm25.run(s, dir)
        .select(col("doc_id").as("id"), col("rnk").as("rank"))
      val vec = l3.run(s, dir).filter(col("qid") === 0)
        .select(col("vid").as("id"), col("rn").as("rank"))
      graft.ops.CorpusOps.rrfFuse(Seq(lex, vec))
    },
    Some(s"""WITH bm AS (${l4bm25.oracle.get}),
            |vq AS (SELECT vid, rn FROM (${l3.oracle.get}) WHERE qid = 0),
            |contrib AS (
            |  SELECT doc_id AS id, 1000000000000 // (60 + rnk) AS c FROM bm
            |  UNION ALL
            |  SELECT vid AS id, 1000000000000 // (60 + rn) AS c FROM vq),
            |f AS (SELECT id, CAST(SUM(c) AS BIGINT) AS rrf,
            |             CAST(count(*) AS BIGINT) AS n_lists
            |      FROM contrib GROUP BY id),
            |topf AS (SELECT id, rrf, n_lists FROM f ORDER BY rrf DESC, id LIMIT 10)
            |SELECT row_number() OVER (ORDER BY rrf DESC, id) AS rnk, id, rrf, n_lists
            |FROM topf ORDER BY rnk""".stripMargin))

  // INCREMENTAL BM25 STATISTICS (l4_bm25_maintain): the retrieval
  // index's statistics ARE linear aggregates — df per term is a count
  // of containing docs, N a count, avgdl a derived sum/count — so the
  // counted Z-set maintainer (q117's maintainAggCounted) keeps them
  // current under document INSERTS AND DELETES with one batch-sized
  // pass: each batch doc contributes one ('len','*') row and one
  // ('df', term) row per distinct query term it contains, signed by
  // the batch multiplicity; the stats view merges them per (stat, key)
  // and avgdl derives at read (the q120 maintain-linear/derive-AVG
  // lesson applied to retrieval). ORACLE = the stats recomputed from
  // scratch over the post-batch corpus (stored minus every-7th-doc
  // deletes, plus the doc_id % 10 insert batch).
  private val l4bm25Maintain = QueryDef(
    "l4_bm25_maintain",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val stored = docs.filter(col("doc_id") % 10 =!= 0)
      val ins = docs.filter(col("doc_id") % 10 === 0)
      val del = stored.filter(col("doc_id") % 7 === 0)
      val mv0 = bm25StatRows(stored, bm25Terms, 1).groupBy("stat", "k")
        .agg(sum("v").as("v"), count(lit(1)).as("cnt"))
      val batch = bm25StatRows(ins, bm25Terms, 1)
        .unionByName(bm25StatRows(del, bm25Terms, -1))
      val m = graft.ops.TableOps.maintainAggCounted(mv0, batch,
        keys = Seq("stat", "k"), sumCols = Seq("v"))
      val dfRows = m.filter(col("stat") === "df")
        .select(col("stat"), col("k"), col("v").cast("double").as("value"))
      val lenRow = m.filter(col("stat") === "len")
      val derived = lenRow.select(lit("n_docs").as("stat"), lit("*").as("k"),
          col("cnt").cast("double").as("value"))
        .unionByName(lenRow.select(lit("avgdl").as("stat"), lit("*").as("k"),
          round(col("v").cast("double") / col("cnt"), 6).as("value")))
      dfRows.unionByName(derived).orderBy("stat", "k")
    },
    Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           |           WHERE doc_id % 10 = 0 OR doc_id % 7 <> 0),
           |df AS (SELECT term AS k, count(*) AS v FROM (
           |         SELECT doc_id, unnest(list_distinct(list_filter(ws,
           |           w -> list_contains(['table','scan','join','merge'], w)))) AS term
           |         FROM s) GROUP BY term),
           |ln AS (SELECT count(*) AS n, SUM(len(ws)) AS sdl FROM s)
           |SELECT 'avgdl' AS stat, '*' AS k, round(CAST(sdl AS DOUBLE) / n, 6) AS value FROM ln
           |UNION ALL SELECT 'df', k, CAST(v AS DOUBLE) FROM df
           |UNION ALL SELECT 'n_docs', '*', CAST(n AS DOUBLE) FROM ln
           |ORDER BY stat, k""".stripMargin))

  // BM25 RETRIEVAL OVER MAINTAINED STATE (l4_bm25_incremental): the
  // q120 maintain-linear/derive-at-read lesson COMPLETING for
  // retrieval — l4_bm25_maintain keeps df/N/avgdl current but l4_bm25
  // still scores from the fresh corpus; here the per-(doc, term) tf
  // rows for the query-term catalog (tf and dl are LINEAR too — a
  // doc's signed rows add or cancel exactly) are maintained alongside
  // the stats by the SAME maintainAggCounted, and the top-20 is served
  // from MAINTAINED state ONLY: the read touches the tf view
  // (candidate-bounded — docs containing a catalog term), a broadcast
  // df/len stats view, and never the corpus text. Same batch
  // convention as l4_bm25_maintain (doc_id % 10 inserts, every-7th-doc
  // deletes); the same scorer as l4_bm25 (CorpusOps.bm25Top: idf and
  // each contribution round to 9, DECIMAL(18,9) exact sums, doc_id
  // tiebreak). ORACLE = the fresh BM25 recompute over the post-batch
  // corpus — maintained retrieval == rebuilt retrieval, rank for rank.
  private val l4bm25Incremental = QueryDef(
    "l4_bm25_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val stored = docs.filter(col("doc_id") % 10 =!= 0)
      val ins = docs.filter(col("doc_id") % 10 === 0)
      val del = stored.filter(col("doc_id") % 7 === 0)
      val statsMv0 = bm25StatRows(stored, bm25Terms, 1).groupBy("stat", "k")
        .agg(sum("v").as("v"), count(lit(1)).as("cnt"))
      val statsM = graft.ops.TableOps.maintainAggCounted(statsMv0,
        bm25StatRows(ins, bm25Terms, 1).unionByName(bm25StatRows(del, bm25Terms, -1)),
        keys = Seq("stat", "k"), sumCols = Seq("v"))
      // per-(doc, term) tf + dl for the catalog — linear, so the same
      // counted maintainer keeps them current
      val tfMv0 = bm25TfRows(stored, bm25Terms).withColumn("cnt", lit(1L))
      val tfM = graft.ops.TableOps.maintainAggCounted(tfMv0,
        counted(bm25TfRows(ins, bm25Terms), 1)
          .unionByName(counted(bm25TfRows(del, bm25Terms), -1)),
        keys = Seq("doc_id", "term"), sumCols = Seq("tf", "dl"))
      // the READ: maintained state only — no corpus text anywhere
      val lenRow = broadcast(statsM.filter(col("stat") === "len")
        .select((col("v").cast("double") / col("cnt").cast("double")).as("avgdl"),
          col("cnt").as("n_docs")))
      val dft = broadcast(statsM.filter(col("stat") === "df")
        .select(col("k").as("term"), col("v").as("df")))
      bm25Top(tfM, dft, lenRow, 20)
    },
    Some(s"""WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           |           WHERE doc_id % 10 = 0 OR doc_id % 7 <> 0),
           |${bm25OracleChain("s")}""".stripMargin))

  // TRAINED classifier — the other half of l4_classifier (which
  // SCORES under fixed weights): a real logistic regression fit by
  // K=8 FULL-BATCH gradient-descent iterations on a fixture-derived
  // label (lang = 'en'), over three engineered text features
  // (stopword fraction, capped length, vowel ratio) + bias. The
  // mechanics are the production shape at any scale: each iteration
  // is ONE partial-aggregatable conditional-sum shuffle over the
  // scope-cached feature table, collapsing to a single (d+1)-column
  // gradient row at the driver — the MLlib treeAggregate loop. The
  // model is O(d) driver state re-broadcast as literals each round;
  // the corpus never moves, and the feature pass runs once.
  // Determinism is the l3_pca_top contract: features are round-6
  // DECIMAL(10,6) (exact on both engines — integer counts through one
  // correctly-rounded IEEE division), the per-row sigmoid rounds to 6
  // BEFORE the residual (libm exp ulps die at the round), gradient
  // partials are exact decimal products summed exactly (no float
  // reassociation anywhere), and weights round to 9 per iteration —
  // the q44 discipline; the driver-side update replicates Spark's
  // Round (BigDecimal HALF_UP) bit-for-bit. The oracle unrolls the
  // IDENTICAL 8 iterations as generated CTEs. Output: trained weights
  // (kind 'w') + held-out scores (kind 's'; doc_id % 5 = 0 split).
  private val GdIters = 8
  private val GdLr = 4.0 // full-batch rate; features/labels are O(1)-bounded
  private val GdStop = Seq("the", "and", "of", "to", "a", "in", "is", "that")

  /** Spark Round semantics for a driver-side double: BigDecimal.valueOf
    * + HALF_UP — the exact function the engine applies in round(x, 9),
    * so driver-updated weights match the oracle's CTE-computed ones. */
  private def rndHalfUp(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private val l4classifierTrain = QueryDef(
    "l4_classifier_train",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val stopArr = GdStop.map(w => s"'$w'").mkString("array(", ",", ")")
      val f = cached(t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .select(
          col("doc_id"),
          expr(s"cast(round(cast(size(filter(ws, w -> array_contains($stopArr, w))) as double) / size(ws), 6) as decimal(10,6))").as("x1"),
          expr("cast(round(cast(least(n_chars, 500) as double) / 500, 6) as decimal(10,6))").as("x2"),
          expr("cast(round(cast(length(text) - length(regexp_replace(text, '[aeiou]', '')) as double) / greatest(length(text), 1), 6) as decimal(10,6))").as("x3"),
          when(col("lang") === "en", 1).otherwise(0).as("y"),
          (col("doc_id") % 5 =!= 0).as("is_train")))
      val train = f.filter(col("is_train"))
      // z in FIXED left-assoc order — the oracle spells the identical
      // expression, so both engines run the same IEEE op sequence
      def z(w: Array[Double]): Column =
        lit(w(0)) + lit(w(1)) * col("x1").cast("double") +
          lit(w(2)) * col("x2").cast("double") + lit(w(3)) * col("x3").cast("double")
      def sig(w: Array[Double]): Column = lit(1.0) / (lit(1.0) + exp(-z(w)))
      var w = Array(0.0, 0.0, 0.0, 0.0)
      for (_ <- 1 to GdIters) {
        // ONE aggregate per iteration; the driver sees d+2 scalars (the
        // convergence-probe / MLlib-loop precedent, never corpus rows)
        val g = train
          .select((round(sig(w), 6).cast("decimal(10,6)") - col("y")).as("r"),
            col("x1"), col("x2"), col("x3"))
          .agg(count(lit(1)).as("n"), sum(col("r")).as("g0"),
            sum(col("r") * col("x1")).as("g1"),
            sum(col("r") * col("x2")).as("g2"),
            sum(col("r") * col("x3")).as("g3"))
          .collect()(0)
        val n = g.getLong(0).toDouble
        w = Array.tabulate(4)(j =>
          rndHalfUp(w(j) - GdLr * (g.getDecimal(j + 1).doubleValue() / n), 9))
      }
      import s.implicits._
      val wdf = w.toSeq.zipWithIndex
        .map { case (wj, j) => ("w", j.toLong, wj) }
        .toDF("kind", "id", "value")
        .select(col("kind"), col("id"), round(col("value"), 6).as("value"))
      val scores = f.filter(!col("is_train"))
        .select(lit("s").as("kind"), col("doc_id").as("id"),
          round(sig(w), 6).as("value"))
      wdf.unionByName(scores).orderBy("kind", "id")
    },
    Some {
      val stopList = GdStop.map(w => s"'$w'").mkString("[", ",", "]")
      val zSql = "w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE) + w3 * CAST(x3 AS DOUBLE)"
      val iters = (1 to GdIters).map { k =>
        s"""g$k AS (SELECT count(*) AS n, SUM(r) AS g0, SUM(r * x1) AS g1,
           |              SUM(r * x2) AS g2, SUM(r * x3) AS g3
           |       FROM (SELECT CAST(round(1.0 / (1.0 + exp(-($zSql))), 6) AS DECIMAL(10,6)) - y AS r,
           |                    x1, x2, x3
           |             FROM f, w${k - 1} WHERE is_train)),
           |w$k AS (SELECT round(w0 - $GdLr * (CAST(g0 AS DOUBLE) / n), 9) AS w0,
           |              round(w1 - $GdLr * (CAST(g1 AS DOUBLE) / n), 9) AS w1,
           |              round(w2 - $GdLr * (CAST(g2 AS DOUBLE) / n), 9) AS w2,
           |              round(w3 - $GdLr * (CAST(g3 AS DOUBLE) / n), 9) AS w3
           |       FROM g$k, w${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH f AS (SELECT doc_id,
         |        CAST(round(CAST(len(list_filter(string_split(text, ' '),
         |               w -> list_contains($stopList, w))) AS DOUBLE)
         |             / len(string_split(text, ' ')), 6) AS DECIMAL(10,6)) AS x1,
         |        CAST(round(CAST(LEAST(n_chars, 500) AS DOUBLE) / 500, 6) AS DECIMAL(10,6)) AS x2,
         |        CAST(round(CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
         |             / GREATEST(length(text), 1), 6) AS DECIMAL(10,6)) AS x3,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |        doc_id % 5 <> 0 AS is_train
         |      FROM documents),
         |w0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
         |              CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3),
         |$iters
         |SELECT 'w' AS kind, CAST(0 AS BIGINT) AS id, round(w0, 6) AS value FROM w$GdIters
         |UNION ALL SELECT 'w', 1, round(w1, 6) FROM w$GdIters
         |UNION ALL SELECT 'w', 2, round(w2, 6) FROM w$GdIters
         |UNION ALL SELECT 'w', 3, round(w3, 6) FROM w$GdIters
         |UNION ALL
         |SELECT 's' AS kind, doc_id AS id, round(1.0 / (1.0 + exp(-($zSql))), 6) AS value
         |FROM f, w$GdIters WHERE NOT is_train
         |ORDER BY kind, id""".stripMargin
    })

  // k-NN GRAPH over the whole embedding corpus — every vector's top-5
  // neighbors, the input shape for graph-based curation (semantic
  // clustering, connected-component dedup, diversity sampling). Brute
  // force is n² and dies first at scale; this is the IVF bound applied
  // to ALL queries: one pass computes every vector's similarity to the
  // nlist deterministic centroids, and that SINGLE table serves both
  // sides — rn=1 is the inverted-list assignment, rn≤4 are the probe
  // lists (same window spec, two filters, no recompute). Candidates =
  // probes ⋈ assignment on cid; assignment is unique per vector, so
  // the pair set needs no DISTINCT. nlist is SCALE-PARAMETERIZED at
  // max(32, ceil(√n)) — a fixed list count would make the total
  // candidate volume n·nprobe·(n/nlist) quadratic; √n centroids give
  // the standard IVF O(n^1.5) graph build (assignment n·√n dots,
  // candidates 4·√n per query), computed action-free as a broadcast
  // 1-row aggregate the centroid filter joins against. Exact cosine
  // re-rank on round(sim,6) keeps both engines bit-identical. Hot
  // inverted lists are the one skew axis — the semDedup size-capped
  // sub-bucket guard (CorpusOps.semDedup) is the documented remedy
  // when real embeddings collapse onto few lists.
  /** The IVF-bounded top-5 kNN graph build (unordered) — shared by
    * l3_knn_graph and the l3_ann_graph_search traversal over it.
    * Split: [[knnCandScored]] is the IVF-bucketed scored-candidate
    * core (qid, vid, simr — every probe-bucket pair, no rank cut);
    * [[knnGraphTop5]] ranks it to the top-5 graph, and l3_ann_hnsw
    * additionally derives its per-LAYER adjacencies from the same
    * scored set (one shared scoring pass, three consumers). */
  private def knnCandScored(s: SparkSession, dir: String)
                           (implicit scope: graft.ops.CacheScope): DataFrame =
    knnCandScoredOver(t(s, dir, "embeddings"))

  /** [[knnCandScored]] over an arbitrary vector set (vec_id,
    * embedding) — the l3_ann_hnsw_incremental frozen-index build
    * scores the STORED corpus only through this. */
  private def knnCandScoredOver(e: DataFrame)
                               (implicit scope: graft.ops.CacheScope): DataFrame = {
    // one centroid-similarity pass shared by assignment and probes;
    // only the rn<=4 slice materializes (4n rows — LINEAR; assign =
    // rn=1 is a subset of the probe lists, so caching the full
    // n x nlist table would store n^1.5 rows for nothing)
    val cdTop = cached(cosineCells(e, sqrtSeedCents(e), 4))
    cellScores(cdTop.select(col("vid").as("qid"), col("cid")),
      cdTop.filter(col("rn") === 1).select("vid", "cid"), e)
  }

  private def knnGraphTop5(s: SparkSession, dir: String)
                          (implicit scope: graft.ops.CacheScope): DataFrame =
    topPerQuery(knnCandScored(s, dir), 5)

  /** The l3_knn_graph oracle's CTE chain ending in
    * `r(qid, vid, simr, rn)` — also the prefix of the graph-search
    * oracle (which additionally reuses `x` and `n` for its per-round
    * scoring). */
  private val knnGraphOracleCtes =
    """x AS (SELECT vec_id, unnest(embedding) AS e,
      |             generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
      |      FROM x GROUP BY vec_id),
      |nl AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
      |       FROM embeddings),
      |cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
      |              round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
      |                    / (nv.nrm * nc.nrm), 6) AS simr
      |       FROM x xv JOIN x xc ON xc.d = xv.d AND xc.vec_id < (SELECT nlist FROM nl)
      |       JOIN n nv ON nv.vec_id = xv.vec_id
      |       JOIN n nc ON nc.vec_id = xc.vec_id
      |       GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
      |r0 AS (SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
      |       FROM cd),
      |assign AS (SELECT vid, cid FROM r0 WHERE rn = 1),
      |probes AS (SELECT vid AS qid, cid FROM r0 WHERE rn <= 4),
      |cand AS (SELECT p.qid, a.vid FROM probes p JOIN assign a ON a.cid = p.cid
      |         WHERE a.vid != p.qid),
      |dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
      |       FROM cand JOIN x xa ON xa.vec_id = qid
      |       JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
      |       GROUP BY qid, vid),
      |sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
      |        FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
      |r AS (SELECT qid, vid, simr,
      |             row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
      |      FROM sdf)""".stripMargin

  private val l3knnGraph = QueryDef(
    "l3_knn_graph",
    (s, dir) => knnGraphTop5(s, dir)(graft.ops.CacheScope.sessionOwned)
      .orderBy("qid", "rn"),
    Some(s"""WITH $knnGraphOracleCtes
            |SELECT qid, rn, vid, simr FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin))

  // GRAPH-BASED ANN SEARCH (l3_ann_graph_search): the NSW/HNSW-family
  // traversal over the l3_knn_graph index — beam search: start every
  // query at 4 fixed entry vectors, then 3 rounds of "expand the
  // beam's neighbors, score only the NEW candidates, keep the top-10
  // beam" over the SYMMETRIZED top-5 adjacency. The navigable-graph
  // scale story: per round the work is beam × degree candidate rows
  // per query — query-linear and graph-degree-bounded, NO corpus scan
  // after the index build (raw vectors are fetched only for scored
  // candidates). Deterministic: round(6) similarities, (simr desc,
  // vid) beam order, fixed rounds/entries — the oracle replays the
  // identical traversal with generated beam CTEs. The query vector
  // itself rides the beam (sim 1.0 anchors the search) and is
  // excluded at output, the l3_knn_bruteforce convention.
  private val l3graphSearch = QueryDef(
    "l3_ann_graph_search",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val e = t(s, dir, "embeddings")
      val g = knnGraphTop5(s, dir).select(col("qid").as("a"), col("vid").as("b"))
      val adj = cached(
        g.union(g.select(col("b").as("a"), col("a").as("b"))).distinct())
      val q = broadcast(e.filter(col("vec_id").isin(0, 1, 2))
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      def scored(cands: DataFrame): DataFrame =
        cands.join(e.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid")
          .join(q, "qid")
          .select(col("qid"), col("vid"),
            round(vec_cos(col("qe"), col("ve")), 6).as("simr"))
      val wB = Window.partitionBy("qid").orderBy(col("simr").desc, col("vid").asc)
      var beam = cached(scored(q.select(col("qid"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("vid"))))))
      for (_ <- 1 to 3) {
        val expand = beam.select(col("qid"), col("vid").as("a"))
          .join(adj, "a").select(col("qid"), col("b").as("vid"))
          .distinct()
          .join(beam.select("qid", "vid"), Seq("qid", "vid"), "left_anti")
        beam = cached(beam.union(scored(expand))
          .withColumn("rn", row_number().over(wB)).filter(col("rn") <= 10)
          .select("qid", "vid", "simr"))
      }
      beam.filter(col("vid") =!= col("qid"))
        .withColumn("rn", row_number().over(wB)).filter(col("rn") <= 10)
        .select("qid", "rn", "vid", "simr")
        .orderBy("qid", "rn")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""ex$i AS (SELECT DISTINCT b.qid, adj.b AS vid
           |  FROM b${i - 1} b JOIN adj ON adj.a = b.vid
           |  WHERE NOT EXISTS (SELECT 1 FROM b${i - 1} p
           |                    WHERE p.qid = b.qid AND p.vid = adj.b)),
           |dpx$i AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
           |  FROM ex$i JOIN x xa ON xa.vec_id = qid
           |  JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d GROUP BY qid, vid),
           |scx$i AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
           |  FROM dpx$i JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
           |b$i AS MATERIALIZED (SELECT qid, vid, simr FROM (
           |  SELECT qid, vid, simr,
           |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
           |  FROM (SELECT * FROM b${i - 1} UNION ALL SELECT * FROM scx$i))
           |  WHERE rn <= 10)""".stripMargin
      }.mkString(",\n")
      s"""WITH $knnGraphOracleCtes,
         |g5 AS MATERIALIZED (SELECT qid AS a, vid AS b FROM r WHERE rn <= 5),
         |adj AS MATERIALIZED (SELECT DISTINCT a, b FROM
         |  (SELECT a, b FROM g5 UNION ALL SELECT b, a FROM g5)),
         |qs AS (SELECT 0 AS qid UNION ALL SELECT 1 UNION ALL SELECT 2),
         |c0 AS (SELECT qs.qid, v.vec_id AS vid FROM qs,
         |       (SELECT vec_id FROM embeddings WHERE vec_id < 4) v),
         |dpx0 AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
         |  FROM c0 JOIN x xa ON xa.vec_id = qid
         |  JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d GROUP BY qid, vid),
         |b0 AS MATERIALIZED (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
         |  FROM dpx0 JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
         |$rounds
         |SELECT qid, rn, vid, simr FROM (
         |  SELECT qid, vid, simr,
         |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM b3 WHERE vid <> qid) WHERE rn <= 10
         |ORDER BY qid, rn""".stripMargin
    })

  // HNSW-LAYERED ANN SEARCH (l3_ann_hnsw): the hierarchy over the
  // flat NSW traversal (Malkov & Yashunin 2018). Layer membership is
  // DETERMINISTIC — sha60(vid), p(level >= k) = 4^-k, the
  // hash-derived analogue of HNSW's exponential level draw — and each
  // layer's adjacency is a kNN graph AMONG THE LAYER'S MEMBERS:
  // top-3 by similarity from the SAME IVF-bucketed scored-candidate
  // pass the base top-5 graph ranks (knnCandScored — one scoring
  // pass, three consumers; restricting the base graph to layer
  // members instead would leave upper layers edgeless at 4^-2l
  // survival). The search starts from {the single top-level entry,
  // the query node itself} — the self-anchor is SYMMETRIC to the
  // flat baseline, whose fixed entry set 0..3 contains all three
  // query nodes — then per layer 3→1 the running best of everything
  // scored expands its layer neighbors once (beam-1 descent), and
  // the base layer runs the l3_ann_graph_search beam at width 10 for
  // TWO rounds (vs flat's three — converging in fewer base rounds is
  // the hierarchy's payoff) seeded from the descent's top-10 instead
  // of 4 blind fixed entries. Both methods return RESULT-HEAP
  // top-10: the best 10 of every candidate the search ever scored
  // (the ef-candidates → top-k contract real HNSW implementations
  // ship). The claim this query REPORTS (and the spec pins): the
  // hierarchy reaches recall >= the flat search while scoring FEWER
  // candidates (sf0.01: 29/30 hits at 231 scored vs flat's 29/30 at
  // 399 — 42% fewer). Output: one row per method —
  // n_scored = distinct (query, candidate) pairs scored, hits_at_10
  // = overlap with the exact brute-force top-10 summed over the 3
  // queries — all exact integers; the oracle replays both traversals
  // CTE-for-CTE. Scale: after the shared index build every step is
  // beam x degree rows per round, layer tables shrink 4^-l, and the
  // brute-force pass exists only for the recall report.
  private val l3hnsw = QueryDef(
    "l3_ann_hnsw",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val e = t(s, dir, "embeddings")
      val hs = new HnswSearch(e)
      val cs = cached(knnCandScored(s, dir))
      val adj = cached(hs.sym(hs.top(cs, 5)))
      // --- HNSW: the shared layered search, scored set kept ---
      val seen = hs.seen(adj, l => hs.sym(hs.layerTop3(cs, l)))
      // --- flat: l3_ann_graph_search's exact traversal, scored set kept ---
      var fseen = hs.cut(hs.scored(hs.q.select(col("qid"))
        .crossJoin(broadcast(e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("vid"))))))
      var fbeam = fseen
      for (_ <- 1 to 3) {
        val expand = fbeam.select(col("qid"), col("vid").as("a"))
          .join(adj, "a").select(col("qid"), col("b").as("vid")).distinct()
          .join(fbeam.select("qid", "vid"), Seq("qid", "vid"), "left_anti")
        val ns = hs.cut(hs.scored(expand))
        fseen = hs.cut(fseen.union(ns))
        fbeam = hs.cut(hs.beam10(fbeam.union(ns)))
      }
      // --- exact top-10 ground truth + the two report rows ---
      val exactTop = cached(
        topPerQuery(hs.scored(hs.q.select(col("qid"))
            .crossJoin(e.select(col("vec_id").as("vid"))))
          .filter(col("vid") =!= col("qid")), 10)
          .select("qid", "vid"))
      def report(method: String, all: DataFrame): DataFrame = {
        // the flat traversal can re-score a candidate dropped from the
        // beam (its anti-join sees only the beam) — distinct first, so
        // ranking and the scored count see each pair once
        val dist = all.select("qid", "vid", "simr").distinct()
        val top = topPerQuery(dist.filter(col("vid") =!= col("qid")), 10)
          .select("qid", "vid")
        dist.agg(count(lit(1)).as("n_scored"))
          .crossJoin(top.join(exactTop, Seq("qid", "vid"))
            .agg(count(lit(1)).as("hits_at_10")))
          .select(lit(method).as("method"), col("n_scored"), col("hits_at_10"))
      }
      report("flat", fseen).unionByName(report("hnsw", seen)).orderBy("method")
    },
    Some {
      def scoreCtes(tag: String, candCte: String): String =
        s"""dp$tag AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
           |  FROM $candCte JOIN x xa ON xa.vec_id = qid
           |  JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d GROUP BY qid, vid),
           |sc$tag AS MATERIALIZED (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
           |  FROM dp$tag JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid)""".stripMargin
      // per-layer kNN adjacency: top-3 among layer members from the
      // shared scored-candidate CTE (sdf), symmetrized
      val layers = (1 to 3).map { l =>
        s"""al$l AS (SELECT a, b FROM (
           |  SELECT s.qid AS a, s.vid AS b,
           |    row_number() OVER (PARTITION BY s.qid ORDER BY s.simr DESC, s.vid) AS rn
           |  FROM sdm s JOIN lvl la ON la.vid = s.qid AND la.lvl >= $l
           |             JOIN lvl lb ON lb.vid = s.vid AND lb.lvl >= $l) WHERE rn <= 3),
           |adjl$l AS MATERIALIZED (SELECT DISTINCT a, b FROM
           |  (SELECT a, b FROM al$l UNION ALL SELECT b, a FROM al$l))""".stripMargin
      }.mkString(",\n")
      // beam-1 descent: one layer-adjacency expansion per layer 3..1
      val descent = (1 to 3).map { i =>
        val l = 4 - i
        s"""hcur$i AS (SELECT qid, vid FROM (
           |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
           |  FROM seen${i - 1}) WHERE rn <= 1),
           |hnb$i AS (SELECT DISTINCT c.qid, adjl$l.b AS vid
           |  FROM hcur$i c JOIN adjl$l ON adjl$l.a = c.vid
           |  WHERE NOT EXISTS (SELECT 1 FROM seen${i - 1} p
           |                    WHERE p.qid = c.qid AND p.vid = adjl$l.b)),
           |${scoreCtes(s"h$i", s"hnb$i")},
           |seen$i AS MATERIALIZED (SELECT * FROM seen${i - 1}
           |  UNION ALL SELECT * FROM sch$i)""".stripMargin
      }.mkString(",\n")
      // base-layer beam, seeded from the descent's scored top-10
      val hnswRounds = (1 to 2).map { j =>
        val i = j + 3
        s"""hex$j AS (SELECT DISTINCT b.qid, adj.b AS vid
           |  FROM hb${j - 1} b JOIN adj ON adj.a = b.vid
           |  WHERE NOT EXISTS (SELECT 1 FROM seen${i - 1} p
           |                    WHERE p.qid = b.qid AND p.vid = adj.b)),
           |${scoreCtes(s"hx$j", s"hex$j")},
           |seen$i AS MATERIALIZED (SELECT * FROM seen${i - 1}
           |  UNION ALL SELECT * FROM schx$j),
           |hb$j AS MATERIALIZED (SELECT qid, vid, simr FROM (
           |  SELECT qid, vid, simr,
           |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
           |  FROM (SELECT * FROM hb${j - 1} UNION ALL SELECT * FROM schx$j))
           |  WHERE rn <= 10)""".stripMargin
      }.mkString(",\n")
      // flat: the l3_ann_graph_search traversal, verbatim discipline
      val flatRounds = (1 to 3).map { i =>
        s"""fex$i AS (SELECT DISTINCT b.qid, adj.b AS vid
           |  FROM fb${i - 1} b JOIN adj ON adj.a = b.vid
           |  WHERE NOT EXISTS (SELECT 1 FROM fb${i - 1} p
           |                    WHERE p.qid = b.qid AND p.vid = adj.b)),
           |${scoreCtes(s"f$i", s"fex$i")},
           |fb$i AS MATERIALIZED (SELECT qid, vid, simr FROM (
           |  SELECT qid, vid, simr,
           |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
           |  FROM (SELECT * FROM fb${i - 1} UNION ALL SELECT * FROM scf$i))
           |  WHERE rn <= 10)""".stripMargin
      }.mkString(",\n")
      s"""WITH $knnGraphOracleCtes,
         |g5 AS MATERIALIZED (SELECT qid AS a, vid AS b FROM r WHERE rn <= 5),
         |adj AS MATERIALIZED (SELECT DISTINCT a, b FROM
         |  (SELECT a, b FROM g5 UNION ALL SELECT b, a FROM g5)),
         |lvl AS MATERIALIZED (SELECT vid, CASE WHEN h % 64 = 0 THEN 3
         |    WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
         |  FROM (SELECT vec_id AS vid,
         |    CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM embeddings)),
         |sdm AS MATERIALIZED (SELECT qid, vid, simr FROM sdf),
         |$layers,
         |entry AS (SELECT vid FROM lvl ORDER BY lvl DESC, vid LIMIT 1),
         |qs AS (SELECT 0 AS qid UNION ALL SELECT 1 UNION ALL SELECT 2),
         |hc0 AS (SELECT qs.qid, entry.vid FROM qs, entry
         |  UNION ALL SELECT qid, qid AS vid FROM qs),
         |${scoreCtes("h0", "hc0")},
         |seen0 AS MATERIALIZED (SELECT * FROM sch0),
         |$descent,
         |hb0 AS MATERIALIZED (SELECT qid, vid, simr FROM (
         |  SELECT qid, vid, simr,
         |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM seen3) WHERE rn <= 10),
         |$hnswRounds,
         |fc0 AS (SELECT qs.qid, v.vec_id AS vid FROM qs,
         |        (SELECT vec_id FROM embeddings WHERE vec_id < 4) v),
         |${scoreCtes("f0", "fc0")},
         |fb0 AS MATERIALIZED (SELECT * FROM scf0),
         |$flatRounds,
         |fsc AS MATERIALIZED (SELECT DISTINCT qid, vid, simr FROM (
         |  SELECT * FROM scf0 UNION ALL SELECT * FROM scf1
         |  UNION ALL SELECT * FROM scf2 UNION ALL SELECT * FROM scf3)),
         |bfc AS (SELECT qs.qid, e.vec_id AS vid FROM qs, embeddings e
         |        WHERE e.vec_id <> qs.qid),
         |${scoreCtes("bf", "bfc")},
         |exact AS MATERIALIZED (SELECT qid, vid FROM (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM scbf) WHERE rn <= 10),
         |ftop AS (SELECT qid, vid FROM (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM fsc WHERE vid <> qid) WHERE rn <= 10),
         |htop AS (SELECT qid, vid FROM (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM seen5 WHERE vid <> qid) WHERE rn <= 10)
         |SELECT method, n_scored, hits_at_10 FROM (
         |  SELECT 'flat' AS method,
         |    (SELECT count(*) FROM fsc) AS n_scored,
         |    (SELECT count(*) FROM ftop JOIN exact
         |       ON exact.qid = ftop.qid AND exact.vid = ftop.vid) AS hits_at_10
         |  UNION ALL SELECT 'hnsw',
         |    (SELECT count(*) FROM (SELECT DISTINCT qid, vid FROM seen5)),
         |    (SELECT count(*) FROM htop JOIN exact
         |       ON exact.qid = htop.qid AND exact.vid = htop.vid))
         |ORDER BY method""".stripMargin
    })


  // INCREMENTAL HNSW INDEX MAINTENANCE (l3_ann_hnsw_incremental):
  // l3_knn_graph and l3_ann_hnsw rebuild their graphs from scratch —
  // this maintains them under a batch ADD (vec_id % 8 == 5, ~12% of
  // the fixture) without re-running the n^1.5 corpus-wide build:
  //  - the FROZEN index is the IVF-bounded build over the STORED
  //    corpus only (knnCandScoredOver — same machinery, smaller n);
  //  - each batch vector draws its layer by the SAME sha60 rule the
  //    full build uses (layer membership is a pure function of vid,
  //    so maintained and rebuilt hierarchies agree on levels by
  //    construction);
  //  - batch nodes LINK INTO the frozen adjacency from ONE
  //    batch-vs-stored scoring pass (|batch|·|stored| dots — the
  //    l2_incremental_dedup batch-vs-corpus shape; for b ≪ √n·n this
  //    beats the rebuild): top-5 base links + per-layer top-3 links
  //    among stored layer members, all symmetrized (HNSW's
  //    bidirectional insertion; reverse-list PRUNING is skipped —
  //    degree grows by at most the batch fan-in between compactions,
  //    the documented difference from a full rebuild).
  // The gate runs the IDENTICAL layered search (l3_ann_hnsw's
  // entry + beam-1 descent + width-10 base beam, 2 rounds) over the
  // maintained index AND over a from-scratch REBUILT index, and
  // returns both top-10 result sets. The adjacencies legitimately
  // differ at the margin (a rebuild re-ranks stored nodes' lists with
  // batch candidates; insertion adds fresh reverse links instead), so
  // the pinned contract is SEARCH QUALITY, not graph equality: hits
  // against the exact brute-force top-10 stay within ONE hit of the
  // rebuilt index and near-exact overall (sf0.01: maintained 30/30 vs
  // rebuilt 29/30 — the fresh direct links help; sf0.001: 29 vs 30 —
  // QueriesSpec pins the no-degradation margin). Scale:
  // maintenance cost is batch-sized (b·n scoring + batch-sized link
  // ranking); only the rebuilt arm — present here as the comparison
  // target — pays the n^1.5 build.
  /** The l3_ann_hnsw layered search over the corpus `e`, written once
    * for l3_ann_hnsw, l3_ann_hnsw_incremental and l3_ann_compact: the
    * sha60 level table, top-k link ranking ([[top]], [[layerTop3]],
    * [[sym]]), the scorer for the three query nodes, and the search —
    * {top-level entry, the query itself}, a beam-1 descent per layer
    * 3→1, then a width-10 base-layer beam for two rounds. [[seen]]
    * returns every (qid, vid, simr) the search scored; [[search]] its
    * result-heap top-10. */
  private final class HnswSearch(val e: DataFrame)
                                (implicit scope: graft.ops.CacheScope) {
    private val lvl: DataFrame = cached(e.select(col("vec_id").as("vid"))
      .withColumn("h", sha60(col("vid").cast("string")))
      .withColumn("lvl",
        when(pmod(col("h"), lit(64L)) === 0, 3)
          .when(pmod(col("h"), lit(16L)) === 0, 2)
          .when(pmod(col("h"), lit(4L)) === 0, 1)
          .otherwise(0))
      .select("vid", "lvl"))
    val q: DataFrame = broadcast(e.filter(col("vec_id").isin(0, 1, 2))
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
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
    private val entry = broadcast(lvl.orderBy(col("lvl").desc, col("vid").asc)
      .limit(1).select(col("vid")))

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

  /** Shared scaffolding for the incremental-HNSW family
    * (l3_ann_hnsw_incremental and l3_ann_compact): the frozen
    * stored-corpus candidate scores, the one batch-vs-stored scoring
    * pass and the insertion-maintained adjacency, over the shared
    * [[HnswSearch]] — factored so compaction composes on top instead
    * of duplicating the build. */
  private final case class HnswIncrKit(hs: HnswSearch, adjM: DataFrame,
                                       layerAdjM: Int => DataFrame)

  private def hnswIncrKit(s: SparkSession, dir: String)
                         (implicit scope: graft.ops.CacheScope): HnswIncrKit = {
    val hs = new HnswSearch(t(s, dir, "embeddings"))
    val stored = hs.e.filter(col("vec_id") % 8 =!= 5)
    val batch = hs.e.filter(col("vec_id") % 8 === 5)
    // frozen stored-corpus index + one batch-vs-stored scoring pass
    // (batch side BROADCAST so the corpus side streams — the
    // l3_knn_bruteforce idiom; at real scale swap the brute pass
    // for IVF probe lists, docs/SCALING.md)
    val csStored = cached(knnCandScoredOver(stored))
    val bs = cached(stored
      .select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .crossJoin(broadcast(batch
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))))
      .select(col("qid"), col("vid"),
        round(vec_cos(col("qe"), col("ve")), 6).as("simr")))
    val adjM = cached(hs.sym(hs.top(csStored, 5).unionByName(hs.top(bs, 5))))
    HnswIncrKit(hs, adjM,
      l => hs.sym(hs.layerTop3(csStored, l).unionByName(hs.layerTop3(bs, l))))
  }

  // ---- shared oracle CTE builders for the incremental-HNSW family
  // (l3_ann_hnsw_incremental + l3_ann_compact) — SQL mirrors of
  // hnswIncrKit, factored so the compaction oracle composes on the
  // identical maintained-index chain instead of duplicating it ----
  private val hivStoredPred = "vec_id % 8 <> 5"

  /** A second IVF chain over the STORED corpus only — the frozen
    * index build (mirrors knnCandScoredOver(stored) CTE-for-CTE). */
  private val hivStoredIvf =
    s"""nls AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
       |        FROM embeddings WHERE $hivStoredPred),
       |cds AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
       |              round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
       |                    / (nv.nrm * nc.nrm), 6) AS simr
       |       FROM x xv JOIN x xc ON xc.d = xv.d
       |         AND xc.vec_id < (SELECT nlist FROM nls) AND xc.$hivStoredPred
       |       JOIN n nv ON nv.vec_id = xv.vec_id
       |       JOIN n nc ON nc.vec_id = xc.vec_id
       |       WHERE xv.$hivStoredPred
       |       GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
       |r0s AS (SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
       |        FROM cds),
       |assigns AS (SELECT vid, cid FROM r0s WHERE rn = 1),
       |probess AS (SELECT vid AS qid, cid FROM r0s WHERE rn <= 4),
       |candss AS (SELECT p.qid, a.vid FROM probess p JOIN assigns a ON a.cid = p.cid
       |           WHERE a.vid != p.qid),
       |dpss AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
       |         FROM candss JOIN x xa ON xa.vec_id = qid
       |         JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
       |         GROUP BY qid, vid),
       |sdms AS MATERIALIZED (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
       |        FROM dpss JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid)""".stripMargin

  /** One batch-vs-stored scoring pass (the insertion cost). */
  private val hivBatchScore =
    s"""bsc AS MATERIALIZED (
       |  SELECT d.qid, d.vid, round(d.dot / (na.nrm * nb.nrm), 6) AS simr FROM (
       |    SELECT xa.vec_id AS qid, xb.vec_id AS vid,
       |           SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
       |    FROM x xa JOIN x xb ON xb.d = xa.d AND xb.$hivStoredPred
       |    WHERE xa.vec_id % 8 = 5 GROUP BY 1, 2) d
       |  JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.vid)""".stripMargin

  private def hivTop5(tag: String, src: String): String =
    s"""g5$tag AS (SELECT qid AS a, vid AS b FROM (
       |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
       |  FROM $src) WHERE rn <= 5)""".stripMargin

  /** Per-layer top-3 adjacency arms (both sides layer members). */
  private def hivLayer3(tag: String, src: String, l: Int): String =
    s"""al$tag$l AS (SELECT a, b FROM (
       |  SELECT s.qid AS a, s.vid AS b,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.simr DESC, s.vid) AS rn
       |  FROM $src s JOIN lvl la ON la.vid = s.qid AND la.lvl >= $l
       |             JOIN lvl lb ON lb.vid = s.vid AND lb.lvl >= $l) WHERE rn <= 3)""".stripMargin

  /** The MAINTAINED adjacency: frozen top-5 ∪ batch top-5, symmetrized,
    * plus the three layer arms. */
  private val hivMaintainedAdjacency =
    s"""${hivTop5("s", "sdms")},
       |${hivTop5("b", "bsc")},
       |adjm AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |  SELECT a, b FROM g5s UNION ALL SELECT b, a FROM g5s
       |  UNION ALL SELECT a, b FROM g5b UNION ALL SELECT b, a FROM g5b)),
       |${(1 to 3).map { l =>
          s"""${hivLayer3("s", "sdms", l)},
             |${hivLayer3("b", "bsc", l)},
             |adjml$l AS MATERIALIZED (SELECT DISTINCT a, b FROM (
             |  SELECT a, b FROM als$l UNION ALL SELECT b, a FROM als$l
             |  UNION ALL SELECT a, b FROM alb$l UNION ALL SELECT b, a FROM alb$l))""".stripMargin
        }.mkString(",\n")}""".stripMargin

  private def hivScoreCtes(tag: String, candCte: String): String =
    s"""dp$tag AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
       |  FROM $candCte JOIN x xa ON xa.vec_id = qid
       |  JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d GROUP BY qid, vid),
       |sc$tag AS MATERIALIZED (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
       |  FROM dp$tag JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid)""".stripMargin

  private val hivLvl =
    """lvl AS MATERIALIZED (SELECT vid, CASE WHEN h % 64 = 0 THEN 3
      |    WHEN h % 16 = 0 THEN 2 WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
      |  FROM (SELECT vec_id AS vid,
      |    CAST('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM embeddings))""".stripMargin

  private val hivEntryQs =
    """entry AS (SELECT vid FROM lvl ORDER BY lvl DESC, vid LIMIT 1),
      |qs AS (SELECT 0 AS qid UNION ALL SELECT 1 UNION ALL SELECT 2)""".stripMargin

  /** The l3_ann_hnsw search chain, parameterized by index tag. */
  private def hivSearchCtes(m: String, adjBase: String,
                            adjL: Int => String): String = {
    val descent = (1 to 3).map { i =>
      val l = 4 - i
      s"""hcur$m$i AS (SELECT qid, vid FROM (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM seen$m${i - 1}) WHERE rn <= 1),
         |hnb$m$i AS (SELECT DISTINCT c.qid, ja.b AS vid
         |  FROM hcur$m$i c JOIN ${adjL(l)} ja ON ja.a = c.vid
         |  WHERE NOT EXISTS (SELECT 1 FROM seen$m${i - 1} p
         |                    WHERE p.qid = c.qid AND p.vid = ja.b)),
         |${hivScoreCtes(s"h$m$i", s"hnb$m$i")},
         |seen$m$i AS MATERIALIZED (SELECT * FROM seen$m${i - 1}
         |  UNION ALL SELECT * FROM sch$m$i)""".stripMargin
    }.mkString(",\n")
    val baseRounds = (1 to 2).map { j =>
      val i = j + 3
      s"""hex$m$j AS (SELECT DISTINCT b.qid, ja.b AS vid
         |  FROM hb$m${j - 1} b JOIN $adjBase ja ON ja.a = b.vid
         |  WHERE NOT EXISTS (SELECT 1 FROM seen$m${i - 1} p
         |                    WHERE p.qid = b.qid AND p.vid = ja.b)),
         |${hivScoreCtes(s"hx$m$j", s"hex$m$j")},
         |seen$m$i AS MATERIALIZED (SELECT * FROM seen$m${i - 1}
         |  UNION ALL SELECT * FROM schx$m$j),
         |hb$m$j AS MATERIALIZED (SELECT qid, vid, simr FROM (
         |  SELECT qid, vid, simr,
         |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |  FROM (SELECT * FROM hb$m${j - 1} UNION ALL SELECT * FROM schx$m$j))
         |  WHERE rn <= 10)""".stripMargin
    }.mkString(",\n")
    s"""hc0$m AS (SELECT qs.qid, entry.vid FROM qs, entry
       |  UNION ALL SELECT qid, qid AS vid FROM qs),
       |${hivScoreCtes(s"h${m}0", s"hc0$m")},
       |seen${m}0 AS MATERIALIZED (SELECT * FROM sch${m}0),
       |$descent,
       |hb${m}0 AS MATERIALIZED (SELECT qid, vid, simr FROM (
       |  SELECT qid, vid, simr,
       |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
       |  FROM seen${m}3) WHERE rn <= 10),
       |$baseRounds,
       |ftop$m AS (SELECT qid, rn, vid, simr FROM (
       |  SELECT qid, vid, simr,
       |    row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
       |  FROM (SELECT DISTINCT qid, vid, simr FROM seen${m}5 WHERE vid <> qid))
       |  WHERE rn <= 10)""".stripMargin
  }

  private val l3hnswIncr = QueryDef(
    "l3_ann_hnsw_incremental",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val kit = hnswIncrKit(s, dir)
      val hs = kit.hs
      // rebuilt full-corpus index (the comparison target)
      val csAll = cached(knnCandScoredOver(hs.e))
      val adjR = cached(hs.sym(hs.top(csAll, 5)))
      def layerAdjR(l: Int): DataFrame = hs.sym(hs.layerTop3(csAll, l))
      hs.search(kit.adjM, kit.layerAdjM, "maintained")
        .unionByName(hs.search(adjR, layerAdjR, "rebuilt"))
        .orderBy("method", "qid", "rn")
    },
    Some {
      // the REBUILT arm's adjacency (full-corpus top-5 + layer arms)
      val rebuiltAdjacency =
        s"""${hivTop5("r", "sdm")},
           |adjr AS MATERIALIZED (SELECT DISTINCT a, b FROM (
           |  SELECT a, b FROM g5r UNION ALL SELECT b, a FROM g5r)),
           |${(1 to 3).map { l =>
              s"""${hivLayer3("r", "sdm", l)},
                 |adjrl$l AS MATERIALIZED (SELECT DISTINCT a, b FROM (
                 |  SELECT a, b FROM alr$l UNION ALL SELECT b, a FROM alr$l))""".stripMargin
            }.mkString(",\n")}""".stripMargin
      s"""WITH $knnGraphOracleCtes,
         |sdm AS MATERIALIZED (SELECT qid, vid, simr FROM sdf),
         |$hivStoredIvf,
         |$hivBatchScore,
         |$hivLvl,
         |$hivMaintainedAdjacency,
         |$rebuiltAdjacency,
         |$hivEntryQs,
         |${hivSearchCtes("m", "adjm", l => s"adjml$l")},
         |${hivSearchCtes("r", "adjr", l => s"adjrl$l")}
         |SELECT method, qid, rn, vid, simr FROM (
         |  SELECT 'maintained' AS method, qid, rn, vid, simr FROM ftopm
         |  UNION ALL SELECT 'rebuilt', qid, rn, vid, simr FROM ftopr)
         |ORDER BY method, qid, rn""".stripMargin
    })

  // ANN INDEX COMPACTION (l3_ann_compact): the documented other half
  // of incremental maintenance — insertion symmetrizes fresh links
  // into the frozen adjacency WITHOUT re-ranking stored nodes' lists,
  // so maintained degree grows by the batch fan-in per round;
  // CorpusOps.compactAdjacency re-ranks each node's accumulated list
  // back to the search graph's capacity cap (HNSW's Mmax rule:
  // 2M = 10 at the base layer, 2·3 per upper layer — the symmetrized
  // top-M lists' healthy degree envelope) in ONE adjacency-sized
  // re-scoring pass — never a rebuild. The query runs
  // the identical layered search over the COMPACTED maintained index;
  // the ORACLE replays maintained-build → compaction → search CTE-for-
  // CTE, and QueriesSpec pins (a) search quality within the
  // hnsw_incremental one-hit margin of the rebuilt index and (b) max
  // out-degree back at the cap (the degree audit compaction exists
  // for). Scale: compaction cost is O(edges) = O(n·(cap + rounds·
  // fan-in)) — schedule it off a degree probe, the reclusterIfDeep
  // discipline.
  private val l3annCompact = QueryDef(
    "l3_ann_compact",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val kit = hnswIncrKit(s, dir)
      // caps follow HNSW's Mmax rule: the SEARCH graph is the
      // symmetrized top-M lists, so its healthy degree envelope is 2M
      // (out-links + reverse links) — compaction prunes back to
      // Mmax0 = 2·5 at the base layer and 2·3 per upper layer, NOT to
      // M itself (that would halve the search graph's degree vs the
      // rebuilt index and gut recall — measured 20/30 vs 30/30 at
      // sf0.001 with cap 5)
      val adjC = cached(graft.ops.CorpusOps.compactAdjacency(kit.adjM, kit.hs.e, 10))
      def layerAdjC(l: Int): DataFrame =
        graft.ops.CorpusOps.compactAdjacency(kit.layerAdjM(l), kit.hs.e, 6)
      kit.hs.search(adjC, layerAdjC, "compacted").orderBy("qid", "rn")
    },
    Some {
      // compaction in SQL: re-score the maintained adjacency's edges
      // (adjacency-sized candidate set through the shared score CTEs)
      // and keep each node's top-5 (top-3 per layer) — DIRECTED, no
      // re-symmetrization (that would re-inflate)
      def compact(outCte: String, edges: String, tag: String, k: Int): String =
        s"""c$tag AS (SELECT a AS qid, b AS vid FROM $edges),
           |${hivScoreCtes(tag, s"c$tag")},
           |$outCte AS MATERIALIZED (SELECT qid AS a, vid AS b FROM (
           |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
           |  FROM sc$tag) WHERE rn <= $k)""".stripMargin
      s"""WITH $knnGraphOracleCtes,
         |$hivStoredIvf,
         |$hivBatchScore,
         |$hivLvl,
         |$hivMaintainedAdjacency,
         |${compact("adjc", "adjm", "cb", 10)},
         |${(1 to 3).map(l => compact(s"adjcl$l", s"adjml$l", s"cl$l", 6))
            .mkString(",\n")},
         |$hivEntryQs,
         |${hivSearchCtes("c", "adjc", l => s"adjcl$l")}
         |SELECT 'compacted' AS method, qid, rn, vid, simr FROM ftopc
         |ORDER BY qid, rn""".stripMargin
    })

  // ANN INDEX DELETION (l3_ann_delete): drop vectors from the stored
  // IVF-bounded kNN-graph index and repair it EXACTLY, the FAISS-IVF
  // deletion semantic — the QUANTIZER IS FROZEN (nlist and centroid
  // vectors never retrain on delete; re-training is a rebuild), only
  // the postings/lists change. Maintenance is batch-shaped:
  //  - deleted nodes' own lists drop (a filter);
  //  - AFFECTED nodes — those whose stored top-5 contains a deleted
  //    vector — re-rank over the frozen probe lists joined to the
  //    SURVIVING assignments (the q118 runner-up lesson: the stored
  //    (vid, cid, rn<=4) probe/assign table is the persisted auxiliary
  //    that makes exact promotion possible without a corpus rescan);
  //  - every other node's list passes through UNTOUCHED (its top-5
  //    lost no member, and removing non-members cannot reorder it).
  // Maintained == rebuilt-over-survivors-with-the-frozen-quantizer
  // EXACTLY, and the ORACLE is that independent rebuild: the
  // l3_knn_graph chain with survivors on both candidate sides but
  // nlist/centroids from the ORIGINAL corpus. Cost: one aux-sized
  // affected scan + affected×posting rescoring — never n^1.5.
  private val l3annDelete = QueryDef(
    "l3_ann_delete",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val e = t(s, dir, "embeddings")
      // the STORED index under the frozen quantizer (nlist from the
      // ORIGINAL count, centroids by original id — their vectors
      // persist with the index), with its probe/assign auxiliary
      val (g, probes, assign) = graft.ops.CorpusOps.annBuild(e,
        sqrtSeedCents(e), annK = 5, probeK = 4)
      // ---- the deletion batch: every 9th vector ----
      val (repaired, _, _) = graft.ops.CorpusOps.annDeleteStep(
        e.filter(col("vec_id") % 9 === 3).select("vec_id"), g, probes, assign, e, 5)
      repaired.orderBy("qid", "rn")
    },
    Some {
      val surv = "vec_id % 9 <> 3"
      // the l3_knn_graph chain rebuilt over survivors with the FROZEN
      // quantizer: nl counts the ORIGINAL corpus, centroid ids are
      // original, both candidate sides filter to survivors
      s"""WITH x AS (SELECT vec_id, unnest(embedding) AS e,
         |             generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
         |n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
         |      FROM x GROUP BY vec_id),
         |nl AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
         |       FROM embeddings),
         |cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
         |              round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
         |                    / (nv.nrm * nc.nrm), 6) AS simr
         |       FROM x xv JOIN x xc ON xc.d = xv.d AND xc.vec_id < (SELECT nlist FROM nl)
         |       JOIN n nv ON nv.vec_id = xv.vec_id
         |       JOIN n nc ON nc.vec_id = xc.vec_id
         |       WHERE xv.$surv
         |       GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
         |r0 AS (SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
         |       FROM cd),
         |assign AS (SELECT vid, cid FROM r0 WHERE rn = 1),
         |probes AS (SELECT vid AS qid, cid FROM r0 WHERE rn <= 4),
         |cand AS (SELECT p.qid, a.vid FROM probes p JOIN assign a ON a.cid = p.cid
         |         WHERE a.vid != p.qid),
         |dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
         |       FROM cand JOIN x xa ON xa.vec_id = qid
         |       JOIN x xb ON xb.vec_id = vid AND xb.d = xa.d
         |       GROUP BY qid, vid),
         |sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
         |        FROM dp JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = vid),
         |r AS (SELECT qid, vid, simr,
         |             row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
         |      FROM sdf)
         |SELECT qid, rn, vid, simr FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    })

  // Exact substring-SPAN dedup (Lee et al. 2022) — any >=8-token run
  // already present in an earlier doc is removed token-exactly from
  // the later one. The duplication class LINE dedup misses (runs that
  // straddle line boundaries) and winnow only reports. No pairwise
  // join anywhere: positional gram hashes -> min-doc ownership
  // (partial-agg) -> dup flags -> the cover test is a window MAX over
  // the last 8 gram-start flags (an interval join collapsed into ROWS
  // 7 PRECEDING), -> reassembly. Corpus-linear; see
  // CorpusOps.spanDedup for the full scale argument.
  private val l8spanDedup = QueryDef(
    "l8_span_dedup",
    (s, dir) => graft.ops.CorpusOps.spanDedup(t(s, dir, "documents"))
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
            |         i -> {'i': i - 1,
            |               'h': CAST(concat('0x', substr(sha256(array_to_string(ws[i:i+7], ' ')), 1, 15)) AS BIGINT)})) AS x
            |       FROM w WHERE len(ws) >= 8),
            |g AS (SELECT doc_id, x.i AS i, x.h AS h FROM g0),
            |own AS (SELECT h, min(doc_id) AS min_doc FROM g GROUP BY h),
            |d AS (SELECT g.doc_id, g.i, g.doc_id > own.min_doc AS dup FROM g JOIN own USING (h)),
            |tok AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) - 1 AS j FROM w),
            |f AS (SELECT t.doc_id, t.j, t.word, coalesce(d.dup, FALSE) AS dup
            |      FROM tok t LEFT JOIN d ON d.doc_id = t.doc_id AND d.i = t.j),
            |m AS (SELECT doc_id, j, word,
            |        max(CASE WHEN dup THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY j
            |          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 1 AS rm
            |      FROM f)
            |SELECT doc_id,
            |       coalesce(string_agg(CASE WHEN NOT rm THEN word END, ' ' ORDER BY j), '') AS clean_text,
            |       count(CASE WHEN NOT rm THEN 1 END) AS n_kept,
            |       count(CASE WHEN rm THEN 1 END) AS n_removed
            |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // Cluster-balanced DIVERSITY sampling — cap each semantic cluster's
  // contribution to the curated set (the anti-over-representation
  // pass: web corpora collapse onto a few dense semantic regions, and
  // uniform sampling inherits that skew). Assignment reuses the IVF
  // machinery: k SCALE-PARAMETERIZED at max(32, ceil(√n)) — the same
  // action-free broadcast-aggregate idiom as l3_knn_graph's nlist; a
  // FIXED k would rank the whole corpus inside k window partitions
  // (max k-way parallelism, ~n/k rows per sort partition — the
  // fixed-parameter trap this project hit with banding widths and
  // nlist before). √n clusters keep each quota partition ~√n rows at
  // any corpus size. Within each cluster, members rank in HASH order
  // (sha60 of vec_id — an unbiased deterministic shuffle, the
  // l8_sample_hash idiom) and rank <= quota survives; this diagnostic
  // variant emits EVERY row with its kept verdict (rank is
  // output-pinned), so the window must materialize all ranks —
  // l3_cluster_sample_kept below is the production shape whose rank
  // filter compiles to a partial per-partition WindowGroupLimit.
  private def clusterAssign(e: DataFrame): DataFrame =
    cosineCells(e, sqrtSeedCents(e), 1).select(col("vid"), col("cid"))
      .withColumn("hk", pmod(sha60(col("vid").cast("string")), lit(1000000007L)))

  private val clusterSampleOracle =
    """WITH x AS (SELECT vec_id, unnest(embedding) AS e,
      |             generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
      |n AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
      |      FROM x GROUP BY vec_id),
      |nk AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS kk
      |       FROM embeddings),
      |cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
      |              round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
      |                    / (nv.nrm * nc.nrm), 6) AS simr
      |       FROM x xv JOIN x xc ON xc.d = xv.d AND xc.vec_id < (SELECT kk FROM nk)
      |       JOIN n nv ON nv.vec_id = xv.vec_id
      |       JOIN n nc ON nc.vec_id = xc.vec_id
      |       GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
      |assign AS (SELECT vid, cid FROM (
      |      SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
      |      FROM cd) WHERE rn = 1),
      |h AS (SELECT vid, cid,
      |        CAST(concat('0x', substr(sha256(CAST(vid AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000007 AS hk
      |      FROM assign),
      |r AS (SELECT vid, cid,
      |             row_number() OVER (PARTITION BY cid ORDER BY hk, vid) AS rank
      |      FROM h)""".stripMargin

  private val l3clusterSample = QueryDef(
    "l3_cluster_sample",
    (s, dir) => {
      val wQuota = Window.partitionBy("cid")
        .orderBy(col("hk").asc, col("vid").asc)
      clusterAssign(t(s, dir, "embeddings"))
        .withColumn("rank", row_number().over(wQuota))
        .select(col("vid"), col("cid"), col("rank"),
          (col("rank") <= 8).as("kept"))
        .orderBy("cid", "rank")
    },
    Some(clusterSampleOracle +
      """
        |SELECT vid, cid, rank, rank <= 8 AS kept
        |FROM r ORDER BY cid, rank""".stripMargin))

  // The production shape of the same sample: emit ONLY the kept rows,
  // so the rank predicate sits directly on the quota window and
  // Catalyst's InferWindowGroupLimit turns it into a partial
  // per-partition top-quota BEFORE the cid exchange (plus the final
  // limit after) — the shuffle carries <= quota rows per (input
  // partition, cid) instead of the whole corpus, and the full ranking
  // never materializes. Same adaptive k, same hash order, same kept
  // set as l3_cluster_sample (the diagnostic variant's `kept` column
  // pins that equivalence through the shared CTE pipeline).
  // Plan-pinned in PlanContractSpec (partial+final WindowGroupLimit).
  private val l3clusterSampleKept = QueryDef(
    "l3_cluster_sample_kept",
    (s, dir) => {
      val wQuota = Window.partitionBy("cid")
        .orderBy(col("hk").asc, col("vid").asc)
      clusterAssign(t(s, dir, "embeddings"))
        .withColumn("rank", row_number().over(wQuota))
        .filter(col("rank") <= 8)
        .select(col("vid"), col("cid"), col("rank"))
        .orderBy("cid", "rank")
    },
    Some(clusterSampleOracle +
      """
        |SELECT vid, cid, rank
        |FROM r WHERE rank <= 8 ORDER BY cid, rank""".stripMargin))

  // Single-pass dataset PROFILING — the data-quality report every
  // pipeline publishes before training: per column, row/null/distinct
  // counts plus a numeric min/max envelope (string columns profile
  // their LENGTHS — engine-portable where raw string min/max
  // formatting is not; timestamps profile as epoch-µs). The whole
  // report is ONE corpus pass: a single aggregate row of 6×5
  // expressions, melted map-side into (column, stat...) rows — the
  // oracle spells the same numbers as six single-column aggregates
  // UNION ALL'd, so the compare also pins that the fused pass equals
  // the per-column spelling. Exact distincts (the profile is a
  // correctness artifact; q05/q34 are the sketch-bounded variants).
  private val l8profile = QueryDef(
    "l8_profile",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      def num(c: String) = Seq(
        count(col(c)).as(s"${c}_n"),
        count(when(col(c).isNull, 1)).as(s"${c}_nn"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c)).cast("double").as(s"${c}_mn"),
        max(col(c)).cast("double").as(s"${c}_mx"))
      def str(c: String) = Seq(
        count(col(c)).as(s"${c}_n"),
        count(when(col(c).isNull, 1)).as(s"${c}_nn"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(length(col(c))).cast("double").as(s"${c}_mn"),
        max(length(col(c))).cast("double").as(s"${c}_mx"))
      val aggs = num("event_id") ++ num("ts_us") ++ num("user_id") ++
        str("event_type") ++ num("value") ++ str("props")
      val one = e.agg(aggs.head, aggs.tail: _*)
      val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
      one.select(explode(array(cols.map(c => struct(
          lit(c).as("column"), col(s"${c}_n").as("n_rows"),
          col(s"${c}_nn").as("n_null"), col(s"${c}_nd").as("n_distinct"),
          col(s"${c}_mn").as("mn"), col(s"${c}_mx").as("mx"))): _*)).as("p"))
        .select(col("p.column").as("column"), col("p.n_rows").as("n_rows"),
          col("p.n_null").as("n_null"), col("p.n_distinct").as("n_distinct"),
          round(col("p.mn"), 6).as("mn"), round(col("p.mx"), 6).as("mx"))
        .orderBy("column")
    },
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events)
            |SELECT * FROM (
            |  SELECT 'event_id' AS "column", count(event_id) AS n_rows,
            |         count(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
            |         count(DISTINCT event_id) AS n_distinct,
            |         round(CAST(min(event_id) AS DOUBLE), 6) AS mn,
            |         round(CAST(max(event_id) AS DOUBLE), 6) AS mx FROM e
            |  UNION ALL
            |  SELECT 'ts_us', count(ts_us), count(CASE WHEN ts_us IS NULL THEN 1 END),
            |         count(DISTINCT ts_us),
            |         round(CAST(min(ts_us) AS DOUBLE), 6), round(CAST(max(ts_us) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'user_id', count(user_id), count(CASE WHEN user_id IS NULL THEN 1 END),
            |         count(DISTINCT user_id),
            |         round(CAST(min(user_id) AS DOUBLE), 6), round(CAST(max(user_id) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'event_type', count(event_type), count(CASE WHEN event_type IS NULL THEN 1 END),
            |         count(DISTINCT event_type),
            |         round(CAST(min(len(event_type)) AS DOUBLE), 6),
            |         round(CAST(max(len(event_type)) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'value', count(value), count(CASE WHEN value IS NULL THEN 1 END),
            |         count(DISTINCT value),
            |         round(CAST(min(value) AS DOUBLE), 6), round(CAST(max(value) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'props', count(props), count(CASE WHEN props IS NULL THEN 1 END),
            |         count(DISTINCT props),
            |         round(CAST(min(len(props)) AS DOUBLE), 6),
            |         round(CAST(max(len(props)) AS DOUBLE), 6) FROM e)
            |ORDER BY "column" """.stripMargin))

  // The 100 TB shape of the profile report: distincts via HLL++
  // (approx_count_distinct, rsd=0.01) so the single aggregate pass has
  // NO Expand — the exact profile's 4 countDistincts in one plan
  // multiply every input row ~6× inside its shuffle; this one's
  // combined state is a handful of HLL sketches (PlanContractSpec pins
  // the no-Expand claim). HLL values can't hash-match an exact engine,
  // so — the q05/q34 pattern — the deterministic claim is the error
  // bound itself: each column reports |approx−exact|/exact <= 5%
  // (5× the 1% rsd), alongside the exact-matched row/null/min/max
  // stats. The exact-distinct pass here exists only to VERIFY the
  // sketch; a production pipeline runs the approx pass alone.
  private val l8profileApprox = QueryDef(
    "l8_profile_approx",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      val numC = Seq("event_id", "ts_us", "user_id", "value")
      val strC = Seq("event_type", "props")
      val cols = numC ++ strC
      val rep = graft.ops.CorpusOps.profileApprox(e, numC, strC)
      val exact = e.agg(
        countDistinct(col(cols.head)).as(s"${cols.head}_xd"),
        cols.tail.map(c => countDistinct(col(c)).as(s"${c}_xd")): _*)
      val exactMelt = exact.select(
        explode(array(cols.map(c => struct(
          lit(c).as("column"), col(s"${c}_xd").as("xd"))): _*)).as("p"))
        .select(col("p.column").as("column"), col("p.xd").as("xd"))
      rep.join(broadcast(exactMelt), "column")
        .select(col("column"), col("n_rows"), col("n_null"),
          (abs(col("n_distinct_approx") - col("xd")) / col("xd") <= 0.05)
            .as("nd_within_5pct"),
          col("mn"), col("mx"))
        .orderBy("column")
    },
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events)
            |SELECT * FROM (
            |  SELECT 'event_id' AS "column", count(event_id) AS n_rows,
            |         count(CASE WHEN event_id IS NULL THEN 1 END) AS n_null,
            |         true AS nd_within_5pct,
            |         round(CAST(min(event_id) AS DOUBLE), 6) AS mn,
            |         round(CAST(max(event_id) AS DOUBLE), 6) AS mx FROM e
            |  UNION ALL
            |  SELECT 'ts_us', count(ts_us), count(CASE WHEN ts_us IS NULL THEN 1 END),
            |         true, round(CAST(min(ts_us) AS DOUBLE), 6), round(CAST(max(ts_us) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'user_id', count(user_id), count(CASE WHEN user_id IS NULL THEN 1 END),
            |         true, round(CAST(min(user_id) AS DOUBLE), 6), round(CAST(max(user_id) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'event_type', count(event_type), count(CASE WHEN event_type IS NULL THEN 1 END),
            |         true, round(CAST(min(len(event_type)) AS DOUBLE), 6),
            |         round(CAST(max(len(event_type)) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'value', count(value), count(CASE WHEN value IS NULL THEN 1 END),
            |         true, round(CAST(min(value) AS DOUBLE), 6), round(CAST(max(value) AS DOUBLE), 6) FROM e
            |  UNION ALL
            |  SELECT 'props', count(props), count(CASE WHEN props IS NULL THEN 1 END),
            |         true, round(CAST(min(len(props)) AS DOUBLE), 6),
            |         round(CAST(max(len(props)) AS DOUBLE), 6) FROM e)
            |ORDER BY "column" """.stripMargin))

  // Vocabulary coverage / OOV rate — the tokenizer-training prep step:
  // build the top-V vocabulary by corpus frequency (V=256 here; fixed,
  // so the vocab side is CONSTANT-sized however big the corpus — the
  // broadcast that stays legal at 100 TB, unlike a full frequency
  // table), then score every doc's out-of-vocabulary token rate. The
  // corpus-side cost is one word-count aggregate plus one explode +
  // doc-keyed partial agg; the global top-V cut runs as a DISTRIBUTED
  // TakeOrderedAndProject over the count table (per-partition top-256
  // then a 256-row merge — a single-partition row_number window here
  // would funnel the full distinct-word table, billions of rows at
  // corpus scale, through one task). Ties in the frequency cut break
  // by word ASC on both engines.
  private val l4vocab = QueryDef(
    "l4_vocab_oov",
    (s, dir) => {
      val V = 256
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val wc = tok.groupBy("word").agg(count(lit(1)).as("cnt"))
      val vocab = broadcast(wc
        .orderBy(col("cnt").desc, col("word").asc).limit(V)
        .select(col("word"), lit(1).as("in_v")))
      tok.join(vocab, Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
             count(when(col("in_v").isNull, 1)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          round(col("n_oov") / col("n_tok").cast("double"), 6).as("oov_rate"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
            |wc AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
            |v AS (SELECT word FROM (SELECT word, row_number() OVER (ORDER BY cnt DESC, word) AS rn
            |                        FROM wc) WHERE rn <= 256)
            |SELECT doc_id, count(*) AS n_tok,
            |       count(CASE WHEN v.word IS NULL THEN 1 END) AS n_oov,
            |       round(count(CASE WHEN v.word IS NULL THEN 1 END) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
            |FROM tok LEFT JOIN v ON tok.word = v.word
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // Edit-distance VERIFICATION over the near-dup pair set — the
  // character-level second opinion a curation pipeline runs before
  // destructive dedup: shingle Jaccard is word-level and can score two
  // docs 0.8+ while their surfaces differ (reordered sentences), so
  // each surviving pair gets a bounded Levenshtein check. Cost
  // control is structural: the DP is O(P²) per pair on a P=64-char
  // prefix (never the full document), and it runs ONLY on the
  // candidate-pair-sized near-dup set — the corpus contributes one
  // 3-column projection. Both engines compute classic single-char-edit
  // Levenshtein (Spark's codegen'd expression / DuckDB's builtin), an
  // exact integer, so only the normalized similarity needs round(·,6).
  private val l2edit = QueryDef(
    "l2_edit_distance",
    (s, dir) => {
      val px = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("p"))
      jaccardPairs(s, dir)
        .join(px.select(col("doc_id").as("d1"), col("p").as("p1")), "d1")
        .join(px.select(col("doc_id").as("d2"), col("p").as("p2")), "d2")
        .select(col("d1"), col("d2"), col("j"),
          levenshtein(col("p1"), col("p2")).as("lev"),
          round(lit(1.0) - levenshtein(col("p1"), col("p2")) /
            greatest(length(col("p1")), length(col("p2"))).cast("double"), 6).as("lev_sim"))
        .orderBy("d1", "d2")
    },
    Some(s"""WITH $jaccardPairsCte,
            |px AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
            |SELECT pr.d1, pr.d2, pr.j,
            |       levenshtein(a.p, b.p) AS lev,
            |       round(1.0 - levenshtein(a.p, b.p) /
            |             CAST(greatest(length(a.p), length(b.p)) AS DOUBLE), 6) AS lev_sim
            |FROM pairs pr JOIN px a ON a.doc_id = pr.d1 JOIN px b ON b.doc_id = pr.d2
            |ORDER BY pr.d1, pr.d2""".stripMargin))

  // Real BPE merge training (the byte-pair-encoding vocabulary learner,
  // Sennrich et al. ACL'16 §3) — K=3 greedy merges learned on the
  // corpus WORD VOCABULARY weighted by word frequency. This is the
  // classic distributed-BPE scale shape: the corpus is scanned ONCE
  // (word counts), and every iteration after that runs over the
  // distinct-word table — zipfian-small next to the corpus — so at
  // 100 TB each merge costs one vocab-sized groupBy, not a corpus
  // rescan. Symbol sequences are encoded as -sentinel strings
  // (single sentinel at the ends, doubled BETWEEN symbols), which
  // makes the merge of pair (a,b) a plain literal replace of
  // "ab" — both engines scan left-to-right
  // non-overlapping, which IS greedy BPE merge order including the
  // a-a-a self-adjacency case. The per-iteration argmax (count desc,
  // pair lexicographic) collects exactly ONE row — the adaptive-
  // parameter exemption in PlanContractSpec, same family as
  // l2_simhash's banding-width count. The oracle unrolls the
  // identical 3 iterations; counts are exact integer sums, so the
  // learned merge table is bit-deterministic.
  private val bpeSep = ""

  // --------------------------------------------------- UNIGRAM LM
  // SentencePiece-style unigram language-model tokenizer (Kudo 2018,
  // "Subword Regularization"), trained by VITERBI-EM — the production
  // alternative to BPE (l4_bpe_merges): instead of greedy merges, a
  // seed vocabulary of substrings is re-scored by EM, where each
  // E-step 1-best-segments every word type under the current piece
  // scores and the M-step re-estimates scores from usage counts.
  // Deterministic replay contract: FIXED 2 EM iterations; scores are
  // round(−ln(cnt/Σcnt), 6) per iteration (the l4_kn_lm float pin:
  // division of exact integers, 1-ulp ln, rounded); the Viterbi
  // tie-break prefers the LONGER piece (spelled identically in both
  // engines). Scale shape (the l4_kn_lm discipline): every table is
  // WORD-TYPE- or VOCAB-bounded — the corpus is scanned once for the
  // type table; the DP itself is ROW-LOCAL (one aggregate HOF over
  // the word's collected piece scores — no per-position shuffles, no
  // driver loop), so a 100 TB corpus costs one type aggregate plus
  // type-bounded joins per iteration. Words longer than ugMaxW are
  // skipped (the fixture max is 8; production raises the constant).
  private val ugMaxW = 8
  private val ugMaxP = 4

  /** Word-type table (w, f) over whitespace tokens of length
    * 1..[[ugMaxW]]. */
  private[queries] def ugWords(docs: DataFrame)
                     (implicit scope: graft.ops.CacheScope): DataFrame =
    scope.cached(docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")).between(1, ugMaxW))
      .groupBy("w").agg(count(lit(1)).as("f")))

  /** All (start, len) substrings of length 1..[[ugMaxP]] per word —
    * the seed-vocabulary enumerator and the DP's piece generator. */
  private def ugSubs(words: DataFrame): DataFrame =
    words.select(col("w"), col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
           |  transform(sequence(i, least(i + $ugMaxP - 1, length(w))), e ->
           |    named_struct('i', i, 'j', e - i + 1))))""".stripMargin)).as("x"))
      .select(col("w"), col("f"), col("x.i").as("i"), col("x.j").as("j"),
        expr("substring(w, x.i, x.j)").as("p"))

  /** round(−ln(cnt/Σcnt), 6) piece scores — the per-iteration float
    * determinism pin (lower = better; the DP minimizes the sum). */
  private[queries] def ugScores(cnts: DataFrame): DataFrame = {
    val tot = cnts.agg(sum(col("cnt")).cast("double").as("tot"))
    cnts.crossJoin(broadcast(tot))
      .select(col("p"), round(-log(col("cnt") / col("tot")), 6).as("sc"))
  }

  /** 1-best Viterbi segmentation of every word type under `scores`:
    * (w, f, toks) with toks start-to-end. ONE vocab-bounded join
    * attaches scores to each word's pieces, ONE type-keyed aggregate
    * collects them sorted, and the DP + backtrace run row-locally in
    * aggregate HOFs: best[e] = min over pieces ending at e of
    * best[e−j] + sc (candidates arrive j-DESCENDING from the (i asc)
    * sort, and the strict < keeps the first minimum, so ties prefer
    * the longer piece); the backtrace walks bj pointers from
    * length(w), consuming >= 1 char per step. Pieces missing from
    * `scores` simply produce no candidate — a word left UNCOVERABLE
    * that way (possible only when a caller supplies a vocabulary
    * lacking some character; the char floor in [[ugCounts]] covers
    * every word for the shipped trainers) fails loudly via a
    * raise_error coverage guard instead of backtracking in place. */
  private[queries] def ugViterbi(words: DataFrame, scores: DataFrame): DataFrame = {
    val ps = ugSubs(words).join(scores, "p")
      .groupBy("w", "f")
      .agg(array_sort(collect_list(struct(col("i"), col("j"), col("sc"))))
        .as("ps"))
    ps.select(col("w"), col("f"), expr(
        """aggregate(sequence(1, length(w)),
          |  array(named_struct('cost', cast(0.0 as double), 'bj', 0)),
          |  (acc, e) -> array_append(acc,
          |    aggregate(filter(ps, x -> x.i + x.j - 1 = e),
          |      named_struct('cost', cast('Infinity' as double), 'bj', 0),
          |      (m, x) -> if(acc[e - x.j].cost + x.sc < m.cost,
          |        named_struct('cost', acc[e - x.j].cost + x.sc, 'bj', x.j),
          |        m))))""".stripMargin).as("best"))
      .select(col("w"), col("f"), expr(
        // coverage guard: an uncoverable position leaves best[e] at
        // (Infinity, bj=0) and the backtrace below would spin in
        // place emitting empty tokens — the shipped callers are safe
        // (ugCounts' character floor covers every word) but a direct
        // caller with a gappy vocabulary must fail LOUDLY, not
        // segment silently wrong
        """if(best[length(w)].cost = cast('Infinity' as double),
          |  cast(raise_error(concat('ugViterbi(): word "', w,
          |    '" is not coverable by the supplied scores — the ',
          |    'vocabulary lacks a character; train scores via ugCounts ',
          |    '(character-coverage floor) or filter such words out'))
          |    as array<string>),
          |aggregate(sequence(1, length(w)),
          |  named_struct('pos', length(w), 'toks', cast(array() as array<string>)),
          |  (st, z) -> if(st.pos <= 0, st,
          |    named_struct('pos', st.pos - best[st.pos].bj,
          |      'toks', array_append(st.toks,
          |        substring(w, st.pos - best[st.pos].bj + 1, best[st.pos].bj)))),
          |  st -> reverse(st.toks)))""".stripMargin).as("toks"))
  }

  /** M-step usage counts with the character-coverage floor: piece
    * count = occurrence-weighted Viterbi usage, single-character
    * pieces get +1 and never drop out (SentencePiece's
    * character-coverage guarantee re-expressed additively — without
    * it a char unused by any 1-best segmentation would vanish and
    * strand its words in the next E-step). Multi-char pieces with
    * zero usage DO drop — that is the EM prune. */
  private[queries] def ugCounts(vit: DataFrame, words: DataFrame): DataFrame = {
    val used = vit.select(col("f"), explode(col("toks")).as("p"))
      .groupBy("p").agg(sum("f").as("u"))
    val chars = words.select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("p"))
      .distinct().withColumn("one", lit(1L))
    used.join(chars, Seq("p"), "full")
      .select(col("p"),
        (coalesce(col("u"), lit(0L)) + coalesce(col("one"), lit(0L))).as("cnt"))
  }

  /** The trained tables after `iters` Viterbi-EM rounds: (word types,
    * counts, scores), the latter two cached (each feeds the next
    * E-step twice — the score join and the output). */
  private[queries] def ugTrain(docs: DataFrame, iters: Int = 2)
                     (implicit scope: graft.ops.CacheScope)
      : (DataFrame, DataFrame, DataFrame) = {
    val words = ugWords(docs)
    var cnts = scope.cached(ugSeedCounts(words))
    var sc = scope.cached(ugScores(cnts))
    for (_ <- 1 to iters) {
      cnts = scope.cached(ugCounts(ugViterbi(words, sc), words))
      sc = scope.cached(ugScores(cnts))
    }
    (words, cnts, sc)
  }

  /** Occurrence-weighted substring seed counts (length 1..ugMaxP). */
  private[queries] def ugSeedCounts(words: DataFrame): DataFrame =
    ugSubs(words).groupBy("p").agg(sum("f").as("cnt"))

  /** DuckDB replay of [[ugTrain]]: the row-local DP unrolls to
    * position-wise CTEs b{k}_0..b{k}_ugMaxW (candidates UNION ALL per
    * piece length, row_number ORDER BY cost, bj DESC — the same
    * ties-prefer-longer rule), the backtrace to pointer-walk CTEs —
    * all GENERATED by loops (the q70 oracle pattern) and MATERIALIZED
    * (each b_e is referenced by up to ugMaxP later rounds; without
    * the pin DuckDB re-expands the prefix exponentially, the q48
    * lesson). Ends with c{iters}/sc{iters}. */
  private def ugOracleViterbi(k: Int, scName: String): String = {
    val dp = (1 to ugMaxW).map { e =>
      val cands = (1 to math.min(ugMaxP, e)).map { j =>
        s"""SELECT b.w AS w, b.cost + s.sc AS cost, $j AS bj
           |FROM b${k}_${e - j} b JOIN $scName s
           |  ON s.p = substr(b.w, ${e - j + 1}, $j)
           |WHERE length(b.w) >= $e""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""b${k}_$e AS MATERIALIZED (SELECT w, cost, bj FROM (
         |  SELECT w, cost, bj,
         |    row_number() OVER (PARTITION BY w ORDER BY cost ASC, bj DESC) AS rn
         |  FROM ($cands)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val ball = (1 to ugMaxW)
      .map(e => s"SELECT w, $e AS pos, bj FROM b${k}_$e")
      .mkString("\nUNION ALL\n")
    val bt = (1 to ugMaxW).map { r =>
      s"""t${k}_$r AS MATERIALIZED (
         |  SELECT p.w, p.f, p.pos, b.bj FROM p${k}_${r - 1} p
         |  JOIN ball$k b ON b.w = p.w AND b.pos = p.pos WHERE p.pos > 0),
         |p${k}_$r AS (SELECT w, f, pos - bj AS pos FROM t${k}_$r)""".stripMargin
    }.mkString(",\n")
    val tp = (1 to ugMaxW)
      .map(r => s"SELECT w, f, pos, bj FROM t${k}_$r")
      .mkString("\nUNION ALL\n")
    s"""b${k}_0 AS (SELECT w, CAST(0.0 AS DOUBLE) AS cost, 0 AS bj FROM w),
       |$dp,
       |ball$k AS MATERIALIZED ($ball),
       |p${k}_0 AS (SELECT w, f, length(w) AS pos FROM w),
       |$bt,
       |tp$k AS MATERIALIZED ($tp)""".stripMargin
  }

  private def ugOracleTrain(iters: Int): String = {
    val head =
      s"""w AS MATERIALIZED (SELECT w, count(*) AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) BETWEEN 1 AND $ugMaxW GROUP BY w),
         |c0 AS MATERIALIZED (SELECT substr(w, i, j) AS p, CAST(sum(f) AS BIGINT) AS cnt
         |  FROM w, generate_series(1, $ugMaxW) AS g(i),
         |       generate_series(1, $ugMaxP) AS h(j)
         |  WHERE i + j - 1 <= length(w) GROUP BY 1),
         |tt0 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c0),
         |sc0 AS MATERIALIZED (SELECT p, round(-ln(cnt / tot), 6) AS sc FROM c0, tt0),
         |ch AS MATERIALIZED (SELECT DISTINCT substr(w, i, 1) AS p
         |  FROM w, generate_series(1, $ugMaxW) AS g(i) WHERE i <= length(w))""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""${ugOracleViterbi(k, s"sc${k - 1}")},
         |u$k AS (SELECT substr(w, pos - bj + 1, bj) AS p, CAST(sum(f) AS BIGINT) AS u
         |        FROM tp$k GROUP BY 1),
         |c$k AS MATERIALIZED (SELECT COALESCE(u.p, ch.p) AS p,
         |    COALESCE(u.u, 0) + (CASE WHEN ch.p IS NULL THEN 0 ELSE 1 END) AS cnt
         |  FROM u$k u FULL JOIN ch ON u.p = ch.p),
         |tt$k AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c$k),
         |sc$k AS MATERIALIZED (SELECT p, round(-ln(cnt / tot), 6) AS sc FROM c$k, tt$k)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }

  // UNIGRAM-LM TRAINING (l4_unigram_lm): the vocabulary after 2
  // Viterbi-EM rounds — (piece, usage count with the char floor,
  // round-6 score). The oracle replays seed counts, both EM rounds
  // (DP + backtrace unrolled to generated CTEs) and the rescoring.
  private val l4ug = QueryDef(
    "l4_unigram_lm",
    (s, dir) => {
      val (_, cnts, sc) = ugTrain(t(s, dir, "documents"), iters = 2)(
        graft.ops.CacheScope.sessionOwned)
      cnts.join(sc, "p")
        .select(col("p").as("piece"), col("cnt"), col("sc").as("score"))
        .orderBy("piece")
    },
    Some(s"""WITH ${ugOracleTrain(2)}
            |SELECT c2.p AS piece, c2.cnt AS cnt, sc2.sc AS score
            |FROM c2 JOIN sc2 ON c2.p = sc2.p ORDER BY piece""".stripMargin))

  // UNIGRAM-LM ENCODE (l4_unigram_encode): the companion — every doc
  // segmented under the trained scores (a THIRD Viterbi pass over the
  // word types, then one occurrence join): per doc the word count,
  // total piece count, and a 60-bit checksum over the in-order
  // segmentation strings — the checksum pins the actual segmentations,
  // not just their sizes.
  private val l4ugEnc = QueryDef(
    "l4_unigram_encode",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docs = t(s, dir, "documents")
      val (words, _, sc) = ugTrain(docs, iters = 2)
      val vit = ugViterbi(words, sc)
        .select(col("w"), size(col("toks")).as("nt"),
          array_join(col("toks"), "|").as("seg"))
      docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "w").withColumnRenamed("pos", "wpos")
        .filter(length(col("w")).between(1, ugMaxW))
        .join(vit, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("nt").as("n_tokens"),
          sha60(array_join(expr(
            "transform(array_sort(collect_list(struct(wpos, seg))), x -> x.seg)"),
            ",")).as("seg_csum"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${ugOracleTrain(2)},
            |${ugOracleViterbi(3, "sc2")},
            |vit3 AS MATERIALIZED (SELECT w, count(*) AS nt,
            |    array_to_string(list(substr(w, pos - bj + 1, bj) ORDER BY pos), '|') AS seg
            |  FROM tp3 GROUP BY w),
            |wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
            |          i -> {'pos': i, 'w': ws[i]})) AS x FROM wd),
            |kept AS (SELECT doc_id, x.pos AS wpos, x.w AS w FROM occ
            |         WHERE length(x.w) BETWEEN 1 AND $ugMaxW)
            |SELECT doc_id, count(*) AS n_words, CAST(sum(nt) AS BIGINT) AS n_tokens,
            |  CAST(concat('0x', substr(sha256(
            |    array_to_string(list(seg ORDER BY wpos), ',')), 1, 15)) AS BIGINT) AS seg_csum
            |FROM kept JOIN vit3 USING (w)
            |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private def bpeSymstr(word: Column): Column = {
    val s = concat(lit(bpeSep), regexp_replace(word, "(.)", "$1" + bpeSep + bpeSep))
    s.substr(lit(1), length(s) - 1)
  }

  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(split(expr("substring(s, 2, length(s) - 2)"), bpeSep + bpeSep).as("syms"), col("c"))
      .where(size(col("syms")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS s1, syms[i + 1] AS s2))")).as("p"),
        col("c"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum("c").as("cnt"))

  /** Frequency-weighted word vocabulary with sentinel symbol strings —
    * the one corpus scan every BPE trainer variant shares. */
  private def bpeVocab(docs: DataFrame)
                      (implicit scope: graft.ops.CacheScope): DataFrame =
    scope.cached(docs
      .select(explode(split(col("text"), " ")).as("w")).where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), bpeSymstr(col("w")).as("s"), col("c")))

  private def bpeApply(cur: DataFrame, a: String, b: String): DataFrame =
    cur.select(col("w"),
      replace(col("s"), lit(bpeSep + a + bpeSep + bpeSep + b + bpeSep),
        lit(bpeSep + a + b + bpeSep)).as("s"), col("c"))

  /** Sequential greedy trainer: each merge is a vocab-sized pair-count
    * aggregate, a 1-row argmax collect, and a row-local literal
    * replace. Returns the post-merge vocab (w, s, c) and the merge
    * table. */
  private[queries] def bpeLearn(docs: DataFrame, k: Int = 3)
                               (implicit scope: graft.ops.CacheScope)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    var cur = bpeVocab(docs)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (it <- 1 to k) {
      val top = bpePairCounts(cur)
        .orderBy(desc("cnt"), asc("s1"), asc("s2")).limit(1).collect()(0)
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((it, a, b, a + b, cnt))
      cur = bpeApply(cur, a, b)
      if (it % 8 == 0 && it < k) cur = scope.checkpointed(cur, reliable = false)
    }
    (cur, merges.toSeq)
  }

  /** BATCHED trainer — the scale fix for the driver-round-trip-per-
    * merge cost of [[bpeLearn]] (a production vocabulary is 10⁴–10⁵
    * merges; one aggregate + one collect PER merge makes the driver
    * loop the bottleneck). Per round: ONE vocab-sized pair-count
    * aggregate + one lookahead-bounded collect learns up to `batch`
    * merges, so K merges cost ~K/batch aggregates.
    *
    * Exactness (pinned to the sequential result, not approximate):
    * accept ranked pairs (cnt desc, s1, s2) while they are mutually
    * SYMBOL-DISJOINT — merging (a,b) cannot change the count of any
    * pair touching neither a nor b, so disjoint counts carry over
    * unchanged — and STOP at the first conflict; then keep only
    * accepted pairs whose count is STRICTLY above the stop boundary
    * (first conflict's count, or the lookahead floor when no conflict
    * surfaced). Every pair a sequential run could prefer instead —
    * a decreased conflicting pair, or a NEW pair created by an
    * accepted merge (its count is bounded by an old conflicting
    * pair's) — sits at or below that boundary, so no tie-break can
    * reorder the accepted prefix. Rank 1 is always sequential-exact
    * (it IS the argmax), so every round learns >= 1 merge and the loop
    * terminates. The replace chain is lineage-cut every 4 rounds
    * (lazy local checkpoint) so deep vocabularies keep a bounded plan.
    */
  private[queries] def bpeLearnBatched(docs: DataFrame, k: Int = 3, batch: Int = 8)
                                      (implicit scope: graft.ops.CacheScope)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    require(k >= 1 && batch >= 1, s"k/batch must be >= 1 (got $k/$batch)")
    var cur = bpeVocab(docs)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (merges.length < k && !exhausted) {
      round += 1
      val lookahead = math.max(4 * batch, 16)
      val top = bpePairCounts(cur)
        .orderBy(desc("cnt"), asc("s1"), asc("s2")).limit(lookahead).collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var conflictCnt = -1L
        for (r <- top if conflictCnt < 0) {
          val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          if (used(a) || used(b)) conflictCnt = cnt
          else { prefix += ((a, b, cnt)); used += a; used += b }
        }
        // boundary below which sequential tie-breaks could reorder:
        // the first conflict, or (lookahead truncated) the unseen tail
        val boundary =
          if (conflictCnt >= 0) conflictCnt
          else if (top.length == lookahead) top.last.getLong(2)
          else Long.MinValue // full pair table collected, no conflict
        val safe = prefix.takeWhile(_._3 > boundary)
        val accepted = (if (safe.isEmpty) prefix.take(1) else safe)
          .take(math.min(batch, k - merges.length))
        for ((a, b, cnt) <- accepted) {
          merges += ((merges.length + 1, a, b, a + b, cnt))
          cur = bpeApply(cur, a, b)
        }
        if (round % 4 == 0 && merges.length < k)
          cur = scope.checkpointed(cur, reliable = false)
      }
    }
    (cur, merges.toSeq)
  }

  /** The unrolled 3-iteration chain both BPE oracles share: v0..v2 are
    * the vocab before each merge, b0..b2 the merges, v3 the trained
    * vocab. DuckDB leaves unreferenced CTEs unexecuted, so each oracle
    * pays only for the stages it reads. */
  private val bpeChainSql =
    """tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT w, count(*) AS c FROM tok WHERE w != '' GROUP BY w),
      |v0 AS (SELECT w, substr(s0, 1, length(s0) - 1) AS s, c FROM (
      |        SELECT w, chr(1) || regexp_replace(w, '(.)', '\1' || chr(1) || chr(1), 'g') AS s0, c
      |        FROM wc)),
      |y0 AS (SELECT string_split(substr(s, 2, length(s) - 2), chr(1) || chr(1)) AS syms, c FROM v0),
      |p0 AS (SELECT s1, s2, SUM(c) AS cnt FROM (
      |        SELECT unnest(syms[1 : len(syms) - 1]) AS s1,
      |               unnest(syms[2 : len(syms)]) AS s2, c FROM y0)
      |       GROUP BY s1, s2),
      |b0 AS (SELECT s1, s2, cnt FROM p0 ORDER BY cnt DESC, s1, s2 LIMIT 1),
      |v1 AS (SELECT v.w, replace(v.s, chr(1) || b.s1 || chr(1) || chr(1) || b.s2 || chr(1),
      |                      chr(1) || b.s1 || b.s2 || chr(1)) AS s, v.c
      |       FROM v0 v, b0 b),
      |y1 AS (SELECT string_split(substr(s, 2, length(s) - 2), chr(1) || chr(1)) AS syms, c FROM v1),
      |p1 AS (SELECT s1, s2, SUM(c) AS cnt FROM (
      |        SELECT unnest(syms[1 : len(syms) - 1]) AS s1,
      |               unnest(syms[2 : len(syms)]) AS s2, c FROM y1)
      |       GROUP BY s1, s2),
      |b1 AS (SELECT s1, s2, cnt FROM p1 ORDER BY cnt DESC, s1, s2 LIMIT 1),
      |v2 AS (SELECT v.w, replace(v.s, chr(1) || b.s1 || chr(1) || chr(1) || b.s2 || chr(1),
      |                      chr(1) || b.s1 || b.s2 || chr(1)) AS s, v.c
      |       FROM v1 v, b1 b),
      |y2 AS (SELECT string_split(substr(s, 2, length(s) - 2), chr(1) || chr(1)) AS syms, c FROM v2),
      |p2 AS (SELECT s1, s2, SUM(c) AS cnt FROM (
      |        SELECT unnest(syms[1 : len(syms) - 1]) AS s1,
      |               unnest(syms[2 : len(syms)]) AS s2, c FROM y2)
      |       GROUP BY s1, s2),
      |b2 AS (SELECT s1, s2, cnt FROM p2 ORDER BY cnt DESC, s1, s2 LIMIT 1),
      |v3 AS (SELECT v.w, replace(v.s, chr(1) || b.s1 || chr(1) || chr(1) || b.s2 || chr(1),
      |                      chr(1) || b.s1 || b.s2 || chr(1)) AS s, v.c
      |       FROM v2 v, b2 b)""".stripMargin

  private val l4bpe = QueryDef(
    "l4_bpe_merges",
    (s, dir) => {
      import s.implicits._
      bpeLearn(t(s, dir, "documents"))._2.toDF("it", "s1", "s2", "merged", "cnt").orderBy("it")
    },
    Some(s"""WITH $bpeChainSql
            |SELECT it, s1, s2, s1 || s2 AS merged, CAST(cnt AS BIGINT) AS cnt FROM (
            |  SELECT 1 AS it, s1, s2, cnt FROM b0
            |  UNION ALL SELECT 2, s1, s2, cnt FROM b1
            |  UNION ALL SELECT 3, s1, s2, cnt FROM b2)
            |ORDER BY it""".stripMargin))

  // BATCHED BPE merge learning — the same K merges as l4_bpe_merges
  // learned in ~K/B rounds instead of K (see bpeLearnBatched for the
  // exactness argument: symbol-disjoint ranked prefix, stop at the
  // first conflict, strict-count boundary kills tie-break reordering).
  // The oracle is the SEQUENTIAL unrolled chain — the whole point is
  // that the batched schedule is pinned bit-equal to the greedy
  // trainer's output, not "close to it".
  private val l4bpeBatch = QueryDef(
    "l4_bpe_merges_batched",
    (s, dir) => {
      import s.implicits._
      bpeLearnBatched(t(s, dir, "documents"))._2
        .toDF("it", "s1", "s2", "merged", "cnt").orderBy("it")
    },
    Some(s"""WITH $bpeChainSql
            |SELECT it, s1, s2, s1 || s2 AS merged, CAST(cnt AS BIGINT) AS cnt FROM (
            |  SELECT 1 AS it, s1, s2, cnt FROM b0
            |  UNION ALL SELECT 2, s1, s2, cnt FROM b1
            |  UNION ALL SELECT 3, s1, s2, cnt FROM b2)
            |ORDER BY it""".stripMargin))

  // BPE ENCODE — the trained tokenizer applied back to the corpus:
  // per document, the token count under the learned merge table and
  // the chars-per-token compression it bought. Token counting is a
  // VOCAB join, not a re-tokenization: every corpus word's symbol
  // count after K merges is already in the trained vocab (w -> s), so
  // the corpus pays one word explode + one join on the word key +
  // one per-doc aggregate — the same shape however many merges were
  // learned. This is the l4_tokens row upgraded from a whitespace
  // heuristic to a real learned subword vocabulary.
  private val l4bpeEnc = QueryDef(
    "l4_bpe_encode",
    (s, dir) => {
      val (v3, _) = bpeLearn(t(s, dir, "documents"))
      val ns = v3.select(col("w"),
        size(split(expr("substring(s, 2, length(s) - 2)"), bpeSep + bpeSep)).as("n_sym"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .join(ns, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).as("n_chars"),
          sum(col("n_sym")).as("n_tokens"))
        .withColumn("compression", round(col("n_chars") / col("n_tokens").cast("double"), 6))
        .orderBy("doc_id")
    },
    Some(s"""WITH $bpeChainSql,
            |ns AS (SELECT w, len(string_split(substr(s, 2, length(s) - 2), chr(1) || chr(1))) AS n_sym
            |       FROM v3),
            |d AS (SELECT doc_id, w FROM (
            |       SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
            |      WHERE w != '')
            |SELECT d.doc_id, count(*) AS n_words,
            |       CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
            |       CAST(SUM(ns.n_sym) AS BIGINT) AS n_tokens,
            |       round(SUM(length(d.w)) / CAST(SUM(ns.n_sym) AS DOUBLE), 6) AS compression
            |FROM d JOIN ns ON ns.w = d.w
            |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin))

  // ---- the cascade family's shared machinery ----

  /** Shared output assembly: ONE 5-column (artifact, k, x, y, z)
    * union over the repaired bundle + funnel — exact = (h, keeper,
    * n); cluster = (cluster_id, doc_id, size); ann = (qid, rn, vid);
    * bm25 = (term|len, v, cnt); funnel = (name, rows_after, n). */
  private def cascadeRows(res: graft.ops.CorpusOps.CascadeResult): DataFrame = {
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    res.artifacts.exactKeepers.select(lit("exact").as("artifact"), col("h").as("k"),
        col("keeper").as("x"), col("n_dups").as("y"), nullL.as("z"))
      .unionByName(res.artifacts.clusters.select(lit("cluster").as("artifact"),
        nullS.as("k"), col("cluster_id").as("x"), col("doc_id").as("y"),
        col("cluster_size").as("z")))
      .unionByName(res.artifacts.annIndex.select(lit("ann").as("artifact"),
        nullS.as("k"), col("qid").as("x"), col("rn").cast("long").as("y"),
        col("vid").as("z")))
      .unionByName(res.artifacts.bm25Stats.select(lit("bm25").as("artifact"),
        when(col("stat") === "len", lit("len")).otherwise(col("k")).as("k"),
        col("v").as("x"), col("cnt").as("y"), nullL.as("z")))
      .unionByName(res.funnel.select(lit("funnel").as("artifact"),
        col("k"), col("x"), col("y"), nullL.as("z")))
      .orderBy("artifact", "k", "x", "y", "z")
  }

  /** Build-ONCE-and-persist the cascade bundle for `dir`'s corpus —
    * the production posture the `_apply` cells measure against: a
    * pipeline READS its stored artifacts; only the maintenance call
    * is hot. Variant "full" = the whole corpus; "stored" = the
    * doc_id % 10 != 0 subset with the quantizer frozen on it (the
    * l6_cascade_insert split). Keyed by the testdata fingerprint
    * (file length + mtime) so a regenerated fixture rebuilds; guarded
    * by a JVM-wide lock + _DONE marker so concurrent suites don't
    * race the build. */
  private def persistedArts(s: SparkSession, dir: String, variant: String)
      (implicit scope: graft.ops.CacheScope)
      : (graft.ops.CorpusOps.CorpusArtifacts, DataFrame) = {
    import graft.ops.CorpusOps
    def fp(n: String) = {
      val f = new java.io.File(dir, n + ".parquet")
      s"${f.length}-${f.lastModified}"
    }
    // key = FULL fingerprint + build parameters + recipe version
    // (never a 32-bit hash): a regenerated fixture, a changed term
    // catalog, or a new buildArtifacts recipe can never silently
    // reuse a stale persisted bundle — the round-15 advisory class.
    // Lock/_DONE/reap protocol lives in ArtifactCache.
    val root = graft.ops.ArtifactCache.getOrBuild("arts", s"$variant-$dir",
      s"${fp("documents")}-${fp("embeddings")}-t${bm25Terms.mkString("_")}-a5p4-r1") { rootDir =>
      val docsAll = t(s, dir, "documents")
      val eAll = t(s, dir, "embeddings")
      val (docs, e) =
        if (variant == "stored")
          (docsAll.filter(col("doc_id") % 10 =!= 0),
            eAll.filter(col("vec_id") % 10 =!= 0).select("vec_id", "embedding"))
        else (docsAll, eAll.select("vec_id", "embedding"))
      val cents = sqrtSeedCents(e)
      val arts = CorpusOps.buildArtifacts(docs, e, cents, bm25Terms)
      def w(df: DataFrame, n: String): Unit = df.write.mode("overwrite")
        .parquet(new java.io.File(rootDir, n).toString)
      w(arts.exactAux, "exactAux"); w(arts.exactKeepers, "exactKeepers")
      w(arts.clusters, "clusters"); w(arts.pairs, "pairs")
      w(arts.annIndex, "annIndex"); w(arts.annProbes, "annProbes")
      w(arts.annAssign, "annAssign"); w(arts.vectors, "vectors")
      w(arts.bm25Stats, "bm25Stats"); w(cents, "cents")
    }
    def r(n: String) = Tables.parquet(s, new java.io.File(root, n).toString)
    (CorpusOps.CorpusArtifacts(r("exactAux"), r("exactKeepers"), r("clusters"),
      r("pairs"), r("annIndex"), r("annProbes"), r("annAssign"),
      r("vectors"), r("bm25Stats")), r("cents"))
  }

  // CORPUS-WIDE CASCADE DELETE (l6_cascade_delete): the operational
  // "purge these doc_ids" request touching EVERY maintained artifact
  // from ONE delete list (doc_id % 7 = 0), each via its own
  // incremental repair path (CorpusOps.deleteDocuments) — exact-dup
  // keepers (touched-group recompute over the (h, doc_id) aux,
  // runner-up keeper promotion), near-dup clusters
  // (removeFromClusters), the ANN index (the l3_ann_delete
  // affected-survivor re-rank over the frozen probe/assign aux), and
  // the BM25 stats view (one delete-bounded probe deriving the signed
  // −1 rows for maintainAggCounted) — plus l6_filter_funnel-style
  // accounting rows. ORACLE = every artifact REBUILT from the
  // post-delete corpus in one union (the jaccard closure over
  // surviving endpoints, the frozen-quantizer kNN chain over
  // survivors, sha-group keepers and df/N/Σdl over survivors):
  // maintained == rebuilt for all four families at once, from one
  // list. Output (artifact, k, x, y, z): exact = (h, keeper, n);
  // cluster = (cluster_id, doc_id, size); ann = (qid, rn, vid);
  // bm25 = (term|len, v, cnt); funnel = (name, rows_after, n_del).
  private val l6cascadeDelete = QueryDef(
    "l6_cascade_delete",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docs = t(s, dir, "documents")
      val del = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      // ---- the maintained artifacts, as built before the delete ----
      // (buildArtifacts = the canonical construction arm: sha groups,
      // jaccard pair graph + clusters, the frozen-quantizer ANN chain
      // at probeK 4 / annK 5, the (stat, k, v, cnt) BM25 view)
      val e = t(s, dir, "embeddings")
      val arts = graft.ops.CorpusOps.buildArtifacts(docs, e, sqrtSeedCents(e),
        bm25Terms)
      // ---- ONE call applies the delete list to every artifact ----
      cascadeRows(graft.ops.CorpusOps.deleteDocuments(del, docs, arts,
        bm25Terms))
    },
    Some(l6CascadeDeleteSql))

  private lazy val l6CascadeDeleteSql: String =
    s"""WITH RECURSIVE $jaccardPairsCte,
            |pf AS (SELECT d1, d2 FROM pairs WHERE d1 % 7 <> 0 AND d2 % 7 <> 0),
            |eg AS (SELECT d1 AS a, d2 AS b FROM pf UNION SELECT d2 AS a, d1 AS b FROM pf),
            |reach AS (SELECT a, b FROM eg
            |  UNION SELECT r.a AS a, eg.b AS b FROM reach r JOIN eg ON eg.a = r.b),
            |comp AS (SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
            |clus AS (SELECT cluster_id, doc_id,
            |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM comp),
            |ex AS (SELECT sha256(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n
            |       FROM documents WHERE doc_id % 7 <> 0 GROUP BY sha256(text)),
            |sv AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            |       WHERE doc_id % 7 <> 0),
            |bdf AS (SELECT term AS k, count(*) AS v, count(*) AS cnt FROM (
            |    SELECT doc_id, unnest(list_distinct(list_filter(ws,
            |      w -> list_contains(['table','scan','join','merge'], w)))) AS term
            |    FROM sv) GROUP BY term),
            |blen AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS v, count(*) AS cnt FROM sv),
            |vx AS (SELECT vec_id, unnest(embedding) AS e,
            |         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            |vn AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
            |       FROM vx GROUP BY vec_id),
            |nl AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
            |       FROM embeddings),
            |cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
            |              round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
            |                    / (nv.nrm * nc.nrm), 6) AS simr
            |       FROM vx xv JOIN vx xc ON xc.d = xv.d AND xc.vec_id < (SELECT nlist FROM nl)
            |       JOIN vn nv ON nv.vec_id = xv.vec_id
            |       JOIN vn nc ON nc.vec_id = xc.vec_id
            |       WHERE xv.vec_id % 7 <> 0
            |       GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
            |r0 AS (SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
            |       FROM cd),
            |vassign AS (SELECT vid, cid FROM r0 WHERE rn = 1),
            |vprobes AS (SELECT vid AS qid, cid FROM r0 WHERE rn <= 4),
            |acand AS (SELECT p.qid, a.vid FROM vprobes p JOIN vassign a ON a.cid = p.cid
            |          WHERE a.vid != p.qid),
            |dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
            |       FROM acand JOIN vx xa ON xa.vec_id = qid
            |       JOIN vx xb ON xb.vec_id = vid AND xb.d = xa.d
            |       GROUP BY qid, vid),
            |sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
            |        FROM dp JOIN vn na ON na.vec_id = qid JOIN vn nb ON nb.vec_id = vid),
            |rr AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
            |       FROM sdf),
            |ann AS (SELECT qid, rn, vid FROM rr WHERE rn <= 5),
            |ndel AS (SELECT count(*) AS y FROM documents WHERE doc_id % 7 = 0)
            |SELECT * FROM (
            |SELECT 'ann' AS artifact, CAST(NULL AS VARCHAR) AS k, qid AS x, rn AS y, vid AS z FROM ann
            |UNION ALL SELECT 'bm25', k, v, cnt, CAST(NULL AS BIGINT) FROM bdf
            |UNION ALL SELECT 'bm25', 'len', v, cnt, CAST(NULL AS BIGINT) FROM blen
            |UNION ALL SELECT 'cluster', CAST(NULL AS VARCHAR), cluster_id, doc_id, cluster_size FROM clus
            |UNION ALL SELECT 'exact', h, keeper, n, CAST(NULL AS BIGINT) FROM ex
            |UNION ALL SELECT 'funnel', 'ann', (SELECT count(*) FROM ann),
            |  (SELECT y FROM ndel), CAST(NULL AS BIGINT)
            |UNION ALL SELECT 'funnel', 'bm25', (SELECT count(*) FROM bdf) + 1,
            |  (SELECT y FROM ndel), CAST(NULL AS BIGINT)
            |UNION ALL SELECT 'funnel', 'cluster', (SELECT count(*) FROM clus),
            |  (SELECT y FROM ndel), CAST(NULL AS BIGINT)
            |UNION ALL SELECT 'funnel', 'exact', (SELECT count(*) FROM ex),
            |  (SELECT y FROM ndel), CAST(NULL AS BIGINT)
            |) ORDER BY artifact, k, x, y, z""".stripMargin

  // CORPUS-WIDE CASCADE INGEST (l6_cascade_insert): the lifecycle
  // mirror of l6_cascade_delete — ONE new-document batch (doc_id %
  // 10 = 0, the l2_incremental_clusters split) updates every
  // maintained artifact through its incremental path
  // (CorpusOps.ingestDocuments): touched-hash-group keeper recompute,
  // incrementalClusters over the candidate-bounded pair deltas, the
  // frozen-quantizer ANN assignment with the affected-stored-node
  // re-rank (a stored node's candidate set changes ONLY when a new
  // vector lands in one of its probe cells), and the batch's +1 BM25
  // stat rows. ORACLE = every artifact rebuilt over the FULL corpus —
  // the jaccard closure over all pairs, the kNN chain with nlist and
  // centroids FROZEN on the stored subset, sha groups and df/N/Σdl
  // over everything. Output shape shared with l6_cascade_delete.
  private val l6cascadeInsert = QueryDef(
    "l6_cascade_insert",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docsAll = t(s, dir, "documents")
      val stored = docsAll.filter(col("doc_id") % 10 =!= 0)
      val batch = docsAll.filter(col("doc_id") % 10 === 0)
      // the stored bundle + frozen quantizer (centroids persist; nlist
      // frozen on the STORED count — re-deriving either from the grown
      // corpus would be a retrain, i.e. a rebuild)
      val eAll = t(s, dir, "embeddings")
      val e = eAll.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val be = eAll.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val cents = sqrtSeedCents(e)
      val arts = graft.ops.CorpusOps.buildArtifacts(stored, e, cents,
        bm25Terms)
      // ---- ONE call ingests the batch into every artifact ----
      cascadeRows(graft.ops.CorpusOps.ingestDocuments(batch, stored, arts,
        be, cents, bm25Terms))
    },
    Some(l6CascadeInsertSql))

  private lazy val l6CascadeInsertSql: String =
    s"""WITH RECURSIVE $jaccardPairsCte,
            |eg AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2 AS a, d1 AS b FROM pairs),
            |reach AS (SELECT a, b FROM eg
            |  UNION SELECT r.a AS a, eg.b AS b FROM reach r JOIN eg ON eg.a = r.b),
            |comp AS (SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
            |clus AS (SELECT cluster_id, doc_id,
            |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM comp),
            |ex AS (SELECT sha256(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n
            |       FROM documents GROUP BY sha256(text)),
            |sv AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |bdf AS (SELECT term AS k, count(*) AS v, count(*) AS cnt FROM (
            |    SELECT doc_id, unnest(list_distinct(list_filter(ws,
            |      w -> list_contains(['table','scan','join','merge'], w)))) AS term
            |    FROM sv) GROUP BY term),
            |blen AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS v, count(*) AS cnt FROM sv),
            |vx AS (SELECT vec_id, unnest(embedding) AS e,
            |         generate_subscripts(embedding, 1) - 1 AS d FROM embeddings),
            |vn AS (SELECT vec_id, sqrt(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
            |       FROM vx GROUP BY vec_id),
            |nl AS (SELECT GREATEST(32, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nlist
            |       FROM embeddings WHERE vec_id % 10 <> 0),
            |cd AS (SELECT xv.vec_id AS vid, xc.vec_id AS cid,
            |              round(SUM(CAST(xv.e AS DOUBLE) * CAST(xc.e AS DOUBLE))
            |                    / (nv.nrm * nc.nrm), 6) AS simr
            |       FROM vx xv JOIN vx xc ON xc.d = xv.d
            |         AND xc.vec_id % 10 <> 0
            |         AND xc.vec_id < (SELECT nlist FROM nl)
            |       JOIN vn nv ON nv.vec_id = xv.vec_id
            |       JOIN vn nc ON nc.vec_id = xc.vec_id
            |       GROUP BY xv.vec_id, xc.vec_id, nv.nrm, nc.nrm),
            |r0 AS (SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY simr DESC, cid) AS rn
            |       FROM cd),
            |vassign AS (SELECT vid, cid FROM r0 WHERE rn = 1),
            |vprobes AS (SELECT vid AS qid, cid FROM r0 WHERE rn <= 4),
            |acand AS (SELECT p.qid, a.vid FROM vprobes p JOIN vassign a ON a.cid = p.cid
            |          WHERE a.vid != p.qid),
            |dp AS (SELECT qid, vid, SUM(CAST(xa.e AS DOUBLE) * CAST(xb.e AS DOUBLE)) AS dot
            |       FROM acand JOIN vx xa ON xa.vec_id = qid
            |       JOIN vx xb ON xb.vec_id = vid AND xb.d = xa.d
            |       GROUP BY qid, vid),
            |sdf AS (SELECT qid, vid, round(dot / (na.nrm * nb.nrm), 6) AS simr
            |        FROM dp JOIN vn na ON na.vec_id = qid JOIN vn nb ON nb.vec_id = vid),
            |rr AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY simr DESC, vid) AS rn
            |       FROM sdf),
            |ann AS (SELECT qid, rn, vid FROM rr WHERE rn <= 5),
            |nins AS (SELECT count(*) AS y FROM documents WHERE doc_id % 10 = 0)
            |SELECT * FROM (
            |SELECT 'ann' AS artifact, CAST(NULL AS VARCHAR) AS k, qid AS x, rn AS y, vid AS z FROM ann
            |UNION ALL SELECT 'bm25', k, v, cnt, CAST(NULL AS BIGINT) FROM bdf
            |UNION ALL SELECT 'bm25', 'len', v, cnt, CAST(NULL AS BIGINT) FROM blen
            |UNION ALL SELECT 'cluster', CAST(NULL AS VARCHAR), cluster_id, doc_id, cluster_size FROM clus
            |UNION ALL SELECT 'exact', h, keeper, n, CAST(NULL AS BIGINT) FROM ex
            |UNION ALL SELECT 'funnel', 'ann', (SELECT count(*) FROM ann),
            |  (SELECT y FROM nins), CAST(NULL AS BIGINT)
            |UNION ALL SELECT 'funnel', 'bm25', (SELECT count(*) FROM bdf) + 1,
            |  (SELECT y FROM nins), CAST(NULL AS BIGINT)
            |UNION ALL SELECT 'funnel', 'cluster', (SELECT count(*) FROM clus),
            |  (SELECT y FROM nins), CAST(NULL AS BIGINT)
            |UNION ALL SELECT 'funnel', 'exact', (SELECT count(*) FROM ex),
            |  (SELECT y FROM nins), CAST(NULL AS BIGINT)
            |) ORDER BY artifact, k, x, y, z""".stripMargin

  // REPAIR-PATH cells (l6_cascade_*_apply): the SAME semantics and
  // ORACLES as l6_cascade_delete/insert, but the stored bundle is
  // built ONCE per testdata fingerprint and PERSISTED (persistedArts)
  // — the production posture, where a pipeline reads its maintained
  // tables and only the cascade call is hot. Benchmarked, these time
  // read-stored + repair + output (every run after the first), the
  // number the 21.96 s / 10.65 s construction-dominated cells hide
  // inside ±5 s of build noise. Correctness rides the same hash gate:
  // maintained-from-persisted == the oracle's full rebuild.
  private val l6cascadeDeleteApply = QueryDef(
    "l6_cascade_delete_apply",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docs = t(s, dir, "documents")
      val del = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      val (arts, _) = persistedArts(s, dir, "full")
      cascadeRows(graft.ops.CorpusOps.deleteDocuments(del, docs, arts,
        bm25Terms))
    },
    Some(l6CascadeDeleteSql))

  private val l6cascadeInsertApply = QueryDef(
    "l6_cascade_insert_apply",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val docsAll = t(s, dir, "documents")
      val stored = docsAll.filter(col("doc_id") % 10 =!= 0)
      val batch = docsAll.filter(col("doc_id") % 10 === 0)
      val be = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val (arts, cents) = persistedArts(s, dir, "stored")
      cascadeRows(graft.ops.CorpusOps.ingestDocuments(batch, stored, arts,
        be, cents, bm25Terms))
    },
    Some(l6CascadeInsertSql))

  val all: Seq[QueryDef] = Seq(
    l1, l2, l2contain, l2sweep, l2clusters, l2incrClusters, l2winnowPairs, l2minhash, l2simhash, l2embed, l3, l3ann, l3recall, l3sweep, l3ivf, l3ivfKmeans, l3quant,
    l3semdedup, l3pq, l3pqTrained, l3ivfpq, l4lang, l4quality, l4tokens, l4tfidf, l4lm, l4kn, l4fp, l4winnow,
    l4entropy, l5, l5media,
    l6clean, l6pack, l6funnel,
    l8decontam, l8sample, l8sampleHash, l8weighted, l8chunk, l8lineDedup, l8repetition, l8scrub, l8mixture,
    l8mixtureApply, l8shuffle, l8stats, l8novelty, l8overlap, l2incr, l8decontamScrub,
    l8packSeq, l8pplBucket, l4classifier, l5neardup, l6keeper, l2minhashEst,
    l4vocab, l3knnGraph, l8spanDedup, l3clusterSample, l3clusterSampleKept, l8profile,
    l3ivfpqRes, l3refined, l8profileApprox, l1bloom, l2edit, l4bpe, l4bpeEnc,
    l4bpeBatch, l3incr, l3incrStored, l3retrain, l3filtered, l3hybrid, l8importance, l8heavy, l3pca, l3trunc, l8cdc,
    l4ug, l4ugEnc, l3graphSearch, l3hnsw, l3hnswIncr, l3annCompact,
    l2incrDelete, l3annDelete, l4classifierTrain, l4bm25, l4bm25Maintain,
    l4bm25Incremental, l6cascadeDelete, l6cascadeInsert,
    l6cascadeDeleteApply, l6cascadeInsertApply, l5video)
}
