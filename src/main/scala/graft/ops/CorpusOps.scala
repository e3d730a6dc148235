package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{MinHashBands, MinHashExprs, ShingleExprs}
import graft.functions.VectorExprs.vec_cos
import graft.queries.QueryDef.sha60

/** The training-data pipeline operators as reusable
  * `DataFrame => DataFrame` transforms (SURVEY §7's design stance:
  * operators are functions over DataFrames, no new IR). The oracle-
  * checked queries in [[graft.queries.Llm]] are thin wrappers over
  * these — library users compose them directly:
  *
  * {{{
  * val pairs   = CorpusOps.nearDupPairs(docs)          // exact J >= 0.8
  * val keepers = CorpusOps.exactDedupKeepers(docs)
  * val flagged = CorpusOps.decontaminate(docs, col("doc_id") % 10 === 0)
  * }}}
  *
  * Every transform expects a `doc_id` column plus the columns named in
  * its doc; none runs a Spark job at construction (plan-build is
  * action-free, asserted by PlanContractSpec's sweep over the query
  * wrappers).
  */
object CorpusOps {

  /** Jaccard near-dup threshold, fixed at 4/5: the ppjoin positional
    * filter in [[nearDupPairs]] and `l2_minhash_lsh`'s length filter
    * encode T/(1+T) = 4/9 and T = 4/5 as exact integer ratios — keep
    * them in sync if T ever changes. */
  val JaccardThreshold = 0.8

  private val T = JaccardThreshold

  /** Exact Jaccard over candidate pairs and pre-collected per-doc
    * DISTINCT-hash arrays (doc_id, arr, sz). The candidate set is tiny
    * after filtering, so intersection counting joins each pair against
    * ONE row per doc and intersects in-memory — two small hash joins
    * instead of a row-level join against the corpus-sized shingle
    * table. Shared by the prefix-filter and MinHash paths. */
  private[graft] def verifiedJaccard(cand: DataFrame, arrs: DataFrame,
                                     t: Double = T): DataFrame = {
    cand
      .join(arrs.select(col("doc_id").as("d1"), col("arr").as("arr1"), col("sz").as("sz1")), "d1")
      .join(arrs.select(col("doc_id").as("d2"), col("arr").as("arr2"), col("sz").as("sz2")), "d2")
      .withColumn("inter", size(array_intersect(col("arr1"), col("arr2"))))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))).as("j"))
      .filter(col("j") >= t)
      .orderBy("d1", "d2")
  }

  /** EXACT word-3-gram-Jaccard near-duplicate pairs (d1 < d2, j) with
    * J >= [[JaccardThreshold]] — prefix filtering, not approximation.
    *
    * Scale shape (the 100 TB posture, audited in docs/PLANS.md):
    *  - shingles hash to 60-bit longs in the scan projection (native
    *    `shingle_sha60` kernel — no string-array materialization);
    *  - ONE corpus-sized groupBy builds each doc's frequency-sorted
    *    hash set, size, and rarest-first prefix; the frequency join is
    *    SHUFFLE_HASH (vocabulary shards per partition, never
    *    driver-resident — an unconditional broadcast would be a driver
    *    OOM at open-vocabulary scale);
    *  - the prefix self-join applies the ppjoin positional filter as
    *    an exact integer test (at a match on positions (p1, p2):
    *    tokens before the first common token are disjoint, so overlap
    *    <= min(sz1-p1, sz2-p2) + min(p1, p2); J >= 4/5 requires
    *    9 * that >= 4 * (sz1 + sz2)), so pairs that cannot reach the
    *    threshold never hit the candidate distinct or verification;
    *  - output is candidate-sensitive, never corpus².
    */
  /** Shared prefix-filter scaffold: per-doc frequency-sorted
    * (rarest-first) DISTINCT-shingle arrays with the threshold-`t`
    * prefix — (doc_id, arr, sz, pref), CACHED (reused >= 2× by every
    * caller). ONE corpus-sized groupBy; the vocabulary-sized frequency
    * join is SHUFFLE_HASH (partition-sharded build side, never a
    * driver-resident broadcast). The prefix length |S| − ceil(t·|S|)
    * + 1 is the pigeonhole bound both the Jaccard and containment
    * candidate rules share — keep the formula in ONE place so it can
    * never drift between them. */
  private def docArrWithPrefix(docs: DataFrame, t: Double)
                              (implicit scope: CacheScope): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.ShingleExprs.shingle_sha60(col("text"))).as("h"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(freq.hint("shuffle_hash"), "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(struct(col("df"), col("h")))).as("fsh"))
      .select(col("doc_id"),
        expr("transform(fsh, x -> x.h)").as("arr"),
        size(col("fsh")).as("sz"))
      .withColumn("pref", slice(col("arr"), lit(1), prefixLen(t)))
      .transform(scope.cached)
  }

  /** The pigeonhole prefix bound |S| − ceil(t·|S|) + 1 over an `arr`
    * column — THE single definition every candidate rule (Jaccard,
    * containment, incremental batch-vs-corpus) derives from, so the
    * completeness-critical formula can never drift between paths. The
    * threshold enters as a TYPED double literal (lit(t)), not a SQL
    * string interpolation: an interpolated non-terminating decimal
    * parses as exact decimal and can exceed the binary double the
    * verification divides by, shortening the prefix by one and
    * dropping a boundary pair — lit(t) makes candidate generation and
    * verification share the identical double. */
  private def prefixLen(t: Double): Column =
    size(col("arr")) - ceil(size(col("arr")) * lit(t)).cast("int") + 1

  def nearDupPairs(docs: DataFrame)
                  (implicit scope: CacheScope): DataFrame = {
    val docArr = docArrWithPrefix(docs, T)
    val pref = docArr.select(col("doc_id"), col("sz"),
      posexplode(col("pref")).as(Seq("p", "h")))
    val ubound = least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) +
      least(col("a.p"), col("b.p"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        ubound * 9 >= (col("a.sz") + col("b.sz")) * 4)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    verifiedJaccard(cand, docArr.select("doc_id", "arr", "sz"))
  }

  /** EXACT shingle-containment near-dup pairs (a, b, c): directional —
    * c = |S(a) ∩ S(b)| / |S(a)| >= `t` means doc a's shingles are
    * (nearly) a subset of doc b's. This is the SUB-DOCUMENT
    * duplication case symmetric Jaccard structurally misses: a
    * paragraph quoted inside a much larger page has J ≈ |a|/|b| (tiny)
    * but containment ≈ 1. Same prefix-filter machinery as
    * [[nearDupPairs]], with the containment-specific candidate rule:
    * a pair with C(a→b) >= t must share one of a's first
    * |S(a)| − ceil(t·|S(a)|) + 1 shingles under ANY global order — so
    * only the a-side explodes its (rarest-first) prefix; the b side
    * indexes its FULL shingle set. Candidates stay bounded because
    * rarest-first prefixes pick low-df shingles; verification is exact
    * on the per-doc arrays. Both directions of a mutual near-dup
    * appear (c is directional by design). */
  def containmentPairs(docs: DataFrame, t: Double = 0.9)
                      (implicit scope: CacheScope): DataFrame = {
    val docArr = docArrWithPrefix(docs, t)
    val pref = docArr.select(col("doc_id").as("a"), explode(col("pref")).as("h"))
    val full = docArr.select(col("doc_id").as("b"), explode(col("arr")).as("h"))
    val cand = pref.join(full, Seq("h")).filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    cand
      .join(docArr.select(col("doc_id").as("a"), col("arr").as("arrA"), col("sz").as("szA")), "a")
      .join(docArr.select(col("doc_id").as("b"), col("arr").as("arrB")), "b")
      .withColumn("inter", size(array_intersect(col("arrA"), col("arrB"))))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / col("szA")).as("c"))
      .filter(col("c") >= t)
      .orderBy("a", "b")
  }

  /** Winnowing fingerprint sketches (the MOSS local-sketch algorithm):
    * over each doc's POSITIONAL word-`k`-gram 60-bit hash sequence,
    * every window of `w` consecutive hashes contributes its minimum
    * (ties → rightmost position, per the paper); the sketch is the
    * distinct selected (p, h) set, position-sorted. Guarantee: any
    * shared run of >= w+k-1 words between two docs yields at least one
    * shared sketch HASH — substring-granularity dedup/attribution that
    * whole-doc hashing and set-Jaccard both miss. One native codegen'd
    * pass per row (`winnow_sketch`, graft.functions.WinnowHashes —
    * positions matter, so the DISTINCT-set shingle kernel does not
    * apply; CrossCheckSpec pins the kernel against the composed HOF
    * spelling); docs shorter than k words sketch their whole text as
    * one gram. Output (doc_id, n_grams, sketch:
    * array<struct<p int, h long>>). */
  def winnowSketches(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    docs.select(col("doc_id"),
      greatest(lit(1), size(split(col("text"), " ")) - (k - 1)).as("n_grams"),
      graft.functions.ShingleExprs.winnow_sketch(col("text"), k, w).as("sketch"))

  /** Substring-overlap near-dup pairs from winnow sketches: (d1, d2,
    * n_shared) for every pair sharing >= minShared distinct sketch
    * hashes — the pairwise form of the MOSS guarantee (each shared
    * entry witnesses a shared >= k+w-1-word run), i.e. substring-level
    * duplication listing where set-Jaccard sees nothing. Inverted-index
    * shape: sketch entries explode to (doc_id, h) longs, hashes with
    * document frequency above maxDf are dropped before the self-join
    * (boilerplate grams otherwise make candidate volume Σ df² —
    * the same cap discipline as the LSH bucket-length and line-dedup
    * maxDf guards), so candidates are bounded by maxDf × the rare-entry
    * count. The pair aggregate is partial-aggregatable. */
  def winnowPairs(docs: DataFrame, minShared: Int = 3, maxDf: Int = 16)
                 (implicit scope: CacheScope): DataFrame = {
    // cached: the sha-heavy sketch kernel would otherwise re-run for
    // the df aggregate and BOTH self-join sides (the entry table is
    // (long, long) rows — sketch-sized, far smaller than the corpus)
    val entries = scope.cached(winnowSketches(docs)
      .select(col("doc_id"), explode(col("sketch.h")).as("h"))
      .distinct())
    val rareH = entries.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("h")
    val rare = entries.join(rareH, "h")
    rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** INCREMENTAL near-dup pairs — a NEW BATCH against an existing
    * corpus: (d1 ∈ batch, d2 ∈ corpus, j) with exact Jaccard >= `t`.
    * The production ingestion pattern: the corpus is already clean, so
    * only batch-vs-corpus pairs matter — never corpus-vs-corpus (the
    * expensive part of a full-corpus rerun). Same prefix-filter
    * pigeonhole as [[nearDupPairs]] but under the LEXICOGRAPHIC hash
    * order (frequency ranking would need a corpus-wide df pass per
    * ingest — lexicographic needs none and both sides derive it
    * row-locally from the sorted kernel output). Candidates =
    * batch-prefix ⋈ corpus-prefix on the 60-bit hash; verification is
    * exact on the per-doc arrays. doc_ids must be unique across both
    * sides. */
  def nearDupPairsAgainst(corpus: DataFrame, batch: DataFrame,
                          t: Double = T)
                         (implicit scope: CacheScope): DataFrame = {
    // cached: each side is referenced twice (prefix-explode candidate
    // side + verification array side) — uncached, the sha-heavy
    // shingle kernel and the sort would re-run over the FULL CORPUS
    // per ingest, doubling the operator's dominant cost
    def prep(d: DataFrame): DataFrame = scope.cached(d.select(col("doc_id"),
        array_sort(graft.functions.ShingleExprs.shingle_sha60(col("text"))).as("arr"))
      .withColumn("sz", size(col("arr")))
      .withColumn("pref", slice(col("arr"), lit(1), prefixLen(t))))
    val b = prep(batch)
    val c = prep(corpus)
    val cand = b.select(col("doc_id").as("d1"), explode(col("pref")).as("h"))
      .join(c.select(col("doc_id").as("d2"), explode(col("pref")).as("h")), "h")
      .select("d1", "d2").distinct()
    verifiedJaccard(cand,
      b.select("doc_id", "arr", "sz").union(c.select("doc_id", "arr", "sz")), t)
  }

  /** Incremental-ingest dedup verdicts for a new batch against an
    * existing corpus: one row per batch doc — (doc_id, exact_dup,
    * near_dup, keep). Exact duplication is a hash semi-comparison
    * against the corpus content-hash set (at scale that set is the
    * PERSISTED index an ingestion pipeline maintains — here derived
    * from the corpus table); near duplication comes from
    * [[nearDupPairsAgainst]]. keep = neither. The batch never compares
    * against itself — run [[exactDedupKeepers]]/[[nearDupPairs]]
    * WITHIN the batch first if intra-batch dups matter. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
                       t: Double = T)
                      (implicit scope: CacheScope): DataFrame = {
    val corpusHashes = corpus.select(sha2(col("text"), 256).as("ch")).distinct()
      .withColumn("exact_dup", lit(true))
    val exactFlag = batch.select(col("doc_id"), sha2(col("text"), 256).as("bh"))
      .join(corpusHashes, col("bh") === col("ch"), "left")
      .select(col("doc_id"), coalesce(col("exact_dup"), lit(false)).as("exact_dup"))
    val nearIds = nearDupPairsAgainst(corpus, batch, t)
      .select(col("d1").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    exactFlag.join(nearIds, Seq("doc_id"), "left")
      .withColumn("near_dup", coalesce(col("near_dup"), lit(false)))
      .withColumn("keep", !col("exact_dup") && !col("near_dup"))
  }

  /** Bloom-GATED incremental exact dedup — the at-scale shape of the
    * [[incrementalDedup]] exact check: ONE map-side-combined corpus
    * pass builds a broadcast-sized bloom sketch over the corpus
    * content-hash set (Spark's own `BloomFilterAggregate` — per-
    * partition blooms OR together, so only sketches cross the wire),
    * each batch row is pruned ROW-LOCALLY by `might_contain` against
    * the broadcast sketch, and only bloom-positive rows pay the exact
    * confirm join. Bloom filters have NO false negatives and the
    * confirm join removes the false positives, so the verdicts are
    * BIT-IDENTICAL to the plain exact join (the oracle spells the
    * plain semantics; CorpusOpsSpec pins bloom == exact) — the sketch
    * changes the COST shape only: in the append-mostly-new case the
    * confirm join input is ~(dup_rate + fpp)·|batch| rows instead of
    * |batch|.
    *
    * `expectedItems` sizes the sketch (must be a plan-time constant —
    * Spark folds it into the aggregate — so size it to the persisted
    * index cardinality an ingestion pipeline tracks anyway). An
    * UNDERSIZED sketch only raises the false-positive rate, i.e.
    * admits more rows to the confirm join; results never change.
    * Output (doc_id, exact_dup), one row per batch doc. */
  def bloomIncrementalDedup(corpus: DataFrame, batch: DataFrame,
                            expectedItems: Long = 1L << 20): DataFrame = {
    import graft.functions.BloomExprs.{bloom_filter_agg, might_contain}
    val ch = corpus.select(sha2(col("text"), 256).as("ch")).distinct()
    // might_contain requires its sketch side CONSTANT at execution —
    // a scalar subquery, not a joined column (Spark evaluates the
    // subquery once and folds the sketch into the filter)
    val bloom = ch.agg(bloom_filter_agg(xxhash64(col("ch")), expectedItems)).scalar()
    val gated = batch.select(col("doc_id"), sha2(col("text"), 256).as("bh"))
      .filter(might_contain(bloom, xxhash64(col("bh"))))
    val dup = gated.join(ch, col("bh") === col("ch"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    batch.select("doc_id").join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("exact_dup"), lit(false)).as("exact_dup"))
  }

  /** One row per distinct text: (doc_id = min over the duplicate
    * clique, text). Partial-aggregatable hash-agg — the scaling lever
    * for cleanup pipelines is running this BEFORE near-dup so exact-dup
    * cliques never reach the expensive stage. */
  def exactDedupKeepers(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"), any_value(col("text")).as("text"))
      .select("doc_id", "text")

  /** Train/eval word-n-gram overlap (the GPT-3/Llama train-test
    * contamination check): rows (doc_id, n_shared) for every NON-eval
    * doc sharing at least one n-gram with the eval slice. The eval
    * side aggregates to DISTINCT gram hashes before the join (eval
    * sets are benchmark-sized; size estimates/AQE decide the build
    * side — no hint). Gram hashing is one native kernel pass and
    * already per-doc distinct. */
  def decontaminate(docs: DataFrame, isEval: Column, n: Int = 8): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      explode(graft.functions.ShingleExprs.shingle_sha60(col("text"), n)).as("h"),
      isEval.as("is_eval"))
    val ev = hashed.filter(col("is_eval")).select("h").distinct()
    hashed.filter(!col("is_eval")).join(ev, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** SPAN-LEVEL decontamination (the FineWeb/Pile refinement of
    * [[decontaminate]]): instead of flagging whole train docs, REMOVE
    * the contaminated lines and keep the rest — a doc quoting one
    * benchmark passage keeps its other 99 paragraphs. Non-eval docs
    * split into `lineWords`-word lines (the [[lineDedup]] chunker;
    * real data pre-splits on newlines); a line is dropped iff it
    * shares a word-`n`-gram with the eval slice. Granularity contract:
    * line-LOCAL grams only — an n-gram spanning two lines is not
    * checked (the eval side hashes its full texts, so nothing is lost
    * to eval-side splitting). Output mirrors [[lineDedup]]:
    * (doc_id, clean_text, n_kept, n_dropped).
    *
    * Scale shape: grams cross partitions only as 60-bit hashes; the
    * eval gram set is benchmark-sized (AQE broadcasts it); the only
    * corpus-sized shuffle is the doc_id reassembly. */
  def decontaminateLines(docs: DataFrame, isEval: Column, n: Int = 8,
                         lineWords: Int = 10): DataFrame = {
    val evalGrams = docs.filter(isEval)
      .select(explode(graft.functions.ShingleExprs.shingle_sha60(col("text"), n)).as("h"))
      .distinct()
    val lined = docs.filter(!isEval)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, (size(ws) + ${lineWords - 1}) div $lineWords - 1),
             |  k -> concat_ws(' ', slice(ws, k * $lineWords + 1, $lineWords)))""".stripMargin))
          .as(Seq("line_no", "line")))
    val contaminated = lined
      .select(col("doc_id"), col("line_no"),
        explode(graft.functions.ShingleExprs.shingle_sha60(col("line"), n)).as("h"))
      .join(evalGrams, "h")
      .select("doc_id", "line_no").distinct()
      .withColumn("bad", lit(true))
    lined.join(contaminated, Seq("doc_id", "line_no"), "left")
      .withColumn("keep", col("bad").isNull)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(col("keep"), struct(col("line_no"), col("line")))))
          .as("kept"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        count(when(!col("keep"), lit(1))).as("n_dropped"))
      .select(col("doc_id"),
        array_join(expr("transform(kept, x -> x.line)"), " ").as("clean_text"),
        col("n_kept"), col("n_dropped"))
  }

  /** Fixed-context chunking: (doc_id, chunk_id, n_tok, chunk) windows
    * of `window` words advancing by `stride` (trailing window clamps).
    * Embarrassingly parallel per doc — explode only, no shuffle. */
  def chunkWindows(docs: DataFrame, window: Int = 32, stride: Int = 24): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nchunks",
        expr(s"1 + greatest(0, (size(ws) - $window + ${stride - 1}) div $stride)"))
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(0, nchunks - 1)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(expr(s"slice(ws, chunk_id * $stride + 1, $window)")).cast("long").as("n_tok"),
        expr(s"concat_ws(' ', slice(ws, chunk_id * $stride + 1, $window))").as("chunk"))

  /** One (doc_id, w1, w2) row per adjacent word pair of each doc's
    * space-split text (docs shorter than two words emit none) — the
    * occurrence table the bigram language models count over. Row-local. */
  private[graft] def bigramRows(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(ws)-2), i -> struct(ws[i] as w1, ws[i+1] as w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  // ---- the doc-id hash order: one spelling of the content-independent
  // 60-bit id hash every deterministic sampler, shuffle and packer
  // ranks by (stratifiedSample, hashSample, packSequences, the l8
  // sampling/shuffle cells and TrainDataPipeline's budget stage). The
  // oracles spell the hash in SQL and never call the kit. ----

  /** The 60-bit id hash sha60(doc_id as string) — reproducible across
    * runs, partitionings and engines. */
  private[graft] def idHash: Column = sha60(col("doc_id").cast("string"))

  /** The (hk, doc_id) order within `partition`; `hk` holds [[idHash]]. */
  private[graft] def hashOrder(partition: String): WindowSpec =
    Window.partitionBy(partition).orderBy(col("hk").asc, col("doc_id").asc)

  /** row_number() in the [[hashOrder]] of `partition`: 1 = lowest hash. */
  private[graft] def hashRank(partition: String): Column =
    row_number().over(hashOrder(partition))

  /** The A-ES uniform draw u = ((idHash mod 1000003) + 0.5) / 1000003,
    * strictly inside (0, 1): the weighted samplers' key is u^(1/q). */
  private[graft] def idUniform: Column = {
    val m = 1000003L
    ((idHash % m) + 0.5) / m
  }

  /** Deterministic corpus shuffle + sharding: (doc_id, shard, pos) with
    * shard = [[idHash]] mod `nshards` and pos = [[hashRank]] within the
    * shard. One corpus shuffle keyed by shard, then per-shard local
    * sorts — no global window. */
  private[graft] def shuffleOrder(docs: DataFrame, nshards: Long): DataFrame =
    docs.select(col("doc_id"), idHash.as("hk"))
      .withColumn("shard", pmod(col("hk"), lit(nshards)))
      .withColumn("pos", hashRank("shard"))
      .select("doc_id", "shard", "pos")

  /** Fixed-length training-sequence layout (the GPT-style pack): within
    * each deterministic shard (60-bit id-hash mod `nshards`, the
    * shuffle-order rule), docs concatenate in (hash, doc_id) order and
    * SPLIT across `seqLen`-token boundaries. Output one row per
    * (sequence, doc) overlap: (shard, seq, doc_id, off, len) — the
    * exact layout a dataloader replays. One shuffle keyed by shard +
    * per-shard cumulative window (nshards grows with the corpus, so
    * sorts stay executor-sized); the piece explode is row-local and a
    * doc emits at most ceil(n_tok/seqLen)+1 pieces. Integer arithmetic
    * end-to-end. */
  def packSequences(docs: DataFrame, seqLen: Long = 256L, nshards: Long = 16L): DataFrame = {
    val w = hashOrder("shard").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"),
        idHash.as("hk"))
      .withColumn("shard", pmod(col("hk"), lit(nshards)))
      .withColumn("en", sum(col("n_tok")).over(w))
      .withColumn("st", col("en") - col("n_tok"))
      .withColumn("seq", explode(expr(s"sequence(st DIV $seqLen, (en - 1) DIV $seqLen)")))
      .select(col("shard"), col("seq"), col("doc_id"),
        (greatest(col("st"), col("seq") * seqLen) - col("seq") * seqLen).as("off"),
        (least(col("en"), (col("seq") + 1L) * seqLen)
          - greatest(col("st"), col("seq") * seqLen)).as("len"))
  }

  /** Deterministic exact-quota stratified sample: per stratum, the
    * ceil(1/denom) fraction ranking lowest by a content-independent
    * 60-bit id-hash. Integer quota arithmetic (no float ceil). One
    * stratum shuffle; the quota is data-dependent, so rank+count share
    * the exchange (no literal-limit pushdown applies). For petabyte
    * strata use [[hashSample]] instead — no sort at all. */
  def stratifiedSample(docs: DataFrame, stratum: String, denom: Int = 10): DataFrame = {
    docs.select(col(stratum), col("doc_id"), idHash.as("hk"))
      .withColumn("rn", hashRank(stratum))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(stratum)))
      .filter(expr(s"rn <= (n + ${denom - 1}) div $denom"))
  }

  /** Deterministic approximate-rate sample: keep docs whose 60-bit
    * id-hash falls under the integer cutoff 2^60/denom. Shuffle-free,
    * reproducible across runs and engines; the quota is binomial-
    * approximate — the production trade at corpus scale. */
  def hashSample(docs: DataFrame, denom: Int = 10): DataFrame =
    docs.withColumn("hk", idHash)
      .filter(col("hk") < (1L << 60) / denom)

  /** Connected components over a near-dup pair graph: every doc that
    * appears in a pair is assigned `cluster_id` = the smallest doc_id
    * reachable through pairs (transitive closure — A~B, B~C puts A, B,
    * C in one cluster even when A~C was never emitted). The step
    * between pair listing and keeper selection in a dedup pipeline:
    * keep `doc_id == cluster_id`, drop the rest.
    *
    * Algorithm: min-label propagation with pointer doubling, a FIXED
    * number of declarative rounds (no driver-side convergence loop —
    * plan construction stays action-free). Each round relaxes labels
    * across edges and applies the pointer jump lbl := lbl(lbl) TWICE
    * (see [[propagateRound]]), so label reach quadruples per round:
    * `rounds` = r covers components of diameter <= 2^(2r-1) — the
    * default 3 covers diameter 32, far past any near-dup clique
    * (merely-chained dups rarely exceed single digits; raise `rounds`
    * for pathological graphs). Each round is two joins + one agg on
    * the PAIR-graph-sized table, not the corpus, so cost at 100 TB is
    * bounded by the dup volume.
    *
    * Output: (cluster_id, doc_id, cluster_size), one row per distinct
    * doc in the pair set.
    */
  /** Build the propagation rounds in a CHILD SESSION
    * (`SparkSession.newSession()` — same SparkContext, its own conf)
    * with adaptive execution OFF and shuffle width `parts`. The label
    * tables are PAIR-GRAPH-sized: AQE's per-stage runtime replanning
    * adds fixed latency per exchange that dominates these tiny rounds
    * (measured ~1.5 s/round at sf0.1 with AQE vs sub-second static
    * rounds, identical results), and without AQE's coalescing the
    * static planner must be told a sane width — `parts` comes from
    * the edge RDD's partition count, i.e. whatever width AQE itself
    * chose for the pair-pipeline output, so it grows with the dup
    * volume like the data. The child session means the CALLER's conf
    * is NEVER touched — a temporary set/restore on the shared session
    * would silently disable AQE for any query another thread plans
    * inside the window (a library must not mutate shared conf).
    * Datasets cross the boundary as (RDD[Row], schema) — pair-graph-
    * sized rows, so the conversion at the two crossings is noise. */
  private def inRoundSession(spark: org.apache.spark.sql.SparkSession, parts: Int)
                            (body: org.apache.spark.sql.SparkSession => DataFrame): DataFrame = {
    // ONE width rule for every iterative op: GraphOps.roundSession —
    // edge-derived width FLOORED at defaultParallelism/4 (AQE coalesces
    // a small pair graph to 1-2 partitions, and width-1 rounds
    // serialize the per-round join onto one core — the measured
    // GraphOps finding; the floor was previously missing here, so
    // dupClusters-based paths could still plan width-1 rounds)
    val rs = GraphOps.roundSession(spark, parts)
    val out = body(rs)
    // back to the caller's session via the same global-temp-view
    // crossing (the body's result is a checkpointed RDD leaf, so the
    // view resolves to it directly — no Row conversion, and the
    // wrapper stays lazy, executing with the caller's terminal action)
    GraphOps.crossView(spark, out)
  }

  /** One propagation ROUND = a relax-and-double join plus a second
    * pointer-jump join — label reach QUADRUPLES per round.
    *
    * Step 1 (relax + double, one join + one agg): the graph edges
    * unioned with the pointer edges (node → lbl) both look up the
    * right side's current label, so
    * next(a) = min( {lbl(b) : (a,b) ∈ E} ∪ {lbl(lbl(a))} ) — the
    * classic viaEdge ∪ viaPtr formulation in a single join. Every node
    * appears in its own pointer edge, so coverage is total; labels
    * only shrink, and lbl(lbl(a)) <= lbl(a) keeps the min dominated by
    * the doubling step. Reach d → max(2d, d+1).
    * Step 2 (pure pointer jump, one agg-free join): lbl := lbl(lbl)
    * doubles again, 2d → 4d. Two doublings per round halve the round
    * count for the same diameter cover — and round COUNT (sequential
    * stage scheduling + checkpoint materialization), not row volume,
    * is what dominates this operator, because the label table is
    * pair-graph-sized. After r rounds the cover is diameter
    * <= 2^(2r-1): r=1 -> 2, r=2 -> 8, r=3 -> 32. */
  private def propagateRound(e: DataFrame, l: DataFrame, reliable: Boolean)
                            (implicit scope: CacheScope): DataFrame = {
    val adj = e.union(l.select(col("node").as("a"), col("lbl").as("b")))
    // checkpointed (lazily): the jump self-join below references the
    // relax output TWICE (by lbl, by node) — without a lineage break
    // both sides recompute the whole relax pipeline. A lazy local
    // checkpoint is a single shared RDD (one computation + persist)
    // and a plan LEAF, so round plans never grow — and it avoids the
    // cache-manager's per-round plan normalization/locking that a
    // cache() here costs on the construction path.
    // (Round 18 A/B'd a split relax — edge join and pointer self-join
    // separately, union of RESULTS — bit-identical labels, ratio
    // 1.00–1.05 on l2_dup_clusters/q48/l2_incremental_clusters:
    // neutral without a pre-hashed edge leaf, so the simpler union
    // form stays.)
    val relaxed = scope.checkpointed(
      adj.as("adj").join(l.as("lt"), col("adj.b") === col("lt.node"))
        .select(col("adj.a").as("node"), col("lt.lbl").as("lbl"))
        .groupBy("node").agg(min("lbl").as("lbl")), reliable)
    // second doubling hop, aggregate-free: lbl is functional (one row
    // per node) and every label is itself a node in the table, so the
    // inner self-join emits exactly one row per node — a pointer jump
    // lbl := lbl(lbl) costing one small join, no shuffle-heavy agg
    relaxed.as("x").join(relaxed.as("y"), col("x.lbl") === col("y.node"))
      .select(col("x.node").as("node"), col("y.lbl").as("lbl"))
  }

  /** @param reliable checkpoint rounds to `SparkContext.setCheckpointDir`
    *   storage instead of executor-local blocks. Local checkpoints have
    *   NO lineage to recompute from: on a 1000-executor cluster, losing
    *   one executor mid-job kills the query unrecoverably — reliable
    *   mode trades one re-computation per checkpointed round (the RDD
    *   checkpoint job) for executor-loss tolerance. Set a durable
    *   checkpoint dir (HDFS/S3) before calling with reliable = true;
    *   see docs/SCALING.md. */
  def dupClusters(pairs: DataFrame, rounds: Int = 3, reliable: Boolean = false)
                 (implicit scope: CacheScope): DataFrame = {
    // Lineage MUST break between rounds: each round references the
    // previous label table twice (pointer-edge union + join side) and
    // its own relax output twice (the jump self-join), so an unbroken
    // fold re-plans 4^rounds copies of the upstream pair pipeline.
    // cache() registers the edge set for physical reuse; the LAZY
    // checkpoint truncates each round's logical plan to an RDD leaf.
    // Same pattern as GraphX/GraphFrames checkpointing between Pregel
    // iterations.
    // the edge table is CHECKPOINTED, not cached: every round's plan
    // would otherwise embed (and the optimizer re-walk) the full
    // upstream pair pipeline twice per round — as an RDD leaf the
    // rounds plan over a pair-graph-sized scan. Built under the
    // session's AQE setting so the corpus-sized upstream keeps its
    // adaptive benefits; only the tiny rounds opt out (see withoutAqe).
    val e = scope.checkpointed(
      pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b"))), reliable)
    val converged = inRoundSession(pairs.sparkSession, e.rdd.getNumPartitions) { rs =>
      // global-temp-view crossing (GraphOps.crossView): the rounds
      // read the checkpoint's InternalRow leaf directly — an
      // (rdd, schema) re-root would deserialize to Row and re-encode
      // on every round's edge scan
      val eR = GraphOps.crossView(rs, e)
      val init = eR.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node"))
      (1 to rounds).foldLeft(init) { (l, r) =>
        scope.checkpointed(propagateRound(eR, l, reliable), reliable)
      }
    }
    converged
      .select(col("lbl").as("cluster_id"), col("node").as("doc_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** Action-driven variant of [[dupClusters]] for pipeline (library)
    * use: runs propagation rounds until NO label changes, then stops —
    * on the common shallow pair graph (dup cliques, short chains) this
    * converges in 2-3 rounds instead of paying the fixed worst-case
    * schedule. Each round costs one extra existence-check job (a
    * limit-1 anti-match on the changed labels), which is why this
    * variant cannot back the oracle-gated query: query CONSTRUCTION
    * must stay action-free (PlanContractSpec), while a pipeline calling
    * this function is already in action context. Fixed point of
    * min-label propagation + pointer doubling = per-component minimum,
    * i.e. exactly [[dupClusters]]'s output (spec-pinned); `maxRounds`
    * (diameter cover 2^(2*maxRounds-1) — ~2^19 at the default) is a
    * runaway bound, not a tuning knob, and exhausting it without
    * convergence logs a WARN instead of failing silently. */
  def dupClustersConverged(pairs: DataFrame, maxRounds: Int = 10,
                           reliable: Boolean = false)
                          (implicit scope: CacheScope): DataFrame = {
    val e = scope.cached(pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
    var l = scope.checkpointed(e.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node")), reliable)
    var round = 0
    var changed = true
    while (round < maxRounds && changed) {
      // the per-round RELAX intermediate (checkpointed inside
      // propagateRound) is dead as soon as `next` materializes — give
      // it a round-local scope and close it after the existence check,
      // alongside the superseded label table: a long convergence run
      // must not stack two block sets per round (reliable-checkpoint
      // files follow the cluster's cleanCheckpoints policy instead)
      val roundScope = CacheScope.owned()
      val next = scope.checkpointed(
        propagateRound(e, l, reliable)(roundScope), reliable)
      changed = !next.as("n").join(l.as("p"), col("n.node") === col("p.node"))
        .filter(col("n.lbl") =!= col("p.lbl")).isEmpty
      // the existence check just materialized `next`'s checkpoint, so
      // both the relax scrap and the superseded round are releasable
      roundScope.close()
      if (!reliable) CacheScope.unpersistPlanRdds(l)
      l = next
      round += 1
    }
    if (changed)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"dupClustersConverged exhausted maxRounds=$maxRounds without " +
          "convergence — labels may split true components (graph diameter " +
          s"exceeds 2^(2*$maxRounds-1), two pointer doublings per round); " +
          "raise maxRounds")
    l.select(col("lbl").as("cluster_id"), col("node").as("doc_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** INCREMENTAL duplicate-CLUSTER maintenance — assign a new batch's
    * docs into EXISTING cluster ids without re-running the corpus pair
    * graph: the missing member of the incremental-ingest family (exact
    * verdicts [[incrementalDedup]], bloom gate [[bloomIncrementalDedup]],
    * ANN index [[ivfpqIncremental]] — clusters previously recomputed
    * from scratch per corpus).
    *
    * Inputs:
    *  - `clusters`: the STORED table a previous [[dupClusters]] run
    *    produced over the corpus — (cluster_id, doc_id, cluster_size),
    *    cluster_id = min doc_id of the cluster's members.
    *  - `batchPairs` (d1, d2): near-dup pairs WITHIN the batch
    *    ([[nearDupPairs]] over the batch).
    *  - `crossPairs` (d1 ∈ batch, d2 ∈ corpus): batch-vs-corpus pairs
    *    ([[nearDupPairsAgainst]]); doc ids must be unique across both
    *    sides — that op's existing contract.
    *
    * Why the work is batch-sized, not corpus-sized: corpus endpoints
    * of `crossPairs` CONTRACT to their stored representative (a corpus
    * doc outside every stored cluster represents itself), so the DELTA
    * graph the propagation rounds run on is (batch pairs) ∪ (batch doc
    * → touched rep) — pair-delta-sized, never the corpus pair graph.
    * Only components touched by the batch re-resolve; untouched
    * clusters pass through ONE remap join whose build side is the
    * batch-sized touched-rep map (AQE broadcasts it — the stored table
    * is a single scan, no shuffle), and merged-component sizes come
    * from batch-sized aggregates (touched members counted through the
    * same broadcast map + direct delta members), never a corpus-wide
    * window.
    *
    * EXACTNESS (the full-recompute pin, oracle-checked): connected
    * components are invariant under contracting already-connected
    * subsets, so delta components = the merge structure a full rerun
    * would find; and because every stored cluster_id is ALREADY the
    * minimum doc_id of its members, the delta component's min over
    * {batch ids, touched rep ids} equals the min doc_id over the fully
    * merged member set — labels AND sizes match
    * `dupClusters(allPairs)` exactly. Output: the new full cluster
    * table (cluster_id, doc_id, cluster_size) over corpus ∪ batch.
    * Batch docs in no pair are absent, the [[dupClusters]] contract
    * (run [[incrementalDedup]] for per-doc keep verdicts as usual).
    *
    * CAVEAT on the exactness pin: the delta propagation is
    * rounds-BOUNDED (default 3 -> diameter cover 2^5 = 32, see
    * [[dupClusters]]); a dup CHAIN in the delta graph longer than the
    * cover would silently fragment a merged component. The delta graph
    * is batch-sized, so pipeline callers should pass
    * `converged = true`: the delta then propagates with
    * [[dupClustersConverged]] (fixpoint + WARN-on-exhaustion, cheap at
    * batch scale — its per-round existence checks run over the delta,
    * never the corpus). The oracle-gated query keeps fixed rounds
    * because query construction must stay action-free
    * (PlanContractSpec); `rounds` is the fixed-round count OR the
    * converged variant's maxRounds. */
  def incrementalClusters(clusters: DataFrame, batchPairs: DataFrame,
                          crossPairs: DataFrame, rounds: Int = 3,
                          reliable: Boolean = false,
                          converged: Boolean = false)
                         (implicit scope: CacheScope): DataFrame = {
    // the stored table feeds three consumers (rep contraction, member
    // remap, touched-size count) — at scale it is a PERSISTED table a
    // pipeline reads, so cache only when a pipeline declares ownership
    val cl = scope.cachedIfShared(
      clusters.select(col("cluster_id"), col("doc_id"), col("cluster_size")))
    val cx = crossPairs.select(col("d1"), col("d2"))
      .join(cl.select(col("doc_id").as("d2"), col("cluster_id").as("rep")),
        Seq("d2"), "left")
      .select(col("d1"), coalesce(col("rep"), col("d2")).as("d2"))
    // CACHED, not checkpointed: the delta table is read by four
    // downstream consumers (rep split ×2, direct rows, sizes) and is
    // pair-delta-sized; dupClusters already lineage-cut its rounds
    val deltaPairs = batchPairs.select(col("d1"), col("d2")).union(cx)
    val delta = scope.cached(
      (if (converged) dupClustersConverged(deltaPairs, math.max(rounds, 10), reliable)
       else dupClusters(deltaPairs, rounds, reliable))
        .select(col("cluster_id").as("new_id"), col("doc_id").as("node")))
    // delta nodes that are stored representatives expand to their
    // members; every other node (batch doc, corpus singleton rep) IS
    // its own member row. Semi/anti joins of the batch-sized delta
    // DIRECTLY against the stored table (delta nodes are unique and
    // semi/anti never multiply rows) — a distinct() rep set first
    // would add a corpus-wide aggregate pass for nothing
    val remap = delta.join(cl, delta("node") === cl("cluster_id"), "left_semi")
      .select(col("node").as("old_id"), col("new_id"))
    val direct = delta.join(cl, delta("node") === cl("cluster_id"),
      "left_anti")
    // merged-component sizes: stored members of touched clusters are
    // COUNTED through the broadcast-sized remap (no trust in the
    // stored cluster_size for merged components), plus the direct
    // delta members — both aggregates are batch-sized
    val touchedSz = cl.join(remap, cl("cluster_id") === remap("old_id"))
      .groupBy(col("new_id")).agg(count(lit(1)).as("n_old"))
    val directSz = direct.groupBy("new_id").agg(count(lit(1)).as("n_new"))
    val sz = touchedSz.join(directSz, Seq("new_id"), "full")
      .select(col("new_id"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("new_size"))
    // untouched clusters keep id and stored size; touched members take
    // the merged id, direct members join the table — one pass over the
    // stored table, batch-sized build sides everywhere
    val members = cl.join(remap, cl("cluster_id") === remap("old_id"), "left")
      .select(coalesce(col("new_id"), col("cluster_id")).as("cid"),
        col("doc_id"), col("cluster_size").as("old_size"))
      .union(direct.select(col("new_id").as("cid"), col("node").as("doc_id"),
        lit(null).cast("long").as("old_size")))
    members.join(sz, members("cid") === sz("new_id"), "left")
      .select(col("cid").as("cluster_id"), col("doc_id"),
        coalesce(col("new_size"), col("old_size")).as("cluster_size"))
  }

  /** DOCUMENT REMOVAL from a maintained duplicate-cluster table — the
    * delete half [[incrementalClusters]] leaves open (its batches only
    * ADD docs). Removing a doc can SPLIT its cluster (it may have been
    * the only bridge between two near-dup groups) and can DEPOSE a
    * min-id representative, so the stored (cluster_id, doc_id,
    * cluster_size) rows of TOUCHED clusters cannot be patched in
    * place; but components are local — deleting nodes never merges or
    * creates cross-component edges — so only the touched clusters
    * recompute, over the PERSISTED pair graph (`pairs` is the
    * auxiliary structure this op needs, the q118 value-multiset
    * lesson: deletion requires the runner-up information a summary
    * discards; a dedup pipeline has the pair graph on disk from the
    * build). Untouched clusters pass through a batch-sized anti-join
    * unchanged. The result equals [[dupClusters]] rebuilt over the
    * post-delete pair graph EXACTLY (min-id cluster ids included):
    * components of the surviving graph = untouched components ∪
    * components of (touched members ∖ removed), and the propagation
    * here runs on exactly that second, touched-cluster-sized subgraph.
    * Docs that lose their last pair drop out of the table (the
    * singleton convention of the build). */
  def removeFromClusters(clusters: DataFrame, pairs: DataFrame,
                         removed: DataFrame, rounds: Int = 3,
                         reliable: Boolean = false,
                         converged: Boolean = false)
                        (implicit scope: CacheScope): DataFrame = {
    val rm = removed.select(col(removed.columns.head).as("doc_id"))
    val cl = scope.cachedIfShared(
      clusters.select(col("cluster_id"), col("doc_id"), col("cluster_size")))
    // clusters containing any removed doc — the touched set
    val touched = cl.join(rm, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val untouched = cl.join(touched, Seq("cluster_id"), "left_anti")
    // surviving members of touched clusters
    val m = scope.cached(cl.join(touched, Seq("cluster_id"), "left_semi")
      .join(rm, Seq("doc_id"), "left_anti")
      .select("doc_id"))
    // the touched subgraph: pairs with BOTH endpoints surviving
    // touched members — two semi joins of the pair graph against the
    // touched-member set (batch-sized build sides)
    val sub = pairs.select(col("d1"), col("d2"))
      .join(m.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(m.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
    val recl =
      if (converged) dupClustersConverged(sub, math.max(rounds, 10), reliable)
      else dupClusters(sub, rounds, reliable)
    untouched.unionByName(recl)
  }

  /** Per-document n-gram NOVELTY (the dedup-aware sampling signal):
    * for each doc, the fraction of its distinct word-`n`-grams whose
    * corpus-wide FIRST occurrence (min doc_id) is this doc. High
    * novelty = mostly-new content; low = mostly material already seen
    * in smaller-id docs — the score a curation pipeline samples by
    * (or thresholds) to favor fresh text without running full
    * pairwise dedup.
    *
    * Scale shape: grams cross partitions only as 60-bit hashes; the
    * first-seen table is ONE partial-aggregatable min per hash; the
    * join back is hash-keyed (AQE-sized); the per-doc ratio is a
    * partial-aggregatable conditional count. Two shuffles total,
    * everything corpus-linear. Output (doc_id, n_grams, n_novel,
    * novelty), novelty rounded 6dp for cross-engine stability. */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      explode(graft.functions.ShingleExprs.shingle_sha60(col("text"), n)).as("h"))
    val firstSeen = hashed.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    hashed.join(firstSeen, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), lit(1))).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Sketch-gated BOILERPLATE gram detector (heavy hitters): every
    * word-`n`-gram hash appearing in at least `minDf` distinct docs,
    * with its exact document frequency — the "find the repeated
    * header/footer/license text" pass that feeds line/span dedup.
    *
    * Scale shape — the count-min analogue of [[bloomIncrementalDedup]]'s
    * bloom gate: one `count_min_sketch` aggregate over the gram stream
    * (per-partition sketches merge map-side; one ~MB sketch per
    * partition crosses the wire, never the gram stream), folded to a
    * scalar; then every occurrence probes the sketch ROW-LOCALLY
    * ([[graft.functions.CmsExprs.cms_estimate]], a native codegen'd
    * expression) and the long tail — the overwhelming mass of a real
    * corpus — dies before the exact-count shuffle. CMS only
    * OVER-estimates, so the gate has no false negatives, and the final
    * exact aggregate + HAVING over the survivors returns exactly the
    * true heavy hitters with exact counts: the sketch buys the prune,
    * never the answer. `eps` trades sketch width for survivor count —
    * size width ~ stream/minDf so collision inflation stays well under
    * the threshold (the 100 TB tuning rule; the default suits
    * fixture-to-10× streams). */
  def heavyGrams(docs: DataFrame, minDf: Long = 2, n: Int = 8,
                 eps: Double = 0.00003): DataFrame = {
    import graft.functions.CmsExprs.cms_estimate
    val h = docs.select(col("doc_id"),
      explode(graft.functions.ShingleExprs.shingle_sha60(col("text"), n)).as("h"))
    val cms = h.agg(
      expr(s"count_min_sketch(h, ${eps}d, 0.99d, 42)")).scalar()
    h.filter(cms_estimate(cms, col("h")) >= minDf)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /** Cross-source CONTENT OVERLAP matrix: for every source pair
    * (src_a < src_b), the number of distinct word-`n`-gram hashes both
    * sources contain — the dataset-curation table that answers "which
    * of my sources are re-crawls / mirrors of each other" before any
    * doc-level dedup runs. Exact-duplicate docs rarely cross sources;
    * shared GRAMS (quotes, boilerplate, syndicated text) do.
    *
    * Scale shape: one distinct (hash, source) projection — its row
    * count is bounded by grams × |sources|, and |sources| is a
    * catalog-sized dimension, so the hash-keyed self-join emits at
    * most |sources|²/2 pairs PER HASH (tiny, fixed) — never a
    * corpus-quadratic shape; the final aggregate is |sources|²-sized.
    * Output (src_a, src_b, n_shared). */
  def sourceOverlap(docs: DataFrame, n: Int = 8): DataFrame = {
    val hs = docs.select(col("source"),
      explode(graft.functions.ShingleExprs.shingle_sha60(col("text"), n)).as("h"))
      .distinct()
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Corpus-level LINE deduplication (the CCNet/RefinedWeb boilerplate
    * pass): documents split into lines, a line kept iff its corpus-wide
    * document frequency is <= `maxDf`, documents reassembled in line
    * order. The fixture text has no newlines, so "lines" come from a
    * deterministic `lineWords`-word chunker; with real data pre-split
    * on '\n' instead — everything from the explode down is identical.
    *
    * Scale shape: lines cross partitions only as 60-bit hashes — the
    * frequency agg shuffles (lh, doc_id) longs with a partial
    * distinct-within-partition, and the dup-line table after
    * `df > maxDf` is boilerplate-sized (AQE broadcasts it at any
    * realistic scale, so no second corpus shuffle for the join); the
    * corpus-sized side shuffles exactly once, by doc_id, for
    * reassembly. Output: (doc_id, clean_text, n_kept, n_dropped). */
  def lineDedup(docs: DataFrame, lineWords: Int = 10, maxDf: Long = 1): DataFrame = {
    val lined = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, (size(ws) + ${lineWords - 1}) div $lineWords - 1),
             |  k -> concat_ws(' ', slice(ws, k * $lineWords + 1, $lineWords)))""".stripMargin))
          .as(Seq("line_no", "line")))
      .withColumn("lh", sha60(col("line")))
    val dup = lined.groupBy("lh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
    lined.join(dup, Seq("lh"), "left_outer")
      .withColumn("keep", col("df").isNull)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(col("keep"), struct(col("line_no"), col("line")))))
          .as("kept"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        count(when(!col("keep"), lit(1))).as("n_dropped"))
      .select(col("doc_id"),
        array_join(expr("transform(kept, x -> x.line)"), " ").as("clean_text"),
        col("n_kept"), col("n_dropped"))
  }

  /** Exact substring-SPAN deduplication (the "Deduplicating Training
    * Data Makes Language Models Better" semantic, Lee et al. 2022):
    * any run of >= `g` tokens that already appears in an EARLIER doc
    * (smaller doc_id — keep-first) is removed token-exactly from the
    * later doc. Line dedup misses runs that straddle line boundaries;
    * winnow pairs only REPORTS substring sharing — this op performs
    * the removal.
    *
    * Mechanism (no pairwise join anywhere): positional g-gram 60-bit
    * hashes -> min-doc_id ownership per hash (partial-aggregatable) ->
    * a gram START is duplicated iff its doc is not the owner -> token
    * j is removed iff ANY gram covering it is duplicated, which is a
    * window MAX over the last g gram-start flags (ROWS g-1 PRECEDING),
    * not an interval join -> docs reassembled from kept tokens.
    *
    * Scale shape: grams cross partitions once as (h, doc_id) longs for
    * the min-doc agg, the gram stream joins the ownership table on h
    * (both corpus-linear), and the token pass is one doc_id exchange
    * with two window/agg steps. Linear end to end; no df cap needed
    * because nothing is pairwise. Within-doc repeats whose owner is
    * the doc itself are kept (ownership is doc-level, keep-first).
    * Output: (doc_id, clean_text, n_kept, n_removed). */
  def spanDedup(docs: DataFrame, g: Int = 8): DataFrame = {
    val ws = docs.withColumn("ws", split(col("text"), " "))
    // native one-pass positional kernel — the composed spelling
    // (transform + slice + concat_ws + sha2-hex + conv) pays a string
    // materialization and a hex round-trip PER GRAM; the kernel hashes
    // in place (empty array below g words, so no length filter needed)
    val grams = docs.select(col("doc_id"),
      posexplode(graft.functions.ShingleExprs.gram_sha60_pos(col("text"), g))
        .as(Seq("i", "h")))
    val own = grams.groupBy("h").agg(min(col("doc_id")).as("min_doc"))
    val dupStarts = grams.join(own, "h")
      .select(col("doc_id"), col("i").as("j"), (col("doc_id") > col("min_doc")).as("dup"))
    val tok = ws.select(col("doc_id"), posexplode(col("ws")).as(Seq("j", "word")))
    val w = Window.partitionBy("doc_id").orderBy(col("j"))
      .rowsBetween(-(g - 1), Window.currentRow)
    tok.join(dupStarts, Seq("doc_id", "j"), "left_outer")
      .withColumn("rm", max(when(col("dup"), 1).otherwise(0)).over(w) === 1)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(!col("rm"), struct(col("j"), col("word"))))).as("kept"),
        count(when(!col("rm"), lit(1))).as("n_kept"),
        count(when(col("rm"), lit(1))).as("n_removed"))
      .select(col("doc_id"),
        array_join(expr("transform(kept, x -> x.word)"), " ").as("clean_text"),
        col("n_kept"), col("n_removed"))
  }

  /** Smallest b with 2^b >= m (0 for m <= 1) — integer-only so banding
    * and cluster-count derivations can never round differently between
    * engines. */
  private[graft] def ceilLog2(m: Long): Int = {
    var b = 0
    while ((1L << b) < m && b < 62) b += 1
    b
  }

  /** Sub-bucket width budget for the hot-cluster guard: clusters split
    * into at most 2^16 sub-buckets (cap × 65536 vectors per cluster
    * before the guard saturates — far past any real centroid load). */
  private val MaxSubBits = 16

  /** Deterministic hyperplane component — the same public LCG-style
    * arithmetic the embedding-LSH family uses, so oracles replay it. */
  private[graft] def subPlaneVal(p: Int, d: Int): Double =
    (((p * 64 + d) * 2654435761L + 1013904223L) % 2147483647L).toDouble / 2147483647.0 * 2 - 1

  private def subPlaneLit(p: Int): Column =
    lit(Array.tabulate(64)(d => subPlaneVal(p, d)))

  /** Per-cluster sub-bucket plane choice for the hot-cluster guard.
    * Input: the k-row centroid table (cid, ce) and per-cluster sizes
    * (cid, csz). A cluster of size csz splits into 2^nbits sub-buckets
    * with nbits = ceilLog2(ceil(csz / cap)) (0 when csz <= cap), and
    * its nbits planes are the ones with the SMALLEST |round(ce·plane,
    * 6)| (tie → plane index): a tight cluster straddles a hyperplane
    * only where the plane passes near its direction, so ranking by the
    * centroid dot picks exactly the planes most likely to cut it —
    * fixed plane indices would leave a tight cluster whole. All
    * integer/6dp-rounded arithmetic, so both engines derive identical
    * choices. Output (cid, p, bit): bit = rank position, <= nbits rows
    * per cluster, k*nbits rows total — broadcast-sized. */
  private def chosenSubPlanes(cents: DataFrame, sizes: DataFrame, cap: Int): DataFrame = {
    import graft.functions.VectorExprs.vec_dot
    val nb = sizes
      .withColumn("m", expr(s"(csz + ${cap - 1}) div $cap"))
      .withColumn("nbits", expr(
        s"IF(m <= 1, 0, aggregate(sequence(1, $MaxSubBits), 0, " +
          "(acc, b) -> IF(shiftleft(CAST(1 AS BIGINT), b - 1) < m, b, acc)))"))
      .select(col("cid"), col("nbits"))
    val cpd = cents.select(col("cid"),
        explode(array((0 until MaxSubBits).map(p =>
          struct(lit(p).as("p"),
            round(vec_dot(col("ce"), subPlaneLit(p)), 6).as("cd"))): _*)).as("x"))
      .select(col("cid"), col("x.p").as("p"), col("x.cd").as("cd"))
    val wPl = Window.partitionBy("cid").orderBy(abs(col("cd")).asc, col("p").asc)
    cpd.join(nb, "cid")
      .withColumn("rk", row_number().over(wPl))
      .filter(col("rk") <= col("nbits"))
      .select(col("cid"), col("p"), (col("rk") - 1).as("bit"))
  }

  /** Sub-bucket codes for rows (id, cid, vec) under a plane choice from
    * [[chosenSubPlanes]]: bit `b` set iff round(vec · plane, 6) > 0 for
    * the cluster's rank-`b` plane. Rows in unsplit clusters (no chosen
    * rows) keep sub = 0. The explode is corpus×MaxSubBits rows but the
    * broadcast join prunes to hot-cluster rows BEFORE any shuffle, so
    * the aggregate moves only split-cluster content. One output row per
    * input row: (id, cid, sub). */
  private def subCodes(rows: DataFrame, idCol: String, vecCol: String,
                       chosen: DataFrame): DataFrame = {
    import graft.functions.VectorExprs.vec_dot
    val vpd = rows.select(col(idCol), col("cid"),
        explode(array((0 until MaxSubBits).map(p =>
          struct(lit(p).as("p"),
            round(vec_dot(col(vecCol), subPlaneLit(p)), 6).as("vd"))): _*)).as("x"))
      .select(col(idCol), col("cid"), col("x.p").as("p"), col("x.vd").as("vd"))
    val hot = vpd.join(broadcast(chosen), Seq("cid", "p"))
      .groupBy(col(idCol), col("cid"))
      .agg(sum(expr("IF(vd > 0, shiftleft(CAST(1 AS BIGINT), bit), CAST(0 AS BIGINT))")).as("sub"))
    rows.select(col(idCol), col("cid"))
      .join(hot, Seq(idCol, "cid"), "left")
      .withColumn("sub", coalesce(col("sub"), lit(0L)))
  }

  /** SemDeDup-style semantic deduplication over an embedding column:
    * every vector is assigned to its nearest of k deterministic seed
    * centroids (the k smallest vec_ids), and within each cluster a
    * vector is DROPPED iff some smaller-id vector in the same cluster
    * has cosine >= `tau` with it — the parallel, order-free superset
    * of the sequential greedy keep rule (a vector dropped by an
    * already-dropped neighbor stays dropped), deterministic under any
    * execution order. All comparisons on round(cos, 6) (the repo
    * round-before-rank rule).
    *
    * Scale shape: pairwise work is CLUSTER-bounded, never corpus² —
    * and the cluster count is SCALE-PARAMETERIZED: with `k <= 0`
    * (default) it becomes max(32, 2^ceil(log2(ceil(n/64)))), holding
    * mean cluster size ~64 so the candidate volume stays ~64·n,
    * linear, instead of the n²/k a fixed k degenerates to (the
    * SemDeDup paper's k = 50k at web scale is the same rule; the
    * count() this costs at plan build is the same trade the adaptive
    * banding widths make — pass k explicitly for action-free builds).
    * The centroid table is k rows by construction, hence the explicit
    * broadcast.
    *
    * HOT-CLUSTER GUARD: real embedding corpora (unlike uniform
    * fixtures) collapse onto few centroids, and the cid-keyed
    * self-join is quadratic in the hottest cluster. Clusters larger
    * than `maxCluster` therefore split into 2^ceilLog2(ceil(csz/cap))
    * sub-buckets by secondary-hyperplane sign bits ([[chosenSubPlanes]]
    * picks each cluster's best-cutting planes from the centroid dots;
    * [[subCodes]] codes the members), and the pairwise rule compares
    * only within (cid, sub). This bounds candidates at ~cap²/2 per
    * sub-bucket at the cost of missing cross-sub-bucket pairs — the
    * standard LSH recall trade, explicit in the knob; `maxCluster =
    * Int.MaxValue` restores the exact cluster-wide rule. The fixture
    * scales never trigger the guard (mean cluster ~64 << 256), and the
    * DuckDB oracle replays the identical guard arithmetic, so the gate
    * stays bit-for-bit at ANY skew.
    * Output: (vec_id, cid, keep, dup_of) — dup_of = the smallest
    * qualifying smaller id, null for kept vectors. */
  /** ANN-index COMPACTION — the other half of incremental HNSW/kNN
    * maintenance: insertion symmetrizes fresh links into the frozen
    * adjacency WITHOUT re-ranking the stored nodes' lists (the
    * batch-sized-cost contract), so maintained degree grows by the
    * batch fan-in every round and beam expansion slowly inflates.
    * This pass re-ranks each node's ACCUMULATED neighbor list back to
    * its top-`k` by cosine: one adjacency-sized re-scoring join (edges
    * × 2 vector fetches) + one per-node window — never a corpus×corpus
    * rebuild; cost is O(edges), and edges ≤ nodes × (build cap +
    * accumulated fan-in). The result is a DIRECTED top-k adjacency
    * (max out-degree exactly k; re-symmetrizing would re-inflate —
    * HNSW's neighbor-list pruning is per-node too), which the layered
    * search consumes as-is. Schedule it off the drift-ratio gate
    * (l3_ann_incremental) or a degree probe, the reclusterIfDeep
    * discipline. */
  def compactAdjacency(adj: DataFrame, vecs: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val w = Window.partitionBy("a").orderBy(col("_simr").desc, col("b").asc)
    adj.join(vecs.select(col(idCol).as("a"), col(vecCol).as("_ea")), "a")
      .join(vecs.select(col(idCol).as("b"), col(vecCol).as("_eb")), "b")
      .select(col("a"), col("b"),
        round(vec_cos(col("_ea"), col("_eb")), 6).as("_simr"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select("a", "b")
  }

  /** The [[compactAdjacency]] TRIGGER — the ANN side of
    * [[Layout.reclusterIfDeep]]'s discipline, closing the index
    * lifecycle loop: incremental insertion (the l3_ann_hnsw_incremental
    * semantics) inflates maintained out-degree by the batch fan-in
    * every round; this probes the CURRENT max out-degree (one
    * edge-count-sized aggregate — adjacency metadata, never the
    * corpus) and re-ranks each node's list back to `cap` only once
    * drift passes `maxDegreeThreshold`. Returns (adjacency,
    * triggered): below threshold the adjacency passes through
    * UNTOUCHED (no re-scoring join is even planned); above it the
    * result is the [[compactAdjacency]] rewrite. The probe is ONE
    * driver-side action of the convergence-probe class. An empty
    * adjacency never triggers. Schedule it per maintenance commit —
    * the streaming TCK wires it after each insert batch, so
    * compaction commits land exactly when drift crosses the gate and
    * a replayed batch re-derives the same decision from the same
    * stored snapshot. */
  def compactIfDegreeHigh(adj: DataFrame, vecs: DataFrame, cap: Int,
                          maxDegreeThreshold: Long,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): (DataFrame, Boolean) = {
    require(cap >= 1, s"cap must be >= 1 (got $cap)")
    require(maxDegreeThreshold >= cap,
      s"maxDegreeThreshold ($maxDegreeThreshold) below cap ($cap) would " +
        "re-compact every probe — the gate must sit above the rewrite target")
    val row = adj.groupBy("a").agg(count(lit(1)).as("_d"))
      .agg(max("_d")).head()
    val high = !row.isNullAt(0) && row.getLong(0) > maxDegreeThreshold
    if (high) (compactAdjacency(adj, vecs, cap, idCol, vecCol), true)
    else (adj, false)
  }

  def semDedup(vecs: DataFrame, k: Int = 0, tau: Double = 0.35,
               maxCluster: Int = 256)
              (implicit scope: CacheScope): DataFrame = {
    val assignB = semDedupAssignments(vecs, k, maxCluster)
    val dropped = assignB.as("a").join(assignB.as("b"),
        col("a.cid") === col("b.cid") && col("a.sub") === col("b.sub") &&
        col("a.vid") < col("b.vid"))
      .withColumn("simr", round(vec_cos(col("a.ve"), col("b.ve")), 6))
      .filter(col("simr") >= tau)
      .groupBy(col("b.vid").as("vid"))
      .agg(min(col("a.vid")).as("dup_of"))
    assignB.join(dropped, Seq("vid"), "left_outer")
      .select(col("vid").as("vec_id"), col("cid"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  /** The (vid, cid, sub, ve) assignment table [[semDedup]] compares
    * within — exposed package-private so specs can audit the candidate
    * volume the guard admits. CACHED: the pairwise self-join and the
    * keep-join reference it three times. */
  private[graft] def semDedupAssignments(vecs: DataFrame, k: Int,
                                         maxCluster: Int)
                                        (implicit scope: CacheScope): DataFrame = {
    val kk =
      if (k > 0) k
      else math.max(32, 1L << ceilLog2((vecs.count() + 63) / 64)).toInt
    val cents = vecs.filter(col("vec_id") < kk)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val wAssign = Window.partitionBy("vid").orderBy(col("simr").desc, col("cid").asc)
    val assign = vecs.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .crossJoin(broadcast(cents))
      .withColumn("simr", round(vec_cos(col("ve"), col("ce")), 6))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") === 1)
      .select(col("vid"), col("cid"), col("ve"))
    val sizes = assign.groupBy("cid").agg(count(lit(1)).as("csz"))
    val chosen = chosenSubPlanes(cents, sizes, maxCluster)
    scope.cached(
      assign.join(subCodes(assign, "vid", "ve", chosen), Seq("vid", "cid")))
  }

  /** Contiguous subspace split for product quantization: one row per
    * (vec_id, sub) with the subDim-dim subvector. Pure projection —
    * the explode stays inside codegen, no shuffle. */
  private def subVectors(vecs: DataFrame, m: Int, subDim: Int): DataFrame =
    vecs.select(col("vec_id"),
      explode(array((0 until m).map(s0 =>
        struct(lit(s0).as("sub"),
          expr(s"slice(embedding, ${s0 * subDim + 1}, $subDim)").as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))

  /** Product-quantization codebook: the space split into `m`
    * contiguous `subDim`-dim subspaces; per subspace, `k` deterministic
    * seed centroids = the subvectors of the k smallest vec_ids (the
    * same seed rule as the IVF family — swap in Lloyd-refined
    * centroids for real corpora, the encode/ADC machinery below is
    * training-agnostic). Output (sub, cid, cv): m*k rows,
    * broadcast-sized by construction. */
  def pqCodebook(vecs: DataFrame, m: Int = 8, subDim: Int = 8, k: Int = 16): DataFrame =
    subVectors(vecs, m, subDim).filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("int").as("cid"), col("sv").as("cv"))

  /** Lloyd-TRAINED PQ codebook: per subspace, `iters` k-means
    * iterations from the deterministic seed init ([[pqCodebook]]'s k
    * smallest vec_ids) — assignment by round(L2², 6) with cid
    * tie-break, centroid update = per-dim AVG rounded to 6dp, the same
    * determinism rules as the IVF k-means query, so an engine replay
    * (or the DuckDB oracle) reproduces the codebook bit-for-bit.
    * A centroid that loses every member simply drops out (both engines
    * derive the same survivor set).
    *
    * Scale shape: everything runs in long format (vec_id, sub, sd, v);
    * each iteration is one shuffle on (vec_id, sub) for the argmin and
    * one k*m*subDim-sized aggregate for the update — the codebook
    * stays broadcast-sized throughout, and the corpus never moves raw
    * vectors more than the seed variant does. Output (sub, cid,
    * cv: array<double>) — [[pqEncode]]/[[pqTopK]] accept it unchanged
    * (the native kernels widen float/double per element). */
  def pqCodebookTrained(vecs: DataFrame, m: Int = 8, subDim: Int = 8,
                        k: Int = 16, iters: Int = 2)
                       (implicit scope: CacheScope): DataFrame = {
    import graft.functions.VectorExprs.vec_l2sq
    // cached: referenced 2x per Lloyd iteration (assignment join +
    // centroid update) plus the seed init — uncached, the subvector
    // explode re-runs over the corpus ~2·iters+1 times.
    // Assignment runs at (vec_id, sub) granularity against the
    // broadcast ARRAY-form codebook with the native vec_l2sq kernel —
    // the pqEncode shape: n·m·k kernel rows instead of the earlier
    // n·m·k·subDim scalar-long join (a subDim× larger shuffle for the
    // same round(L2², 6); the kernel widens float/double per element
    // exactly as the scalar spelling did, and the oracle's SUM-then-
    // round replay is unchanged). Only the centroid update, which
    // genuinely needs per-dimension averages, explodes to (sd, v).
    val subs = scope.cached(subVectors(vecs, m, subDim))
    val init = subs.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("int").as("cid"),
        expr("transform(sv, x -> cast(x as double))").as("cv"))
    (1 to iters).foldLeft(init) { (cb, _) =>
      val assign = subs.join(broadcast(cb), Seq("sub"))
        .withColumn("d2r", round(vec_l2sq(col("sv"), col("cv")), 6))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2r"), col("cid"))).as("b"))
        .select(col("vec_id"), col("sub"), col("b.cid").as("cid"))
      assign.join(subs, Seq("vec_id", "sub"))
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("sd", "v0")))
        .groupBy(col("sub"), col("cid"), col("sd"))
        .agg(round(avg(col("v0").cast("double")), 6).as("cv"))
        .groupBy(col("sub"), col("cid"))
        .agg(sort_array(collect_list(struct(col("sd"), col("cv")))).as("a"))
        .select(col("sub"), col("cid"), expr("transform(a, x -> x.cv)").as("cv"))
    }
  }

  /** PQ encode: each (vector, subspace) → id of the nearest codebook
    * centroid by round(L2², 6), ties to the smallest cid. m codes of
    * ⌈log2 k⌉ bits replace subDim·4 bytes — 16× compression at the
    * default 8×16-over-float32 parameterization; the residual detail
    * ANN needs survives, unlike scalar int8 (see [[quantizeInt8]]).
    *
    * Scale shape: the m*k codebook is broadcast; the L2² inner loop is
    * the native codegen'd `vec_l2sq` kernel; argmin is a
    * partial-aggregatable min-of-struct — the shuffle carries one
    * combined row per (vec_id, sub), never the ×k candidate fan-out.
    * Output (vec_id, sub, code). */
  def pqEncode(vecs: DataFrame, codebook: DataFrame,
               m: Int = 8, subDim: Int = 8): DataFrame =
    subVectors(vecs, m, subDim)
      .join(broadcast(codebook), "sub")
      .withColumn("d2r",
        round(graft.functions.VectorExprs.vec_l2sq(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2r"), col("cid"))).as("best"))
      .select(col("vec_id"), col("sub"), col("best.cid").as("code"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    * exact L2² from the query subvector to every centroid forms an
    * m×k lookup table (queries×m×k rows — broadcast); approximate
    * distance to a database vector = the sum of its m coded entries;
    * rank ascending on round(sum, 6) with vec_id tie-break. The
    * per-(query, vector) sum is partial-aggregatable, so the shuffle
    * is |queries|·n pairs of doubles — the scan side never moves raw
    * vectors, which is the point of PQ at 100 TB: the index is codes +
    * a constant-size codebook. */
  def pqTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
             m: Int = 8, subDim: Int = 8, topK: Int = 10,
             candidates: Option[DataFrame] = None): DataFrame = {
    val lut = subVectors(
        queries.select(col("qid").as("vec_id"), col("embedding")), m, subDim)
      .select(col("vec_id").as("qid"), col("sub"), col("sv").as("qsv"))
      .join(codebook, "sub")
      .withColumn("qd2", graft.functions.VectorExprs.vec_l2sq(col("qsv"), col("cv")))
      .select(col("qid"), col("sub"), col("cid").as("code"), col("qd2"))
    val coded = codes.select(col("vec_id").as("vid"), col("sub"), col("code"))
    // with a candidate set (e.g. IVF probe survivors — IVFADC), only
    // its (qid, vid) pairs are scored: codes join candidates first, so
    // the ADC volume is candidate-bounded, not corpus×queries.
    // The self-pair exclusion applies to BOTH branches — a caller whose
    // candidate set contains (q, q) must not get the query back ranked
    // first at distance ~0.
    val scored = (candidates match {
      case Some(cand) =>
        coded.join(cand.select("qid", "vid"), Seq("vid"))
          .join(broadcast(lut), Seq("qid", "sub", "code"))
      case None =>
        coded.join(broadcast(lut), Seq("sub", "code"))
    }).filter(col("vid") =!= col("qid"))
    val w = Window.partitionBy("qid").orderBy(col("adr").asc, col("vid").asc)
    scored
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("qd2")), 6).as("adr"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("qid", "rn", "vid", "adr")
  }

  /** IVFADC candidate generation (the FAISS IVF-PQ coarse half): every
    * vector assigned to its nearest of `nlist` deterministic seed
    * centroids by round(L2², 6) (partial-agg argmin — one combined row
    * per vector crosses the wire), queries probe their `nprobe`
    * closest lists, candidates = list co-membership. At scale the
    * probe side is queries×nlist (tiny) and the candidate volume is
    * ~nprobe/nlist of the corpus — the knob that trades recall for
    * scan fraction.
    *
    * HOT-LIST GUARD (`maxList`, off by default so the default oracle
    * stays byte-stable): a skewed corpus can collapse onto few
    * inverted lists, and probing a hot list scans its whole
    * membership. With `maxList` set, lists above it split into
    * sub-buckets by the same secondary-hyperplane machinery as
    * [[semDedup]] ([[chosenSubPlanes]] / [[subCodes]]), and a probe
    * reaches only the sub-bucket matching the QUERY's own sign bits —
    * per-probe scan volume drops to ~csz/2^nbits at the usual LSH
    * recall trade. Output (qid, vid), distinct. */
  def ivfCandidates(vecs: DataFrame, queries: DataFrame,
                    nlist: Int = 32, nprobe: Int = 4,
                    maxList: Int = Int.MaxValue): DataFrame = {
    import graft.functions.VectorExprs.vec_l2sq
    val cents = vecs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val assign = vecs.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .crossJoin(broadcast(cents))
      .withColumn("d2c", round(vec_l2sq(col("ve"), col("ce")), 6))
      .groupBy("vid").agg(min(struct(col("d2c"), col("cid"))).as("b"))
      .select(col("vid"), col("b.cid").as("cid"))
    val wProbe = Window.partitionBy("qid").orderBy(col("d2c").asc, col("cid").asc)
    val probes = queries.select(col("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("d2c", round(vec_l2sq(col("qe"), col("ce")), 6))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid"), col("qe"))
    if (maxList == Int.MaxValue) {
      probes.join(assign, "cid")
        .filter(col("vid") =!= col("qid"))
        .select("qid", "vid").distinct()
    } else {
      val sizes = assign.groupBy("cid").agg(count(lit(1)).as("csz"))
      val chosen = chosenSubPlanes(cents, sizes, maxList)
      val assignV = assign
        .join(vecs.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid")
      val vSub = subCodes(assignV, "vid", "ve", chosen)
      val qSub = subCodes(probes, "qid", "qe", chosen)
      qSub.join(vSub, Seq("cid", "sub"))
        .filter(col("vid") =!= col("qid"))
        .select("qid", "vid").distinct()
    }
  }

  /** Residual-encoding IVF-PQ top-k (the full FAISS IVFADC,
    * Jégou et al. TPAMI'11 §IV): instead of PQ-coding raw vectors, each
    * vector is coded as its RESIDUAL against its coarse-list centroid —
    * residual magnitudes are a fraction of vector magnitudes, so the
    * same 8×16 code budget spends its precision on the part the coarse
    * quantizer didn't explain, tightening ADC estimates over the
    * raw-vector composite ([[ivfCandidates]]+[[pqTopK]]).
    *
    * Stages, all deterministic (round(·,6) before every rank, id
    * tie-breaks) so the DuckDB oracle replays them bit-for-bit:
    *  1. coarse assign: nearest of `nlist` seed centroids by
    *     round(L2²,6), cid tie-break (the [[ivfCandidates]] rule);
    *  2. residual r = v − centroid(assign(v)), element-wise in double
    *     (float−float is exact in double — no rounding needed);
    *  3. PQ codebook Lloyd-TRAINED ON THE RESIDUALS
    *     ([[pqCodebookTrained]] composition) and codes via
    *     [[pqEncode]];
    *  4. query side: probe the `nprobe` closest lists; PER PROBED LIST
    *     build the LUT from the QUERY'S residual against that list's
    *     centroid (the LUT is (qid, cid)-keyed — queries×nprobe×m×k
    *     rows, broadcast-sized);
    *  5. ADC = Σ lut[(qid, cid, sub, code)] over a candidate's codes,
    *     candidates = probed-list co-membership, rank on round(Σ,6)
    *     with vid tie-break.
    *
    * Scale shape: identical to the raw composite — codes + a constant
    * codebook move, raw vectors never shuffle, candidate volume is
    * ~nprobe/nlist of the corpus — plus one broadcast-sized LUT join
    * keyed by (qid, cid). The residual step itself is one broadcast
    * join against the nlist centroids, shuffle-free. Output
    * (qid, rn, vid, adr). */
  def ivfpqResidualTopK(vecs: DataFrame, queries: DataFrame,
                        nlist: Int = 32, nprobe: Int = 4,
                        m: Int = 8, subDim: Int = 8, k: Int = 16,
                        iters: Int = 2, topK: Int = 10)
                       (implicit scope: CacheScope): DataFrame = {
    import graft.functions.VectorExprs.vec_l2sq
    val cents = vecs.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // cached: the coarse assignment feeds BOTH the residual corpus and
    // the candidate join — uncached, the nlist-way argmin crossJoin
    // re-runs over the corpus twice
    val assign = scope.cached(
      vecs.select(col("vec_id").as("vid"), col("embedding").as("ve"))
        .crossJoin(broadcast(cents))
        .withColumn("d2c", round(vec_l2sq(col("ve"), col("ce")), 6))
        .groupBy("vid").agg(min(struct(col("d2c"), col("cid"))).as("b"))
        .select(col("vid"), col("b.cid").as("cid")))
    // residual corpus, shaped (vec_id, embedding) so the PQ machinery
    // composes unchanged; cached — codebook training and encode both
    // read it, and each would otherwise rebuild assignment + residuals
    val res = scope.cached(assign
      .join(vecs.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid")
      .join(broadcast(cents), "cid")
      .select(col("vid").as("vec_id"), col("cid"),
        expr("zip_with(ve, ce, (a, b) -> cast(a as double) - cast(b as double))")
          .as("embedding")))
    // cached: the k·m-row codebook is tiny, but its BUILD is the
    // Lloyd-iteration chain — encode and the LUT both consume it
    val cb = scope.cached(pqCodebookTrained(res, m, subDim, k, iters))
    val codes = pqEncode(res, cb, m, subDim)
    val wProbe = Window.partitionBy("qid").orderBy(col("d2c").asc, col("cid").asc)
    val probes = queries.select(col("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("d2c", round(vec_l2sq(col("qe"), col("ce")), 6))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid"), col("qe"), col("ce"))
    // per-(query, probed list) residual LUT against the residual codebook
    val qsub = probes
      .withColumn("qr",
        expr("zip_with(qe, ce, (a, b) -> cast(a as double) - cast(b as double))"))
      .select(col("qid"), col("cid"),
        explode(array((0 until m).map(s0 => struct(lit(s0).as("sub"),
          expr(s"slice(qr, ${s0 * subDim + 1}, $subDim)").as("qsv"))): _*)).as("x"))
      .select(col("qid"), col("cid"), col("x.sub").as("sub"), col("x.qsv").as("qsv"))
    val lut = qsub
      .join(broadcast(cb.select(col("sub"), col("cid").as("code"), col("cv"))), "sub")
      .withColumn("qd2", vec_l2sq(col("qsv"), col("cv")))
      .select(col("qid"), col("cid"), col("sub"), col("code"), col("qd2"))
    // a vector lives in exactly one list, so probed-list co-membership
    // already yields distinct (qid, vid) pairs — no dedup needed
    val cand = probes.select(col("qid"), col("cid"))
      .join(assign, "cid")
      .filter(col("vid") =!= col("qid"))
    val w = Window.partitionBy("qid").orderBy(col("adr").asc, col("vid").asc)
    cand
      .join(codes.select(col("vec_id").as("vid"), col("sub"), col("code")), "vid")
      .join(broadcast(lut), Seq("qid", "cid", "sub", "code"))
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("qd2")), 6).as("adr"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("qid", "rn", "vid", "adr")
  }

  /** INCREMENTAL index maintenance — the vector-side analogue of
    * [[bloomIncrementalDedup]]'s batch-vs-corpus shape: a production
    * ANN index is not rebuilt per ingest batch; new vectors are
    * ASSIGNED into the existing inverted lists and residual-coded with
    * the FROZEN trained codebook, and a drift statistic decides when a
    * re-train is actually due (FAISS `add` vs `train` split).
    *
    * Frozen state = the `nlist` seed centroids + the Lloyd-trained
    * residual codebook from `train` (both deterministic —
    * [[ivfpqResidualTopK]]'s exact rules, so batch codes are
    * bit-identical to what a full rebuild over train∪batch would
    * assign THOSE vectors given the same centroids; what a rebuild
    * would change is only the codebook, which is precisely the
    * re-train the drift signal gates). Per new vector: coarse assign
    * by round(L2²,6) with cid tie-break, residual against the list
    * centroid, per-subspace code by the frozen codebook, emitted as a
    * positional checksum (Σ code·16^sub — flat-output contract).
    *
    * Drift = mean distance-to-centroid of the batch over the same
    * mean for the training corpus, both under the frozen centroids,
    * means as DECIMAL(18,6) sums over the rounded per-vector
    * distances (cross-engine exact). A ratio near 1 says the batch
    * lives where the index was trained; a climbing ratio says the
    * coarse quantizer no longer explains the data — re-train.
    *
    * Scale shape: one broadcast argmin + one broadcast codebook join
    * over the BATCH (batch-sized, the cheap path that runs per
    * ingest); the train side contributes the frozen state build (paid
    * once, amortized across batches — here rebuilt because the oracle
    * query is self-contained) and a batch-independent 1-row mean.
    * Raw vectors never shuffle; only codes and 1-row aggregates do.
    * Output (vec_id, cid, d2c, code_sum, drift) for the batch.
    */
  def ivfpqIncremental(train: DataFrame, batch: DataFrame,
                       nlist: Int = 32, m: Int = 8, subDim: Int = 8,
                       k: Int = 16, iters: Int = 2)
                      (implicit scope: CacheScope): DataFrame = {
    // ONE spelling of the assignment / residual / decimal-mean logic
    // lives in assignCents/residualsAgainst/d2cMean — the stored-state
    // overloads below are spec-pinned bit-identical to this path, an
    // identity that must be structural, not hand-synchronized.
    val cents = seedCents(train, nlist)
    // frozen state: train assignment (cached — codebook build + drift
    // mean both read it) and the residual-trained codebook
    val tAssign = scope.cached(assignCents(train, cents))
    val cb = scope.cached(pqCodebookTrained(
      residualsAgainst(train, tAssign, cents), m, subDim, k, iters))
    // the per-batch path: assign, residual-encode, checksum; the
    // DECIMAL(18,6) drift mean is bit-stable under any summation order
    val bAssign = scope.cached(assignCents(batch, cents))
    val drift = tAssign.agg(d2cMean(col("d2c")).as("t_mean"))
      .crossJoin(bAssign.agg(d2cMean(col("d2c")).as("b_mean")))
      .select(round(col("b_mean") / col("t_mean"), 6).as("drift"))
    codesJoin(QuantizerState(cents, cb), batch, bAssign, m, subDim)
      .crossJoin(broadcast(drift))
      .select(col("vid").as("vec_id"), col("cid"), col("d2c"),
        col("code_sum"), col("drift"))
  }

  /** Lloyd-trained COARSE centroids in L2 — the retrain arm of
    * [[retrainIfDrifted]], and the coarse-quantizer analogue of
    * [[pqCodebookTrained]]: init = the first `nlist` vec_ids (the
    * deterministic seed every IVF build here uses), then `iters`
    * rounds of assignment by round(L2², 6) with cid tie-break and
    * per-dimension round-6 AVG centroid updates — the
    * l3_ann_ivf_kmeans determinism discipline in L2, so an engine
    * replay (or the DuckDB oracle) reproduces the centroids
    * bit-for-bit; a centroid that loses every member drops out on
    * both sides identically.
    *
    * Scale shape: per iteration one broadcast crossJoin against the
    * nlist-sized centroid table (n·nlist native-kernel rows, argmin
    * partial-aggregated to one row per vector) plus one
    * nlist·dim-sized update aggregate — centroids stay
    * broadcast-sized, the corpus never shuffles raw vectors. Output
    * (cid, ce ARRAY<double>). */
  def kmeansCentroidsL2(vecs: DataFrame, nlist: Int = 32, iters: Int = 2)
                       (implicit scope: CacheScope): DataFrame = {
    require(nlist >= 1, s"nlist must be >= 1 (got $nlist)")
    import graft.functions.VectorExprs.vec_l2sq
    val v = scope.cached(vecs.select(col("vec_id"),
      expr("transform(embedding, e -> cast(e as double))").as("_ve")))
    val init = v.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("long").as("cid"), col("_ve").as("ce"))
    (1 to iters).foldLeft(init) { (cents, _) =>
      val assign = v.crossJoin(broadcast(cents))
        .withColumn("_d2c", round(vec_l2sq(col("_ve"), col("ce")), 6))
        .groupBy("vec_id").agg(min(struct(col("_d2c"), col("cid"))).as("b"))
        .select(col("vec_id"), col("b.cid").as("cid"))
      assign.join(v, "vec_id")
        .select(col("cid"), posexplode(col("_ve")).as(Seq("d", "x")))
        .groupBy("cid", "d").agg(round(avg(col("x")), 6).as("cv"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("d"), col("cv")))).as("a"))
        .select(col("cid"), expr("transform(a, p -> p.cv)").as("ce"))
    }
  }

  /** The QUANTIZER-lifecycle trigger — [[Layout.reclusterIfDeep]] /
    * [[compactIfDegreeHigh]]'s discipline applied to the one
    * maintained artifact whose staleness previously only grew: the
    * frozen IVF-PQ quantizer. [[ivfpqIncremental]] measures the drift
    * ratio (batch mean distance-to-centroid over train mean, both
    * DECIMAL-summed over round-6 distances) but never acts; this
    * probes that SAME ratio (one driver-side action of the
    * convergence-probe class) and:
    *
    *  - drift <= `driftThreshold`: the FROZEN index passes through
    *    untouched — the result IS [[ivfpqIncremental]] (batch rows
    *    assigned into the existing lists, coded with the frozen
    *    codebook; no re-scoring of stored vectors is planned);
    *  - drift > `driftThreshold`: full RE-TRAIN on the CURRENT corpus
    *    (train ∪ batch): [[kmeansCentroidsL2]] re-trains the coarse
    *    centroids (`iters` Lloyd rounds from the deterministic
    *    first-`nlist` init), EVERY vector re-assigns, the residual
    *    codebook re-trains ([[pqCodebookTrained]]) and every vector
    *    re-encodes — the retrained index equals a from-scratch build
    *    over the grown corpus (CorpusOpsSpec pins it).
    *
    * Output rows carry (vec_id, cid, d2c, code_sum, drift) — batch
    * rows only on the frozen path (stored rows are unchanged by
    * definition), ALL rows after a retrain (everything re-encoded);
    * `drift` is always the measured frozen-quantizer ratio that
    * gated the decision. An empty batch never triggers. Schedule it
    * per ingest commit — the streaming TCK derives the same decision
    * from the same stored snapshot on replay. */
  def retrainIfDrifted(train: DataFrame, batch: DataFrame,
                       driftThreshold: Double,
                       nlist: Int = 32, m: Int = 8, subDim: Int = 8,
                       k: Int = 16, iters: Int = 2)
                      (implicit scope: CacheScope): (DataFrame, Boolean) = {
    require(driftThreshold > 0,
      s"driftThreshold must be positive (got $driftThreshold)")
    val cents = seedCents(train, nlist)
    // the gate probe: ONE driver action over two assignment means —
    // the identical DECIMAL-exact ratio ivfpqIncremental reports
    val driftRow = assignCents(train, cents).agg(d2cMean(col("d2c")).as("_t"))
      .crossJoin(assignCents(batch, cents).agg(d2cMean(col("d2c")).as("_b")))
      .select(round(col("_b") / col("_t"), 6).as("drift")).head()
    val drifted = !driftRow.isNullAt(0) && driftRow.getDouble(0) > driftThreshold
    if (!drifted)
      (ivfpqIncremental(train, batch, nlist, m, subDim, k, iters), false)
    else {
      val drift = driftRow.getDouble(0)
      val all = scope.cached(train.select("vec_id", "embedding")
        .unionByName(batch.select("vec_id", "embedding")))
      val (full, _) = retrainOver(all, drift, nlist, m, subDim, k, iters)
      (full, true)
    }
  }

  /** The shared RETRAIN arm: Lloyd coarse re-train over `all`, ONE
    * cached full assignment feeding BOTH the residual-codebook train
    * and the re-encode (the assignment is the corpus-sized term —
    * computing it twice doubled the retrain's dominant cost), full
    * index rows with the measured `drift` stamped on. Returns
    * (index, new state). */
  private def retrainOver(all: DataFrame, drift: Double,
                          nlist: Int, m: Int, subDim: Int,
                          k: Int, iters: Int)
                         (implicit scope: CacheScope)
                         : (DataFrame, QuantizerState) = {
    val newCents = scope.cached(kmeansCentroidsL2(all, nlist, iters))
    val aAssign = scope.cached(assignCents(all, newCents))
    val cb = scope.cached(pqCodebookTrained(
      residualsAgainst(all, aAssign, newCents), m, subDim, k, iters))
    val newState = QuantizerState(newCents, cb)
    (codesJoin(newState, all, aAssign, m, subDim)
      .select(col("vid").as("vec_id"), col("cid"), col("d2c"),
        col("code_sum"), lit(drift).as("drift")), newState)
  }

  /** The frozen IVF-PQ quantizer as a FIRST-CLASS STORED ARTIFACT —
    * the FAISS train/add split made explicit: `cents` (cid,
    * ce ARRAY<double>; nlist rows) and `codebook` (sub, cid,
    * cv ARRAY<double>; m·k rows), both broadcast-sized, both
    * persistable as plain parquet members of a versioned snapshot
    * (the [[CorpusArtifacts]] bundle lesson applied to the quantizer).
    * [[ivfpqIncremental]]/[[retrainIfDrifted]] re-derive this state
    * from the raw train corpus on EVERY call — self-contained by
    * convention for the oracle query, but corpus-sized per invocation;
    * the `*Stored` overloads below consume it frozen instead, so a
    * below-gate ingest batch costs batch·nlist assignment + batch·m·k
    * encoding and NOTHING corpus-sized. */
  final case class QuantizerState(cents: DataFrame, codebook: DataFrame)

  /** The deterministic coarse seed every IVF build in this family
    * uses: the raw vectors of the first `nlist` vec_ids. */
  private def seedCents(train: DataFrame, nlist: Int): DataFrame =
    train.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"),
        expr("transform(embedding, e -> cast(e as double))").as("ce"))

  private def assignCents(v: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorExprs.vec_l2sq
    v.select(col("vec_id").as("vid"), col("embedding").as("_ve"))
      .crossJoin(broadcast(cents))
      .withColumn("d2c", round(vec_l2sq(col("_ve"), col("ce")), 6))
      .groupBy("vid").agg(min(struct(col("d2c"), col("cid"))).as("b"))
      .select(col("vid"), col("b.cid").as("cid"), col("b.d2c").as("d2c"))
  }

  private def residualsAgainst(v: DataFrame, assign: DataFrame,
                               cents: DataFrame): DataFrame =
    assign
      .join(v.select(col("vec_id").as("vid"), col("embedding").as("_ve")), "vid")
      .join(broadcast(cents), "cid")
      .select(col("vid").as("vec_id"),
        expr("zip_with(_ve, ce, (a, b) -> cast(a as double) - cast(b as double))")
          .as("embedding"))

  /** DECIMAL(18,6) mean over round-6 distances — bit-stable under any
    * summation order, so replay / stored-aggregate re-derivation lands
    * the same double. */
  private def d2cMean(c: Column): Column =
    (sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")
      / count(lit(1)))

  /** Residual-encode `vecs` (already assigned as `asg`) against the
    * frozen state and join the positional code checksums back on —
    * (vid, cid, d2c, code_sum), the shared tail of every encode
    * path. */
  private def codesJoin(state: QuantizerState, vecs: DataFrame,
                        asg: DataFrame, m: Int, subDim: Int): DataFrame = {
    val codes = pqEncode(residualsAgainst(vecs, asg, state.cents),
        state.codebook, m, subDim)
      .groupBy("vec_id")
      .agg(sum(expr("code * cast(pow(16, sub) as bigint)")).as("code_sum"))
    asg.join(codes, asg("vid") === codes("vec_id"))
      .select(col("vid"), col("cid"), col("d2c"), col("code_sum"))
  }

  /** Train a [[QuantizerState]] around EXPLICIT coarse centroids:
    * one full assignment pass + one Lloyd codebook train over the
    * residuals — the retrain arm's state derivation, also reused with
    * the deterministic seed by [[trainQuantizer]]. Paid ONCE, at train
    * or re-train time; every ingest batch after consumes the result
    * frozen. */
  def trainQuantizerWith(cents: DataFrame, corpus: DataFrame,
                         m: Int = 8, subDim: Int = 8,
                         k: Int = 16, iters: Int = 2)
                        (implicit scope: CacheScope): QuantizerState = {
    val cs = scope.cached(cents)
    val asg = scope.cached(assignCents(corpus, cs))
    QuantizerState(cs, scope.cached(
      pqCodebookTrained(residualsAgainst(corpus, asg, cs), m, subDim, k, iters)))
  }

  /** Train a [[QuantizerState]] from the deterministic first-`nlist`
    * seed — bit-identical to the frozen state [[ivfpqIncremental]]
    * re-derives internally (CorpusOpsSpec pins it), but built once and
    * handed back for persistence. */
  def trainQuantizer(train: DataFrame, nlist: Int = 32,
                     m: Int = 8, subDim: Int = 8,
                     k: Int = 16, iters: Int = 2)
                    (implicit scope: CacheScope): QuantizerState =
    trainQuantizerWith(seedCents(train, nlist), train, m, subDim, k, iters)

  /** Full index build against a frozen state: assign + residual-encode
    * EVERY vector of `vecs` — the one corpus-sized pass, paid at
    * train/re-train time. Output (vec_id, cid, d2c, code_sum); the
    * persisted `d2c` column is what makes every later drift probe a
    * stored-column aggregate instead of a re-scoring pass. */
  def ivfpqEncodeAll(state: QuantizerState, vecs: DataFrame,
                     m: Int = 8, subDim: Int = 8)
                    (implicit scope: CacheScope): DataFrame =
    codesJoin(state, vecs, scope.cached(assignCents(vecs, state.cents)),
        m, subDim)
      .select(col("vid").as("vec_id"), col("cid"), col("d2c"), col("code_sum"))

  /** The below-gate ingest path with the per-batch corpus rebuild
    * KILLED: assign `batch` against the stored `state.cents`, encode
    * against the stored `state.codebook`, and read the train-side
    * drift denominator from `storedIndex`'s PERSISTED `d2c` column —
    * one narrow-column aggregate over already-stored index rows, never
    * a re-scoring of stored vectors (which this method cannot even
    * reference: they are not a parameter). Given a state trained on
    * `train` and a stored index covering it, the output is
    * bit-identical to `ivfpqIncremental(train, batch)` (CorpusOpsSpec
    * pins it); the cost is batch-bounded where that path was
    * corpus-bounded. Output (vec_id, cid, d2c, code_sum, drift),
    * batch rows only. */
  def ivfpqEncodeStored(state: QuantizerState, storedIndex: DataFrame,
                        batch: DataFrame, m: Int = 8, subDim: Int = 8)
                       (implicit scope: CacheScope): DataFrame = {
    val bAssign = scope.cached(assignCents(batch, state.cents))
    val drift = storedIndex.agg(d2cMean(col("d2c")).as("t_mean"))
      .crossJoin(bAssign.agg(d2cMean(col("d2c")).as("b_mean")))
      .select(round(col("b_mean") / col("t_mean"), 6).as("drift"))
    codesJoin(state, batch, bAssign, m, subDim)
      .crossJoin(broadcast(drift))
      .select(col("vid").as("vec_id"), col("cid"), col("d2c"),
        col("code_sum"), col("drift"))
  }

  /** [[retrainIfDrifted]] over STORED quantizer state — the lifecycle
    * loop with the right cost shape at last. The gate probe is
    * batch·nlist scoring plus a stored-column aggregate (the same
    * DECIMAL-exact ratio as before — `storedIndex.d2c` IS the train
    * assignment, persisted); below the gate the commit touches ONLY
    * the batch ([[ivfpqEncodeStored]] — `storedVecs` is lazily unread,
    * spec-pinned with a poisoned stored-vector table); above it the
    * full re-train runs over `storedVecs` ∪ `batch` exactly as
    * [[retrainIfDrifted]]'s retrain arm (corpus-sized by necessity —
    * that is what a re-train IS) and the NEW state comes back for the
    * caller to persist alongside the index. Returns (index rows,
    * retrained?, state-to-persist): batch rows + the unchanged input
    * state on the frozen path, all rows + the retrained state past the
    * gate. An empty batch (NULL drift ratio) never triggers. */
  def retrainIfDriftedStored(state: QuantizerState, storedIndex: DataFrame,
                             storedVecs: DataFrame, batch: DataFrame,
                             driftThreshold: Double,
                             nlist: Int = 32, m: Int = 8, subDim: Int = 8,
                             k: Int = 16, iters: Int = 2)
                            (implicit scope: CacheScope)
                            : (DataFrame, Boolean, QuantizerState) = {
    require(driftThreshold > 0,
      s"driftThreshold must be positive (got $driftThreshold)")
    val bAssign = scope.cached(assignCents(batch, state.cents))
    val driftRow = storedIndex.agg(d2cMean(col("d2c")).as("_t"))
      .crossJoin(bAssign.agg(d2cMean(col("d2c")).as("_b")))
      .select(round(col("_b") / col("_t"), 6).as("drift")).head()
    val drifted = !driftRow.isNullAt(0) && driftRow.getDouble(0) > driftThreshold
    if (!drifted) {
      // the gate ALREADY paid the stored-index d2c aggregate — inject
      // its measured value instead of re-planning the identical
      // aggregate inside the commit (it is the one corpus-row-sized
      // term of the frozen path; paying it twice per batch is exactly
      // the cost shape this overload exists to kill). NULL ratio
      // (empty batch) stamps NULL, as the in-plan spelling would.
      val driftLit =
        if (driftRow.isNullAt(0)) lit(null).cast("double")
        else lit(driftRow.getDouble(0))
      (codesJoin(state, batch, bAssign, m, subDim)
        .select(col("vid").as("vec_id"), col("cid"), col("d2c"),
          col("code_sum"), driftLit.as("drift")), false, state)
    } else {
      val all = scope.cached(storedVecs.select("vec_id", "embedding")
        .unionByName(batch.select("vec_id", "embedding")))
      val (full, newState) = retrainOver(all, driftRow.getDouble(0),
        nlist, m, subDim, k, iters)
      (full, true, newState)
    }
  }

  /** FILTERED ANN search — "top-k among vectors WHERE <metadata
    * predicate>", the retrieval shape every production vector store
    * serves (FAISS `IDSelector`, pgvector's WHERE, Milvus scalar
    * filtering): the predicate's survivor KEYS semi-join the IVF probe
    * candidates BEFORE any scoring, so the exact cosine re-rank
    * touches only allowed candidates. The composition order is the
    * point — score-then-post-filter returns FEWER than k rows
    * whenever the filter bites inside the top-k, and filtering the
    * corpus before indexing would need an index per predicate.
    *
    * Recall caveat (documented; QueriesSpec's filtered-ANN recall test
    * pins the floor): with a selective filter the nprobe probed lists
    * may hold fewer than k survivors — recall is measured against the
    * FILTERED brute force, and a production deployment raises nprobe
    * as selectivity grows (the FAISS guidance for selector searches).
    *
    * Scale shape: `allowed` is a (vec_id) key set — it moves as a
    * semi-join build side, never the vectors; candidates stay
    * ~nprobe/nlist of the corpus and only shrink under the filter;
    * the re-rank is candidate-bounded exact cosine ([[refine]]).
    * Output (qid, rn, vid, simr) ranked on round(cos, 6), vid
    * tie-break. */
  def ivfFilteredTopK(vecs: DataFrame, queries: DataFrame,
                      allowed: DataFrame,
                      nlist: Int = 32, nprobe: Int = 4,
                      topK: Int = 10): DataFrame =
    refine(
      ivfCandidates(vecs, queries, nlist, nprobe)
        .join(allowed.select(col("vec_id").as("vid")), Seq("vid"), "left_semi"),
      vecs, queries, topK)

  /** Reciprocal-rank FUSION (RRF — Cormack, Clarke & Buettcher,
    * SIGIR'09): the standard hybrid-retrieval composition (BM25 +
    * vector, the RAG default) that needs no score calibration — each
    * ranking contributes 1/(k + rank) per item and the sums re-rank.
    * Contributions here are EXACT INTEGERS, floor(10^12 / (k + rank))
    * summed as BIGINT, so the fused ordering is bit-stable across
    * engines and partitionings (a double 1/(60+r) sum would invite
    * reassociation ulps into tie territory); ties break on id.
    *
    * Scale shape: inputs are top-N lists — already retrieval-bounded
    * (N·|rankings| rows), so the fusion is a metadata-sized union +
    * one tiny aggregate; the heavy lifting stays in the per-modality
    * retrievers. Input: each DataFrame (id, rank) with rank >= 1.
    * Output (rnk, id, rrf, n_lists) — rrf in the 10^12 integer scale,
    * n_lists = how many rankings surfaced the id (the agreement
    * signal RRF rewards). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 0, s"RRF constant must be non-negative (got $k)")
    val contribs = rankings.map(_.select(col("id"),
      expr(s"1000000000000 div ($k + `rank`)").as("c")))
    val w = Window.orderBy(col("rrf").desc, col("id").asc)
    contribs.reduce(_.unionByName(_))
      .groupBy("id").agg(sum(col("c")).as("rrf"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf").desc, col("id").asc).limit(topK)
      .withColumn("rnk", row_number().over(w))
      .select("rnk", "id", "rrf", "n_lists").orderBy("rnk")
  }

  /** Exact re-rank refine — the recall-restoring final hop every
    * production ANN serves (FAISS IndexRefine): take the top-R
    * candidate set from ANY index (R·|queries| rows — candidate-
    * bounded by construction), re-score each candidate with EXACT
    * cosine on the raw vectors, emit the top `topK`. The index's only
    * job becomes "don't miss" (coverage at R), and the refine fixes
    * the ordering — approximation error survives only when a true
    * neighbor is missing from all R candidates.
    *
    * Scale shape: the corpus-sized side is touched once, by the
    * (R·queries)-row candidate join on vid; the query side broadcasts.
    * Rank on round(cos,6) desc with vid tie-break — composes with any
    * candidate source that emits (qid, vid). */
  def refine(candidates: DataFrame, vecs: DataFrame, queries: DataFrame,
             topK: Int = 10): DataFrame =
    topPerQuery(candidates.select("qid", "vid").distinct()
      .join(vecs.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid")
      .join(broadcast(queries.select(col("qid"), col("embedding").as("qe"))), "qid")
      .filter(col("vid") =!= col("qid"))
      .withColumn("simr", round(vec_cos(col("qe"), col("ve")), 6)), topK)

  // ---- the LSH banding kit: one spelling of the near-dup family's
  // banding (l2_minhash_lsh, l2_minhash_estimate, l2_lsh_sweep,
  // l2_simhash, l5_binary_neardup and the streaming IngestDedup). A
  // MinHash band is keyed by (band, bsig) from the native
  // `minhash_bands` kernel in batch and stream alike; the DuckDB
  // oracles spell their own banding and never call the kit. ----

  /** Per-doc MinHash signatures (doc_id, arr, sig, sz): `arr` the doc's
    * distinct 60-bit word-3-gram hashes (`shingle_sha60`), `sig` its 64
    * minima (`minhash_sig`), `sz` = |arr|. Row-local — no shuffle. */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), ShingleExprs.shingle_sha60(col("text")).as("arr"))
      .withColumn("sig", MinHashExprs.minhash_sig(col("arr")))
      .withColumn("sz", size(col("arr")))

  /** One row per (doc, band): every column of `df` but `sig`, then
    * (band, bsig) from `minhash_bands(sig, nBands, rowsPerBand)`. The
    * signature is the `sig` column unless given as an expression (the
    * stream passes its kernel call, so no column is projected for it).
    * A null signature (null body) keys every band by an EMPTY bsig:
    * null-body docs share one bucket per band and never meet a real
    * signature. */
  private[graft] def lshBands(df: DataFrame, nBands: Int, rowsPerBand: Int,
                              sig: Column = col("sig")): DataFrame = {
    val keep = df.columns.filter(_ != "sig").map(col)
    val nullSigBands = ColumnBridge.column(Literal(
      new GenericArrayData(Array.tabulate[Any](nBands)(b => InternalRow(b, Array.emptyByteArray))),
      MinHashBands.dataType))
    val bands = coalesce(MinHashExprs.minhash_bands(sig, nBands, rowsPerBand), nullSigBands)
    df.select(keep :+ explode(bands).as("bk"): _*)
      .select(keep :+ col("bk.band").as("band") :+ col("bk.bsig").as("bsig"): _*)
  }

  /** Distinct candidate pairs (d1 < d2) sharing a (band, bsig) bucket
    * of [[lshBands]] output. `pairFilter` is an extra join condition
    * over the two sides aliased `x` and `y` (e.g. a length filter). */
  private[graft] def lshCandidates(bands: DataFrame, pairFilter: Column = lit(true)): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
        col("x.doc_id") < col("y.doc_id") && pairFilter)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()

  /** SimHash pairs within the banding's guaranteed radius: `sigs` holds
    * (id, sig) rows by POSITION (60-bit signatures), `n` the corpus
    * size. k = ⌈60 / w⌉ chunks of w bits guarantee (pigeonhole) that
    * every pair with hamming <= k − 1 shares a chunk. The width is
    * SCALE-PARAMETERIZED: w = max(6, ⌈log2((n + 511) / 512)⌉) keeps
    * expected bucket occupancy ~512 docs, so background candidates
    * stay ~k·n·512/2 — linear in n — instead of the k·n²/2^(w+1) a
    * fixed width degenerates to (docs/PERF.md). The price at huge n is
    * a narrower radius (Manku et al. WWW'07 run 64-bit fingerprints at
    * radius 3): pairs are emitted at hamming <= min(9, k − 1) — 9 for
    * n <= 32768 (w = 6, k = 10), 6 at n = 262144 (w = 9, k = 7).
    * Returns (d1 < d2, hamming), the pair columns named by `pair` (the
    * binary cell's are m1, m2). */
  private[graft] def simhashPairs(sigs: DataFrame, n: Long,
                                  pair: (String, String) = ("d1", "d2")): DataFrame = {
    val Array(id, sig) = sigs.columns
    val w = math.max(6, ceilLog2((n + 511) / 512))
    val k = (60 + w - 1) / w
    val chunks = (0 until k).map(c => struct(
      lit(c).as("c"),
      shiftright(col(sig), c * w).bitwiseAND((1L << math.min(w, 60 - c * w)) - 1).as("v")))
    val bu = sigs.select(col(id), col(sig), explode(array(chunks: _*)).as("ck"))
      .select(col(id), col(sig), col("ck.c").as("c"), col("ck.v").as("v"))
    val (p1, p2) = pair
    bu.as("x").join(bu.as("y"), Seq("c", "v"))
      .filter(col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as(p1), col(s"x.$sig").as("s1"),
              col(s"y.$id").as(p2), col(s"y.$sig").as("s2"))
      .distinct()
      .select(col(p1), col(p2), expr("cast(bit_count(s1 ^ s2) as int)").as("hamming"))
      .filter(col("hamming") <= math.min(9, k - 1))
  }

  // ---- the cosine-IVF kit: one spelling of the IVF-over-cosine steps
  // the embedding family shares (l3_ann_ivf, l3_nprobe_sweep, the kNN
  // graph build, l3_ann_delete, the cluster sample, the cascade bundle).
  // Every rank is on round(cos, 6) with an id tie-break, so the DuckDB
  // oracles — which spell the same steps independently — replay each
  // one bit-for-bit. Vector tables are (id, vector) by POSITION: the
  // first two columns, whatever their names. ----

  /** The first two columns of `df` renamed to (`id`, `vec`). */
  private def idVec(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(df.columns.head).as(id), col(df.columns(1)).as(vec))

  /** The deterministic seed quantizer: the first max(32, ⌈√n⌉)
    * vectors of `vecs` (vec_id, embedding) as centroids (cid,
    * embedding). The list count scales with the corpus — a fixed
    * count would make probe-list candidates quadratic — and is derived
    * ACTION-FREE, as a broadcast 1-row aggregate the id filter joins
    * against. */
  private[graft] def sqrtSeedCents(vecs: DataFrame): DataFrame = {
    val nlist = broadcast(vecs.agg(
      greatest(lit(32L), ceil(sqrt(count(lit(1)))).cast("long")).as("nlist")))
    vecs.crossJoin(nlist).filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("embedding"))
  }

  /** Each vector's top-`probeK` cells: (vid, cid, rn), ranked by
    * round(cos(vector, centroid), 6) desc, cid asc — rn = 1 is the
    * vector's assignment, rn <= probeK its probe list. One crossJoin
    * against the broadcast centroid table (nlist rows); exactly
    * min(probeK, nlist) rows per vector. */
  private[graft] def cosineCells(vecs: DataFrame, cents: DataFrame,
                                 probeK: Int): DataFrame = {
    val w = Window.partitionBy("vid").orderBy(col("simr").desc, col("cid").asc)
    idVec(vecs, "vid", "ve")
      .crossJoin(broadcast(idVec(cents, "cid", "qe")))
      .withColumn("simr", round(vec_cos(col("qe"), col("ve")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= probeK)
      .select("vid", "cid", "rn")
  }

  /** Probe-list candidates scored exactly: every (qid, vid) where a
    * cell in qid's probe list (`probes` (qid, cid)) holds vid
    * (`assign` (vid, cid)), minus qid itself, with simr =
    * round(cos, 6) over `vecs`. One row per pair as long as `probes`
    * lists each cell once per qid and `assign` gives each vid one
    * cell — the shapes [[cosineCells]] produces. */
  private[graft] def cellScores(probes: DataFrame, assign: DataFrame,
                                vecs: DataFrame): DataFrame =
    probes.join(assign, "cid").filter(col("vid") =!= col("qid"))
      .select("qid", "vid")
      .join(idVec(vecs, "qid", "_qe"), "qid")
      .join(idVec(vecs, "vid", "_ve"), "vid")
      .select(col("qid"), col("vid"),
        round(vec_cos(col("_qe"), col("_ve")), 6).as("simr"))

  /** The top `k` of each qid's scored candidates: (qid, rn, vid,
    * simr), ranked by simr desc, vid asc. */
  private[graft] def topPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("simr").desc, col("vid").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "rn", "vid", "simr")
  }

  /** Build a top-`annK` index over `vecs` with the frozen quantizer
    * `cents`: probe lists = each vector's top-`probeK` cells,
    * assignments = its top cell, lists = the top `annK` of its
    * probe-list candidates. Returns (index (qid, rn, vid, simr),
    * probes (qid, cid), assign (vid, cid)); the cell table and the
    * index are cached — later maintenance reads them more than once. */
  private[graft] def annBuild(vecs: DataFrame, cents: DataFrame, annK: Int,
                              probeK: Int)(implicit scope: CacheScope)
      : (DataFrame, DataFrame, DataFrame) = {
    val cd = scope.cached(cosineCells(vecs, cents, probeK))
    val assign = cd.filter(col("rn") === 1).select("vid", "cid")
    val probes = cd.select(col("vid").as("qid"), col("cid"))
    (scope.cached(topPerQuery(cellScores(probes, assign, vecs), annK)), probes, assign)
  }

  /** Delete vectors from a stored top-`annK` index with a frozen
    * quantizer, exactly: deleted nodes' lists drop; AFFECTED
    * survivors (whose stored list holds a deleted id) re-rank over
    * their frozen probe lists joined to the SURVIVING assignments;
    * every other list passes through untouched (it lost no member,
    * and removing non-members cannot reorder it). `del` carries the
    * deleted ids in its first column; `index` (qid, rn, vid, simr),
    * `probes` (qid, cid), `assign` (vid, cid), `vecs` (id, vector).
    * Returns (index, probes, assignments) after the delete, all
    * uncached. Cost: one index-sized affected scan plus affected ×
    * posting re-scoring — never a rebuild. */
  private[graft] def annDeleteStep(del: DataFrame, index: DataFrame,
                                   probes: DataFrame, assign: DataFrame,
                                   vecs: DataFrame, annK: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val delQ = del.select(col(del.columns.head).as("qid"))
    val delV = del.select(col(del.columns.head).as("vid"))
    val affected = index.join(delV, Seq("vid"), "left_semi")
      .select("qid").distinct()
      .join(delQ, Seq("qid"), "left_anti")
    val kept = index.join(delQ, Seq("qid"), "left_anti")
      .join(affected, Seq("qid"), "left_anti")
    val survAssign = assign.join(delV, Seq("vid"), "left_anti")
    val rer = topPerQuery(cellScores(
      probes.join(affected, Seq("qid"), "left_semi"), survAssign, vecs), annK)
    (kept.unionByName(rer), probes.join(delQ, Seq("qid"), "left_anti"), survAssign)
  }

  /** Single-pass APPROXIMATE dataset profile — the 100 TB shape of
    * the l8_profile report: per column, exact row/null counts and a
    * numeric min/max envelope (string columns profile their lengths),
    * but distincts via `approx_count_distinct` (HLL++, `rsd`
    * relative error). The exact profile's 4 `countDistinct`s in one
    * aggregate compile to an Expand that multiplies every input row
    * ~6× inside the single shuffle; this variant's plan has NO Expand
    * (pinned in PlanContractSpec) — one genuinely single-pass,
    * partial-aggregatable shuffle whose combined state is a handful
    * of HLL sketches per column. Output
    * (column, n_rows, n_null, n_distinct_approx, mn, mx). */
  def profileApprox(df: DataFrame, numCols: Seq[String], strCols: Seq[String],
                    rsd: Double = 0.01): DataFrame = {
    def base(c: String) = Seq(
      count(col(c)).as(s"${c}_n"),
      count(when(col(c).isNull, 1)).as(s"${c}_nn"),
      approx_count_distinct(col(c), rsd).as(s"${c}_nd"))
    def num(c: String) = base(c) ++ Seq(
      min(col(c)).cast("double").as(s"${c}_mn"),
      max(col(c)).cast("double").as(s"${c}_mx"))
    def str(c: String) = base(c) ++ Seq(
      min(length(col(c))).cast("double").as(s"${c}_mn"),
      max(length(col(c))).cast("double").as(s"${c}_mx"))
    val cols = numCols ++ strCols
    val aggs = numCols.flatMap(num) ++ strCols.flatMap(str)
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"), col(s"${c}_n").as("n_rows"),
        col(s"${c}_nn").as("n_null"), col(s"${c}_nd").as("n_distinct_approx"),
        col(s"${c}_mn").as("mn"), col(s"${c}_mx").as("mx"))): _*)).as("p"))
      .select(col("p.column").as("column"), col("p.n_rows").as("n_rows"),
        col("p.n_null").as("n_null"),
        col("p.n_distinct_approx").as("n_distinct_approx"),
        round(col("p.mn"), 6).as("mn"), round(col("p.mx"), 6).as("mx"))
  }

  /** Symmetric int8 quantization of a vector column: per-vector
    * scale = round(max|x|/127, 6) — rounded BEFORE use so both engines
    * divide by the identical double — and values clamped to ±127.
    * Shuffle-free per-row map; the storage side of ANN at scale. */
  def quantizeInt8(vecs: DataFrame, vecCol: String = "embedding"): DataFrame =
    vecs
      .withColumn("scale", round(
        expr(s"array_max(transform($vecCol, x -> abs(cast(x as double))))") / 127.0, 6))
      .withColumn("q",
        expr(s"""transform($vecCol, x -> CASE WHEN scale = 0.0d THEN 0
                  ELSE cast(least(127.0d, greatest(-127.0d,
                         round(cast(x as double) / scale, 0))) as int) END)"""))

  /** TOP PRINCIPAL DIRECTION of an embedding corpus by distributed
    * power iteration — the first step of "All-but-the-Top" embedding
    * postprocessing (Mu & Viswanath 2018: subtract the mean, remove
    * the dominant direction(s)) and of any PCA-whitening prep.
    *
    * Never materializes the d×d covariance: each iteration computes
    * C·v as Σᵢ xᵢ(xᵢ·v)/n directly on the (vec_id, d, x) long layout —
    * two corpus-sized shuffles per round (a per-vector dot join + a
    * per-dimension weighted sum), both partial-aggregatable, nothing
    * driver-side. d is a schema constant, so the v table is d rows —
    * broadcast-sized at every corpus scale.
    *
    * Determinism contract (the PageRank discipline): the per-dim mean
    * uses the DECIMAL-exact sum (cast(x as decimal(18,6)), exact under
    * any aggregation order) over one IEEE division; every aggregated
    * double (dot products, weighted sums, the norm) rounds to `scale`
    * decimals BEFORE further use, so float reassociation drift and the
    * ≤1-ulp cross-engine sqrt both die at the round. Sign follows the
    * all-ones start vector. Returns (d, v) — `iters` power iterations,
    * not a convergence guarantee (fixed rounds = replayable oracle,
    * the q44 trade). */
  def topPrincipalDirection(vecs: DataFrame, iters: Int = 3, scale: Int = 9)
                           (implicit cscope: CacheScope): DataFrame =
    topPrincipalDirections(vecs, 1, iters, scale).drop("component")

  /** Top-`k` principal directions by power iteration with DEFLATION:
    * after each recovered direction the corpus is projected onto its
    * orthogonal complement (xs := xs − (xs·v)·v, row-local) and the
    * iteration repeats — the standard sequential eigendecomposition,
    * each deflation one cached corpus-sized map. Returns
    * (component ∈ 1..k, d, v) under [[topPrincipalDirection]]'s exact
    * determinism contract. k is small by construction (the
    * All-but-the-Top prescription removes a handful of directions);
    * cost is k × the single-direction rounds. */
  def topPrincipalDirections(vecs: DataFrame, k: Int, iters: Int = 3,
                             scale: Int = 9)
                            (implicit cscope: CacheScope): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(k >= 1, s"k must be >= 1 (got $k)")
    // vector-NATIVE layout: the corpus stays one array column; the
    // d-row direction rides each round as a broadcast 1-row array
    // (sort_array(collect_list(struct(d, v))) — deterministic order,
    // action-free). Per round the corpus is touched twice ROW-LOCALLY
    // (dot fold, per-dim contribution explode) but shuffles ONCE (the
    // d-key per-dim aggregate, map-side combined) — half the
    // exchanges of a d-keyed join formulation. Determinism is
    // STRICTER than order-insensitive-to-rounding: the dot product is
    // an in-array LEFT FOLD (a fixed summation order both engines
    // replay bit-for-bit — DuckDB's list_reduce computes the same
    // fold, since 0 + p1 == p1 exactly), and the per-dim / norm sums
    // run over per-term DECIMAL(28,12) casts — exact under ANY
    // aggregation order — so no aggregate anywhere depends on shuffle
    // order even at the last ulp.
    def asRow(dt: DataFrame, valCol: String): DataFrame =
      dt.agg(expr(s"transform(sort_array(collect_list(struct(d, $valCol))), p -> p.$valCol)").as("arr"))
    def dsum28(c: Column): Column =
      sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 12))).cast("double")
    val x = vecs.select(col("vec_id"),
      expr("transform(embedding, e -> cast(e as double))").as("xs"))
    // cached: the d-row mean seeds v0 once per COMPONENT — uncached,
    // every powerRounds call would re-run this corpus-sized aggregate
    val mean = cscope.cached(
      x.select(col("vec_id"), posexplode(col("xs")).as(Seq("d", "xd")))
        .groupBy("d").agg(
          (sum(col("xd").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1))).as("m")))
    val xc = cscope.cached(
      x.crossJoin(broadcast(asRow(mean, "m")))
        .select(col("vec_id"), expr("zip_with(xs, arr, (a, b) -> a - b)").as("xs")))
    def powerRounds(corpus: DataFrame): DataFrame = {
      // v0 = all-ones on the dimension table the mean already built —
      // NO driver action (the q44 action-free-construction rule); the
      // first iteration's normalization makes the start scale irrelevant
      var v = mean.select(col("d"), lit(1.0).as("v"))
      for (_ <- 1 to iters) {
        val dotted = corpus.crossJoin(broadcast(asRow(v, "v")))
          .select(col("xs"),
            round(expr("aggregate(zip_with(xs, arr, (a, b) -> a * b), 0d, (acc, p) -> acc + p)"),
              scale).as("dot"))
        val w = dotted.select(posexplode(col("xs")).as(Seq("d", "xd")), col("dot"))
          .groupBy("d").agg(round(dsum28(col("xd") * col("dot")), scale).as("w"))
        val n2 = w.agg(round(dsum28(col("w") * col("w")), scale).as("n2"))
        v = cscope.cached(w.crossJoin(broadcast(n2))
          .select(col("d"), round(col("w") / sqrt(col("n2")), scale).as("v")))
      }
      v
    }
    /** xs := xs − (xs·v)·v, row-local against the broadcast direction. */
    def deflate(corpus: DataFrame, v: DataFrame): DataFrame =
      cscope.cached(corpus.crossJoin(broadcast(asRow(v, "v")))
        .withColumn("dot",
          round(expr("aggregate(zip_with(xs, arr, (a, b) -> a * b), 0d, (acc, p) -> acc + p)"),
            scale))
        .select(col("vec_id"),
          expr("zip_with(xs, arr, (x, vv) -> x - dot * vv)").as("xs")))
    var cur = xc
    val comps = (1 to k).map { c =>
      val v = powerRounds(cur)
      if (c < k) cur = deflate(cur, v)
      v.withColumn("component", lit(c))
    }
    comps.reduce(_ unionByName _).select(col("component"), col("d"), col("v"))
  }

  /** EVERY maintained corpus artifact, bundled — the stored state the
    * cascade composites consume AND return. The round-14 positional
    * form took 12–14 `DataFrame` parameters, several schema-identical
    * (annProbes/annAssign both two-column id tables), so a swapped
    * pair compiled and ran wrong; the bundle makes that misuse
    * unrepresentable (the RangeSpec lesson applied to the API), and
    * because [[deleteDocuments]]/[[ingestDocuments]] return the FULL
    * post-batch bundle — auxiliaries included — consecutive batches
    * compose from stored state alone, no out-of-band re-derivation.
    *
    * Schemas (the conventions every consumer shares):
    *  - `exactAux` (h, doc_id) — content-hash membership;
    *  - `exactKeepers` (h, keeper, n_dups);
    *  - `clusters` (cluster_id, doc_id, cluster_size);
    *  - `pairs` (d1, d2, j) — the near-dup pair graph;
    *  - `annIndex` (qid, rn, vid, simr) — stored top-k lists;
    *  - `annProbes` (qid, cid) — frozen probe aux;
    *  - `annAssign` (vid, cid) — cell assignments;
    *  - `vectors` (vec_id, embedding);
    *  - `bm25Stats` (stat, k, v, cnt) — the maintained df/N/Σdl view. */
  final case class CorpusArtifacts(exactAux: DataFrame,
                                   exactKeepers: DataFrame,
                                   clusters: DataFrame,
                                   pairs: DataFrame,
                                   annIndex: DataFrame,
                                   annProbes: DataFrame,
                                   annAssign: DataFrame,
                                   vectors: DataFrame,
                                   bm25Stats: DataFrame)

  /** One corpus-wide cascade's result: the COMPLETE post-batch
    * [[CorpusArtifacts]] (each member equal to that artifact rebuilt
    * from the post-batch corpus — the per-family gates: q118
    * runner-ups for exact keepers, l2_incremental_clusters/_delete
    * for clusters, the l3_ann family for the index, l4_bm25_maintain
    * for the stats — and the auxiliaries the NEXT batch needs) plus
    * `funnel`, one accounting row per artifact: (k = artifact,
    * x = rows after, y = batch size applied). */
  final case class CascadeResult(artifacts: CorpusArtifacts,
                                 funnel: DataFrame)

  /** Signed BM25 statistics rows for `docs` — the l4_bm25_maintain
    * row convention: one ('len', '*', doc length) row per doc plus
    * one ('df', term, 1) row per DISTINCT catalog term the doc
    * contains, all stamped with multiplicity `mult`. Feeding the −1
    * image of a delete-bounded doc set into
    * [[TableOps.maintainAggCounted]] cancels exactly those docs'
    * contributions from the maintained df/N/Σdl view. */
  def bm25StatRows(docs: DataFrame, terms: Seq[String], mult: Int): DataFrame = {
    require(terms.nonEmpty, "bm25StatRows needs a term catalog")
    val ws = docs.withColumn("_ws", split(col("text"), " "))
    val dl = ws.select(lit("len").as("stat"), lit("*").as("k"),
      size(col("_ws")).cast("long").as("v"), lit(mult.toLong).as("_mult"))
    val df = ws.select(explode(
        expr(s"array_distinct(filter(_ws, w -> array_contains(${termArray(terms)}, w)))")).as("k"))
      .select(lit("df").as("stat"), col("k"), lit(1L).as("v"),
        lit(mult.toLong).as("_mult"))
    dl.unionByName(df)
  }

  // ---- the BM25 kit: one spelling of the l4_bm25 family's per-(doc,
  // term) rows and its scorer, so a fresh search (l4_bm25) and a
  // search over maintained state (l4_bm25_incremental) rank with the
  // same code. The oracles spell BM25 in SQL and never call the kit. ----

  /** The SQL array literal of a term catalog: array('a','b',...). */
  private def termArray(terms: Seq[String]): String =
    terms.map(w => s"'$w'").mkString("array(", ",", ")")

  /** (doc_id, term, tf, dl): one row per doc and catalog term it holds,
    * tf = occurrences, dl = the doc's word count (constant per doc, so
    * it rides the exploded hits — no corpus-keyed join back to a
    * doc-length table). The explode filters to the catalog at the scan,
    * so the one shuffle is candidate-bounded. tf and dl are linear:
    * signed copies maintain under [[TableOps.maintainAggCounted]]. */
  private[graft] def bm25TfRows(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
      .filter(expr(s"array_contains(${termArray(terms)}, term)"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** BM25 top-`k` (rnk, doc_id, score) — Okapi, Lucene form (the
    * (k1+1) numerator dropped as rank-equivalent; k1 = 1.2, b = 0.75)
    * — over `tf` ([[bm25TfRows]]), `df` (term, df) and the one-row
    * `stats` (n_docs, avgdl). Deterministic: idf and each per-(doc,
    * term) contribution round to 9 and sum EXACTLY as DECIMAL(18,9)
    * (libm ln ulps die at the round; no float reassociation in the
    * per-doc sum); the cut orders by the exact decimal score with a
    * doc_id tie-break and compiles to TakeOrderedAndProject. */
  private[graft] def bm25Top(tf: DataFrame, df: DataFrame, stats: DataFrame,
                             k: Int): DataFrame = {
    val scored = tf.join(df, "term").crossJoin(stats)
      .select(col("doc_id"),
        round(
          round(log(lit(1.0) +
            ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5))), 9) *
          (col("tf").cast("double") /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
              lit(0.75) * (col("dl").cast("double") / col("avgdl"))))), 9)
          .cast("decimal(18,9)").as("c"))
    val perDoc = scored.groupBy("doc_id").agg(sum(col("c")).as("sc"))
    val top = perDoc.orderBy(col("sc").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id"), round(col("sc").cast("double"), 6).as("score"))
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select("rnk", "doc_id", "score").orderBy("rnk")
  }

  /** Build the complete [[CorpusArtifacts]] bundle FROM SCRATCH over
    * (docs, vectors) with the frozen quantizer `cents` — the
    * construction arm every cascade gate compares against, factored
    * here so the l6 queries, the streaming lifecycle TCK, and bench
    * preparation share ONE canonical build. Family conventions:
    * sha-256 hash groups with min-id keepers; [[nearDupPairs]] +
    * [[dupClusters]]; ANN probe lists = top-`probeK` cells per vector
    * against `cents` (round-6 cosine, cid-asc ties), assignments =
    * the top cell, stored lists = top-`annK` re-rank over probe-cell
    * candidates (vid-asc ties); the (stat, k, v, cnt) BM25 view from
    * [[bm25StatRows]]. This is a BUILD (corpus-sized by nature) — the
    * cascades exist so it runs once, not per batch. */
  def buildArtifacts(docs: DataFrame, vectors: DataFrame, cents: DataFrame,
                     terms: Seq[String], annK: Int = 5, probeK: Int = 4)
                    (implicit scope: CacheScope): CorpusArtifacts = {
    val exactAux = docs.select(sha2(col("text"), 256).as("h"), col("doc_id"))
    val exactKeepers = exactAux.groupBy("h")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
    val pairs = scope.cached(nearDupPairs(docs))
    val clusters = dupClusters(pairs)
    val vecs = idVec(vectors, "vec_id", "embedding")
    val (index, probes, assign) = annBuild(vecs, cents, annK, probeK)
    val stats = bm25StatRows(docs, terms, 1)
      .groupBy("stat", "k").agg(sum("v").as("v"), count(lit(1)).as("cnt"))
    CorpusArtifacts(exactAux, exactKeepers, clusters, pairs, index,
      probes, assign, vecs, stats)
  }

  /** CORPUS-WIDE CASCADE DELETE — the operational "purge these
    * doc_ids" request applied to EVERY maintained artifact at once,
    * each through its own incremental repair path (never a rebuild):
    *
    *  - exact-dup keepers: groups touched by a deleted doc recompute
    *    keeper/count from the surviving members of the persisted
    *    (h, doc_id) membership aux (the q118 runner-up discipline —
    *    a deposed min-id keeper promotes its successor); untouched
    *    groups pass through one anti-join; emptied groups vanish.
    *  - near-dup clusters: [[removeFromClusters]] — touched-cluster-
    *    bounded recompute over the persisted pair graph.
    *  - ANN index: the l3_ann_delete path — deleted nodes' lists
    *    drop, AFFECTED survivors (stored top-k holds a deleted id)
    *    re-rank over the frozen probe/assign aux joined to surviving
    *    assignments, everyone else passes through untouched.
    *  - BM25 stats: ONE delete-bounded semi probe of the corpus
    *    derives the signed −1 stat rows ([[bm25StatRows]]) and
    *    [[TableOps.maintainAggCounted]] cancels them from the view.
    *
    * Everything is delete-/touched-/affected-bounded; the corpus is
    * probed (semi joins), never rescanned, and no artifact is rebuilt.
    * The funnel is assembled LAZILY (per-artifact count aggregates —
    * no driver action at construction). The returned bundle carries
    * the post-delete AUXILIARIES too (exactAux membership, pair
    * graph, probes, assignments, vectors — each one anti-join-
    * bounded), so the next batch chains off the result alone. */
  def deleteDocuments(delIds: DataFrame, docs: DataFrame,
                      arts: CorpusArtifacts, terms: Seq[String],
                      annK: Int = 5)
                     (implicit scope: CacheScope): CascadeResult = {
    val del = scope.cached(
      delIds.select(col(delIds.columns.head).cast("long").as("doc_id")))
    // 1. exact-dup keepers — touched-group-bounded
    val touchedH = arts.exactAux.join(del, Seq("doc_id"), "left_semi")
      .select("h").distinct()
    val recomputed = arts.exactAux.join(touchedH, Seq("h"), "left_semi")
      .join(del, Seq("doc_id"), "left_anti")
      .groupBy("h").agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
    val exactAfter = scope.cached(
      arts.exactKeepers.join(touchedH, Seq("h"), "left_anti")
        .unionByName(recomputed))
    val exactAuxAfter = arts.exactAux.join(del, Seq("doc_id"), "left_anti")
      .select(col("h"), col("doc_id"))
    // 2. near-dup clusters — touched-cluster-bounded; the pair graph
    // itself repairs by dropping edges with a deleted endpoint
    val clustersAfter = scope.cached(
      removeFromClusters(arts.clusters, arts.pairs, del))
    val pairsAfter = arts.pairs
      .join(del.select(col("doc_id").as("d1")), Seq("d1"), "left_anti")
      .join(del.select(col("doc_id").as("d2")), Seq("d2"), "left_anti")
      .select(arts.pairs.columns.map(col).toIndexedSeq: _*)
    // 3. ANN index — affected-survivor-bounded re-rank
    val (annRepaired, probesAfter, survAssign) = annDeleteStep(del,
      arts.annIndex, arts.annProbes, arts.annAssign, arts.vectors, annK)
    val annAfter = scope.cached(annRepaired)
    val vidCol = arts.vectors.columns.head
    val vectorsAfter = arts.vectors.join(
      del.select(col("doc_id").as(vidCol)), Seq(vidCol), "left_anti")
    // 4. BM25 stats — one delete-bounded probe derives the signed batch
    val bm25After = scope.cached(TableOps.maintainAggCounted(arts.bm25Stats,
      bm25StatRows(docs.join(del, Seq("doc_id"), "left_semi"), terms, -1),
      keys = Seq("stat", "k"), sumCols = Seq("v")))
    // funnel — lazy per-artifact accounting (l6_filter_funnel
    // discipline): rows after + the delete-list size applied
    val nDel = del.agg(count(lit(1)).as("y"))
    def frow(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("x")).crossJoin(broadcast(nDel))
        .select(lit(name).as("k"), col("x"), col("y"))
    val funnel = frow("ann", annAfter)
      .unionByName(frow("bm25", bm25After))
      .unionByName(frow("cluster", clustersAfter))
      .unionByName(frow("exact", exactAfter))
    CascadeResult(CorpusArtifacts(exactAuxAfter, exactAfter, clustersAfter,
      pairsAfter, annAfter, probesAfter, survAssign, vectorsAfter, bm25After),
      funnel)
  }

  /** CORPUS-WIDE CASCADE INGEST — [[deleteDocuments]]'s mirror, the
    * other half of the operational lifecycle: ONE new-document batch
    * updates every maintained artifact through its incremental path,
    * never a rebuild:
    *
    *  - exact-dup keepers: only the content-hash groups the batch
    *    touches recompute (stored members of touched groups + the
    *    batch rows — one semi probe of the membership aux); a batch
    *    hash never seen before just opens a new group.
    *  - near-dup clusters: [[incrementalClusters]] over the
    *    batch-internal and batch-vs-corpus pair sets (both
    *    candidate-bounded; corpus-vs-corpus never recomputed).
    *  - ANN index: the FROZEN quantizer assigns the batch (batch ×
    *    centroids, batch-sized); new nodes get lists from their probe
    *    cells; the only STORED nodes re-ranked are those whose probe
    *    list contains a cell a new vector landed in — a stored node's
    *    candidate set changes in no other way, so everyone else
    *    passes through untouched and maintained == rebuilt exactly.
    *  - BM25 stats: the batch's +1 stat rows through
    *    [[TableOps.maintainAggCounted]].
    *
    * `cents` is the frozen quantizer's (cid, embedding) table — a
    * real index persists its centroids; re-deriving them from the
    * grown corpus would be a retrain, i.e. a rebuild. Batch doc/vec
    * ids must be disjoint from the stored ids (the
    * [[nearDupPairsAgainst]] contract). The returned bundle carries
    * the post-ingest AUXILIARIES too (membership + batch rows, pair
    * graph + the batch's pair deltas, probes/assignments/vectors +
    * the batch's), so the next batch chains off the result alone. */
  def ingestDocuments(batch: DataFrame, docs: DataFrame,
                      arts: CorpusArtifacts,
                      batchVectors: DataFrame, cents: DataFrame,
                      terms: Seq[String],
                      annK: Int = 5, probeK: Int = 4)
                     (implicit scope: CacheScope): CascadeResult = {
    val bdocs = scope.cached(batch.select(col("doc_id"), col("text")))
    // 1. exact-dup keepers — touched-group-bounded
    val batchAux = bdocs.select(sha2(col("text"), 256).as("h"), col("doc_id"))
    val touchedH = batchAux.select("h").distinct()
    val recomputed = arts.exactAux.join(touchedH, Seq("h"), "left_semi")
      .unionByName(batchAux)
      .groupBy("h").agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
    val exactAfter = scope.cached(
      arts.exactKeepers.join(touchedH, Seq("h"), "left_anti")
        .unionByName(recomputed))
    val exactAuxAfter = arts.exactAux.unionByName(batchAux)
    // 2. near-dup clusters — candidate-bounded pair deltas; the same
    // deltas append to the stored pair graph (batch-internal +
    // batch-vs-corpus = exactly the edges a full rebuild would add)
    val bp = scope.cached(nearDupPairs(bdocs))
    val xp = scope.cached(nearDupPairsAgainst(docs, bdocs))
    val clustersAfter = scope.cached(incrementalClusters(arts.clusters, bp, xp))
    val pairsAfter = arts.pairs.unionByName(bp).unionByName(xp)
    // 3. ANN index — frozen-quantizer assignment + affected re-rank
    val batchCd = scope.cached(cosineCells(batchVectors, cents, probeK))
    val batchAssign = batchCd.filter(col("rn") === 1).select("vid", "cid")
    val assignAll = arts.annAssign.unionByName(batchAssign)
    val vecsAll = idVec(arts.vectors, "vec_id", "embedding")
      .unionByName(idVec(batchVectors, "vec_id", "embedding"))
    val affected = arts.annProbes
      .join(batchAssign.select("cid").distinct(), Seq("cid"), "left_semi")
      .select("qid").distinct()
    val kept = arts.annIndex.join(affected, Seq("qid"), "left_anti")
    // ONE candidate-scoring pass for both the re-ranked stored nodes
    // and the fresh batch nodes: their qid sets are DISJOINT (batch
    // ids are new by the nearDupPairsAgainst contract), so the top-k
    // of (affected ∪ batch) ≡ top-k(affected) ∪ top-k(batch)
    // row-for-row while sharing one join+window pipeline instead of
    // two (guide §2.4; paired A/B: 0.83 min-ratio on
    // l6_cascade_insert_apply, neutral on the build-dominated
    // l6_cascade_insert — round-18 ledger). CorpusOpsSpec executes
    // the equivalence on the cascade fixture.
    val annAfter = scope.cached(kept.unionByName(topPerQuery(cellScores(
      arts.annProbes.join(affected, Seq("qid"), "left_semi")
        .unionByName(batchCd.select(col("vid").as("qid"), col("cid"))),
      assignAll, vecsAll), annK)))
    val probesAfter = arts.annProbes.unionByName(
      batchCd.select(col("vid").as("qid"), col("cid")))
    // 4. BM25 stats — the batch's +1 rows
    val bm25After = scope.cached(TableOps.maintainAggCounted(arts.bm25Stats,
      bm25StatRows(bdocs, terms, 1), keys = Seq("stat", "k"), sumCols = Seq("v")))
    // funnel — lazy per-artifact accounting
    val nIns = bdocs.agg(count(lit(1)).as("y"))
    def frow(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("x")).crossJoin(broadcast(nIns))
        .select(lit(name).as("k"), col("x"), col("y"))
    val funnel = frow("ann", annAfter)
      .unionByName(frow("bm25", bm25After))
      .unionByName(frow("cluster", clustersAfter))
      .unionByName(frow("exact", exactAfter))
    CascadeResult(CorpusArtifacts(exactAuxAfter, exactAfter, clustersAfter,
      pairsAfter, annAfter, probesAfter, assignAll, vecsAll, bm25After),
      funnel)
  }
}
