package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Brute-force cross-checks for the sub-quadratic/sketch operators on
  * SYNTHETIC corpora with planted structure: the DuckDB oracle gate
  * pins each operator on the fixtures, but these assert the
  * algorithm-level contracts (prefix filtering loses no pair,
  * quantization argmin is exact, the winnowing guarantee holds)
  * against a naive O(n²) reference computed in plain Scala — on data
  * deliberately shaped to stress the candidate rules.
  */
class CrossCheckSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val words =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon".split(' ')

  /** Deterministic doc corpus with planted containment/near-dup
    * structure: bases of 8–20 words, some docs = a base's text
    * embedded in longer padding, some exact copies. */
  private def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    def sent(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
    val bases = (0 until 20).map(i => (i.toLong, sent(8 + rnd.nextInt(12))))
    val contained = (0 until 6).map { i =>
      val (_, base) = bases(rnd.nextInt(bases.length))
      (100L + i, s"${sent(2)} $base ${sent(2)}") // base text inside padding
    }
    val copies = (0 until 3).map(i => (200L + i, bases(i)._2))
    bases ++ contained ++ copies
  }

  /** Reference shingle sets via the same native kernel (the kernel
    * itself is pinned against composed built-ins in ShingleExprSpec). */
  private def shingleSets(docs: Seq[(Long, String)]): Map[Long, Set[Long]] = {
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.ShingleExprs.shingle_sha60(col("text")).as("sh"))
    df.as[(Long, Seq[Long])].collect().map { case (id, sh) => id -> sh.toSet }.toMap
  }

  test("containmentPairs equals the all-pairs brute force on a planted corpus") {
    val docs = corpus
    val sets = shingleSets(docs)
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b
      c = (sa & sb).size.toDouble / sa.size
      if c >= 0.9
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "planted corpus produced no containment pairs — test is vacuous")
    val got = CorpusOps.containmentPairs(docs.toDF("doc_id", "text"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missed: ${expected -- got}; spurious: ${got -- expected}")
  }

  test("nearDupPairs equals the all-pairs brute force on the same corpus") {
    val docs = corpus
    val sets = shingleSets(docs)
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b
      j = (sa & sb).size.toDouble / (sa ++ sb).size
      if j >= CorpusOps.JaccardThreshold
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "planted corpus produced no near-dup pairs — test is vacuous")
    val got = CorpusOps.nearDupPairs(docs.toDF("doc_id", "text"))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missed: ${expected -- got}; spurious: ${got -- expected}")
  }

  test("spanDedup conserves tokens and matches a brute-force cover on random corpora") {
    // Random 30-doc corpora with planted copied runs: for every doc,
    // n_kept + n_removed == token count, clean_text has exactly n_kept
    // tokens, and the removed set equals a brute-force cover computed
    // in plain Scala (gram ownership by min doc_id, token covered iff
    // some owned-elsewhere gram start within the last g positions).
    val g = 4
    val rnd = new scala.util.Random(13)
    def sent(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
    val bases = (0 until 20).map(i => (i.toLong, sent(6 + rnd.nextInt(10))))
    val copiers = (0 until 10).map { i =>
      val (_, base) = bases(rnd.nextInt(bases.length))
      (500L + i, s"${sent(3)} $base ${sent(3)}")
    }
    val docs = (bases ++ copiers)
    val out = CorpusOps.spanDedup(docs.toDF("doc_id", "text"), g = g)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()

    // brute-force reference
    val toks = docs.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    val owner = scala.collection.mutable.Map[String, Long]()
    for ((id, ws) <- docs.sortBy(_._1); i <- 0 to ws.split(" ").length - g) {
      val k = ws.split(" ").slice(i, i + g).mkString(" ")
      if (!owner.contains(k) || owner(k) > id) owner(k) = id
    }
    def removedSet(id: Long): Set[Int] = {
      val ws = toks(id)
      val dupStart = (0 to ws.length - g).filter { i =>
        owner(ws.slice(i, i + g).mkString(" ")) < id
      }.toSet
      ws.indices.filter(j => (math.max(0, j - g + 1) to j).exists(dupStart)).toSet
    }
    for ((id, clean, nKept, nRemoved) <- out) {
      val ws = toks(id)
      assert(nKept + nRemoved == ws.length, s"doc $id conservation")
      val cleanToks = if (clean.isEmpty) Vector.empty else clean.split(" ").toVector
      assert(cleanToks.length == nKept, s"doc $id clean length")
      val ref = removedSet(id)
      assert(nRemoved == ref.size, s"doc $id removed count vs brute force")
      assert(cleanToks == ws.indices.filterNot(ref).map(ws), s"doc $id kept tokens")
    }
    assert(out.count(_._4 > 0) >= 8, "most copier docs should lose their planted run")
  }

  test("insert-only batches: the counted Z-set algebra agrees with the insert-only maintainers") {
    // maintainAggCounted with all-+1 multiplicities must produce
    // exactly what maintainAgg produces from the pre-aggregated delta
    // — the counted algebra RESTRICTED to inserts IS the insert-only
    // op (both equal the recompute); same for the join family vs
    // maintainJoin (modulo the multiplicity column).
    val rnd = new scala.util.Random(31)
    val base = Seq.tabulate(300)(i => (rnd.nextInt(20).toLong, (i % 7 + 1).toLong))
      .toDF("k", "sum_v")
    val batchRows = Seq.tabulate(120)(i => (rnd.nextInt(25).toLong, (i % 5 + 1).toLong))
      .toDF("k", "sum_v")
    val mv0 = base.groupBy("k")
      .agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt"))
    val viaCounted = TableOps.maintainAggCounted(mv0,
        batchRows.withColumn("_mult", lit(1L)), Seq("k"), Seq("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaInsertOnly = TableOps.maintainAgg(mv0,
        batchRows.groupBy("k")
          .agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt")), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val recompute = base.unionByName(batchRows).groupBy("k")
      .agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaCounted == recompute, "counted algebra diverged from the recompute")
    assert(viaInsertOnly == recompute, "insert-only op diverged from the recompute")
    // join family: maintainJoinCounted with all-+1 mults == maintainJoin + count
    val a = Seq((1L, "a1"), (2L, "a2")).toDF("k", "av")
    val da = Seq((3L, "a3")).toDF("k", "av")
    val b = Seq((1L, 10), (1L, 11), (2L, 20)).toDF("k", "bv")
    val db = Seq((3L, 30), (1L, 12)).toDF("k", "bv")
    def m1(df: org.apache.spark.sql.DataFrame) = df.withColumn("_mult", lit(1L))
    val mv0j = TableOps.consolidate(
      m1(a).withColumnRenamed("_mult", "_ml")
        .join(m1(b).withColumnRenamed("_mult", "_mr"), Seq("k"))
        .select(col("k"), col("av"), col("bv"),
          (col("_ml") * col("_mr")).as("_mult")), Seq("k", "av", "bv"))
    val counted = TableOps.maintainJoinCounted(mv0j, m1(a), m1(da), m1(b), m1(db), Seq("k"))
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getInt(2)), r.getLong(3))).toMap
    val plain = TableOps.maintainJoin(
        a.join(b, Seq("k")).select("k", "av", "bv"), a, da, b, db, Seq("k"))
      .groupBy("k", "av", "bv").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getString(1), r.getInt(2)), r.getLong(3))).toMap
    assert(counted == plain,
      s"counted join algebra diverged from insert-only + count: $counted vs $plain")
  }

  test("pipeline chain rule: composing the join and agg maintainers equals maintaining the composed query") {
    // Δ(γ∘⋈) = Δγ ∘ Δ⋈ — maintainPipelineCounted (join delta fed
    // straight into the aggregate maintainer, no intermediate view)
    // must equal BOTH (a) maintaining the counted join view and
    // aggregating it, and (b) the full agg-over-join recompute over
    // the post-batch snapshots — under deletes on both sides,
    // including a group emptied entirely.
    val a = Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("k", "g")
    val b = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 5L)).toDF("k", "sum_v")
    def m(df: org.apache.spark.sql.DataFrame, v: Long) =
      df.withColumn("_mult", lit(v))
    // deletes: order 1 vanishes from A (emptying group p1 of its only
    // key), line (3,5) vanishes from B (emptying group p3); inserts
    // land on both sides including a brand-new key 4
    val da = m(Seq((4L, "p2")).toDF("k", "g"), 1L)
      .unionByName(m(Seq((1L, "p1")).toDF("k", "g"), -1L))
    val db = m(Seq((4L, 7L), (2L, 9L)).toDF("k", "sum_v"), 1L)
      .unionByName(m(Seq((3L, 5L)).toDF("k", "sum_v"), -1L))
    def agg3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // path 1: the chain rule
    val mv0 = a.join(b, Seq("k")).groupBy("g")
      .agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt"))
    val viaPipeline = agg3(TableOps.maintainPipelineCounted(
      mv0, m(a, 1L), da, m(b, 1L), db, Seq("k"), Seq("g"), Seq("sum_v"))
      .select("g", "sum_v", "cnt"))
    // path 2: maintain the counted JOIN view, then aggregate it
    val mvJ = TableOps.consolidate(
      m(a, 1L).withColumnRenamed("_mult", "_ml")
        .join(m(b, 1L).withColumnRenamed("_mult", "_mr"), Seq("k"))
        .select(col("g"), col("sum_v"), (col("_ml") * col("_mr")).as("_mult")),
      Seq("g", "sum_v"))
    val viaJoinView = agg3(TableOps.maintainJoinCounted(
        mvJ, m(a, 1L), da, m(b, 1L), db, Seq("k"))
      .groupBy("g")
      .agg(sum(col("_mult") * col("sum_v")).as("sum_v"),
        sum("_mult").as("cnt"))
      .filter(col("cnt") =!= 0L)
      .select("g", "sum_v", "cnt"))
    // path 3: the recompute over the post-batch snapshots
    val postA = Seq((2L, "p2"), (3L, "p3"), (4L, "p2")).toDF("k", "g")
    val postB = Seq((1L, 10L), (1L, 11L), (2L, 20L), (4L, 7L), (2L, 9L))
      .toDF("k", "sum_v")
    val recompute = agg3(postA.join(postB, Seq("k")).groupBy("g")
      .agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt")))
    assert(viaPipeline == recompute,
      s"chain rule diverged from the recompute: $viaPipeline vs $recompute")
    assert(viaJoinView == recompute,
      s"join-view path diverged from the recompute: $viaJoinView vs $recompute")
    // the emptied groups (p1 lost its only A key; p3 its only B line)
    // must have VANISHED, not linger at zero
    assert(!viaPipeline.exists(r => r._1 == "p1" || r._1 == "p3"),
      s"emptied group left residue: $viaPipeline")
  }

  test("removeFromClusters: a removed bridge SPLITS its cluster exactly as a rebuild would") {
    // the hard deletion case: B bridges {A,B,C,D} (A-B, B-C, C-D);
    // removing B must split into the singleton {A} (drops out — the
    // build's singleton convention) and {C,D} re-labeled by its new
    // min id — while the untouched cluster {X,Y} passes through
    // byte-identical. Also covers representative deposition: removing
    // the min-id doc 1 of {1,2,3} re-elects 2.
    implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), // chain A=10 B=11 C=12 D=13
      (20L, 21L),                         // untouched {20,21}
      (1L, 2L), (1L, 3L), (2L, 3L)        // triangle with min-id rep 1
    ).toDF("d1", "d2")
    val removed = Seq(11L, 1L).toDF("doc_id")
    val stored = CorpusOps.dupClusters(pairs)
    val maintained = CorpusOps.removeFromClusters(stored, pairs, removed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val survPairs = pairs
      .join(removed.select(col("doc_id").as("d1")), Seq("d1"), "left_anti")
      .join(removed.select(col("doc_id").as("d2")), Seq("d2"), "left_anti")
    val rebuilt = CorpusOps.dupClusters(survPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained == rebuilt,
      s"maintained diverged from rebuild: $maintained vs $rebuilt")
    // the split/deposition shape itself, pinned explicitly: bridge 11
    // splits the chain ({10} drops out as a singleton, {12,13} takes
    // new min id 12); deposed rep 1 re-elects 2 over the surviving
    // 2-3 edge; {20,21} untouched
    assert(maintained == Set(
      (12L, 12L, 2L), (12L, 13L, 2L),
      (20L, 20L, 2L), (20L, 21L, 2L),
      (2L, 2L, 2L), (2L, 3L, 2L)),
      s"unexpected cluster shape: $maintained")
  }

  test("bucketed range join equals the naive theta join on random intervals") {
    // q37's decomposition contract: equi-join on width-W buckets +
    // BETWEEN residual must equal the plain non-equi join for ANY
    // interval placement, including boundary-aligned starts and
    // events exactly at start/end. Random fixture + planted edges.
    val rnd = new scala.util.Random(7)
    val W = 100L
    val events = ((0 until 300).map(i => (i.toLong, rnd.nextInt(5000).toLong)) ++
      Seq((900L, 1000L), (901L, 1099L), (902L, 1100L))) // exact boundaries
    val trigs = ((0 until 40).map(i => (1000L + i, rnd.nextInt(5000).toLong)) ++
      Seq((2000L, 1000L))) // boundary-aligned interval [1000, 1100)
    val e = events.toDF("event_id", "us")
    val t = trigs.toDF("trigger_id", "start_us")
      .withColumn("end_us", col("start_us") + W)

    val naive = t.join(e, col("us") >= col("start_us") && col("us") < col("end_us"))
      .select("trigger_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val tb = t.withColumn("bkt", explode(array_distinct(array(
        expr(s"start_us div ${W}L"), expr(s"(end_us - 1) div ${W}L")))))
    val pb = e.withColumn("bkt", expr(s"us div ${W}L"))
    val bucketed = tb.join(pb, Seq("bkt"))
      .filter(col("us") >= col("start_us") && col("us") < col("end_us"))
      .select("trigger_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(bucketed == naive,
      s"missing: ${naive -- bucketed}, extra: ${bucketed -- naive}")
    assert(naive.contains((2000L, 900L)) && naive.contains((2000L, 901L)) &&
      !naive.contains((2000L, 902L)), "planted boundary semantics")
  }

  test("pqEncode codes equal the brute-force argmin over the codebook") {
    val e = graft.Tables(spark, SparkFixture.sfDir, "embeddings")
    val cb = CorpusOps.pqCodebook(e)
    val cbRows = cb.select("sub", "cid", "cv").as[(Int, Int, Seq[Float])]
      .collect().groupBy(_._1)
    val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().take(50)
    val got = CorpusOps.pqEncode(e, cb)
      .select("vec_id", "sub", "code").as[(Long, Int, Int)]
      .collect().map { case (v, s, c) => (v, s) -> c }.toMap
    for ((vid, emb) <- vecs; sub <- 0 until 8) {
      val sv = emb.slice(sub * 8, sub * 8 + 8)
      val best = cbRows(sub).map { case (_, cid, cv) =>
        val d2 = sv.zip(cv).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
        (BigDecimal(d2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, cid)
      }.min
      assert(got((vid, sub)) == best._2,
        s"vec $vid sub $sub: engine code ${got((vid, sub))} != brute-force ${best._2}")
    }
  }

  test("stratified/shuffle contracts: shuffle order is a permutation with dense per-shard ranks") {
    val docs = (0L until 137L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // the op behind l8_shuffle_order (16 shards), over a synthetic id
    // set — the query itself is fixture-bound
    val rows = CorpusOps.shuffleOrder(docs, 16)
      .as[(Long, Long, Int)].collect().toSeq
    assert(rows.map(_._1).sorted == (0L until 137L), "not a permutation of the corpus")
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted == (1 to rs.size), s"shard $shard ranks not dense")
    }
  }

  test("lineDedup strips exactly the shared blocks and reassembles the rest in order") {
    // 10-word lines (the default chunker): doc 1 and 2 share their
    // SECOND line; doc 3 is untouched
    def line(seed: Int) = (0 until 10).map(i => s"w${seed}_$i").mkString(" ")
    val shared = line(99)
    val docs = Seq(
      (1L, s"${line(1)} $shared ${line(2)}"),
      (2L, s"${line(3)} $shared"),
      (3L, s"${line(4)} ${line(5)}")).toDF("doc_id", "text")
    val out = CorpusOps.lineDedup(docs)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, s"${line(1)} ${line(2)}", 2L, 1L),
      (2L, line(3), 1L, 1L),
      (3L, s"${line(4)} ${line(5)}", 2L, 0L)))
  }

  test("winnow_sketch kernel is identical to the composed HOF spelling") {
    def sha60Sql(s: String) = s"cast(conv(substr(sha2($s, 256), 1, 15), 16, 10) as bigint)"
    val docs = (corpus ++ Seq((900L, "one two"), (901L, "x"), (902L, "a b c d")))
      .toDF("doc_id", "text")
    val hof = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("gs", expr(s"""
        CASE WHEN size(ws) >= 3
          THEN transform(sequence(0, size(ws) - 3),
                 i -> ${sha60Sql("concat_ws(' ', slice(ws, i + 1, 3))")})
          ELSE array(${sha60Sql("concat_ws(' ', ws)")})
        END"""))
      .withColumn("pg", expr("transform(gs, (h, i) -> named_struct('h', h, 'p', i))"))
      .withColumn("mins", expr(s"""
        transform(sequence(0, greatest(1, size(gs) - 3) - 1), j ->
          aggregate(slice(pg, j + 1, 4),
            named_struct('h', ${Long.MaxValue}L, 'p', -1),
            (acc, x) -> CASE WHEN x.h < acc.h OR (x.h = acc.h AND x.p > acc.p)
                        THEN x ELSE acc END))"""))
      .select(col("doc_id"), expr(
        "array_sort(transform(array_distinct(mins), x -> named_struct('p', x.p, 'h', x.h)))")
        .as("sketch"))
      .select(col("doc_id"), expr("transform(sketch, x -> concat(x.p, ':', x.h))").as("s"))
      .as[(Long, Seq[String])].collect().toMap
    val kernel = CorpusOps.winnowSketches(docs)
      .select(col("doc_id"), expr("transform(sketch, x -> concat(x.p, ':', x.h))").as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernel == hof)
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 word run share a sketch hash") {
    val rnd = new scala.util.Random(7)
    def sent(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
    // 20 pairs: a shared 6-word run (w+k-1 = 4+3-1) embedded at
    // different offsets inside otherwise-unrelated docs
    val docs = (0 until 20).flatMap { i =>
      val run = sent(6)
      Seq((i * 2L, s"${sent(3 + i % 5)} $run ${sent(4)}"),
          (i * 2L + 1, s"${sent(9 - i % 5)} $run ${sent(2)}"))
    }
    val sk = CorpusOps.winnowSketches(docs.toDF("doc_id", "text"))
      .select(col("doc_id"), expr("transform(sketch, x -> x.h)").as("hs"))
      .as[(Long, Seq[Long])].collect().map { case (id, hs) => id -> hs.toSet }.toMap
    for (i <- 0 until 20)
      assert((sk(i * 2L) & sk(i * 2L + 1)).nonEmpty,
        s"pair $i shares a 6-word run but no sketch hash")
  }
}
