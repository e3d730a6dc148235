package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Direct checks on the CorpusOps library surface with NON-default
  * parameters — the oracle gate pins the defaults through the query
  * wrappers, but the parameterized paths (gram width, window/stride,
  * sample denominators) need their own expectations.
  */
class CorpusOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("compactIfDegreeHigh: the degree probe gates the re-rank — pass-through below, capped re-rank above") {
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.8, 0.2)), (3L, Seq(0.0, 1.0)), (4L, Seq(0.95, 0.05)))
      .toDF("vid", "emb")
    val low = Seq((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)).toDF("a", "b")
    // max out-degree 2 <= threshold 3: the SAME DataFrame passes
    // through — no re-scoring join is planned at all
    val (same, trig) = CorpusOps.compactIfDegreeHigh(low, vecs,
      cap = 2, maxDegreeThreshold = 3, idCol = "vid", vecCol = "emb")
    assert(!trig && (same eq low))
    // node 0 drifts to out-degree 4 > 3: triggered, every node's list
    // re-ranked back to its top-cap by cosine (0 keeps 4 then 1)
    val high = low.unionByName(Seq((0L, 3L), (0L, 4L)).toDF("a", "b"))
    val (compacted, trig2) = CorpusOps.compactIfDegreeHigh(high, vecs,
      cap = 2, maxDegreeThreshold = 3, idCol = "vid", vecCol = "emb")
    assert(trig2)
    val got = compacted.as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 4L), (0L, 1L), (1L, 0L), (2L, 0L)), got.toString)
    val maxDeg = compacted.groupBy("a").count().agg(max("count")).head().getLong(0)
    assert(maxDeg <= 2L)
    // an empty adjacency never triggers; a gate below the cap is a
    // config error (it would re-compact every probe) and fails loudly
    val (_, et) = CorpusOps.compactIfDegreeHigh(low.limit(0), vecs,
      cap = 2, maxDegreeThreshold = 3, idCol = "vid", vecCol = "emb")
    assert(!et)
    intercept[IllegalArgumentException] {
      CorpusOps.compactIfDegreeHigh(low, vecs, cap = 4,
        maxDegreeThreshold = 3, idCol = "vid", vecCol = "emb")
    }
  }

  test("packSequences splits a long doc across 3+ sequences with full middle pieces") {
    // fixture docs are ~100 tokens, so multi-sequence spans (the
    // greatest/least middle-piece arithmetic) never fire through the
    // oracle gate — drive them with a 700-token doc at seqLen=256:
    // spans sequences 0..2 with a FULL 256-token middle piece
    val docs = Seq(
      (1L, (1 to 700).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 100).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val p = CorpusOps.packSequences(docs, seqLen = 256L, nshards = 1L)
      .orderBy("seq", "off")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq // shard, seq, doc, off, len
    // conservation: 800 tokens total, every one in exactly one piece
    assert(p.map(_._5).sum == 800L)
    // the long doc emits one piece per overlapped sequence, offsets 0
    val oneDocPieces = p.filter(_._3 == 1L)
    assert(oneDocPieces.length == 3, s"expected 3 pieces, got $oneDocPieces")
    // whichever doc packs first, every non-final sequence tiles to 256
    val bySeq = p.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val lastSeq = bySeq.keys.max
    assert(bySeq.filter(_._1 != lastSeq).values.forall(_ == 256L), s"non-final sequence not full: $bySeq")
    // middle piece of the long doc is a full untrimmed sequence
    assert(oneDocPieces.map(_._5).sorted.reverse.head == 256L)
    // piece offsets within each sequence start at 0 and are contiguous
    for ((_, pieces) <- p.groupBy(x => (x._1, x._2))) {
      val sorted = pieces.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      assert(sorted.sliding(2).forall {
        case Seq(a, b) => a._4 + a._5 == b._4
        case _ => true
      })
    }
  }

  test("chunkWindows with window=4, stride=2 covers every word and clamps the tail") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "x y")).toDF("doc_id", "text")
    val rows = CorpusOps.chunkWindows(docs, window = 4, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    // doc 1: 7 words -> 1 + ceil(3/2) = 3 chunks; final clamps to 3 words
    assert(rows.filter(_._1 == 1L).map(r => (r._2, r._4)) ==
      Seq((0L, "a b c d"), (1L, "c d e f"), (2L, "e f g")))
    assert(rows.filter(_._1 == 1L).map(_._3) == Seq(4L, 4L, 3L))
    // doc 2: shorter than one window -> a single clamped chunk
    assert(rows.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)) == Seq((0L, 2L, "x y")))
  }

  test("decontaminate with n=2 flags exactly the docs sharing a word bigram with eval") {
    val docs = Seq(
      (1L, "red green blue"),   // eval
      (2L, "green blue yellow"),// shares "green blue" -> flagged, 1 gram
      (3L, "purple orange"),    // nothing shared
      (4L, "red green blue")    // identical to eval: 2 shared bigrams
    ).toDF("doc_id", "text")
    val out = CorpusOps.decontaminate(docs, col("doc_id") === 1, n = 2)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((2L, 1L), (4L, 2L)))
  }

  test("stratifiedSample quota is exact per stratum at any denominator") {
    val docs = (0L until 30L).map(i => (i, if (i % 3 == 0) "a" else "b", s"t$i"))
      .toDF("doc_id", "lang", "text")
    val out = CorpusOps.stratifiedSample(docs, "lang", denom = 4)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // strata: a = 10 docs -> ceil(10/4) = 3; b = 20 -> 5
    assert(out == Map("a" -> 3L, "b" -> 5L))
  }

  test("hashSample is deterministic and rate-plausible") {
    val docs = (0L until 2000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = CorpusOps.hashSample(docs, denom = 5).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val b = CorpusOps.hashSample(docs, denom = 5).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
    assert(math.abs(a.size - 400) < 120, s"~20% of 2000 expected, got ${a.size}")
  }

  test("quantizeInt8 hits +/-127 at the extremes and roundtrips within one scale step") {
    val vecs = Seq((1L, Array(0.5f, -0.25f, 0.125f, -0.5f))).toDF("vec_id", "embedding")
    val r = CorpusOps.quantizeInt8(vecs).select("scale", "q")
      .as[(Double, Seq[Int])].collect().head
    assert(r._2.head == 127 && r._2(3) == -127) // |x| = amax quantizes to the rails
    val recon = r._2.map(_ * r._1)
    Seq(0.5, -0.25, 0.125, -0.5).zip(recon).foreach { case (x, y) =>
      assert(math.abs(x - y) <= r._1 / 2 + 1e-9, s"$x vs $y")
    }
  }

  test("dupClusters computes transitive components: chain, clique, and isolated pair") {
    // chain 1-2-3-4 (no 1~3, 1~4, 2~4 pairs), clique {10,11,12}, pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("d1", "d2")
    val out = CorpusOps.dupClusters(pairs).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 4L), (1L, 2L, 4L), (1L, 3L, 4L), (1L, 4L, 4L),
      (10L, 10L, 3L), (10L, 11L, 3L), (10L, 12L, 3L),
      (20L, 20L, 2L), (20L, 21L, 2L)))
  }

  test("dupClusters converges on a path of diameter 2^(2*rounds-1) at the documented bound") {
    // path 0-1-2-...-32: diameter 32 is exactly what rounds=3 covers
    // (each round relaxes across edges and doubles the pointer twice)
    val pairs = (0L until 32L).map(i => (i, i + 1)).toDF("d1", "d2")
    val lbls = CorpusOps.dupClusters(pairs, rounds = 3).select("cluster_id")
      .distinct().as[Long].collect().toSeq
    assert(lbls == Seq(0L), s"path did not converge to one cluster: $lbls")
    // one round short must NOT cover it — pins that the bound is tight,
    // i.e. the cover really is 2^(2r-1) and the default is not padded
    val short = CorpusOps.dupClusters(pairs, rounds = 2).select("cluster_id")
      .distinct().as[Long].collect().toSeq
    assert(short.size > 1, "rounds=2 unexpectedly covered diameter 32 — bound drifted")
  }

  test("dupClustersConverged matches the fixed-round labels on chain + clique + deep path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("d1", "d2")
    val fixed = CorpusOps.dupClusters(pairs).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    val conv = CorpusOps.dupClustersConverged(pairs).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(conv == fixed)
    // a diameter-32 path needs the extra rounds the shallow case skips
    val deep = (0L until 32L).map(i => (i, i + 1)).toDF("d1", "d2")
    val lbls = CorpusOps.dupClustersConverged(deep).select("cluster_id")
      .distinct().as[Long].collect().toSeq
    assert(lbls == Seq(0L), s"deep path did not converge: $lbls")
  }

  test("incrementalClusters merges two stored clusters through a batch bridge") {
    // stored corpus state: clusters {1,2,3} (id 1), {5,6} (id 5),
    // {10,11} (id 10, untouched by the batch); corpus doc 4 is in no
    // stored cluster. Batch docs 100-102 arrive with: an intra-batch
    // pair (100,101); cross pairs wiring 100→3 and 101→5 (which MERGES
    // stored clusters 1 and 5 through the batch), and 102→4 (a corpus
    // SINGLETON representative entering a cluster for the first time).
    val corpusPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L)).toDF("d1", "d2")
    val stored = CorpusOps.dupClusters(corpusPairs)
    val batchPairs = Seq((100L, 101L)).toDF("d1", "d2")
    val crossPairs = Seq((100L, 3L), (101L, 5L), (102L, 4L)).toDF("d1", "d2")
    val out = CorpusOps.incrementalClusters(stored, batchPairs, crossPairs)
      .orderBy("cluster_id", "doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 7L), (1L, 2L, 7L), (1L, 3L, 7L), (1L, 5L, 7L), (1L, 6L, 7L),
      (1L, 100L, 7L), (1L, 101L, 7L),
      (4L, 4L, 2L), (4L, 102L, 2L),
      (10L, 10L, 2L), (10L, 11L, 2L)))
    // the exactness pin: identical to a full recompute over the union
    // pair set (ids AND sizes)
    val full = CorpusOps.dupClusters(
        corpusPairs.union(batchPairs).union(crossPairs))
      .orderBy("cluster_id", "doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == full)
  }

  test("incrementalClusters converged=true resolves a delta chain deeper than the fixed rounds") {
    // a 40-hop dup chain arrives in ONE batch — past the fixed-round
    // diameter cover 2^5=32, so converged propagation is required for
    // the full-recompute pin to hold
    val stored = CorpusOps.dupClusters(Seq((500L, 501L)).toDF("d1", "d2"))
    val chain = (100L until 140L).map(i => (i, i + 1)).toDF("d1", "d2")
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val out = CorpusOps.incrementalClusters(stored, chain, empty,
        rounds = 2, converged = true)
      .orderBy("cluster_id", "doc_id").as[(Long, Long, Long)].collect().toSeq
    val full = CorpusOps.dupClusters(
        Seq((500L, 501L)).toDF("d1", "d2").union(chain), rounds = 4)
      .orderBy("cluster_id", "doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == full)
    assert(out.count(_._1 == 100L) == 41, "chain must be one component")
  }

  test("incrementalClusters with an empty delta returns the stored table unchanged") {
    val corpusPairs = Seq((1L, 2L), (10L, 11L)).toDF("d1", "d2")
    val stored = CorpusOps.dupClusters(corpusPairs)
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val out = CorpusOps.incrementalClusters(stored, empty, empty)
      .orderBy("cluster_id", "doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L), (1L, 2L, 2L), (10L, 10L, 2L), (10L, 11L, 2L)))
  }

  test("lineDedup strips only the cross-doc duplicate lines and keeps order") {
    // with lineWords=2 the docs chunk into 2-word lines; "dup line" is
    // shared by docs 1 and 2, everything else is unique
    val docs = Seq(
      (1L, "dup line one uno tail"),   // lines: "dup line" | "one uno" | "tail"
      (2L, "two dos dup line"),        // lines: "two dos" | "dup line"
      (3L, "three tres clean")         // lines: "three tres" | "clean"
    ).toDF("doc_id", "text")
    val out = CorpusOps.lineDedup(docs, lineWords = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "one uno tail", 2L, 1L),
      (2L, "two dos", 1L, 1L),
      (3L, "three tres clean", 2L, 0L)))
  }

  test("spanDedup removes a mid-doc copied run token-exactly, keep-first") {
    // g=3: doc 2 copies the 4-token run "a b c d" from doc 1 between
    // unique words. Dup gram STARTS in doc 2: "a b c", "b c d" — the
    // window-max cover test must remove exactly a,b,c,d (4 tokens) and
    // keep the flanks. Doc 1 owns the grams (min doc_id) and is
    // untouched; doc 3's WITHIN-doc repeat is owned by itself -> kept.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x1 x2 a b c d y1 y2"),
      (3L, "p q r s p q r s")
    ).toDF("doc_id", "text")
    val out = CorpusOps.spanDedup(docs, g = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d e", 5L, 0L),
      (2L, "x1 x2 y1 y2", 4L, 4L),
      (3L, "p q r s p q r s", 8L, 0L)))
  }

  test("spanDedup leaves sub-g overlaps alone; shorter-than-g docs pass through") {
    // the shared run "a b" is only 2 tokens < g=3 -> no shared gram ->
    // nothing removed; the 2-token doc generates no grams at all
    val docs = Seq(
      (1L, "a b u v w"),
      (2L, "m n a b o"),
      (3L, "t u")
    ).toDF("doc_id", "text")
    val out = CorpusOps.spanDedup(docs, g = 3)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out.forall(r => r._4 == 0L), s"unexpected removal: $out")
  }

  test("lineDedup with maxDf=2 keeps lines shared by up to two docs") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "z q"))
      .toDF("doc_id", "text")
    val out = CorpusOps.lineDedup(docs, lineWords = 2, maxDf = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    // "a b" appears in 3 docs > maxDf=2 -> stripped everywhere
    assert(out == Seq((1L, "", 0L, 1L), (2L, "", 0L, 1L), (3L, "", 0L, 1L),
      (4L, "z q", 1L, 0L)))
  }

  test("semDedup drops the higher-id member of a same-cluster near-identical pair") {
    // centroids = vecs 0 and 1 (k=2). vec 2 ~ vec 0 (same direction,
    // different norm -> cos = 1); vec 3 is orthogonal to everything.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),    // duplicate of 0, cluster 0
      (3L, Array(0f, 0f, 1f, 0f))     // alone in whatever cluster it lands
    ).toDF("vec_id", "embedding")
    val out = CorpusOps.semDedup(vecs, k = 2, tau = 0.9)
      .orderBy("vec_id")
      .select("vec_id", "keep", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(out == Seq(
      (0L, true, None), (1L, true, None), (2L, false, Some(0L)), (3L, true, None)))
  }

  test("semDedup exists-any-smaller rule drops a chain entirely, not alternately") {
    // 0, 1, 2 mutually near-identical in one cluster: 1 dropped by 0,
    // 2 dropped by 0 (dup_of = min qualifying smaller id, not 1)
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f, 0f)),
      (2L, Array(1f, -0.01f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = CorpusOps.semDedup(vecs, k = 1, tau = 0.99)
      .orderBy("vec_id").select("vec_id", "keep", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect().toSeq
    assert(out == Seq((0L, true, None), (1L, false, Some(0L)), (2L, false, Some(0L))))
  }

  test("decontaminateLines drops only the lines sharing grams with eval") {
    val docs = Seq(
      (1L, "x y"),              // eval
      (2L, "a b x y c d"),      // lines: "a b" | "x y" (contaminated) | "c d"
      (3L, "p q")               // clean
    ).toDF("doc_id", "text")
    val out = CorpusOps.decontaminateLines(docs, col("doc_id") === 1,
        n = 2, lineWords = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((2L, "a b c d", 2L, 1L), (3L, "p q", 1L, 0L)))
  }

  test("incrementalDedup flags batch docs against the corpus only") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon"),            // exact dup of 1
      (101L, "one two three four five six seven"),         // near dup of 2 (J = 4/5)
      (102L, "completely different content here"),         // clean
      (103L, "completely different content here"))         // intra-BATCH dup: stays keep=true
      .toDF("doc_id", "text")
    val out = CorpusOps.incrementalDedup(corpus, batch).orderBy("doc_id")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(out == Seq(
      (100L, true, true, false),   // identical text: exact AND trivially near
      (101L, false, true, false),
      (102L, false, false, true),
      (103L, false, false, true))) // batch-internal dups are out of scope by contract
  }

  test("bloomIncrementalDedup verdicts are bit-identical to the plain exact join") {
    // the bloom gate is a COST optimization: no false negatives + an
    // exact confirm join means results can never differ from the
    // unfiltered exact check — pin that, including under a sketch
    // sized far too small (expectedItems=4 for a 500-doc corpus →
    // high fpp → more confirm work, same verdicts)
    val docs = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val batch = docs.filter(col("doc_id") % 20 === 0)
    val plain = batch.select(col("doc_id"), sha2(col("text"), 256).as("bh"))
      .join(corpus.select(sha2(col("text"), 256).as("ch")).distinct()
              .withColumn("d", lit(true)),
            col("bh") === col("ch"), "left")
      .select(col("doc_id"), coalesce(col("d"), lit(false)).as("exact_dup"))
      .orderBy("doc_id").as[(Long, Boolean)].collect().toSeq
    for (items <- Seq(4L, 1L << 20)) {
      val bloomed = CorpusOps.bloomIncrementalDedup(corpus, batch, items)
        .orderBy("doc_id").as[(Long, Boolean)].collect().toSeq
      assert(bloomed == plain, s"bloom-gated verdicts drifted at expectedItems=$items")
    }
  }

  test("ngramNovelty scores first-seen grams to the smallest doc_id") {
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y")).toDF("doc_id", "text")
    val out = CorpusOps.ngramNovelty(docs, n = 2).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // d1: {ab, bc} both first here -> 1.0; d2: {ab (seen in 1), bd} -> 0.5;
    // d3: {xy} -> 1.0
    assert(out == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 1L, 1L, 1.0)))
  }

  test("sourceOverlap counts distinct shared grams per source pair, ordered") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "a b d", "s2"), (3L, "x y", "s2"),
      (4L, "a b e", "s3"))
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceOverlap(docs, n = 2)
      .orderBy("src_a", "src_b").as[(String, String, Long)].collect().toSeq
    // "a b" is the only cross-source bigram, shared by all three sources
    assert(out == Seq(("s1", "s2", 1L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("ivfpqIncremental assignments equal a full rebuild's for the same vectors") {
    // The incremental path's contract: given the SAME frozen centroids,
    // assigning the batch alone must land every vector in exactly the
    // list a full-corpus rebuild would assign it (assignment is
    // per-vector); drift of an in-distribution batch stays near 1.
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExprs.vec_l2sq
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val train = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)
    val inc = CorpusOps.ivfpqIncremental(train, batch)(CacheScope.sessionOwned)
      .select("vec_id", "cid", "drift").collect()
    // full rebuild of the assignment over the WHOLE corpus, same seeds
    val cents = train.filter(col("vec_id") < 32)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val full = e.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .crossJoin(broadcast(cents))
      .withColumn("d2c", round(vec_l2sq(col("ve"), col("ce")), 6))
      .groupBy("vid").agg(min(struct(col("d2c"), col("cid"))).as("b"))
      .select(col("vid"), col("b.cid").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc.nonEmpty)
    for (r <- inc)
      assert(r.getLong(1) == full(r.getLong(0)),
        s"vec ${r.getLong(0)} assigned ${r.getLong(1)} incrementally vs full ${full(r.getLong(0))}")
    val drift = inc.head.getDouble(2)
    assert(drift > 0.5 && drift < 2.0,
      s"in-distribution batch should not signal re-train (drift $drift)")
  }

  test("retrainIfDrifted: below the gate the FROZEN index passes through; above it the retrained index equals a from-scratch build") {
    import org.apache.spark.sql.functions._
    implicit val scope: CacheScope = CacheScope.sessionOwned
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val train = e.filter(col("vec_id") < 400).select("vec_id", "embedding")
    // BELOW: an in-distribution batch (drift ~1) must return exactly
    // ivfpqIncremental's frozen result, untriggered
    val plain = e.filter(col("vec_id") >= 400).select("vec_id", "embedding")
    val (frozen, trig0) = CorpusOps.retrainIfDrifted(train, plain, 1.5)
    assert(!trig0, "in-distribution batch must not trip the re-train gate")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(frozen) == rows(CorpusOps.ivfpqIncremental(train, plain)),
      "below-gate result diverged from the frozen incremental path")
    // ABOVE: a scaled batch (L2-drifted ~2.9x) trips the gate, and the
    // retrained output equals the SAME pipeline built from scratch on
    // the grown corpus with the new codebook
    val scaled = e.filter(col("vec_id") >= 400).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double) * 2)").as("embedding"))
    val (retrained, trig1) = CorpusOps.retrainIfDrifted(train, scaled, 1.5)
    assert(trig1, "the scaled batch must trip the re-train gate")
    val all = train.unionByName(scaled)
    val cents = CorpusOps.kmeansCentroidsL2(all)
    import graft.functions.VectorExprs.vec_l2sq
    val assign = all.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .crossJoin(broadcast(cents))
      .withColumn("d2c", round(vec_l2sq(col("ve"), col("ce")), 6))
      .groupBy("vid").agg(min(struct(col("d2c"), col("cid"))).as("b"))
      .select(col("vid"), col("b.cid").as("cid"), col("b.d2c").as("d2c"))
    val res = assign
      .join(all.select(col("vec_id").as("vid"), col("embedding").as("ve")), "vid")
      .join(broadcast(cents), "cid")
      .select(col("vid").as("vec_id"),
        expr("zip_with(ve, ce, (a, b) -> cast(a as double) - cast(b as double))")
          .as("embedding"))
    val cb = CorpusOps.pqCodebookTrained(res)
    val scratch = CorpusOps.pqEncode(res, cb)
      .groupBy("vec_id")
      .agg(sum(expr("code * cast(pow(16, sub) as bigint)")).as("code_sum"))
      .join(assign.withColumnRenamed("vid", "vec_id"), "vec_id")
      .select("vec_id", "cid", "d2c", "code_sum")
    assert(rows(retrained.drop("drift")) == rows(scratch),
      "retrained index diverged from the from-scratch build")
    // the reported drift is the frozen-quantizer trigger value
    val drift = retrained.select("drift").head().getDouble(0)
    assert(drift > 1.5, s"reported drift $drift should exceed the gate")
  }

  test("stored quantizer state: the frozen path equals ivfpqIncremental bit-for-bit and NEVER reads stored vectors") {
    // The round-17 cost-shape fix: trainQuantizer persists the frozen
    // state once; ivfpqEncodeStored / retrainIfDriftedStored consume
    // it with batch-bounded work. Two pins here: (1) given a state
    // trained on the same train corpus and a stored index covering it,
    // the batch output — cid, d2c, code_sum AND the drift ratio (whose
    // denominator now comes from the stored index's persisted d2c
    // column) — is bit-identical to the self-contained
    // ivfpqIncremental; (2) the below-gate arm provably never touches
    // stored VECTORS: we hand it a poisoned stored-vector table whose
    // scan raise_errors, and the frozen commit still collects.
    import org.apache.spark.sql.functions._
    implicit val scope: CacheScope = CacheScope.sessionOwned
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val train = e.filter(col("vec_id") < 400).select("vec_id", "embedding")
    val batch = e.filter(col("vec_id") >= 400).select("vec_id", "embedding")
    val state = CorpusOps.trainQuantizer(train)
    val storedIndex = CorpusOps.ivfpqEncodeAll(state, train)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(CorpusOps.ivfpqEncodeStored(state, storedIndex, batch))
        == rows(CorpusOps.ivfpqIncremental(train, batch)),
      "stored-state frozen path diverged from the self-contained incremental path")
    val poisoned = train.withColumn("embedding",
      expr("transform(embedding, e -> " +
        "cast(raise_error('frozen path scanned stored vectors') as double))"))
      .select("vec_id", "embedding")
    val (frozen, trig, stateOut) = CorpusOps.retrainIfDriftedStored(
      state, storedIndex, poisoned, batch, driftThreshold = 1.5)
    assert(!trig, "in-distribution batch must not trip the stored-state gate")
    assert(rows(frozen) == rows(CorpusOps.ivfpqIncremental(train, batch)),
      "below-gate stored-state commit diverged (or the poison proves nothing)")
    assert(stateOut eq state, "the frozen path must hand back the UNCHANGED state")
  }

  test("retrainIfDriftedStored: past the gate the commit AND the returned state equal the self-contained re-train") {
    import org.apache.spark.sql.functions._
    implicit val scope: CacheScope = CacheScope.sessionOwned
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val train = e.filter(col("vec_id") < 400).select("vec_id", "embedding")
    val scaled = e.filter(col("vec_id") >= 400).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double) * 2)").as("embedding"))
    val state = CorpusOps.trainQuantizer(train)
    val storedIndex = CorpusOps.ivfpqEncodeAll(state, train)
    val (stored, trig, newState) = CorpusOps.retrainIfDriftedStored(
      state, storedIndex, train, scaled, driftThreshold = 1.5)
    assert(trig, "the scaled batch must trip the stored-state gate")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val (legacy, trigL) = CorpusOps.retrainIfDrifted(train, scaled, 1.5)
    assert(trigL)
    assert(rows(stored) == rows(legacy),
      "stored-state re-train commit diverged from retrainIfDrifted (incl. drift)")
    // the returned state re-derives the committed index: a consumer
    // persisting (index, state) can serve later frozen batches from it
    assert(rows(CorpusOps.ivfpqEncodeAll(newState, train.unionByName(scaled)))
        == rows(stored.drop("drift")),
      "re-encoding the grown corpus with the RETURNED state diverged from the commit")
  }

  test("retrainIfDrifted: an EMPTY batch never triggers (NULL drift ratio takes the frozen path)") {
    import org.apache.spark.sql.functions._
    implicit val scope: CacheScope = CacheScope.sessionOwned
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val train = e.filter(col("vec_id") < 100).select("vec_id", "embedding")
    val empty = train.limit(0)
    val (out, trig) = CorpusOps.retrainIfDrifted(train, empty, 1.5)
    assert(!trig, "an empty batch must not trip the re-train gate")
    assert(out.count() == 0, "frozen path over an empty batch must emit no rows")
  }

  test("nearDupPairs finds planted near-dups and nothing else on a clean corpus") {
    val base = (0 until 40).map(i => s"w${i}a w${i}b w${i}c w${i}d w${i}e").toSeq
    val near = base.head.split(" ").dropRight(0).mkString(" ") // identical text
    val docs = (base :+ near).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val pairs = CorpusOps.nearDupPairs(docs).as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((0L, 40L, 1.0)))
  }

  test("LSH banding kit: stream IngestDedup verdicts == batch lshCandidates over the docs arrived so far") {
    val rows = graft.Tables(spark, SparkFixture.sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // three micro-batches, each spanning the id range: later batches
    // bring smaller ids as well as larger ones
    val batches = (0 until 3).map(b => rows.filter(r => 2 - r._1 % 3 == b))
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.IngestDedup.bandCollisions(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("kit_stream").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .start()
    try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val stream = spark.table("kit_stream").groupBy("doc_id").agg(max(col("dup")))
      .as[(Long, Boolean)].collect().toMap
    // keep-first sees only what has arrived: a doc of batch i is a dup
    // iff it is the d2 of a band candidate among batches 0..i
    def d2s(docs: Seq[(Long, String)]): Set[Long] = {
      val sigs = CorpusOps.minhashSigs(docs.toDF("doc_id", "text"))
      CorpusOps.lshCandidates(CorpusOps.lshBands(sigs.select("doc_id", "sig"), 16, 4))
        .select("d2").as[Long].collect().toSet
    }
    val batch = batches.indices.flatMap { i =>
      val seen = d2s(batches.take(i + 1).flatten)
      batches(i).map(r => r._1 -> seen(r._1))
    }.toMap
    assert(stream == batch)
    // the fixture exercises both a plain collision and a smaller id
    // arriving after its larger twin (whose verdict stays clean)
    val whole = d2s(rows)
    assert(batch.values.count(identity) > 0)
    assert(batch.exists { case (d, dup) => dup != whole(d) },
      "no colliding pair arrived larger id first")
  }

  test("BM25 kit: bm25Top over maintained stats and tf == bm25Top over a rebuild, rank for rank") {
    val terms = Seq("table", "scan", "join", "merge")
    val stored = Seq(
      (1L, "table scan alpha beta"),
      (2L, "scan table beta alpha"), // same tf and dl as doc 1: equal scores
      (3L, "merge gamma delta"), // the only 'merge' doc, deleted below
      (4L, "alpha beta gamma delta"), // no catalog term
      (5L, "join join table delta epsilon"),
      (6L, "scan epsilon")).toDF("doc_id", "text")
    val ins = Seq((7L, "join scan zeta zeta"), (8L, "omega")).toDF("doc_id", "text")
    val del = stored.filter(col("doc_id").isin(3L, 6L))
    val post = stored.filter(!col("doc_id").isin(3L, 6L)).unionByName(ins)

    // maintained: the signed rows through the counted Z-set maintainer
    val statsM = TableOps.maintainAggCounted(
      CorpusOps.bm25StatRows(stored, terms, 1).groupBy("stat", "k")
        .agg(sum("v").as("v"), count(lit(1)).as("cnt")),
      CorpusOps.bm25StatRows(ins, terms, 1).unionByName(CorpusOps.bm25StatRows(del, terms, -1)),
      keys = Seq("stat", "k"), sumCols = Seq("v"))
    def signedTf(d: org.apache.spark.sql.DataFrame, mult: Long) =
      CorpusOps.bm25TfRows(d, terms).withColumn("_mult", lit(mult))
    val tfM = TableOps.maintainAggCounted(
      CorpusOps.bm25TfRows(stored, terms).withColumn("cnt", lit(1L)),
      signedTf(ins, 1L).unionByName(signedTf(del, -1L)),
      keys = Seq("doc_id", "term"), sumCols = Seq("tf", "dl"))
    val maintained = CorpusOps.bm25Top(tfM,
      statsM.filter(col("stat") === "df").select(col("k").as("term"), col("v").as("df")),
      statsM.filter(col("stat") === "len").select(
        (col("v").cast("double") / col("cnt").cast("double")).as("avgdl"), col("cnt").as("n_docs")),
      10)

    // rebuilt: fresh tf, df and corpus stats over the post-batch corpus
    val tf = CorpusOps.bm25TfRows(post, terms)
    val rebuilt = CorpusOps.bm25Top(tf, tf.groupBy("term").agg(count(lit(1)).as("df")),
      post.withColumn("ws", split(col("text"), " ")).agg(count(lit(1)).as("n_docs"),
        (sum(size(col("ws"))).cast("double") / count(lit(1))).as("avgdl")),
      10)

    def ranked(df: org.apache.spark.sql.DataFrame) = df.as[(Int, Long, Double)].collect().toSeq
    val got = ranked(maintained)
    assert(got == ranked(rebuilt))
    // the vanished term left no state behind, the termless doc and the
    // deleted docs never rank, and the tie breaks on doc_id
    assert(statsM.filter(col("k") === "merge").isEmpty)
    assert(tfM.filter(col("term") === "merge").isEmpty)
    assert(got.map(_._2).toSet == Set(1L, 2L, 5L, 7L))
    val one = got.find(_._2 == 1L).get
    val two = got.find(_._2 == 2L).get
    assert(one._3 == two._3 && one._1 + 1 == two._1)
  }

  test("simhashPairs finds every pair within the radius, at three chunk widths") {
    val fixture = graft.Tables(spark, SparkFixture.sfDir, "documents")
      .select(col("doc_id"), graft.functions.SimHashExprs.simhash_sig(
        graft.functions.ShingleExprs.shingle_sha60(col("text"))).as("sig"))
      .as[(Long, Long)].collect().toSeq
    // plus planted variants at hamming 1..12 from seeded bases, the
    // flipped bits anywhere in the 60, so pairs straddle every chunk
    val rnd = new scala.util.Random(7L)
    val planted = (0 until 30).flatMap { b =>
      val base = rnd.nextLong() & ((1L << 60) - 1)
      (0 to 12).map { d =>
        val bits = rnd.shuffle((0 until 60).toList).take(d)
        (1000000L + b * 100 + d, bits.foldLeft(base)((s, i) => s ^ (1L << i)))
      }
    }
    val all = fixture ++ planted
    val sigs = all.toDF("doc_id", "sig")
    // n sets the chunk width: w = 6 (k = 10), 9 (k = 7, a 6-bit last
    // chunk) and 18 (k = 4, a 6-bit last chunk); radius min(9, k - 1)
    for ((n, radius) <- Seq((all.size.toLong, 9), (200000L, 6), (1L << 26, 3))) {
      val got = CorpusOps.simhashPairs(sigs, n).as[(Long, Long, Int)].collect().toSeq
      val brute = for {
        (a, i) <- all.zipWithIndex; (b, j) <- all.zipWithIndex if i < j
        h = java.lang.Long.bitCount(a._2 ^ b._2) if h <= radius
      } yield (math.min(a._1, b._1), math.max(a._1, b._1), h)
      assert(got.size == got.distinct.size, s"n = $n: duplicate pairs")
      assert(got.toSet == brute.toSet, s"n = $n: ${brute.toSet.diff(got.toSet).take(5)} missed")
      assert(brute.count(_._1 < 1000000L) > 0 && brute.exists(_._3 == radius), s"n = $n: fixture too easy")
    }
  }

  test("topPrincipalDirection recovers a planted dominant direction") {
    implicit val scope: CacheScope = CacheScope.sessionOwned
    // 200 vectors in R^8: strong variance along the planted unit
    // direction (dims 0 and 1, equal weight), small deterministic
    // noise elsewhere — the top eigenvector of the sample covariance
    // is ~the planted direction, and 3 power iterations from all-ones
    // must land within cos >= 0.99 of it
    val planted = Array(1.0, 1.0, 0, 0, 0, 0, 0, 0).map(_ / math.sqrt(2.0))
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val a = (i % 21) - 10.0 // strong signal in [-10, 10]
      (i.toLong, Array.tabulate(8)(d =>
        (a * planted(d) + 0.05 * (rnd.nextDouble() * 2 - 1)).toFloat))
    }
    val v = CorpusOps.topPrincipalDirection(rows.toDF("vec_id", "embedding"))
      .orderBy("d").collect().map(_.getDouble(1))
    val cos = v.zip(planted).map { case (a, b) => a * b }.sum /
      math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(cos) >= 0.99, s"direction missed the planted axis: cos = $cos")
    // unit norm (up to the per-component 9dp rounding)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6)
  }

  test("topPrincipalDirections deflation recovers two planted orthogonal axes in variance order") {
    implicit val scope: CacheScope = CacheScope.sessionOwned
    val a1 = Array(1.0, 1.0, 0, 0, 0, 0, 0, 0).map(_ / math.sqrt(2.0)) // strong axis
    val a2 = Array(0, 0, 1.0, -1.0, 0, 0, 0, 0).map(_ / math.sqrt(2.0)) // weaker, orthogonal
    val rnd = new scala.util.Random(13)
    val rows = (0 until 300).map { i =>
      val s1 = (i % 21) - 10.0          // variance ~36
      val s2 = ((i % 7) - 3.0)          // variance ~4
      (i.toLong, Array.tabulate(8)(d =>
        (s1 * a1(d) + s2 * a2(d) + 0.03 * (rnd.nextDouble() * 2 - 1)).toFloat))
    }
    val dirs = CorpusOps.topPrincipalDirections(rows.toDF("vec_id", "embedding"), k = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    def comp(c: Int): Array[Double] =
      dirs.filter(_._1 == c).sortBy(_._2).map(_._3)
    def cos(u: Array[Double], w: Array[Double]): Double =
      u.zip(w).map { case (a, b) => a * b }.sum /
        (math.sqrt(u.map(x => x * x).sum) * math.sqrt(w.map(x => x * x).sum))
    assert(math.abs(cos(comp(1), a1)) >= 0.99, "component 1 must be the high-variance axis")
    assert(math.abs(cos(comp(2), a2)) >= 0.99, "component 2 must be the deflated second axis")
    assert(math.abs(cos(comp(1), comp(2))) <= 0.05, "components must be near-orthogonal")
  }

  /** The cascade fixture: eight stored docs and a three-doc batch
    * with planted exact and near-dup groups, 4-d vectors around three
    * axis centroids. */
  private object cascade {
    import org.apache.spark.sql.DataFrame
    val base40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val near40 = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val mid40 = ((1 to 19).map(i => s"w$i") ++ Seq("qq") ++
      (21 to 40).map(i => s"w$i")).mkString(" ")
    val v40 = (1 to 40).map(i => s"v$i").mkString(" ")
    val v40b = (1 to 39).map(i => s"v$i").mkString(" ") + " vz"
    val stored = Seq(
      1L -> base40, 2L -> base40, 3L -> near40, 4L -> v40,
      5L -> ("alpha beta alpha " + (1 to 20).map(i => s"u$i").mkString(" ")),
      6L -> (1 to 30).map(i => s"x$i").mkString(" "),
      7L -> (1 to 30).map(i => s"y$i").mkString(" "),
      8L -> mid40).toDF("doc_id", "text")
    val batch = Seq(
      11L -> base40,
      12L -> ("alpha " + (1 to 30).map(i => s"p$i").mkString(" ")),
      13L -> v40b).toDF("doc_id", "text")
    val terms = Seq("alpha", "beta")
    def vec(a: Double, b: Double, c: Double, d: Double) = Seq(a, b, c, d)
    val allVecs = Map(
      1L -> vec(1, 0.1, 0, 0), 2L -> vec(0.9, 0.2, 0, 0),
      3L -> vec(0.8, 0.1, 0.1, 0), 4L -> vec(0, 1, 0.1, 0),
      5L -> vec(0, 0.9, 0.2, 0), 6L -> vec(0.1, 0, 1, 0),
      7L -> vec(0, 0.1, 0.9, 0), 8L -> vec(0.7, 0.3, 0, 0),
      11L -> vec(0.95, 0.1, 0, 0), 12L -> vec(0.1, 0.95, 0, 0),
      13L -> vec(0, 0.2, 0.95, 0))
    def vecsOf(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, allVecs(i))).toDF("vec_id", "embedding")
    val cents = Seq((100L, vec(1, 0, 0, 0)), (101L, vec(0, 1, 0, 0)),
      (102L, vec(0, 0, 1, 0))).toDF("cid", "embedding")
    val annK = 2; val probeK = 2
  }

  test("cascade batches CHAIN off the returned bundle: ingest then delete == rebuild from the final corpus, auxiliaries included") {
    // The round-14 CascadeResult returned four repaired artifacts but
    // not the auxiliaries the NEXT batch needs, so consecutive batches
    // had to re-derive exactAux/pairs/probes/assign out-of-band. This
    // pins the chained lifecycle: arts0 --ingest--> res1.artifacts
    // --delete--> res2.artifacts, every member (auxiliaries too) equal
    // to that artifact rebuilt from the final corpus with the SAME
    // frozen quantizer.
    implicit val scope: CacheScope = CacheScope.sessionOwned
    import org.apache.spark.sql.DataFrame
    import cascade._
    // ONE canonical build arm — the same buildArtifacts the l6 queries
    // and T26 construct from
    def artsOf(docs: DataFrame, vecs: DataFrame): CorpusOps.CorpusArtifacts =
      CorpusOps.buildArtifacts(docs, vecs, cents, terms, annK, probeK)
    val arts0 = artsOf(stored, vecsOf((1L to 8L).toSeq))
    val res1 = CorpusOps.ingestDocuments(batch, stored, arts0,
      vecsOf(Seq(11L, 12L, 13L)), cents, terms, annK, probeK)
    // delete 1 (the group-A keeper — runner-up promotion) and 12 (a
    // doc the FIRST batch ingested — only the chained aux knows it)
    val docsAll = stored.unionByName(batch)
    val del = Seq(1L, 12L).toDF("doc_id")
    val res2 = CorpusOps.deleteDocuments(del, docsAll, res1.artifacts, terms, annK)
    // the gate: rebuild every artifact from the final corpus
    val finalIds = Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L, 11L, 13L)
    val finalDocs = docsAll.filter(!col("doc_id").isin(1L, 12L))
    val rebuilt = artsOf(finalDocs, vecsOf(finalIds))
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
        .as[(Long, Long)].collect().toSet
    assert(rows(res2.artifacts.exactKeepers) == rows(rebuilt.exactKeepers),
      "chained exact keepers diverged from the rebuild")
    assert(rows(res2.artifacts.exactAux) == rows(rebuilt.exactAux),
      "chained exactAux membership diverged")
    assert(pairSet(res2.artifacts.pairs) == pairSet(rebuilt.pairs),
      "chained pair graph diverged")
    assert(rows(res2.artifacts.clusters) == rows(rebuilt.clusters),
      "chained clusters diverged")
    assert(rows(res2.artifacts.annProbes) == rows(rebuilt.annProbes),
      "chained ANN probes diverged")
    assert(rows(res2.artifacts.annAssign) == rows(rebuilt.annAssign),
      "chained ANN assignments diverged")
    assert(rows(res2.artifacts.annIndex) == rows(rebuilt.annIndex),
      "chained ANN index diverged from the frozen-quantizer rebuild")
    assert(rows(res2.artifacts.vectors.select(col("vec_id"), col("embedding"))) ==
      rows(rebuilt.vectors), "chained vectors diverged")
    assert(rows(res2.artifacts.bm25Stats) == rows(rebuilt.bm25Stats),
      "chained BM25 stats diverged")
    // sanity on the planted structure: group A lost keeper 1 and
    // gained 11, so the maintained keeper must be the runner-up 2
    val gA = res2.artifacts.exactKeepers
      .join(finalDocs.filter(col("doc_id") === 2L)
        .select(sha2(col("text"), 256).as("h")), "h")
      .select("keeper", "n_dups").as[(Long, Long)].collect().toSeq
    assert(gA == Seq((2L, 2L)), s"group A keeper/count: $gA") // {2, 11} survive of {1, 2, 11}
  }

  test("cosine-IVF kit tie rules: lower cid / lower vid win ties, no self-match, min(probeK, nlist) cells") {
    // 1 = 2 and 3 = 4 as vectors; centroids 100 = 101
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(1.0, 0.0, 0.0)),
      (3L, Seq(0.9, 0.1, 0.0)), (4L, Seq(0.9, 0.1, 0.0)),
      (5L, Seq(0.0, 1.0, 0.0))).toDF("id", "v")
    val cents = Seq((100L, Seq(1.0, 0.0, 0.0)), (101L, Seq(1.0, 0.0, 0.0)),
      (102L, Seq(0.0, 1.0, 0.0))).toDF("c", "v")
    def cellsOf(probeK: Int): Map[Long, Seq[(Long, Int)]] =
      CorpusOps.cosineCells(vecs, cents, probeK).as[(Long, Long, Int)].collect()
        .groupBy(_._1).map { case (v, rs) => v -> rs.map(r => (r._2, r._3)).sortBy(_._2).toSeq }
    val cells2 = cellsOf(2)
    // identical centroids: the lower cid takes rn = 1
    assert(cells2(1L) == Seq((100L, 1), (101L, 2)), cells2.toString)
    assert(cells2(5L) == Seq((102L, 1), (100L, 2)), cells2.toString)
    assert(cells2.values.forall(_.size == 2))
    // probeK past nlist: every cell, once
    assert(cellsOf(5).values.forall(cs => cs.map(_._1).sorted == Seq(100L, 101L, 102L)))
    val cells = CorpusOps.cosineCells(vecs, cents, 2)
    val scored = CorpusOps.cellScores(cells.select(col("vid").as("qid"), col("cid")),
      cells.filter(col("rn") === 1).select("vid", "cid"), vecs)
    assert(scored.filter(col("qid") === col("vid")).isEmpty, "a vector listed itself")
    assert(scored.groupBy("qid", "vid").count().filter(col("count") > 1).isEmpty)
    val top = CorpusOps.topPerQuery(scored, 4).as[(Long, Int, Long, Double)].collect()
    def ranked(q: Long): Seq[Long] = top.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
    // equal round-6 cosine (1 vs 2, 3 vs 4): the lower vid ranks first
    assert(ranked(5L) == Seq(3L, 4L, 1L, 2L), top.toSeq.toString)
    assert(ranked(3L) == Seq(4L, 1L, 2L), top.toSeq.toString)
    assert(ranked(1L) == Seq(2L, 3L, 4L), top.toSeq.toString)
  }

  test("cascade ingest's fused re-rank pass: batch ids are new, and one pass over affected ∪ batch == the two separate passes") {
    implicit val scope: CacheScope = CacheScope.sessionOwned
    import cascade._
    val storedVecs = vecsOf((1L to 8L).toSeq)
    val batchVecs = vecsOf(Seq(11L, 12L, 13L))
    val arts = CorpusOps.buildArtifacts(stored, storedVecs, cents, terms, annK, probeK)
    // (a) the contract the fusion rests on: batch vec ids are disjoint
    // from the stored ones
    assert(batchVecs.select("vec_id").intersect(arts.vectors.select("vec_id")).isEmpty)
    // (b) the two probe sets ingestDocuments fuses
    val batchCells = CorpusOps.cosineCells(batchVecs, cents, probeK)
    val batchAssign = batchCells.filter(col("rn") === 1).select("vid", "cid")
    val assignAll = arts.annAssign.unionByName(batchAssign)
    val vecsAll = arts.vectors.unionByName(batchVecs)
    val affected = arts.annProbes
      .join(batchAssign.select("cid").distinct(), Seq("cid"), "left_semi")
      .select("qid").distinct()
    val affectedProbes = arts.annProbes.join(affected, Seq("qid"), "left_semi")
    val batchProbes = batchCells.select(col("vid").as("qid"), col("cid"))
    def pass(probes: org.apache.spark.sql.DataFrame): Set[String] =
      CorpusOps.topPerQuery(CorpusOps.cellScores(probes, assignAll, vecsAll), annK)
        .collect().map(_.toString).toSet
    val fused = pass(affectedProbes.unionByName(batchProbes))
    val separate = pass(affectedProbes) ++ pass(batchProbes)
    assert(!affected.isEmpty && pass(affectedProbes).nonEmpty && pass(batchProbes).nonEmpty,
      "fixture no longer exercises both arms")
    assert(fused == separate, s"fused $fused != separate $separate")
    // and the fused pass is what ingestDocuments stores for those nodes
    val res = CorpusOps.ingestDocuments(batch, stored, arts, batchVecs, cents,
      terms, annK, probeK)
    val stored2 = res.artifacts.annIndex
      .join(affectedProbes.select("qid").unionByName(batchProbes.select("qid")).distinct(),
        Seq("qid"), "left_semi")
      .select("qid", "rn", "vid", "simr").collect().map(_.toString).toSet
    assert(stored2 == fused)
  }
}
