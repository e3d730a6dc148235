package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-call corpus curation — the composed pipeline a production run
  * executes per snapshot: quality gate → exact-dedup keepers →
  * near-dup removal → eval-set decontamination → deterministic
  * fixed-length sequence packing, plus the per-stage funnel table the
  * run publishes. This is the "switch from ad-hoc scripts" entry
  * point: every stage is one of the individually oracle-gated library
  * ops, composed under the rules they were designed for.
  *
  * Composition rules:
  *  - the expensive keeper/pair stages build ONCE ([[CleanupStages]])
  *    and serve the curated set and the funnel alike;
  *  - every scaffold caches under the caller's [[CacheScope]] — a
  *    pipeline session passes `CacheScope.owned()` and `close()`s it
  *    after its terminal actions (storage returns to baseline,
  *    spec-pinned);
  *  - every stage is deterministic (hash keepers, 6-dp-rounded quality
  *    gate, integer packing), so two runs — or two engines — produce
  *    identical curated sets, layouts, and funnels.
  *
  * Scale shape: the stages add NO plan shapes beyond their audited
  * standalone forms (docs/PLANS.md); the composition shares, never
  * multiplies, the corpus-sized work.
  */
object TrainDataPipeline {

  /** curated: surviving docs (original columns; with `spanDedup` on,
    *          `text` is the span-cleaned rewrite and fully-emptied docs
    *          are dropped).
    * packed:  (shard, seq, doc_id, off, len) sequence layout over them.
    * funnel:  (stage_id, stage, docs_in, removed, docs_out) — 4 rows,
    *          5 with the span stage (its `removed` counts docs whose
    *          every token was a duplicated-run member), 6 with a
    *          `sampleBudget` (quality-weighted downsample). */
  final case class Output(curated: DataFrame, packed: DataFrame, funnel: DataFrame)

  def run(docs: DataFrame, isEval: Column, minQuality: Double = 0.6,
          seqLen: Long = 256L, nshards: Long = 16L,
          spanDedup: Boolean = false,
          sampleBudget: Option[Long] = None)
         (implicit scope: CacheScope): Output = {
    // the budget feeds limit(budget.toInt): a Long above Int.MaxValue
    // would silently truncate (possibly negative -> runtime throw) —
    // fail loudly at entry instead. A >2^31-doc KEEP budget also means
    // the top-k shuffle shape is wrong for the job (take a fraction,
    // not a limit), so the bound is semantic, not just arithmetic.
    sampleBudget.foreach(b => require(b > 0 && b <= Int.MaxValue,
      s"sampleBudget must be in [1, ${Int.MaxValue}] (got $b)"))
    val train = docs.filter(!isEval)
    val flagged = train
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_tok", size(col("ws")))
      .withColumn("stop_n", TextScores.stopCountEn(col("ws")))
      .withColumn("q_ok",
        TextScores.quality(col("n_tok"), col("stop_n")) >= minQuality)
    val gated = flagged.filter(col("q_ok")).select(train.columns.map(col): _*)
    val stages = CleanupStages(gated)
    // contaminated ids are read by the curated set AND the funnel —
    // cache the (tiny, output-sensitive) id table, not the gram join
    val contaminated = scope.cached(
      CorpusOps.decontaminate(docs, isEval).select(col("doc_id")))
    val survivors = stages.keepers.select("doc_id")
      .join(stages.nearDupDropIds, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val survived = gated.join(survivors, Seq("doc_id"), "left_semi")
    // optional stage 5: residual cross-doc >=8-token runs removed
    // token-exactly (CorpusOps.spanDedup — runs AFTER doc-level dedup,
    // so it only sees the boilerplate runs doc dedup can't reach);
    // docs emptied by the rewrite drop out of the curated set. The
    // rewrite table is survivor-sized (it carries the cleaned text)
    // and is read by the curated join AND the funnel — scope-cached so
    // the span pipeline runs once, released with the session's scope.
    val spanned = if (!spanDedup) None else Some(scope.cached(
      CorpusOps.spanDedup(survived).select(col("doc_id"), col("clean_text"), col("n_kept"))))
    val afterSpan = spanned match {
      case None => survived
      case Some(sd) =>
        survived.join(sd.filter(col("n_kept") > 0), Seq("doc_id"), "inner")
          .select(survived.columns.map(c =>
            if (c == "text") col("clean_text").as("text") else col(c)): _*)
    }
    // optional stage 6: quality-WEIGHTED downsample to a doc budget —
    // the l8_weighted_sample semantics (Efraimidis-Spirakis keys
    // u^(1/q) over the deterministic id-hash, q = the SAME TextScores
    // quality the gate scored on the ORIGINAL text) as a pipeline
    // stage: "prefer the best-written survivors but keep diversity"
    // when the curated set still exceeds the training budget. A global
    // top-k (TakeOrderedAndProject — partial per-partition), so the
    // stage adds one scan + budget rows of shuffle; the selected-id
    // table is budget-sized and cached (curated join + funnel both
    // read it). Deterministic: same corpus, same budget -> same ids.
    val sampledIds = sampleBudget.map { budget =>
      scope.cached(afterSpan.select(col("doc_id"))
        .join(flagged.select(col("doc_id"),
          TextScores.quality(col("n_tok"), col("stop_n")).as("qw")), Seq("doc_id"))
        .withColumn("u", CorpusOps.idUniform)
        .withColumn("k", pow(col("u"), lit(1.0) / col("qw")))
        .orderBy(desc("k"), asc("doc_id")).limit(budget.toInt)
        .select(col("doc_id")))
    }
    val curated = sampledIds.fold(afterSpan)(ids =>
      afterSpan.join(ids, Seq("doc_id"), "left_semi"))
    val packed = CorpusOps.packSequences(curated, seqLen, nshards)

    // single-pass funnel: per-doc stage flags fold into one aggregate
    // row, the four stage rows explode from a literal array — no
    // per-stage rescan (the filterFunnel pattern, one stage longer)
    val flags0 = flagged.select(col("doc_id"), col("q_ok"))
      .join(stages.keepers.select(col("doc_id"), lit(true).as("is_keeper")),
        Seq("doc_id"), "left")
      .join(stages.nearDupDropIds.withColumn("is_near", lit(true)),
        Seq("doc_id"), "left")
      .join(contaminated.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
    val flags1 = spanned match {
      case None => flags0.withColumn("n_kept", lit(null).cast("long"))
      case Some(sd) => flags0.join(sd.select("doc_id", "n_kept"), Seq("doc_id"), "left")
    }
    val flags = sampledIds match {
      case None => flags1.withColumn("is_sampled", lit(null).cast("boolean"))
      case Some(ids) =>
        flags1.join(ids.withColumn("is_sampled", lit(true)), Seq("doc_id"), "left")
    }
    val c = flags.agg(
      count(lit(1)).as("c0"),
      count(when(col("q_ok"), lit(1))).as("c1"),
      count(when(col("q_ok") && col("is_keeper").isNotNull, lit(1))).as("c2"),
      count(when(col("q_ok") && col("is_keeper").isNotNull &&
        col("is_near").isNull, lit(1))).as("c3"),
      count(when(col("q_ok") && col("is_keeper").isNotNull &&
        col("is_near").isNull && col("is_contam").isNull, lit(1))).as("c4"),
      count(when(col("q_ok") && col("is_keeper").isNotNull &&
        col("is_near").isNull && col("is_contam").isNull &&
        coalesce(col("n_kept"), lit(1L)) > 0, lit(1))).as("c5"),
      count(when(col("q_ok") && col("is_keeper").isNotNull &&
        col("is_near").isNull && col("is_contam").isNull &&
        coalesce(col("n_kept"), lit(1L)) > 0 &&
        col("is_sampled").isNotNull, lit(1))).as("c6"))
    def stageRow(id: Int, name: String, in: Column, out: Column) = struct(
      lit(id).as("stage_id"), lit(name).as("stage"),
      in.as("docs_in"), (in - out).as("removed"), out.as("docs_out"))
    val lastPreSample = if (spanDedup) col("c5") else col("c4")
    val stageRows = Seq(
        stageRow(1, "quality_gate", col("c0"), col("c1")),
        stageRow(2, "exact_dedup", col("c1"), col("c2")),
        stageRow(3, "near_dedup", col("c2"), col("c3")),
        stageRow(4, "decontaminate", col("c3"), col("c4"))) ++
      (if (spanDedup) Seq(stageRow(5, "span_dedup", col("c4"), col("c5"))) else Nil) ++
      (if (sampleBudget.isDefined)
        Seq(stageRow(6, "weighted_sample", lastPreSample, col("c6"))) else Nil)
    val funnel = c.select(explode(array(stageRows: _*)).as("s"))
      .select(col("s.stage_id").as("stage_id"), col("s.stage").as("stage"),
        col("s.docs_in").as("docs_in"), col("s.removed").as("removed"),
        col("s.docs_out").as("docs_out"))

    Output(curated, packed, funnel)
  }
}
