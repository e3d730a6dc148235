package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph algorithms over plain (src, dst[, w]) edge lists —
  * the Pregel-by-join family (connected components live in
  * [[CorpusOps.dupClusters]]; this module holds the rank/centrality
  * side). Everything is declarative DataFrame code: per iteration one
  * edge-sized shuffle join plus one node-sized aggregate plus one
  * node-sized outer join, so cost is edge-linear per round and the
  * rank tables stay node-sized.
  *
  * Round discipline (shared with [[CorpusOps.dupClusters]]): the edge
  * table is lineage-cut ONCE (lazy local checkpoint — an RDD leaf, so
  * round plans never re-walk the upstream edge pipeline), and the
  * iterations plan in an AQE-off CHILD session whose static shuffle
  * width is the edge table's own partition count — i.e. whatever width
  * AQE chose for the edge-build output, so the rounds' width GROWS
  * with the graph instead of being pinned to a fixture-tuned literal.
  * AQE stays off inside the rounds because its per-exchange runtime
  * replanning adds fixed latency that dominates the many small
  * sequential stages (the dupClusters measurement: ~1.5 s/round with
  * AQE vs sub-second static). The child session means the caller's
  * conf is never touched. Cost of the seam: materializing the edge
  * checkpoint executes the upstream build's stages at CONSTRUCTION
  * (same as dupClusters — the documented action-free-construction
  * exemption class for iterative graph ops).
  */
object GraphOps {

  /** AQE-off child session planning the rounds at a width that tracks
    * the edge table — floored at a quarter of the cluster's default
    * parallelism. The floor matters on BOTH ends of the scale: AQE
    * coalesces a fixture-sized edge table to 1-2 partitions (its
    * 128 MB advisory target is tuned for scan throughput, not
    * CPU-bound join rounds — measured: width-1 rounds serialize the
    * per-iteration edge join onto one core), while on a large cluster
    * the edge table's own partition count dominates the floor and the
    * width grows with the data. Same SparkContext and sharedState as
    * the caller's session, so caches, catalog, and cache clears work
    * unchanged. */
  private[ops] def roundSession(spark: SparkSession, parts: Int): SparkSession = {
    val rs = spark.newSession()
    rs.conf.set("spark.sql.adaptive.enabled", "false")
    val floor = math.max(1, spark.sparkContext.defaultParallelism / 4)
    rs.conf.set("spark.sql.shuffle.partitions", math.max(parts, floor).toString)
    rs
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong

  /** Lineage-cut `df` in the caller's session and re-root it in `rs`
    * as an RDD leaf. The crossing is a GLOBAL temp view (shared
    * catalog): `rs.table` resolves it to the checkpoint's InternalRow
    * leaf at analysis time, so the rounds read checkpoint blocks
    * directly — an (rdd, schema) re-root would instead deserialize to
    * Row and re-encode EVERY TIME a round scans the edge table
    * (measured ~15% of q44 at sf0.1). The view is dropped immediately
    * after analysis; the resolved plans keep the leaf. */
  private[ops] def crossView(rs: SparkSession, ck: DataFrame): DataFrame = {
    val name = "graft_graph_rounds_" + viewSeq.incrementAndGet()
    ck.createOrReplaceGlobalTempView(name)
    try {
      val db = rs.conf.get("spark.sql.globalTempDatabase", "global_temp")
      val out = rs.table(db + "." + name)
      out.queryExecution.analyzed // resolve to the leaf before the drop
      out
    } finally rs.catalog.dropGlobalTempView(name)
  }

  private def intoSession(rs: SparkSession, df: DataFrame)
                         (implicit scope: CacheScope): DataFrame =
    crossView(rs, scope.checkpointed(df, reliable = false))

  /** The round preamble every iterative op shares: lineage-cut the
    * edge projection, open the AQE-off child session at edge-derived
    * width, re-root the leaf there. ONE definition so the round-width
    * / lineage-cut discipline cannot drift between operators.
    * (Round 18 measured and REJECTED a second hash-partitioned cut of
    * the leaf by the rounds' join key — localCheckpoint preserves
    * outputPartitioning, so it does remove the per-round edge-side
    * Exchange, but the extra materialization pass cost more than the
    * removed exchanges at every SF measured: 1.11–1.33× slower on
    * q44/q46/q64/q65/q70. See OPTIMIZATION_r18.md.) */
  private def roundSetup(edges: DataFrame, reliable: Boolean)
                        (implicit scope: CacheScope): (SparkSession, DataFrame) = {
    val eck = scope.checkpointed(edges, reliable)
    // .rdd here is metadata-only: partition COUNT reads the DAG, the
    // deserializing Row RDD itself never executes
    val rs = roundSession(edges.sparkSession, eck.rdd.getNumPartitions)
    (rs, crossView(rs, eck))
  }

  /** Shared setup for every rank variant: child session at edge-derived
    * width, edge leaf `e`, and the scope-cached per-node constants
    * table `nodes` = (node, deg, pr0, base) where `deg` is out-degree
    * (or total out-weight), `pr0` the initial mass and `base` the
    * per-round restart mass. Both `pr0` and `base` are computed as a
    * SINGLE division so a SQL replay's `1.0/n` / `0.15/ns` matches
    * bit-for-bit.
    */
  private def prSetup(edges: DataFrame, weightCol: Option[String],
                      seeds: Option[DataFrame], teleport: Double,
                      cacheNodes: Boolean = true)
                     (implicit scope: CacheScope): (DataFrame, DataFrame) = {
    val cols = Seq(col("src"), col("dst")) ++ weightCol.map(col)
    val (rs, e) = roundSetup(edges.select(cols: _*), reliable = false)
    val deg = e.groupBy("src")
      .agg(weightCol.map(w => sum(col(w))).getOrElse(count(lit(1))).as("deg"))
      .select(col("src").as("node"), col("deg"))
    // CHECKPOINTED (RDD leaf), not cache(): the constants table is
    // referenced by EVERY round's plan, and cache substitution is
    // plan-identity matching that missed the inner occurrences here
    // (q44 formatted plan: only the outermost reference resolved to
    // InMemoryTableScan; every earlier round re-derived deg + the n
    // broadcast inline). A leaf cannot be missed — every round reads
    // the same blocks (paired A/B: 0.95/0.95/0.93 min-ratio on
    // q44/q47/q63, ~1.0 on q65; round-18 ledger).
    def maybeCache(df: DataFrame): DataFrame =
      if (cacheNodes) scope.checkpointed(df, reliable = false) else df
    val nodes = maybeCache(seeds match {
      case None =>
        val n = deg.agg(count(lit(1)).as("n"))
        deg.crossJoin(broadcast(n))
          .select(col("node"), col("deg"),
            (lit(1.0) / col("n")).as("pr0"),
            (lit(teleport) / col("n")).as("base"))
      case Some(sd0) =>
        val sd = intoSession(rs, sd0.select(col("node")).distinct())
        val ns = sd.agg(count(lit(1)).as("ns"))
        deg.join(sd.withColumn("is_seed", lit(1)), Seq("node"), "left")
          .crossJoin(broadcast(ns))
          .select(col("node"), col("deg"),
            when(col("is_seed").isNotNull, lit(1.0) / col("ns"))
              .otherwise(lit(0.0)).as("pr0"),
            when(col("is_seed").isNotNull, lit(teleport) / col("ns"))
              .otherwise(lit(0.0)).as("base"))
    })
    (e, nodes)
  }

  /** One power-iteration round: edge-sized contribution join + dst
    * aggregate, then a node-sized LEFT join back onto the constants
    * table — the left join (vs the inner join a naive formulation
    * writes) is what keeps teleport/restart mass alive on nodes with
    * no in-edges: on a DIRECTED graph a pure source would otherwise
    * drop out of the rank table after one round and its mass would
    * stop propagating. coalesce(sw, 0) makes the arithmetic identical
    * to the inner join wherever an in-sum exists. */
  private def prStep(e: DataFrame, nodes: DataFrame, pr: DataFrame,
                     weightCol: Option[String], damping: Double,
                     scale: Int): DataFrame = {
    val contrib: Column = weightCol match {
      case None    => col("pr") / col("deg")
      case Some(w) => col("pr") * col(w) / col("deg")
    }
    val in = e.join(pr, e("src") === pr("node"))
      .select(col("dst"), contrib.as("m"))
      .groupBy("dst").agg(sum("m").as("sw"))
    nodes.join(in, nodes("node") === in("dst"), "left")
      .select(nodes("node").as("node"), nodes("deg").as("deg"), col("base"),
        round(col("base") + lit(damping) * coalesce(col("sw"), lit(0.0)),
          scale).as("pr"))
  }

  private def prLoop(e: DataFrame, nodes: DataFrame, weightCol: Option[String],
                     iters: Int, damping: Double, scale: Int,
                     checkpointEvery: Int): DataFrame = {
    var pr = nodes.select(col("node"), col("deg"), col("base"),
      col("pr0").as("pr"))
    for (it <- 1 to iters) {
      pr = prStep(e, nodes, pr, weightCol, damping, scale)
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iters)
        pr = pr.localCheckpoint(false) // lazy: lineage cut, no job at build
    }
    pr.select(col("node"), col("deg"), col("pr"))
  }

  /** Power-iteration PageRank over a DIRECTED edge list.
    *
    * Semantics: pr₀(v) = 1/N; prₜ₊₁(v) = teleport/N + damping ·
    * Σ_{u→v} prₜ(u)/outdeg(u), each iteration's ranks rounded to
    * `scale` decimals — the same determinism contract as the query
    * battery (a replay, or a SQL oracle, reproduces the ranks
    * bit-for-bit; double sum-order drift dies at the round).
    *
    * Node universe: every node with >= 1 OUTGOING edge gets a row and
    * keeps its teleport mass every round even with no in-edges (the
    * left-join step). DANGLING nodes (in-edges only, outdeg 0) are not
    * ranked and the mass they receive leaks — the classic
    * uncorrected-power-iteration trade; materialize both edge
    * directions when that should vanish ([[undirect]] does exactly
    * that, and then total mass is conserved to the rounding).
    *
    * `teleport` and `damping` are SEPARATE parameters on purpose:
    * computing 1.0 − damping in doubles lands on 0.15000000000000002,
    * not the 0.15 a SQL oracle spells — pass both literals so the
    * engine and any replay agree bit-for-bit.
    *
    * Plan shape (PLANS.md q44): rounds in an AQE-off child session at
    * edge-derived width (object scaladoc); per-node constants (degree,
    * restart mass, with the node count entering as ONE action-free
    * broadcast aggregate) are scope-cached and ride every round — no
    * per-round broadcast or collect. Deep iteration counts cut lineage
    * with `checkpointEvery` (lazy localCheckpoint: no job at build —
    * executor-local, so pair it with a durable checkpoint dir on
    * clusters, the dupClusters(reliable) trade).
    *
    * Returns (node, deg, pr), deg = outdeg as a count.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
               damping: Double = 0.85, teleport: Double = 0.15,
               scale: Int = 9, checkpointEvery: Int = 0)
              (implicit scope: CacheScope): DataFrame = {
    val (e, nodes) = prSetup(edges, None, None, teleport)
    prLoop(e, nodes, None, iters, damping, scale, checkpointEvery)
  }

  /** WEIGHTED PageRank: out-mass splits proportionally to edge weight
    * instead of uniformly — prₜ₊₁(v) = teleport/N + damping ·
    * Σ_{u→v} prₜ(u) · w(u,v) / Σ_out w(u) — the mass-weighted
    * trust/relevance propagation a transaction or co-occurrence graph
    * wants (q44's `distinct()`ed edges discard multiplicity; here the
    * multiplicity IS the weight). Same round discipline, determinism
    * contract, and left-join mass retention as [[pageRank]]; `deg` in
    * the output is the total out-WEIGHT (a double). Contribution is
    * computed as pr · w / Σw in that exact operation order — spell a
    * SQL replay the same way (`p.pr * e.w / p.deg`).
    */
  def pageRankWeighted(edges: DataFrame, weightCol: String = "w",
                       iters: Int = 3, damping: Double = 0.85,
                       teleport: Double = 0.15, scale: Int = 9,
                       checkpointEvery: Int = 0)
                      (implicit scope: CacheScope): DataFrame = {
    val (e, nodes) = prSetup(edges, Some(weightCol), None, teleport)
    prLoop(e, nodes, Some(weightCol), iters, damping, scale, checkpointEvery)
  }

  /** PERSONALIZED PageRank: teleport mass restarts at a SEED SET
    * instead of uniformly — pr₀(v) = 1/|S| for seeds else 0;
    * prₜ₊₁(v) = teleport·[v∈S]/|S| + damping · Σ prₜ(u)/outdeg(u).
    * The "relevance to the seeds" ranking (seeded trust/quality
    * propagation in a curation pipeline: seed the trusted sources,
    * rank everything else by received mass). Same round discipline
    * and determinism contract as [[pageRank]]; the per-node restart
    * mass is computed ONCE (node-sized, scope-cached — `teleport/|S|`
    * as a SINGLE division so a SQL replay's `0.15/ns` matches
    * bit-for-bit) and rides the iterations like the degree; a seed
    * with no in-edges keeps its base mass every round (left-join
    * step). Returns (node, deg, pr); non-seed nodes unreachable from
    * any seed hold pr = 0.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
                           damping: Double = 0.85, teleport: Double = 0.15,
                           scale: Int = 9, checkpointEvery: Int = 0)
                          (implicit scope: CacheScope): DataFrame = {
    val (e, nodes) = prSetup(edges, None, Some(seeds), teleport)
    prLoop(e, nodes, None, iters, damping, scale, checkpointEvery)
  }

  /** Weighted AND seeded: personalized restart mass with
    * weight-proportional out-mass splitting — seeded trust propagation
    * over a multigraph whose multiplicity is the weight. Semantics
    * compose exactly as the two parents document. */
  def personalizedPageRankWeighted(edges: DataFrame, seeds: DataFrame,
                                   weightCol: String = "w", iters: Int = 3,
                                   damping: Double = 0.85, teleport: Double = 0.15,
                                   scale: Int = 9, checkpointEvery: Int = 0)
                                  (implicit scope: CacheScope): DataFrame = {
    val (e, nodes) = prSetup(edges, Some(weightCol), Some(seeds), teleport)
    prLoop(e, nodes, Some(weightCol), iters, damping, scale, checkpointEvery)
  }

  /** WARM-START PageRank: resume the power iteration from a PRIOR
    * rank table (node, pr) instead of the uniform vector — the
    * incremental re-rank after a graph delta (yesterday's ranks warm
    * today's graph), the graph member of the incremental-ingest
    * family (exact-dedup verdicts, bloom gates, ANN index adds,
    * cluster assignment). With teleport > 0 the iteration is a
    * CONTRACTION toward the same stationary vector from any start, so
    * a near-fixpoint prior needs far fewer rounds than a cold start;
    * a fixed `iters` keeps the op oracle-replayable, and warm-starting
    * from a k-round cold run IS rounds k+1..k+iters of that run
    * (bit-for-bit — spec-pinned), so the continuation semantics are
    * exact, not approximate. Nodes ABSENT from the prior (new since
    * it ran) start at the uniform share 1/N; prior rows for nodes that
    * left the graph are dropped — mass re-normalizes through the
    * teleport term over the rounds rather than by an extra global
    * pass. A duplicate-keyed prior collapses to max(pr) per node (the
    * seeds-path distinct discipline — a raw left join would double-
    * count every duplicated node's out-mass each round). Same
    * determinism contract, round discipline, and left-join mass
    * retention as [[pageRank]]. Returns (node, deg, pr). */
  def pageRankWarm(edges: DataFrame, prior: DataFrame, iters: Int = 2,
                   damping: Double = 0.85, teleport: Double = 0.15,
                   scale: Int = 9, checkpointEvery: Int = 0)
                  (implicit scope: CacheScope): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    // cacheNodes = false: the table the rounds ride is the DERIVED one
    val (e, nodes0) = prSetup(edges, None, None, teleport, cacheNodes = false)
    // re-root the caller-session prior next to the rounds (the seed
    // seam), then override pr0 where a prior rank exists
    val p = intoSession(e.sparkSession,
      prior.select(col("node"), col("pr"))
        .groupBy("node").agg(max("pr").as("prior_pr"))
        .select(col("node").as("pnode"), col("prior_pr")))
    val nodes = scope.checkpointed(
      nodes0.join(p, nodes0("node") === col("pnode"), "left")
        .select(col("node"), col("deg"), col("base"),
          coalesce(col("prior_pr"), col("pr0")).as("pr0")), reliable = false)
    prLoop(e, nodes, None, iters, damping, scale, checkpointEvery)
  }

  /** Convergence-driven PageRank for pipeline (library) use: iterate
    * until max|Δpr| <= `tol` (checked every `checkEvery` rounds — each
    * check is one node-sized join + a 1-row aggregate action), up to
    * `maxIters`. This is how production PageRank actually terminates;
    * the fixed-round [[pageRank]] backs the oracle-gated queries
    * because query CONSTRUCTION there must not run per-round actions.
    * Each round is materialized through a lazy local checkpoint (the
    * convergence action forces it), so plan depth stays bounded
    * regardless of round count. With per-round round(·, scale), a
    * converged graph reaches Δ = 0 EXACTLY, so `tol = 0` is a
    * legitimate (and the default) stopping rule. Exhausting `maxIters`
    * without convergence logs a WARN rather than failing. Returns
    * (node, deg, pr) exactly as [[pageRank]] would after the same
    * number of rounds.
    */
  def pageRankConverged(edges: DataFrame, maxIters: Int = 20,
                        tol: Double = 0.0, checkEvery: Int = 1,
                        damping: Double = 0.85, teleport: Double = 0.15,
                        scale: Int = 9)
                       (implicit scope: CacheScope): DataFrame = {
    require(maxIters >= 1 && checkEvery >= 1,
      s"maxIters/checkEvery must be >= 1 (got $maxIters/$checkEvery)")
    val (e, nodes) = prSetup(edges, None, None, teleport)
    var pr = scope.checkpointed(
      nodes.select(col("node"), col("deg"), col("base"), col("pr0").as("pr")),
      reliable = false)
    var it = 0
    var converged = false
    // iterates between delta checks are LAZY local checkpoints whose
    // lineage still reads the previous checkpoint's blocks — releasing
    // a predecessor before the chain materializes would make the next
    // delta action fail with missing checkpoint blocks (real with
    // checkEvery > 1). So predecessors accumulate here and release
    // only AFTER a delta action has materialized everything up to
    // `next`.
    var pending = List.empty[DataFrame]
    while (it < maxIters && !converged) {
      val next = scope.checkpointed(
        prStep(e, nodes, pr, None, damping, scale), reliable = false)
      it += 1
      pending ::= pr
      if (it % checkEvery == 0 || it == maxIters) {
        val delta = Option(
          next.as("n").join(pr.as("p"), col("n.node") === col("p.node"))
            .agg(max(abs(col("n.pr") - col("p.pr"))).as("d"))
            .first().get(0))
        // empty graph -> empty join -> null max: trivially converged,
        // same empty rank table pageRank returns for the same input
        converged = delta.forall(_.asInstanceOf[Double] <= tol)
        pending.foreach(CacheScope.unpersistPlanRdds)
        pending = Nil
      }
      pr = next
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"pageRankConverged exhausted maxIters=$maxIters with " +
          s"max|delta| still above tol=$tol — returning the last iterate")
    pr.select(col("node"), col("deg"), col("pr"))
  }

  /** Action-driven connected components for pipeline use: propagate
    * until NO label changes ([[CorpusOps.dupClustersConverged]] under
    * the generic-graph column names) — the production form when the
    * component diameter is unknown; the fixed-round
    * [[connectedComponents]] backs the oracle-gated queries. Superseded
    * rounds release their checkpoint blocks as the convergence checks
    * materialize them. */
  def connectedComponentsConverged(edges: DataFrame, maxRounds: Int = 10,
                                   reliable: Boolean = false)
                                  (implicit scope: CacheScope): DataFrame =
    CorpusOps.dupClustersConverged(
      edges.select(col("src").as("d1"), col("dst").as("d2")), maxRounds, reliable)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"),
        col("cluster_size").as("component_size"))

  /** Strongly connected components over a DIRECTED edge list
    * (src, dst) — min-label "coloring" peeling (the Orzan scheme
    * re-expressed as joins): each OUTER round computes, over the
    * still-unassigned subgraph, fmin(u) = the minimum node id
    * forward-reachable from u (u included) and bmin(u) = the same
    * over REVERSED edges, each by `inner` rounds of one-hop min-label
    * pull; every node with fmin = bmin = m is assigned component m
    * and leaves the graph. Soundness: fmin(u) = bmin(u) = m means
    * u ⇝ m and m ⇝ u, so u ∈ SCC(m); progress: SCC-mates share both
    * closures, so whole SCCs assign together, and the SCC containing
    * the smallest remaining id always satisfies the test — every
    * outer round peels >= 1 SCC (on real graphs many resolve in
    * parallel; the trade-graph fixture needs two outer rounds).
    *
    * FIXED `schedule` (one entry per outer round = that round's inner
    * pull count) so a SQL oracle replays the exact rounds — all
    * labels exact integers, no rounding contract. The fixed schedule
    * is only the TRUE SCC decomposition when each closure reaches its
    * fixpoint (spec-pinned on the fixture, with a round to spare): an
    * UNDER-converged closure both leaves nodes unassigned (absent
    * from the result) and can SPLIT one SCC into several components —
    * fmin = bmin fires at locally-minimal labels, so every assigned
    * group is still a SUBSET of a true SCC (distinct SCCs never
    * merge), but one SCC's nodes may land under different
    * representative ids. On a graph whose closure depth is unknown,
    * use [[sccConverged]]. Each inner round is a one-hop PULL
    * followed by a STALE
    * POINTER JUMP — lab := min(lab, prevRound(lab)): a label is the
    * id of a reachable node, so composing with the PREVIOUS round's
    * label of that node is still a reachability (the dupClusters
    * acceleration, one round stale so the round stays a single
    * lineage cut — a fresh-label jump would need a second leaf per
    * round, and the measured checkpoint latency costs more than the
    * extra round the staleness admits); the default Seq(5, 2)
    * reaches the closure fixpoint on the fixture at every SF with a
    * round to spare per outer round (spec-pinned: a deeper schedule
    * changes nothing). Unknown-depth graphs belong on
    * [[sccConverged]].
    *
    * Scale shape per inner round: ONE edge-sized join + min
    * aggregate + a node-sized left-join merge + a node-sized jump
    * join against the previous round's leaf — forward and backward
    * propagate through the SAME join via a direction-tagged two-way
    * edge table (one explode, the no-self-union discipline; 2E
    * rows), labels keyed (node, dir); ONE checkpoint per round.
    * Outer round 1 runs on the full edge table (the live set is
    * every node — a semi-join restriction would be two edge-sized
    * shuffles of pure overhead); later rounds semi-join the shrunken
    * live set and anti-join assignments out. The label init and the
    * fmin=bmin assignment are narrow maps/aggregates over leaves and
    * are recomputed per use instead of checkpointed. Rounds run in
    * the AQE-off child session at edge-derived width (object
    * scaladoc). Returns (node, component, component_size). */
  /** One SCC closure round: min-label pull along the tagged edges,
    * then the stale pointer jump against the round's INPUT labels —
    * one lineage cut's worth of plan (see [[scc]]). */
  private def sccRound(el: DataFrame, lbl: DataFrame): DataFrame = {
    val pulled = el
      .join(lbl.select(col("node").as("dst"), col("dir"), col("lab")),
        Seq("dst", "dir"))
      .groupBy(col("src").as("node"), col("dir")).agg(min("lab").as("nl"))
    lbl.join(pulled, Seq("node", "dir"), "left")
      .select(col("node"), col("dir"),
        coalesce(least(col("lab"), col("nl")), col("lab")).as("lab1"))
      .join(lbl.select(col("node").as("jn"), col("dir").as("jd"),
          col("lab").as("jl")),
        col("lab1") === col("jn") && col("dir") === col("jd"), "left")
      .select(col("node"), col("dir"),
        coalesce(least(col("lab1"), col("jl")), col("lab1")).as("lab"))
  }

  /** fmin = bmin assignment over a closure's label table. */
  private def sccFound(lbl: DataFrame): DataFrame =
    lbl.groupBy("node").agg(
        min(when(col("dir") === "f", col("lab"))).as("fmin"),
        min(when(col("dir") === "b", col("lab"))).as("bmin"))
      .filter(col("fmin") === col("bmin"))
      .select(col("node"), col("fmin").as("component"))

  /** Shared SCC setup: the direction-tagged two-way edge map over the
    * checkpointed edge leaf ('f' rows pull labels along u→w onto u,
    * 'b' rows are the reversal — deliberately NOT checkpointed: the
    * explode is a narrow map, recomputing it per round scan is free,
    * materializing 2E rows is a job plus blocks) and the initial live
    * node set. ONE definition so [[scc]] and [[sccConverged]] cannot
    * drift — the specs pin them exactly equal on converged inputs. */
  private def sccSetup(edges: DataFrame, reliable: Boolean)
                      (implicit scope: CacheScope): (DataFrame, DataFrame) = {
    val (_, e0) = roundSetup(edges.select(col("src"), col("dst")), reliable)
    val e2 =
      e0.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d"), lit("f").as("dir")),
        struct(col("dst").as("s"), col("src").as("d"), lit("b").as("dir")))).as("x"))
        .select(col("x.s").as("src"), col("x.d").as("dst"), col("x.dir").as("dir"))
    val live = scope.checkpointed(
      e0.select(col("src").as("node")).union(e0.select(col("dst").as("node")))
        .distinct(), reliable)
    (e2, live)
  }

  def scc(edges: DataFrame, schedule: Seq[Int] = Seq(5, 2),
          reliable: Boolean = false)
         (implicit scope: CacheScope): DataFrame = {
    require(schedule.nonEmpty && schedule.forall(_ >= 1),
      s"schedule must be non-empty positive inner-round counts (got $schedule)")
    val (e2, live0) = sccSetup(edges, reliable)
    var live = live0
    var out: Option[DataFrame] = None
    for ((inner, idx) <- schedule.zipWithIndex) {
      val el =
        if (idx == 0) e2
        else scope.checkpointed(
          e2.join(live.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi"),
          reliable)
      var lbl = live
        .select(col("node"), explode(array(lit("f"), lit("b"))).as("dir"))
        .withColumn("lab", col("node"))
      for (_ <- 1 to inner)
        lbl = scope.checkpointed(sccRound(el, lbl), reliable)
      val found = sccFound(lbl)
      out = Some(out.fold(found)(_.unionByName(found)))
      if (idx < schedule.size - 1)
        live = scope.checkpointed(
          live.join(found, Seq("node"), "left_anti"), reliable)
    }
    val comp = out.get
    comp.join(
      comp.groupBy("component").agg(count(lit(1)).as("component_size")),
      "component")
      .select(col("node"), col("component"), col("component_size"))
  }

  /** Action-driven SCC for pipeline use: outer rounds peel until the
    * live set is EMPTY (every node assigned — the completeness
    * [[scc]]'s fixed schedule can only pin per-fixture), each closure
    * iterating its min-label pulls until a fixpoint probe sees no
    * label change; superseded rounds release their checkpoint blocks
    * as the probes materialize them. `maxRounds` bounds BOTH loop
    * depths as a runaway backstop; unlike LPA the peel cannot
    * oscillate (labels are monotone), so exhaustion only ever means
    * the bound was too small — and it is LOUD on both paths: an
    * inner-closure exhaustion WARNs that assignments over an
    * unconverged closure can split true SCCs (see [[scc]]), an outer
    * exhaustion WARNs about the unassigned remainder. Returns
    * (node, component, component_size). */
  def sccConverged(edges: DataFrame, maxRounds: Int = 20,
                   reliable: Boolean = false)
                  (implicit scope: CacheScope): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val (e2, live0) = sccSetup(edges, reliable)
    var live = live0
    var out: Option[DataFrame] = None
    var outerRound = 0
    var liveCount = live.count()
    while (liveCount > 0 && outerRound < maxRounds) {
      val el =
        if (outerRound == 0) e2
        else scope.checkpointed(
          e2.join(live.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(live.select(col("node").as("dst")), Seq("dst"), "left_semi"),
          reliable)
      var lbl = scope.checkpointed(
        live.select(col("node"), explode(array(lit("f"), lit("b"))).as("dir"))
          .withColumn("lab", col("node")), reliable)
      var changed = true
      var innerRound = 0
      while (changed && innerRound < maxRounds) {
        val next = scope.checkpointed(sccRound(el, lbl), reliable)
        // labels are monotone non-increasing over an invariant
        // (node, dir) key set, so an inner probe suffices — and it
        // materializes `next`, making the superseded round (a
        // checkpoint leaf, including the init) releasable
        changed = !next.as("n").join(lbl.as("p"),
            col("n.node") === col("p.node") && col("n.dir") === col("p.dir"))
          .filter(col("n.lab") =!= col("p.lab")).isEmpty
        if (!reliable) CacheScope.unpersistPlanRdds(lbl)
        lbl = next
        innerRound += 1
      }
      if (changed)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"sccConverged inner closure exhausted maxRounds=$maxRounds " +
            "without a label fixpoint — fmin=bmin assignments over an " +
            "unconverged closure can SPLIT true SCCs into fragments " +
            "(memberships stay sound, ids do not); raise maxRounds")
      val found = scope.checkpointed(
        lbl.groupBy("node").agg(
            min(when(col("dir") === "f", col("lab"))).as("fmin"),
            min(when(col("dir") === "b", col("lab"))).as("bmin"))
          .filter(col("fmin") === col("bmin"))
          .select(col("node"), col("fmin").as("component")), reliable)
      out = Some(out.fold(found)(_.unionByName(found)))
      val nextLive = scope.checkpointed(
        live.join(found, Seq("node"), "left_anti"), reliable)
      liveCount = nextLive.count() // materializes found + nextLive
      if (!reliable) CacheScope.unpersistPlanRdds(live)
      live = nextLive
      outerRound += 1
    }
    if (liveCount > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"sccConverged exhausted maxRounds=$maxRounds with $liveCount " +
          "nodes unassigned — raise maxRounds for this graph")
    // an empty edge list never enters the loop: synthesize the empty frame
    val comp = out.getOrElse(
      live.select(col("node"), col("node").as("component")).limit(0))
    comp.join(
      comp.groupBy("component").agg(count(lit(1)).as("component_size")),
      "component")
      .select(col("node"), col("component"), col("component_size"))
  }

  /** ADAMIC-ADAR link prediction over an UNDIRECTED graph in canonical
    * form (each edge once, src < dst): for every NON-adjacent node
    * pair sharing >= 1 neighbor, score = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)
    * — common neighbors weighted inversely by how promiscuous they
    * are, the classic "which edges are missing" feature (Adamic &
    * Adar 2003). A common neighbor is adjacent to both endpoints, so
    * deg(z) >= 2 and ln never hits 0.
    *
    * Scale shape: candidate pairs come from the wedge self-join
    * through each shared neighbor — Σ deg² work, which ONE hub makes
    * quadratic. `hubCap` excludes centers with deg > cap from wedge
    * GENERATION (their AA weight 1/ln(deg) is near-noise anyway) — the
    * df-cap discipline the near-dup family uses for boilerplate
    * shingles; a SQL replay applies the same cap, so results stay
    * engine-exact. Existing edges are anti-joined away. Returns
    * (a, b, score), a < b, unrounded (callers round for ranking).
    *
    * `hubCap` <= 0 (the default) DERIVES the cap from the graph:
    * cap = max(64, the smallest power of two whose SQUARE is >= 2E) —
    * i.e. ~√(2E) — which bounds wedge volume Σ_{deg<=cap} deg² <=
    * cap·2E ≈ (2E)^1.5, the same E^1.5 discipline the triangle count
    * gets from degree orientation, at ANY graph size (a fixed literal
    * is only right at one scale: too tight on big graphs — silently
    * dropping meaningful mid-degree centers — too loose on none). The
    * derivation is integer-only (power-of-two search, no float sqrt)
    * so a SQL replay lands on the identical cap, and costs one count
    * of the already-checkpointed edge leaf at construction (the
    * adaptive-parameter class l2_simhash documents; this op is already
    * in the checkpoint-at-construction exemption family). */
  def adamicAdar(edges: DataFrame, hubCap: Int = 0)
                (implicit scope: CacheScope): DataFrame = {
    val ed = scope.checkpointed(edges.select(col("src"), col("dst")),
      reliable = false)
    val cap: Long =
      if (hubCap > 0) hubCap.toLong
      else {
        val e = ed.count()
        var b = 0
        while (b < 31 && (1L << b) * (1L << b) < 2 * e) b += 1
        math.max(64L, 1L << b)
      }
    // both directions via ONE explode, not a flip-aliased self-union:
    // one pass over the checkpoint blocks instead of two, and it
    // sidesteps a Spark union-constraint-rewrite crash ("key not
    // found: dst#…" in UnionBase.rewriteConstraints) that the
    // swapped-alias projection over the same leaf triggers when the
    // input's origin constraints survive into the LogicalRDD (seen
    // with a literal-valued edge column upstream)
    val e2 = ed.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    val deg = e2.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    // wedge through LOW-degree centers only; weight rides the center.
    // deg >= 2: a deg-1 center cannot form a wedge anyway, and its
    // 1/ln(1) weight would divide by zero under ANSI before the wedge
    // join ever filtered it
    val zw = e2.join(deg.filter(col("deg") >= 2 && col("deg") <= cap),
        col("src") === col("z"))
      .select(col("src").as("z2"), col("dst").as("n"),
        (lit(1.0) / log(col("deg").cast("double"))).as("w"))
    val pairs = zw.as("l").join(zw.as("r"),
        col("l.z2") === col("r.z2") && col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"), col("l.w").as("w"))
    val scored = pairs.groupBy("a", "b").agg(sum("w").as("score"))
    scored.join(ed, scored("a") === ed("src") && scored("b") === ed("dst"),
        "left_anti")
      .select(col("a"), col("b"), col("score"))
  }

  /** NEIGHBORHOOD link-prediction scores over an UNDIRECTED canonical
    * edge list (each edge once, src < dst) — the EXACT-INTEGER
    * companions of [[adamicAdar]] (Liben-Nowell & Kleinberg 2003):
    * for every non-adjacent pair sharing >= 1 neighbor,
    *
    *   cn      = |N(a) ∩ N(b)|            (common neighbors)
    *   jaccard = cn / (deg a + deg b − cn) (neighborhood overlap)
    *   pref    = deg a · deg b             (preferential attachment)
    *
    * cn and pref are exact longs; jaccard is ONE division of exact
    * longs (denominator = |N(a) ∪ N(b)| >= cn >= 1, never 0), so a
    * round(6) by the caller is engine-stable by construction.
    *
    * Scale shape is adamicAdar's: wedges generate only through
    * centers with deg <= cap (same integer-only ~√(2E) derivation, so
    * a SQL replay lands on the identical cap), bounding pair volume
    * at (2E)^1.5; endpoint degrees join UNCAPPED (the cap prunes
    * wedge CENTERS, not the pair's own statistics — jaccard and pref
    * are computed from true degrees). Existing edges anti-join away.
    * Returns (a, b, cn, deg_a, deg_b) with a < b — callers derive the
    * ratio scores so the division count (and rounding contract) stays
    * in query code. */
  def linkPredict(edges: DataFrame, hubCap: Int = 0)
                 (implicit scope: CacheScope): DataFrame = {
    val ed = scope.checkpointed(edges.select(col("src"), col("dst")),
      reliable = false)
    val cap: Long =
      if (hubCap > 0) hubCap.toLong
      else {
        val e = ed.count()
        var b = 0
        while (b < 31 && (1L << b) * (1L << b) < 2 * e) b += 1
        math.max(64L, 1L << b)
      }
    // both directions via ONE explode (the adamicAdar discipline —
    // also dodges the union-constraint-rewrite crash, see above)
    val e2 = ed.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    val deg = e2.groupBy(col("src").as("z")).agg(count(lit(1)).as("deg"))
    // deg >= 2: a deg-1 center has one neighbor and can't wedge
    val zn = e2.join(deg.filter(col("deg") >= 2 && col("deg") <= cap),
        col("src") === col("z"))
      .select(col("src").as("z2"), col("dst").as("n"))
    val cn = zn.as("l").join(zn.as("r"),
        col("l.z2") === col("r.z2") && col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    val nonadj = cn.join(ed, cn("a") === ed("src") && cn("b") === ed("dst"),
        "left_anti")
    nonadj
      .join(deg.select(col("z").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("z").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"))
  }

  /** K-SOURCE BETWEENNESS dependency scores (Brandes 2001, bounded
    * exploration) over a DIRECTED edge list — undirect first for
    * undirected centrality ([[undirect]]). For each seed s: a forward
    * BFS accumulates σ_s(v), the NUMBER of shortest s→v paths (level
    * by level — a node's σ is the sum of its predecessors' σ, exact
    * longs), then the backward pass folds dependencies down the BFS
    * DAG: δ_s(v) = Σ_{w ∈ succ(v)} σ_s(v)/σ_s(w) · (1 + δ_s(w)),
    * succ = neighbors one level deeper. Returned score per node:
    * bc(v) = Σ_s δ_s(v) over v ≠ s — the Brandes partial sum, which
    * for seeds = all nodes IS exact betweenness (×½ on undirected
    * graphs); a fixed seed sample is the standard estimator
    * (Brandes & Pich 2007), and `maxHops` truncates at the
    * horizon where dependency mass stops mattering.
    *
    * Determinism: σ are exact integers; each backward level rounds
    * its δ aggregate to `scale` (the q44 per-round discipline — the
    * per-term doubles are exact-quotient products, only the sum order
    * drifts, and far below 1e-scale), so a SQL replay of the same
    * levels matches bit-for-bit. The σ ≤ 2^52 exactness contract is
    * GUARDED (raise_error, the hits() class): path counts multiply
    * along dense layered graphs and overflow IEEE-exact range
    * silently otherwise.
    *
    * Shape: forward, per level one frontier-sized edge join + a
    * (seed,node)-keyed partial-aggregatable σ sum + an anti join
    * against the visited set; backward, per level one level-sized
    * edge join + the δ aggregate + a left-join merge. State is
    * (seeds × reached)-sized; every table is lineage-cut per round
    * and rounds plan in the AQE-off child session at edge-derived
    * width (object scaladoc). Returns (node, bc) for nodes reached
    * by at least one seed. */
  def betweenness(edges: DataFrame, sources: DataFrame, maxHops: Int = 3,
                  scale: Int = 9, reliable: Boolean = false)
                 (implicit scope: CacheScope): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1 (got $maxHops)")
    val (e, levels) = seededBfs(edges, sources, maxHops, reliable)
    val maxExact = math.pow(2, 52)
    var prev = scope.checkpointed(
      levels(maxHops)
        .select(col("seed"), col("node"), col("sigma"),
          lit(0.0).as("delta")), reliable)
    var acc = prev
    for (h <- (maxHops - 1) to 0 by -1) {
      val v = levels(h)
      val term = when(greatest(col("sv"), col("sw")) > maxExact,
        raise_error(concat(lit("betweenness(): path count "),
          greatest(col("sv"), col("sw")),
          lit(" exceeded 2^52 — σ is no longer IEEE-exact on this " +
            "graph at this depth; reduce maxHops or the seed set")))
          .cast("double"))
        .otherwise(col("sv").cast("double") / col("sw").cast("double")
          * (lit(1.0) + col("dw")))
      val deltas = e.join(v, e("src") === v("node"))
        .select(col("seed"), v("node").as("vn"), col("dst"),
          col("sigma").as("sv"))
        .join(prev.select(col("seed"), col("node").as("dst"),
          col("sigma").as("sw"), col("delta").as("dw")), Seq("seed", "dst"))
        .select(col("seed"), col("vn"), term.as("term"))
        .groupBy("seed", "vn").agg(round(sum("term"), scale).as("delta"))
      prev = scope.checkpointed(
        v.join(deltas.select(col("seed"), col("vn").as("node"), col("delta")),
            Seq("seed", "node"), "left")
          .select(col("seed"), col("node"), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta")), reliable)
      acc = acc.union(prev)
    }
    acc.filter(col("node") =!= col("seed"))
      .groupBy("node").agg(sum("delta").as("bc"))
  }

  /** PER-SEED labeled BFS (the [[betweenness]] forward pass): level
    * tables of (seed, node, dist, sigma) where σ counts shortest
    * paths — exact longs.
    *
    * Depth discipline: the anti-join target is a CARRIED visited
    * table ([[relaxLoop]]'s single-`dist`-table pattern) — per round
    * ONE (seed, node)-projected checkpoint absorbs the new frontier,
    * so round h probes one leaf regardless of h. (The previous shape
    * unioned all h prior level leaves per round — a
    * quadratic-in-depth ladder of leaf scans that capped the shipped
    * maxHops at 3-4; the carried table makes diameter-deep walks
    * round-linear, stress entry `graph_bfs_depth`.) The final round
    * skips the visited checkpoint (nothing probes it). Returns the
    * round session's edge table and levels(0..maxHops). */
  private def seededBfs(edges: DataFrame, sources: DataFrame, maxHops: Int,
                        reliable: Boolean)
                       (implicit scope: CacheScope): (DataFrame, Vector[DataFrame]) = {
    val (rs, e) = roundSetup(edges.select(col("src"), col("dst")), reliable)
    var frontier = scope.checkpointed(
      intoSession(rs, sources.select(col("node")).distinct())
        .select(col("node").as("seed"), col("node"),
          lit(0L).as("dist"), lit(1L).as("sigma")), reliable)
    var visited = frontier.select(col("seed"), col("node"))
    // the carried checkpoint THIS loop owns (h=1's `visited` is a
    // projection over frontier-0's leaf, which levels(0) still needs —
    // never unpersist that)
    var visitedOwn: Option[DataFrame] = None
    var levels = Vector(frontier)
    for (h <- 1 to maxHops) {
      val nxt = e.join(frontier, e("src") === frontier("node"))
        .select(col("seed"), col("dst"), col("sigma"))
        .groupBy("seed", "dst").agg(sum("sigma").as("sigma"))
        .select(col("seed"), col("dst").as("node"),
          lit(h.toLong).as("dist"), col("sigma"))
        .join(visited, Seq("seed", "node"), "left_anti")
      frontier = scope.checkpointed(nxt, reliable)
      levels = levels :+ frontier
      if (h < maxHops) {
        val nv = scope.checkpointed(
          visited.union(frontier.select(col("seed"), col("node"))), reliable)
        // materialize the new carried table, then RELEASE the
        // superseded one (the louvainConverged discipline) — without
        // this a deep walk holds O(depth) node-sized visited copies
        // until scope teardown. The count also materializes this
        // round's frontier leaf, so later rounds read blocks, and the
        // released copy is never referenced again (every live plan —
        // levels, next rounds — reads only frontier leaves and `nv`).
        nv.count()
        visitedOwn.foreach(v => if (!reliable) CacheScope.unpersistPlanRdds(v))
        visitedOwn = Some(nv)
        visited = nv
      }
    }
    (e, levels)
  }

  /** HARMONIC centrality from a seed sample (Boldi & Vigna 2014's
    * preferred closeness variant — sums reciprocals, so disconnected
    * pairs contribute 0 instead of poisoning the mean): H(v) =
    * Σ_{s ∈ seeds, d(s,v) >= 1} 1/d(s,v), explored to `maxHops` —
    * the same bounded k-source estimator discipline as
    * [[betweenness]], sharing its forward BFS. Distances are exact
    * longs; each 1/d term is one correctly-rounded IEEE division and
    * only the ≤|seeds|-term sum order drifts (~1e-16) — a caller
    * round(6) pins it (the bc convention). Returns (node, n_reached,
    * harmonic) for nodes reached by >= 1 seed at distance >= 1. */
  def harmonicCentrality(edges: DataFrame, sources: DataFrame, maxHops: Int = 3,
                         reliable: Boolean = false)
                        (implicit scope: CacheScope): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1 (got $maxHops)")
    val (_, levels) = seededBfs(edges, sources, maxHops, reliable)
    levels.reduce(_ union _)
      .filter(col("dist") >= 1)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(lit(1.0) / col("dist").cast("double")).as("harmonic"))
  }

  /** HYPERBALL (Boldi & Vigna 2013, "In-Core Computation of Geometric
    * Centralities with HyperBall"): the neighborhood function N(h) =
    * Σ_v |ball_h(v)| estimated with per-node HLL sketches — the
    * SCALABLE complement to exact all-pairs BFS, whose (seed × node)
    * state explodes where this keeps one 2^lgK-byte register array
    * per node. Per round ONE edge-sized join pulls every node's
    * neighbors' sketches and ONE node-keyed `hll_union_agg` merges
    * them (register-max — commutative/associative, so the result is
    * independent of partitioning and merge order): cost is
    * edge-linear per hop at ANY scale, and N(h)'s relative error is
    * ~1.04/√2^lgK per ball with independent per-node errors mostly
    * cancelling in the sum. Input: UNDIRECTED canonical edges (each
    * edge once, src < dst; both directions ride one explode — the
    * adamicAdar discipline). Returns (h, n_est) for h = 0..maxH,
    * n_est = Σ_v estimate(ball_h(v)) as a long (h=0 is the exact
    * node count: a 1-element HLL estimates exactly).
    *
    * lgK sizes the per-node registers: 12 (4 KiB/node) holds the sum
    * comfortably inside a 1% band; a 10⁹-node run wanting HyperBall's
    * classic memory profile drops to lgK 4-8 and leans on the
    * cross-node cancellation. Estimates are engine-specific — gate
    * them against [[neighborhoodExact]] with a tolerance (the
    * q05/q34 bound-check pattern), never hash-compare them. */
  def hyperBall(edges: DataFrame, maxH: Int = 3, lgK: Int = 12,
                reliable: Boolean = false)
               (implicit scope: CacheScope): DataFrame = {
    require(maxH >= 1, s"maxH must be >= 1 (got $maxH)")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21] (got $lgK)")
    val (rs, e) = roundSetup(edges.select(col("src"), col("dst")), reliable)
    val e2 = scope.checkpointed(e.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("x"))
      .select(col("x.s").as("src"), col("x.d").as("dst")), reliable)
    var ball = scope.checkpointed(
      e2.select(col("src").as("node")).distinct()
        .groupBy("node").agg(hll_sketch_agg(col("node"), lit(lgK)).as("ball")),
      reliable)
    def nAt(h: Int, b: DataFrame): DataFrame =
      b.agg(sum(hll_sketch_estimate(col("ball"))).as("n_est"))
        .select(lit(h).as("h"), col("n_est"))
    var out = nAt(0, ball)
    for (h <- 1 to maxH) {
      val pulled = e2.join(ball.select(col("node").as("dst"), col("ball")), "dst")
        .groupBy(col("src").as("node"))
        .agg(hll_union_agg(col("ball")).as("nb"))
      // left join + null guard: with both-direction edges every node
      // pulls >= 1 neighbor, but an isolated node in a future caller's
      // input must keep its own ball rather than vanish
      ball = scope.checkpointed(
        ball.join(pulled, Seq("node"), "left")
          .select(col("node"),
            when(col("nb").isNull, col("ball"))
              .otherwise(hll_union(col("ball"), col("nb"))).as("ball")),
        reliable)
      out = out.union(nAt(h, ball))
    }
    out
  }

  /** EXACT neighborhood function — [[hyperBall]]'s correctness gate:
    * N(h) as the exact count of (a, b) pairs with d(a, b) <= h, by
    * iterating the distinct pair closure P_{h+1} = P_h ∪ P_h·E. The
    * state is PAIR-QUADRATIC in the worst case (that is exactly why
    * hyperBall exists) — fixture/gate use only; a SQL oracle replays
    * the same closure with h unrolled CTEs. Returns (h, n_exact) for
    * h = 0..maxH. */
  def neighborhoodExact(edges: DataFrame, maxH: Int = 3,
                        reliable: Boolean = false)
                       (implicit scope: CacheScope): DataFrame = {
    require(maxH >= 1, s"maxH must be >= 1 (got $maxH)")
    val (rs, e) = roundSetup(edges.select(col("src"), col("dst")), reliable)
    val e2 = scope.checkpointed(e.select(explode(array(
        struct(col("src").as("s"), col("dst").as("d")),
        struct(col("dst").as("s"), col("src").as("d")))).as("x"))
      .select(col("x.s").as("src"), col("x.d").as("dst")), reliable)
    var pairs = scope.checkpointed(
      e2.select(col("src").as("a")).distinct().select(col("a"), col("a").as("b")),
      reliable)
    def nAt(h: Int, p: DataFrame): DataFrame =
      p.agg(count(lit(1)).as("n_exact")).select(lit(h).as("h"), col("n_exact"))
    var out = nAt(0, pairs)
    for (h <- 1 to maxH) {
      pairs = scope.checkpointed(
        pairs.union(
            pairs.join(e2.select(col("src").as("b"), col("dst")), "b")
              .select(col("a"), col("dst").as("b")))
          .distinct(), reliable)
      out = out.union(nAt(h, pairs))
    }
    out
  }

  /** LOUVAIN local-move community detection (Blondel et al. 2008,
    * phase 1) over an UNDIRECTED canonical edge list (each edge once,
    * src < dst), distributed as SEMI-SYNCHRONOUS rounds: on round r,
    * nodes with node % 2 == r % 2 simultaneously move to the
    * neighboring community with the highest modularity gain (staying
    * is a candidate; ties break toward the smaller community id), the
    * others hold — the red/black gating that kills the 2-cycle label
    * chase plain synchronous moves suffer (two nodes endlessly
    * swapping into each other's community; the same failure mode
    * synchronous LPA has, here eliminated rather than tolerated
    * because Louvain's WHOLE POINT is the score it would oscillate
    * around). Fixed `rounds` keeps the query replayable (the q44/q64
    * trade); each even+odd pair of rounds is one full move sweep.
    *
    * Determinism: with m = |E|, deg_i, Σtot(c) and k_{i,c} (edges
    * from i into c) all exact integers, the argmax ranks candidates
    * by the modularity gain ΔQ(i→c) ∝ 2m·k_{i,c} − deg_i·Σtot(c∖{i})
    * — the constant terms of ΔQ not depending on c are dropped, the
    * rest is scaled by 2m² > 0, so the ORDER is exactly ΔQ's — an
    * integer SCORE both engines compute bit-identically (fits a long
    * until 2m·k approaches 2^63 — beyond any real corpus's edge
    * count; the [[modularity]] caveat class). max_by on
    * (score, −community) is unique per candidate, so picks are
    * deterministic and a SQL replay (row_number over score DESC,
    * community ASC) lands on identical labels.
    *
    * Per round: one edge-sized neighbor-community count (k_{i,c})
    * over the MOVABLE half, one node-sized community-weight aggregate
    * (Σtot — the degree rides INSIDE the label table, so no per-round
    * deg join), the candidate scoring join, one argmax aggregate —
    * all partial-aggregatable; the zero-k "stay" row unions straight
    * into the argmax WITHOUT a dedup aggregate (when a real k_{i,c₀}
    * row exists it strictly dominates the zero row — same community,
    * score larger by 2m·k — so the duplicate can never win); label
    * table lineage-cut per round; rounds plan at edge-derived width
    * (object scaladoc). Returns (node, community).
    *
    * `weightCol` generalizes every count to a weight sum (k_{i,c},
    * deg, Σtot, 2m) — REQUIRED INTEGRAL for the exact-integer score
    * contract; this is what phase 2 runs on the contracted graph
    * ([[louvainContract]]), where self-loop rows carry the
    * intra-community weight (doubled by the explode into the degree,
    * excluded from candidate mass — see the in-body comments). */
  def louvain(edges: DataFrame, rounds: Int = 4, reliable: Boolean = false,
              weightCol: Option[String] = None)
             (implicit scope: CacheScope): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val (e2, wSum, m2, lbl0) = louvainSetup(edges, reliable, weightCol)
    var lbl = lbl0
    for (r <- 1 to rounds)
      lbl = scope.checkpointed(louvainStep(e2, lbl, r % 2, wSum, m2), reliable)
    lbl.select(col("node"), col("c").as("community"))
  }

  /** Shared setup for both Louvain forms: both-direction edge leaf,
    * weight-sum aggregate, 2m broadcast, and the initial label table
    * (node, deg, c=node) — ONE definition so the fixed-round and
    * converged variants cannot drift. Both directions come from ONE
    * explode (the adamicAdar discipline). A SELF-LOOP input row
    * (src = dst — the intra-community weight of a contracted graph,
    * see [[louvainContract]]) explodes into two identical rows, which
    * is exactly the factor-2 its weight needs inside the degree sum
    * (deg(a) = 2·W(a,a) + Σ_{b≠a} W(a,b)). The label table carries
    * (node, deg, c): deg is loop-invariant and node-sized, so carrying
    * it through the per-round lineage cut is free and saves a deg join
    * in BOTH the Σtot and scoring paths. */
  private def louvainSetup(edges: DataFrame, reliable: Boolean,
                           weightCol: Option[String])
                          (implicit scope: CacheScope)
      : (DataFrame, Column, DataFrame, DataFrame) = {
    val inCols = Seq(col("src"), col("dst")) ++ weightCol.map(col)
    val (rs, e) = roundSetup(edges.select(inCols: _*), reliable)
    val wOut = weightCol.map(_ => col("x.w").as("w")).toSeq
    val e2 = scope.checkpointed(e.select(explode(array(
        struct(Seq(col("src").as("s"), col("dst").as("d")) ++
          weightCol.map(w => col(w).as("w")): _*),
        struct(Seq(col("dst").as("s"), col("src").as("d")) ++
          weightCol.map(w => col(w).as("w")): _*))).as("x"))
      .select(Seq(col("x.s").as("src"), col("x.d").as("dst")) ++ wOut: _*),
      reliable)
    val wSum = weightCol.map(_ => sum(col("w"))).getOrElse(count(lit(1)))
    val deg = e2.groupBy(col("src").as("node")).agg(wSum.as("deg"))
    val m2 = deg.agg(sum(col("deg")).as("m2")) // = 2m, rides as broadcast
    val lbl0 = scope.checkpointed(deg.withColumn("c", col("node")), reliable)
    (e2, wSum, m2, lbl0)
  }

  /** One semi-synchronous Louvain move round over the `parity` half —
    * the per-round body of [[louvain]] and [[louvainConverged]].
    * One edge-sized neighbor-community count (k_{i,c}) over the
    * MOVABLE half only (the gate halves the candidate volume, it
    * doesn't just mask), one node-sized community-weight aggregate
    * (Σtot), the candidate scoring join, one argmax aggregate — all
    * partial-aggregatable. Self-loops are EXCLUDED from candidate
    * mass: a node's own intra-weight stays internal wherever it goes,
    * so counting it would only bias the stay candidate (standard
    * phase-2 treatment; a no-op on self-loop-free level-1 graphs).
    * Staying is ALWAYS a candidate, even with no same-community
    * neighbor: the zero-k row is dominated wherever a real c₀ row
    * exists, so no dedup aggregate is needed before the argmax. */
  private def louvainStep(e2: DataFrame, lbl: DataFrame, parity: Int,
                          wSum: Column, m2: DataFrame): DataFrame = {
    val tot = lbl.groupBy("c").agg(sum(col("deg")).as("tot"))
    val kic = e2.filter(col("src") % 2 === lit(parity))
      .filter(col("src") =!= col("dst"))
      .join(lbl.select(col("node").as("dst"), col("c")), "dst")
      .groupBy(col("src").as("node"), col("c")).agg(wSum.as("k"))
    val stay = lbl.filter(col("node") % 2 === lit(parity))
      .select(col("node"), col("c"), lit(0L).as("k"))
    // join ORDER is an exchange-count lever (guide §2.4): tot (by c)
    // joins BEFORE lbl (by node), so the argmax groupBy("node") reuses
    // the lbl join's node partitioning instead of paying a third
    // candidate-sized exchange (was node → c → node; now c → node →
    // argmax-for-free). Same inner joins, same rows; paired A/B:
    // 0.93/0.90 min-ratio on q70/q77 (round-18 ledger).
    val scored = kic.union(stay)
      .join(tot, "c")
      .join(lbl.select(col("node"), col("c").as("c0"), col("deg")), "node")
      .crossJoin(broadcast(m2))
      .select(col("node"), col("c"),
        (col("m2") * col("k") - col("deg") *
          (col("tot") - when(col("c") === col("c0"), col("deg"))
            .otherwise(lit(0L)))).as("score"))
    val best = scored.groupBy("node").agg(
      max_by(col("c"), struct(col("score"), (-col("c")).as("t"))).as("cn"))
    lbl.join(best, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("cn"), col("c")).as("c"))
  }

  /** Action-driven Louvain local moves for pipeline use: run full
    * even+odd move SWEEPS until one moves zero nodes — the natural
    * local-move fixpoint ([[louvain]]'s fixed `rounds` keeps the
    * oracle query replayable; this form is for production depth).
    * A candidate move is accepted when its exact-integer ΔQ score
    * strictly improves on staying, OR ties it with a smaller
    * community id (the shared max_by key is (score, −c) and staying
    * is its own candidate row — so an equal-score tie moves the node
    * whenever some candidate community has a smaller id than c₀).
    * Zero-gain tie moves therefore DO occur. Termination heuristics:
    * every tie move strictly decreases the node's community id, and
    * for INDEPENDENT (non-adjacent) same-parity moves the frozen-label
    * scores match the sequential ΔQ, keeping modularity non-decreasing
    * — but adjacent same-parity nodes move simultaneously, so moves
    * scored against frozen labels need not preserve modularity and
    * oscillation is possible in principle; `maxSweeps` (WARN + return
    * last iterate) is the real termination guarantee. The change
    * probe is an inner label join (the node set is derived once from
    * the degree table and every step preserves it row-for-row, unlike
    * [[labelPropagationConverged]]'s contract-sensitive full-outer
    * probe); the probe's action materializes the sweep's checkpoints,
    * after which the two superseded label tables release their blocks
    * — a deep run holds one sweep of state, not `maxSweeps` of it.
    * Exhausting `maxSweeps` logs a WARN and returns the last iterate.
    * Returns (node, community), bit-identical to [[louvain]] run for
    * 2·(sweeps to convergence) rounds. */
  def louvainConverged(edges: DataFrame, maxSweeps: Int = 20,
                       reliable: Boolean = false,
                       weightCol: Option[String] = None)
                      (implicit scope: CacheScope): DataFrame = {
    require(maxSweeps >= 1, s"maxSweeps must be >= 1 (got $maxSweeps)")
    val (e2, wSum, m2, lbl0) = louvainSetup(edges, reliable, weightCol)
    var lbl = lbl0
    var sweep = 0
    var moved = true
    while (sweep < maxSweeps && moved) {
      // a sweep = [[louvain]]'s rounds 2s+1, 2s+2: odd parity, then even
      val afterOdd = scope.checkpointed(
        louvainStep(e2, lbl, 1, wSum, m2), reliable)
      val next = scope.checkpointed(
        louvainStep(e2, afterOdd, 0, wSum, m2), reliable)
      moved = !next.as("n").join(lbl.as("p"), col("n.node") === col("p.node"))
        .filter(col("n.c") =!= col("p.c")).isEmpty
      if (!reliable) {
        CacheScope.unpersistPlanRdds(lbl)
        CacheScope.unpersistPlanRdds(afterOdd)
      }
      lbl = next
      sweep += 1
    }
    if (moved)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"louvainConverged exhausted maxSweeps=$maxSweeps with moves " +
          "still occurring — returning the last iterate (modularity is " +
          "non-decreasing, so it is a valid, possibly improvable, partition)")
    lbl.select(col("node"), col("c").as("community"))
  }

  /** CONTRACT a canonical (src < dst) edge list by a community
    * assignment — the Louvain phase-2 coarsening: every community
    * becomes a super-node; the returned canonical weighted edges are
    * (a, b, w) = total inter-community edge count for a < b, plus ONE
    * self-loop row (a, a, W_intra) carrying the intra-community edge
    * count — [[louvain]]'s both-directions explode doubles the
    * self-loop's weight into the super-node degree, which is exactly
    * deg(a) = 2·W(a,a) + Σ_{b≠a} W(a,b), so modularity on the coarse
    * graph equals modularity of the corresponding fine partition (the
    * invariant phase 2 rests on). One edge-sized double label join +
    * one community²-bounded aggregate. */
  def louvainContract(edges: DataFrame, communities: DataFrame)
                     (implicit scope: CacheScope): DataFrame = {
    val cm = scope.cached(communities.select(col("node"), col("community")))
    edges.select(col("src"), col("dst"))
      .join(cm.select(col("node").as("src"), col("community").as("ca")), "src")
      .join(cm.select(col("node").as("dst"), col("community").as("cb")), "dst")
      .select(least(col("ca"), col("cb")).as("src"),
        greatest(col("ca"), col("cb")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** MODULARITY of a community assignment (Newman & Girvan): per
    * community c over an UNDIRECTED canonical edge list (each edge
    * once, src < dst), with m = |E|, e_c = intra-community edges and
    * d_c = Σ degrees of c's members,
    *   contribution(c) = e_c/m − (d_c/2m)²
    * and Q = Σ_c contribution — the standard "are these communities
    * real" score for grading [[labelPropagation]] output (Q near 0:
    * no better than random given the degree sequence; dense real
    * communities land well above).
    *
    * Determinism: e_c, d_c, m are exact integers; the contribution is
    * computed as ONE division of exact integer terms,
    * (4·m·e_c − d_c²) / (4·m²), rounded to `scale` — a SQL replay of
    * the same spelling matches bit-for-bit. (At extreme scale note
    * d_c² and 4m² must fit a long: fine until 2m approaches 3·10⁹
    * edge-endpoints per community — cast the terms to double past
    * that, trading the last-ulp contract.)
    *
    * Cost shape: one edge-sized double label join + two edge-sized
    * partial-aggregatable counts + node-sized community sizes; the
    * edge count enters as one broadcast 1-row aggregate. `communities`
    * must cover every edge endpoint ([[labelPropagation]] output
    * does); uncovered endpoints would drop their edges from the score.
    * Returns (community, n_nodes, deg_sum, e_in, contribution). */
  def modularity(edges: DataFrame, communities: DataFrame, scale: Int = 9)
                (implicit scope: CacheScope): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
    val cm = scope.cached(communities.select(col("node"), col("community")))
    val m = ed.agg(count(lit(1)).as("m"))
    // cached: degSum and eIn are separate aggregates over this joined
    // table — without the cache the edge-sized double label join runs
    // once per consumer
    val lab = scope.cached(ed
      .join(cm.select(col("node").as("src"), col("community").as("c1")), "src")
      .join(cm.select(col("node").as("dst"), col("community").as("c2")), "dst"))
    val degSum = lab.select(explode(array(col("c1"), col("c2"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("deg_sum"))
    val eIn = lab.filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community")).agg(count(lit(1)).as("e_in"))
    cm.groupBy("community").agg(count(lit(1)).as("n_nodes"))
      .join(degSum, Seq("community"), "left")
      .join(eIn, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("m"))
      .select(col("community"), col("n_nodes"), col("deg_sum"), col("e_in"),
        when(col("m") > 0, round(
          (lit(4L) * col("m") * col("e_in") - col("deg_sum") * col("deg_sum"))
            .cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"), scale))
          .otherwise(lit(0.0)).as("contribution"))
  }

  /** Both directions of an edge list, distinct — the undirected form
    * [[pageRank]] wants when dangling-mass leakage should vanish. */
  def undirect(edges: DataFrame): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
    ed.union(ed.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Connected components over an UNDIRECTED edge list (src, dst) —
    * the generic-graph face of [[CorpusOps.dupClusters]]'s min-label
    * propagation + pointer doubling (diameter cover 2^(2·rounds−1);
    * the default 3 rounds covers 32). Returns (node, component,
    * component_size) where `component` is the minimum node id of the
    * component — deterministic, so a SQL replay of the same rounds
    * matches exactly. All the scale discipline (edge checkpoint,
    * AQE-off rounds at edge-derived width, per-round lineage cuts,
    * `reliable` for executor-loss tolerance) is dupClusters'. */
  def connectedComponents(edges: DataFrame, rounds: Int = 3,
                          reliable: Boolean = false)
                         (implicit scope: CacheScope): DataFrame =
    CorpusOps.dupClusters(
      edges.select(col("src").as("d1"), col("dst").as("d2")), rounds, reliable)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"),
        col("cluster_size").as("component_size"))

  /** Multi-source BFS hop distance over a DIRECTED edge list: the
    * minimum number of edges from any node in `sources` (distance 0)
    * to each reachable node, explored to `maxHops` rounds. Undirect
    * the edge list first for undirected reachability ([[undirect]]).
    *
    * Shape per round (the Pregel-by-join discipline of [[pageRank]]):
    * one frontier-sized edge join + a dst-side min aggregate + a
    * node-sized full outer merge `coalesce(least(dist, nd), dist, nd)`
    * — distances only ever shrink, so the merge is monotone and the
    * result after k rounds is EXACTLY min(true distance, explored
    * prefix), independent of join order. The distance table is
    * lineage-cut every round (it feeds the next round twice: edge
    * join + merge). All values are exact longs — a SQL replay of the
    * same rounds matches bit-for-bit, no rounding contract needed.
    *
    * Rounds run in the AQE-off child session at edge-derived width
    * (object scaladoc). Unreached nodes are ABSENT from the result
    * (never materialized — the output stays reachable-set-sized, not
    * node-universe-sized). Returns (node, dist). */
  def hopDistance(edges: DataFrame, sources: DataFrame, maxHops: Int = 4,
                  reliable: Boolean = false)
                 (implicit scope: CacheScope): DataFrame =
    relaxLoop(edges.select(col("src"), col("dst")), sources, lit(1L),
      maxHops, reliable)

  /** WEIGHTED shortest paths (distributed Bellman-Ford): minimum
    * total edge weight from any source to each node reachable within
    * `rounds` relaxations — [[hopDistance]] with the step cost
    * `weightCol` instead of 1. Weights must be NON-NEGATIVE (the
    * min-merge is only monotone then; negative edges need the full
    * V−1-round Bellman-Ford and a cycle check). After k rounds the
    * result is exactly min over paths of <= k edges — the anytime
    * semantics a bounded exploration wants; integer weights replay
    * bit-for-bit in a SQL oracle. Same per-round shape, lineage cuts,
    * and child-session width discipline as [[hopDistance]]. */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    weightCol: String = "w", rounds: Int = 4,
                    reliable: Boolean = false)
                   (implicit scope: CacheScope): DataFrame =
    relaxLoop(edges.select(col("src"), col("dst"), col(weightCol).as("_w")),
      sources, col("_w"), rounds, reliable)

  // Block lifetime (shared by every fixed-round loop here): per-round
  // lazy checkpoints materialize at the caller's terminal action and
  // hold blocks until the CacheScope closes — mid-loop release is only
  // possible in the action-driven converged variants, where each
  // convergence probe materializes a round before its predecessor is
  // unpersisted. Callers iterating DEEP should use those.
  private def relaxLoop(edges: DataFrame, sources: DataFrame, step: Column,
                        rounds: Int, reliable: Boolean)
                       (implicit scope: CacheScope): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val (rs, e) = roundSetup(edges, reliable)
    var dist = scope.checkpointed(
      intoSession(rs, sources.select(col("node")).distinct())
        .withColumn("dist", lit(0L)), reliable)
    for (_ <- 1 to rounds) {
      val nd = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + step).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      // coalesce(least(d, nd), d, nd) is correct under BOTH null
      // semantics of least() (skip-null and propagate-null) — the
      // form a SQL oracle can copy verbatim on any engine
      dist = scope.checkpointed(
        dist.join(nd, Seq("node"), "full")
          .select(col("node"),
            coalesce(least(col("dist"), col("nd")), col("dist"), col("nd"))
              .as("dist")), reliable)
    }
    dist
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    * list: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v),
    * iterated `iters` times, both score vectors L2-normalized at the
    * END — a single deferred normalization leaves the direction
    * identical to per-round normalization while keeping every
    * intermediate an exact INTEGER-valued double (bit-exact under any
    * shuffle order, no rounding contract inside the rounds; only the
    * final divide rounds to `scale` to absorb the 1-ulp sqrt). The
    * exactness holds while pulls stay <= 2^53 — magnitudes grow
    * ~deg^iters, so hub-heavy/deep runs CAN cross it; a guard on the
    * final normalization aggregate raises an error (not silent drift)
    * past 2^52, see the in-body comment. On a
    * bipartite source→consumer graph hubs score the source side and
    * authorities the consumer side. Nodes keep 0-valued rows via
    * node-universe left joins (a dropped row would poison the next
    * pull). Per round: two edge-sized joins + two node aggregates.
    * Returns (node, hub, auth). */
  def hits(edges: DataFrame, iters: Int = 3, scale: Int = 9)
          (implicit scope: CacheScope): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val (rs, e) = roundSetup(edges.select(col("src"), col("dst")), reliable = false)
    // checkpointed leaf, not cache(): referenced by every round's
    // merge — the prSetup constants-table finding (cache substitution
    // missed inner occurrences, re-running the union+distinct per
    // round)
    val nodes = scope.checkpointed(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct(),
      reliable = false)
    // UNNORMALIZED pulls: normalization is a per-round scalar factor,
    // so deferring it to ONE final division leaves the direction
    // identical while every intermediate stays an INTEGER-valued
    // double (sums of 1s, then sums of integers — exact in IEEE up to
    // 2^53; pulls grow ~deg^iters, and the guard below fails loudly
    // when a graph actually crosses the bound). That makes the
    // rounds bit-exact under ANY aggregation order with no decimal
    // casts and no per-round rounding contract at all; only the final
    // normalize needs round(scale) to kill the 1-ulp sqrt.
    var hub = nodes.withColumn("h", lit(1.0))
    var auth = nodes.withColumn("a", lit(0.0))
    for (_ <- 1 to iters) {
      val aPull = e.join(hub, e("src") === hub("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("raw"))
      auth = scope.checkpointed(
        nodes.join(aPull, Seq("node"), "left")
          .select(col("node"), coalesce(col("raw"), lit(0.0)).as("a")),
        reliable = false)
      val hPull = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("raw"))
      hub = scope.checkpointed(
        nodes.join(hPull, Seq("node"), "left")
          .select(col("node"), coalesce(col("raw"), lit(0.0)).as("h")),
        reliable = false)
    }
    // MAGNITUDE GUARD on the integer-exactness contract: the deferred
    // normalization is bit-exact only while every pull stays <= 2^53
    // (pull values are sums of non-negative integers, so partial sums
    // are bounded by the final value — checking each side's MAX output
    // covers every partial). Pull magnitudes grow ~deg^iters: a hub
    // degree around 10^6 crosses 2^53 at iters = 3, at which point the
    // contract would otherwise degrade SILENTLY to shuffle-order last
    // ulps. An overflow at an earlier round forces a >= as-large value
    // on some node in every later round (each overflowed node's value
    // feeds a neighbor's non-negative sum), so guarding the FINAL max
    // of both sides catches intermediate overflow too; the threshold is
    // 2^52 for headroom. The guard rides the one aggregate the
    // normalization already runs — no extra pass, and it fails LOUDLY
    // (raise_error) instead of returning drifting ranks. Remedies: fewer
    // iters, or pre-aggregate parallel edges (multiplicity inflates
    // pulls fastest).
    val maxExactPull = math.pow(2, 52)
    val n2 = broadcast(hub.join(auth, "node").agg(
      sum(col("h") * col("h")).as("hn2"), sum(col("a") * col("a")).as("an2"),
      greatest(max(col("h")), max(col("a"))).as("maxpull")))
    val guarded = when(col("maxpull") > maxExactPull,
      raise_error(concat(lit("hits(): pull magnitude "), col("maxpull"),
        lit(s" exceeded 2^52 after $iters iterations — the deferred-" +
          "normalization integer-exactness contract no longer holds on " +
          "this graph (hub degree too large for this depth); reduce " +
          "iters or pre-aggregate parallel edges"))).cast("double"))
    hub.join(auth, "node").crossJoin(n2)
      .select(col("node"),
        coalesce(guarded,
          when(col("hn2") > 0, round(col("h") / sqrt(col("hn2")), scale))
            .otherwise(lit(0.0))).as("hub"),
        coalesce(guarded,
          when(col("an2") > 0, round(col("a") / sqrt(col("an2")), scale))
            .otherwise(lit(0.0))).as("auth"))
  }

  /** LABEL PROPAGATION communities (synchronous LPA, Raghavan et al.
    * 2007): every node starts as its own label; each round a node
    * adopts the most frequent label among its NEIGHBORS, ties broken
    * toward the smaller label — fully deterministic, so a SQL oracle
    * replays the same fixed rounds (the replayability-over-convergence
    * trade every iterative query here makes; synchronous LPA can
    * oscillate, which fixed rounds render moot). Communities are FINER
    * than connected components: a bridge edge between two dense
    * clusters does not merge their labels the way min-label
    * propagation would.
    *
    * Input: undirected edge list given BOTH directions (use
    * [[undirect]]). Per round: one edge-sized join + a (node, label)
    * count + a node-sized max_by aggregate — no sort, no window; the
    * label table is lineage-cut per round. Returns (node, community)
    * with community = the surviving label. */
  /** One synchronous-LPA round: edge join + (node, label) count + the
    * deterministic max_by argmax — (c, -lbl) is unique per (node, lbl),
    * so the highest count wins with ties to the SMALLER label. Shared
    * by the fixed-round and converged variants so the tie-break rule
    * cannot drift between them. */
  private def lpaStep(e: DataFrame, lbl: DataFrame): DataFrame =
    e.join(lbl, e("src") === lbl("node"))
      .select(col("dst").as("node"), col("lbl"))
      .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
      .groupBy("node").agg(
        max_by(col("lbl"), struct(col("c"), (-col("lbl")).as("t"))).as("lbl"))

  def labelPropagation(edges: DataFrame, rounds: Int = 3,
                       reliable: Boolean = false)
                      (implicit scope: CacheScope): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val (rs, e) = roundSetup(edges.select(col("src"), col("dst")), reliable)
    var lbl = scope.checkpointed(
      e.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")), reliable)
    for (_ <- 1 to rounds)
      lbl = scope.checkpointed(lpaStep(e, lbl), reliable)
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /** Action-driven LPA for pipeline use: iterate [[lpaStep]] until NO
    * label changes, up to `maxRounds` — the production termination rule
    * ([[labelPropagation]]'s fixed rounds back the oracle-gated query:
    * construction must stay action-free). Each round's change check is
    * one node-sized join existence probe; it materializes the round's
    * checkpoint, after which the SUPERSEDED round's blocks are released
    * — so a long run holds two label tables, not `rounds` of them (the
    * fixed-round loop cannot release mid-construction: its checkpoints
    * are lazy and unpersisting an unmaterialized lazy local checkpoint
    * would invalidate the terminal action; its blocks live until the
    * scope closes, which is why deep iteration belongs HERE).
    *
    * Synchronous LPA can OSCILLATE (a 2-cycle of label swaps — the
    * classic bipartite failure mode), in which case `maxRounds` is
    * exhausted and a WARN is logged; the returned table is the last
    * iterate, exactly what the fixed-round form at `maxRounds` rounds
    * would produce. Returns (node, community). */
  def labelPropagationConverged(edges: DataFrame, maxRounds: Int = 20,
                                reliable: Boolean = false)
                               (implicit scope: CacheScope): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1 (got $maxRounds)")
    val (rs, e) = roundSetup(edges.select(col("src"), col("dst")), reliable)
    var lbl = scope.checkpointed(
      e.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")), reliable)
    var round = 0
    var changed = true
    while (round < maxRounds && changed) {
      val next = scope.checkpointed(lpaStep(e, lbl), reliable)
      // FULL-outer change probe: with both-direction input the node
      // sets are invariant round-to-round and this degenerates to the
      // inner comparison — but on a single-direction edge list (the
      // documented contract violated) nodes APPEAR and DISAPPEAR
      // between rounds, and an inner-join probe is blind to that: it
      // can declare a false fixpoint while labels are still moving.
      // The full join makes a node-set delta count as "changed", so a
      // contract-violating input still iterates to ITS relaxation's
      // true fixpoint instead of silently stopping early. The probe
      // materializes `next` (its plan reads lbl's blocks), so the
      // superseded round is releasable right after.
      changed = !next.as("n").join(lbl.as("p"),
          col("n.node") === col("p.node"), "full")
        .filter(col("n.lbl").isNull || col("p.lbl").isNull ||
          col("n.lbl") =!= col("p.lbl")).isEmpty
      if (!reliable) CacheScope.unpersistPlanRdds(lbl)
      lbl = next
      round += 1
    }
    if (changed)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"labelPropagationConverged exhausted maxRounds=$maxRounds " +
          "without a fixpoint — synchronous LPA oscillates on some graphs " +
          "(label 2-cycles); returning the last iterate")
    lbl.select(col("node"), col("lbl").as("community"))
  }

  /** Undirected degree table of a canonical (src < dst) edge list —
    * the per-round aggregate both k-core forms peel by. ONE definition
    * so the fixed-round and converged variants cannot drift. */
  private def peelDegrees(ed: DataFrame): DataFrame =
    ed.select(col("src").as("node")).union(ed.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** K-CORE approximation by fixed-round peeling: repeatedly drop
    * nodes with degree < k (degree over the surviving subgraph) for
    * `rounds` rounds; the fixpoint of this peel IS the k-core, and a
    * fixed round count makes the query replayable (both engines run
    * the same rounds — the q44/dupClusters trade; on most graphs the
    * peel converges in a few rounds). Input: UNDIRECTED canonical
    * edges (each edge once, src < dst). Returns the surviving
    * (node, deg) table after the last peel — deg is the node's degree
    * in the surviving subgraph, >= k wherever a further peel would
    * change nothing. Per round: one edge-sized degree aggregate + two
    * semi joins filtering the edge table; edge table lineage-cut per
    * round. All integers.
    *
    * Block lifetime: the per-round checkpoints are LAZY — they
    * materialize together at the caller's terminal action and their
    * blocks live until the [[CacheScope]] closes (they cannot be
    * released mid-construction: unpersisting an unmaterialized lazy
    * local checkpoint invalidates the terminal action). Two tables per
    * round × a LARGE `rounds` is real storage — deep or unknown-depth
    * peels belong on [[kCoreConverged]], which releases superseded
    * rounds as its convergence actions materialize them. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 4,
            reliable: Boolean = false)
           (implicit scope: CacheScope): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k/rounds must be >= 1 (got $k/$rounds)")
    val setup = roundSetup(edges.select(col("src"), col("dst")), reliable)
    val rs = setup._1
    var e = setup._2
    for (_ <- 1 to rounds) {
      // the survivor set feeds BOTH semi joins — lineage-cut it so the
      // per-round degree aggregate runs once, not once per join side
      val keep = scope.checkpointed(
        peelDegrees(e).filter(col("deg") >= k).select("node"), reliable)
      e = scope.checkpointed(
        e.join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst"), reliable)
    }
    peelDegrees(e).filter(col("deg") >= k)
  }

  /** Action-driven k-core for pipeline use: peel until the SURVIVOR
    * COUNT stops changing — the survivor set only ever shrinks, so an
    * unchanged count means an unchanged set, i.e. the true k-core
    * fixpoint (this closes the fixed-round form's silent under-peel: at
    * an unknown depth, [[kCore]]'s `rounds` rounds return a SUPERSET of
    * the k-core — fine for the replayable oracle query, wrong for a
    * pipeline that acts on the result). Each round's survivor count is
    * one node-sized aggregate action that also materializes the round's
    * checkpoints, after which the superseded edge/survivor tables
    * release their blocks — a deep peel holds one round of state, not
    * `rounds` of it (the fixed-round loop cannot release
    * mid-construction: lazy checkpoints materialize only at the
    * caller's terminal action). Exhausting `maxRounds` logs a WARN and
    * returns the last (possibly under-peeled) iterate. Returns the
    * surviving (node, deg) table exactly as [[kCore]] would at the
    * convergence depth. */
  def kCoreConverged(edges: DataFrame, k: Int, maxRounds: Int = 20,
                     reliable: Boolean = false)
                    (implicit scope: CacheScope): DataFrame = {
    require(k >= 1 && maxRounds >= 1,
      s"k/maxRounds must be >= 1 (got $k/$maxRounds)")
    val setup = roundSetup(edges.select(col("src"), col("dst")), reliable)
    var e = setup._2
    var survivors = -1L
    var stable = false
    var round = 0
    var pending = List.empty[DataFrame]
    while (round < maxRounds && !stable) {
      val keep = scope.checkpointed(
        peelDegrees(e).filter(col("deg") >= k).select("node"), reliable)
      val n = keep.count() // materializes keep AND the current e leaf
      if (!reliable) { pending.foreach(CacheScope.unpersistPlanRdds) }
      pending = Nil
      stable = n == survivors
      survivors = n
      round += 1
      if (!stable) {
        val prevE = e
        e = scope.checkpointed(
          e.join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
            .select("src", "dst"), reliable)
        // the new e is LAZY — the next round's count materializes it;
        // only then are its inputs (old e, keep) safe to release
        pending = List(keep, prevE)
      }
    }
    if (!stable)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"kCoreConverged exhausted maxRounds=$maxRounds before the " +
          "peel reached its fixpoint — the result is a SUPERSET of the " +
          s"$k-core; raise maxRounds")
    peelDegrees(e).filter(col("deg") >= k)
  }

  /** Exact per-node triangle counts over an UNDIRECTED graph given in
    * canonical form (each edge ONCE, src < dst). Returns
    * (node, triangles) for nodes in >= 1 triangle.
    *
    * Scale shape — degree orientation: every edge is directed from its
    * (degree, id)-smaller endpoint to the larger, which makes the
    * orientation acyclic with max out-degree O(√E); the wedge
    * self-join (e1.v = e2.u) is therefore bounded by Σ outdeg² =
    * O(E^1.5) — the optimal triangle-enumeration bound — instead of
    * Σ deg² which a hub node makes quadratic. Each triangle is
    * enumerated exactly ONCE (its unique (deg,id)-minimal corner emits
    * the wedge, closed by the third oriented edge), so per-node counts
    * are a plain explode of the three corners. A SQL oracle can
    * instead enumerate with the a<b<c id-order join — same triangle
    * set, same counts — while the engine keeps the skew-bounded
    * orientation. All integers: no rounding contract. */
  def triangles(edges: DataFrame)(implicit scope: CacheScope): DataFrame =
    orientedTriangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

  /** Degree-oriented triangle enumeration — the shared core of
    * [[triangles]], [[edgeSupport]] and [[kTruss]]: every triangle
    * exactly once as (a, b, c) in orientation order. The edge table
    * feeds three scans before the cached orientation exists (both
    * endpoints of the degree union + the orientation join) —
    * lineage-cut once so an expensive upstream edge build runs once,
    * not three times; the orientation is reused three times (two
    * wedge sides + the closing probe). */
  private def orientedTriangles(edges: DataFrame)
                               (implicit scope: CacheScope): DataFrame = {
    val ed = scope.checkpointed(edges.select(col("src"), col("dst")),
      reliable = false)
    val deg = ed.select(col("src").as("node"))
      .union(ed.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val lower = ed.join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      .select(
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")),
          struct(col("src").as("u"), col("dst").as("v")))
          .otherwise(struct(col("dst").as("u"), col("src").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val or = scope.cached(lower)
    val wedges = or.as("e1").join(or.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    wedges.join(or.as("e3"),
      col("a") === col("e3.u") && col("c") === col("e3.v"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Per-edge triangle SUPPORT over an UNDIRECTED canonical edge list
    * (each edge once, src < dst): (src, dst, support) for edges in
    * >= 1 triangle — each enumerated triangle's three edges, mapped
    * back to canonical form, feed one partial-aggregatable count.
    * Same E^1.5 wedge bound as [[triangles]] (shared orientation);
    * edges in no triangle are ABSENT (support 0). All integers. */
  def edgeSupport(edges: DataFrame)(implicit scope: CacheScope): DataFrame =
    orientedTriangles(edges)
      .select(explode(array(
        struct(least(col("a"), col("b")).as("src"),
          greatest(col("a"), col("b")).as("dst")),
        struct(least(col("b"), col("c")).as("src"),
          greatest(col("b"), col("c")).as("dst")),
        struct(least(col("a"), col("c")).as("src"),
          greatest(col("a"), col("c")).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("support"))

  /** K-TRUSS approximation by fixed-round support peeling (Cohen
    * 2008): repeatedly keep only edges whose triangle support within
    * the SURVIVING subgraph is >= k−2; the fixpoint of this peel IS
    * the k-truss — the cohesive-subgraph notion strictly stronger
    * than ([[kCore]]) degree (every k-truss edge sits in a (k−1)-core)
    * and the standard community-backbone extractor. Fixed `rounds`
    * keeps the query replayable (the [[kCore]] trade; a SQL oracle
    * unrolls the identical rounds — engine and oracle run the SAME
    * count of peels, so they agree converged or not). Edges in no
    * triangle drop in round 1 (absent from the support table). Per
    * round one E^1.5-bounded support enumeration + the filter;
    * support table lineage-cut per round. Returns the surviving
    * canonical edges with their final support, all exact integers.
    * Deep/unknown-depth peels belong on [[kTrussConverged]]. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3,
             reliable: Boolean = false)
            (implicit scope: CacheScope): DataFrame = {
    require(k >= 3 && rounds >= 1, s"k must be >= 3, rounds >= 1 (got $k/$rounds)")
    var e = edges.select(col("src"), col("dst"))
    for (_ <- 1 to rounds)
      e = scope.checkpointed(
        edgeSupport(e).filter(col("support") >= k - 2).select("src", "dst"),
        reliable)
    edgeSupport(e).filter(col("support") >= k - 2)
  }

  /** Action-driven k-truss for pipeline use: peel until the surviving
    * EDGE COUNT stops changing — the set only shrinks, so an unchanged
    * count is the true k-truss fixpoint (the [[kCoreConverged]]
    * argument edge-for-edge). Each round's count materializes the
    * round's checkpoint, after which the superseded edge table
    * releases its blocks; exhausting `maxRounds` WARNs and returns the
    * last (possibly under-peeled) iterate. */
  def kTrussConverged(edges: DataFrame, k: Int, maxRounds: Int = 20,
                      reliable: Boolean = false)
                     (implicit scope: CacheScope): DataFrame = {
    require(k >= 3 && maxRounds >= 1,
      s"k must be >= 3, maxRounds >= 1 (got $k/$maxRounds)")
    var e = scope.checkpointed(edges.select(col("src"), col("dst")), reliable)
    var nEdges = -1L
    var stable = false
    var round = 0
    while (round < maxRounds && !stable) {
      val next = scope.checkpointed(
        edgeSupport(e).filter(col("support") >= k - 2).select("src", "dst"),
        reliable)
      val n = next.count() // materializes next off the current e leaf
      stable = n == nEdges
      nEdges = n
      round += 1
      if (!reliable && !stable) CacheScope.unpersistPlanRdds(e)
      if (!stable) e = next
    }
    if (!stable)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"kTrussConverged exhausted maxRounds=$maxRounds before the " +
          s"peel reached its fixpoint — the result is a SUPERSET of the $k-truss")
    edgeSupport(e).filter(col("support") >= k - 2)
  }
}
