package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph centrality over an edge list — the authority signal corpus
  * curation reads off the link/derived-similarity graph: Common Crawl
  * publishes host-level PageRank/harmonic ranks that downstream corpus
  * builders (C4/CCNet descendants) consume as crawl-priority and
  * quality-weight inputs, and within a near-dup cluster the
  * highest-centrality copy is the natural canonical document (the
  * min-id keeper is arbitrary; the most-linked-to copy is not).
  *
  * Everything here is FIXED-POINT INTEGER arithmetic (ranks are longs
  * summing to ~[[Scale]]): floating-point PageRank sums in
  * partition-arrival order and no two engines (or two runs) agree on
  * the last ulp, so the whole result table would fall out of the
  * value-hash oracle gate. Integer mass is order-independent and
  * exactly replayable in DuckDB with `//` division (both engines
  * truncate non-negative quotients identically). The floor divisions
  * leak ≤ 1 unit per node per term per iteration — bounded, one-sided
  * (mass only shrinks), and asserted in CentralitySpec.
  *
  * Iteration budget mirrors [[Components]] (same reasoning, proven by
  * the same plan-walk style): edges are repartitioned by src ONCE and
  * cached; rank state is checkpointed id-partitioned each iteration
  * (plan-depth stays constant — the state is referenced three times
  * per step); the contribution aggregation by dst is the ONE real
  * exchange per iteration; the dangling-mass term is a 1-row aggregate
  * broadcast back via crossJoin. No windows, no driver-side loops over
  * rows — the only driver scalars are the node count and the
  * edge-count partition sizing (both single-row aggregates, the
  * watermark idiom).
  */
object Centrality {

  /** Total rank mass: 1e12 fixed-point units. Large enough that the
    * per-iteration floor loss (≤ nodes·2 units) is invisible at any
    * realistic node count, small enough that 100·rank and
    * 1e6·rank stay far under 2^63 (ANSI mode would abort on wrap). */
  val Scale: Long = 1000000000000L

  /** Weighted contributions quantize each edge's share of its source's
    * out-weight to parts-per-million once, up front — so the
    * per-iteration multiply r·share_ppm is bounded by Scale·1e6 = 1e18
    * < 2^63 regardless of raw weight magnitude.
    *
    * Faithfulness bound, stated precisely: an edge whose true share is
    * under 1 ppm (w/out_w < 1e-6) floors to share_ppm = 0 and
    * contributes NOTHING, every iteration; more generally a source
    * loses up to out_deg ppm of its forwarded mass per iteration to
    * the floors. The quantization is therefore faithful only while
    * out-degrees (more exactly, out_w/min-edge-w ratios) stay well
    * under 1e6 — true for source-level graphs (#sources bounds
    * out-degree; the df-cap bounds it further), NOT for
    * Common-Crawl-scale host graphs with ~1e6+ distinct neighbors,
    * where the result silently diverges from true weighted PageRank.
    * The scale can't simply be raised: Scale·1e9 ppb shares would
    * overflow 2^63. At that degree regime, pre-aggregate the edge list
    * (merge parallel edges, drop sub-ppm tails explicitly) or lower
    * [[Scale]] in tandem — both change the oracle constants, which is
    * why the bound is documented rather than silently absorbed. The
    * unweighted path (r div out_deg, no ppm) loses ≤ 1 unit per node
    * per term and has no such degree bound. */
  val SharePpm: Long = 1000000L

  private val RowsPerIterationPartition = 250000L

  /** Size gates for the bounded-graph driver serve
    * ([[pageRankBoundedWeighted]]): a SOURCE-level graph — the only
    * place the fast path is wired — is #sources² edges by
    * construction, and the curated-feed regime those queries model is
    * tens of sources. The gates keep the collected state trivially
    * driver-sized (≤ maxEdges 24-byte tuples ≈ 6 MB) while a
    * host-scale caller (1e6 "sources") falls back to the distributed
    * fixed point automatically — the limit-probe costs two bounded
    * statements, never a driver funnel. */
  val DefaultMaxDriverRankNodes: Int = 512
  val DefaultMaxDriverRankEdges: Int = 262144

  /** Integer division on non-negative longs — Spark's `div`
    * (IntegralDivide) and DuckDB's `//` agree exactly there. Never use
    * floor(a/b) here: the double quotient of two big longs can round
    * across the integer boundary. */
  private def ldiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  private def truncated(df: DataFrame, reliable: Boolean,
      nPart: Int): DataFrame =
    Ops.checkpointKeepPartitioning(df, eager = true, reliable = reliable,
      numShufflePartitions = Some(nPart))

  private def freeBlocks(df: DataFrame): Unit =
    Ops.freeLogicalRddBlocks(df)

  /** ENFORCED form of the [[SharePpm]] faithfulness bound: no weighted
    * edge may quantize to a zero share. An edge with
    * w·1e6 div out_w = 0 (its true share under 1 ppm) contributes
    * NOTHING every iteration — the result silently diverges from true
    * weighted PageRank, which is exactly the regime the scaladoc above
    * documents for ~1e6+ out-weight ratios. The doc used to be the
    * whole contract; a caller pointing the weighted path at a
    * host-scale fan-out graph got a wrong-but-plausible rank table.
    * One `min` aggregate over the already-cached edge layout makes the
    * boundary loud at the cause. Unweighted ranks have no such bound
    * (r div out_deg loses ≤ 1 unit) and skip the check. */
  private def requireSharesAboveFloor(edgesP: DataFrame, op: String): Unit = {
    val row = edgesP.agg(min(col("share_ppm"))).head()
    val minShare = if (row.isNullAt(0)) SharePpm else row.getLong(0)
    require(minShare >= 1L,
      s"$op: at least one weighted edge has w * $SharePpm div out_w = 0" +
        " — its source's out-weight exceeds 1e6x the edge weight, so the" +
        " ppm quantization floors the edge's share to zero and it would" +
        " contribute no mass on ANY iteration (silent divergence from" +
        " true weighted PageRank; see the SharePpm scaladoc). Merge" +
        " parallel edges, drop sub-ppm tails explicitly, or rescale the" +
        " weight column so every edge's share is >= 1 ppm.")
  }

  /** One rank-propagation step — exposed for CentralitySpec's plan
    * assertions, the [[Components.step]] convention. `edgesP` must be
    * src-partitioned (carrying `share_ppm` when weighted, `out_deg`
    * when not), `state` (id, dangling, r) id-partitioned from its
    * checkpoint. Exactly TWO exchanges: the dst contribution
    * aggregation (the real one, O(edges)) and the 1-row dangling-mass
    * rollup (map-side partial to a singleton — O(partitions) rows on
    * the wire). The join back to `state` moves nothing: contributions
    * land dst-hash-distributed, which is the state's id layout. */
  private[graft] def step(edgesP: DataFrame, state: DataFrame,
      baseShare: Long, nNodes: Long, dampingPct: Int,
      weighted: Boolean): DataFrame = {
    val contribExpr =
      if (weighted) ldiv(col("r") * col("share_ppm"), lit(SharePpm))
      else ldiv(col("r"), col("out_deg"))
    val contrib = edgesP
      .join(state.select(col("id").as("src"), col("r")), "src")
      .select(col("dst").as("id"), contribExpr.as("c"))
      .groupBy("id").agg(sum(col("c")).as("c"))
    val danglingMass = state.where(col("dangling"))
      .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
    state.join(contrib, Seq("id"), "left")
      .crossJoin(broadcast(danglingMass))
      .select(col("id"), col("dangling"),
        ldiv(lit(100L - dampingPct) * lit(baseShare)
            + lit(dampingPct.toLong)
              * (coalesce(col("c"), lit(0L))
                 + ldiv(col("dmass"), lit(nNodes))),
          lit(100L)).as("r"))
  }

  /** One personalized-rank step — [[step]] with the teleport vector
    * concentrated on the SEED set: the (1−d) restart term and the
    * dangling-mass redistribution both land on seeds only
    * (seedShare = Scale div nSeeds each, scaled by the row's seed
    * flag), so mass keeps flowing FROM the seeds and nodes unreachable
    * from them stay at exactly zero. State carries (id, dangling,
    * seed, r); the exchange budget is identical to [[step]]'s. */
  private[graft] def pprStep(edgesP: DataFrame, state: DataFrame,
      seedShare: Long, nSeeds: Long, dampingPct: Int,
      weighted: Boolean): DataFrame = {
    val contribExpr =
      if (weighted) ldiv(col("r") * col("share_ppm"), lit(SharePpm))
      else ldiv(col("r"), col("out_deg"))
    val contrib = edgesP
      .join(state.select(col("id").as("src"), col("r")), "src")
      .select(col("dst").as("id"), contribExpr.as("c"))
      .groupBy("id").agg(sum(col("c")).as("c"))
    val danglingMass = state.where(col("dangling"))
      .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
    val seedFlag = col("seed").cast("long")
    state.join(contrib, Seq("id"), "left")
      .crossJoin(broadcast(danglingMass))
      .select(col("id"), col("dangling"), col("seed"),
        ldiv(lit(100L - dampingPct) * lit(seedShare) * seedFlag
            + lit(dampingPct.toLong)
              * (coalesce(col("c"), lit(0L))
                 + ldiv(col("dmass"), lit(nSeeds)) * seedFlag),
          lit(100L)).as("r"))
  }

  /** PERSONALIZED PageRank: the restart distribution is uniform over
    * `seeds` instead of all nodes — the curated-seed expansion signal
    * (CCNet-style: rank the crawl by proximity to a trusted seed set
    * over the shared-content/near-dup graph). Same fixed-point integer
    * contract as [[pageRank]]; ranks start AS the seed vector
    * (seedShare on seeds, zero elsewhere), so a node with no path from
    * the seeds holds EXACTLY zero forever — a crisp, hashable
    * reachability statement, not an epsilon. Seeds not present in
    * `nodes` are ignored (inner-join semantics); nSeeds counts the
    * retained ones. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int, dampingPct: Int = 85,
      idCol: String = "id", srcCol: String = "src", dstCol: String = "dst",
      weightCol: Option[String] = None, reliable: Boolean = false)
      : DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be a percentage, got $dampingPct")
    val confPart = nodes.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val rawEdges = weightCol match {
      case Some(w) => edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), col(w).cast("long").as("w"))
      case None => edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), lit(1L).as("w"))
    }
    val base = rawEdges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = base.count()
      val nPart = math.max(1L, math.min(confPart.toLong,
        nEdges / RowsPerIterationPartition + 1)).toInt
      val outW = base.groupBy("src").agg(sum(col("w")).as("out_w"))
      val edgesPrepped = weightCol match {
        case Some(_) => base.join(outW, "src")
          .select(col("src"), col("dst"),
            ldiv(col("w") * lit(SharePpm), col("out_w")).as("share_ppm"))
        case None => base.join(outW, "src")
          .select(col("src"), col("dst"), col("out_w").as("out_deg"))
      }
      val edgesP = edgesPrepped.repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        edgesP.count()
        if (weightCol.isDefined)
          requireSharesAboveFloor(edgesP, "personalizedPageRank")
        val hasOut = edgesP.select(col("src").as("id")).distinct()
        val ids = truncated(
          nodes.select(col(idCol).as("id")).distinct()
            .repartition(nPart, col("id")), reliable, nPart)
        val seedIds = ids.join(
          seeds.select(col(idCol).as("id")).distinct(), Seq("id"))
        val nSeeds = seedIds.count()
        require(nSeeds > 0, "personalizedPageRank needs >= 1 seed in nodes")
        val seedShare = Scale / nSeeds
        val danglingIds = ids.join(hasOut, Seq("id"), "left_anti")
        var state = truncated(
          ids
            .join(danglingIds.withColumn("dangling", lit(true)),
              Seq("id"), "left")
            .join(seedIds.withColumn("seed", lit(true)), Seq("id"), "left")
            .select(col("id"),
              coalesce(col("dangling"), lit(false)).as("dangling"),
              coalesce(col("seed"), lit(false)).as("seed"))
            .repartition(nPart, col("id")), reliable, nPart)
          .withColumn("r",
            when(col("seed"), lit(seedShare)).otherwise(lit(0L)))
        for (_ <- 1 to iters) {
          val next = truncated(
            pprStep(edgesP, state, seedShare, nSeeds, dampingPct,
              weighted = weightCol.isDefined),
            reliable, nPart)
          freeBlocks(state)
          state = next
        }
        state.select(col("id").as(idCol), col("r").as("rank_fp"))
      } finally edgesP.unpersist()
    } finally base.unpersist(blocking = false)
  }

  /** PageRank with damping `dampingPct`/100 over `iters` FIXED
    * iterations (fixed, not converged: the oracle unrolls the same
    * count, and rank CONSUMERS — keeper choice, quality weights — want
    * a deterministic artifact, not an ε-chase). Returns
    * (idCol, rank_fp) — fixed-point longs, Σ ≈ [[Scale]].
    *
    * `nodes` declares the vertex set (one id column named `idCol`);
    * nodes absent from `edges.srcCol` are DANGLING and their mass is
    * redistributed uniformly each iteration, the standard correction —
    * without it a sink-heavy graph bleeds mass to nothing. Callers who
    * only care about vertices with edges pass the edge endpoints as
    * `nodes`. Duplicate edges count twice (multigraph semantics) —
    * dedupe upstream if that is not the intent.
    *
    * With `weightCol` set, each edge contributes
    * r·(w·1e6 div out_w) div 1e6 (share quantized to ppm once);
    * unweighted edges contribute r div out_deg directly (no ppm loss).
    *
    * Update rule, all integer:
    *   r' = ((100−d)·(Scale div N) + d·(contrib + dangling div N)) div 100
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      dampingPct: Int = 85, idCol: String = "id", srcCol: String = "src",
      dstCol: String = "dst", weightCol: Option[String] = None,
      reliable: Boolean = false): DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be a percentage, got $dampingPct")
    if (reliable)
      require(nodes.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
        "reliable = true needs sparkContext.setCheckpointDir on shared storage")
    val confPart = nodes.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt

    val rawEdges = weightCol match {
      case Some(w) => edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), col(w).cast("long").as("w"))
      case None => edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), lit(1L).as("w"))
    }
    // layout investment, paid once (Components doctrine): explicit
    // partition count so an AQE-coalesced cache can't mismatch the
    // checkpoints' width and re-shuffle the state every iteration.
    val base = rawEdges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = base.count()
      val nPart = math.max(1L, math.min(confPart.toLong,
        nEdges / RowsPerIterationPartition + 1)).toInt
      val outW = base.groupBy("src").agg(sum(col("w")).as("out_w"))
      // per-edge contribution coefficient, computed ONCE: weighted
      // edges carry share_ppm; unweighted carry out_deg (exact split).
      val edgesPrepped = weightCol match {
        case Some(_) => base.join(outW, "src")
          .select(col("src"), col("dst"),
            ldiv(col("w") * lit(SharePpm), col("out_w")).as("share_ppm"))
        case None => base.join(outW, "src")
          .select(col("src"), col("dst"), col("out_w").as("out_deg"))
      }
      val edgesP = edgesPrepped.repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        edgesP.count() // materialize the layout; base is droppable now
        if (weightCol.isDefined)
          requireSharesAboveFloor(edgesP, "pageRank")
        val hasOut = edgesP.select(col("src").as("id")).distinct()
        // state: (id, dangling) checkpointed id-partitioned; the rank
        // column is added AFTER the boundary (a checkpoint of the
        // joined projection would pin partitioning on nothing useful).
        val ids = truncated(
          nodes.select(col(idCol).as("id")).distinct()
            .repartition(nPart, col("id")), reliable, nPart)
        val nNodes = ids.count()
        require(nNodes > 0, "pageRank over an empty node set")
        val baseShare = Scale / nNodes // driver-exact: both longs
        val danglingIds = ids.join(hasOut, Seq("id"), "left_anti")
        var state = truncated(
          ids.join(danglingIds.withColumn("dangling", lit(true)),
              Seq("id"), "left")
            .select(col("id"),
              coalesce(col("dangling"), lit(false)).as("dangling"))
            .repartition(nPart, col("id")), reliable, nPart)
          .withColumn("r", lit(baseShare))
        for (_ <- 1 to iters) {
          val next = truncated(
            step(edgesP, state, baseShare, nNodes, dampingPct,
              weighted = weightCol.isDefined),
            reliable, nPart)
          freeBlocks(state)
          state = next
        }
        state.select(col("id").as(idCol), col("r").as("rank_fp"))
      } finally edgesP.unpersist()
    } finally base.unpersist(blocking = false)
  }

  /** BOUNDED-graph serving form of the weighted [[pageRank]]: when the
    * vertex set fits [[DefaultMaxDriverRankNodes]] (probed with a
    * limit-collect, never an unbounded pull), the fixed point runs as
    * a driver loop over the collected edge list instead of
    * `iters` × (checkpoint + two exchanges) distributed statements —
    * the [[IvfIndex.collectCentroids]] / Distill-weights stance:
    * bounded MODEL state may live driver-side; at fixture scale the
    * distributed form's ~12 statements are pure per-statement floor
    * under 20-node graphs, and at production scale a curated-feed
    * authority graph is still tens of sources. VALUE-IDENTICAL by
    * construction, not approximately: every operation in the update
    * rule is non-negative integer arithmetic (share_ppm quantization,
    * per-edge contribution r·share div 1e6, exact long sums — order-
    * independent — and the damped integer-div update), replicated
    * term for term from [[step]]; the sub-ppm share floor fails
    * loudly with the same contract. Oversized graphs (either gate)
    * fall back to the distributed fixed point with the original
    * frames — the probes cost two bounded statements.
    * `edges` must carry (srcCol, dstCol, wCol ≥ 1) rows — the
    * [[sharedShingleEdges]] shape. */
  def pageRankBoundedWeighted(nodes: DataFrame, edges: DataFrame,
      iters: Int, dampingPct: Int = 85, idCol: String = "id",
      srcCol: String = "src", dstCol: String = "dst", wCol: String = "w",
      maxNodes: Int = DefaultMaxDriverRankNodes,
      maxEdges: Int = DefaultMaxDriverRankEdges): DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be a percentage, got $dampingPct")
    val spark = nodes.sparkSession
    val nodeRows = nodes.select(col(idCol)).distinct()
      .limit(maxNodes + 1).collect()
    // endpoints cast to the node-id type: the driver loop matches ids as
    // map keys, where e.g. a decimal or string endpoint never equals a
    // long node id (the distributed joins coerce; this lookup would not)
    val idField = nodes.select(col(idCol)).schema.head.copy(name = idCol)
    lazy val edgeRows = edges
      .select(col(srcCol).cast(idField.dataType),
        col(dstCol).cast(idField.dataType),
        col(wCol).cast("long"))
      .limit(maxEdges + 1).collect()
    if (nodeRows.length > maxNodes || edgeRows.length > maxEdges)
      return pageRank(nodes, edges, iters, dampingPct, idCol,
        srcCol, dstCol, weightCol = Some(wCol))
    val ids: Array[Any] = nodeRows.map(_.get(0))
    val nNodes = ids.length.toLong
    require(nNodes > 0, "pageRank over an empty node set")
    val raw = edgeRows.map(r => (r.get(0), r.get(1), r.getLong(2)))
    // share_ppm per edge, quantized once (the distributed prep, term
    // for term; out_w over ALL edges, matching base's groupBy)
    val outW = raw.groupBy(_._1).map { case (s, es) =>
      s -> es.iterator.map(_._3).sum }
    val prepped = raw.map { case (s, d, w) =>
      (s, d, w * SharePpm / outW(s)) }
    require(prepped.forall(_._3 >= 1L),
      "pageRank: at least one weighted edge has w * " + SharePpm +
        " div out_w = 0 — its source's out-weight exceeds 1e6x the " +
        "edge weight, so the ppm quantization floors the edge's share " +
        "to zero and it would contribute no mass on ANY iteration " +
        "(silent divergence from true weighted PageRank; see the " +
        "SharePpm scaladoc). Merge parallel edges, drop sub-ppm tails " +
        "explicitly, or rescale the weight column so every edge's " +
        "share is >= 1 ppm.")
    val baseShare = Scale / nNodes
    val hasOut = raw.iterator.map(_._1).toSet
    var r: Map[Any, Long] = ids.iterator.map(_ -> baseShare).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.HashMap.empty[Any, Long]
      prepped.foreach { case (s, d, sp) =>
        // inner-join semantics: only sources IN the vertex set carry
        // rank; contributions to non-vertices are dropped at the
        // update (the distributed left join's behavior)
        r.get(s).foreach { rs =>
          contrib(d) = contrib.getOrElse(d, 0L) + rs * sp / SharePpm }
      }
      val dmass = ids.iterator.filterNot(hasOut).map(r).sum
      r = ids.iterator.map { id =>
        id -> ((100L - dampingPct) * baseShare +
          dampingPct.toLong *
            (contrib.getOrElse(id, 0L) + dmass / nNodes)) / 100L
      }.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(idField,
      org.apache.spark.sql.types.StructField("rank_fp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val out = ids.map(id =>
      org.apache.spark.sql.Row(id, r(id))).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Per-term scale of [[harmonicCentrality]]: H_fp(v) =
    * Σ_u HarmonicScale div d(u,v). 1e9 (not [[Scale]]): the sum has up
    * to n−1 terms, so totals stay under 2^63 for n < 9.2e9 vertices —
    * far past the bounded-graph regime this exact form is for. */
  val HarmonicScale: Long = 1000000000L

  /** Default vertex-set bound for the exact (all-pairs-state)
    * [[harmonicCentrality]]: 100k vertices cap the reached table at
    * 1e10 (src, dst, d) rows WORST case — large but a bounded,
    * spillable shuffle on a real cluster; typical horizons keep it at
    * n·(mean ball size), far less. Past this, the quadratic state is
    * a scale decision the caller must make explicitly (or switch to
    * [[harmonicHyperBall]]). */
  val DefaultMaxExactHarmonicNodes: Long = 100000L

  /** HARMONIC centrality over `edges` within a fixed BFS horizon —
    * the second rank Common Crawl publishes beside PageRank (Boldi &
    * Vigna, "Axioms for Centrality", 2014): H(v) = Σ_{u≠v} 1/d(u,v),
    * here fixed-point integer H_fp(v) = Σ (HarmonicScale div d) over
    * pairs with d(u,v) ≤ maxDist — pairs beyond the horizon contribute
    * exactly 0 (the fixed-iteration stance of [[pageRank]]: a
    * deterministic, oracle-replayable artifact, not an ε-chase; on
    * graphs of diameter ≤ maxDist it IS exact harmonic centrality).
    *
    * Exact-BFS state is the REACHED pair set (src, dst, d) — O(n²)
    * worst case, which is the deliberate scope: this form is for
    * BOUNDED vertex sets (the source-level authority graph, a
    * cluster-fixture doc graph), where all-pairs state is a bounded
    * table. The scope is ENFORCED, not just documented: `maxNodes`
    * (default [[DefaultMaxExactHarmonicNodes]]) bounds the
    * EDGE-ENDPOINT vertex set — the set the BFS state is actually
    * built from; `nodes` only shapes the output join — with a loud
    * require, so a caller pointing the exact form at an unbounded
    * edge list gets the boundary named at the cause instead of an
    * O(n²) shuffle discovered in production. Web-scale vertex
    * sets take [[harmonicHyperBall]] (HLL frontier per node, Boldi &
    * Vigna 2013) whose state is O(n·512) registers — linear, not
    * quadratic — at the cost of estimated ball sizes (agreement-band
    * spec'd against this exact form on bounded fixtures).
    *
    * Iteration budget, [[Components]] doctrine: edges repartitioned by
    * src once and cached; per level exactly two real exchanges (the
    * frontier⋈edges expansion and the reached anti-join); reached
    * state checkpointed (src,dst)-partitioned at constant plan depth.
    * No windows, no driver loops over rows. */
  def harmonicCentrality(nodes: DataFrame, edges: DataFrame,
      maxDist: Int, idCol: String = "id", srcCol: String = "src",
      dstCol: String = "dst", reliable: Boolean = false,
      maxNodes: Long = DefaultMaxExactHarmonicNodes): DataFrame = {
    require(maxDist >= 1, s"need a horizon of >= 1 hop, got $maxDist")
    val confPart = nodes.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val e0 = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
      .where(col("esrc") =!= col("edst")).distinct()
    val base = e0.repartition(col("esrc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = base.count()
      // the O(n^2) reached state is built from EDGE ENDPOINTS — `nodes`
      // only shapes the output join and never constrains the BFS — so
      // the bound must count the endpoint set (over the cache the loop
      // needs anyway, not an extra pass over the nodes lineage): a
      // 100-row nodes frame over a 10M-endpoint edge list is exactly
      // the blow-up this guard exists for, and a huge nodes table over
      // two edges is fine
      val nVerts = base.select(col("esrc").as("v"))
        .unionAll(base.select(col("edst").as("v"))).distinct().count()
      require(nVerts <= maxNodes,
        s"harmonicCentrality: $nVerts edge-endpoint vertices exceed " +
          s"the exact form's maxNodes = $maxNodes — its reached-pair " +
          "BFS state is O(n^2) rows worst case, which is only a " +
          "bounded table on bounded vertex sets (the declared scope). " +
          "For web-scale vertex sets use harmonicHyperBall (O(n) " +
          "register state, estimated ball sizes); to accept the " +
          "quadratic state knowingly, raise maxNodes explicitly.")
      val nPart = math.max(1L, math.min(confPart.toLong,
        nEdges / RowsPerIterationPartition + 1)).toInt
      // reached: (src, dst, d) with d = BFS distance, grown level by
      // level; frontier = the pairs discovered at the previous level
      var reached = truncated(
        base.select(col("esrc").as("src"), col("edst").as("dst"),
            lit(1).as("d"))
          .repartition(nPart, col("src"), col("dst")), reliable, nPart)
      var level = 1
      while (level < maxDist) {
        val frontier = reached.where(col("d") === level)
        val expanded = frontier
          .join(base, frontier("dst") === base("esrc"))
          .select(frontier("src"), col("edst").as("dst"))
          .where(col("src") =!= col("dst"))
          .distinct()
        val novel = expanded.join(reached.select("src", "dst"),
            Seq("src", "dst"), "left_anti")
          .select(col("src"), col("dst"), lit(level + 1).as("d"))
        val next = truncated(
          reached.unionAll(novel)
            .repartition(nPart, col("src"), col("dst")), reliable, nPart)
        freeBlocks(reached)
        reached = next
        level += 1
      }
      val h = reached
        .groupBy(col("dst").as(idCol))
        .agg(sum(ldiv(lit(HarmonicScale), col("d"))).as("harmonic_fp"))
      nodes.select(col(idCol)).distinct()
        .join(h, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("harmonic_fp"), lit(0L)).as("harmonic_fp"))
    } finally base.unpersist(blocking = false)
  }

  /** Linear-counting threshold for [[harmonicHyperBall]]'s estimator:
    * raw HLL below 2.5·m = 1280 is known-biased (the [[Hll]] scaladoc
    * documents the trade for the sketch family, where small counts are
    * cheap to get exactly) — but HyperBall's whole OUTPUT is built from
    * small-ball estimates at every BFS level, so the bias would land in
    * every harmonic term. Below the threshold the estimate switches to
    * linear counting, m·ln(m/V) with V = zero registers. */
  val LcThreshold: Long = 5L * Hll.m / 2

  /** Integer linear-counting table: entry V-1 (1-based V) =
    * round(m·ln(m/V)) for V = 1..m zero registers. ln is not pinned
    * across engines (libm rounding), so the VALUES are computed ONCE
    * here and spliced verbatim into BOTH the Spark literal and the
    * generated DuckDB oracle SQL — the two engines share the table by
    * construction, keeping the whole sketched rank value-hashable
    * (the fixed-point oracle doctrine applied to a float-born
    * constant). */
  private[graft] val LcTable: IndexedSeq[Long] =
    (1 to Hll.m).map(v =>
      Math.round(Hll.m.toDouble * Math.log(Hll.m.toDouble / v)))

  /** One HyperBall counter-merge step — exposed for CentralitySpec's
    * plan assertions (the [[step]] convention). `edgesP` must be
    * src-partitioned at the iteration width, `regs` (id, idx, r)
    * id-partitioned from its checkpoint. Exactly TWO exchanges: the
    * union-fold (the union erases partitioning, so the (id, idx) max
    * aggregate re-hashes once — the real O((n+E)·512) move) and the
    * repartition back to the id layout the next join/estimate ride.
    * The expansion join itself moves NOTHING: both sides are already
    * hash-distributed on their join key at the same width. */
  private[graft] def hyperBallStep(edgesP: DataFrame, regs: DataFrame,
      nPart: Int): DataFrame = {
    val expanded = edgesP.join(regs, edgesP("esrc") === regs("id"))
      .select(edgesP("edst").as("id"), regs("idx"), regs("r"))
    Hll.fold(regs.unionAll(expanded), Seq("id"))
      .repartition(nPart, col("id"))
  }

  /** Hybrid ball-size estimate per node from a folded (id, idx, r)
    * register table: linear counting when the raw estimate is under
    * [[LcThreshold]] and some register is still zero, raw HLL
    * otherwise. Every node holds its own item, so n_regs >= 1. */
  private[graft] def hyperBallEst(regs: DataFrame): DataFrame = {
    val lcLit = typedlit(LcTable)
    Hll.estimate(regs, Seq("id"))
      .select(col("id"),
        when(col("n_regs") < Hll.m && col("est") <= LcThreshold,
          element_at(lcLit,
            greatest(lit(1), (lit(Hll.m) - col("n_regs")).cast("int"))))
          .otherwise(col("est")).as("est"))
  }

  /** HYPERBALL-sketched harmonic centrality (Boldi & Vigna, "In-Core
    * Computation of Geometric Centralities with HyperBall", 2013) —
    * the web-scale form of [[harmonicCentrality]]: instead of the
    * exact all-pairs reached table (O(n²) rows worst case), each node
    * carries ONE HyperLogLog counter of its in-ball
    * B(v,t) = {u : d(u,v) ≤ t}, grown per level by max-merging the
    * counters of in-neighbors — state is a FIXED n·512 register rows,
    * linear in the vertex set, and each level is one bounded
    * merge-fold exchange (O((n+E)·512) rows on the wire). The
    * harmonic value is assembled from the ball-size increments:
    * H_fp(v) = Σ_t max(0, |B(v,t)|−|B(v,t−1)|) · ([[HarmonicScale]]
    * div t) — estimated ball sizes, so the rank is approximate where
    * the exact form is exact (agreement-band spec'd against it on the
    * bounded fixtures in CentralitySpec).
    *
    * STILL fully value-oracle'd, despite being a sketch: the register
    * computation is [[Hll]]'s engine-portable md5 kernel, the raw
    * estimate is integer floor-division arithmetic, and the
    * linear-counting correction (needed because HyperBall sums
    * SMALL-ball estimates at every level, where raw HLL is biased)
    * reads the integer [[LcTable]] spliced into both engines from one
    * Scala array — [[hyperBallOracleCtes]] replays every level
    * bit-for-bit in DuckDB. The increments are clamped at 0 per level
    * (the estimator is monotone within a regime; the clamp pins the
    * raw↔LC crossover so both engines agree by expression, and keeps
    * the `div` truncation on non-negative ground).
    *
    * Faithfulness bound: a level increment multiplies
    * [[HarmonicScale]] div t, so estimated ball sizes must stay under
    * ~9.2e9 (ANSI aborts loudly past it) — the same n < 9.2e9 regime
    * the exact form's term scale is sized for. Vertex set = `nodes` ∪
    * edge endpoints (matching the exact form, where any edge source
    * contributes to its target's rank); output rows are `nodes` only.
    * Self-loops are stripped (a node's own counter already holds
    * itself — d(v,v) = 0 is not a harmonic term). */
  def harmonicHyperBall(nodes: DataFrame, edges: DataFrame,
      maxDist: Int, idCol: String = "id", srcCol: String = "src",
      dstCol: String = "dst", reliable: Boolean = false): DataFrame =
    hyperBallState(nodes, edges, maxDist, idCol, srcCol, dstCol,
      reliable)
      .select(col(idCol), col("harmonic_fp"))

  /** HyperANF-style per-node NEIGHBOURHOOD report (Boldi & Vigna,
    * "HyperANF: Approximating the Neighbourhood Function of Very
    * Large Graphs", 2011) from the SAME counter cascade as
    * [[harmonicHyperBall]]: `reach` = estimated |B(v, maxDist)| —
    * how many nodes reach v within the horizon, v itself included
    * (the ball is seeded with {v}; isolated nodes report exactly 1) —
    * and `total_dist` = Σ_t t·max(0, Δ|B(v,t)|), the estimated sum of
    * in-distances (the closeness denominator; callers wanting
    * closeness divide at their chosen scale). The standard web-graph
    * connectivity report: effective-diameter and
    * distance-distribution questions read off exactly these columns.
    * Same integer/value-oracle contract as the harmonic form — the
    * `hbr` CTE of [[hyperBallOracleCtes]] replays both columns. */
  def hyperBallReport(nodes: DataFrame, edges: DataFrame,
      maxDist: Int, idCol: String = "id", srcCol: String = "src",
      dstCol: String = "dst", reliable: Boolean = false): DataFrame =
    hyperBallState(nodes, edges, maxDist, idCol, srcCol, dstCol,
      reliable)
      .select(col(idCol), col("reach"), col("total_dist"))

  /** The shared HyperBall cascade: one counter-merge loop whose
    * accumulator carries the previous-level estimate (→ `reach` at
    * the horizon), the harmonic sum, and the distance sum — so the
    * harmonic rank and the neighbourhood report are two selections of
    * one dataflow, never two traversals. */
  private def hyperBallState(nodes: DataFrame, edges: DataFrame,
      maxDist: Int, idCol: String, srcCol: String,
      dstCol: String, reliable: Boolean): DataFrame = {
    require(maxDist >= 1, s"need a horizon of >= 1 hop, got $maxDist")
    val confPart = nodes.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val e0 = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
      .where(col("esrc") =!= col("edst")).distinct()
    val base = e0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = base.count()
      val nPart = math.max(1L, math.min(confPart.toLong,
        nEdges / RowsPerIterationPartition + 1)).toInt
      // layout investment, paid once (the pageRank doctrine): edges
      // re-hashed by src AT THE ITERATION WIDTH, so every level's
      // expansion join against the id-partitioned counters moves
      // nothing — without this, each of maxDist levels would exchange
      // the O(n·512) register side against a conf-width edge cache
      val edgesP = base.repartition(nPart, col("esrc"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        edgesP.count()
        val verts = nodes.select(col(idCol).as("id"))
          .unionByName(base.select(col("esrc").as("id")))
          .unionByName(base.select(col("edst").as("id")))
          .distinct()
        // level-0 counters: each node sketches the singleton {v}; kept
        // id-partitioned so the expansion join (id = esrc) and the
        // per-node estimate aggregate both ride the captured layout
        var regs = truncated(
          Hll.registers(
              verts.select(col("id"), col("id").cast("string").as("__it")),
              "__it", Seq("id"))
            .repartition(nPart, col("id")), reliable, nPart)
        // accumulator (id, e_prev, h): previous-level ball estimate and
        // the running harmonic sum — checkpointed per level like the
        // pageRank state, constant plan depth
        var acc = truncated(
          hyperBallEst(regs)
            .select(col("id"), col("est").as("e_prev"), lit(0L).as("h"),
              lit(0L).as("td"))
            .repartition(nPart, col("id")), reliable, nPart)
        var level = 1
        while (level <= maxDist) {
          val nextRegs = truncated(
            hyperBallStep(edgesP, regs, nPart), reliable, nPart)
          val coef = HarmonicScale / level // both positive: exact in Scala
          val grow = greatest(lit(0L), col("est") - col("e_prev"))
          val nextAcc = truncated(
            acc.join(hyperBallEst(nextRegs), "id")
              .select(col("id"), col("est").as("e_prev"),
                (col("h") + grow * lit(coef)).as("h"),
                (col("td") + grow * lit(level.toLong)).as("td"))
              .repartition(nPart, col("id")), reliable, nPart)
          freeBlocks(regs)
          freeBlocks(acc)
          regs = nextRegs
          acc = nextAcc
          level += 1
        }
        // the final level's registers feed nothing downstream (only
        // `acc` reaches the output) — free the largest structure in
        // the algorithm instead of leaking one n·512-row checkpoint
        // per call in a long-lived session
        freeBlocks(regs)
        val out = nodes.select(col(idCol)).distinct()
          .join(acc.select(col("id").as(idCol),
              col("e_prev").as("reach"), col("td").as("total_dist"),
              col("h").as("harmonic_fp")),
            Seq(idCol), "left")
          .select(col(idCol),
            coalesce(col("reach"), lit(1L)).as("reach"),
            coalesce(col("total_dist"), lit(0L)).as("total_dist"),
            coalesce(col("harmonic_fp"), lit(0L)).as("harmonic_fp"))
        out
      } finally edgesP.unpersist()
    } finally base.unpersist(blocking = false)
  }

  /** DuckDB oracle CTE chain for [[harmonicHyperBall]] — the sketch
    * replayed level by level: `hb_lc` (the spliced [[LcTable]]),
    * `hb_r0..hb_r{maxDist}` (register tables, [[Hll.registersSql]]
    * kernel + max-merge along edges), `hb_e0..` (hybrid estimates),
    * final values in `hb(id, harmonic_fp)` and the neighbourhood
    * report in `hbr(id, reach, total_dist)` — one chain serves both
    * query families, mirroring [[hyperBallState]]. `nodesCte`:
    * nodes(id); `edgesCte`: edges(src, dst). */
  def hyperBallOracleCtes(nodesCte: String, edgesCte: String,
      maxDist: Int): String = {
    require(maxDist >= 1)
    def estCte(k: Int): String =
      s"""hb_e$k AS MATERIALIZED (
         |  SELECT q.id, CASE WHEN q.n_regs < ${Hll.m}
         |                     AND q.est <= $LcThreshold
         |               THEN lc.lest ELSE q.est END AS est
         |  FROM (${Hll.estimateSql(s"hb_r$k", Seq("id"))}) q
         |  LEFT JOIN hb_lc lc ON lc.v = ${Hll.m} - q.n_regs)""".stripMargin
    val lcValues = LcTable.zipWithIndex
      .map { case (e, i) => s"(${i + 1},$e)" }.mkString(",")
    val header =
      s"""hb_lc(v, lest) AS (VALUES $lcValues),
         |hb_n AS MATERIALIZED (
         |  SELECT id FROM $nodesCte
         |  UNION SELECT src FROM $edgesCte
         |  UNION SELECT dst FROM $edgesCte),
         |hb_r0 AS MATERIALIZED (
         |${Hll.registersSql("hb_n", "CAST(id AS VARCHAR)",
             Seq(("id", "id")))}),
         |${estCte(0)}""".stripMargin
    val levels = (1 to maxDist).map { k =>
      s"""hb_r$k AS MATERIALIZED (
         |  SELECT id, idx, max(r) AS r FROM (
         |    SELECT id, idx, r FROM hb_r${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, s.idx, s.r
         |    FROM $edgesCte e JOIN hb_r${k - 1} s ON s.id = e.src
         |    WHERE e.src <> e.dst)
         |  GROUP BY 1, 2),
         |${estCte(k)}""".stripMargin
    }
    val terms = (1 to maxDist)
      .map(k => s"greatest(0, e$k.est - e${k - 1}.est) " +
        s"* ${HarmonicScale / k}")
      .mkString("\n    + ")
    val distTerms = (1 to maxDist)
      .map(k => s"greatest(0, e$k.est - e${k - 1}.est) * $k")
      .mkString("\n    + ")
    val joins = (0 to maxDist)
      .map(k => s"JOIN hb_e$k e$k ON n.id = e$k.id").mkString("\n  ")
    val agg =
      s"""hb AS (
         |  SELECT n.id, CAST($terms AS BIGINT) AS harmonic_fp
         |  FROM $nodesCte n
         |  $joins)""".stripMargin
    // the HyperANF neighbourhood report off the same estimate chain —
    // not MATERIALIZED, so a query selecting only `hb` never pays it
    val rep =
      s"""hbr AS (
         |  SELECT n.id, e$maxDist.est AS reach,
         |    CAST($distTerms AS BIGINT) AS total_dist
         |  FROM $nodesCte n
         |  $joins)""".stripMargin
    (Seq(header) ++ levels ++ Seq(agg, rep)).mkString(",\n")
  }

  /** DuckDB oracle CTE chain for [[harmonicCentrality]] — unrolled
    * reach-sets per level (`hc_r1..hc_r{maxDist}`), distances via the
    * first level containing the pair, H in `hc(id, harmonic_fp)`.
    * `nodesCte`: nodes(id); `edgesCte`: edges(src, dst) (weights
    * ignored — harmonic is a distance rank). */
  def harmonicOracleCtes(nodesCte: String, edgesCte: String,
      maxDist: Int): String = {
    require(maxDist >= 1)
    val header =
      s"""hc_r1 AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM $edgesCte WHERE src <> dst)"""
        .stripMargin
    val levels = (2 to maxDist).map { k =>
      s"""hc_r$k AS MATERIALIZED (
         |  SELECT src, dst FROM hc_r${k - 1}
         |  UNION
         |  SELECT a.src, e.dst
         |  FROM hc_r${k - 1} a JOIN $edgesCte e ON a.dst = e.src
         |  WHERE a.src <> e.dst)""".stripMargin
    }
    // distance = first level whose reach set contains the pair; spelled
    // as chained left joins (IN-per-row is not join-plannable). At
    // maxDist = 1 there is no earlier level and a WHEN-less CASE is a
    // parse error — every reached pair is simply at distance 1.
    val dist =
      if (maxDist == 1)
        """hc_d AS MATERIALIZED (
          |  SELECT src, dst, 1 AS d FROM hc_r1)""".stripMargin
      else {
        val dj = (1 to (maxDist - 1)).map(k =>
          s"LEFT JOIN hc_r$k j$k ON r.src = j$k.src AND r.dst = j$k.dst")
          .mkString("\n  ")
        val dcase = (1 to (maxDist - 1))
          .map(k => s"WHEN j$k.src IS NOT NULL THEN $k")
          .mkString(" ")
        s"""hc_d AS MATERIALIZED (
           |  SELECT r.src, r.dst,
           |    CASE $dcase ELSE $maxDist END AS d
           |  FROM hc_r$maxDist r
           |  $dj)""".stripMargin
      }
    val agg =
      s"""hc AS (
         |  SELECT n.id,
         |    CAST(coalesce(sum($HarmonicScale // d.d), 0) AS BIGINT)
         |      AS harmonic_fp
         |  FROM $nodesCte n LEFT JOIN hc_d d ON n.id = d.dst
         |  GROUP BY n.id)""".stripMargin
    (Seq(header) ++ levels ++ Seq(dist, agg)).mkString(",\n")
  }

  /** (source, ph): the DISTINCT word-`k`-gram md5 fingerprints each
    * source contains — the shared-content source graph's vertex-side
    * table (one row per source × distinct shingle, never per
    * occurrence). Tokenization is [[SpanDedup.toks]], the cross-doc
    * kernel, so the graph and span-dedup families see one shingle
    * space. */
  def sourceShingles(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text", k: Int = 8): DataFrame =
    docs.select(col(srcCol).as("source"),
        SpanDedup.toks(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k)
      .select(col("source"), explode(transform(
        sequence(lit(1), size(col("__t")) - (k - 1)),
        i => concat_ws(" ", slice(col("__t"), i, lit(k))))).as("s"))
      .select(col("source"), md5(col("s").cast("binary")).as("ph"))
      .distinct()

  /** Hot-fingerprint document-frequency cap for [[sharedShingleEdges]]:
    * a fingerprint present in more than this many DISTINCT sources is
    * dropped before the pair join. Two reasons, one semantic and one
    * structural. Semantic: this is an IDF cut — a shingle shared by
    * (nearly) every source (a copyright footer, a cookie banner)
    * carries no authority DISCRIMINATION; edges should reflect content
    * two sources distinctively share. Structural: the self-join costs
    * Σ_ph S_ph² where S_ph = #sources holding fingerprint ph; at
    * Common-Crawl host granularity (#sources in the millions) ONE
    * ubiquitous boilerplate shingle alone would be ~10¹² join rows.
    * With the cap, each surviving fingerprint costs ≤ K² pairs — the
    * same bounded-bucket discipline every other self-join in this repo
    * applies (IndexStore.capHotBuckets, Dedup's star-link guards). The
    * cap's activity is OBSERVED (no silent truncation) via
    * [[IndexStore.observeCap]]. */
  val DefaultMaxSourcesPerFingerprint: Int = 256

  /** Fingerprints hotter than this (source-df > HotDfForSalting) route
    * through the salted pair enumeration when `saltPairTasks` > 1 in
    * [[sharedShingleEdges]]: below it, a fingerprint's S² pair block is
    * at most 64² = 4 096 rows — single-task fine — and salting it would
    * only replicate rows for nothing. */
  val HotDfForSalting: Int = 64

  /** Source→source edges from a (source, ph) table: weight = #distinct
    * shared fingerprints with source document-frequency ≤
    * `maxSourcesPerFingerprint` (see
    * [[DefaultMaxSourcesPerFingerprint]]). The DISTINCT input bounds
    * the join fan-out per fingerprint at (#sources sharing it)²; the
    * df-cap bounds that factor at K² regardless of how ubiquitous a
    * boilerplate shingle is. Both the cap and the join hash on `ph`, so
    * the df aggregate rides the exchange the pair join needs anyway.
    * Oracle twin: [[cappedShinglesCte]] — query SQL must splice it so
    * engine and oracle apply the identical cut.
    *
    * `saltPairTasks` removes the LAST per-key funnel: under the cap a
    * single fingerprint still emits its ≤ K² pair rows from ONE task
    * (all rows of a ph land in one join partition). With
    * saltPairTasks = S > 1, a HOT fingerprint (df > [[HotDfForSalting]])
    * joins on (ph, salt): the left side takes
    * salt = hash(source) mod S and the right side is EXPLODED over all
    * S salts — K² work split across S tasks for K·(S−1) extra
    * replicated rows, per hot fingerprint only. Cold fingerprints take
    * salt 0 on both sides — one copy, exactly today's work — so the
    * fan-out happens only where a hot key exists, decided row-locally
    * from the df the cap computed anyway. Values are identical for any
    * S (each ordered pair appears exactly once per shared fingerprint;
    * the CentralitySpec salt test asserts it) — the oracle never
    * changes. Default
    * OFF (S = 1, a plain ph join): the persisted serving path reads a
    * ph-BUCKETED table whose scan-level co-location the single-key
    * join rides, and at ≤ 64-df fixtures the funnel doesn't exist;
    * turn it on for corpora where capped-but-hot fingerprints dominate
    * the edge build. */
  def sharedShingleEdges(sourceShingles: DataFrame,
      maxSourcesPerFingerprint: Int = DefaultMaxSourcesPerFingerprint,
      saltPairTasks: Int = 1): DataFrame = {
    require(maxSourcesPerFingerprint >= 2,
      s"a fingerprint needs >= 2 sources to form an edge; cap of " +
        s"$maxSourcesPerFingerprint would drop everything")
    require(saltPairTasks >= 1, s"saltPairTasks must be >= 1")
    val dfByPh = sourceShingles.groupBy("ph")
      .agg(count(lit(1)).as("__df"))
    val kept0 = sourceShingles.join(dfByPh, "ph")
      .transform(IndexStore.observeCap(_,
        col("__df") > maxSourcesPerFingerprint,
        col("__df") > maxSourcesPerFingerprint, col("__df")))
      .where(col("__df") <= maxSourcesPerFingerprint)
    val pairs =
      if (saltPairTasks <= 1) {
        val kept = kept0.select("source", "ph")
        kept.alias("a")
          .join(kept.alias("b"),
            col("a.ph") === col("b.ph") &&
              col("a.source") =!= col("b.source"))
          .select(col("a.source").as("src"), col("b.source").as("dst"))
      } else {
        val hot = col("__df") > HotDfForSalting
        val a = kept0.select(col("source"), col("ph"),
          when(hot, pmod(xxhash64(col("source")), lit(saltPairTasks))
            .cast("int")).otherwise(lit(0)).as("salt"))
        val b = kept0.select(col("source"), col("ph"),
            explode(when(hot, sequence(lit(0), lit(saltPairTasks - 1)))
              .otherwise(array(lit(0)))).as("salt"))
        a.alias("a")
          .join(b.alias("b"),
            col("a.ph") === col("b.ph") &&
              col("a.salt") === col("b.salt") &&
              col("a.source") =!= col("b.source"))
          .select(col("a.source").as("src"), col("b.source").as("dst"))
      }
    pairs.groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** DuckDB CTE applying [[sharedShingleEdges]]' df-cap to a
    * (source, ph) CTE — emitted next to the operator so the oracle's
    * cut can't drift from the engine's. `SELECT source, ph FROM
    * <out>` is the capped table. */
  def cappedShinglesCte(shinglesCte: String, out: String,
      maxSourcesPerFingerprint: Int = DefaultMaxSourcesPerFingerprint)
      : String =
    s"""$out AS MATERIALIZED (
       |  SELECT s.source, s.ph FROM $shinglesCte s
       |  JOIN (SELECT ph FROM $shinglesCte GROUP BY ph
       |        HAVING count(*) <= $maxSourcesPerFingerprint) k
       |    ON s.ph = k.ph)""".stripMargin

  /** Generates the DuckDB oracle's iteration CTE chain for
    * [[pageRank]] — the SQL twin of the loop above, unrolled. The
    * caller supplies `nodesCte`/`edgesCte` names: nodes(id),
    * edges(src, dst, w). Emits CTEs `pr_nn`, `pr_deg`, `pr_st`,
    * `pr_r0..pr_r{iters}`; the final ranks are
    * `SELECT id, r FROM pr_r{iters}`. Lives next to the operator so
    * query registrations can't drift from the update rule. */
  def oracleCtes(nodesCte: String, edgesCte: String, iters: Int,
      dampingPct: Int = 85, weighted: Boolean = false): String = {
    val coefCol =
      if (weighted) s"($SharePpm * e.w) // t.out_w AS share_ppm"
      else "t.out_w AS out_deg"
    val contribExpr =
      if (weighted) s"(r.r * e.share_ppm) // $SharePpm"
      else "r.r // e.out_deg"
    val header =
      s"""pr_nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM $nodesCte),
         |pr_outw AS MATERIALIZED (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS out_w
         |  FROM $edgesCte GROUP BY 1),
         |pr_e AS MATERIALIZED (
         |  SELECT e.src, e.dst, $coefCol
         |  FROM $edgesCte e JOIN pr_outw t ON e.src = t.src),
         |pr_st AS MATERIALIZED (
         |  SELECT n.id, (t.src IS NULL) AS dangling
         |  FROM $nodesCte n LEFT JOIN (SELECT DISTINCT src FROM $edgesCte) t
         |    ON n.id = t.src),
         |pr_r0 AS MATERIALIZED (
         |  SELECT s.id, s.dangling, CAST($Scale // nn.n AS BIGINT) AS r
         |  FROM pr_st s, pr_nn nn)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""pr_c$k AS MATERIALIZED (
         |  SELECT e.dst AS id, CAST(sum($contribExpr) AS BIGINT) AS c
         |  FROM pr_e e JOIN pr_r${k - 1} r ON e.src = r.id GROUP BY 1),
         |pr_d$k AS MATERIALIZED (
         |  SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dmass
         |  FROM pr_r${k - 1} WHERE dangling),
         |pr_r$k AS MATERIALIZED (
         |  SELECT s.id, s.dangling,
         |    CAST((${100 - dampingPct} * ($Scale // nn.n)
         |          + $dampingPct * (coalesce(c.c, 0) + d.dmass // nn.n)) // 100
         |      AS BIGINT) AS r
         |  FROM pr_r${k - 1} s
         |  LEFT JOIN pr_c$k c ON s.id = c.id, pr_d$k d, pr_nn nn)""".stripMargin
    }
    (header +: steps).mkString(",\n")
  }

  /** [[oracleCtes]]' seeded twin for [[personalizedPageRank]] —
    * prefix `pp_`, teleport and dangling mass land on seeds only,
    * ranks start as the seed vector. Caller supplies
    * `seedsCte` (one `id` column) alongside nodes/edges; final ranks
    * in `pp_r{iters}`. */
  def seededOracleCtes(nodesCte: String, edgesCte: String,
      seedsCte: String, iters: Int, dampingPct: Int = 85,
      weighted: Boolean = false): String = {
    val coefCol =
      if (weighted) s"($SharePpm * e.w) // t.out_w AS share_ppm"
      else "t.out_w AS out_deg"
    val contribExpr =
      if (weighted) s"(r.r * e.share_ppm) // $SharePpm"
      else "r.r // e.out_deg"
    val header =
      s"""pp_ns AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS ns FROM (
         |    SELECT DISTINCT n.id FROM $nodesCte n
         |    JOIN $seedsCte sd ON n.id = sd.id)),
         |pp_outw AS MATERIALIZED (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS out_w
         |  FROM $edgesCte GROUP BY 1),
         |pp_e AS MATERIALIZED (
         |  SELECT e.src, e.dst, $coefCol
         |  FROM $edgesCte e JOIN pp_outw t ON e.src = t.src),
         |pp_st AS MATERIALIZED (
         |  SELECT n.id, (t.src IS NULL) AS dangling,
         |    (sd.id IS NOT NULL) AS seed
         |  FROM $nodesCte n
         |  LEFT JOIN (SELECT DISTINCT src FROM $edgesCte) t ON n.id = t.src
         |  LEFT JOIN (SELECT DISTINCT id FROM $seedsCte) sd ON n.id = sd.id),
         |pp_r0 AS MATERIALIZED (
         |  SELECT s.id, s.dangling, s.seed,
         |    CAST(CASE WHEN s.seed THEN $Scale // ns.ns ELSE 0 END
         |      AS BIGINT) AS r
         |  FROM pp_st s, pp_ns ns)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""pp_c$k AS MATERIALIZED (
         |  SELECT e.dst AS id, CAST(sum($contribExpr) AS BIGINT) AS c
         |  FROM pp_e e JOIN pp_r${k - 1} r ON e.src = r.id GROUP BY 1),
         |pp_d$k AS MATERIALIZED (
         |  SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dmass
         |  FROM pp_r${k - 1} WHERE dangling),
         |pp_r$k AS MATERIALIZED (
         |  SELECT s.id, s.dangling, s.seed,
         |    CAST((${100 - dampingPct} * ($Scale // ns.ns)
         |            * (CASE WHEN s.seed THEN 1 ELSE 0 END)
         |          + $dampingPct * (coalesce(c.c, 0)
         |            + (d.dmass // ns.ns)
         |              * (CASE WHEN s.seed THEN 1 ELSE 0 END))) // 100
         |      AS BIGINT) AS r
         |  FROM pp_r${k - 1} s
         |  LEFT JOIN pp_c$k c ON s.id = c.id, pp_d$k d, pp_ns ns)""".stripMargin
    }
    (header +: steps).mkString(",\n")
  }
}
