package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Centrality

class CentralitySpec extends SparkSpec {
  import spark.implicits._

  private val S = Centrality.Scale

  private def ranks(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] =
    Centrality.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("one unweighted iteration matches the hand-computed update rule exactly") {
    // nodes {1,2,3}, edges 2->1, 3->1; node 1 dangling.
    // base = S/3; contrib(1) = 2*base; dmass = base (node 1's rank);
    // r'(v) = (15*base + 85*(c + dmass/3)) / 100 — all integer floor.
    val base = S / 3
    val dShare = base / 3
    val exp1 = (15L * base + 85L * (2L * base + dShare)) / 100L
    val expOther = (15L * base + 85L * dShare) / 100L
    val got = ranks(Seq(1L, 2L, 3L), Seq((2L, 1L), (3L, 1L)), iters = 1)
    assert(got == Map(1L -> exp1, 2L -> expOther, 3L -> expOther))
    // the hub holds the mass, and nothing was silently lost to the sink
    assert(got(1L) > 2L * got(2L))
    assert(got.values.sum <= S && got.values.sum >= S - 10L)
  }

  test("one weighted iteration splits contributions by ppm-quantized share") {
    // 1->2 w=3, 1->3 w=1: shares 750000/250000 ppm of r(1)=S/3.
    val base = S / 3
    val c2 = base * 750000L / 1000000L
    val c3 = base * 250000L / 1000000L
    val dShare = (2L * base) / 3 // nodes 2 and 3 are dangling
    val exp = Map(
      1L -> (15L * base + 85L * dShare) / 100L,
      2L -> (15L * base + 85L * (c2 + dShare)) / 100L,
      3L -> (15L * base + 85L * (c3 + dShare)) / 100L)
    val got = Centrality.pageRank(
        Seq(1L, 2L, 3L).toDF("id"),
        Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w"),
        iters = 1, weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got == exp)
  }

  test("bounded driver serve is bit-identical to the distributed " +
      "weighted fixed point, and oversized graphs fall back") {
    // mixed graph: weighted multi-out, dangling nodes, a node with no
    // in-edges, a source outside the vertex set contributing nothing,
    // and weights that exercise the ppm quantization's floors
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 7L),
      (3L, 1L, 2L), (3L, 4L, 5L), (9L, 2L, 4L) /* 9 not a vertex */)
      .toDF("src", "dst", "w")
    for (iters <- Seq(1, 4, 7)) {
      val dist = Centrality.pageRank(nodes, edges, iters,
          weightCol = Some("w"))
        .as[(Long, Long)].collect().toMap
      val drv = Centrality.pageRankBoundedWeighted(nodes, edges, iters)
        .as[(Long, Long)].collect().toMap
      assert(drv == dist, s"driver serve diverged at iters=$iters")
    }
    // fallback: gates below the graph size must route to the
    // distributed loop and still produce the identical ranks
    val viaFallback = Centrality.pageRankBoundedWeighted(nodes, edges,
        iters = 4, maxNodes = 2)
      .as[(Long, Long)].collect().toMap
    val direct = Centrality.pageRank(nodes, edges, 4,
        weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(viaFallback == direct)
    // the sub-ppm share floor fails as loudly as the distributed form
    val bad = Seq((1L, 2L, 1L), (1L, 3L, 3000000L)).toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      Centrality.pageRankBoundedWeighted(Seq(1L, 2L, 3L).toDF("id"),
        bad, iters = 1)
    }
    assert(e.getMessage.contains("ppm"))
  }

  test("bounded driver serve matches the distributed fixed point across " +
      "node and endpoint id types") {
    // the distributed joins coerce mismatched id types; the driver loop
    // looks endpoints up in a map keyed by node id, so an endpoint of
    // another type (a decimal or string rendering of the same id) must
    // be cast first — otherwise every edge misses the vertex map and
    // only teleport mass survives
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val raw = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 5L))
      .toDF("src", "dst", "w")
    for (endpointType <- Seq("int", "decimal(20,0)", "string")) {
      val edges = raw.select(col("src").cast(endpointType).as("src"),
        col("dst").cast(endpointType).as("dst"), col("w"))
      val dist = Centrality.pageRank(nodes, edges, 4, weightCol = Some("w"))
        .as[(Long, Long)].collect().toMap
      val drv = Centrality.pageRankBoundedWeighted(nodes, edges, 4)
        .as[(Long, Long)].collect().toMap
      assert(drv == dist, s"driver serve diverged for $endpointType endpoints")
      assert(dist.values.toSet.size > 1, "ranks must not be teleport-only")
    }
  }

  test("mass is conserved up to floor loss across many iterations") {
    // ring + chords + a dangling tail: mixed in/out degrees, dangling
    // mass in play every iteration. Floor loss is bounded by a few
    // units per node per iteration and only ever shrinks the total.
    val n = 40L
    val edges = (0L until n).map(i => (i, (i + 1) % n)) ++
      (0L until n by 4).map(i => (i, (i * 7 + 3) % n)) ++
      Seq((n, 0L) /* node n+1 below dangles */ )
    val got = ranks((0L to n + 1).toSeq, edges, iters = 8)
    val total = got.values.sum
    assert(total <= S, s"mass grew: $total > $S")
    assert(total >= S - 2000L, s"floor loss too large: ${S - total}")
    assert(got.size == n.toInt + 2)
  }

  test("ranks are deterministic across runs (integer arithmetic, no ulp drift)") {
    val nodes = (0L until 30L).toSeq
    val edges = nodes.flatMap(i => Seq((i, (i * 3 + 1) % 30), (i, (i + 11) % 30)))
    val a = ranks(nodes, edges, iters = 6)
    val b = ranks(nodes, edges, iters = 6)
    assert(a == b)
  }

  test("uniform out-degree symmetric graph converges to uniform ranks") {
    // 4-cycle, symmetrized: perfectly regular, so ranks stay at S/N
    // (up to the floor) every iteration — catches any accidental
    // direction or double-count bug in the contribution join.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (1L, 0L), (2L, 1L), (3L, 2L), (0L, 3L))
    val got = ranks(Seq(0L, 1L, 2L, 3L), edges, iters = 5)
    val base = S / 4
    assert(got.values.forall(r => (r - base).abs <= 5L),
      s"regular graph drifted from uniform: $got")
  }

  test("step runs with exactly two exchanges: dst aggregation + 1-row dangling rollup") {
    // same construction as the real loop: prepped edges cached with
    // their src-partitioning materialized, state checkpointed WITH its
    // id-partitioning captured, rank column added after the boundary.
    // Broadcast disabled — at scale neither side broadcasts and the
    // claim is about co-partitioned reuse (the Components doctrine).
    noBroadcast {
      val edges = Seq((1L, 2L, 10L), (2L, 3L, 7L), (3L, 1L, 1L))
        .toDF("src", "dst", "w")
      val outW = edges.groupBy("src").agg(sum($"w").as("out_w"))
      val edgesP = edges.join(outW, "src")
        .select($"src", $"dst",
          (($"w" * lit(Centrality.SharePpm)) / $"out_w").cast("long")
            .as("share_ppm"))
        .repartition(4, $"src").cache()
      edgesP.count()
      val state = graft.operators.Ops.checkpointKeepPartitioning(
        Seq((1L, false), (2L, false), (3L, false), (4L, true))
          .toDF("id", "dangling").repartition(4, $"id"),
        eager = true, numShufflePartitions = Some(4))
        .withColumn("r", lit(S / 4))
      def free(df: org.apache.spark.sql.DataFrame): Unit =
        df.queryExecution.optimizedPlan.foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
          case _ =>
        }
      try {
        val next = Centrality.step(edgesP, state, S / 4, 4L, 85,
          weighted = true)
        assert(shuffleCount(next) == 2,
          "contrib-by-dst and the singleton dangling rollup are the only " +
            "exchanges; the state join-back must reuse its id layout")
        // and the step's output is still exactly mass-preserving-ish
        val total = next.agg(sum($"r")).as[Long].head()
        assert(total <= S && total > S - 100L)
        // the budget must hold ACROSS iterations: the checkpointed step
        // output is the next iteration's state — if the id-partitioning
        // capture degraded there, every later iteration would re-shuffle
        // the state (invisible to a single-step assertion). The select
        // forces a FRESH Dataset: `next` was just executed above under
        // AQE, and a checkpoint of an already-finalized adaptive plan
        // captures UnknownPartitioning — the loop itself always
        // checkpoints never-executed step output.
        val state2 = graft.operators.Ops.checkpointKeepPartitioning(
          next.select("id", "dangling", "r"),
          eager = true, numShufflePartitions = Some(4))
        try {
          assert(shuffleCount(Centrality.step(edgesP, state2, S / 4, 4L, 85,
            weighted = true)) == 2,
            "iteration 2 must reuse the checkpointed step output's " +
              "id-partitioning")
        } finally free(state2)
      } finally {
        edgesP.unpersist()
        free(state)
      }
    }
  }

  test("dangling-free graphs skip the correction (dmass = 0) without breakage") {
    val got = ranks(Seq(1L, 2L), Seq((1L, 2L), (2L, 1L)), iters = 3)
    assert(got(1L) == got(2L))
    assert(got.values.sum >= S - 10L)
  }

  test("personalized PageRank: one seeded iteration matches the update rule; unreachable nodes stay exactly zero") {
    // line 1→2→3 plus isolated node 4; seed {1}. seedShare = S.
    // r0 = (S, 0, 0, 0). Iteration 1: contrib(2) = r(1)/1 = S; node 3
    // dangles? no — 3 has no out-edge, so it IS dangling, but r(3)=0 so
    // dmass=0 (4 dangles too, r=0). r'(1) = 15·S/100; r'(2) = 85·S/100;
    // r'(3) = r'(4) = 0.
    val got = Centrality.personalizedPageRank(
        Seq(1L, 2L, 3L, 4L).toDF("id"),
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        Seq(1L).toDF("id"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 15L * S / 100L, 2L -> 85L * S / 100L,
      3L -> 0L, 4L -> 0L))
    // after more iterations, reachable node 3 gains mass; isolated
    // node 4 stays EXACTLY zero (integer reachability, not epsilon)
    val deep = Centrality.personalizedPageRank(
        Seq(1L, 2L, 3L, 4L).toDF("id"),
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        Seq(1L).toDF("id"), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(deep(3L) > 0L)
    assert(deep(4L) == 0L)
    assert(deep.values.sum <= S && deep.values.sum >= S - 100L,
      "teleport + dangling-to-seeds conserve mass up to floor loss")
  }

  test("personalized PageRank validation: empty seed intersection fails loud") {
    intercept[IllegalArgumentException] {
      Centrality.personalizedPageRank(
        Seq(1L, 2L).toDF("id"),
        Seq((1L, 2L)).toDF("src", "dst"),
        Seq(99L).toDF("id"), iters = 1).collect()
    }
  }

  test("input validation fails loud") {
    intercept[IllegalArgumentException] {
      Centrality.pageRank(Seq(1L).toDF("id"),
        Seq((1L, 1L)).toDF("src", "dst"), iters = 0)
    }
    intercept[IllegalArgumentException] {
      Centrality.pageRank(Seq(1L).toDF("id"),
        Seq((1L, 1L)).toDF("src", "dst"), iters = 1, dampingPct = 101)
    }
    intercept[IllegalArgumentException] {
      Centrality.pageRank(spark.emptyDataFrame.select(lit(1L).as("id")).limit(0),
        Seq((1L, 2L)).toDF("src", "dst"), iters = 1).collect()
    }
  }

  test("harmonic centrality matches hand-computed distances, respects " +
      "the horizon, and holds exact zero for unreachable nodes") {
    val S = Centrality.HarmonicScale
    // directed path 1→2→3, node 4 isolated
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Centrality.harmonicCentrality(nodes, edges, maxDist = 3)
      .as[(Long, Long)].collect().toMap
    // H(2) = S/1 (from 1); H(3) = S/1 (from 2) + S/2 (from 1);
    // H(1) = H(4) = 0 — nobody reaches them, an exact-integer zero
    assert(got == Map(1L -> 0L, 2L -> S, 3L -> (S + S / 2), 4L -> 0L),
      got.toString)
    // horizon: at maxDist = 1 the 2-hop pair (1,3) contributes nothing
    val h1 = Centrality.harmonicCentrality(nodes, edges, maxDist = 1)
      .as[(Long, Long)].collect().toMap
    assert(h1(3L) == S && h1(2L) == S && h1(1L) == 0L, h1.toString)
    // symmetric triangle: every node sees the other two at distance 1
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L)).toDF("src", "dst")
    val ht = Centrality.harmonicCentrality(Seq(1L, 2L, 3L).toDF("id"),
        tri, maxDist = 4)
      .as[(Long, Long)].collect().toMap
    assert(ht.values.toSet == Set(2 * S), ht.toString)
  }

  test("weighted share-floor guard: an edge quantized to 0 ppm fails " +
      "loud instead of silently contributing nothing forever") {
    // src 1's out-weight is 2000001; the w=1 edge's share is
    // 1e6/2000001 = 0 ppm — the documented silent-divergence regime,
    // now an enforced boundary (both rank entry points).
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L, 2000000L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val e1 = intercept[IllegalArgumentException] {
      Centrality.pageRank(nodes, edges, iters = 1, weightCol = Some("w"))
    }
    assert(e1.getMessage.contains("floors the edge's share to zero"))
    val e2 = intercept[IllegalArgumentException] {
      Centrality.personalizedPageRank(nodes, edges, Seq(1L).toDF("id"),
        iters = 1, weightCol = Some("w"))
    }
    assert(e2.getMessage.contains("floors the edge's share to zero"))
    // the same shape UNWEIGHTED is fine (r div out_deg has no ppm floor)
    Centrality.pageRank(nodes, edges.select("src", "dst"), iters = 1)
      .collect()
  }

  test("exact harmonic maxNodes bound: an oversized EDGE-ENDPOINT set " +
      "fails loud, naming the sketched form; the nodes frame never " +
      "trips it") {
    // the O(n^2) reached state is built from edge endpoints — the
    // guard must count THAT set, in both directions: a 12-endpoint
    // edge list trips a bound of 10 whatever `nodes` holds...
    val nodes = (1L to 12L).toDF("id")
    val edges = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Centrality.harmonicCentrality(nodes, edges, maxDist = 2,
        maxNodes = 10L)
    }
    assert(e.getMessage.contains("harmonicHyperBall"))
    assert(e.getMessage.contains("O(n^2)"))
    assert(e.getMessage.contains("edge-endpoint"))
    // ...while a huge nodes table over two endpoints is FINE (the
    // state is endpoint-bounded; nodes only shapes the output join)
    val wide = Centrality.harmonicCentrality(
        (1L to 50L).toDF("id"), Seq((1L, 2L)).toDF("src", "dst"),
        maxDist = 2, maxNodes = 10L)
      .as[(Long, Long)].collect().toMap
    assert(wide(2L) == Centrality.HarmonicScale && wide(50L) == 0L)
    // raising the bound explicitly accepts the quadratic state
    Centrality.harmonicCentrality(nodes, edges, maxDist = 2,
      maxNodes = 12L).collect()
  }

  test("HyperBall-sketched harmonic: exact agreement on small balls " +
      "(linear counting), exact zeros, and a band vs the exact form " +
      "on a denser graph") {
    val S = Centrality.HarmonicScale
    // directed path 1→2→3 plus isolated 4 — ball sizes 1..3 are in the
    // linear-counting regime where the estimate is exact absent a
    // register collision among 3 hashes (none for these ids)
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val sk = Centrality.harmonicHyperBall(nodes, edges, maxDist = 3)
      .as[(Long, Long)].collect().toMap
    assert(sk == Map(1L -> 0L, 2L -> S, 3L -> (S + S / 2), 4L -> 0L),
      s"sketched path ranks: $sk")
    // nodes the graph never reaches hold EXACTLY zero (their counter
    // never merges anything — the increment is identically 0), the
    // same crisp statement the exact form makes
    assert(sk(1L) == 0L && sk(4L) == 0L)

    // the HyperANF report off the same cascade: reach counts the
    // in-ball INCLUDING self (isolated ⇒ exactly 1), total_dist sums
    // in-distances — node 3 is reached by 2 at d=1 and 1 at d=2
    val rep = Centrality.hyperBallReport(nodes, edges, maxDist = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep == Map(1L -> (1L, 0L), 2L -> (2L, 1L),
      3L -> (3L, 3L), 4L -> (1L, 0L)), rep.toString)

    // denser graph: 60-node ring with chords — balls grow to ~60, so
    // collisions and LC rounding are in play; assert the band that
    // makes the sketch USABLE as a rank (per-node relative agreement),
    // not bit equality (that's the oracle's job, which replays the
    // sketch itself)
    val n = 60L
    val ringEdges = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), ((i + 1) % n, i),
        (i, (i * 7 + 3) % n), ((i * 7 + 3) % n, i)))
      .filter { case (a, b) => a != b }
    val nodes60 = (0L until n).toDF("id")
    val e60 = ringEdges.toDF("src", "dst")
    val exact = Centrality.harmonicCentrality(nodes60, e60, maxDist = 4)
      .as[(Long, Long)].collect().toMap
    val sketch = Centrality.harmonicHyperBall(nodes60, e60, maxDist = 4)
      .as[(Long, Long)].collect().toMap
    assert(sketch.keySet == exact.keySet)
    exact.foreach { case (id, hEx) =>
      val hSk = sketch(id)
      assert(math.abs(hSk - hEx) <= math.max(hEx * 15L / 100L, 2L * S),
        s"node $id: sketch $hSk vs exact $hEx outside the 15% + 2-term " +
          "band")
    }
  }

  test("hyperBall step runs with exactly two exchanges: the union-fold " +
      "and the id re-layout; the expansion join moves nothing") {
    // same construction as the real loop: edges cached src-partitioned
    // AT the iteration width, counters checkpointed id-partitioned —
    // the pageRank step-plan convention, broadcast disabled so the
    // co-partitioned-reuse claim is what's measured.
    noBroadcast {
      val edgesP = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("esrc", "edst")
        .repartition(4, $"esrc").cache()
      edgesP.count()
      val regs = graft.operators.Ops.checkpointKeepPartitioning(
        Seq((1L, 0, 1), (2L, 3, 2), (3L, 7, 1)).toDF("id", "idx", "r")
          .repartition(4, $"id"),
        eager = true, numShufflePartitions = Some(4))
      def free(df: org.apache.spark.sql.DataFrame): Unit =
        df.queryExecution.optimizedPlan.foreach {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
          case _ =>
        }
      try {
        val next = Centrality.hyperBallStep(edgesP, regs, 4)
        assert(shuffleCount(next) == 2,
          "the union-fold and the id re-layout are the only exchanges; " +
            "the expansion join must reuse both cached layouts")
        // and the merge is the right merge: each node's counter absorbs
        // its in-neighbor's registers (3→1, 1→2, 2→3), max-folded
        val got = next.as[(Long, Int, Int)].collect().toSet
        assert(got == Set((1L, 0, 1), (1L, 7, 1), (2L, 3, 2), (2L, 0, 1),
          (3L, 7, 1), (3L, 3, 2)), got.toString)
      } finally {
        edgesP.unpersist()
        free(regs)
      }
    }
  }

  test("salted pair enumeration: bit-identical edges at any salt " +
      "count, salt key only in the salted plan") {
    // hot fingerprint H: 70 sources (> HotDfForSalting = 64, under the
    // cap) — the per-key funnel case the salt splits; D is a cold
    // discriminating fingerprint that must ride salt 0 untouched.
    val rows = (0 until 70).map(i => (f"s$i%02d", "H")) ++
      Seq(("s00", "D"), ("s01", "D"))
    val sh = rows.toDF("source", "ph")
    def edges(saltTasks: Int): Set[(String, String, Long)] =
      Centrality.sharedShingleEdges(sh, maxSourcesPerFingerprint = 128,
          saltPairTasks = saltTasks)
        .as[(String, String, Long)].collect().toSet
    val plain = edges(1)
    val salted = edges(8)
    // every ordered pair appears exactly once per shared fingerprint,
    // whatever the salt fan-out — the oracle never has to know
    assert(plain == salted,
      "salted pair enumeration changed edge values")
    assert(plain.size == 70 * 69)
    assert(plain.contains(("s00", "s01", 2L))) // H and D both shared
    assert(plain.contains(("s02", "s03", 1L)))
    // cold-only corpus: salting is value-inert there too
    val cold = Seq(("a", "X"), ("b", "X"), ("c", "Y")).toDF("source", "ph")
    assert(Centrality.sharedShingleEdges(cold, 128, saltPairTasks = 8)
        .as[(String, String, Long)].collect().toSet ==
      Set(("a", "b", 1L), ("b", "a", 1L)))
    // the salt key exists only in the salted plan (the plain default
    // keeps the single-key ph join the bucketed serving path rides)
    val planSalted = Centrality.sharedShingleEdges(sh, 128,
      saltPairTasks = 8).queryExecution.optimizedPlan.toString
    val planPlain = Centrality.sharedShingleEdges(sh, 128)
      .queryExecution.optimizedPlan.toString
    assert(planSalted.contains("salt"))
    assert(!planPlain.contains("salt"))
  }

  test("sharedShingleEdges df-cap: a planted ubiquitous fingerprint is " +
      "cut, pair growth stays bounded, and the cap is observable") {
    // 6 sources all share fingerprint U (the copyright-footer shape);
    // s0/s1 additionally share the discriminating fingerprint D.
    // Uncapped, U alone contributes 6·5 = 30 directed pairs; capped at
    // 4, U is dropped and only D's 2 edges survive — Σ S_ph² growth
    // from a ubiquitous shingle is cut to zero, the scale killer the
    // cap exists for (at host granularity S_U ~ 1e6 ⇒ ~1e12 rows).
    val sh = Seq("s0", "s1", "s2", "s3", "s4", "s5").map((_, "U"))
      .++(Seq(("s0", "D"), ("s1", "D"))).toDF("source", "ph")

    val capped = Centrality.sharedShingleEdges(sh,
      maxSourcesPerFingerprint = 4)
    // collect the observed frame ITSELF (a derived .as[...] frame would
    // record the metrics on its own execution — the capActivity contract)
    val gotCapped = capped.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(gotCapped == Set(("s0", "s1", 1L), ("s1", "s0", 1L)),
      s"only D edges survive the cap: $gotCapped")
    // observable, never silent: the guard reports the suppressed rows
    // (6 sources × U, counted once per self-join side) and the hot df
    val act = graft.operators.IndexStore.capActivity(capped)
    assert(act.exists(_.maxBucketN == 6L), s"cap activity: $act")
    assert(act.exists(_.rowsSuppressed >= 6L), s"cap activity: $act")

    // under the cap nothing changes: same fixture, cap ≥ every df —
    // identical to the historical uncapped semantics (U contributes
    // w=2 on the s0↔s1 edges, w=1 elsewhere)
    val uncapped = Centrality.sharedShingleEdges(sh,
        maxSourcesPerFingerprint = 6)
      .as[(String, String, Long)].collect().toSet
    assert(uncapped.size == 30)
    assert(uncapped.contains(("s0", "s1", 2L)))
    assert(uncapped.contains(("s2", "s3", 1L)))

    intercept[IllegalArgumentException] {
      Centrality.sharedShingleEdges(sh, maxSourcesPerFingerprint = 1)
    }
  }
}
