package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, IvfIndex, Similarity, SrpLsh}

/** Proves the two claims [[graft.operators.IndexStore]] makes about the
  * persisted-index layer:
  *
  *  1. PARITY — probing a persisted index returns exactly what the
  *     fresh (rebuild-every-run) pipelines in [[Dedup]] / [[IvfIndex]]
  *     return on the same inputs;
  *  2. NO INDEX-SIDE MOVEMENT — the probe joins read the bucketed index
  *     tables in place: between each index-table scan and its join there
  *     is no exchange of any kind (the bucketed scan's HashPartitioning
  *     satisfies the join's distribution requirement), so only the probe
  *     side shuffles.
  *
  * Plus the caching contract: repeated probes leave no persisted RDDs
  * behind.
  */
class IndexStoreSpec extends SparkSpec {

  private val mhTbl = "graft_spec_mh"
  private val ivfTbl = "graft_spec_ivf"
  private val idxPath = "/tmp/graft_index_spec"

  private def docs: DataFrame =
    Tables.load(spark, sf0001, "documents").select("doc_id", "text")

  /** Planted near-dups: every 5th doc, re-idd out of the corpus id range
    * and perturbed by a two-token tail — the incremental-ingest shape. */
  private def probes: DataFrame = docs.where(col("doc_id") % 5 === 0)
    .select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" graft tail")).as("text"))

  private def corpusVecs: DataFrame =
    Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("vec"))

  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$idxPath/$t"))
  }

  private def ensureMinhashIndex(): Unit =
    if (!spark.catalog.tableExists(s"${mhTbl}_bands")) {
      Seq(s"${mhTbl}_bands", s"${mhTbl}_shingles").foreach(dropTable)
      IndexStore.buildMinhashIndex(docs, "doc_id", "text", mhTbl,
        s"$idxPath/$mhTbl")
    }

  private lazy val ivfCentroids =
    IvfIndex.trainCentroids(corpusVecs, k = 8, iters = 2)

  private def ensureIvfIndex(): Unit =
    if (!spark.catalog.tableExists(s"${ivfTbl}_lists")) {
      Seq(s"${ivfTbl}_lists", s"${ivfTbl}_centroids").foreach(dropTable)
      IndexStore.buildIvfIndex(corpusVecs, ivfCentroids, ivfTbl,
        s"$idxPath/$ivfTbl")
    }

  private val srpTbl = "graft_spec_srp"

  private def ensureSrpIndex(): Unit =
    if (!spark.catalog.tableExists(s"${srpTbl}_bands")) {
      Seq(s"${srpTbl}_bands", s"${srpTbl}_vecs").foreach(dropTable)
      IndexStore.buildSrpIndex(corpusVecs, srpTbl, s"$idxPath/$srpTbl")
    }

  private val winTbl = "graft_spec_win"

  /** docs ∪ whitespace-perturbed copies — the corpus whose planted
    * verbatim repeats the winnow consumers must report. */
  private def winCorpus: DataFrame = docs.unionByName(
    docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit(" "), col("text"), lit("  ")).as("text")))

  private def ensureWinnowIndex(): Unit =
    if (!spark.catalog.tableExists(s"${winTbl}_wins")) {
      dropTable(s"${winTbl}_wins")
      IndexStore.buildWinnowIndex(winCorpus, "doc_id", "text", winTbl,
        s"$idxPath/$winTbl")
    }

  private def assertSameRows(a: DataFrame, b: DataFrame, clue: String): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, clue)
    assert(a.count() == b.count(), clue)
  }

  // ---- 1. parity ----------------------------------------------------

  test("probeMinhash equals the fresh MinHash pipeline on planted near-dups") {
    ensureMinhashIndex()
    val probed = IndexStore.probeMinhash(spark, probes, "doc_id", "text", mhTbl)
      .select("query_id", "match_id", "jaccard")
    // Fresh pipeline over corpus ∪ probes; probe ids sit above 100000 so
    // the (id_a < id_b) pairs with exactly one side ≥ 100000 are the
    // query↔corpus matches the probe must reproduce.
    val fresh = Dedup.minhashNearDupPairs(docs.unionByName(probes), "doc_id", "text")
      .where(col("id_b") >= 100000 && col("id_a") < 100000)
      .select(col("id_b").as("query_id"), col("id_a").as("match_id"),
        col("jaccard"))
    assert(probed.count() > 0, "planted perturbed docs must match their originals")
    assertSameRows(probed, fresh, "persisted-index probe must equal the fresh pipeline")
  }

  test("probeIvf over persisted lists equals the inline IVF pipeline") {
    ensureIvfIndex()
    val queries = corpusVecs.where(col("vec_id") < 10)
    val fromIndex = IndexStore.probeIvf(spark, queries, ivfTbl, k = 5, nprobe = 3)
    val fresh = IvfIndex.topK(corpusVecs, queries, ivfCentroids, k = 5, nprobe = 3)
    assert(fromIndex.count() > 0)
    assertSameRows(fromIndex, fresh, "persisted IVF probe must equal the inline pipeline")
  }

  test("probeSrp over a persisted index equals the inline SRP pipeline") {
    ensureSrpIndex()
    val queries = corpusVecs.where(col("vec_id") < 10)
    val fromIndex = IndexStore.probeSrp(spark, queries, srpTbl, k = 5)
    val fresh = SrpLsh.topK(corpusVecs, queries, k = 5)
    assert(fromIndex.count() > 0)
    assertSameRows(fromIndex, fresh, "persisted SRP probe must equal the inline pipeline")
  }

  test("appendSrpIndex: probes see both halves, equal to a one-shot build") {
    val inc = "graft_spec_srp_inc"
    Seq(s"${inc}_bands", s"${inc}_vecs").foreach(dropTable)
    IndexStore.buildSrpIndex(corpusVecs.where(col("vec_id") % 2 === 0),
      inc, s"$idxPath/$inc")
    IndexStore.appendSrpIndex(corpusVecs.where(col("vec_id") % 2 === 1), inc)
    val queries = corpusVecs.where(col("vec_id") < 10)
    val incremental = IndexStore.probeSrp(spark, queries, inc, k = 5)
    ensureSrpIndex()
    val oneShot = IndexStore.probeSrp(spark, queries, srpTbl, k = 5)
    assertSameRows(incremental, oneShot,
      "incrementally-appended SRP index must equal the one-shot build")
    val matchedPar = incremental.select(col("neighbor_id") % 2).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(matchedPar == Set(0L, 1L),
      s"expected neighbors from both halves, got $matchedPar")
  }

  test("quantized SRP probe: recall@5 ≥ 0.9 vs fp probe, candidates unchanged") {
    ensureSrpIndex()
    val q = "graft_spec_srpq"
    Seq(s"${q}_bands", s"${q}_vecs").foreach(dropTable)
    IndexStore.buildSrpIndexQuantized(corpusVecs, q, s"$idxPath/$q")
    val queries = corpusVecs.where(col("vec_id") < 20)
    val fp = IndexStore.probeSrp(spark, queries, srpTbl, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qz = IndexStore.probeSrpQuantized(spark, queries, q, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (fp & qz).size.toDouble / fp.size
    assert(recall >= 0.9, s"quantized SRP recall@5 = $recall")
    // an fp probe against the quantized index must fail loud — the
    // re-rank table has no fp vector column to score
    intercept[IllegalArgumentException] {
      IndexStore.probeSrp(spark, queries, q, k = 5)
    }
  }

  test("SRP near-dup probe: planted copies recalled, threshold exact") {
    ensureSrpIndex()
    // scaled copies of every 20th vector: cosine 1.0 with their source
    val probes = corpusVecs.where(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("vec"), x => x * 1.001)
          .as("vec"))
    val matches = IndexStore.probeSrpNearDup(spark, probes, srpTbl)
      .select("query_id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = probes.select("vec_id").collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach(q => assert(matches.contains((q, q - 100000)),
      s"planted copy $q must match its source"))
    // precision is exact: every reported pair verifies at >= threshold
    // by brute force over the same vectors
    val brute = Similarity.cosineTopK(corpusVecs, probes, k = 50)
      .where(col("cos_sim") >= 0.999)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches.subsetOf(brute),
      s"index matches must verify by brute force: ${matches -- brute}")
  }

  test("mismatched SRP geometry is rejected on append and probe") {
    ensureSrpIndex()
    val delta = corpusVecs.limit(5)
    intercept[IllegalArgumentException] {
      IndexStore.appendSrpIndex(delta, srpTbl, nPlanes = 24, bands = 4)
    }
    intercept[IllegalArgumentException] {
      IndexStore.probeSrp(spark, delta, srpTbl, k = 5, bands = 8, nPlanes = 16)
    }
  }

  // ---- 2. no index-side movement ------------------------------------

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  /** Every root→scan path for scans of `tableDir` (an index table). */
  private def pathsToScan(p: SparkPlan, tableDir: String): Seq[List[SparkPlan]] =
    p match {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains(tableDir) =>
        Seq(List(f))
      case _ => kids(p).flatMap(c => pathsToScan(c, tableDir)).map(p :: _)
    }

  private def isMovement(p: SparkPlan): Boolean = p match {
    case _: Exchange => true
    case q: QueryStageExec => q.plan.isInstanceOf[Exchange]
    case _ => false
  }

  /** Asserts that `df`'s executed plan (a) reads `tableDir` via a
    * bucketed scan (HashPartitioning output) and (b) has no exchange
    * between that scan and the join that consumes it. */
  private def assertIndexSideInPlace(df: DataFrame, tableDir: String): Unit = {
    df.collect() // finalize AQE
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val paths = pathsToScan(root, tableDir)
    assert(paths.nonEmpty, s"no scan of $tableDir in:\n$root")
    paths.foreach { path =>
      val scan = path.last.asInstanceOf[FileSourceScanExec]
      assert(scan.outputPartitioning.isInstanceOf[HashPartitioning],
        s"index scan of $tableDir is not bucketed:\n$scan")
      val belowJoin = path.drop(path.lastIndexWhere(_.isInstanceOf[BaseJoinExec]) + 1)
      val moved = belowJoin.filter(isMovement)
      assert(moved.isEmpty,
        s"index side of $tableDir moved through ${moved.map(_.nodeName).mkString(", ")}:\n$root")
    }
  }

  test("persisted-index probe joins move only the probe side") {
    ensureMinhashIndex(); ensureIvfIndex()
    // force shuffle joins so the assertion exercises the bucketed path
    // (broadcast would hide index-side movement as a BroadcastExchange)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val mh = IndexStore.probeMinhash(spark, probes, "doc_id", "text", mhTbl)
      assertIndexSideInPlace(mh, s"$idxPath/$mhTbl/${mhTbl}_bands")
      assertIndexSideInPlace(mh, s"$idxPath/$mhTbl/${mhTbl}_shingles")

      val ivf = IndexStore.probeIvf(spark,
        corpusVecs.where(col("vec_id") < 10), ivfTbl, k = 5, nprobe = 3)
      assertIndexSideInPlace(ivf, s"$idxPath/$ivfTbl/${ivfTbl}_lists")

      ensureSrpIndex()
      val srp = IndexStore.probeSrp(spark,
        corpusVecs.where(col("vec_id") < 10), srpTbl, k = 5)
      assertIndexSideInPlace(srp, s"$idxPath/$srpTbl/${srpTbl}_bands")
      assertIndexSideInPlace(srp, s"$idxPath/$srpTbl/${srpTbl}_vecs")

      ensureWinnowIndex()
      val win = IndexStore.probeWinnow(spark, probes, "doc_id", "text",
        winTbl)
      assertIndexSideInPlace(win, s"$idxPath/$winTbl/${winTbl}_wins")

      // the sixth kind honors the same contract: the fp-bucketed scan
      // feeds the hot-bucket window AND the probe join in place (probe
      // with exact copies — a no-match probe would let AQE's
      // empty-relation propagation eliminate the index scan entirely)
      val exTbl = "graft_spec_ex_plan"
      dropTable(s"${exTbl}_fps")
      IndexStore.buildExactIndex(docs, "doc_id", "text", exTbl,
        s"$idxPath/$exTbl")
      val exq = IndexStore.probeExact(spark,
        docs.select((col("doc_id") + 100000).as("doc_id"), col("text")),
        "doc_id", "text", exTbl)
      assertIndexSideInPlace(exq, s"$idxPath/$exTbl/${exTbl}_fps")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    }
  }

  // ---- 3. incremental maintenance -----------------------------------

  test("appendMinhashIndex: probes see old and new docs, equal to a one-shot build") {
    val inc = "graft_spec_mh_inc"
    Seq(s"${inc}_bands", s"${inc}_shingles").foreach(dropTable)
    val oldHalf = docs.where(col("doc_id") % 2 === 0)
    val newHalf = docs.where(col("doc_id") % 2 === 1)
    IndexStore.buildMinhashIndex(oldHalf, "doc_id", "text", inc,
      s"$idxPath/$inc")
    IndexStore.appendMinhashIndex(newHalf, "doc_id", "text", inc)

    val incremental = IndexStore.probeMinhash(spark, probes, "doc_id", "text", inc)
    // the full one-shot index over the same corpus (built by the parity
    // tests above) must agree: append is build, delivered in pieces
    ensureMinhashIndex()
    val oneShot = IndexStore.probeMinhash(spark, probes, "doc_id", "text", mhTbl)
    assertSameRows(incremental, oneShot,
      "incrementally-maintained index must equal the one-shot build")
    // and the probe genuinely matched docs from BOTH halves
    val matchedPar = incremental.select(col("match_id") % 2).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(matchedPar == Set(0L, 1L),
      s"expected matches in both the built and appended halves, got $matchedPar")
  }

  test("dedupIngest: rejects index matches and batch-internal dups, appends the novel") {
    import spark.implicits._
    val tbl = "graft_spec_mh_ingest"
    Seq(s"${tbl}_bands", s"${tbl}_shingles").foreach(dropTable)
    IndexStore.buildMinhashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", tbl, s"$idxPath/$tbl")
    val indexedText = docs.where(col("doc_id") === 0)
      .select("text").as[String].head()
    val novelA = (1 to 40).map(i => s"novela$i").mkString(" ")
    val novelB = (1 to 40).map(i => s"novelb$i").mkString(" ")
    val batch = Seq(
      (900001L, indexedText + " tail"), // near-dup of an indexed doc
      (900002L, novelA),                // novel — keeper
      (900003L, novelA + " tail"),      // batch-internal near-dup of 900002
      (900004L, novelB))                // novel
      .toDF("doc_id", "text")
    val (accepted, matches) =
      IndexStore.dedupIngestMinhash(spark, batch, "doc_id", "text", tbl)
    assert(accepted.select("doc_id").as[Long].collect().toSet ==
      Set(900002L, 900004L),
      "index matches and inner dups must be rejected; min id keeps")
    assert(matches.where(col("query_id") === 900001L).count() > 0,
      "the probe evidence must name the index match")
    // the accepted docs are part of the index now: the NEXT batch's
    // near-copies are rejected against them
    val next = Seq((900005L, novelA + " coda")).toDF("doc_id", "text")
    val (accepted2, matches2) =
      IndexStore.dedupIngestMinhash(spark, next, "doc_id", "text", tbl)
    assert(accepted2.isEmpty, "a near-copy of an accepted doc must reject")
    assert(matches2.select("match_id").as[Long].collect().contains(900002L))
  }

  // ---- composed multi-gate ingest -----------------------------------

  /** Disjoint-vocabulary 90-token docs: long enough that the winnowing
    * guarantee (window 40 + guarantee 10 − 1 = 49 tokens) covers every
    * verbatim-copy class, and token-unique so cross-doc jaccard is 0. */
  private def gateBase: DataFrame = {
    import spark.implicits._
    (0 until 8).map(d =>
      (d.toLong, (1 to 90).map(i => s"g${d}w$i").mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** The four planted batch classes against `gateBase` doc d:
    * 1000+d byte-copy (exact gate), 2000+d verbatim-extended (winnow
    * gate — shares the full 90-token run), 3000+d every-30th-token
    * perturbation (passes winnow deterministically: every 40-token
    * window spans a ≤29-token unmodified gap; jaccard ≈ 0.83 → minhash
    * gate), 4000+d fully rewritten (accepted). */
  private def gateBatch: DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    val perturbed = concat_ws(" ", transform(toks,
      (t, i) => when(i % 30 === 29, concat(t, lit("q"))).otherwise(t)))
    val novel = concat_ws(" ", transform(toks,
      (t, i) => concat(lit("nv"), t, i.cast("string"))))
    gateBase.select((col("doc_id") + 1000).as("doc_id"), col("text"))
      .unionByName(gateBase.select((col("doc_id") + 2000).as("doc_id"),
        concat(col("text"), lit(" gtail gcoda")).as("text")))
      .unionByName(gateBase.select((col("doc_id") + 3000).as("doc_id"),
        perturbed.as("text")))
      .unionByName(gateBase.select((col("doc_id") + 4000).as("doc_id"),
        novel.as("text")))
  }

  private def freshGateTables(prefix: String): (String, String, String) = {
    val (ex, wn, mh) = (s"${prefix}_x", s"${prefix}_w", s"${prefix}_m")
    Seq(s"${ex}_fps", s"${wn}_wins", s"${mh}_bands", s"${mh}_shingles")
      .foreach(dropTable)
    IndexStore.buildExactIndex(gateBase, "doc_id", "text", ex,
      s"$idxPath/$ex")
    IndexStore.buildWinnowIndex(gateBase, "doc_id", "text", wn,
      s"$idxPath/$wn", window = 40, guarantee = 10)
    IndexStore.buildMinhashIndex(gateBase, "doc_id", "text", mh,
      s"$idxPath/$mh")
    (ex, wn, mh)
  }

  test("multi-gate ingest: first-gate attribution, appends only survivors") {
    import spark.implicits._
    val (ex, wn, mh) = freshGateTables("graft_spec_gate")
    val (accepted, decisions) = IndexStore.dedupIngestGate(spark,
      gateBatch, "doc_id", "text", ex, wn, mh, window = 40,
      guarantee = 10)
    assert(accepted.select("doc_id").as[Long].collect().toSet ==
      (0 until 8).map(d => 4000L + d).toSet,
      "only the fully-rewritten class survives every gate")
    val byGate = decisions.as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byGate("exact") == (0 until 8).map(d => 1000L + d).toSet,
      "byte-copies must be cut by the FIRST gate")
    assert(byGate("winnow") == (0 until 8).map(d => 2000L + d).toSet,
      "verbatim-extended docs must reach and be cut by the winnow gate")
    assert(byGate("minhash") == (0 until 8).map(d => 3000L + d).toSet,
      "shingle-perturbed docs must pass winnow and be cut by minhash")
    // the whole point of composing: a doc rejected at ANY gate is
    // indexed NOWHERE — each index holds exactly base + accepted
    assert(spark.table(s"${ex}_fps").count() == 16,
      "exact index must hold base(8) + accepted(8) docs only")
    assert(spark.table(s"${mh}_shingles").count() == 16,
      "minhash index must not contain exact/winnow-gate rejects")
    assert(spark.table(s"${wn}_wins")
      .select("doc_id").distinct().count() == 16,
      "winnow index must not contain exact/minhash-gate rejects")
  }

  test("multi-gate ingest: accepted-set parity with sequential single-kind loops") {
    import spark.implicits._
    val (ex, wn, mh) = freshGateTables("graft_spec_gseq")
    val (a1, _) = IndexStore.dedupIngestExact(spark, gateBatch, "doc_id",
      "text", ex)
    val (a2, _) = IndexStore.dedupIngestWinnow(spark, a1, "doc_id",
      "text", wn, window = 40, guarantee = 10)
    val (a3, _) = IndexStore.dedupIngestMinhash(spark, a2, "doc_id",
      "text", mh)
    val (exC, wnC, mhC) = freshGateTables("graft_spec_gcmp")
    val (composed, _) = IndexStore.dedupIngestGate(spark, gateBatch,
      "doc_id", "text", exC, wnC, mhC, window = 40, guarantee = 10)
    assert(composed.select("doc_id").as[Long].collect().toSet ==
      a3.select("doc_id").as[Long].collect().toSet,
      "the composed gate must accept exactly the sequential loops' set")
    // and the composed form's indexes stay clean where the sequential
    // loops pollute earlier indexes with later-gate rejects
    assert(spark.table(s"${ex}_fps").count() == 32,
      "sequential: exact index holds base + ALL gate-1 survivors (24)")
    assert(spark.table(s"${exC}_fps").count() == 16,
      "composed: exact index holds base + final survivors only")
  }

  test("multi-gate ingest: consecutive batches gate against earlier survivors") {
    import spark.implicits._
    val (ex, wn, mh) = freshGateTables("graft_spec_gseq2")
    val (acc1, _) = IndexStore.dedupIngestGate(spark, gateBatch,
      "doc_id", "text", ex, wn, mh, window = 40, guarantee = 10)
    assert(acc1.count() == 8)
    // batch 2 derives its classes from batch 1's ACCEPTED docs (the
    // 4000+d rewrites) — every gate must now see them as indexed
    val a = acc1.select(col("doc_id"), col("text"))
    val toks = split(trim(lower(col("text"))), "\\s+")
    val perturbed = concat_ws(" ", transform(toks,
      (t, i) => when(i % 30 === 29, concat(t, lit("q"))).otherwise(t)))
    val batch2 = a.select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(a.select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" btail bcoda")).as("text")))
      .unionByName(a.select((col("doc_id") + 30000).as("doc_id"),
        perturbed.as("text")))
    val (acc2, dec2) = IndexStore.dedupIngestGate(spark, batch2,
      "doc_id", "text", ex, wn, mh, window = 40, guarantee = 10)
    assert(acc2.isEmpty,
      "every batch-2 doc dups an accepted batch-1 doc — none may pass")
    val byGate2 = dec2.as[(Long, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val accIds = a.select("doc_id").as[Long].collect().toSet
    assert(byGate2("exact") == accIds.map(_ + 10000),
      "byte-copies of batch-1 survivors must cut at the exact gate")
    assert(byGate2("winnow") == accIds.map(_ + 20000),
      "verbatim-extended copies of survivors must cut at the winnow gate")
    assert(byGate2("minhash") == accIds.map(_ + 30000),
      "perturbed copies of survivors must cut at the minhash gate")
  }

  test("ext_ingest_gate_e2e query: every gate fires; byte-copies all cut first") {
    import spark.implicits._
    val rows = SparkEntry.queries("ext_ingest_gate_e2e")(spark, sf0001)
      .as[(Long, String)].collect()
    val nPerClass = rows.length / 4
    assert(nPerClass > 0 && rows.length == 4 * nPerClass,
      "one decision row per batch doc, four classes")
    assert(rows.filter(_._1 < 810000).forall(_._2 == "exact"),
      "every byte-copy must be attributed to the exact gate")
    // the other classes' attribution depends on doc length (a <30-token
    // doc's perturbation IS a byte-copy); the long-doc majority must
    // exercise every later gate
    Seq("winnow", "minhash", "accepted").foreach(g =>
      assert(rows.exists(_._2 == g), s"no doc reached gate outcome $g"))
  }

  test("exact index: variant probes, incremental append, erasure") {
    import spark.implicits._
    val ex = "graft_spec_ex"
    dropTable(s"${ex}_fps")
    spark.sql(s"DROP TABLE IF EXISTS ${ex}_fps__compacting")
    // build half, append half — the maintained index must serve both
    IndexStore.buildExactIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", ex, s"$idxPath/$ex")
    IndexStore.appendExactIndex(docs.where(col("doc_id") % 2 =!= 0),
      "doc_id", "text", ex)
    // canonicalization: edge-whitespace + case variants match their
    // source; appended-token controls match nothing
    val batch = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
      .unionByName(docs.select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zctl")).as("text")))
    val before = IndexStore.probeExact(spark, batch, "doc_id", "text", ex)
      .as[(Long, Long)].collect().toSet
    val ids = docs.select("doc_id").as[Long].collect()
    assert(ids.forall(id => before.contains((id + 100000, id))),
      "every normalized variant must match its source doc")
    assert(before.forall(_._1 < 300000), "controls must match nothing")
    // take-down: erased ids never probe again, the rest are untouched
    val erased = ids.sorted.take(10).toSeq
    IndexStore.deleteFrom(spark, "exact", ex, erased.toDF("doc_id"),
      s"$idxPath/$ex")
    val after = IndexStore.probeExact(spark, batch, "doc_id", "text", ex)
      .as[(Long, Long)].collect().toSet
    val eSet = erased.toSet
    assert(after == before.filterNot(p => eSet.contains(p._2)),
      "erasure must drop exactly the erased docs' matches")
  }

  test("exact probe hot-fp cap: representatives only, loudly observed") {
    import spark.implicits._
    val ex = "graft_spec_ex_hot"
    dropTable(s"${ex}_fps")
    val boiler = (0L until 120L)
      .map(i => (i, "the same boilerplate page text"))
      .toDF("doc_id", "text")
    IndexStore.buildExactIndex(boiler, "doc_id", "text", ex,
      s"$idxPath/$ex")
    val probe = Seq((900001L, "  THE same   boilerplate page TEXT "))
      .toDF("doc_id", "text")
    val frame = IndexStore.probeExact(spark, probe, "doc_id", "text", ex,
      hotFpThreshold = 50)
    val m = frame.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // for EXACT duplication any one match is decision-equivalent to all
    // of them — the capped bucket answers with its min/max ids only
    assert(m == Set((900001L, 0L), (900001L, 119L)),
      s"an over-threshold fp bucket must contribute its representatives, got $m")
    val act = IndexStore.capActivity(frame)
    assert(act.exists(a => a.rowsSuppressed == 118 && a.maxBucketN == 120),
      s"the cap must be loudly observed: $act")
  }

  test("embedding multi-gate ingest: exact cuts byte-copies, SRP cuts cosine dups") {
    import spark.implicits._
    val (ex, sr) = ("graft_spec_gv_x", "graft_spec_gv_s")
    Seq(s"${ex}_fps", s"${sr}_bands", s"${sr}_vecs").foreach(dropTable)
    IndexStore.buildExactVecIndex(corpusVecs, "vec_id", "vec", ex,
      s"$idxPath/$ex")
    IndexStore.buildSrpIndex(corpusVecs, sr, s"$idxPath/$sr")
    val every10 = corpusVecs.where(col("vec_id") % 10 === 0)
    // byte-copies cut at the exact gate; ×2-scaled copies are
    // byte-distinct but keep EVERY hyperplane sign (positive scaling),
    // so the SRP gate finds them deterministically at cosine 1.0;
    // alternating sign-flips are near-orthogonal to their source and
    // survive both gates
    val batch = every10
      .select((col("vec_id") + 1000).as("vec_id"), col("vec"))
      .unionByName(every10.select((col("vec_id") + 2000).as("vec_id"),
        transform(col("vec"), v => v * 2.0d).as("vec")))
      .unionByName(every10.select((col("vec_id") + 3000).as("vec_id"),
        transform(col("vec"), (v, i) =>
          when(i % 2 === 0, -v).otherwise(v)).as("vec")))
    val (acc, dec) = IndexStore.dedupIngestGateVec(spark, batch, ex, sr)
    val ids = every10.select("vec_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    val byGate = dec.as[(Long, String)].collect().groupBy(_._2)
      .view.mapValues(_.map(_._1).toSet).toMap
    assert(byGate("exact") == ids.map(_ + 1000),
      "byte-copies must cut at the exact gate")
    assert(byGate("srp") == ids.map(_ + 2000),
      "scaled (cosine-1.0, byte-distinct) copies must cut at the SRP gate")
    assert(acc.select("vec_id").as[Long].collect().toSet ==
      ids.map(_ + 3000), "sign-flipped vectors must survive both gates")
    // a vector rejected at ANY gate is indexed NOWHERE
    val n = corpusVecs.count() + ids.size
    assert(spark.table(s"${ex}_fps").count() == n,
      "exact-vec index must hold corpus + accepted only")
    assert(spark.table(s"${sr}_vecs").count() == n,
      "SRP vector table must not contain exact-gate rejects")
    // consecutive batches: byte-copies of batch-1 survivors cut FIRST
    val (acc2, dec2) = IndexStore.dedupIngestGateVec(spark,
      acc.select((col("vec_id") + 10000).as("vec_id"), col("vec")),
      ex, sr)
    assert(acc2.isEmpty,
      "every batch-2 vector byte-dups an accepted batch-1 vector")
    assert(dec2.as[(Long, String)].collect().forall(_._2 == "exact"),
      "byte-copies of survivors must be attributed to the exact gate")
  }

  test("three-gate vec ingest: IVF slot fires in order and catches what SRP is blind to") {
    import spark.implicits._
    val (ex, sr, iv) = ("graft_spec_g3_x", "graft_spec_g3_s", "graft_spec_g3_i")
    def rebuild(): Unit = {
      Seq(s"${ex}_fps", s"${sr}_bands", s"${sr}_vecs", s"${iv}_lists",
        s"${iv}_centroids").foreach(dropTable)
      IndexStore.buildExactVecIndex(corpusVecs, "vec_id", "vec", ex,
        s"$idxPath/$ex")
      IndexStore.buildSrpIndex(corpusVecs, sr, s"$idxPath/$sr")
      IndexStore.buildIvfIndex(corpusVecs, ivfCentroids, iv,
        s"$idxPath/$iv")
    }
    val every10 = corpusVecs.where(col("vec_id") % 10 === 0)
    val ids = every10.select("vec_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    val batch = every10
      .select((col("vec_id") + 1000).as("vec_id"), col("vec"))
      .unionByName(every10.select((col("vec_id") + 2000).as("vec_id"),
        transform(col("vec"), v => v * 2.0d).as("vec")))
      .unionByName(every10.select((col("vec_id") + 3000).as("vec_id"),
        transform(col("vec"), (v, i) =>
          when(i % 2 === 0, -v).otherwise(v)).as("vec")))
    def gates(dec: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] =
      dec.as[(Long, String)].collect().groupBy(_._2)
        .view.mapValues(_.map(_._1).toSet).toMap

    // all three gates live: FIRST-gate attribution — the cosine-1.0
    // copies are SRP's (positive scaling keeps every hyperplane sign);
    // the IVF gate, though it would also catch them, must cut nothing
    rebuild()
    val (acc, dec) = IndexStore.dedupIngestGateVec(spark, batch, ex, sr,
      ivfTable = Some(iv))
    val g = gates(dec)
    assert(g("exact") == ids.map(_ + 1000), "byte-copies cut at exact")
    assert(g("srp") == ids.map(_ + 2000), "scaled copies are SRP's cut")
    assert(g.getOrElse("ivf", Set.empty).isEmpty,
      "IVF is LAST — it must never claim a cut an earlier gate made")
    assert(acc.select("vec_id").as[Long].collect().toSet ==
      ids.map(_ + 3000), "sign-flips survive all three gates")
    // survivors — and only they — were assigned and appended to the lists
    assert(spark.table(s"${iv}_lists").count() ==
      corpusVecs.count() + ids.size,
      "IVF lists must hold corpus + accepted only")

    // SRP muted (threshold > any cosine): the scaled copies fall
    // through to the IVF gate, which catches them DETERMINISTICALLY —
    // cosine is scale-invariant, so a positive-scaled copy ranks the
    // centroids identically to its source and always probes the
    // source's own inverted list first
    rebuild()
    val (acc2, dec2) = IndexStore.dedupIngestGateVec(spark, batch, ex,
      sr, threshold = 1.01, ivfTable = Some(iv))
    val g2 = gates(dec2)
    assert(g2("exact") == ids.map(_ + 1000))
    assert(g2.getOrElse("srp", Set.empty).isEmpty, "muted SRP cuts nothing")
    assert(g2("ivf") == ids.map(_ + 2000),
      "with SRP muted the IVF gate must cut every cosine-1.0 copy")
    assert(acc2.select("vec_id").as[Long].collect().toSet ==
      ids.map(_ + 3000))

    // consecutive-batch stability: byte-copies of accepted survivors
    // cut at the FIRST gate on the next batch — nothing reaches IVF
    val (acc3, dec3) = IndexStore.dedupIngestGateVec(spark,
      acc2.select((col("vec_id") + 10000).as("vec_id"), col("vec")),
      ex, sr, threshold = 1.01, ivfTable = Some(iv))
    assert(acc3.isEmpty,
      "every batch-2 vector byte-dups an accepted batch-1 vector")
    assert(dec3.as[(Long, String)].collect().forall(_._2 == "exact"),
      "copies of survivors are attributed to the exact gate")
  }

  test("take-down propagates through the composed gate: a deleted doc stops gating everywhere") {
    import spark.implicits._
    val (gx, gw, gm) = ("graft_spec_td_x", "graft_spec_td_w", "graft_spec_td_m")
    Seq(s"${gx}_fps", s"${gw}_wins", s"${gm}_bands", s"${gm}_shingles")
      .foreach(dropTable)
    val corpus = docs.where(col("doc_id") < 200)
    IndexStore.buildExactIndex(corpus, "doc_id", "text", gx, s"$idxPath/$gx")
    IndexStore.buildWinnowIndex(corpus, "doc_id", "text", gw, s"$idxPath/$gw")
    IndexStore.buildMinhashIndex(corpus, "doc_id", "text", gm, s"$idxPath/$gm")
    // pick two long docs (≥ 29 tokens, so the winnow gate is live for
    // them) — A gets taken down, B stays
    val long2 = corpus
      .where(size(split(trim(lower(col("text"))), "\\s+")) >= 40)
      .orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    assert(long2.length == 2, "fixture needs two ≥40-token docs")
    val (a, b) = (long2(0), long2(1))
    def copyOf(id: Long, off: Long, tail: String = "") = corpus
      .where(col("doc_id") === id)
      .select(lit(id + off).as("doc_id"),
        concat(col("text"), lit(tail)).as("text"))
    // pre-deletion: copies and tail-extensions of BOTH docs are cut
    val (accPre, _) = IndexStore.dedupIngestGate(spark,
      copyOf(a, 1000000).unionByName(copyOf(b, 2000000)),
      "doc_id", "text", gx, gw, gm)
    assert(accPre.isEmpty, "both byte-copies must be cut pre-deletion")
    // take down A everywhere in one call (and the copies the pre-batch
    // did NOT append — it accepted nothing, so the index holds corpus only)
    IndexStore.deleteFromGateIndexes(spark,
      Seq(a).toDF("doc_id"), "doc_id", gx, gw, gm, s"$idxPath/td")
    // post-deletion: A's byte-copy is novel at every gate (exact fp
    // gone, winnow fps gone, shingle signature gone); B still gates.
    // A's copy and tail-class live in SEPARATE batches — in one batch
    // the accepted copy would legitimately winnow-cut the tail batch-
    // internally and mask what the deletion is being tested for.
    val (accA, decA) = IndexStore.dedupIngestGate(spark,
      copyOf(a, 3000000).unionByName(copyOf(b, 4000000)),
      "doc_id", "text", gx, gw, gm)
    assert(accA.select("doc_id").as[Long].collect().toSet == Set(a + 3000000),
      "a taken-down doc must stop gating byte-copies")
    assert(decA.as[(Long, String)].collect().toSet == Set((b + 4000000, "exact")),
      "an un-deleted doc must keep gating")
    // the accepted copy of A re-entered the index — the SAME content
    // re-submitted later is once again cut, at the exact gate
    val (accRe, decRe) = IndexStore.dedupIngestGate(spark,
      copyOf(a, 5000000), "doc_id", "text", gx, gw, gm)
    assert(accRe.isEmpty && decRe.as[(Long, String)].collect()
      .forall(_._2 == "exact"),
      "re-accepted content gates again immediately")
  }

  test("take-down propagates through the vec gate incl. the IVF slot") {
    import spark.implicits._
    val (ex, sr, iv) = ("graft_spec_tdv_x", "graft_spec_tdv_s", "graft_spec_tdv_i")
    Seq(s"${ex}_fps", s"${sr}_bands", s"${sr}_vecs", s"${iv}_lists",
      s"${iv}_centroids").foreach(dropTable)
    IndexStore.buildExactVecIndex(corpusVecs, "vec_id", "vec", ex,
      s"$idxPath/$ex")
    IndexStore.buildSrpIndex(corpusVecs, sr, s"$idxPath/$sr")
    IndexStore.buildIvfIndex(corpusVecs, ivfCentroids, iv, s"$idxPath/$iv")
    val (va, vb) = (0L, 10L)
    def scaledOf(id: Long, off: Long) = corpusVecs
      .where(col("vec_id") === id)
      .select(lit(id + off).as("vec_id"),
        transform(col("vec"), v => v * 2.0d).as("vec"))
    IndexStore.deleteFromGateVecIndexes(spark, Seq(va).toDF("vec_id"),
      ex, sr, s"$idxPath/tdv", ivfTable = Some(iv))
    // A's scaled copy passes exact (byte-distinct), SRP (bands gone),
    // AND IVF (list rows gone); B's scaled copy still cuts at SRP
    val (acc, dec) = IndexStore.dedupIngestGateVec(spark,
      scaledOf(va, 1000000).unionByName(scaledOf(vb, 2000000)),
      ex, sr, ivfTable = Some(iv))
    assert(acc.select("vec_id").as[Long].collect().toSet == Set(va + 1000000),
      "a taken-down vector must stop gating its cosine-1.0 copies")
    assert(dec.as[(Long, String)].collect().toSet ==
      Set((vb + 2000000, "srp")))
  }

  test("quantized IVF near-dup probe: guard band keeps every true pair, parity with fp lists") {
    import spark.implicits._
    val (fq, ff) = ("graft_spec_ivfnq", "graft_spec_ivfnf")
    Seq(s"${fq}_lists", s"${fq}_centroids", s"${ff}_lists",
      s"${ff}_centroids").foreach(dropTable)
    IndexStore.buildIvfIndexQuantized(corpusVecs, ivfCentroids, fq,
      s"$idxPath/$fq")
    IndexStore.buildIvfIndex(corpusVecs, ivfCentroids, ff, s"$idxPath/$ff")
    val every10 = corpusVecs.where(col("vec_id") % 10 === 0)
    // scaled copies sit AT cosine 1.0; the guard band exists for pairs
    // near the threshold, where int8 grid error (measured ~1e-4 on this
    // corpus) could otherwise flip the comparison
    val probes = every10
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("vec"), x => x * 2.0d).as("vec"))
    val quant = IndexStore.probeIvfNearDupQuantized(spark, probes, fq)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val fp = IndexStore.probeIvfNearDup(spark, probes, ff)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val ids = every10.select("vec_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    // every planted pair present in BOTH servings
    ids.foreach { id =>
      assert(quant((id + 5000, id)), s"quantized probe lost copy of $id")
      assert(fp((id + 5000, id)), s"fp probe lost copy of $id")
    }
    // the guard band only ADDS boundary pairs — it never loses one the
    // fp probe found (list membership is identical: assignment runs
    // before quantization)
    assert(fp.subsetOf(quant),
      s"quantized probe lost fp pairs: ${(fp -- quant).take(3)}")
    // serving-shape mismatch fails loudly, not mid-plan on a missing
    // column: the quantized probe refuses an fp index
    val e = intercept[IllegalArgumentException] {
      IndexStore.probeIvfNearDupQuantized(spark, probes, ff)
    }
    assert(e.getMessage.contains("quantized"))
    // and the fp probe refuses the quantized index symmetrically
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.probeIvfNearDup(spark, probes, fq)
    }
    assert(e2.getMessage.contains("quantized"))
  }

  test("quantized SRP near-dup probe: fp parity under the guard band, serving shapes refuse each other") {
    import spark.implicits._
    val (sq, sf) = ("graft_spec_srpnq", "graft_spec_srpnf")
    Seq(s"${sq}_bands", s"${sq}_vecs", s"${sf}_bands", s"${sf}_vecs")
      .foreach(dropTable)
    IndexStore.buildSrpIndexQuantized(corpusVecs, sq, s"$idxPath/$sq")
    IndexStore.buildSrpIndex(corpusVecs, sf, s"$idxPath/$sf")
    val probes = corpusVecs.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("vec"), x => x * 2.0d).as("vec"))
    val quant = IndexStore.probeSrpNearDupQuantized(spark, probes, sq)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val fp = IndexStore.probeSrpNearDup(spark, probes, sf)
      .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val ids = corpusVecs.where(col("vec_id") % 10 === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    // candidates are identical (same band table layout, bands from fp
    // queries), so under the guard band the quantized serving can only
    // ADD boundary pairs relative to fp
    ids.foreach(id => assert(quant((id + 5000, id)),
      s"quantized SRP probe lost copy of $id"))
    assert(fp.subsetOf(quant),
      s"quantized probe lost fp pairs: ${(fp -- quant).take(3)}")
    val e = intercept[IllegalArgumentException] {
      IndexStore.probeSrpNearDupQuantized(spark, probes, sf)
    }
    assert(e.getMessage.contains("quantized"))
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.probeSrpNearDup(spark, probes, sq)
    }
    assert(e2.getMessage.contains("quantized"))
  }

  test("quantized indexes share the erasure/compaction lifecycle and keep their serving marker") {
    import spark.implicits._
    val (sq, iq) = ("graft_spec_lcsq", "graft_spec_lciq")
    Seq(s"${sq}_bands", s"${sq}_vecs", s"${iq}_lists", s"${iq}_centroids")
      .foreach(dropTable)
    IndexStore.buildSrpIndexQuantized(corpusVecs, sq, s"$idxPath/$sq")
    IndexStore.buildIvfIndexQuantized(corpusVecs, ivfCentroids, iq,
      s"$idxPath/$iq")
    val (va, vb) = (0L, 10L)
    def scaledOf(id: Long, off: Long) = corpusVecs
      .where(col("vec_id") === id)
      .select(lit(id + off).as("vec_id"),
        transform(col("vec"), x => x * 2.0d).as("vec"))
    val probes = scaledOf(va, 5000).unionByName(scaledOf(vb, 6000))
    // erasure: the same bucket-preserving rewrite as the fp kinds,
    // over the codes schema
    IndexStore.deleteFrom(spark, "srp", sq, Seq(va).toDF("vec_id"),
      s"$idxPath/lc_sq_d")
    IndexStore.deleteFrom(spark, "ivf", iq, Seq(va).toDF("vec_id"),
      s"$idxPath/lc_iq_d")
    def matchedPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val sqAfter = matchedPairs(
      IndexStore.probeSrpNearDupQuantized(spark, probes, sq))
    val iqAfter = matchedPairs(
      IndexStore.probeIvfNearDupQuantized(spark, probes, iq))
    Seq(("srp", sqAfter), ("ivf", iqAfter)).foreach { case (kind, got) =>
      assert(!got.exists(_._2 == va), s"$kind: deleted vec still matches")
      assert(got((vb + 6000, vb)), s"$kind: undeleted vec must keep matching")
    }
    // compaction: probe results unchanged
    IndexStore.compact(spark, "srp", sq, s"$idxPath/lc_sq_c")
    IndexStore.compact(spark, "ivf", iq, s"$idxPath/lc_iq_c")
    assert(matchedPairs(
      IndexStore.probeSrpNearDupQuantized(spark, probes, sq)) == sqAfter)
    assert(matchedPairs(
      IndexStore.probeIvfNearDupQuantized(spark, probes, iq)) == iqAfter)
    // the rewrites carried the serving marker: the fp probes still
    // REFUSE these tables — if the rewrite had dropped the properties,
    // this would silently degrade to a mid-plan missing-column error
    // (or worse, tolerated validation)
    assert(intercept[IllegalArgumentException] {
      IndexStore.probeSrpNearDup(spark, probes, sq)
    }.getMessage.contains("quantized"))
    assert(intercept[IllegalArgumentException] {
      IndexStore.probeIvfNearDup(spark, probes, iq)
    }.getMessage.contains("quantized"))
  }

  test("autoCompact refuses an unknown index kind up front") {
    val e = intercept[IllegalArgumentException] {
      IndexStore.autoCompact(spark, "bloom", "graft_spec_nope")
    }
    assert(e.getMessage.contains("unknown index kind"),
      s"misdispatch must fail with the kind list, got: ${e.getMessage}")
  }

  test("ingest auto-compaction: counter-driven, probes stay green, counter resets") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    def locOf(t: String): String = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(t)).location.toString
    val tbl = "graft_spec_autoc"
    dropTable(s"${tbl}_wins")
    def novelDoc(tag: String): DataFrame =
      Seq((tag.hashCode.toLong.abs, (1 to 60).map(i => s"$tag$i")
        .mkString(" "))).toDF("doc_id", "text")
    IndexStore.buildWinnowIndex(novelDoc("aca"), "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    val loc0 = locOf(s"${tbl}_wins")
    // append 1 of 2: below threshold — no compaction, counter visible
    IndexStore.dedupIngestWinnow(spark, novelDoc("acb"), "doc_id",
      "text", tbl, autoCompactAppends = 2)
    assert(IndexStore.appendsSinceCompact(spark, s"${tbl}_wins") == 1)
    assert(locOf(s"${tbl}_wins") == loc0, "no compaction below threshold")
    // append 2 of 2: threshold reached — compaction swaps the location
    // and implicitly resets the counter (rewrites carry only params)
    IndexStore.dedupIngestWinnow(spark, novelDoc("acc"), "doc_id",
      "text", tbl, autoCompactAppends = 2)
    assert(IndexStore.appendsSinceCompact(spark, s"${tbl}_wins") == 0,
      "compaction must reset the append counter")
    val loc1 = locOf(s"${tbl}_wins")
    assert(loc1 != loc0, "threshold reached — the table must be compacted")
    // probes keep working across the swap: a verbatim copy of a
    // pre-compaction doc still rejects, and the loop keeps running
    val copy = novelDoc("acb")
      .select((col("doc_id") + 7).as("doc_id"), col("text"))
    val (accAfter, _) = IndexStore.dedupIngestWinnow(spark, copy,
      "doc_id", "text", tbl, autoCompactAppends = 2)
    assert(accAfter.isEmpty,
      "a verbatim copy of an indexed doc must reject after compaction")
    assert(IndexStore.appendsSinceCompact(spark, s"${tbl}_wins") == 1,
      "the post-compaction append must count from zero")
    // a second compaction cycle lands as a SIBLING auto_g dir, not
    // nested inside the first compaction's directory
    IndexStore.dedupIngestWinnow(spark, novelDoc("acd"), "doc_id",
      "text", tbl, autoCompactAppends = 2)
    val loc2 = locOf(s"${tbl}_wins")
    assert(loc2 != loc1 && !loc2.contains(loc1.stripPrefix("file:")),
      s"repeated auto-compactions must not nest: $loc2 inside $loc1")
  }

  test("winnow index: span and boilerplate consumers equal the inline pipelines") {
    ensureWinnowIndex()
    val spans = IndexStore.repeatedWindowSpansFromIndex(spark, winTbl)
    val inlineSpans = Dedup.repeatedWindowSpans(winCorpus, "doc_id", "text")
    assert(spans.count() > 0, "planted verbatim repeats must surface")
    assertSameRows(spans, inlineSpans,
      "index-fed spans must equal the inline md5+winnow pipeline")
    val boiler = IndexStore.boilerplateDocsFromIndex(spark, winTbl)
    val inlineBoiler = Dedup.boilerplateDocs(winCorpus, "doc_id", "text")
    assert(boiler.count() > 0)
    assertSameRows(boiler, inlineBoiler,
      "index-fed drop-list must equal the inline form")
  }

  test("appendWinnowIndex: consumers see both halves, equal to a one-shot build") {
    val inc = "graft_spec_win_inc"
    dropTable(s"${inc}_wins")
    IndexStore.buildWinnowIndex(winCorpus.where(col("doc_id") % 2 === 0),
      "doc_id", "text", inc, s"$idxPath/$inc")
    IndexStore.appendWinnowIndex(winCorpus.where(col("doc_id") % 2 =!= 0),
      "doc_id", "text", inc)
    ensureWinnowIndex()
    assertSameRows(
      IndexStore.repeatedWindowSpansFromIndex(spark, inc),
      IndexStore.repeatedWindowSpansFromIndex(spark, winTbl),
      "incrementally-built winnow index must equal the one-shot build")
    // mismatched winnow geometry must fail loud, not select
    // incompatible fingerprints that silently never match
    intercept[IllegalArgumentException] {
      IndexStore.appendWinnowIndex(winCorpus, "doc_id", "text", inc,
        window = 10)
    }
    intercept[IllegalArgumentException] {
      IndexStore.probeWinnow(spark, winCorpus, "doc_id", "text", inc,
        guarantee = 5)
    }
  }

  test("probeWinnow: verbatim overlap with indexed docs is detected") {
    import spark.implicits._
    val tbl = "graft_spec_win_probe"
    dropTable(s"${tbl}_wins")
    IndexStore.buildWinnowIndex(docs, "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    // probes append two tokens, so each shares its full original text
    // verbatim — every probe of a ≥29-token original (window+guarantee-1)
    // must match it by the winnowing guarantee
    val matches = IndexStore.probeWinnow(spark, probes, "doc_id", "text",
      tbl)
    val got = matches.select("query_id", "match_id")
      .as[(Long, Long)].collect().toSet
    val expected = docs
      .where(col("doc_id") % 5 === 0 &&
        size(split(trim(lower(col("text"))), "\\s+")) >= 29)
      .select("doc_id").as[Long].collect()
      .map(id => (id + 100000, id)).toSet
    assert(expected.nonEmpty)
    val missed = expected -- got
    assert(missed.isEmpty,
      s"winnowing guarantees these overlaps are detected: $missed")
  }

  test("winnow index erasure + compaction keep consumers consistent") {
    val tbl = "graft_spec_win_del"
    dropTable(s"${tbl}_wins")
    IndexStore.buildWinnowIndex(winCorpus, "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    // erase the planted copies: the surviving spans must equal an index
    // that never contained them
    IndexStore.deleteFrom(spark, "winnow", tbl,
      winCorpus.where(col("doc_id") >= 100000).select("doc_id"),
      s"$idxPath/$tbl")
    val expect = Dedup.repeatedWindowSpans(docs, "doc_id", "text")
    assertSameRows(IndexStore.repeatedWindowSpansFromIndex(spark, tbl),
      expect, "erased docs must stop contributing spans and doc counts")
    IndexStore.compact(spark, "winnow", tbl, s"$idxPath/$tbl")
    assertSameRows(IndexStore.repeatedWindowSpansFromIndex(spark, tbl),
      expect, "compaction must not change consumer results")
    assert(IndexStore.vacuum(spark, "winnow", tbl).nonEmpty,
      "the swaps above retired directories to reclaim")
  }

  test("dedupIngest results are pinned to the pre-append index state") {
    import spark.implicits._
    val tbl = "graft_spec_mh_pin"
    Seq(s"${tbl}_bands", s"${tbl}_shingles").foreach(dropTable)
    IndexStore.buildMinhashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", tbl, s"$idxPath/$tbl")
    val novel = (1 to 40).map(i => s"pinnovel$i").mkString(" ")
    val batch = Seq((920001L, novel)).toDF("doc_id", "text")
    val (accepted, matches) =
      IndexStore.dedupIngestMinhash(spark, batch, "doc_id", "text", tbl)
    assert(accepted.select("doc_id").as[Long].collect().toSet == Set(920001L))
    assert(matches.isEmpty)
    // Grow the index with a near-copy of the accepted doc. A LAZY
    // accepted frame would re-probe the grown index here, see the copy,
    // and flip to empty — i.e. report as rejected a doc that WAS
    // appended. The returned frames must replay the decision that was
    // actually acted on.
    IndexStore.appendMinhashIndex(
      Seq((920002L, novel + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    assert(accepted.select("doc_id").as[Long].collect().toSet == Set(920001L),
      "accepted must replay the pre-append decision, not re-probe")
    assert(matches.isEmpty, "matches must replay the pre-append evidence")
  }

  test("dedupIngest SimHash instance: same loop through the chunk table") {
    import spark.implicits._
    val tbl = "graft_spec_sh_ingest"
    dropTable(s"${tbl}_chunks")
    IndexStore.buildSimhashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", tbl, s"$idxPath/$tbl")
    val indexedText = docs.where(col("doc_id") === 0)
      .select("text").as[String].head()
    val novel = (1 to 40).map(i => s"shnovel$i").mkString(" ")
    // SimHash's Hamming ≤ 3 bar is far tighter than Jaccard 0.8, so the
    // near-dup variants here are token-identical (whitespace changes
    // that tokenization erases → Hamming 0)
    val batch = Seq(
      (910001L, indexedText),           // exact dup of an indexed doc
      (910002L, novel),                 // novel — keeper
      (910003L, "  " + novel))          // batch-internal dup (ws variant)
      .toDF("doc_id", "text")
    val (accepted, matches) =
      IndexStore.dedupIngestSimhash(spark, batch, "doc_id", "text", tbl)
    assert(accepted.select("doc_id").as[Long].collect().toSet == Set(910002L),
      "index dup and inner dup must reject; min id keeps")
    assert(matches.where(col("query_id") === 910001L).count() > 0)
    val next = Seq((910004L, novel + "  ")).toDF("doc_id", "text")
    val (accepted2, _) =
      IndexStore.dedupIngestSimhash(spark, next, "doc_id", "text", tbl)
    assert(accepted2.isEmpty, "a near-copy of an accepted doc must reject")
  }

  test("dedupIngest SRP instance: same loop through the band/vec tables") {
    import spark.implicits._
    val tbl = "graft_spec_srp_ingest"
    Seq(s"${tbl}_bands", s"${tbl}_vecs").foreach(dropTable)
    // index the even half; odd-id vectors are genuinely novel directions
    IndexStore.buildSrpIndex(corpusVecs.where(col("vec_id") % 2 === 0),
      tbl, s"$idxPath/$tbl")
    def scaled(src: Long, newId: Long, f: Double) =
      corpusVecs.where(col("vec_id") === src)
        .select(lit(newId).as("vec_id"),
          transform(col("vec"), x => x * f).as("vec"))
    val batch = scaled(0L, 900001L, 1.001)   // near-copy of indexed 0
      .unionByName(scaled(1L, 900002L, 1.001)) // novel — keeper
      .unionByName(scaled(1L, 900003L, 1.002)) // batch-internal near-dup
      .unionByName(scaled(3L, 900004L, 1.001)) // novel
    val (accepted, matches) = IndexStore.dedupIngestSrp(spark, batch, tbl)
    assert(accepted.select("vec_id").as[Long].collect().toSet ==
      Set(900002L, 900004L),
      "index matches and inner dups must be rejected; min id keeps")
    assert(matches.where(col("query_id") === 900001L &&
      col("match_id") === 0L).count() > 0,
      "the probe evidence must name the index match")
    // stability under growth: the accepted vectors are indexed now, so
    // the NEXT batch's near-copies reject against them
    val next = scaled(1L, 900005L, 1.003)
    val (accepted2, matches2) = IndexStore.dedupIngestSrp(spark, next, tbl)
    assert(accepted2.isEmpty, "a near-copy of an accepted vector must reject")
    assert(matches2.select("match_id").as[Long].collect().contains(900002L))
  }

  test("dedupIngest winnow instance: the exact-substring gate") {
    import spark.implicits._
    val tbl = "graft_spec_win_ingest"
    dropTable(s"${tbl}_wins")
    val block = (1 to 30).map(i => s"wblk$i").mkString(" ")
    val filler = (n: Int, tag: String) =>
      (1 to n).map(i => s"$tag$i").mkString(" ")
    IndexStore.buildWinnowIndex(
      Seq((1L, s"$block ${filler(10, "idxa")}")).toDF("doc_id", "text"),
      "doc_id", "text", tbl, s"$idxPath/$tbl")
    val novelBlock = (1 to 30).map(i => s"wnov$i").mkString(" ")
    val batch = Seq(
      // embeds the INDEXED 30-token block in otherwise-novel text: a
      // whole-doc similarity gate would pass it; the substring gate must not
      (930001L, s"${filler(10, "pa")} $block ${filler(10, "pb")}"),
      // two docs sharing a novel 30-token block: min id keeps
      (930002L, s"$novelBlock ${filler(10, "pc")}"),
      (930003L, s"${filler(10, "pd")} $novelBlock"),
      // fully novel long doc
      (930004L, filler(40, "pe")),
      // sub-window doc: no fingerprints, always passes
      (930005L, "tiny doc"))
      .toDF("doc_id", "text")
    val (accepted, matches) =
      IndexStore.dedupIngestWinnow(spark, batch, "doc_id", "text", tbl)
    assert(accepted.select("doc_id").as[Long].collect().toSet ==
      Set(930002L, 930004L, 930005L),
      "index overlap and batch-internal overlap must reject; min id keeps")
    assert(matches.where(col("query_id") === 930001L &&
      col("match_id") === 1L).count() > 0,
      "the probe evidence must name the indexed doc behind the shared block")
    // growth stability: the accepted block is indexed now
    val next = Seq((930006L, s"${filler(10, "pf")} $novelBlock"))
      .toDF("doc_id", "text")
    val (accepted2, matches2) =
      IndexStore.dedupIngestWinnow(spark, next, "doc_id", "text", tbl)
    assert(accepted2.isEmpty,
      "a doc sharing the accepted doc's block must reject")
    assert(matches2.select("match_id").as[Long].collect().contains(930002L))
  }

  test("index writes route to buckets: one file per bucket per write") {
    // Without write-time routing every writer task emits one file per
    // bucket it holds rows for — (upstream partitions × buckets) tiny
    // files per write, compounding on every streaming append. The
    // routed write must emit exactly nBuckets files on build and at
    // most nBuckets more per append.
    val tbl = "graft_spec_mh_files"
    Seq(s"${tbl}_bands", s"${tbl}_shingles").foreach(dropTable)
    def parquetFiles(t: String): Int =
      Option(new java.io.File(s"$idxPath/$tbl/$t").listFiles())
        .fold(0)(_.count(_.getName.endsWith(".parquet")))
    IndexStore.buildMinhashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", tbl, s"$idxPath/$tbl")
    assert(parquetFiles(s"${tbl}_bands") == 8,
      "build must emit exactly nBuckets band files")
    assert(parquetFiles(s"${tbl}_shingles") == 8,
      "build must emit exactly nBuckets shingle files")
    IndexStore.appendMinhashIndex(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", tbl)
    assert(parquetFiles(s"${tbl}_bands") <= 16,
      "append must add at most nBuckets band files")
    assert(parquetFiles(s"${tbl}_shingles") <= 16,
      "append must add at most nBuckets shingle files")
  }

  test("appendIvfIndex: probes see appended vectors, equal to the inline pipeline") {
    val inc = "graft_spec_ivf_inc"
    Seq(s"${inc}_lists", s"${inc}_centroids").foreach(dropTable)
    IndexStore.buildIvfIndex(corpusVecs.where(col("vec_id") % 2 === 0),
      ivfCentroids, inc, s"$idxPath/$inc")
    IndexStore.appendIvfIndex(spark, corpusVecs.where(col("vec_id") % 2 === 1), inc)
    val queries = corpusVecs.where(col("vec_id") < 10)
    val incremental = IndexStore.probeIvf(spark, queries, inc, k = 5, nprobe = 3)
    val fresh = IvfIndex.topK(corpusVecs, queries, ivfCentroids, k = 5, nprobe = 3)
    assertSameRows(incremental, fresh,
      "incrementally-appended IVF lists must probe like the inline pipeline")
  }

  test("compactTable: one file per bucket, probe parity, bucketed scan survives") {
    val cmp = "graft_spec_mh_cmp"
    Seq(s"${cmp}_bands", s"${cmp}_shingles").foreach(dropTable)
    spark.sql(s"DROP TABLE IF EXISTS ${cmp}_bands__compacting")
    // three appends after the build → four file sets in the band table
    IndexStore.buildMinhashIndex(docs.where(col("doc_id") % 4 === 0),
      "doc_id", "text", cmp, s"$idxPath/$cmp")
    (1 to 3).foreach(r => IndexStore.appendMinhashIndex(
      docs.where(col("doc_id") % 4 === r), "doc_id", "text", cmp))
    val before = IndexStore.probeMinhash(spark, probes, "doc_id", "text", cmp)
      .collect().toSeq

    def bandFiles() = new java.io.File(s"$idxPath/$cmp/c_bands")
      .listFiles((_, n) => n.startsWith("part-"))
    val preCount = new java.io.File(s"$idxPath/$cmp/${cmp}_bands")
      .listFiles((_, n) => n.startsWith("part-")).length
    IndexStore.compactTable(spark, s"${cmp}_bands", "band_key",
      s"$idxPath/$cmp/c_bands")
    assert(preCount > 8, s"appends should have accumulated files, saw $preCount")
    assert(bandFiles().length == 8, "compaction must leave one file per bucket")

    val after = IndexStore.probeMinhash(spark, probes, "doc_id", "text", cmp)
    assert(after.collect().toSeq.sortBy(_.toString) ==
      before.sortBy(_.toString), "compaction must not change probe results")
    // the compacted table still joins in place (bucketed scan retained)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try assertIndexSideInPlace(
      IndexStore.probeMinhash(spark, probes, "doc_id", "text", cmp),
      s"$idxPath/$cmp/c_bands")
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("a torn swap fails loud, recovers explicitly, and a same-path retry is safe") {
    val heal = "graft_spec_mh_heal"
    Seq(s"${heal}_bands", s"${heal}_shingles").foreach(dropTable)
    spark.sql(s"DROP TABLE IF EXISTS ${heal}_bands__compacting")
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", heal, s"$idxPath/$heal")
    val before = IndexStore.probeMinhash(spark, probes, "doc_id", "text", heal)
      .collect().toSet
    // simulate the crash window: the compacted table exists under the
    // temp name, the real name was dropped, the rename never ran
    spark.sql(s"ALTER TABLE ${heal}_bands RENAME TO ${heal}_bands__compacting")
    assert(!spark.catalog.tableExists(s"${heal}_bands"))
    // maintenance refuses to guess (an orphaned tmp could also be stale
    // leftovers next to a deliberately-dropped table)…
    val e = intercept[IllegalStateException] {
      IndexStore.compactTable(spark, s"${heal}_bands", "band_key",
        s"$idxPath/$heal/heal_bands")
    }
    assert(e.getMessage.contains("recoverTornSwap"))
    // …the operator recovers explicitly, and the retry may even reuse
    // the CURRENT location — the rewrite must land elsewhere rather
    // than overwrite the directory it reads
    assert(IndexStore.recoverTornSwap(spark, s"${heal}_bands"))
    assert(!IndexStore.recoverTornSwap(spark, s"${heal}_bands"), "idempotent")
    val currentLoc = s"$idxPath/$heal/${heal}_bands"
    IndexStore.compactTable(spark, s"${heal}_bands", "band_key", currentLoc)
    assert(spark.catalog.tableExists(s"${heal}_bands"))
    val after = IndexStore.probeMinhash(spark, probes, "doc_id", "text", heal)
      .collect().toSet
    assert(after == before, "recovered + compacted index must probe identically")
  }

  test("deleteFromMinhashIndex: erased docs stop matching; the rest are untouched") {
    import spark.implicits._
    val del = "graft_spec_mh_del"
    Seq(s"${del}_bands", s"${del}_shingles").foreach(dropTable)
    Seq(s"${del}_bands__compacting", s"${del}_shingles__compacting")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", del, s"$idxPath/$del")
    val before = IndexStore.probeMinhash(spark, probes, "doc_id", "text", del)
      .collect().toSeq
    assert(before.nonEmpty)
    // erase half the matched corpus docs
    val erased = before.map(_.getLong(1)).distinct.sorted.take(before.size / 2)
    IndexStore.deleteFrom(spark, "minhash", del,
      erased.toDF("doc_id"), s"$idxPath/$del")
    val after = IndexStore.probeMinhash(spark, probes, "doc_id", "text", del)
      .collect().toSeq
    val erasedSet = erased.toSet
    assert(after.forall(r => !erasedSet.contains(r.getLong(1))),
      "erased docs must never surface from a probe again")
    assert(after.toSet == before.filterNot(r => erasedSet.contains(r.getLong(1))).toSet,
      "unerased matches must be untouched")
  }

  test("SimHash index: probe parity, incremental append, erasure") {
    import spark.implicits._
    val sh = "graft_spec_sh"
    dropTable(s"${sh}_chunks")
    spark.sql(s"DROP TABLE IF EXISTS ${sh}_chunks__compacting")
    // build half, append half — the maintained index must equal the
    // fresh inline pipeline over the whole corpus
    IndexStore.buildSimhashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", sh, s"$idxPath/$sh")
    IndexStore.appendSimhashIndex(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", sh)
    val probed = IndexStore.probeSimhash(spark, probes, "doc_id", "text", sh)
    val fresh = Dedup.simhashNearDupPairs(docs.unionByName(probes),
        "doc_id", "text")
      .where(col("id_b") >= 100000 && col("id_a") < 100000)
      .select(col("id_b").as("query_id"), col("id_a").as("match_id"),
        col("hamming"))
    assert(probed.count() > 0, "planted perturbed docs must match")
    assertSameRows(probed, fresh,
      "persisted SimHash probe must equal the fresh pipeline")
    // erasure: matched docs stop matching, everything else untouched
    val before = probed.collect().toSeq
    val erased = before.map(_.getLong(1)).distinct.sorted.take(before.size / 2)
    IndexStore.deleteFrom(spark, "simhash", sh, erased.toDF("doc_id"),
      s"$idxPath/$sh")
    val after = IndexStore.probeSimhash(spark, probes, "doc_id", "text", sh)
      .collect().toSeq
    val erasedSet = erased.toSet
    assert(after.forall(r => !erasedSet.contains(r.getLong(1))))
    assert(after.toSet ==
      before.filterNot(r => erasedSet.contains(r.getLong(1))).toSet)
    // compaction: results unchanged, then vacuum reclaims the two
    // retired generations (the erasure's and the compaction's)
    IndexStore.compact(spark, "simhash", sh, s"$idxPath/$sh")
    val compacted = IndexStore.probeSimhash(spark, probes, "doc_id", "text", sh)
      .collect().toSeq
    assert(compacted.toSet == after.toSet,
      "compaction must not change probe results")
    assert(IndexStore.vacuum(spark, "simhash", sh).size == 2)
    assert(IndexStore.probeSimhash(spark, probes, "doc_id", "text", sh)
      .count() == after.size, "probes keep working after vacuum")
  }

  test("SimHash probe joins move only the probe side") {
    val sh = "graft_spec_sh_inplace"
    dropTable(s"${sh}_chunks")
    IndexStore.buildSimhashIndex(docs, "doc_id", "text", sh, s"$idxPath/$sh")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try assertIndexSideInPlace(
      IndexStore.probeSimhash(spark, probes, "doc_id", "text", sh),
      s"$idxPath/$sh/${sh}_chunks")
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("deleteFromIvfIndex: erased vectors never surface; parity with a fresh build") {
    import spark.implicits._
    val del = "graft_spec_ivf_del"
    Seq(s"${del}_lists", s"${del}_centroids").foreach(dropTable)
    spark.sql(s"DROP TABLE IF EXISTS ${del}_lists__compacting")
    IndexStore.buildIvfIndex(corpusVecs, ivfCentroids, del, s"$idxPath/$del")
    val queries = corpusVecs.where(col("vec_id") < 10)
    val erased = (10L until 40L).toDF("vec_id")
    IndexStore.deleteFrom(spark, "ivf", del, erased, s"$idxPath/$del")

    val after = IndexStore.probeIvf(spark, queries, del, k = 5, nprobe = 3)
    val erasedSet = (10L until 40L).toSet
    assert(after.collect().forall(r => !erasedSet.contains(
      r.getAs[Long]("neighbor_id"))),
      "a taken-down vector must never come back as a neighbor")
    // parity: the erased index must answer exactly like an index that
    // never contained those vectors (same persisted centroids — IVF
    // erasure does not retrain the coarse quantizer)
    val fresh = IvfIndex.topK(
      corpusVecs.where(!col("vec_id").isInCollection(erasedSet)),
      queries, ivfCentroids, k = 5, nprobe = 3)
    assertSameRows(after, fresh,
      "post-erasure probe must equal a fresh pipeline on the remaining corpus")
  }

  test("compactIvfIndex: one file per bucket, probe parity") {
    val cmp = "graft_spec_ivf_cmp"
    Seq(s"${cmp}_lists", s"${cmp}_centroids").foreach(dropTable)
    spark.sql(s"DROP TABLE IF EXISTS ${cmp}_lists__compacting")
    IndexStore.buildIvfIndex(corpusVecs.where(col("vec_id") % 3 === 0),
      ivfCentroids, cmp, s"$idxPath/$cmp")
    (1 to 2).foreach(r => IndexStore.appendIvfIndex(spark,
      corpusVecs.where(col("vec_id") % 3 === r), cmp))
    val queries = corpusVecs.where(col("vec_id") < 10)
    val before = IndexStore.probeIvf(spark, queries, cmp, k = 5, nprobe = 3)
      .collect().toSeq
    val preCount = new java.io.File(s"$idxPath/$cmp/${cmp}_lists")
      .listFiles((_, n) => n.startsWith("part-")).length
    IndexStore.compact(spark, "ivf", cmp, s"$idxPath/$cmp")
    assert(preCount > 8, s"appends should have accumulated files, saw $preCount")
    // k=8 cluster ids hash into ≤8 buckets (several share a bucket, some
    // buckets are empty and write no file) — so: at most one file per
    // bucket, and strictly fewer files than the appends left behind
    val postCount = new java.io.File(s"$idxPath/$cmp/${cmp}_lists_c")
      .listFiles((_, n) => n.startsWith("part-")).length
    assert(postCount <= 8 && postCount < preCount,
      s"compaction must leave at most one file per bucket, saw $postCount")
    val after = IndexStore.probeIvf(spark, queries, cmp, k = 5, nprobe = 3)
      .collect().toSeq
    assert(after.sortBy(_.toString) == before.sortBy(_.toString),
      "compaction must not change probe results")
  }

  test("quantized IVF probe: recall@10 ≥ 0.9 vs fp probe, lists join in place") {
    val q = "graft_spec_ivfq"
    Seq(s"${q}_lists", s"${q}_centroids").foreach(dropTable)
    IndexStore.buildIvfIndexQuantized(corpusVecs, ivfCentroids, q,
      s"$idxPath/$q")
    ensureIvfIndex()
    // the stored lists really are int8-narrow
    val codesType = spark.table(s"${q}_lists").schema("codes").dataType
    assert(codesType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, true),
      s"codes must persist as array<tinyint>, got $codesType")
    val queries = corpusVecs.where(col("vec_id") < 20)
    val fp = IndexStore.probeIvf(spark, queries, ivfTbl, k = 10, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val qz = IndexStore.probeIvfQuantized(spark, queries, q, k = 10, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val recall = (fp & qz).size.toDouble / fp.size
    assert(recall >= 0.9, s"quantized recall@10 too low: $recall")
    // the probed quantized lists still join with zero index-side movement
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try assertIndexSideInPlace(
      IndexStore.probeIvfQuantized(spark, queries, q, k = 10, nprobe = 3),
      s"$idxPath/$q/${q}_lists")
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    }
    // probing an fp index through the quantized path fails loudly
    intercept[Exception] {
      IndexStore.probeIvfQuantized(spark, queries, ivfTbl, k = 5, nprobe = 3)
        .collect()
    }
  }

  test("probe hot-bucket guard: bounded candidates, near-dup decision preserved") {
    val hot = "graft_spec_mh_hot"
    val hotSh = "graft_spec_sh_hot"
    Seq(s"${hot}_bands", s"${hot}_shingles", s"${hotSh}_chunks").foreach(dropTable)
    // boilerplate-heavy index: 800 near-identical docs, so every band /
    // chunk bucket holds hundreds of entries
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val boiler = spark.range(800).select(
      col("id").as("doc_id"),
      concat(lit(base + " variant "),
        element_at(array(lit("vx"), lit("vy"), lit("vz")),
          (col("id") % 3 + 1).cast("int"))).as("text"))
    IndexStore.buildMinhashIndex(boiler, "doc_id", "text", hot, s"$idxPath/$hot")
    val query = spark.range(900001, 900002).select(col("id").as("doc_id"),
      lit(base + " variant vx").as("text"))
    val guardedDf = IndexStore.probeMinhash(spark, query, "doc_id", "text",
      hot, hotBandThreshold = 50)
    assert(IndexStore.capActivity(guardedDf).contains(
      IndexStore.CapActivity(0, 0, 0)),
      "cap metrics read zero before the probe materializes")
    assert(IndexStore.capActivity(query).isEmpty,
      "a frame with no guarded scan reports no cap metrics")
    val guarded = guardedDf.collect()
    assert(guarded.nonEmpty,
      "a boilerplate query must still be detected as a near-dup")
    assert(guarded.length <= 50,
      s"hot buckets must contribute only representatives, got ${guarded.length} matches")
    // the cap is never silent: the probe's own execution reports how
    // much enumeration the guard replaced with representatives
    val act = IndexStore.capActivity(guardedDf)
      .getOrElse(fail("a guarded probe must report cap activity"))
    assert(act.rowsSuppressed > 0 && act.hotBucketRows > act.rowsSuppressed &&
      act.maxBucketN > 50,
      s"boilerplate probe should show suppressed enumeration, got $act")
    // unguarded, the same probe enumerates the whole boilerplate group
    val unguardedDf = IndexStore.probeMinhash(spark, query, "doc_id", "text",
      hot, hotBandThreshold = Int.MaxValue)
    // collect(), not count(): metrics attach to the execution of the
    // frame itself, and count() executes a derived aggregate frame
    val unguarded = unguardedDf.collect().length
    assert(unguarded >= 700,
      s"unguarded enumeration should return ~the whole group, got $unguarded")
    val unAct = IndexStore.capActivity(unguardedDf)
      .getOrElse(fail("metrics exist (at zero) even when nothing was capped"))
    assert(unAct.rowsSuppressed == 0 && unAct.hotBucketRows == 0 &&
      unAct.maxBucketN > 50,
      s"exhaustive probe must report zero suppression, got $unAct")
    // self-probe by a representative: doc 0 IS the min-id rep of every
    // hot bucket it sits in, and the self-filter removes it — the
    // second (max-id) representative must still supply a candidate, or
    // the incremental-ingest recheck of an indexed doc silently returns
    // clean for exactly the boilerplate it duplicates
    val selfGuarded = IndexStore.probeMinhash(spark,
      boiler.where(col("doc_id") === 0), "doc_id", "text", hot,
      hotBandThreshold = 50).collect()
    assert(selfGuarded.nonEmpty,
      "a representative probing itself must still receive a non-self candidate")
    // same shape for the SimHash index
    IndexStore.buildSimhashIndex(boiler, "doc_id", "text", hotSh,
      s"$idxPath/$hotSh")
    val gsh = IndexStore.probeSimhash(spark, query, "doc_id", "text", hotSh,
      hotBandThreshold = 50).collect()
    assert(gsh.nonEmpty && gsh.length <= 50,
      s"SimHash probe guard: expected bounded non-empty matches, got ${gsh.length}")
  }

  test("mismatched build parameters are rejected on append and probe") {
    import spark.implicits._
    ensureMinhashIndex(); ensureIvfIndex()
    val delta = docs.where(col("doc_id") % 7 === 0)
    val wrongHashes = intercept[IllegalArgumentException] {
      IndexStore.appendMinhashIndex(delta, "doc_id", "text", mhTbl,
        numHashes = 128)
    }
    assert(wrongHashes.getMessage.contains("numHashes=128"))
    val wrongBands = intercept[IllegalArgumentException] {
      IndexStore.probeMinhash(spark, probes, "doc_id", "text", mhTbl,
        bands = 32)
    }
    assert(wrongBands.getMessage.contains("bands=32"))
    val wrongCol = intercept[IllegalArgumentException] {
      IndexStore.probeIvf(spark, corpusVecs.where(col("vec_id") < 5),
        ivfTbl, k = 5, nprobe = 3, vecCol = "embedding")
    }
    assert(wrongCol.getMessage.contains("vecCol=embedding"))
    // a wrong-DIMENSION append is a per-row property — the inline guard
    // raises instead of mis-assigning silently
    val badDim = spark.range(900000, 900002)
      .select(col("id").as("vec_id"), array(lit(1.0), lit(2.0)).as("vec"))
    val e = intercept[Exception] {
      IndexStore.appendIvfIndex(spark, badDim, ivfTbl)
    }
    assert(e.getMessage != null && e.getMessage.contains("dimension"),
      s"expected the dimension guard to fire, got: ${e.getMessage}")
  }

  test("build parameters survive compaction and erasure swaps") {
    import spark.implicits._
    val prm = "graft_spec_mh_prm"
    Seq(s"${prm}_bands", s"${prm}_shingles").foreach(dropTable)
    Seq(s"${prm}_bands__compacting", s"${prm}_shingles__compacting")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", prm, s"$idxPath/$prm")
    IndexStore.compact(spark, "minhash", prm, s"$idxPath/$prm")
    // metadata still present → mismatches still rejected after the swap
    intercept[IllegalArgumentException] {
      IndexStore.probeMinhash(spark, probes, "doc_id", "text", prm, bands = 32)
    }
    IndexStore.deleteFrom(spark, "minhash", prm,
      Seq(0L).toDF("doc_id"), s"$idxPath/${prm}_postdel")
    intercept[IllegalArgumentException] {
      IndexStore.probeMinhash(spark, probes, "doc_id", "text", prm,
        shingleN = 5)
    }
    // and matched parameters keep working
    assert(IndexStore.probeMinhash(spark, probes, "doc_id", "text", prm)
      .count() > 0)
  }

  test("vacuumIndexTable reclaims retired directories, never the live one") {
    val vac = "graft_spec_mh_vac"
    Seq(s"${vac}_bands", s"${vac}_shingles").foreach(dropTable)
    spark.sql(s"DROP TABLE IF EXISTS ${vac}_bands__compacting")
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", vac, s"$idxPath/$vac")
    val gen0 = s"$idxPath/$vac/${vac}_bands"
    // two swaps retire two generations of the band table
    IndexStore.compactTable(spark, s"${vac}_bands", "band_key",
      s"$idxPath/$vac/vac_gen1")
    IndexStore.compactTable(spark, s"${vac}_bands", "band_key",
      s"$idxPath/$vac/vac_gen2")
    assert(new java.io.File(gen0).exists,
      "a swap must not delete the directory it replaced (rollback story)")
    val deleted = IndexStore.vacuumIndexTable(spark, s"${vac}_bands")
    assert(deleted.size == 2, s"two retired generations, got $deleted")
    assert(!new java.io.File(gen0).exists &&
      !new java.io.File(s"$idxPath/$vac/vac_gen1").exists,
      "vacuum reclaims every retired directory")
    assert(new java.io.File(s"$idxPath/$vac/vac_gen2").exists,
      "the live directory survives")
    assert(IndexStore.probeMinhash(spark, probes, "doc_id", "text", vac)
      .count() > 0, "probes keep working after vacuum")
    assert(IndexStore.vacuumIndexTable(spark, s"${vac}_bands").isEmpty,
      "vacuum is idempotent")
    // the whole-index wrapper covers both tables; nothing further to
    // reclaim here (bands just vacuumed, shingles never rewritten)
    assert(IndexStore.vacuum(spark, "minhash", vac).isEmpty)
  }

  // ---- persisted bigram-LM model table ------------------------------

  test("persisted LM: append equals one-shot retrain; unlearn equals never-seen") {
    import graft.operators.NgramLm
    val tbl = "graft_spec_lm"
    dropTable(s"${tbl}_counts")
    val a = docs.where(col("doc_id") % 10 < 4)
    val b = docs.where(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8)
    val eval_ = docs.where(col("doc_id") % 10 >= 8)
    IndexStore.buildLmIndex(a, "doc_id", "text", tbl, s"$idxPath/$tbl")
    IndexStore.appendLmIndex(b, "doc_id", "text", tbl)
    val inc = IndexStore.scoreFromLmIndex(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    val oneShot = NgramLm.scoreMicroBits(
        NgramLm.train(a.unionByName(b)), eval_)
      .orderBy("doc_id").collect().toSeq
    assert(inc == oneShot, "append-then-score must equal one-shot retrain")
    // exact unlearning: negate slice a's counts → the model is b's
    IndexStore.unlearnFromLmIndex(a, "doc_id", "text", tbl)
    val unlearned = IndexStore.scoreFromLmIndex(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    val retrain = NgramLm.scoreMicroBits(NgramLm.train(b), eval_)
      .orderBy("doc_id").collect().toSeq
    assert(unlearned == retrain, "unlearn must equal a retrain without the docs")
    // the vocabulary re-derives from surviving bigrams, so fully-
    // unlearned tokens leave V too
    assert(IndexStore.lmModelFromIndex(spark, tbl)
        .vocabSize.head().getLong(0) ==
      NgramLm.train(b).vocabSize.head().getLong(0))
  }

  test("persisted LM compaction folds duplicates and cancellation pairs") {
    import graft.operators.NgramLm
    val tbl = "graft_spec_lmc"
    dropTable(s"${tbl}_counts")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_counts__compacting")
    val a = docs.where(col("doc_id") % 10 < 4)
    val b = docs.where(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8)
    val eval_ = docs.where(col("doc_id") % 10 >= 8)
    IndexStore.buildLmIndex(a, "doc_id", "text", tbl, s"$idxPath/$tbl")
    IndexStore.appendLmIndex(b, "doc_id", "text", tbl)
    IndexStore.unlearnFromLmIndex(a, "doc_id", "text", tbl)
    val before = IndexStore.scoreFromLmIndex(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    val preRows = spark.table(s"${tbl}_counts").count()
    IndexStore.compact(spark, "lm", tbl, s"$idxPath/$tbl")
    val postRows = spark.table(s"${tbl}_counts").count()
    // physical state after folding == b's live bigrams, nothing more
    assert(postRows == NgramLm.bigramCounts(b).count(),
      "compaction must fold to one positive row per live bigram")
    assert(postRows < preRows)
    val after = IndexStore.scoreFromLmIndex(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    assert(after == before, "compaction must not change scores")
  }

  // ---- persisted DSIR importance-model table ------------------------

  test("persisted DSIR: append equals one-shot refit; unlearn equals never-seen") {
    import graft.operators.Dsir
    val tbl = "graft_spec_dsir"
    dropTable(s"${tbl}_counts")
    val target = docs.where(col("doc_id") % 10 < 2)
    val rawA = docs.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 5)
    val rawB = docs.where(col("doc_id") % 10 >= 5 && col("doc_id") % 10 < 8)
    val scoreSet = docs.where(col("doc_id") % 10 >= 8)
    IndexStore.buildDsirIndex(target, rawA, "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendDsirIndex(rawB, "r", "doc_id", "text", tbl)
    val inc = IndexStore.scoreFromDsirIndex(spark, tbl, scoreSet)
      .orderBy("doc_id").collect().toSeq
    val oneShot = Dsir.scoreWeights(
        Dsir.fit(target, rawA.unionByName(rawB)), scoreSet)
      .orderBy("doc_id").collect().toSeq
    assert(inc == oneShot, "append-then-score must equal one-shot refit")
    // exact unlearning of the rawA slice → the model is (target, rawB)
    IndexStore.unlearnFromDsirIndex(rawA, "r", "doc_id", "text", tbl)
    val unlearned = IndexStore.scoreFromDsirIndex(spark, tbl, scoreSet)
      .orderBy("doc_id").collect().toSeq
    val retrain = Dsir.scoreWeights(Dsir.fit(target, rawB), scoreSet)
      .orderBy("doc_id").collect().toSeq
    assert(unlearned == retrain,
      "unlearn must equal a refit that never saw the slice")
  }

  test("persisted DSIR compaction folds; mismatched params rejected; auto-compact fires") {
    val tbl = "graft_spec_dsirc"
    dropTable(s"${tbl}_counts")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_counts__compacting")
    val target = docs.where(col("doc_id") % 10 < 2)
    val rawA = docs.where(col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 5)
    val rawB = docs.where(col("doc_id") % 10 >= 5 && col("doc_id") % 10 < 8)
    val scoreSet = docs.where(col("doc_id") % 10 >= 8)
    IndexStore.buildDsirIndex(target, rawA, "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendDsirIndex(rawB, "r", "doc_id", "text", tbl)
    IndexStore.unlearnFromDsirIndex(rawA, "r", "doc_id", "text", tbl)
    val before = IndexStore.scoreFromDsirIndex(spark, tbl, scoreSet)
      .orderBy("doc_id").collect().toSeq
    val preRows = spark.table(s"${tbl}_counts").count()
    assert(IndexStore.autoCompact(spark, "dsir", tbl, every = 1),
      "appends past the threshold must trigger the dsir auto-compaction")
    val postRows = spark.table(s"${tbl}_counts").count()
    assert(postRows < preRows, "compaction must fold rows physically")
    val after = IndexStore.scoreFromDsirIndex(spark, tbl, scoreSet)
      .orderBy("doc_id").collect().toSeq
    assert(after == before, "compaction must not change scores")
    // mismatched idCol and illegal side are rejected loudly
    intercept[IllegalArgumentException] {
      IndexStore.appendDsirIndex(rawB, "r", "other_id", "text", tbl)
    }
    intercept[IllegalArgumentException] {
      IndexStore.appendDsirIndex(rawB, "x", "doc_id", "text", tbl)
    }
  }

  // ---- persisted DoReMi mixture-model table --------------------------

  private def srcDocs: DataFrame =
    Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "source")

  test("persisted DoReMi: append equals one-shot refit; unlearn equals never-seen") {
    val tbl = "graft_spec_dm"
    val tblOne = "graft_spec_dm1"
    Seq(tbl, tblOne).foreach(t => dropTable(s"${t}_dmc"))
    val a = srcDocs.where(col("doc_id") % 2 === 0)
    val b = srcDocs.where(col("doc_id") % 2 === 1)
    IndexStore.buildDoremiIndex(a, "doc_id", "source", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendDoremiIndex(b, "doc_id", "source", "text", tbl)
    val inc = IndexStore.doremiWeightsFromIndex(spark, tbl)
      .collect().toSeq
    IndexStore.buildDoremiIndex(a.unionByName(b), "doc_id", "source",
      "text", tblOne, s"$idxPath/$tblOne")
    val oneShot = IndexStore.doremiWeightsFromIndex(spark, tblOne)
      .collect().toSeq
    assert(inc == oneShot,
      "append-then-serve must equal a one-shot build bit-for-bit")
    // exact unlearning: take down b → the mixture a never-polluted
    // build would have learned
    IndexStore.unlearnFromDoremiIndex(b, "doc_id", "source", "text", tbl)
    val unlearned = IndexStore.doremiWeightsFromIndex(spark, tbl)
      .collect().toSeq
    IndexStore.buildDoremiIndex(a, "doc_id", "source", "text", tblOne,
      s"$idxPath/$tblOne")
    val neverSaw = IndexStore.doremiWeightsFromIndex(spark, tblOne)
      .collect().toSeq
    assert(unlearned == neverSaw,
      "unlearn must equal a refit that never saw the slice")
  }

  test("persisted DoReMi: compaction folds physically without moving weights; bad params rejected") {
    val tbl = "graft_spec_dmc"
    dropTable(s"${tbl}_dmc")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_dmc__compacting")
    val a = srcDocs.where(col("doc_id") % 2 === 0)
    val b = srcDocs.where(col("doc_id") % 2 === 1)
    IndexStore.buildDoremiIndex(a, "doc_id", "source", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendDoremiIndex(b, "doc_id", "source", "text", tbl)
    IndexStore.unlearnFromDoremiIndex(b, "doc_id", "source", "text", tbl)
    val before = IndexStore.doremiWeightsFromIndex(spark, tbl)
      .collect().toSeq
    val preRows = spark.table(s"${tbl}_dmc").count()
    assert(IndexStore.autoCompact(spark, "doremi", tbl, every = 1),
      "appends past the threshold must trigger the doremi auto-compaction")
    val postRows = spark.table(s"${tbl}_dmc").count()
    assert(postRows < preRows, "compaction must fold rows physically")
    // folded state == a's live (source, bigram) pairs, nothing more:
    // b's rows cancelled exactly
    val after = IndexStore.doremiWeightsFromIndex(spark, tbl)
      .collect().toSeq
    assert(after == before, "compaction must not change the mixture")
    intercept[IllegalArgumentException] {
      IndexStore.appendDoremiIndex(b, "doc_id", "other_src", "text", tbl)
    }
  }

  test("keyed DoReMi: a crash-replayed append cannot double-count, before or after compaction") {
    val tbl = "graft_spec_dmk"
    dropTable(s"${tbl}_dmc")
    val a = srcDocs.where(col("doc_id") % 3 === 0)
    val b = srcDocs.where(col("doc_id") % 3 === 1)
    def weights() = IndexStore.doremiWeightsFromIndexKeyed(spark, tbl)
      .collect().toSeq
    IndexStore.buildDoremiIndexKeyed(a, "doc_id", "source", "text", tbl,
      s"$idxPath/$tbl", batchKey = 0L)
    assert(IndexStore.appendDoremiIndexKeyed(b, "doc_id", "source",
      "text", tbl, 1L))
    val once = weights()
    // parity with an unkeyed one-shot build over both slices
    val tblOne = "graft_spec_dmk1"
    dropTable(s"${tblOne}_dmc")
    IndexStore.buildDoremiIndex(a.unionByName(b), "doc_id", "source",
      "text", tblOne, s"$idxPath/$tblOne")
    assert(once == IndexStore.doremiWeightsFromIndex(spark, tblOne)
      .collect().toSeq)
    // replay BEFORE compaction: rows land but share (source, bg, bk)
    // identity, so the read-side dedup cancels them
    assert(IndexStore.appendDoremiIndexKeyed(b, "doc_id", "source",
      "text", tbl, 1L))
    assert(weights() == once, "pre-compaction replay double-counted")
    IndexStore.compact(spark, "doremik", tbl, s"$idxPath/${tbl}_c1")
    assert(weights() == once, "compaction changed the mixture")
    // replay AFTER compaction: skipped outright by the high-water mark
    assert(!IndexStore.appendDoremiIndexKeyed(b, "doc_id", "source",
      "text", tbl, 1L))
    assert(!IndexStore.appendDoremiIndexKeyed(a, "doc_id", "source",
      "text", tbl, 0L),
      "the replayed BUILD batch must be skipped too")
    assert(weights() == once, "post-compaction replay double-counted")
    // and genuinely new batches still land
    val c = srcDocs.where(col("doc_id") % 3 === 2)
    assert(IndexStore.appendDoremiIndexKeyed(c, "doc_id", "source",
      "text", tbl, 2L))
    IndexStore.buildDoremiIndex(a.unionByName(b).unionByName(c),
      "doc_id", "source", "text", tblOne, s"$idxPath/$tblOne")
    assert(weights() == IndexStore.doremiWeightsFromIndex(spark, tblOne)
      .collect().toSeq)
  }

  test("health report: counters, files, and retired dirs track the append/compact/vacuum lifecycle") {
    val tbl = "graft_spec_health"
    dropTable(s"${tbl}_fps")
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 === 1)
    def report() = IndexStore.healthReport(spark, Seq(("exact", tbl)))
      .head()
    IndexStore.buildExactIndex(a, "doc_id", "text", tbl, s"$idxPath/$tbl")
    val fresh = report()
    assert(fresh.getAs[String]("primary_table") == s"${tbl}_fps")
    assert(fresh.getAs[Long]("rows") == a.count())
    assert(fresh.getAs[Long]("appends_since_compact") == 0L &&
      fresh.getAs[Long]("appends_total") == 0L &&
      fresh.getAs[Long]("retired_dirs") == 0L)
    IndexStore.appendExactIndex(b, "doc_id", "text", tbl)
    val appended = report()
    assert(appended.getAs[Long]("rows") == a.count() + b.count())
    assert(appended.getAs[Long]("appends_since_compact") == 1L &&
      appended.getAs[Long]("appends_total") == 1L)
    assert(appended.getAs[Long]("files") > fresh.getAs[Long]("files"),
      "an append must add physical files")
    IndexStore.compact(spark, "exact", tbl, s"$idxPath/${tbl}_c1")
    val compacted = report()
    assert(compacted.getAs[Long]("rows") == a.count() + b.count())
    assert(compacted.getAs[Long]("appends_since_compact") == 0L,
      "compaction must reset the auto-compact clock")
    assert(compacted.getAs[Long]("retired_dirs") == 1L,
      "the swapped-out directory must show as awaiting vacuum")
    assert(IndexStore.vacuum(spark, "exact", tbl).nonEmpty)
    assert(report().getAs[Long]("retired_dirs") == 0L)
    intercept[IllegalArgumentException] {
      IndexStore.healthReport(spark, Seq(("nosuch", tbl)))
    }
  }

  test("the lm kind participates in counter-driven auto-compaction") {
    val tbl = "graft_spec_lma"
    dropTable(s"${tbl}_counts")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_counts__compacting")
    val a = docs.where(col("doc_id") % 10 < 4)
    val b = docs.where(col("doc_id") % 10 >= 4 && col("doc_id") % 10 < 8)
    val eval_ = docs.where(col("doc_id") % 10 >= 8)
    IndexStore.buildLmIndex(a, "doc_id", "text", tbl, s"$idxPath/$tbl")
    IndexStore.appendLmIndex(b, "doc_id", "text", tbl)
    val before = IndexStore.scoreFromLmIndex(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    assert(IndexStore.autoCompact(spark, "lm", tbl, every = 1),
      "one append at threshold 1 must trigger compaction")
    assert(!IndexStore.autoCompact(spark, "lm", tbl, every = 1),
      "the counter must reset after compacting")
    val after = IndexStore.scoreFromLmIndex(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    assert(after == before)
  }

  test("keyed LM: a crash-replayed append cannot double-count, before or after compaction") {
    import graft.operators.NgramLm
    val tbl = "graft_spec_lmk"
    dropTable(s"${tbl}_counts")
    val a = docs.where(col("doc_id") < 100)
    val b = docs.where(col("doc_id") >= 100 && col("doc_id") < 150)
    val eval_ = docs.where(col("doc_id") >= 150 && col("doc_id") < 250)
    def score() = IndexStore.scoreFromLmIndexKeyed(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    IndexStore.buildLmIndexKeyed(a, "doc_id", "text", tbl,
      s"$idxPath/$tbl", batchKey = 0L)
    assert(IndexStore.appendLmIndexKeyed(b, "doc_id", "text", tbl, 1L))
    val once = score()
    // parity with a one-shot train over both slices
    val want = NgramLm.scoreMicroBits(NgramLm.train(a.unionByName(b)),
      eval_).orderBy("doc_id").collect().toSeq
    assert(once == want)
    // replay BEFORE any compaction: the write happens (the mark can't
    // see uncompacted keys) but the duplicate rows share (bg, bk)
    // identity and the read-side dedup cancels them
    assert(IndexStore.appendLmIndexKeyed(b, "doc_id", "text", tbl, 1L))
    assert(score() == once, "pre-compaction replay double-counted")
    // compaction folds keys away — marks must rise FIRST
    IndexStore.compact(spark, "lmk", tbl, s"$idxPath/${tbl}_c1")
    assert(score() == once, "compaction changed the model")
    // replay AFTER compaction: skipped outright by the high-water mark
    assert(!IndexStore.appendLmIndexKeyed(b, "doc_id", "text", tbl, 1L))
    assert(!IndexStore.appendLmIndexKeyed(a, "doc_id", "text", tbl, 0L),
      "the replayed BUILD batch must be skipped too")
    assert(score() == once, "post-compaction replay double-counted")
    // and genuinely new batches still land
    val c = docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
    assert(IndexStore.appendLmIndexKeyed(c, "doc_id", "text", tbl, 2L))
    val withC = NgramLm.scoreMicroBits(
      NgramLm.train(a.unionByName(b).unionByName(c)), eval_)
      .orderBy("doc_id").collect().toSeq
    assert(score() == withC)
  }

  test("keyed LM unlearning is replay-idempotent and exact") {
    import graft.operators.NgramLm
    val tbl = "graft_spec_lmku"
    dropTable(s"${tbl}_counts")
    val a = docs.where(col("doc_id") < 150)
    val eval_ = docs.where(col("doc_id") >= 150 && col("doc_id") < 250)
    def score() = IndexStore.scoreFromLmIndexKeyed(spark, tbl, eval_)
      .orderBy("doc_id").collect().toSeq
    IndexStore.buildLmIndexKeyed(a, "doc_id", "text", tbl,
      s"$idxPath/$tbl", batchKey = 0L)
    assert(IndexStore.unlearnFromLmIndexKeyed(
      docs.where(col("doc_id") === 0L), "doc_id", "text", tbl, -1L))
    val after = score()
    assert(after == NgramLm.scoreMicroBits(
      NgramLm.train(a.where(col("doc_id") =!= 0L)), eval_)
      .orderBy("doc_id").collect().toSeq,
      "keyed unlearning must equal a retrain that never saw the doc")
    // replayed unlearn pre-compaction: duplicate negated rows cancel
    assert(IndexStore.unlearnFromLmIndexKeyed(
      docs.where(col("doc_id") === 0L), "doc_id", "text", tbl, -1L))
    assert(score() == after, "pre-compaction unlearn replay double-negated")
    IndexStore.compact(spark, "lmk", tbl, s"$idxPath/${tbl}_c1")
    // replayed unlearn post-compaction: skipped by the low-water mark
    assert(!IndexStore.unlearnFromLmIndexKeyed(
      docs.where(col("doc_id") === 0L), "doc_id", "text", tbl, -1L))
    assert(score() == after)
    // the next REAL unlearn continues below the mark
    assert(IndexStore.unlearnFromLmIndexKeyed(
      docs.where(col("doc_id") === 5L), "doc_id", "text", tbl, -2L))
    assert(score() == NgramLm.scoreMicroBits(
      NgramLm.train(a.where(col("doc_id") =!= 0L && col("doc_id") =!= 5L)),
      eval_).orderBy("doc_id").collect().toSeq)
  }

  test("keyed LM refuses out-of-band keys in-band and vice versa") {
    val tbl = "graft_spec_lmkg"
    dropTable(s"${tbl}_counts")
    IndexStore.buildLmIndexKeyed(docs.where(col("doc_id") < 50),
      "doc_id", "text", tbl, s"$idxPath/$tbl", batchKey = 0L)
    intercept[IllegalArgumentException] {
      IndexStore.appendLmIndexKeyed(docs.where(col("doc_id") < 10),
        "doc_id", "text", tbl, -3L)
    }
    intercept[IllegalArgumentException] {
      IndexStore.unlearnFromLmIndexKeyed(docs.where(col("doc_id") < 10),
        "doc_id", "text", tbl, 3L)
    }
  }

  // ---- 4. caching contract ------------------------------------------

  test("repeated probes accumulate no persisted RDDs") {
    ensureMinhashIndex()
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      IndexStore.probeMinhash(spark, probes, "doc_id", "text", mhTbl).collect()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    // one-sided on purpose: earlier suites' lazy localCheckpoint blocks
    // (LM model frames, dedup boundaries) are reclaimed by the
    // ContextCleaner asynchronously once unreferenced, so the global
    // count can legitimately DROP mid-test — the claim under test is
    // only that the probe itself pins nothing new
    assert(after <= before, s"probe leaked ${after - before} cached RDDs")
  }

  // ---- persisted shingle-DF (cross-doc span) table -------------------

  test("persisted span index: append equals one-shot build; unlearn un-flags whole docs") {
    import graft.operators.SpanDedup
    val tbl = "graft_spec_sdf"
    dropTable(s"${tbl}_sdf")
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 =!= 0)
    IndexStore.buildSpanIndex(evens, "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendSpanIndex(odds, "doc_id", "text", tbl)
    val served = IndexStore.removalSpansFromIndex(spark, tbl, docs)
      .orderBy("doc_id", "span_start").collect().toSeq
    val inline = SpanDedup.removalSpans(docs)
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(served == inline,
      "append-then-serve must equal the inline operator bit-for-bit")

    // take-down: full-text junk copies make their originals' whole
    // text hot; exact unlearning must restore the never-saw-junk spans
    val junk = docs.where(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"))
    IndexStore.appendSpanIndex(junk, "doc_id", "text", tbl)
    val polluted = IndexStore.removalSpansFromIndex(spark, tbl, docs)
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(polluted != inline,
      "the junk copies must visibly widen the flagged spans")
    IndexStore.unlearnFromSpanIndex(junk, "doc_id", "text", tbl)
    val unlearned = IndexStore.removalSpansFromIndex(spark, tbl, docs)
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(unlearned == inline,
      "unlearn must equal a build that never saw the junk")
  }

  test("span index compaction folds; mismatched params rejected; auto-compact fires") {
    val tbl = "graft_spec_sdfc"
    dropTable(s"${tbl}_sdf")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_sdf__compacting")
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 =!= 0)
    IndexStore.buildSpanIndex(evens, "doc_id", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendSpanIndex(odds, "doc_id", "text", tbl)
    IndexStore.unlearnFromSpanIndex(odds, "doc_id", "text", tbl)
    val before = IndexStore.removalSpansFromIndex(spark, tbl, docs)
      .orderBy("doc_id", "span_start").collect().toSeq
    val preRows = spark.table(s"${tbl}_sdf").count()
    assert(IndexStore.autoCompact(spark, "span", tbl, every = 1),
      "appends past the threshold must trigger the span auto-compaction")
    val postRows = spark.table(s"${tbl}_sdf").count()
    assert(postRows < preRows,
      "compaction must fold duplicate and cancellation rows physically")
    val after = IndexStore.removalSpansFromIndex(spark, tbl, docs)
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(after == before, "compaction must not change served spans")
    // a mismatched idCol is rejected loudly (k can't drift by
    // construction: append/serve read it from the persisted params)
    intercept[IllegalArgumentException] {
      IndexStore.appendSpanIndex(odds, "other_id", "text", tbl)
    }
  }

  // ---- persisted PQ code store ---------------------------------------

  test("persisted PQ: serve equals inline; frozen-book appends land; take-down erases") {
    import graft.operators.{Pq, Similarity}
    val tbl = "graft_spec_pq"
    Seq(s"${tbl}_books", s"${tbl}_codes").foreach(dropTable)
    val evens = corpusVecs.where(col("vec_id") % 2 === 0)
    val odds = corpusVecs.where(col("vec_id") % 2 =!= 0)
    IndexStore.buildPqIndex(evens, tbl, s"$idxPath/$tbl")
    // serve-from-store ≡ inline operator, bit for bit (same books —
    // the Lloyd loop is deterministic over the same frame)
    val queries = corpusVecs.where(col("vec_id") < 10)
    val books = IndexStore.pqBooksFromIndex(spark, tbl)
    val served = IndexStore.probePqTopK(spark, queries, tbl, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val inline = Pq.adcTopK(Pq.encode(evens, books, dim = 64), queries,
        books, dim = 64, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served == inline, "store-served ADC diverged from inline")
    // frozen-book append: odd ids encode against the BUILD codebooks
    // and immediately serve; a ×2 copy of an indexed vector ranks
    // top-1 for its source (scale-invariant codes)
    IndexStore.appendPqIndex(odds, tbl)
    assert(spark.table(s"${tbl}_codes").count() == corpusVecs.count())
    val copies = corpusVecs.where(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("vec"),
          x => x * 2.0d).as("vec"))
    IndexStore.appendPqIndex(copies, tbl)
    val top = IndexStore.probePqTopK(spark,
        corpusVecs.where(col("vec_id") % 20 === 0), tbl, k = 1)
    assert(top.where(col("rank") === 1 &&
      col("neighbor_id") === col("query_id") + 100000).count()
      == copies.count(),
      "an appended scaled copy must rank top-1 for its source")
    // params validation + counter-driven auto-compaction (before the
    // take-down: its rewrite starts a fresh file generation and resets
    // the append counter, like every kind's)
    intercept[IllegalArgumentException] {
      IndexStore.appendPqIndex(odds, tbl, idCol = "other_id")
    }
    assert(IndexStore.autoCompact(spark, "pq", tbl, every = 1),
      "appends past the threshold must trigger the pq auto-compaction")
    val afterCompact = IndexStore.probePqTopK(spark,
        corpusVecs.where(col("vec_id") % 20 === 0), tbl, k = 1)
    assert(afterCompact.where(col("rank") === 1 &&
      col("neighbor_id") === col("query_id") + 100000).count()
      == copies.count(), "compaction changed served results")
    // take-down: erased ids vanish from the store and from every
    // subsequent probe
    val toErase = copies.select("vec_id")
    IndexStore.deleteFrom(spark, "pq", tbl, toErase, s"$idxPath/${tbl}_td")
    assert(spark.table(s"${tbl}_codes")
      .where(col("vec_id") >= 100000).count() == 0)
    assert(IndexStore.probePqTopK(spark,
        corpusVecs.where(col("vec_id") % 20 === 0), tbl, k = 1)
      .where(col("neighbor_id") >= 100000).count() == 0,
      "an erased vector surfaced in a probe")
  }

  test("sliced LM table: held-out serving equals retrain; append/unlearn stay exact") {
    import graft.operators.NgramLm
    val tbl = "graft_spec_lms"
    dropTable(s"${tbl}_slices")
    val corpus = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "source", "text")
    val a = corpus.where(col("doc_id") % 2 === 0)
    val b = corpus.where(col("doc_id") % 2 =!= 0)
    val eval_ = corpus.where(col("doc_id") % 7 === 0)
      .select("doc_id", "text")
    def scoreHeldOut(x: Option[String]) =
      NgramLm.scoreMicroBits(
          IndexStore.lmModelFromSliceIndex(spark, tbl, x), eval_)
        .orderBy("doc_id").collect().toSeq
    IndexStore.buildLmSliceIndex(a, "source", "text", tbl,
      s"$idxPath/$tbl")
    IndexStore.appendLmSliceIndex(b, "source", "text", tbl)
    // full model == a one-shot train over both halves
    assert(scoreHeldOut(None) ==
      NgramLm.scoreMicroBits(NgramLm.train(corpus), eval_)
        .orderBy("doc_id").collect().toSeq)
    // held-out serving == a retrain that never saw the source
    val want = NgramLm.scoreMicroBits(
        NgramLm.train(corpus.where(col("source") =!= "src0")), eval_)
      .orderBy("doc_id").collect().toSeq
    assert(scoreHeldOut(Some("src0")) == want)
    // compaction folds the appended file sets; serving unchanged
    IndexStore.compact(spark, "lms", tbl, s"$idxPath/${tbl}_c1")
    assert(scoreHeldOut(Some("src0")) == want)
    // unlearning src1's docs entirely: the full model now equals a
    // retrain without src1, and holding out src0 excludes both
    IndexStore.unlearnFromLmSliceIndex(
      corpus.where(col("source") === "src1"), "source", "text", tbl)
    assert(scoreHeldOut(None) ==
      NgramLm.scoreMicroBits(
          NgramLm.train(corpus.where(col("source") =!= "src1")), eval_)
        .orderBy("doc_id").collect().toSeq)
    assert(scoreHeldOut(Some("src0")) ==
      NgramLm.scoreMicroBits(
          NgramLm.train(corpus.where(
            col("source") =!= "src1" && col("source") =!= "src0")), eval_)
        .orderBy("doc_id").collect().toSeq)
  }

  test("persisted qhist: keyed replays cancel; unlearn equals rebuild; cutoffs serve") {
    import graft.operators.Qhist
    import graft.functions.TextAnalysis
    val tbl = "graft_spec_qh"
    dropTable(s"${tbl}_qregs")
    val m = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("v"))
      .localCheckpoint()
    val a = m.where(col("doc_id") % 2 === 0)
    val b = m.where(col("doc_id") % 2 =!= 0)
    def served() = IndexStore.qhistRegistersFromIndex(spark, tbl)
      .orderBy("grp", "bucket").collect().toSeq
    def direct(df: org.apache.spark.sql.DataFrame) =
      Qhist.registers(df, "v", Seq("source"))
        .withColumnRenamed("source", "grp")
        .orderBy("grp", "bucket").collect().toSeq
    IndexStore.buildQhistIndex(a, "source", "v", tbl,
      s"$idxPath/$tbl", batchKey = 0L)
    assert(IndexStore.appendQhistIndex(b, "source", "v", tbl, 1L))
    val once = served()
    assert(once == direct(m))
    // pre-compaction replay: rows written, row-identity dedup cancels
    assert(IndexStore.appendQhistIndex(b, "source", "v", tbl, 1L))
    assert(served() == once, "pre-compaction replay double-counted")
    IndexStore.compact(spark, "qh", tbl, s"$idxPath/${tbl}_c1")
    assert(served() == once)
    assert(!IndexStore.appendQhistIndex(b, "source", "v", tbl, 1L))
    // exact unlearn equals a rebuild without the slice
    assert(IndexStore.unlearnFromQhistIndex(
      m.where(col("source") === "src0"), "source", "v", tbl, -1L))
    assert(served() == direct(m.where(col("source") =!= "src0")))
    // serving: per-group medians cover at least half of each group
    val meds = IndexStore.qhistCutoffsFromIndex(spark, tbl, Seq(500))
      .select("grp", "cutoff").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    meds.foreach { case (g, c) =>
      val vs = m.where(col("source") === g).select("v")
        .collect().map(_.getLong(0))
      assert(vs.count(_ <= c) * 2 >= vs.length, s"median uncovers $g")
    }
  }

  test("persisted CMS: keyed replays cancel; unlearn equals rebuild; estimates serve") {
    import graft.operators.{CountMin, Dedup}
    val tbl = "graft_spec_cms"
    dropTable(s"${tbl}_cregs")
    val itemsAll = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"),
        explode(Dedup.wordShingles(col("text"))).as("item"))
      .localCheckpoint()
    val a = itemsAll.where(col("doc_id") % 2 === 0)
    val b = itemsAll.where(col("doc_id") % 2 =!= 0)
    def served() = IndexStore.cmsRegistersFromIndex(spark, tbl)
      .orderBy("grp", "row_j", "idx").collect().toSeq
    IndexStore.buildCmsIndex(a, "source", "item", tbl,
      s"$idxPath/$tbl", batchKey = 0L)
    assert(IndexStore.appendCmsIndex(b, "source", "item", tbl, 1L))
    val once = served()
    // parity with the direct one-shot sketch
    val direct = CountMin.registers(itemsAll, "item", Seq("source"))
      .withColumnRenamed("source", "grp")
      .orderBy("grp", "row_j", "idx").collect().toSeq
    assert(once == direct)
    // pre-compaction replay: rows are written but the (grp,row_j,idx,bk)
    // dedup cancels them — sums must NOT double
    assert(IndexStore.appendCmsIndex(b, "source", "item", tbl, 1L))
    assert(served() == once, "pre-compaction replay double-counted")
    IndexStore.compact(spark, "cms", tbl, s"$idxPath/${tbl}_c1")
    assert(served() == once, "compaction changed the sketch")
    // post-compaction replay: skipped by the high-water mark
    assert(!IndexStore.appendCmsIndex(b, "source", "item", tbl, 1L))
    assert(!IndexStore.appendCmsIndex(a, "source", "item", tbl, 0L))
    assert(served() == once)
    // exact unlearn: subtracting src0's slice equals a rebuild without it
    assert(IndexStore.unlearnFromCmsIndex(
      itemsAll.where(col("source") === "src0"), "source", "item", tbl, -1L))
    val rebuilt = CountMin.registers(
        itemsAll.where(col("source") =!= "src0"), "item", Seq("source"))
      .withColumnRenamed("source", "grp")
      .orderBy("grp", "row_j", "idx").collect().toSeq
    assert(served() == rebuilt,
      "unlearn-by-negation must equal a rebuild row-for-row")
    // a crash-REPLAYED unlearn pre-compaction writes byte-identical
    // rows the (grp,row_j,idx,bk) dedup cancels — serving unchanged
    assert(IndexStore.unlearnFromCmsIndex(
      itemsAll.where(col("source") === "src0"), "source", "item", tbl, -1L))
    assert(served() == rebuilt, "replayed unlearn double-subtracted")
    // compaction folds the cancellation pairs physically, same serving;
    // the low-water mark then skips the stale key outright
    IndexStore.compact(spark, "cms", tbl, s"$idxPath/${tbl}_c2")
    assert(served() == rebuilt)
    assert(!IndexStore.unlearnFromCmsIndex(
      itemsAll.where(col("source") === "src0"), "source", "item", tbl, -1L))
    assert(served() == rebuilt)
    // estimates served from the store: est >= exact per (grp, item)
    val cands = itemsAll.where(col("doc_id") % 31 === 0)
      .select("item").distinct()
    val est = IndexStore.cmsEstimateFromIndex(spark, tbl, cands)
      .collect().map(r => (r.getAs[String]("grp"),
        r.getAs[String]("item")) -> r.getAs[Long]("est")).toMap
    assert(est.nonEmpty)
    val exact = itemsAll.where(col("source") =!= "src0")
      .groupBy("source", "item").agg(count(lit(1)).as("x"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("x")).toMap
    est.foreach { case (k, e) =>
      assert(e >= exact.getOrElse(k, 0L), s"underestimate at $k") }
  }
}
