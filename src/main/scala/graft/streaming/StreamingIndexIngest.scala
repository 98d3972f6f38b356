package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexStore, Ops}

/** Continuous dedup-ingest — the streaming form of the persisted
  * indexes' incremental-maintenance path: document micro-batches stream
  * in and each one is APPENDED to the index (built on the first batch),
  * so at every point the index covers exactly the documents ingested so
  * far and new arrivals can be near-dup-probed against it before
  * acceptance. Batch arrival order doesn't matter for the final index
  * content (appends are unioned rows in stable buckets), which keeps
  * this deterministic despite the file-source's nondeterministic batch
  * order. The choreography is index-kind agnostic; MinHash and SimHash
  * instances are provided.
  */
object StreamingIndexIngest {

  /** Shared choreography over ANY source frame: stage it as a 2-file
    * stream source (>1 micro-batch; more batches add cost, not
    * coverage), drop any previous index, stream batches through
    * build-then-append, then run the caller's probe over the finished
    * index. */
  private def ingestFrames(spark: SparkSession, source: DataFrame,
      workDir: String, idxTables: Seq[String], idxPath: String,
      buildOrAppend: (DataFrame, Boolean, Long) => Unit,
      probe: () => DataFrame): DataFrame = {
    val srcDir = s"$workDir/src"
    source.repartition(2).write.mode("overwrite").parquet(srcDir)
    idxTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))

    BatchManifest.drainOnce(spark, srcDir, workDir) { (batch, batchId) =>
      buildOrAppend(batch, !spark.catalog.tableExists(idxTables.head), batchId)
    }
    probe()
  }

  /** The usual per-batch step of an instance: `build` on the first
    * batch; otherwise `append`, then `kind`'s counter-driven
    * auto-compaction folds the appends back (content-neutral). */
  private def growing(spark: SparkSession, kind: String, table: String,
      autoCompactAppends: Int)(build: (DataFrame, Long) => Unit,
      append: (DataFrame, Long) => Unit): (DataFrame, Boolean, Long) => Unit =
    (batch, first, batchId) =>
      if (first) build(batch, batchId)
      else {
        append(batch, batchId)
        IndexStore.autoCompact(spark, kind, table, autoCompactAppends)
        (): Unit
      }

  /** Document-corpus instance of [[ingestFrames]]: probes the finished
    * index with planted perturbed docs. */
  private def ingest(spark: SparkSession, sfDir: String, workDir: String,
      idxTables: Seq[String], idxPath: String,
      buildOrAppend: (DataFrame, Boolean, Long) => Unit,
      probe: DataFrame => DataFrame): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    ingestFrames(spark, docs, workDir, idxTables, idxPath, buildOrAppend,
      () => probe(docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" graft tail")).as("text"))))
  }

  /** MinHash instance — identical to probing a one-shot index over the
    * same corpus (asserted in StreamingSpec). `autoCompactAppends` runs
    * [[IndexStore.autoCompact]]'s counter-driven policy after each
    * appending micro-batch — the knob a LONG-RUNNING stream needs,
    * since its per-batch appends otherwise grow the index's file count
    * without bound (content is unaffected either way; parity spec'd). */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame =
    ingest(spark, sfDir, workDir,
      Seq(s"${table}_bands", s"${table}_shingles"), idxPath,
      growing(spark, "minhash", table, autoCompactAppends)(
        (batch, _) => IndexStore.buildMinhashIndex(batch, "doc_id", "text",
          table, idxPath),
        (batch, _) =>
          IndexStore.appendMinhashIndex(batch, "doc_id", "text", table)),
      probes => IndexStore.probeMinhash(spark, probes, "doc_id", "text", table)
        .orderBy("query_id", "match_id"))

  /** SimHash instance — same contract over the chunk table. */
  def runSimhash(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame =
    ingest(spark, sfDir, workDir, Seq(s"${table}_chunks"), idxPath,
      growing(spark, "simhash", table, autoCompactAppends)(
        (batch, _) => IndexStore.buildSimhashIndex(batch, "doc_id", "text",
          table, idxPath),
        (batch, _) =>
          IndexStore.appendSimhashIndex(batch, "doc_id", "text", table)),
      probes => IndexStore.probeSimhash(spark, probes, "doc_id", "text", table)
        .orderBy("query_id", "match_id"))

  /** Exact instance WITH the Bloom sidecar maintained per micro-batch —
    * the accelerated forever-sync gate shape: the first batch builds
    * the fingerprint index and sizes+writes the sidecar; every later
    * batch appends the index THEN ORs its fingerprints into the
    * persisted filter (O(batch) work each — the stamp protocol makes a
    * crash between the two writes degrade the next probe to the plain
    * join, never a false negative). Compactions re-refresh the sidecar
    * (they may reset the stamp, and the refresh also restores the
    * sized fpp). The finished store answers planted whitespace-twin
    * probes THROUGH the bloom prefilter, value-identical to the plain
    * probe — which is exactly what the oracle checks. */
  def runExactBloomed(spark: SparkSession, sfDir: String,
      workDir: String, table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    ingestFrames(spark, docs, workDir,
      Seq(s"${table}_fps", s"${table}_fpbloom"), idxPath,
      (batch, first, _) => {
        // all maintenance through the BATCH's session (the stream's
        // clone) — it is the session whose caches the appends
        // invalidate; mixing in the outer session here is how a stale
        // file listing once fed the sidecar (see probeExactBloomed's
        // refresh note)
        val bs = batch.sparkSession
        if (first) {
          IndexStore.buildExactIndex(batch, "doc_id", "text", table,
            idxPath)
          IndexStore.refreshBloomSidecar(bs, table)
        } else {
          IndexStore.appendExactIndex(batch, "doc_id", "text", table)
          IndexStore.appendBloomSidecar(bs, table, batch,
            "doc_id", "text")
          if (IndexStore.autoCompact(bs, "exact", table,
              autoCompactAppends))
            IndexStore.refreshBloomSidecar(bs, table)
          (): Unit
        }
      },
      () => IndexStore.probeExactBloomed(spark,
          docs.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 900000).as("doc_id"),
              concat(lit(" "), col("text"), lit("  ")).as("text"))
            .unionByName(docs.where(col("doc_id") % 5 === 2)
              .select((col("doc_id") + 950000).as("doc_id"),
                concat(col("text"), lit(" zmod")).as("text"))),
          "doc_id", "text", table)
        .orderBy("query_id", "match_id"))
  }

  /** Winnow (exact-substring) instance — same contract over the
    * fingerprint table: the finished index reports verbatim overlaps
    * for the planted perturbed docs. One-shot parity in StreamingSpec. */
  def runWinnow(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame =
    ingest(spark, sfDir, workDir, Seq(s"${table}_wins"), idxPath,
      growing(spark, "winnow", table, autoCompactAppends)(
        (batch, _) => IndexStore.buildWinnowIndex(batch, "doc_id", "text",
          table, idxPath),
        (batch, _) =>
          IndexStore.appendWinnowIndex(batch, "doc_id", "text", table)),
      probes => IndexStore.probeWinnow(spark, probes, "doc_id", "text",
          table)
        .orderBy("query_id", "match_id"))

  /** Bigram-LM instance — the model table maintained as a stream: each
    * micro-batch's counts append (built on the first), the lm kind's
    * counter-driven auto-compaction folds duplicate rows mid-stream,
    * and the finished model scores the held-out slice. Unlike the LSH
    * kinds this stream is FULLY oracle-checkable: counts are additive,
    * so the final table equals a one-shot train no matter how the file
    * source ordered the batches. Uses the batch-KEYED lifecycle — a
    * crash-replayed micro-batch would otherwise DOUBLE its additive
    * counts silently; with row keys a pre-compaction replay cancels at
    * read time and a post-compaction replay is skipped by the
    * high-water mark (replay drills in IndexStoreSpec). */
  def runLmIngest(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    ingestFrames(spark, docs.where(col("doc_id") % 10 < 8), workDir,
      Seq(s"${table}_counts"), idxPath,
      growing(spark, "lmk", table, autoCompactAppends)(
        (batch, batchId) =>
          IndexStore.buildLmIndexKeyed(batch, "doc_id", "text",
          table, idxPath, batchKey = batchId),
        (batch, batchId) =>
          IndexStore.appendLmIndexKeyed(batch, "doc_id", "text", table,
          batchId)),
      () => IndexStore.scoreFromLmIndexKeyed(spark, table,
          docs.where(col("doc_id") % 10 >= 8))
        .orderBy("doc_id"))
  }

  /** Continuous MIXTURE-MODEL maintenance: document micro-batches
    * stream into the persisted DoReMi count table (keyed lifecycle —
    * same crash-replay argument as [[runLmIngest]]), and at any point
    * the serving path recomputes the learned source weights from the
    * table alone, O(vocab), zero corpus re-read. This is the
    * production cadence ARCHITECTURE.md claims for the mixer: the
    * corpus pass rides the ingest, re-weighting is free. Counts are
    * additive, so the final weights equal a one-shot fit over the
    * streamed slice — the oracle. */
  def runDoremiIngest(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    ingestFrames(spark, docs.where(col("doc_id") % 10 < 8), workDir,
      Seq(s"${table}_dmc"), idxPath,
      growing(spark, "doremik", table, autoCompactAppends)(
        (batch, batchId) => IndexStore.buildDoremiIndexKeyed(batch, "doc_id",
          "source", "text", table, idxPath, batchKey = batchId),
        (batch, batchId) =>
          IndexStore.appendDoremiIndexKeyed(batch, "doc_id", "source",
          "text", table, batchId)),
      () => IndexStore.doremiWeightsFromIndexKeyed(spark, table)
        .select("source", "n_bigrams", "ref_milli", "own_milli",
          "excess_milli", "w_micro")
        .orderBy("source"))
  }

  /** [[runDoremiIngest]] with CONTINUOUS MAINTENANCE MONITORING: after
    * every appending micro-batch (and its auto-compact check) the
    * index-fleet health row lands in a telemetry sink keyed by batch —
    * the live time series of [[IndexStore.healthReport]]'s
    * is-maintenance-keeping-up glance. Watching it mid-stream is the
    * point: the appends_since_compact clock must tick up and RESET
    * when compaction fires, while live rows only grow. The telemetry
    * append is fire-and-forget (a replayed batch may duplicate a
    * health row — monitoring tolerates that; the INDEX side stays
    * exactly-once via the keyed lifecycle). */
  def runDoremiIngestMonitored(spark: SparkSession, sfDir: String,
      workDir: String, table: String, idxPath: String,
      autoCompactAppends: Int = 1): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    val healthDir = s"$workDir/health"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(healthDir))
    ingestFrames(spark, docs.where(col("doc_id") % 10 < 8), workDir,
      Seq(s"${table}_dmc"), idxPath,
      (batch, first, batchId) => {
        val s = batch.sparkSession
        if (first) IndexStore.buildDoremiIndexKeyed(batch, "doc_id",
          "source", "text", table, idxPath, batchKey = batchId)
        else {
          IndexStore.appendDoremiIndexKeyed(batch, "doc_id", "source",
            "text", table, batchId)
          IndexStore.autoCompact(s, "doremik", table,
            autoCompactAppends)
          (): Unit
        }
        IndexStore.healthReport(s, Seq(("doremik", table)))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(healthDir)
      },
      () => spark.read.parquet(healthDir).orderBy("batch_id"))
  }

  /** The COMPOSED multi-gate ingest, run as a stream — the reference's
    * cron loop (`/root/reference/README.md:11`, `partial-update.sh`) is
    * exactly "the composed sync, run forever": each arriving micro-batch
    * passes [[IndexStore.dedupIngestGate]] (exact → winnow → minhash,
    * cost-ascending, survivors appended to all three indexes — with the
    * per-kind auto-compaction counters live mid-stream), and the batch's
    * first-gate-attribution decisions accumulate into an append-mode
    * parquet sink, so at stream end the sink holds the full (id, gate)
    * history every batch contributed.
    *
    * The indexes are pre-built over the corpus before the stream starts
    * (the production shape: a resumed loop gates against everything
    * already persisted, not against an empty index). The two staged
    * batch files plant their duplicate relationships ONLY against the
    * pre-seeded index or WITHIN their own file — never across batch
    * files — so the final decision set is identical whichever order the
    * file source delivers the micro-batches in; that order-independence
    * is what makes this deterministic despite the source's listing
    * order being unspecified. Parity with running the batch-mode gate
    * over the same two frames sequentially, and checkpoint-stop/resume
    * recovery, are spec'd in StreamingSpec. */
  def runGate(spark: SparkSession, sfDir: String, workDir: String,
      exactTable: String, winnowTable: String, minhashTable: String,
      idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").where(col("doc_id") < 500)
    Seq(s"${exactTable}_fps", s"${winnowTable}_wins",
      s"${minhashTable}_bands", s"${minhashTable}_shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workDir))
    // pre-seed: the gate resumes against a persisted corpus index —
    // the three independent builds overlap (Ops.concurrently)
    IndexStore.buildGateIndexes(docs, "doc_id", "text", exactTable,
      winnowTable, minhashTable, idxPath, window = 40, guarantee = 10)
    val (b1, b2) = gateBatches(docs)
    val srcDir = s"$workDir/src"
    stageBatchFile(b1, workDir, srcDir, "b1")
    stageBatchFile(b2, workDir, srcDir, "b2")
    val sinkDir = s"$workDir/sink"
    runGateStream(spark, srcDir, sinkDir, s"$workDir/ckpt_${System.nanoTime()}",
      exactTable, winnowTable, minhashTable, autoCompactAppends)
    readGateSink(spark, sinkDir).orderBy("doc_id")
  }

  /** Stages `df` as ONE flat parquet file `srcDir/<name>.parquet` — the
    * file stream source reads a flat directory, and one file per staged
    * batch (with maxFilesPerTrigger = 1) makes file = micro-batch. */
  private[graft] def stageBatchFile(df: DataFrame, workDir: String,
      srcDir: String, name: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$workDir/stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("part-")).head
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(part.toPath, Paths.get(srcDir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    (): Unit
  }

  /** The two staged batch frames [[runGate]] streams: per batch file, a
    * byte-copy class (exact gate, vs the pre-seeded index), a co-batch
    * copy class (exact gate, batch-internal min-id keeper), a
    * tail-extended class (winnow gate), an every-30th-token
    * perturbation class (no intact 40-token window survives a ≤29-token
    * gap, so the winnow gate CANNOT cut it; its shingle jaccard ≈ 0.82
    * cuts at the minhash gate), and a disjoint-vocabulary rewrite class
    * (accepted). All relationships point at the index or stay inside
    * one file — none cross files (see [[runGate]]). */
  private[graft] def gateBatches(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    val perturbed = concat_ws(" ", transform(toks,
      (t, i) => when(i % 30 === 29, concat(t, lit("q"))).otherwise(t)))
    // per-DOC disjoint vocabulary (the ScaleRehearsal per-replica
    // trick): the corpus contains organic near-dup pairs, and a
    // shared-vocab rewrite of two near-identical sources would be a
    // legitimate minhash near-dup of its sibling — the SOURCE doc_id
    // prefix makes every rewrite disjoint from every other doc in
    // corpus, batch, and the OTHER batch file. Computed in a
    // PRELIMINARY select: inside a class select that aliases the
    // shifted id as doc_id, col("doc_id") resolves to the SHIFTED
    // value, which would make the "byte-copy" classes differ in their
    // embedded prefix (measured: nv820000x... vs nv830000x...).
    def novel(tag: String) = concat_ws(" ", transform(toks,
      (t, i) => concat(lit(tag), col("doc_id").cast("string"), lit("x"),
        t, i.cast("string"))))
    val every10 = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"), novel("nv").as("nv_text"),
        novel("wz").as("wz_text"), perturbed.as("p_text"))
    def cls(offset: Int, textCol: Column): DataFrame = every10
      .select((col("doc_id") + offset).as("doc_id"), textCol.as("text"))
    val b1 = cls(800000, col("text"))
      .unionByName(cls(810000, concat(col("text"), lit(" gtail gcoda"))))
      .unionByName(cls(820000, col("nv_text")))
      .unionByName(cls(830000, col("nv_text")))
    val b2 = cls(840000, col("p_text"))
      .unionByName(cls(850000, col("wz_text")))
      // byte-copies of b1's ACCEPTED novel rewrites: their fingerprints
      // enter the index only via batch 1's append, so this class exists
      // to prove cross-batch read-your-writes — a gate probing through
      // a stale session cache would wave every one of them in
      .unionByName(cls(860000, col("nv_text")))
    (b1, b2)
  }

  /** Starts (or resumes, given the same checkpoint dir) the gate stream
    * over the staged batch files and drains what is currently available,
    * synchronously — split out of [[runGate]] so the recovery spec can
    * drain with only b1 staged, "crash" (stop), stage b2, and drain
    * again from the same checkpoint: the resumed stream must process
    * exactly the un-committed file, never re-gating (and re-appending)
    * a batch the checkpoint already committed. */
  def runGateStream(spark: SparkSession, srcDir: String, sinkDir: String,
      checkpointDir: String, exactTable: String, winnowTable: String,
      minhashTable: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends): Unit =
    BatchManifest.gateDrain(spark, srcDir, sinkDir, checkpointDir,
      batch => IndexStore.dedupIngestGateCheck(batch.sparkSession, batch,
        "doc_id", "text", exactTable, winnowTable, minhashTable,
        window = 40, guarantee = 10),
      "doc_id", IndexStore.exactFingerprint(col("text")), exactTable,
      (d => IndexStore.appendWinnowIndex(d, "doc_id", "text", winnowTable,
          window = 40, guarantee = 10),
        d => IndexStore.appendMinhashIndex(d, "doc_id", "text",
          minhashTable)),
      d => IndexStore.appendExactIndex(d, "doc_id", "text", exactTable),
      Seq("winnow" -> winnowTable, "minhash" -> minhashTable,
        "exact" -> exactTable),
      autoCompactAppends)

  /** The committed gate sink — (id, gate) attribution rows; uncommitted
    * partial batch directories are invisible. */
  def readGateSink(spark: SparkSession, sinkDir: String,
      idCol: String = "doc_id"): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as(idCol), lit("").as("gate")))

  /** Resumable LM-ingest drain over a staged source directory (shared
    * checkpoint across calls — a re-drain processes only files staged
    * since the last): each new file's counts append to the model table,
    * built if absent. The between-drain reconciliation for MODEL state
    * is [[IndexStore.unlearnFromLmIndex]] — negated counts, exact —
    * spec'd in StreamingSpec the same way the gate take-down is. */
  def runLmStream(spark: SparkSession, srcDir: String,
      checkpointDir: String, table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends): Unit =
    BatchManifest.drain(spark, srcDir, checkpointDir) { (batch, batchId) =>
      if (!spark.catalog.tableExists(s"${table}_counts"))
        IndexStore.buildLmIndexKeyed(batch, "doc_id", "text", table,
          idxPath, batchKey = batchId)
      else {
        IndexStore.appendLmIndexKeyed(batch, "doc_id", "text", table,
          batchId)
        IndexStore.autoCompact(spark, "lmk", table, autoCompactAppends)
        (): Unit
      }
    }

  /** The EMBEDDING composed gate run as a stream — [[runGate]]'s twin
    * over the vec gate with all three slots live (exact-fingerprint →
    * SRP → trained-centroid IVF). The gates are separated by THRESHOLD
    * so each has a planted class only it can cut: the SRP gate runs at
    * 0.9999 (cuts the ×2-scaled cosine-1.0 copies; positive scaling
    * preserves every hyperplane sign, so the band join always surfaces
    * them), and the IVF gate at 0.999 (cuts the exact-rotation class
    * planted at cosine 0.9995 — BELOW the SRP gate's threshold, so SRP
    * finds the candidate but may not cut it, and the cut lands on the
    * gate whose threshold covers it). Indexes pre-seeded from the
    * corpus; decisions accumulate in an append sink; batch files plant
    * relationships only against the index or within their own file, so
    * the decision set is file-order independent. Rows-only (trained
    * k-means); batch parity, class attribution, and checkpoint recovery
    * spec'd in StreamingSpec. */
  def runGateVec(spark: SparkSession, sfDir: String, workDir: String,
      exactTable: String, srpTable: String, ivfTable: String,
      idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    import graft.operators.{IvfIndex, Similarity}
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        Similarity.toDoubleArray(col("embedding")).as("vec"))
      .where(col("vec_id") < 500)
    Seq(s"${exactTable}_fps", s"${srpTable}_bands", s"${srpTable}_vecs",
      s"${ivfTable}_lists", s"${ivfTable}_centroids")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(workDir))
    // three independent pre-seed builds, overlapped (Ops.concurrently)
    Ops.concurrently(
      () => IndexStore.buildExactVecIndex(vecs, "vec_id", "vec",
        exactTable, s"$idxPath/$exactTable"),
      () => IndexStore.buildSrpIndex(vecs, srpTable, s"$idxPath/$srpTable"),
      () => IndexStore.buildIvfIndex(vecs,
        IvfIndex.trainCentroids(vecs, k = 8, iters = 2), ivfTable,
        s"$idxPath/$ivfTable"))
    val (b1, b2) = gateVecBatches(vecs)
    val srcDir = s"$workDir/src"
    stageBatchFile(b1, workDir, srcDir, "b1")
    stageBatchFile(b2, workDir, srcDir, "b2")
    val sinkDir = s"$workDir/sink"
    runGateVecStream(spark, srcDir, sinkDir,
      s"$workDir/ckpt_${System.nanoTime()}", exactTable, srpTable,
      ivfTable, autoCompactAppends)
    readGateSink(spark, sinkDir, idCol = "vec_id").orderBy("vec_id")
  }

  /** The two staged batch frames [[runGateVec]] streams. Per class, one
    * designed gate: byte-copies of indexed vectors (exact gate);
    * ×2-scaled copies (cosine 1.0 — SRP gate at threshold 0.9999); an
    * EXACT rotation of each source toward a deterministic orthogonal
    * direction at cosine 0.9995 (between the two thresholds: the SRP
    * gate's band join surfaces the candidate but 0.9995 < 0.9999 so SRP
    * must not cut it; the IVF gate at 0.999 does); an alternating
    * sign-flip (cosine far below any threshold — accepted; a diagonal
    * ±1 transform is orthogonal, so flips of near-orthogonal sources
    * stay near-orthogonal to everything). Scaled and rotation classes
    * reference only pre-seeded index content; nothing crosses batch
    * files. */
  private[graft] def gateVecBatches(vecs: DataFrame)
      : (DataFrame, DataFrame) = {
    import graft.operators.Similarity
    val every10 = vecs.where(col("vec_id") % 10 === 0)
    def cls(offset: Int, vecExpr: Column): DataFrame = every10
      .select((col("vec_id") + offset).as("vec_id"), vecExpr.as("vec"))
    // exact rotation to cosine cosT: w = cosT·v̂ + sinT·p̂ with p̂ the
    // unit rejection of a hash-derived deterministic direction — |w|=1
    // and cos(w,v) = cosT up to float rounding (~1e-15, far inside the
    // 5e-4 gap to either threshold). Built in THREE selects with an
    // eager localCheckpoint after each: a scalar like p̂'s norm sits
    // inside a per-element lambda, so with one collapsed projection
    // Catalyst re-inlines each array's whole upstream tree into every
    // element slot and the staging plan's ANALYSIS cost goes
    // combinatorial (measured: ~190 s to stage 50 rows, re-paid by
    // every downstream action). The barrier makes each step read
    // stored arrays instead.
    def rotated(cosT: Double, offset: Int): DataFrame = {
      val sinT = math.sqrt(1 - cosT * cosT)
      val dim = 64
      val s1 = every10.select(col("vec_id"),
          transform(col("vec"), x =>
            x / sqrt(Similarity.dot(col("vec"), col("vec")))).as("vhat"),
          transform(sequence(lit(0), lit(dim - 1)), i =>
            pmod(hash(col("vec_id"), i), lit(100000)).cast("double")
              / lit(100000.0) - lit(0.5)).as("r"))
        .localCheckpoint()
      val s2 = s1.select(col("vec_id"), col("vhat"),
          zip_with(col("r"), col("vhat"), (rd, vd) =>
            rd - Similarity.dot(col("r"), col("vhat")) * vd).as("perp"))
        .localCheckpoint()
      s2.select((col("vec_id") + offset).as("vec_id"),
        zip_with(col("vhat"), col("perp"), (vd, pd) =>
          lit(cosT) * vd + lit(sinT) * pd
            / sqrt(Similarity.dot(col("perp"), col("perp")))).as("vec"))
    }
    val b1 = cls(800000, col("vec"))
      .unionByName(cls(810000, transform(col("vec"), x => x * 2.0d)))
    val b2 = rotated(0.9995, 820000)
      .unionByName(cls(830000, transform(col("vec"), (x, i) =>
        when(i % 2 === 0, -x).otherwise(x))))
    (b1, b2)
  }

  /** Starts (or resumes on the same checkpoint) the vec-gate stream —
    * split out like [[runGateStream]] so the recovery spec can crash
    * between staged files. */
  def runGateVecStream(spark: SparkSession, srcDir: String,
      sinkDir: String, checkpointDir: String, exactTable: String,
      srpTable: String, ivfTable: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends): Unit =
    BatchManifest.gateDrain(spark, srcDir, sinkDir, checkpointDir,
      batch => IndexStore.dedupIngestGateVecCheck(batch.sparkSession, batch,
        exactTable, srpTable, threshold = 0.9999,
        ivfTable = Some(ivfTable), ivfThreshold = 0.999),
      "vec_id", IndexStore.vecFingerprint(col("vec")), exactTable,
      (d => IndexStore.appendSrpIndex(d, srpTable),
        d => IndexStore.appendIvfIndex(d.sparkSession, d, ivfTable)),
      d => IndexStore.appendExactVecIndex(d, "vec_id", "vec", exactTable),
      Seq("srp" -> srpTable, "ivf" -> ivfTable, "exact" -> exactTable),
      autoCompactAppends)

  /** SRP (embedding ANN) instance — [[ingestFrames]] over the
    * embeddings table instead of documents; the finished index answers
    * top-k for the first queries. One-shot parity in StreamingSpec. */
  def runSrp(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    import graft.operators.Similarity
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        Similarity.toDoubleArray(col("embedding")).as("vec"))
    ingestFrames(spark, vecs, workDir,
      Seq(s"${table}_bands", s"${table}_vecs"), idxPath,
      growing(spark, "srp", table, autoCompactAppends)(
        (batch, _) => IndexStore.buildSrpIndex(batch, table, idxPath),
        (batch, _) => IndexStore.appendSrpIndex(batch, table)),
      () => IndexStore.probeSrp(spark, vecs.where(col("vec_id") < 10),
          table, k = 5)
        .orderBy("query_id", "rank"))
  }

  /** PQ (tenth kind) instance — the code store maintained as a stream:
    * codebooks train on the FIRST batch only (the frozen-book stance —
    * production trains books on a reference slice and encodes the
    * firehose against them; retraining mid-stream would orphan every
    * stored code word), later batches encode-and-append frozen with
    * the pq auto-compaction counter live. The finished store answers
    * ADC top-1 for planted ×2-scaled copies of the whole corpus
    * (scale-invariant codes) — the probe contract of the other vector
    * kinds. Batch-order independent: codes are a pure per-vector
    * function of the frozen books, wherever a vector lands. */
  def runPq(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    import graft.operators.Similarity
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        Similarity.toDoubleArray(col("embedding")).as("vec"))
    ingestFrames(spark, vecs, workDir,
      Seq(s"${table}_books", s"${table}_codes"), idxPath,
      growing(spark, "pq", table, autoCompactAppends)(
        (batch, _) => IndexStore.buildPqIndex(batch, table, idxPath),
        (batch, _) => IndexStore.appendPqIndex(batch, table)),
      () => IndexStore.probePqTopK(spark,
          vecs.where(col("vec_id") % 20 === 0)
            .select((col("vec_id") + 100000).as("vec_id"),
              transform(col("vec"), x => x * 2.0d).as("vec")),
          table, k = 1)
        .orderBy("query_id", "rank"))
  }

  /** HLL sketch-store instance: document micro-batches stream in, each
    * one's shingle registers are max-merged into the persisted sketch
    * (O(batch) scan + a ≤ m-row append — per-batch cost never grows
    * with stream lifetime), and the finished store serves the per-lang
    * registers. The oracle computes the DIRECT one-shot sketch of the
    * whole corpus; equality is the max algebra's batch-slicing
    * invariance, and the same algebra makes crash-replayed appends
    * free (no batch keys anywhere in this kind). */
  def runHllIngest(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang")
    def itemsOf(d: DataFrame): DataFrame = d.select(col("lang"),
      explode(Dedup.wordShingles(col("text"))).as("item"))
    ingestFrames(spark, docs, workDir, Seq(s"${table}_hregs"), idxPath,
      growing(spark, "hll", table, autoCompactAppends)(
        (batch, _) => IndexStore.buildHllIndex(itemsOf(batch), "lang",
          "item", table, idxPath),
        (batch, _) =>
          IndexStore.appendHllIndex(itemsOf(batch), "lang", "item", table)),
      () => IndexStore.hllRegistersFromIndex(spark, table)
        .orderBy("grp", "idx"))
  }

  /** Count-Min sketch-store instance: per-source frequency registers
    * summed per micro-batch (O(batch) scan + a bounded append — the
    * [[runHllIngest]] cost shape), but the registers are ADDITIVE, so
    * unlike the HLL kind every append rides the stream's batch id
    * through the keyed replay discipline — the crash-replay argument
    * is [[runLmIngest]]'s, applied to a sketch. The oracle is the
    * direct one-shot per-source sketch of the whole corpus: equality
    * is the sum algebra's batch-slicing invariance. */
  def runCmsIngest(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    def itemsOf(d: DataFrame): DataFrame = d.select(col("source"),
      explode(Dedup.wordShingles(col("text"))).as("item"))
    ingestFrames(spark, docs, workDir, Seq(s"${table}_cregs"), idxPath,
      growing(spark, "cms", table, autoCompactAppends)(
        (batch, batchId) => IndexStore.buildCmsIndex(itemsOf(batch), "source",
          "item", table, idxPath, batchKey = batchId),
        (batch, batchId) =>
          IndexStore.appendCmsIndex(itemsOf(batch), "source", "item",
          table, batchId)),
      () => IndexStore.cmsRegistersFromIndex(spark, table)
        .orderBy("grp", "row_j", "idx"))
  }

  /** Quantile-histogram store instance: per-source token-length
    * histograms summed per micro-batch under the keyed replay
    * discipline ([[runCmsIngest]]'s argument verbatim), the finished
    * store serving permille cutoffs with zero corpus reads. The
    * oracle is the direct one-shot per-source histogram of the whole
    * corpus — batch-slicing invariance by the additive algebra. */
  def runQhistIngest(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    def metricOf(d: DataFrame): DataFrame = d.select(col("source"),
      graft.functions.TextAnalysis.tokenCount(col("text"))
        .cast("long").as("v"))
    ingestFrames(spark, docs, workDir, Seq(s"${table}_qregs"), idxPath,
      growing(spark, "qh", table, autoCompactAppends)(
        (batch, batchId) =>
          IndexStore.buildQhistIndex(metricOf(batch), "source",
          "v", table, idxPath, batchKey = batchId),
        (batch, batchId) =>
          IndexStore.appendQhistIndex(metricOf(batch), "source", "v",
          table, batchId)),
      () => IndexStore.qhistRegistersFromIndex(spark, table)
        .orderBy("grp", "bucket"))
  }

  /** Source-authority store instance: per-batch (source, shingle)
    * distinct-document counts appended under the keyed replay
    * discipline ([[runCmsIngest]]'s argument verbatim — per-batch
    * counts are deterministic aggregates, so replays cancel row-wise),
    * the finished store serving fixed-point PageRank source ranks with
    * zero corpus reads. The oracle is the direct one-shot authority
    * SQL over the whole corpus — batch-slicing invariance by the
    * counts' commutative group over document sets. */
  def runAuthorityIngest(spark: SparkSession, sfDir: String,
      workDir: String, table: String, idxPath: String,
      autoCompactAppends: Int = IndexStore.DefaultAutoCompactAppends)
      : DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    ingestFrames(spark, docs, workDir, Seq(s"${table}_aph"), idxPath,
      growing(spark, "auth", table, autoCompactAppends)(
        (batch, batchId) => IndexStore.buildAuthorityIndex(batch, "source",
          "doc_id", "text", table, idxPath, batchKey = batchId),
        (batch, batchId) =>
          IndexStore.appendAuthorityIndex(batch, "source", "doc_id",
          "text", table, batchId)),
      () => IndexStore.authorityFromIndex(spark, table)
        .orderBy("source"))
  }
}
