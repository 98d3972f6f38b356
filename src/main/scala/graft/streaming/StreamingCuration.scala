package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{IndexStore, NgramLm, Ops}

/** The CCNet curation pipeline run as a forever-sync: a document stream
  * (the crawl) flows micro-batch by micro-batch through language-ID +
  * quality gates, a stream-static LM perplexity gate, and an
  * exact-dedup ingest against a PERSISTED fingerprint index pre-seeded
  * with the accepted corpus — survivors append to the index, so later
  * batches dedup against everything accepted before them. This is the
  * production composition of sr7 (stream-static scoring), the
  * dedup-ingest loop, and the batch `ext_ccnet_pipeline`.
  *
  * Two choices keep the stream fully ORACLE-checkable where the batch
  * pipeline's tercile banding would not be: (1) the perplexity gate is
  * a FIXED threshold — the ⌈2n/3⌉-th order statistic of the training
  * slice's own scores, an integer both engines compute identically —
  * which is also the production shape (CCNet computes cutoffs on a
  * reference corpus, then filters the crawl against frozen cutoffs);
  * (2) staged arrival order is a pure function of the data AND
  * monotone in doc_id (id-range files drained in order), so the
  * stream's first-arriving duplicate keeper IS the oracle's min-id
  * keeper for every duplicate group — organic ones included — and
  * acceptance is replayable in SQL.
  */
object StreamingCuration {

  /** Returns the accepted sink: (doc_id, lang_pred, quality,
    * h_milli_tok), one row per crawl doc that cleared every gate. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val train = docs.where(col("doc_id") % 10 < 8)
    // the crawl: the held-out slice plus whitespace-perturbed copies of
    // its % 10 = 8 docs (same fingerprint, id + 100000 — so every copy
    // arrives in a LATER id-range batch than its original and is cut by
    // the index probe, the production cross-batch dedup path)
    val crawl = docs.where(col("doc_id") % 10 >= 8)
      .unionByName(docs.where(col("doc_id") % 10 === 8)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit(" "), col("text"), lit("  ")).as("text")))

    // model, vocab literal, and the frozen perplexity cutoff — all
    // batch-side, pinned so the per-batch stream-static joins don't
    // re-run training (see StreamingLmScore for the boundary story)
    val raw = NgramLm.train(train, eagerCounts = true) // scored next line
    val model = raw.copy(
      contextCounts = Ops.checkpointKeepPartitioning(raw.contextCounts))
    val trainScores = NgramLm.scoreMicroBits(model, train)
      .select("doc_id", "h_milli_tok").localCheckpoint()
    val n = trainScores.count()
    val kOrd = ((2L * n) / 3L).max(1L)
    // Exact ⌈2n/3⌉-th order statistic via the distributed rank
    // (Ops.kthOrderedValue), not orderBy().limit(k): CCNet's production
    // shape computes cutoffs on a bounded reference corpus where a
    // driver top-k would be defensible, but k ∝ n here and the engine
    // already owns the scale-safe form — one code path for both.
    val thr = graft.operators.Ops.kthOrderedValue[Long](trainScores,
      col("h_milli_tok"), col("doc_id"), kOrd)
      .getOrElse(sys.error("empty training slice — no perplexity cutoff"))

    // the accepted-corpus fingerprint index, pre-seeded with the
    // training slice: crawl docs that duplicate the corpus never
    // re-enter it
    spark.sql(s"DROP TABLE IF EXISTS ${table}_fps")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    IndexStore.buildExactIndex(train, "doc_id", "text", table, idxPath)

    val srcDir = s"$workDir/src"
    val sinkDir = s"$workDir/sink"
    Seq(srcDir, sinkDir, s"$workDir/ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    // Stage batches in doc_id-RANGE order, so arrival order equals id
    // order and the stream's first-arriving keeper coincides with the
    // oracle's min-id keeper for EVERY duplicate group — planted or
    // organic — with no fixture precondition. (Parity staging would
    // keep the first-arriving, possibly larger, id of an organic pair
    // straddling batches, silently diverging from the min-id oracle.)
    // The crawl's id space is [0, 100000) originals then ≥ 100000
    // copies; the median split keeps the original slice in two batches
    // so index-gate acceptance is exercised across arrivals too.
    val median = crawl.where(col("doc_id") < 100000)
      .stat.approxQuantile("doc_id", Array(0.5), 0.0).head.toLong
    val id = col("doc_id")
    BatchManifest.drainEach(spark, srcDir, s"$workDir/ckpt",
      Seq(id <= median, id > median && id < 100000, id >= 100000)
        .map(p => crawl.where(p)))(
      curateBatch(_, _, model, thr, table, sinkDir))
    readSink(spark, sinkDir).orderBy("doc_id")
  }

  /** The committed accepted sink — uncommitted partial batch
    * directories are invisible (no torn reads). */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as("doc_id"),
        lit("").as("lang_pred"), col("id").cast("double").as("quality"),
        col("id").as("h_milli_tok")))

  /** One micro-batch of the loop: gates → dedup-CHECK against the
    * index → per-batch sink directory → guarded index append → commit,
    * in exactly that order (the [[BatchManifest]] protocol — replay
    * safety costs ZERO history reads). A replayed UNCOMMITTED batch
    * re-derives the identical accepted set — the index probes
    * self-id-filter, so even a replay whose index append DID run sees
    * the same decisions (its own fingerprints match only themselves; a
    * duplicate-group copy is cut by the index instead of the
    * within-batch keeper rule, the same verdict). */
  def curateBatch(batch: DataFrame, batchId: Long,
      model: NgramLm.Model, thr: Long, table: String,
      sinkDir: String): Unit =
    BatchManifest.guarded(sinkDir, batchId) { _ =>
      val spark = batch.sparkSession
      val feat = batch.select(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val kept = feat
        .join(NgramLm.scoreMicroBits(model, batch)
          .select("doc_id", "h_milli_tok"), "doc_id")
        .where(col("lang_pred") === "en" && col("quality") >= 0.45 &&
          col("h_milli_tok") <= thr)
        .localCheckpoint()
      // dedup CHECK only — no side effects yet
      val matches = IndexStore.probeExact(spark,
        kept.select("doc_id", "text"), "doc_id", "text", table)
      val vsIndex = kept.join(
        matches.select(col("query_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      // within-batch keeper via groupBy(min) + join, the repo's
      // hot-fingerprint doctrine (fineWebPipeline, ext_ccnet): a
      // per-fingerprint window would funnel a hot boilerplate
      // fingerprint's copies through one window partition
      val fped = vsIndex
        .withColumn("__fp", IndexStore.exactFingerprint(col("text")))
      val keeper = fped
        .join(fped.groupBy("__fp").agg(min(col("doc_id")).as("__keep")),
          "__fp")
        .where(col("doc_id") === col("__keep"))
        .drop("__fp", "__keep")
        .localCheckpoint()
      keeper.select("doc_id", "lang_pred", "quality", "h_milli_tok")
        .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      IndexStore.appendExactIndex(
        BatchManifest.notYetIndexed(spark, keeper, "doc_id",
          IndexStore.exactFingerprint(col("text")), table)
          .select("doc_id", "text"),
        "doc_id", "text", table)
      IndexStore.autoCompact(spark, "exact", table)
      ""
    }
}
