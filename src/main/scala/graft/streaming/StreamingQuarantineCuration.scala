package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{IndexStore, QualityRules}

/** The quarantine-staged curation pipeline as a forever-sync — the
  * round's damage-triage ordering (`ext_quarantine_pipeline`) run the
  * way production runs it: encoding damage is cut at stage zero of
  * every micro-batch BEFORE any text heuristic can misread it, the
  * FineWeb gates run as one codegen'd projection over the clean
  * remainder, and survivors dedup against a persisted exact index
  * pre-seeded with everything the lake already holds — so nothing
  * already seen is ever re-accepted, across batches and across runs.
  *
  * Attribution is TOTAL: every crawl doc lands in the sink with its
  * verdict (charset / lang / c4_page / gopher / dedup / kept), the
  * same contract as the batch pipeline, which is what makes the
  * stream fully value-checkable: staged arrival order equals id order,
  * so the stream's first-arriving keeper coincides with the oracle's
  * min-id keeper for every duplicate group.
  *
  * Per-batch cost is O(batch): the gates are scan-local expressions,
  * the index probe moves only the batch (fp-bucketed index side stays
  * put), and the sink follows the [[BatchManifest]] protocol (the
  * StreamingCuration replay argument verbatim).
  */
object StreamingQuarantineCuration {

  /** Runs the staged crawl through the gate loop; returns the
    * committed total attribution (doc_id, cut_stage). */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val base = docs.where(col("doc_id") % 10 < 8)
    // the crawl: held-out originals, whitespace twins of the % 10 = 8
    // slice (same fingerprint, later batch — the cross-batch keeper
    // path), whitespace twins of LAKE docs (cut by the pre-seeded
    // index), and a damaged would-be survivor (structured text that
    // clears every FineWeb gate, carrying one control byte)
    val crawl = docs.where(col("doc_id") % 10 >= 8)
      .unionByName(docs.where(col("doc_id") % 10 === 8)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit(" "), col("text"), lit("  ")).as("text")))
      .unionByName(docs.where(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(lit(" "), col("text"), lit(" ")).as("text")))
      .unionByName(docs.where(col("doc_id") % 10 === 9)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(graft.ExtensionQueries.structuredVariant(col("text")),
            lit("\u0001")).as("text")))

    spark.sql(s"DROP TABLE IF EXISTS ${table}_fps")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    IndexStore.buildExactIndex(base, "doc_id", "text", table, idxPath)

    val srcDir = s"$workDir/src"
    val sinkDir = s"$workDir/sink"
    Seq(srcDir, sinkDir, s"$workDir/ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    // id-range staging: arrival order = id order (the StreamingCuration
    // keeper-coincidence argument); the plant id bands land in later
    // batches than every original they duplicate
    val id = col("doc_id")
    BatchManifest.drainEach(spark, srcDir, s"$workDir/ckpt",
      Seq(id < 100000, id >= 100000 && id < 200000,
        id >= 200000 && id < 700000, id >= 700000)
        .map(p => crawl.where(p)))(
      curateBatch(_, _, table, sinkDir))
    readSink(spark, sinkDir).orderBy("doc_id")
  }

  /** The committed attribution sink. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as("doc_id"),
        lit("").as("cut_stage")))

  /** One micro-batch: quarantine + FineWeb gates (one projection) →
    * index dedup-check → within-batch min-id keeper → per-batch sink
    * dir → self-probe-guarded index append → atomic manifest commit.
    * Same replay-safety ordering as StreamingCuration.curateBatch. */
  def curateBatch(batch: DataFrame, batchId: Long, table: String,
      sinkDir: String): Unit =
    BatchManifest.guarded(sinkDir, batchId) { _ =>
      val spark = batch.sparkSession
      val t = col("text")
      // pinned: the cut branch, survivor branch, and keeper aggregate all
      // read it (the fineWebPipeline boundary doctrine); thin — no text
      val staged = batch.select(col("doc_id"), col("text"),
          IndexStore.exactFingerprint(t).as("__fp"),
          when(TextAnalysis.charsetQuarantine(t) === 1, "charset")
            .otherwise(QualityRules.fineWebStageExpr(t)).as("stage"))
        .localCheckpoint()
      val cut = staged.where(col("stage") =!= "survivor")
        .select(col("doc_id"), col("stage").as("cut_stage"))
      val surv = staged.where(col("stage") === "survivor")
      // dedup CHECK against everything accepted before this batch
      val matches = IndexStore.probeExact(spark,
        surv.select("doc_id", "text"), "doc_id", "text", table)
      val idxDup = surv.join(
          matches.select(col("query_id").as("doc_id")).distinct(), "doc_id")
        .select(col("doc_id"), lit("dedup").as("cut_stage"))
      val fresh = surv.join(
          matches.select(col("query_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // within-batch keeper: groupBy(min) + join (hot-fingerprint safe)
      val withKeep = fresh.join(
        fresh.groupBy("__fp").agg(min(col("doc_id")).as("__keep")), "__fp")
      val verdicts = cut
        .unionByName(idxDup)
        .unionByName(withKeep.select(col("doc_id"),
          when(col("doc_id") === col("__keep"), "kept")
            .otherwise("dedup").as("cut_stage")))
      verdicts.write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      // guarded index append of this batch's keepers
      val keeper = withKeep.where(col("doc_id") === col("__keep"))
      IndexStore.appendExactIndex(
        BatchManifest.notYetIndexed(spark, keeper, "doc_id", col("__fp"), table)
          .select("doc_id", "text"),
        "doc_id", "text", table)
      IndexStore.autoCompact(spark, "exact", table)
      ""
    }
}
