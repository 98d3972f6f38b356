package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IndexStore

/** Paragraph-level dedup as a forever-sync — the streaming form of
  * [[graft.operators.Dedup.paragraphDedup]], and the shape CCNet's
  * paragraph-hash dedup actually deploys as (a crawl never arrives at
  * once): each micro-batch's lines are checked within the batch
  * (first-occurrence keeper) and against the PERSISTED line-fingerprint
  * index of every earlier batch; surviving lines append to the index,
  * cleaned documents land in per-batch sink directories under the
  * [[BatchManifest]] protocol, whose self-probe guards the index
  * append.
  *
  * The line index REUSES the exact IndexStore kind wholesale — a line
  * is just a tiny document keyed by its (doc, line) position — so the
  * stream inherits the bucketed zero-index-shuffle probe, append
  * compaction, and take-down machinery without a new index kind.
  *
  * With id-range staging (arrival order = id order) the stream's
  * first-arriving line keeper IS the corpus-wide min-(doc,line) keeper,
  * so the output checks against the SAME oracle SQL as the batch form,
  * verbatim.
  */
object StreamingParagraphDedup {

  /** The ext_paragraph_dedup fixture corpus (boilerplate planted on
    * every third doc), staged in id-range order; returns the cleaned
    * (doc_id, n_kept, clean_text) sink. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String): DataFrame = {
    Seq("src", "sink", "ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$workDir/$d")))
    spark.sql(s"DROP TABLE IF EXISTS ${table}_fps")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val corpus = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit("\nSubscribe to our newsletter today!" +
            "\nAll rights reserved worldwide.")))
        .otherwise(col("text")).as("text"))
    // empty pre-seed on the LINE key space (string-typed: see the
    // fixed-width pid encoding in dedupBatch)
    IndexStore.buildExactIndex(
      corpus.where(lit(false)).select(
        col("doc_id").cast("string").as("pid"),
        col("text").as("para")),
      "pid", "para", table, idxPath)
    val median = corpus.stat.approxQuantile("doc_id", Array(0.5), 0.0)
      .head.toLong
    BatchManifest.drainEach(spark, s"$workDir/src", s"$workDir/ckpt",
      Seq(corpus.where(col("doc_id") <= median),
        corpus.where(col("doc_id") > median)))(
      dedupBatch(_, _, table, s"$workDir/sink"))
    readSink(spark, s"$workDir/sink").orderBy("doc_id")
  }

  /** The committed cleaned sink; uncommitted partials invisible. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_kept"), lit("").as("clean_text")))

  /** One micro-batch: explode lines → within-batch first-occurrence
    * keeper (groupBy+join, never a hash window) → cross-batch probe of
    * the line index (self-id filtered, so replays after a completed
    * append re-derive the same decisions) → per-batch directory write →
    * self-probe-guarded index append → atomic manifest commit. Exposed
    * for the drills in StreamingSpec. */
  def dedupBatch(batch: DataFrame, batchId: Long, table: String,
      sinkDir: String): Unit =
    BatchManifest.guarded(sinkDir, batchId) { _ =>
      val spark = batch.sparkSession
      // the line key: fixed-width "doc:line" so LEXICOGRAPHIC order on
      // the scalar key equals numeric (doc_id, para_idx) order — the
      // index needs a scalar id and the arithmetic doc_id·10⁶ + para_idx
      // encoding wraps 63-bit longs past doc ids ~9.2e12 (real for
      // 64-bit hash ids). Non-negative ids and < 10⁷ lines per doc are
      // the width contract (matching the batch struct-min semantics).
      val paras = batch.select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("para_idx", "para")))
        .withColumn("pid",
          format_string("%019d:%07d", col("doc_id"), col("para_idx")))
        .withColumn("ph",
          graft.functions.TextAnalysis.fingerprintMd5(col("para")))
        .localCheckpoint()
      val withinFirst = paras.join(
          paras.groupBy("ph").agg(min(col("pid")).as("__first")), "ph")
        .where(col("pid") === col("__first"))
        .drop("__first")
      val crossSeen = IndexStore.probeExact(spark,
          withinFirst.select("pid", "para"), "pid", "para", table)
        .select(col("query_id").as("pid")).distinct()
      val keptLines = withinFirst
        .join(crossSeen, Seq("pid"), "left_anti")
        .localCheckpoint()
      keptLines.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws("\n", transform(
            array_sort(collect_list(struct(col("para_idx"), col("para")))),
            s => s.getField("para"))).as("clean_text"))
        .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      IndexStore.appendExactIndex(
        BatchManifest.notYetIndexed(spark, keptLines, "pid",
          IndexStore.exactFingerprint(col("para")), table)
          .select("pid", "para"),
        "pid", "para", table)
      IndexStore.autoCompact(spark, "exact", table)
      ""
    }
}
