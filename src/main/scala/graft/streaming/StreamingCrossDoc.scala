package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, SpanDedup}

/** Cross-document span removal as a forever-sync: the shingle
  * document-frequency index is built once batch-side over the
  * reference corpus (the frozen-reference stance — sr10's pinned
  * statistics, here as the ninth persisted kind), then arriving
  * documents are cleaned AS THEY LAND against it. Cleaning is
  * stateless per document — each batch's shingle starts probe the
  * bucketed `_sdf` table (index side stays put co-located by shingle,
  * only the batch moves: O(batch) per micro-batch) and the span merge
  * windows within the doc — so the drained sink equals the batch
  * [[SpanDedup.cleanedDocs]] row-for-row: fully oracle-checkable with
  * the SAME SQL as ext_crossdoc_clean.
  *
  * The span merge is a (non-time) window, which Structured Streaming
  * forbids on a streaming frame — hence foreachBatch under the
  * [[BatchManifest]] protocol; a replay overwrites byte-identically
  * (decisions are pure functions of the doc and the frozen index).
  */
object StreamingCrossDoc {

  /** Builds the frozen index over the documents table, streams the
    * same corpus through the cleaner in two micro-batches, returns the
    * accumulated (doc_id, n_before, n_removed, clean_text) sink. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String): DataFrame = {
    Seq("src", "sink", "ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new File(s"$workDir/$d")))
    spark.sql(s"DROP TABLE IF EXISTS ${table}_sdf")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(idxPath))
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    IndexStore.buildSpanIndex(docs, "doc_id", "text", table, idxPath)

    val srcDir = s"$workDir/src"
    val sinkDir = s"$workDir/sink"
    docs.repartition(2).write.mode("overwrite").parquet(srcDir)
    BatchManifest.drain(spark, srcDir, s"$workDir/ckpt")(
      cleanBatch(_, _, table, sinkDir))
    readSink(spark, sinkDir).orderBy("doc_id")
  }

  /** The committed sink; uncommitted partial batch dirs invisible. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_before"), col("id").as("n_removed"),
        lit("").as("clean_text")))

  /** One micro-batch: probe the frozen index, cut the flagged spans,
    * commit atomically. Exposed for the replay drill in StreamingSpec. */
  def cleanBatch(batch: DataFrame, batchId: Long, table: String,
      sinkDir: String): Unit =
    BatchManifest.guarded(sinkDir, batchId) { _ =>
      SpanDedup.cleanedDocsWith(batch, IndexStore.removalSpansFromIndex(
          batch.sparkSession, table, batch))
        .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      ""
    }
}
