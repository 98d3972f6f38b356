package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QualityRules

/** Gate-drift monitoring as a forever-sync: every micro-batch of the
  * crawl is scored by the INDEPENDENT gate flags
  * ([[QualityRules.gateFlags]]) and its verdict-combination counts land
  * in the sink keyed by arrival batch — the dashboard table an operator
  * watches to catch a crawl-mix shift (a batch whose `lang_en` share
  * collapses, a boilerplate source flooding `gopher_pass = 0`) BEFORE
  * the composed pipeline's kept-rate moves. Counts per batch are a pure
  * function of the batch's rows, so a replay re-derives identical
  * content; commits follow the [[BatchManifest]] protocol.
  */
object StreamingVenn {

  /** The committed verdict table (uncommitted partials invisible). */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").cast("int").as("batch_res"),
        col("id").cast("int").as("lang_en"),
        col("id").cast("int").as("c4_ok"),
        col("id").cast("int").as("gopher_pass"),
        col("id").as("n_docs")))

  /** Stages the documents table as 4 residue-class files, drains after
    * each; returns the accumulated per-batch verdict table
    * `(batch_res, lang_en, c4_ok, gopher_pass, n_docs)`. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      nBatches: Int = 4): DataFrame = {
    val srcDir = s"$workDir/src"
    val sinkDir = s"$workDir/sink"
    Seq(srcDir, sinkDir, s"$workDir/ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    BatchManifest.drainEach(spark, srcDir, s"$workDir/ckpt",
      (0 until nBatches).map(k => docs.where(col("doc_id") % nBatches === k)))(
      appendVenn(_, _, sinkDir, nBatches))
    readSink(spark, sinkDir)
      .orderBy("batch_res", "lang_en", "c4_ok", "gopher_pass")
  }

  /** One micro-batch's verdict counts → its own directory, committed by
    * atomic manifest rename: a replayed committed batch is a no-op, a
    * replayed uncommitted one overwrites byte-identical content (the
    * counts are a pure function of the rows). Exposed for the replay
    * drill in StreamingSpec. */
  def appendVenn(batch: DataFrame, batchId: Long, sinkDir: String,
      nBatches: Int): Unit =
    BatchManifest.guarded(sinkDir, batchId) { _ =>
      QualityRules.gateFlags(batch)
        .withColumn("batch_res", (col("doc_id") % nBatches).cast("int"))
        .groupBy("batch_res", "lang_en", "c4_ok", "gopher_pass")
        .agg(count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      "1"
    }
}
