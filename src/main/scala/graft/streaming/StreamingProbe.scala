package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.LinearProbe

/** The supervised probe maintained AS a stream — the supervised twin of
  * sr8's streamed LM ingest: each arriving micro-batch contributes its
  * one-row integer moment frame to a persisted, batch-keyed moment
  * sink; the final model is the ridge solve over the SUM of one row
  * per batch. Moments are additive and exact, so the result is
  * batch-order independent and bit-identical to a one-shot train over
  * the whole corpus — which is exactly what the oracle checks (the
  * stream runs against `ext_linear_probe`'s one-shot SQL).
  *
  * Replay safety (the LM ingest's batch-keyed lifecycle, applied
  * here): `foreachBatch` may re-deliver a batch after a crash, and an
  * append-mode sink would then hold its moment row twice — double-
  * counting the batch in the fold. Every row carries its `batch_id`,
  * and the fold takes ONE row per id before summing; a replayed batch
  * recomputes the identical row, so which duplicate survives is
  * immaterial. The idempotence is spec'd in StreamingSpec by planting
  * a duplicate row directly in the sink.
  */
object StreamingProbe {

  /** The t5-planted corpus's integer feature frame (shared with the
    * ext_linear_probe / ext_probe_incremental builders). */
  private[graft] def features(docs: DataFrame): DataFrame = {
    val corpus = docs.unionAll(docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
    corpus.select(col("doc_id"),
      floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + 0.5)
        .cast("long").as("x1"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("x2"),
      floor(TextAnalysis.repetitionRatio(col("text")) * 10000.0 + 0.5)
        .cast("long").as("y"))
  }

  /** Fold the batch-keyed moment sink into the final fit. */
  private[graft] def fitFromSink(spark: SparkSession,
      momentsDir: String): DataFrame = {
    val one = spark.read.parquet(momentsDir).dropDuplicates("batch_id")
    val total = one.agg(
      sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
      sum("s11").as("s11"), sum("s12").as("s12"), sum("s22").as("s22"),
      sum("sy").as("sy"), sum("s1y").as("s1y"), sum("s2y").as("s2y"),
      sum("syy").as("syy"))
    LinearProbe.ridgeFromMoments(total, lambda = 1.0)
  }

  /** Drain everything currently staged in `srcDir` through the moment
    * fold, against a caller-owned checkpoint — restartable: a resumed
    * drain on the same checkpoint folds only files staged since. */
  private[graft] def runStream(spark: SparkSession, srcDir: String,
      momentsDir: String, ckpt: String): Unit =
    BatchManifest.drain(spark, srcDir, ckpt)(foldMoments(momentsDir))

  /** One micro-batch's moment row, appended under its batch id. */
  private def foldMoments(momentsDir: String)(batch: DataFrame,
      batchId: Long): Unit =
    LinearProbe.moments(batch, "x1", "x2", "y")
      .withColumn("batch_id", lit(batchId))
      .coalesce(1).write.mode("append").parquet(momentsDir)

  def run(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val srcDir = s"$workDir/src"
    val momentsDir = s"$workDir/moments"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(momentsDir))
    features(docs).repartition(2).write.mode("overwrite").parquet(srcDir)
    BatchManifest.drainOnce(spark, srcDir, workDir)(foldMoments(momentsDir))
    fitFromSink(spark, momentsDir)
  }
}
