package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.NgramLm

/** Perplexity scoring as a forever-sync: the bigram LM is trained once
  * in batch, then a document stream is scored against it micro-batch by
  * micro-batch — the online half of a CCNet-style quality loop (train
  * nightly on the accepted corpus, score the crawl as it lands). The
  * scoring side is stateless per bigram and stateful only in the
  * per-doc aggregate, and because every doc arrives whole in one file,
  * the final complete-mode table equals the batch scorer's output
  * row-for-row — which is what makes this stream fully
  * DuckDB-oracle-checkable, unlike the LSH ingest streams.
  */
object StreamingLmScore {

  /** Train on the 80% doc_id-hash slice, stream-score the held-out 20%
    * in two micro-batches, return the final scored table.
    *
    * The model's count frames sit behind materialization boundaries: a
    * stream-static join re-evaluates its static side every micro-batch,
    * so an unpinned model would re-run the training aggregations per
    * batch (a production deployment scoring thousands of batches would
    * instead read the model from a persisted table — same shape,
    * durable form). The vocabulary size is resolved to a literal here
    * (bounded 1-row collect) because a stream cannot cross-join the
    * lazy 1-row vocab frame. */
  def run(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val raw = NgramLm.train(docs.where(col("doc_id") % 10 < 8),
      eagerCounts = true) // batch-side materialization, not at batch 1
    // bigramCounts is materialized at setup by eagerCounts above (every
    // micro-batch then reads blocks); the context rollup derived from it
    // needs its own pin here
    val model = raw.copy(
      contextCounts = graft.operators.Ops.checkpointKeepPartitioning(
        raw.contextCounts))
    val vsize = raw.vocabSize.head().getLong(0)

    val srcDir = s"$workDir/src_${System.nanoTime()}"
    docs.where(col("doc_id") % 10 >= 8)
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    BatchManifest.drainToMemory(spark, srcDir, "complete")(
        NgramLm.scoreBigramsWithVocab(_, model, vsize))
      .orderBy("doc_id")
  }
}
