package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dsir

/** DSIR target-steering as a forever-sync: the importance model (per-
  * bucket log-ratio table) is fitted once in batch from the target and
  * raw corpora, then the raw crawl is scored AS IT LANDS and gated on
  * `w_milli > 0` — keep what looks more target than crawl. The online
  * half of the "refit nightly, steer continuously" loop; the
  * [[StreamingLmScore]] shape with a DSIR model in place of the bigram
  * LM. Every document arrives whole in one file, scoring is stateless
  * per feature and stateful only in the per-doc aggregate, so the
  * drained complete-mode table equals the batch scorer row-for-row —
  * fully DuckDB-oracle-checkable.
  */
object StreamingDsir {

  /** Fit on the static src0-vs-rest split, stream-score the raw slice
    * in two micro-batches, return the gated final table. */
  def run(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source")
    val model = Dsir.fit(
      docs.where(col("source") === "src0"),
      docs.where(col("source") =!= "src0"), hexChars = 2)
    // pin the ratio table: a stream-static join re-evaluates its static
    // side every micro-batch, and an unpinned model would re-run both
    // corpus fits per batch. Bounded ≤ 16^hexChars rows — eager is cheap.
    val ratios = model.ratios.localCheckpoint()
    val r0 = model.unseen.head().getLong(0)

    val srcDir = s"$workDir/src_${System.nanoTime()}"
    docs.where(col("source") =!= "src0").select("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    BatchManifest.drainToMemory(spark, srcDir, "complete")(stream =>
      Dsir.scoreWeightsStream(ratios, r0, model.hexChars, stream)
        .where(col("w_milli") > 0))
      .orderBy("doc_id")
  }
}
