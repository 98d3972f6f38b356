package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Distill, QualityRules}

/** The distilled quality gate as a forever-sync: weights are fitted
  * once batch-side over the reference corpus (the nightly-fit stance —
  * production would read the persisted weight table), then the
  * document stream is scored micro-batch by micro-batch under the
  * weight LITERAL: per-batch work is a stateless zero-shuffle
  * projection, the cheapest possible serving shape — no model join, no
  * state store, nothing that grows with stream lifetime. Every doc
  * arrives whole, so the final appended table equals the batch gate
  * row-for-row, which is exactly what the DuckDB oracle checks.
  */
object StreamingDistill {

  def run(spark: SparkSession, sfDir: String, workDir: String): DataFrame =
    runWith(spark, sfDir, workDir,
      Distill.fit(
        graft.DistillQueries.labeledFeatures(spark, sfDir), "buckets", "y"))

  /** The amortized variant (`sr33`): weights HYDRATED from the
    * persisted index — the fit's corpus scans are paid at build time,
    * not per stream launch; model load is one bounded table read. */
  def runFromIndex(spark: SparkSession, sfDir: String, workDir: String,
      table: String): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS ${table}_lw")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$workDir/idx"))
    graft.operators.IndexStore.buildDistillIndex(
      graft.DistillQueries.labeledFeatures(spark, sfDir), "buckets", "y",
      table, s"$workDir/idx")
    runWith(spark, sfDir, workDir,
      graft.operators.IndexStore.distillWeightsFromIndex(spark, table))
  }

  private def runWith(spark: SparkSession, sfDir: String, workDir: String,
      w: Map[String, Long]): DataFrame = {
    val corpus = graft.DistillQueries.corpusOf(spark, sfDir)

    val srcDir = s"$workDir/src_${System.nanoTime()}"
    corpus.repartition(2).write.mode("overwrite").parquet(srcDir)
    BatchManifest.drainToMemory(spark, srcDir, "append") { stream =>
      Distill.score(
          stream.select(col("doc_id"),
            Distill.featureBuckets(col("text")).as("buckets"),
            QualityRules.gopherPassColumn(col("text")).cast("int")
              .as("teacher_pass")),
          "buckets", w)
        .select("doc_id", "z_micro", "student_pass", "teacher_pass")
    }.orderBy("doc_id")
  }
}
