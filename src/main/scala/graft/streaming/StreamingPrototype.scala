package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Ops, Similarity}

/** SSL-prototype pruning as a forever-sync: centroids and the
  * prototypicality cutoff are fitted once in batch (the frozen-cutoff
  * discipline of the CCNet loop — sr10 — where corpus-relative
  * statistics come from a pinned reference corpus, not from the
  * unbounded stream), then embeddings are gated AS THEY LAND by one
  * zero-exchange projection: assign to the nearest literal centroid,
  * score the cosine, keep strictly below the cutoff. Scoring is
  * stateless per row, so the drained complete-mode table equals the
  * batch `ext_prototype_prune` row-for-row — fully oracle-checkable
  * with the SAME chained SQL.
  */
object StreamingPrototype {

  /** Fit centroids + cutoff on the static corpus, stream-gate the same
    * corpus in two micro-batches, return the final kept table. */
  def run(spark: SparkSession, sfDir: String, workDir: String): DataFrame = {
    val base = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        Similarity.toDoubleArray(col("embedding")).as("vec"))
    val cent = IvfIndex.collectCentroids(
      base.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cluster_id"),
          col("vec").as("centroid")))
    val asg = IvfIndex.withClusterSim(base, cent).localCheckpoint()
    val real = asg.where(col("proto_sim").isNotNull)
    val k = ((real.count() + 4) / 5).max(1L)
    val cutoff = Ops.kthOrderedValue[Double](real, -col("proto_sim"),
        col("vec_id"), k)
      .fold(Double.PositiveInfinity)(neg => -neg) // no scorables → keep all

    val srcDir = s"$workDir/src_${System.nanoTime()}"
    base.repartition(2).write.mode("overwrite").parquet(srcDir)
    BatchManifest.drainToMemory(spark, srcDir, "append")(stream =>
      IvfIndex.withClusterSim(stream, cent)
        .where(col("proto_sim").isNull || col("proto_sim") < lit(cutoff))
        .select(col("vec_id"), col("cluster_id"),
          floor(col("proto_sim") * lit(1000000.0)).cast("long")
            .as("proto_micro")))
      .orderBy("vec_id")
  }
}
