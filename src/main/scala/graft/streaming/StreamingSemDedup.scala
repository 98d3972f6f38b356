package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}

/** SemDeDup as a forever-sync — the one major dedup operator that had
  * no streaming form: embedding micro-batches are assigned against
  * PINNED centroids (the quantizer is trained once batch-side, the IVF
  * practice), near-dup-checked within the batch AND against every
  * cluster member seen by earlier batches, and the keepers append to
  * the accepted sink.
  *
  * The cross-batch check runs against a SEEN store (all previously
  * arrived vectors, keepers or not), not the accepted sink: the batch
  * kernel drops a vector when ANY smaller-id cluster-mate near-dups it,
  * including mates that were themselves dropped — checking only
  * accepted members would re-admit the third copy of a triplet whose
  * second copy was dropped, silently diverging from the batch form.
  * With id-range staging (arrival order = id order), stream keepers
  * equal [[Similarity.semanticDedup]] over the whole corpus EXACTLY —
  * parity spec'd in StreamingSpec.
  *
  * Commits follow the [[BatchManifest]] protocol, one commit covering
  * the batch's `b<id>/` directory in BOTH stores; an uncommitted
  * replay re-derives identical decisions against the same committed
  * prefix, so replay safety costs ZERO history reads.
  *
  * Scale shape: assignment is map-only; the seen join is cluster-keyed
  * (never all-pairs). The seen store is written
  * `partitionBy(cluster_id)` and read back filtered to the BATCH's
  * clusters — an `isin` over a list bounded by the quantizer size, so
  * a batch touching few clusters prunes the others' partitions at the
  * scan (at production k ~ 10⁵ lists this is the difference between
  * reading the history and reading the batch's slice of it; the
  * history-∩-batch-clusters read itself is inherent to exact SemDeDup
  * semantics). A production deployment would add the hot-cluster star
  * cap to the cross-batch join; at the staged batch sizes here the
  * exact join keeps the drill value-checkable.
  */
object StreamingSemDedup {

  /** Embeddings ∪ ×1.001 copies of every 20th vector (the
    * ext_semantic_dedup fixture), staged in id-range order; returns the
    * accepted (vec_id, cluster_id) sink. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      threshold: Double = 0.999): DataFrame = {
    Seq("src", "seen", "kept", "ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$workDir/$d")))
    BatchManifest.forget(workDir)
    val base = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        Similarity.toDoubleArray(col("embedding")).as("vec"))
    val corpus = base.unionByName(base.where(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("vec"), x => x * 1.001).as("vec")))
    val centroids = IvfIndex.collectCentroids(
      base.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cluster_id"),
          col("vec").as("centroid")))
    val median = base.stat.approxQuantile("vec_id", Array(0.5), 0.0)
      .head.toLong
    val id = col("vec_id")
    BatchManifest.drainEach(spark, s"$workDir/src", s"$workDir/ckpt",
      Seq(id <= median, id > median && id < 100000, id >= 100000)
        .map(p => corpus.where(p)))(
      dedupBatch(_, _, centroids, threshold, workDir))
    readKept(spark, workDir).orderBy("vec_id")
  }

  /** The committed accepted sink — (vec_id, cluster_id); uncommitted
    * partial batch directories are invisible. (The manifest lives at
    * the workDir root because one commit covers BOTH stores.) */
  def readKept(spark: SparkSession, workDir: String): DataFrame =
    BatchManifest.readDirs(spark,
        BatchManifest.committedDirs(workDir, s"$workDir/kept"))(
        spark.range(0).select(col("id").as("vec_id"),
          col("id").cast("int").as("cluster_id")))
      .select("vec_id", "cluster_id")

  /** One micro-batch: within-batch kernel + cross-batch seen check →
    * per-batch directory writes → atomic manifest commit. A replayed
    * committed batch is a manifest-detected no-op; an uncommitted one
    * re-derives identical frames against the same committed prefix and
    * overwrites wholesale. Exposed for the drills in StreamingSpec. */
  def dedupBatch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Int, Seq[Double])], threshold: Double,
      workDir: String): Unit =
    BatchManifest.guarded(workDir, batchId) { committed =>
      val spark = batch.sparkSession
      val assigned = IvfIndex.withClusterId(batch, centroids, "vec")
        .localCheckpoint()
      // within-batch: the exact batch kernel over this batch alone
      val withinKept = Similarity
        .semanticDedup(batch, centroids, threshold)
        .select("vec_id")
      // cross-batch: any seen cluster-mate near-dup kills. The seen scan
      // unions committed batch dirs only and filters to this batch's
      // clusters — a bounded isin (≤ quantizer size) that prunes the
      // partitioned store to the slice the join can touch.
      val seenDirs = committed.map(e => s"$workDir/seen/b${e.id}")
      val crossKilled =
        if (seenDirs.isEmpty) assigned.select("vec_id").where(lit(false))
        else {
          // bounded by the literal quantizer
          val batchClusters = assigned.select("cluster_id").distinct()
            .collect().map(_.getInt(0)).toSeq
          // one read per committed dir (each root runs its own partition
          // discovery — a shared multi-root read can't infer cluster_id
          // under the b<id>/cluster_id=N layout); the isin prunes each
          // scan to the batch's clusters. Production compacts the seen
          // store periodically (the IndexStore discipline), bounding the
          // union width.
          val seen = seenDirs.map(d => spark.read.parquet(d))
            .reduce(_ unionByName _)
            .where(col("cluster_id").isin(batchClusters: _*))
            .select(col("vec_id").as("__sid"),
              col("cluster_id").as("__scl"), col("vec").as("__svec"))
          assigned.join(seen,
              col("cluster_id") === col("__scl") &&
                col("vec_id") =!= col("__sid"))
            .withColumn("__cos", Similarity.cosine(col("vec"), col("__svec")))
            .where(col("__cos").isNotNull && !isnan(col("__cos")) &&
              col("__cos") >= threshold)
            .select("vec_id").distinct()
        }
      assigned.select("vec_id", "cluster_id")
        .join(withinKept, "vec_id")
        .join(crossKilled, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$workDir/kept/b$batchId")
      // the seen store is the cross-batch join's right side: partitioned
      // by cluster so future batches' isin prunes at the scan
      assigned.select("vec_id", "vec", "cluster_id")
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$workDir/seen/b$batchId")
      // the commit covers both directories: visible together or not at all
      ""
    }
}
