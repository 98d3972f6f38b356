package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BestFitPacking, Ops}

/** Continuous no-truncation packing — the streaming form of
  * [[BestFitPacking]]: document micro-batches pack into fixed-budget
  * bins as they arrive, bin numbering continuing where the committed
  * sink left off. Bins deliberately CLOSE at batch end (a bin never
  * spans micro-batches): an open-bin continuation would make every
  * batch's output depend on mutable cross-batch state, and the cost is
  * bounded — at most one under-half bin per FFD segment per batch, the
  * same tail the batch packer leaves per segment.
  *
  * Commits follow the [[BatchManifest]] protocol, each entry holding
  * its batch's BIN count: the committed total is the next batch's bin
  * offset, so a replayed uncommitted batch repacks with the same offset
  * and the packing is bit-deterministic under crash-replay.
  */
object StreamingPacking {

  /** Stages the documents table as `nBatches` residue-class files,
    * draining after each; returns the accumulated
    * (item_id, n_tokens, bin_id) sink. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      binSize: Long = 256L, nBatches: Int = 4): DataFrame = {
    val srcDir = s"$workDir/src"
    val sinkDir = s"$workDir/sink"
    Seq(srcDir, sinkDir, s"$workDir/ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new File(d)))
    val items = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("item_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
    BatchManifest.drainEach(spark, srcDir, s"$workDir/ckpt",
      (0 until nBatches).map(k =>
        items.where(col("item_id") % nBatches === k)))(
      appendPacked(spark, _, _, sinkDir, binSize))
    readSink(spark, sinkDir).orderBy("item_id")
  }

  /** The committed sink (uncommitted partials invisible). */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as("item_id"),
        col("id").as("n_tokens"), col("id").as("bin_id")))

  /** One micro-batch: FFD-pack the fresh items, DENSIFY the batch's
    * sparse segment-local bin ids (3-pass rank over the DISTINCT bin
    * table — bins-sized, not items-sized), shift by the committed bin
    * total, write, commit atomically. Replaying a committed batch is a
    * no-op; an uncommitted one overwrites with identical content.
    * Exposed for the replay drill in StreamingSpec. */
  def appendPacked(spark: SparkSession, batch: DataFrame, batchId: Long,
      sinkDir: String, binSize: Long): Unit =
    BatchManifest.guarded(sinkDir, batchId) { committed =>
      val binOffset = committed.map(_.content.trim.toLong).sum
      // Cross-batch duplicate arrivals drop against the committed sink's
      // pruned item_id column — the StreamingShards note applies: a
      // deployment whose source re-delivers at scale would gate on the
      // persisted exact-fingerprint index instead; this anti-join is the
      // id-keyed form of the same check.
      val existing = readSink(spark, sinkDir)
      val fresh = (if (committed.isEmpty) batch
        else batch.join(existing.select("item_id"), Seq("item_id"),
          "left_anti"))
        .localCheckpoint() // pin: the pack and the manifest count must agree
      val packed = BestFitPacking.packBestFit(fresh, binSize)
        .withColumnRenamed("bin_id", "__raw_bin")
        .localCheckpoint() // two consumers: densify + join
      val dense = Ops.withGlobalRowNumber(
          packed.select("__raw_bin").distinct(),
          Seq(col("__raw_bin")), col("__raw_bin").cast("double"), "__dn")
        .localCheckpoint() // two consumers: join + bin count
      val nBins = dense.count()
      packed.join(dense, "__raw_bin")
        .select(col("item_id"), col("n_tokens"),
          (col("__dn") - 1 + binOffset).cast("long").as("bin_id"))
        .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      nBins.toString
    }
}
