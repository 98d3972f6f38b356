package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ops

/** Continuous training-shard production — the streaming form of
  * [[Ops.withHashShardId]]: document micro-batches are cut into
  * fixed-size shards as they ARRIVE. Within a batch, rows rank by the
  * same reproducible md5 key as the batch assigner (through the same
  * scale-safe 3-pass prefix — never a single-task window); across
  * batches, ranks continue where the committed sink left off.
  *
  * Commits follow the [[BatchManifest]] protocol, each entry holding
  * its batch's row count. The rank offset is the sum of COMMITTED
  * counts only, so a replayed uncommitted batch redeals the SAME offset
  * and reproduces the md5-order interleaving bit-for-bit (what makes
  * "every rerun produces the identical shard for every row" hold even
  * under a crash mid-append), and a restarted stream resumes the deal
  * with an O(batches) manifest read instead of an O(sink) scan.
  *
  * Shard boundaries deliberately SPAN micro-batches: a 128-doc shard
  * may take its last rows from the next arrival, so shard sizes are
  * exactly `shardSize` with one ragged global tail — identical
  * invariants to the batch assigner, which is what makes the two
  * interchangeable for a trainer.
  */
object StreamingShards {

  /** Stages the documents table as `nBatches` residue-class files,
    * DRAINING the stream after each write so arrival order is a pure
    * function of the data (batch k = doc_id % nBatches == k) and the
    * final assignment is fully oracle-checkable in SQL. Returns the
    * accumulated (doc_id, shard_id) sink. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      shardSize: Int = 128, nBatches: Int = 4): DataFrame = {
    val srcDir = s"$workDir/src"
    val sinkDir = s"$workDir/sink"
    Seq(srcDir, sinkDir, s"$workDir/ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new File(d)))
    val docs = graft.Tables.load(spark, sfDir, "documents").select("doc_id")
    BatchManifest.drainEach(spark, srcDir, s"$workDir/ckpt",
      (0 until nBatches).map(k => docs.where(col("doc_id") % nBatches === k)))(
      appendSharded(spark, _, _, sinkDir, shardSize))
    readSink(spark, sinkDir).orderBy("doc_id")
  }

  /** The committed sink: the union of committed batch directories —
    * uncommitted (crashed-partial) output is invisible by
    * construction. Empty-schema frame when nothing has committed. */
  def readSink(spark: SparkSession, sinkDir: String): DataFrame =
    BatchManifest.readCommitted(spark, sinkDir)(
      spark.range(0).select(col("id").as("doc_id"), col("id").as("shard_id")))

  /** One micro-batch of the deal: continue the global rank from the
    * manifest's committed total, cut shards, write the batch directory,
    * then commit it with one atomic manifest rename. Replaying a
    * COMMITTED batchId is a no-op; replaying an uncommitted one
    * overwrites its directory with identical content (same offset, same
    * md5 order) — all-or-nothing, so partial parquet appends can never
    * skew the deal. Exposed for specs. */
  def appendSharded(spark: SparkSession, batch: DataFrame, batchId: Long,
      sinkDir: String, shardSize: Int): Unit =
    BatchManifest.guarded(sinkDir, batchId) { committed =>
      // the deal continues from the committed row total
      val offset = committed.map(_.content.trim.toLong).sum
      // Cross-batch duplicate arrivals (a doc re-delivered in a LATER
      // batch) are dropped against the committed sink's pruned doc_id
      // column. A deployment whose source re-delivers at scale would
      // gate on the persisted exact-fingerprint index instead
      // (IndexStore.dedupIngestGate) — this anti-join is the
      // doc_id-keyed form of the same check.
      val existing = readSink(spark, sinkDir)
      val fresh = (if (committed.isEmpty) batch
        else batch.join(existing.select("doc_id"), Seq("doc_id"), "left_anti"))
        .localCheckpoint() // pin: rank + the manifest count must agree
      val n = fresh.count()
      Ops.withGlobalRowNumber(
          fresh.withColumn("__shx",
            md5(col("doc_id").cast("string").cast("binary"))),
          Seq(col("__shx"), col("doc_id")),
          expr("conv(substr(__shx, 1, 13), 16, 10)").cast("double"), "__shrn",
          leadingBounds = Some(Ops.md5PrefixBounds()))
        .withColumn("shard_id",
          floor((col("__shrn") - lit(1) + lit(offset)) /
            lit(shardSize.toDouble)).cast("long"))
        .drop("__shx", "__shrn")
        .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
      n.toString
    }
}
