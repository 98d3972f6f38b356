package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Incremental

/** The reference's cron-driven micro-batch sync (SURVEY §2.10) expressed
  * as Structured Streaming: a file stream → event-time watermark →
  * windowed aggregation, and a file stream → foreachBatch merge for the
  * upsert path.
  * The batch-incremental and streaming formulations share the same merge
  * (Incremental.merge) — exactly the foreachBatch pattern a production
  * deployment of the reference would use.
  */
object StreamingSync {

  /** Hourly tumbling-window aggregation with a 1-hour event-time
    * watermark (bounds state at scale; in complete-mode demos the
    * watermark is inert but the state-eviction contract is what a
    * production append/update sink relies on). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Run the windowed aggregation over the events table as a stream into
    * an in-memory sink, synchronously, and return the final result.
    * The streaming file source needs a directory, so the single-file
    * test table is staged first (which also normalizes the
    * TIMESTAMP(NANOS) column to micros — see Tables); a production
    * deployment would stream the landing directory directly. The
    * staging dir is unique per run (a FIXED path shared by concurrent
    * runs over the same dataset would let one run's overwrite delete
    * files the other's stream is still reading) and deleted once the
    * stream has drained into the memory sink. */
  def runWindowedToMemory(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = "/tmp/graft_stream_stage/" +
      sfDir.replaceAll("[^a-zA-Z0-9]", "_") + s"_${System.nanoTime()}"
    graft.Tables.load(spark, sfDir, "events")
      .write.mode("overwrite").parquet(stage)
    BatchManifest.drainToMemory(spark, stage, "complete")(windowedCounts)
      .orderBy("w_start", "event_type")
  }

  /** Streaming upsert: micro-batches merged into a parquet target by pk
    * via foreachBatch — the streaming form of the reference's staged
    * upsert (sync-db2.py:78-88). Each batch stages a new target version
    * (never overwriting the version it read), then atomically publishes
    * it via [[graft.sources.VersionedTable]]'s commit-pointer swap — the
    * reference's transactional `ON CONFLICT` guarantee
    * (sync-db2-viewer.py:17-80): a crash mid-batch leaves readers on the
    * previous consistent version. */
  def runForeachBatchMerge(spark: SparkSession, sfDir: String,
      workDir: String): DataFrame = {
    import graft.sources.VersionedTable
    val srcDir = s"$workDir/src"
    val tgtBase = s"$workDir/tgt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tgtBase))
    // Split the source so the stream sees >1 micro-batch — two is enough
    // to exercise the merge-into-prior-version path, and each extra batch
    // costs a full-table rewrite (the published version grows every
    // batch), so more batches add wall-clock, not coverage. Deeper
    // multi-batch behavior (checkpoint resume, arrival order) is pinned
    // by StreamingSpec with its own staging.
    val events = graft.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    events.repartition(2).write.mode("overwrite").parquet(srcDir)

    BatchManifest.drainOnce(spark, srcDir, workDir) { (batch, _) =>
      // resolve the committed version (not "the last directory"): an
      // earlier crashed attempt may have staged-but-not-committed
      val committed = VersionedTable.currentVersion(tgtBase)
      val merged = committed match {
        case None => batch
        case Some(v) => Incremental.merge(
          VersionedTable.read(spark, tgtBase, v), batch, "event_id")
      }
      VersionedTable.write(merged, tgtBase, committed.getOrElse(0) + 1)
    }
    require(VersionedTable.currentVersion(tgtBase).nonEmpty,
      "stream produced no batches")
    // retention: drop superseded versions, keeping one predecessor for
    // in-flight readers
    VersionedTable.vacuum(tgtBase, keep = 1)
    VersionedTable.read(spark, tgtBase)
  }
}
