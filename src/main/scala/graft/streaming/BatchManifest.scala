package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Ops}

/** The streaming layer's micro-batch chassis: the one file-stream
  * source, the drains every stream runs through, and the per-batch
  * atomic commit protocol.
  *
  * Crash-replay semantics, stated once: each micro-batch writes its own
  * `b<id>/` directory under the sink, then commits a one-line manifest
  * entry `_manifest/<id>` by ATOMIC RENAME. Readers union committed
  * directories only, so a crash mid-write is invisible (no torn reads);
  * a replayed COMMITTED batch short-circuits on its manifest entry
  * (zero history reads — the replay guard costs O(#batches)
  * driver-side file reads, never a sink data scan); a replayed
  * UNCOMMITTED batch re-derives its decisions and overwrites its
  * directory wholesale. An entry's content is the batch's continuation
  * state (the shard deal's row count, the packer's bin count, the
  * corpus build's spend ledger) or empty. A stream whose batches also
  * append to an exact index guards that append with a bucket-local
  * self-probe ([[notYetIndexed]]), so the index stays exactly-once
  * when a crash lands between the append and the commit.
  *
  * SESSION COHERENCE: every catalog read and write in a batch body goes
  * through `batch.sparkSession`, NOT the enclosing stream's outer
  * session. foreachBatch hands batches bound to the stream's cloned
  * session, so index appends (which run on the frames' own session)
  * invalidate only THAT session's table-relation cache — a probe
  * through the outer session would keep serving the file listing it
  * cached on first use and silently miss every fingerprint accepted by
  * earlier micro-batches (observed: cross-batch duplicates sailing
  * through the gate). One session for probe + append keeps the loop
  * read-your-writes.
  */
private[streaming] object BatchManifest {

  /** A committed batch: its id and its manifest entry's content. */
  final case class Entry(id: Long, content: String)

  /** The digit-named files in `dir` with their content, smallest id
    * first; temp files (`.tmp-<id>`) and other names are skipped. */
  def markers(dir: String): Seq[Entry] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(f => Entry(f.getName.toLong, Files.readString(f.toPath)))
      .sortBy(_.id)

  /** The sink's committed batches, smallest id first. */
  def entries(sinkDir: String): Seq[Entry] = markers(s"$sinkDir/_manifest")

  /** Writes `content` to `dir/name` atomically: a temp file renamed into
    * place. */
  def atomicWrite(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".tmp-$name")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    (): Unit
  }

  /** The guarded commit: a committed `batchId` (a replay) runs nothing;
    * otherwise `body` runs, given the committed entries, and the content
    * it returns commits the batch. */
  def guarded(sinkDir: String, batchId: Long)(body: Seq[Entry] => String)
      : Unit = {
    val committed = entries(sinkDir)
    if (!committed.exists(_.id == batchId))
      atomicWrite(s"$sinkDir/_manifest", batchId.toString, body(committed))
  }

  /** Drops every commit of the sink, for a run that starts it afresh. */
  def forget(sinkDir: String): Unit =
    FileUtils.deleteQuietly(new File(s"$sinkDir/_manifest"))

  /** The committed batches' `b<id>` directories under `root`. */
  def committedDirs(sinkDir: String, root: String): Seq[String] =
    entries(sinkDir).map(e => s"$root/b${e.id}")

  /** `dirs` read as one frame, or `empty` when there are none. */
  def readDirs(spark: SparkSession, dirs: Seq[String])
      (empty: => DataFrame): DataFrame =
    if (dirs.isEmpty) empty else spark.read.parquet(dirs: _*)

  /** The committed sink as one frame, or `empty` when nothing has
    * committed yet. */
  def readCommitted(spark: SparkSession, sinkDir: String)
      (empty: => DataFrame): DataFrame =
    readDirs(spark, committedDirs(sinkDir, sinkDir))(empty)

  /** `keepers` minus the rows whose (id, fingerprint) a crashed replay
    * already appended to `exactTable` — the bucket-local self-probe
    * that guards an exact-index append: the index side stays put in its
    * fp buckets, only the batch-sized probe moves. */
  def notYetIndexed(spark: SparkSession, keepers: DataFrame, idCol: String,
      fp: Column, exactTable: String): DataFrame = {
    val kfps = keepers.select(col(idCol).as("query_id"), fp.as("fp"))
    val alreadyIndexed = spark.table(s"${exactTable}_fps")
      .select(col(idCol).as("__ix_id"), col("fp"))
      .join(kfps, "fp")
      .where(col("__ix_id") === col("query_id"))
      .select(col("query_id").as(idCol))
    keepers.join(alreadyIndexed, Seq(idCol), "left_anti")
  }

  /** The file-stream source of every drain: the staged directory's own
    * schema, one file per micro-batch (so one staged file is one
    * micro-batch). */
  private def fileStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

  /** Appends `df` to `srcDir` as ONE file — one micro-batch of a drain. */
  def stage(df: DataFrame, srcDir: String): Unit =
    df.coalesce(1).write.mode("append").parquet(srcDir)

  /** Drains what is staged in `srcDir` through `body` on the checkpoint
    * `ckpt`, synchronously; a later drain on the same checkpoint
    * processes only files staged since. */
  def drain(spark: SparkSession, srcDir: String, ckpt: String)
      (body: (DataFrame, Long) => Unit): Unit =
    drainEach(spark, srcDir, ckpt, Nil)(body)

  /** [[drain]] on a fresh checkpoint under `workDir`, deleted once the
    * query stops cleanly (a failed drain leaves it for inspection). */
  def drainOnce(spark: SparkSession, srcDir: String, workDir: String)
      (body: (DataFrame, Long) => Unit): Unit = {
    val ckpt = s"$workDir/ckpt_${System.nanoTime()}"
    drain(spark, srcDir, ckpt)(body)
    FileUtils.deleteQuietly(new File(ckpt))
  }

  /** The stage-then-drain loop: each of `batches` is [[stage]]d and
    * drained before the next one is, on ONE stream started after the
    * first stage — so arrival order is the list order (a pure function
    * of the data), never the files' modification times. */
  def drainEach(spark: SparkSession, srcDir: String, ckpt: String,
      batches: Seq[DataFrame])(body: (DataFrame, Long) => Unit): Unit = {
    batches.headOption.foreach(stage(_, srcDir))
    val q = fileStream(spark, srcDir).writeStream
      .foreachBatch(body)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      batches.drop(1).foreach { b => stage(b, srcDir); q.processAllAvailable() }
    } finally q.stop()
  }

  /** Drains `srcDir` through `query` into a fresh in-memory table in
    * output `mode` and returns that table. `srcDir` is the run's own
    * staging and is deleted once the query stops; the query
    * checkpoints to a temporary location Spark deletes on a clean
    * stop. */
  def drainToMemory(spark: SparkSession, srcDir: String, mode: String)
      (query: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_stream_${System.nanoTime()}"
    val q = query(fileStream(spark, srcDir)).writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      FileUtils.deleteQuietly(new File(srcDir))
    }
    spark.table(name)
  }

  /** The composed dedup gate's drain, shared by the text and vec gates:
    * per micro-batch, `check` (all gates, no side effects) → the (id,
    * gate) decision rows to the batch's sink directory → the two
    * `overlapped` appends (independent tables, one pinned source —
    * Ops.concurrently) → `exactAppend` → `autoCompact` of each (kind,
    * table) in `compact` → commit.
    *
    * A replayed uncommitted batch re-derives IDENTICAL decisions even
    * when its appends already ran (every probe self-id-filters, and a
    * duplicate-group copy cut within-batch on the first run is cut by
    * the index on the replay — same first gate, because the index
    * gained only this batch's keepers, whose matches the within-batch
    * rule already counted). The exact append runs LAST behind the
    * self-probe guard: "in the exact index" therefore means ALL kinds
    * completed, so a replay re-appends only the other kinds' rows for
    * ids whose exact append never landed — bounded duplication that
    * probes can't see (countDistinct + self-filters), never a
    * completeness loss. */
  def gateDrain(spark: SparkSession, srcDir: String, sinkDir: String,
      ckpt: String, check: DataFrame => (DataFrame, DataFrame),
      idCol: String, fingerprint: Column, exactTable: String,
      overlapped: (DataFrame => Unit, DataFrame => Unit),
      exactAppend: DataFrame => Unit, compact: Seq[(String, String)],
      autoCompactAppends: Int): Unit =
    drain(spark, srcDir, ckpt) { (batch, batchId) =>
      val bs = batch.sparkSession
      guarded(sinkDir, batchId) { _ =>
        // `accepted` is already pinned pre-append (the check's last
        // stage), so it feeds the sink and the appends directly
        val (accepted, decisions) = check(batch)
        decisions
          .unionByName(accepted.select(col(idCol), lit("accepted").as("gate")))
          .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
        val toAppend = notYetIndexed(bs, accepted, idCol, fingerprint,
            exactTable)
          .localCheckpoint() // three consumers below
        Ops.concurrently(() => overlapped._1(toAppend),
          () => overlapped._2(toAppend))
        exactAppend(toAppend)
        compact.foreach { case (kind, table) =>
          IndexStore.autoCompact(bs, kind, table, autoCompactAppends)
        }
        // every stage's accepted set (all reachable through `decisions`)
        // and the append source are consumed: free their blocks now
        // instead of leaving them to the context cleaner, which a
        // long-lived stream may not run for many drains
        Seq(decisions, toAppend).foreach(Ops.freeLogicalRddBlocks(_))
        ""
      }
    }
}
