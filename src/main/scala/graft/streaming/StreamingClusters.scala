package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, IndexStore}

/** Streaming CLUSTER MAINTENANCE (sr37) — the clustering family's
  * forever-sync: near-dup components are kept current as document
  * micro-batches land, and the maintained labels serve the streamed
  * cluster-split and soft-dedup decisions, so the one family that used
  * to demand a full-corpus re-cluster per question now answers from
  * persisted state.
  *
  * Per micro-batch (all O(batch) moved, never a history rewrite):
  *   1. cross-batch edges: the batch PROBES the persisted MinHash index
  *      ([[IndexStore.probeMinhash]] — index side stays put, bucketed by
  *      band_key; only the batch's band keys move);
  *   2. within-batch edges: [[Dedup.minhashNearDupPairs]] over the batch
  *      alone (two novel near-copies arriving together);
  *   3. edge endpoints that are ALREADY-LABELED docs collapse to their
  *      CURRENT component, so connected components runs on the batch's
  *      TOUCHED-COMPONENT graph — bounded by the batch's edge count,
  *      never by history ([[Components.connectedComponents]] on a
  *      batch-sized graph);
  *   4. state update: the batch's ids append ONE labels delta
  *      (id, comp0 = component at insert time), and merged old
  *      components land in a FLAT remap snapshot (old → current
  *      representative, path-compressed every batch so serving is one
  *      join). The remap is bounded by the number of components ever
  *      superseded by a merge — cluster count, not corpus count.
  *   5. the batch appends to the MinHash index so the NEXT batch probes
  *      against it too ([[StreamingIndexIngest]]'s build-then-append).
  *
  * Correctness: component ids are min doc ids, and min-of-mins over a
  * merge equals the min over the merged cluster — so labels after N
  * batches equal the ONE-SHOT [[Components.connectedComponents]] over
  * the union's pair list (batch-parity spec'd in StreamingSpec). The
  * edge SETS agree because every cross-batch pair is discovered when
  * its later endpoint arrives and every within-batch pair inline; under
  * hot-band caps the enumerations differ but connectivity survives —
  * every capped probe still links to its bucket's representative, which
  * transitively chains the bucket (the capHotBuckets guarantee).
  *
  * Crash/replay (the [[BatchManifest]] protocol): labels and remap are
  * per-batch directories overwritten WHOLESALE on an uncommitted
  * replay; decisions re-derive deterministically from the last
  * COMMITTED state. An index append that ran before the crash is
  * harmless on replay: probes exclude self-matches, duplicate band/
  * shingle rows only duplicate candidate EDGES, and connected
  * components is duplicate-edge-insensitive — the label outcome is
  * byte-identical (replay drill in StreamingSpec). Doc ids must be
  * unique across the stream (re-ingesting an id is caller error, the
  * [[Components.connectedComponentsRestartable]] stance).
  *
  * 100 TB shape: the index probe moves the batch only; the
  * current-component lookup joins the bounded matched-id set against
  * the labels store (id-keyed — production puts it in an id-bucketed
  * catalog table so the probe side co-locates); the tiny CC runs on a
  * batch-bounded graph; the remap rewrite is O(#superseded components).
  * Serving (sizes, thinning, splits) reads labels ⨝ remap with the
  * cluster size as an AGGREGATE joined back — never a component window.
  */
object StreamingClusters {

  /** One micro-batch of the maintenance loop. Exposed for the replay
    * drill; `commit = false` runs the batch's state writes alone, with
    * neither the replay guard nor the commit — the state a crash just
    * before the manifest commit leaves behind. */
  def processBatch(batch: DataFrame, batchId: Long, table: String,
      idxPath: String, stateDir: String, threshold: Double = 0.8,
      commit: Boolean = true): Unit =
    if (!commit) advance(batch, batchId, table, idxPath, stateDir, threshold)
    else BatchManifest.guarded(stateDir, batchId) { _ =>
      advance(batch, batchId, table, idxPath, stateDir, threshold)
      // no-silent-growth: the manifest entry carries the batch's label
      // delta and the remap snapshot size (read back from the written
      // files — exact, O(batch)+O(merges)), so an operator watching the
      // ledger sees the merge-bounded remap claim hold — or not —
      // without ever scanning the sink
      val spark = batch.sparkSession
      val nl = spark.read.parquet(s"$stateDir/b$batchId/labels").count()
      val nr = spark.read.parquet(s"$stateDir/b$batchId/remap").count()
      s"labels=$nl remap=$nr"
    }

  /** The batch's state writes: steps 1-5 above. */
  private def advance(batch: DataFrame, batchId: Long, table: String,
      idxPath: String, stateDir: String, threshold: Double): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select("doc_id", "text").localCheckpoint()
    val first = !spark.catalog.tableExists(s"${table}_bands")

    // 1+2: the batch's edge evidence, old endpoints still raw doc ids
    val probeEdges =
      if (first) spark.range(0).select(col("id").as("id_a"),
        col("id").as("id_b"))
      else IndexStore.probeMinhash(spark, docs, "doc_id", "text", table,
          threshold = threshold)
        .select(col("query_id").as("id_a"), col("match_id").as("id_b"))
    val internal = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = threshold)
      .select("id_a", "id_b")

    // 3: collapse labeled endpoints to their current component. The
    // left join + coalesce also absorbs a pre-crash index append on
    // replay: a batch doc surfacing as a probe match has no label yet
    // and maps to itself — the edge its within-batch twin already
    // contributes.
    val cur = currentLabels(spark, stateDir)
    val mapped = internal.unionAll(
      probeEdges
        .join(cur.select(col("id").as("id_b"), col("component")),
          Seq("id_b"), "left")
        .select(col("id_a"),
          coalesce(col("component"), col("id_b")).as("id_b")))
    // the touched-component graph: batch ids + matched current comps
    val cc = Components.connectedComponents(mapped)

    // 4: labels delta for the batch's ids (isolated docs are their own
    // singleton components)...
    val newLabels = docs.select(col("doc_id").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("comp0"))
    // ...and the remap delta for every OLD component whose label moved.
    // Old comps are exactly the coalesced probe-side endpoints that
    // carry a label today.
    val oldComps = probeEdges
      .join(cur.select(col("id").as("id_b"), col("component")), Seq("id_b"))
      .select(col("component").as("id")).distinct()
    val delta = oldComps.join(cc.withColumnRenamed("component", "new_c"),
        Seq("id"))
      .where(col("new_c") =!= col("id"))
      .select(col("id").as("old_c"), col("new_c"))
      .localCheckpoint() // bounded: ≤ the batch's matched components
    // path compression: existing entries whose target just merged
    // follow it, so the snapshot stays FLAT (one join to serve). Delta
    // keys are CURRENT comps and remap keys are superseded ones — the
    // key sets are disjoint by construction, so the union is a map.
    val prevRemap = lastRemap(spark, stateDir)
    val deltaMid = delta.select(col("old_c").as("mid"),
      col("new_c").as("mid_new"))
    val composed = prevRemap
      .join(broadcast(deltaMid), prevRemap("new_c") === col("mid"), "left")
      .select(prevRemap("old_c"),
        coalesce(col("mid_new"), prevRemap("new_c")).as("new_c"))
      .unionAll(delta)

    // 5: index grows AFTER the probe (next batch sees this one); state
    // writes are wholesale per-batch overwrites, then the atomic commit
    if (first)
      IndexStore.buildMinhashIndex(docs, "doc_id", "text", table, idxPath)
    else {
      IndexStore.appendMinhashIndex(docs, "doc_id", "text", table)
      // the long-running-stream knob (StreamingIndexIngest's stance):
      // per-batch appends grow the index's file count without bound;
      // the counter-driven policy folds them back — content-neutral
      IndexStore.autoCompact(spark, "minhash", table)
    }
    newLabels.write.mode("overwrite")
      .parquet(s"$stateDir/b$batchId/labels")
    composed.write.mode("overwrite")
      .parquet(s"$stateDir/b$batchId/remap")
  }

  /** Folds the committed per-batch label deltas into ONE id-bucketed
    * catalog table — the compaction-cadence maintenance that pins the
    * per-batch labels-store read (otherwise the read unions one more
    * directory per batch forever; measured as the `cluster25_loop`
    * drift term). Folding preserves the INSERT-TIME components (raw
    * comp0), exactly what the per-batch dirs hold: the composed remap
    * keeps every historically-superseded component as a key, so
    * serving stays `folded ∪ newer-dirs ⨝ remap` unchanged — the fold
    * moves bytes, never meaning.
    * Crash-safe by the generation protocol: CTAS the new generation,
    * then an ATOMIC-rename marker (its content names the table), then
    * reap older generations — a crash before the marker leaves readers
    * on the previous fold + dirs (correct), and a re-fold overwrites
    * the orphan generation wholesale. Value-neutrality and the
    * mid-fold-crash window are drilled in StreamingSpec. */
  def foldLabels(spark: SparkSession, stateDir: String, table: String,
      path: String, nBuckets: Int = 8): Unit = {
    val ids = BatchManifest.entries(stateDir).map(_.id)
    if (ids.isEmpty) return
    val upTo = ids.last
    val (already, prevTbl) = foldedState(spark, stateDir)
    if (already >= upTo) return
    val newTbl = s"${table}_labels_$upTo"
    val newer = ids.filter(_ > already)
      .map(i => spark.read.parquet(s"$stateDir/b$i/labels"))
      .reduce(_ unionAll _)
    val all = prevTbl.fold(newer)(t => spark.table(t).unionAll(newer))
    spark.sql(s"DROP TABLE IF EXISTS $newTbl")
    all.repartition(nBuckets, col("id"))
      .write.bucketBy(nBuckets, "id")
      .option("path", s"$path/$newTbl").mode("overwrite")
      .saveAsTable(newTbl)
    // marker AFTER the CTAS, written atomically
    val dir = s"$stateDir/_folded"
    BatchManifest.atomicWrite(dir, upTo.toString, newTbl)
    // superseded generations are dead state now
    prevTbl.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    BatchManifest.markers(dir).filter(_.id < upTo)
      .foreach(m => new File(s"$dir/${m.id}").delete())
  }

  /** (folded-up-to batch id, generation table name) — (-1, None) when
    * never folded. The marker is the commit point; an orphan CTAS
    * without one is invisible. */
  private def foldedState(spark: SparkSession, stateDir: String)
      : (Long, Option[String]) = {
    BatchManifest.markers(s"$stateDir/_folded").lastOption match {
      case None => (-1L, None)
      case Some(m) =>
        val tbl = m.content.trim
        // a marker whose table is gone (external takedown) must not
        // hide the pre-fold dirs — they were never deleted, so fall
        // back to reading everything
        if (spark.catalog.tableExists(tbl)) (m.id, Some(tbl))
        else (-1L, None)
    }
  }

  /** Current (id, component) over everything committed: the folded
    * generation (when one exists) plus the newer append-only label
    * deltas, read through the latest flat remap. */
  def currentLabels(spark: SparkSession, stateDir: String): DataFrame = {
    val ids = BatchManifest.entries(stateDir).map(_.id)
    if (ids.isEmpty)
      return spark.range(0).select(col("id"), col("id").as("component"))
    val (already, prevTbl) = foldedState(spark, stateDir)
    val newerIds = ids.filter(_ > already)
    val newer = newerIds
      .map(i => spark.read.parquet(s"$stateDir/b$i/labels"))
    val labels0 = (prevTbl.map(spark.table).toSeq ++ newer)
      .reduce(_ unionAll _)
    val remap = lastRemap(spark, stateDir)
    // no broadcast HINT: the snapshot is merge-bounded (ledger-observed)
    // and AQE broadcasts it whenever it is small — but a pathological
    // chain-merged corpus can grow it toward O(#docs), where a forced
    // broadcast would be exactly the hot-hint mistake; the shuffle join
    // on comp0 is always legal
    labels0.join(remap,
        labels0("comp0") === remap("old_c"), "left")
      .select(col("id"), coalesce(col("new_c"), col("comp0")).as("component"))
  }

  private def lastRemap(spark: SparkSession, stateDir: String): DataFrame =
    BatchManifest.entries(stateDir).lastOption
      .map(e => spark.read.parquet(s"$stateDir/b${e.id}/remap"))
      .getOrElse(spark.range(0).select(col("id").as("old_c"),
        col("id").as("new_c")))

  /** The streamed decisions the maintained labels exist to serve:
    * (doc_id, component, cluster_size, kept, split) — soft-dedup
    * thinning ([[Dedup.softDedupKeep]]) and the leakage-proof
    * cluster-hash split, with cluster_size as an aggregate joined back
    * (the hot-key-window fix's doctrine). Matches the batch
    * ext_soft_dedup_e2e / ext_cluster_split_e2e forms column for
    * column. */
  def servedDecisions(spark: SparkSession, stateDir: String): DataFrame = {
    val lab = currentLabels(spark, stateDir)
      .select(col("id").as("doc_id"), col("component"))
    val sizes = lab.groupBy("component")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    lab.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        Dedup.softDedupKeep(col("doc_id"), col("cluster_size")).as("kept"),
        when(substring(md5(col("component").cast("string")
            .cast("binary")), 1, 1) <= "c", "train")
          .otherwise("test").as("split"))
  }

  /** Stages the near-dup-planted corpus (every 5th doc gains a
    * "graft tail" twin — the ext_soft_dedup_e2e fixture) as TWO
    * micro-batches split EXPLICITLY at the twin boundary (id 100000):
    * file 1 carries every original, file 2 every twin, so each twin
    * provably arrives a batch after its original and the cross-batch
    * merge path carries the parity. (An earlier range-repartition
    * staging only APPROXIMATED this — its sampled boundary fell inside
    * the originals, so upper-range originals shared a batch with their
    * twins; the explicit split makes the staging match the stated
    * contract. The dropped third batch added one more full
    * probe+CC+append round with no new code path — round-15
    * gate-budget work; the ≥3-round choreography incl. crash-replay
    * stays drilled with explicit processBatch calls in StreamingSpec.)
    * Drains, then serves the decisions. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String, idxPath: String): DataFrame = {
    Seq("src", "state", "ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new File(s"$workDir/$d")))
    Seq(s"${table}_bands", s"${table}_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(idxPath))

    val srcDir = s"$workDir/src"
    val stateDir = s"$workDir/state"
    val pc = plantedCorpus(spark, sfDir)
    // One stream start-and-drain PER staged file, all on the shared
    // checkpoint (the StreamingCorpusBuild.run idiom, now literally):
    // batch separation is guaranteed by the checkpoint having
    // COMMITTED file 1 before file 2 exists — not by file mtime
    // ordering, where a same-millisecond tie under maxFilesPerTrigger=1
    // lets FileStreamSource pick an arbitrary order and twins could
    // share a batch with their originals (output would stay correct —
    // the merge is order-independent — but the 'each twin provably
    // arrives a batch after its original' contract would be silently
    // void). The restart also exercises the resume path structurally
    // on every run.
    Seq(col("doc_id") < 100000, col("doc_id") >= 100000).foreach { pred =>
      BatchManifest.stage(pc.where(pred), srcDir)
      BatchManifest.drain(spark, srcDir, s"$workDir/ckpt")(
        processBatch(_, _, table, idxPath, stateDir))
    }
    servedDecisions(spark, stateDir).orderBy("doc_id")
  }

  /** The ext_soft_dedup_e2e fixture corpus, shared with the parity
    * spec. */
  def plantedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    base.unionAll(base.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graft tail")).as("text")))
  }
}
