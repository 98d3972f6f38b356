package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Persisted LSH / IVF index tables — the 100 TB shape of near-dup and
  * ANN search.
  *
  * The per-query pipelines in [[Dedup]] and [[IvfIndex]] rebuild their
  * signature / inverted-list structures on every run; at warehouse scale
  * those are tables you build once and probe many times. This store
  * writes them as BUCKETED external tables, bucketed on the probe key
  * (`band_key` for MinHash, `cluster_id` for IVF), so a probe join needs
  * no index-side shuffle: only the probe side moves — or nothing at all
  * when the probe side is small enough to broadcast. IndexStoreSpec
  * proves both the parity with the fresh pipelines and the shuffle
  * count.
  */
object IndexStore {

  /** One 64-bit key per LSH band: the band index is hashed in, so a
    * single column replaces the (band_id, band_hash) pair and the
    * bucketed join has a single equi-key. Hash collisions across bands
    * are filtered by the exact-Jaccard verification step. Native
    * codegen'd expression; the transform/slice tree it replaces is the
    * parity reference below (bit-identical, pinned in DedupSpec). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.MinHash.bandKeys(sig, bands, rowsPerBand)

  /** Expression-tree formulation of [[bandKeys]] — parity reference. */
  def bandKeysFold(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * lit(rowsPerBand) + lit(1),
        lit(rowsPerBand))))

  // ---- build-parameter metadata -------------------------------------
  // An append or probe whose shingleN/numHashes/bands (or vector column
  // contract) silently differs from the build writes inconsistent band
  // keys / signatures: probes then MISS near-dups with no error at all.
  // The build parameters are persisted as table properties and every
  // append/probe validates its arguments against them. Indexes created
  // before this metadata existed have no properties — those skip the
  // check (documented legacy hole) rather than refuse to operate.

  /** Routes rows to their bucket BEFORE a bucketed write. Without this,
    * every writer task emits one file per bucket it holds rows for —
    * (upstream partitions × nBuckets) tiny files per write, a
    * small-files multiplier that compounds on every streaming append
    * until probes read thousands of near-empty parquet footers.
    * `repartition(nBuckets, bucketCol)` uses the same
    * Pmod(Murmur3Hash) routing as Spark's bucket-id assignment, so
    * each writer task holds exactly one bucket and a write emits
    * exactly nBuckets files — while the expensive upstream projection
    * (signatures, cluster assignment) still runs at full parallelism
    * map-side BEFORE the routing exchange. */
  private def bucketRouted(df: DataFrame, bucketCol: String,
      nBuckets: Int): DataFrame =
    df.repartition(nBuckets, col(bucketCol))

  /** The build-time write every kind shares: `df` routed to its bucket
    * and written as the bucketed external table `table` at
    * `$path/$table` (overwrite — a build is an idempotent replace), then
    * the build parameters attached right after the table materializes
    * (the CTAS→ALTER pair is not atomic, but the crash window is one
    * statement; rebuild any index whose creation crashed rather than
    * appending to it). */
  private def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, nBuckets: Int, params: Map[String, String]): Unit = {
    bucketRouted(df, bucketCol, nBuckets).write.bucketBy(nBuckets, bucketCol)
      .option("path", s"$path/$table").mode("overwrite").saveAsTable(table)
    setParams(df.sparkSession, table, params)
  }

  /** The append-time write every kind shares. The bucket spec comes
    * from the catalog — an append can never silently (or loudly, via
    * Spark's raw bucketing-mismatch error) re-bucket — and the append is
    * counted on the auto-compaction clock ([[noteAppend]]). */
  private def appendBucketed(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val (bucketCol, nb) = bucketSpecOf(spark, table)
    bucketRouted(df, bucketCol, nb).write.bucketBy(nb, bucketCol)
      .mode("append").saveAsTable(table)
    noteAppend(spark, table)
  }

  private val ParamPrefix = "graft.param."

  private def tableMeta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** SQL string-literal escaping for property values (quotes doubled,
    * backslashes doubled — the parser treats backslash as an escape). */
  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  private def setParams(spark: SparkSession, table: String,
      params: Map[String, String]): Unit = {
    val kv = params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'$ParamPrefix$k'='${sqlLit(v)}'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)")
  }

  private def getParams(spark: SparkSession, table: String): Map[String, String] =
    tableMeta(spark, table).properties.collect {
      case (k, v) if k.startsWith(ParamPrefix) =>
        k.stripPrefix(ParamPrefix) -> v
    }

  /** Fails loudly when `args` contradict the index's persisted build
    * parameters. Absent metadata (pre-metadata index) validates nothing. */
  private def requireParams(spark: SparkSession, table: String,
      args: Map[String, String], op: String): Unit = {
    val stored = getParams(spark, table)
    if (stored.nonEmpty) args.foreach { case (k, v) =>
      stored.get(k).filter(_ != v).foreach { sv =>
        throw new IllegalArgumentException(
          s"$op on $table: $k=$v does not match the index's build-time " +
            s"$k=$sv — operating with mismatched parameters would " +
            "silently corrupt the index (probes miss matches with no error)")
      }
    }
  }

  private def minhashParams(shingleN: Int, numHashes: Int,
      bands: Int): Map[String, String] =
    Map("shingleN" -> shingleN.toString, "numHashes" -> numHashes.toString,
      "bands" -> bands.toString)

  private def shingleOf(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    docs.select(col(idCol),
      array_distinct(Dedup.wordShingles(col(textCol), shingleN))
        .as("shingles"))

  private def bandsOf(shingled: DataFrame, idCol: String, numHashes: Int,
      bands: Int): DataFrame =
    shingled.select(col(idCol),
      explode(bandKeys(Dedup.minhashSignature(col("shingles"), numHashes),
        bands, numHashes / bands)).as("band_key"))

  /** Builds the MinHash index for `docs`: a band table (id, band_key)
    * bucketed by band_key, plus a shingle table (id, shingles) bucketed
    * by id for the verification join. External tables at `path` (the
    * session catalog holds the bucketing metadata). */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, nBuckets: Int = 8): Unit = {
    val params = minhashParams(shingleN, numHashes, bands) + ("idCol" -> idCol)
    val shingled = shingleOf(Ops.spreadForHash(docs), idCol, textCol, shingleN)
    withPersisted(shingled) {
      // the two tables are independent consumers of the one persisted
      // staging frame, so their CTAS statements overlap (Ops.concurrently)
      Ops.concurrently(
        () => writeBucketed(bandsOf(shingled, idCol, numHashes, bands),
          s"${table}_bands", path, "band_key", nBuckets, params),
        () => writeBucketed(shingled, s"${table}_shingles", path, idCol,
          nBuckets, params))
    }
  }

  /** persist → body → unpersist with the unpersist in a FINALLY: a
    * failed CTAS must not strand the staging cache — repeated failed
    * build/append attempts would otherwise accumulate pinned executor
    * storage (the Components standard). */
  private def withPersisted[A](df: DataFrame)(body: => A): A = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try body finally df.unpersist()
  }

  /** Incremental maintenance: appends `delta` docs' band and shingle
    * rows to an existing index — NO rebuild. Each append writes one new
    * file set per bucket (the bucket function is stable, so old and new
    * rows of a band key stay co-located); probes immediately see both
    * old and new documents. This completes the incremental-ingest dedup
    * shape: accept a batch, near-dup-check it against the index, append
    * the accepted rows. [[Ops.spreadForHash]] spreads the hash-heavy
    * signature work across all cores when the delta arrives as one raw
    * scan split, and skips the exchange for already-materialized gate
    * batches. Compact the table periodically if tiny appended files
    * accumulate. */
  def appendMinhashIndex(delta: DataFrame, idCol: String, textCol: String,
      table: String, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    val spark = delta.sparkSession
    requireParams(spark, s"${table}_bands",
      minhashParams(shingleN, numHashes, bands) + ("idCol" -> idCol), "append")
    val shingled = shingleOf(Ops.spreadForHash(delta), idCol, textCol, shingleN)
    withPersisted(shingled) { // feeds both writes, overlapped
      Ops.concurrently(
        () => appendBucketed(bandsOf(shingled, idCol, numHashes, bands),
          s"${table}_bands"),
        () => appendBucketed(shingled, s"${table}_shingles"))
    }
  }

  /** Hot-bucket guard for persisted probes, mirroring
    * [[Dedup.DefaultHotBandThreshold]]: an index bucket with m entries
    * emits m candidate rows for EVERY probe doc that hits it, so a
    * boilerplate-heavy index turns one band into a quadratic blow-up at
    * probe time. Buckets above the cap contribute only their TWO
    * representatives (min and max id — both computable without a
    * per-bucket sort): a probe hitting a hot bucket is guaranteed a
    * candidate even when the probe doc IS one of the representatives
    * (self-probing an indexed doc is the normal incremental-ingest
    * recheck; a single representative would self-filter to zero
    * candidates there), so the near-dup DECISION is preserved while the
    * enumeration of thousands of boilerplate matches is capped. Non-hot
    * buckets are exhaustive as before. The count/representatives come
    * from a window over the bucket key, which the bucketed scan already
    * hash-partitions on, so the guard adds NO index-side exchange
    * (re-asserted in IndexStoreSpec). Callers needing the full
    * enumeration can raise the threshold. */
  private def capHotBuckets(indexTable: DataFrame, keyCol: String,
      idCol: String, threshold: Int): DataFrame = {
    val w = Window.partitionBy(keyCol)
    indexTable
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_lo", min(col(idCol)).over(w))
      .withColumn("bucket_hi", max(col(idCol)).over(w))
      .withColumn("__capped", col("bucket_n") > threshold &&
        col(idCol) =!= col("bucket_lo") && col(idCol) =!= col("bucket_hi"))
      // no-silent-caps: the guard's activity is OBSERVED on the rows the
      // probe already reads (see [[observeCap]]). Read with
      // [[capActivity]] after materializing the probe frame.
      .transform(observeCap(_, col("__capped"),
        col("bucket_n") > threshold, col("bucket_n")))
      .where(!col("__capped"))
      .drop("bucket_n", "bucket_lo", "bucket_hi", "__capped")
  }

  /** Attaches the hot-bucket guard's activity metrics to `df`
    * (CollectMetrics — zero extra passes, no exchange, partitioning and
    * ordering pass through, so plan pins on the guarded frames hold
    * unchanged). Shared by the persisted probes' drop-cap
    * ([[capHotBuckets]]) and [[Dedup]]'s inline star-link guards —
    * `suppressed` means "this row's candidate enumeration was bounded":
    * dropped in favor of the bucket representatives (probes) or
    * star-linked through the representative instead of all-paired
    * (inline pairs). Names are uniquified per call site — a query may
    * contain several guarded scans and observation names must be unique
    * within a plan (exact duplicate subtrees, e.g. an observed frame
    * self-joined, are fine). Read with [[capActivity]]. */
  private[operators] def observeCap(df: DataFrame, suppressed: Column,
      hot: Column, bucketN: Column): DataFrame =
    df.observe(s"$CapMetricPrefix.${capSeq.incrementAndGet()}",
      sum(when(suppressed, 1L).otherwise(0L)).as("rows_suppressed"),
      sum(when(hot, 1L).otherwise(0L)).as("hot_bucket_rows"),
      max(bucketN).as("max_bucket_n"))

  /** Prefix of the observed-metrics names [[capHotBuckets]] attaches to
    * every guarded probe scan. */
  val CapMetricPrefix = "graft.hot_bucket_cap"

  private val capSeq = new java.util.concurrent.atomic.AtomicLong

  /** Hot-bucket cap activity for a guarded frame — a persisted-index
    * probe OR an inline near-dup pairs frame ([[Dedup]]'s star-link
    * guards observe through the same machinery) — summed over every
    * guarded scan in its plan: how many candidate rows the guard
    * bounded (`rowsSuppressed` — dropped for representatives at probes,
    * star-linked through the representative inline), how many rows sat
    * in over-threshold buckets (`hotBucketRows`), and the largest
    * bucket seen (`maxBucketN`). Metrics populate when THIS
    * frame materializes (collect / write / foreach); before that they
    * read zero, and an action on a derived frame (e.g. `df.count()`
    * executes a derived aggregate) records on the derived frame's own
    * execution instead. `None` means the frame contains no guarded
    * scan at all. rowsSuppressed == 0
    * with hotBucketRows == 0 is the exhaustive-enumeration case; a
    * positive rowsSuppressed is the explicit signal that the near-dup
    * decision was made through representatives rather than full
    * enumeration (the documented recall trade). */
  def capActivity(probeResult: DataFrame): Option[CapActivity] = {
    val rows = probeResult.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(CapMetricPrefix) => row
    }.toSeq
    def longAt(r: org.apache.spark.sql.Row, field: String): Long = {
      val i = r.fieldIndex(field)
      if (r.isNullAt(i)) 0L else r.getLong(i)
    }
    if (rows.isEmpty) None
    else Some(CapActivity(
      rowsSuppressed = rows.map(longAt(_, "rows_suppressed")).sum,
      hotBucketRows = rows.map(longAt(_, "hot_bucket_rows")).sum,
      maxBucketN = rows.map(longAt(_, "max_bucket_n")).max))
  }

  /** See [[capActivity]]. */
  final case class CapActivity(rowsSuppressed: Long, hotBucketRows: Long,
    maxBucketN: Long)

  /** Probes a persisted MinHash index: near-dup matches for each query
    * doc at exact-Jaccard ≥ threshold. Returns (query_id, match_id,
    * jaccard); self-matches (same id) are excluded. The band-table join
    * moves only the probe side — the index is pre-bucketed on band_key.
    * Band buckets above `hotBandThreshold` contribute only their
    * representative (see [[capHotBuckets]]). */
  def probeMinhash(spark: SparkSession, queries: DataFrame, idCol: String,
      textCol: String, table: String, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_bands",
      minhashParams(shingleN, numHashes, bands), "probe")
    // The probe side is an incremental-ingest batch — small by contract —
    // so its shingles are recomputed per consumer instead of cached:
    // repeated probes in a long-lived session accumulate no persisted
    // RDDs (asserted in IndexStoreSpec). Callers probing with a
    // corpus-sized query set should persist upstream themselves.
    // spreadForHash spreads signature hashing across cores when the
    // batch arrives as a single raw split (and skips the exchange for
    // pinned gate batches).
    val qsh = Ops.spreadForHash(queries)
      .select(col(idCol).as("query_id"),
        array_distinct(Dedup.wordShingles(col(textCol), shingleN))
          .as("q_shingles"))
    val qBands = qsh.select(col("query_id"),
      explode(bandKeys(Dedup.minhashSignature(col("q_shingles"), numHashes),
        bands, numHashes / bands)).as("band_key"))
    val candidates = capHotBuckets(spark.table(s"${table}_bands"),
        "band_key", idCol, hotBandThreshold)
      .join(qBands, "band_key")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("match_id"))
      .distinct()
    candidates
      .join(spark.table(s"${table}_shingles")
        .select(col(idCol).as("match_id"), col("shingles").as("m_shingles")),
        "match_id")
      .join(qsh, "query_id")
      // raw-threshold / rounded-display split, matching
      // minhashNearDupPairs and probeSrpNearDup: rounding before the
      // filter would admit values up to 5e-7 below the threshold
      .withColumn("__j_raw", Dedup.jaccard(col("q_shingles"), col("m_shingles")))
      .where(col("__j_raw") >= threshold)
      .select(col("query_id"), col("match_id"),
        round(col("__j_raw"), 6).as("jaccard"))
  }

  /** The incremental-ingest dedup shape made first-class — the loop a
    * crawl pipeline runs forever: near-dup-check an arriving batch
    * against the persisted index, keep only novel documents, append
    * exactly those so the NEXT batch is checked against them too.
    * Returns (accepted, matches): `accepted` is the batch minus docs
    * matching the index minus batch-INTERNAL near-dups (two novel
    * near-copies arriving together — neither is in the index, so the
    * probe alone misses them; the inline pairs pass catches them and
    * the min id wins, the same keeper rule as dedupClusters);
    * `matches` is the probe evidence (query_id, match_id, jaccard) for
    * audit. The append is the only side effect, and it happens AFTER
    * both checks, so a crash mid-call never indexes a rejected doc.
    *
    * The returned frames are PINNED to the pre-append index state
    * (eager localCheckpoint): the probe runs exactly once, before the
    * append, and later consumption replays the materialized rows rather
    * than re-probing the grown index. Without the pin, re-evaluation
    * could diverge from what was actually appended — hot-bucket capping
    * is not monotone (an append can push a bucket over the threshold,
    * SHRINKING its candidates to the representatives), so a doc
    * rejected pre-append could fail to re-match and appear accepted
    * without ever having been indexed. Ids are assumed unique across
    * batches — re-ingesting an ID the index already holds would hide
    * its own match behind the self-id filter. */
  def dedupIngestMinhash(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends)
      : (DataFrame, DataFrame) = {
    val r = dedupIngest(batch, idCol,
      probe = b => probeMinhash(spark, b, idCol, textCol, table,
        shingleN, numHashes, bands, threshold, hotBandThreshold),
      innerPairs = b => Dedup.minhashNearDupPairs(b, idCol, textCol,
        shingleN, numHashes, bands, threshold, hotBandThreshold),
      append = b => appendMinhashIndex(b, idCol, textCol, table,
        shingleN, numHashes, bands))
    autoCompact(spark, "minhash", table, autoCompactAppends)
    r
  }

  /** SimHash instance of the same loop — the Hamming-distance text
    * index gets the identical choreography via its probe/pairs/append
    * triple. */
  def dedupIngestSimhash(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String, maxHamming: Int = 3,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends)
      : (DataFrame, DataFrame) = {
    val r = dedupIngest(batch, idCol,
      probe = b => probeSimhash(spark, b, idCol, textCol, table,
        maxHamming, hotBandThreshold),
      innerPairs = b => Dedup.simhashNearDupPairs(b, idCol, textCol,
        maxHamming, hotBandThreshold),
      append = b => appendSimhashIndex(b, idCol, textCol, table))
    autoCompact(spark, "simhash", table, autoCompactAppends)
    r
  }

  /** SRP instance of the same loop — EMBEDDING streams get the
    * check-then-append choreography: near-dup-check a vector batch
    * against the persisted SRP index (exact cosine ≥ threshold on the
    * stored vectors, candidates from the band join), drop batch-internal
    * near-copies via the inline blocked-cosine pass (min id keeps, the
    * same keeper rule as the text instances), append the survivors'
    * band and vector rows. */
  def dedupIngestSrp(spark: SparkSession, batch: DataFrame, table: String,
      threshold: Double = 0.999, idCol: String = "vec_id",
      vecCol: String = "vec", nPlanes: Int = 16, bands: Int = 4,
      dim: Int = 64, blockDims: Int = 8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends)
      : (DataFrame, DataFrame) = {
    val r = dedupIngest(batch, idCol,
      probe = b => probeSrpNearDup(spark, b, table, threshold, idCol,
        vecCol, nPlanes, bands, dim, hotBandThreshold),
      innerPairs = b => Similarity.blockedNearDupPairs(b, threshold,
        idCol, vecCol, blockDims),
      append = b => appendSrpIndex(b, table, idCol, vecCol, nPlanes,
        bands, dim))
    autoCompact(spark, "srp", table, autoCompactAppends)
    r
  }

  /** Shared dedup-ingest choreography: probe, drop index matches, drop
    * batch-internal near-dups (id_a < id_b by the pairs contract, so
    * dropping every id_b keeps exactly each cluster's min-id keeper),
    * append the survivors. The append runs AFTER both checks, and both
    * returned frames materialize BEFORE it (eager localCheckpoint, so
    * they are also lineage-free — nothing downstream can re-trigger the
    * probe). localCheckpoint blocks are executor-local and reclaimed by
    * the context cleaner once the caller drops the frames — unlike a
    * CacheManager persist, a long-lived ingest session accumulates no
    * pinned storage. */
  private def dedupIngest(batch: DataFrame, idCol: String,
      probe: DataFrame => DataFrame,
      innerPairs: DataFrame => DataFrame,
      append: DataFrame => Unit): (DataFrame, DataFrame) = {
    val (accepted, matches) = gateStage(batch, idCol, probe, innerPairs)
    append(accepted)
    (accepted, matches)
  }

  /** Pins an arbitrary caller batch expression ONCE so the gate
    * machinery's several consumers replay a materialized leaf instead
    * of re-deriving it. A gate stage evaluates its batch at least three
    * times (probe fingerprinting, the anti-join's left side, the inner
    * pairs pass), and the composed gates re-reference the ORIGINAL
    * batch again for cut attribution — with a non-trivial batch
    * expression (a union of projections, a join) Catalyst additionally
    * pushes the anti-joins below the union, so each checkpoint's plan
    * re-ran the whole derivation once per branch (measured on the
    * composed text gate: a 294-node plan with ~30 exchanges for a
    * 150-doc batch; pinned, the same stage plans ~40 nodes). At scale
    * the same holds: a batch is bounded by the ingest contract, and
    * materializing it once beats re-deriving it 3–6× per gate. Leaf
    * inputs (an already-checkpointed frame — every chained gate's
    * accepted set — or a micro-batch source) are already cheap to
    * replay and pass through unpinned, so chained stages never
    * double-checkpoint. */
  private def pinBatch(batch: DataFrame): DataFrame =
    batch.queryExecution.analyzed match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => batch
      case _ => batch.localCheckpoint()
    }

  /** The CHECK half of [[dedupIngest]] — probe rejection, then
    * batch-internal keeper selection, both results pinned pre-append —
    * factored out so [[dedupIngestGate]] can chain several gates and
    * hold EVERY append until the last gate has ruled. */
  private def gateStage(batch: DataFrame, idCol: String,
      probe: DataFrame => DataFrame,
      innerPairs: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val b = pinBatch(batch)
    val probed = probe(b)
    val matches = probed.localCheckpoint()
    val vsIndex = b.join(
      matches.select(col("query_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    val innerDups = innerPairs(vsIndex)
      .select(col("id_b").as(idCol)).distinct()
    val accepted = vsIndex.join(innerDups, Seq(idCol), "left_anti")
      .localCheckpoint()
    // the probe's and the pairs kernel's own boundaries are consumed
    // now that both results are materialized — as is `b` when this
    // stage pinned it; the caller's input and the returned matches stay
    Ops.freeLogicalRddBlocks(probed, batch)
    Ops.freeLogicalRddBlocks(innerDups, batch, matches)
    (accepted, matches)
  }

  // ---- SimHash index ------------------------------------------------
  // One table is enough: the 64-bit signature rides along with each of
  // its 4 chunk rows, so the exact-Hamming verification is a column
  // comparison inside the candidate join — no second verification join
  // like MinHash's shingle table.

  /** (chunk_id, 16-bit chunk value) packed into one equi-join key:
    * reversible, and a single bucketed column like MinHash's band_key.
    * Signature and chunk extraction come from [[Dedup]]'s shared
    * kernels — the persisted index and the inline pipeline MUST
    * tokenize identically or probes silently diverge. */
  private def chunkKeys(sim: Column): Column =
    array((0 until Dedup.SimhashChunks).map(j =>
      lit(j.toLong << 16).bitwiseOR(Dedup.simhashChunk(sim, j))): _*)

  private def simhashChunks(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    Ops.spreadForHash(docs)
      .select(col(idCol), Dedup.simhashSignature(col(textCol)).as("sim"))
      .select(col(idCol), col("sim"),
        explode(chunkKeys(col("sim"))).as("chunk_key"))
  }

  /** Builds the SimHash index: (id, sim, chunk_key) bucketed by
    * chunk_key — pigeonhole over 4×16-bit chunks, so any pair within
    * Hamming ≤ 3 of a probe collides on at least one chunk. */
  def buildSimhashIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, nBuckets: Int = 8): Unit =
    writeBucketed(simhashChunks(docs, idCol, textCol), s"${table}_chunks",
      path, "chunk_key", nBuckets, Map("idCol" -> idCol))

  /** Appends delta docs' chunk rows in place, mirroring
    * [[appendMinhashIndex]]. */
  def appendSimhashIndex(delta: DataFrame, idCol: String, textCol: String,
      table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_chunks",
      Map("idCol" -> idCol), "append")
    appendBucketed(simhashChunks(delta, idCol, textCol), s"${table}_chunks")
  }

  /** Near-dup matches for each query doc at exact Hamming ≤ maxHamming.
    * Returns (query_id, match_id, hamming); the candidate join moves
    * only the probe side (index bucketed on chunk_key), and the verify
    * is a bit_count on columns already in hand. */
  def probeSimhash(spark: SparkSession, queries: DataFrame, idCol: String,
      textCol: String, table: String, maxHamming: Int = 3,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    require(maxHamming <= Dedup.SimhashChunks - 1,
      s"the ${Dedup.SimhashChunks}x16-bit pigeonhole only guarantees " +
        s"candidate recall for Hamming <= ${Dedup.SimhashChunks - 1}; " +
        s"maxHamming=$maxHamming would silently miss matches")
    requireParams(spark, s"${table}_chunks", Map("idCol" -> idCol), "probe")
    val qChunks = simhashChunks(queries, idCol, textCol)
      .select(col(idCol).as("query_id"), col("sim").as("q_sim"),
        col("chunk_key"))
    capHotBuckets(spark.table(s"${table}_chunks"), "chunk_key", idCol,
        hotBandThreshold)
      .join(qChunks, "chunk_key")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("match_id"),
        bit_count(col("q_sim").bitwiseXOR(col("sim"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ---- Winnow (exact-substring fingerprint) index --------------------
  // The fifth index kind: the winnowed window-fingerprint table behind
  // repeated-span and boilerplate detection ([[Dedup.repeatedWindowSpans]]
  // / [[Dedup.boilerplateDocs]]), persisted once per crawl snapshot.
  // The inline consumers each evaluate the full-corpus md5+winnow pass
  // on BOTH sides of the heavy-fp join; fed from this table, the pass
  // runs once at build time and every consumer is a scan. One table:
  // {table}_wins(id, win_start, fp) bucketed by fp — the key every
  // consumer joins or aggregates on, so the heavy-fingerprint groupBy
  // and the probe join both read the buckets in place with no
  // index-side exchange.

  private def winnowParams(window: Int, guarantee: Int,
      idCol: String): Map[String, String] =
    Map("window" -> window.toString, "guarantee" -> guarantee.toString,
      "idCol" -> idCol)

  /** Builds the winnow fingerprint index for `docs`. A probe or append
    * whose (window, guarantee) differ from the build would select
    * incompatible fingerprints and silently match nothing — the
    * parameters are persisted and validated like every other kind. */
  def buildWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, window: Int = 20, guarantee: Int = 10,
      nBuckets: Int = 8): Unit =
    writeBucketed(Dedup.winnowedFingerprints(Ops.spreadForHash(docs), idCol,
        textCol, window, guarantee), s"${table}_wins", path, "fp", nBuckets,
      winnowParams(window, guarantee, idCol))

  /** Appends `delta` docs' fingerprint rows in place, mirroring
    * [[appendMinhashIndex]]: stable bucket routing keeps a fingerprint's
    * rows co-located across appends, and consumers immediately see old
    * and new documents. */
  def appendWinnowIndex(delta: DataFrame, idCol: String, textCol: String,
      table: String, window: Int = 20, guarantee: Int = 10): Unit = {
    requireParams(delta.sparkSession, s"${table}_wins",
      winnowParams(window, guarantee, idCol), "append")
    appendBucketed(Dedup.winnowedFingerprints(Ops.spreadForHash(delta), idCol,
      textCol, window, guarantee), s"${table}_wins")
  }

  /** [[Dedup.repeatedWindowSpans]] served from the persisted table: the
    * md5+winnow pass ran once at build; this is one aggregation + one
    * flag-back join over the bucketed scan (the heavy groupBy on fp
    * needs no exchange — the scan already hash-partitions on it).
    * Value parity with the inline form is pinned in IndexStoreSpec. */
  def repeatedWindowSpansFromIndex(spark: SparkSession, table: String,
      minDocs: Int = 2, broadcastHeavy: Boolean = true,
      nSalts: Int = 8): DataFrame =
    Dedup.spansFromWins(spark.table(s"${table}_wins"),
      winnowIdCol(spark, table), minDocs, broadcastHeavy, nSalts)

  /** [[Dedup.boilerplateDocs]] served from the persisted table. */
  def boilerplateDocsFromIndex(spark: SparkSession, table: String,
      minDocs: Int = 2, minFrac: Double = 0.5,
      broadcastHeavy: Boolean = true, nSalts: Int = 8): DataFrame =
    Dedup.boilerplateFromWins(spark.table(s"${table}_wins"),
      winnowIdCol(spark, table), minDocs, minFrac, broadcastHeavy, nSalts)

  private def winnowIdCol(spark: SparkSession, table: String): String =
    getParams(spark, s"${table}_wins").getOrElse("idCol", "doc_id")

  /** Verbatim-overlap probe: for each query doc, the indexed docs it
    * shares ≥ 1 winnowed fingerprint with — by the winnowing guarantee,
    * any verbatim repeat of ≥ window + guarantee − 1 tokens between a
    * query and an indexed doc IS detected. Returns (query_id, match_id,
    * n_shared_fps). The join moves only the probe side (index bucketed
    * on fp); fingerprint buckets above `hotFpThreshold` — a license
    * header indexed from thousands of docs — contribute only their
    * representatives (see [[capHotBuckets]]; activity observable via
    * [[capActivity]]). */
  def probeWinnow(spark: SparkSession, queries: DataFrame, idCol: String,
      textCol: String, table: String, window: Int = 20,
      guarantee: Int = 10,
      hotFpThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_wins",
      winnowParams(window, guarantee, idCol), "probe")
    val storedId = winnowIdCol(spark, table)
    val qWins = Dedup.winnowedFingerprints(Ops.spreadForHash(queries), idCol,
        textCol, window, guarantee)
      .select(col(idCol).as("query_id"), col("fp"))
    capHotBuckets(spark.table(s"${table}_wins"), "fp", storedId,
        hotFpThreshold)
      .join(qWins, "fp")
      .where(col(storedId) =!= col("query_id"))
      .groupBy(col("query_id"), col(storedId).as("match_id"))
      .agg(countDistinct(col("fp")).as("n_shared_fps"))
  }

  /** Winnow instance of the dedup-ingest loop — the EXACT-SUBSTRING
    * gate: reject batch docs that verbatim-share ≥ `minSharedFps`
    * winnowed fingerprints (≥ window + guarantee − 1 contiguous tokens
    * guaranteed detected) with the index or with an earlier batch doc
    * (min-id keeper), append the survivors' fingerprints. Catches the
    * failure mode the similarity instances miss: a doc that embeds a
    * long verbatim block inside otherwise-novel text sails under any
    * whole-document similarity threshold. Docs shorter than `window`
    * tokens have no fingerprints and always pass — whole-short-doc
    * duplication is the MinHash/SimHash instances' job. */
  def dedupIngestWinnow(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String, window: Int = 20,
      guarantee: Int = 10, minSharedFps: Int = 1,
      hotFpThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends)
      : (DataFrame, DataFrame) = {
    val r = dedupIngest(batch, idCol,
      probe = b => probeWinnow(spark, b, idCol, textCol, table, window,
        guarantee, hotFpThreshold)
        .where(col("n_shared_fps") >= minSharedFps),
      innerPairs = b => Dedup.winnowNearDupPairs(b, idCol, textCol,
        window, guarantee, minSharedFps, hotFpThreshold),
      append = b => appendWinnowIndex(b, idCol, textCol, table, window,
        guarantee))
    autoCompact(spark, "winnow", table, autoCompactAppends)
    r
  }

  // ---- exact-fingerprint index --------------------------------------
  // The sixth (and cheapest) index kind: one md5 per document, no
  // signatures, no windows. Exists so the composed ingest gate can cut
  // byte-identical re-crawls BEFORE any shingle/winnow hashing runs —
  // at crawl scale the majority of rejects are exact re-fetches, and
  // paying 64 minhash passes to discover a doc is its own byte-copy is
  // the wrong cost order.

  /** Whole-document canonical fingerprint: md5 over the lowercased,
    * whitespace-normalized text — the SAME normalization the shingle
    * and winnow kernels tokenize with, so "identical modulo case and
    * whitespace" is one definition across every dedup family (a doc the
    * exact gate passes can never be a 1.0-jaccard trivial catch for the
    * minhash gate). */
  def exactFingerprint(text: Column): Column =
    md5(concat_ws(" ", split(trim(lower(text)), "\\s+")).cast("binary"))

  private def exactFps(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    Ops.spreadForHash(docs)
      .select(col(idCol), exactFingerprint(col(textCol)).as("fp"))
  }

  /** Builds the exact-duplicate index: (id, fp) bucketed by fp, so a
    * probe join moves only the probe side — the same zero-index-shuffle
    * contract as every other kind. */
  def buildExactIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, nBuckets: Int = 8): Unit =
    writeBucketed(exactFps(docs, idCol, textCol), s"${table}_fps", path,
      "fp", nBuckets, Map("idCol" -> idCol, "payload" -> "text"))

  /** Appends delta docs' fingerprint rows in place, mirroring
    * [[appendMinhashIndex]]. */
  def appendExactIndex(delta: DataFrame, idCol: String, textCol: String,
      table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_fps",
      Map("idCol" -> idCol, "payload" -> "text"), "append")
    appendBucketed(exactFps(delta, idCol, textCol), s"${table}_fps")
  }

  /** Exact-duplicate probe: the indexed docs sharing each query doc's
    * canonical fingerprint — (query_id, match_id). Fingerprint buckets
    * above `hotFpThreshold` (thousands of byte-identical boilerplate
    * copies) contribute only their representatives via
    * [[capHotBuckets]]; for EXACT duplication any one match is
    * decision-equivalent to all of them, so the cap costs nothing but
    * enumeration. */
  def probeExact(spark: SparkSession, queries: DataFrame, idCol: String,
      textCol: String, table: String,
      hotFpThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_fps",
      Map("idCol" -> idCol, "payload" -> "text"), "probe")
    val qf = exactFps(queries, idCol, textCol)
      .select(col(idCol).as("query_id"), col("fp"))
    capHotBuckets(spark.table(s"${table}_fps"), "fp", idCol, hotFpThreshold)
      .join(qf, "fp")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("match_id"))
      .distinct()
  }

  /** Batch-internal exact-duplicate pairs, keeper = min id per
    * fingerprint: (id_a = keeper, id_b = dropped copy). A WINDOW, not a
    * self-join — work and output stay linear even when the whole batch
    * is one fingerprint, so this path needs no hot-bucket guard at
    * all. */
  private def exactInnerPairs(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy("fp")
    exactFps(batch, idCol, textCol)
      .withColumn("keeper", min(col(idCol)).over(w))
      .where(col(idCol) =!= col("keeper"))
      .select(col("keeper").as("id_a"), col(idCol).as("id_b"))
  }

  /** Exact instance of the dedup-ingest loop — the first, cheapest
    * gate run standalone. */
  def dedupIngestExact(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, table: String,
      hotFpThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends)
      : (DataFrame, DataFrame) = {
    val r = dedupIngest(batch, idCol,
      probe = b => probeExact(spark, b, idCol, textCol, table,
        hotFpThreshold),
      innerPairs = b => exactInnerPairs(b, idCol, textCol),
      append = b => appendExactIndex(b, idCol, textCol, table))
    autoCompact(spark, "exact", table, autoCompactAppends)
    r
  }

  // ---- Bloom sidecar over the exact kind ---------------------------
  //
  // The Dolma-style accelerator ([[BloomGate]]) persisted beside the
  // fingerprint table: a serialized filter covering every indexed fp,
  // so the ingest gate's most common outcome — "never seen" — is
  // answered inside the probe batch's own projection with NO join
  // against the index. Correctness hinges on ONE invariant: the filter
  // must be a SUPERSET of the table's fingerprints (bloom false
  // negatives are the only wrong answer; false positives just proceed
  // to the exact join, which removes them). The sidecar therefore
  // stamps the index's monotone append-total at write time, and the
  // probe uses the filter ONLY when the stamp matches the index's
  // current state — an append without the matching sidecar update
  // (e.g. a crash between the two writes) degrades to the plain probe,
  // never to a wrong one. Deletes and compactions only REMOVE rows, so
  // a matching-gen filter stays a superset through them; appends bump
  // the stamp and must OR the batch in ([[appendBloomSidecar]] — O(batch)
  // work plus a numBits/8-byte rewrite, preserving the streaming
  // doctrine). Capacity is sized ahead (`capacityFactor`× current
  // items) so OR-appends degrade fpp gracefully, never correctness.

  private def bloomSidecarTable(table: String) = s"${table}_fpbloom"

  private def bloomBytes(fps: DataFrame, capacityItems: Long,
      numBits: Long): Array[Byte] = {
    val f = BloomGate.buildFilterSized(fps, col("fp"), capacityItems,
      numBits)
    if (f != null) f
    else { // empty reference: a fresh filter with the same layout
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter
        .create(capacityItems, numBits).writeTo(bos)
      bos.toByteArray
    }
  }

  private def writeBloomSidecar(spark: SparkSession, table: String,
      bytes: Array[Byte], capacityItems: Long, numBits: Long,
      gen: String): Unit = {
    import spark.implicits._
    val sc = bloomSidecarTable(table)
    val base = new org.apache.hadoop.fs.Path(
      tableMeta(spark, s"${table}_fps").location).getParent
    Seq((bytes, capacityItems, numBits, gen))
      .toDF("filter", "capacity_items", "num_bits", "gen")
      .coalesce(1) // one row by construction
      .write.option("path", s"$base/${sc}_g$gen")
      .mode("overwrite").saveAsTable(sc)
  }

  /** (Re)builds the sidecar from the CURRENT fingerprint table —
    * called at index build time and again after compactions or
    * whenever fpp has degraded past taste. Capacity is
    * `capacityFactor`× the current distinct-fp count so subsequent
    * OR-appends stay within the sized fpp for a while. */
  def refreshBloomSidecar(spark: SparkSession, table: String,
      fpp: Double = 0.01, capacityFactor: Int = 4): Unit = {
    val fps = s"${table}_fps"
    // another session (a streaming clone) may have appended since this
    // session last resolved the table — a stale file listing here would
    // build a filter MISSING those fps, the one wrong direction
    spark.catalog.refreshTable(fps)
    val distinctFps = spark.table(fps).select("fp").distinct()
    val cap = math.max(1L, distinctFps.count()) * capacityFactor
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(cap, fpp)
    writeBloomSidecar(spark, table, bloomBytes(distinctFps, cap, numBits),
      cap, numBits, genOfFps(spark, fps))
  }

  private def genOfFps(spark: SparkSession, fps: String): String =
    getParams(spark, fps).getOrElse(AppendsTotalParam, "0")

  /** ORs an appended batch's fingerprints into the persisted filter
    * and restamps — call right AFTER [[appendExactIndex]] on the SAME
    * delta. The batch filter is built with the sidecar's exact layout
    * (capacity and bit count fix the hash family), so the merge is a
    * pure bitwise OR. */
  def appendBloomSidecar(spark: SparkSession, table: String,
      delta: DataFrame, idCol: String, textCol: String): Unit = {
    val sc = bloomSidecarTable(table)
    // stale-read hazard mirrors refreshBloomSidecar's: ORing into an
    // OLD filter while stamping the new gen would fabricate freshness
    spark.catalog.refreshTable(sc)
    val row = spark.table(sc).head()
    val (bytes, cap, numBits, _) = (row.getAs[Array[Byte]]("filter"),
      row.getAs[Long]("capacity_items"), row.getAs[Long]("num_bits"),
      row.getAs[String]("gen"))
    val batch = bloomBytes(
      exactFps(delta, idCol, textCol).select("fp"), cap, numBits)
    val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
      .mergeInPlace(
        org.apache.spark.util.sketch.BloomFilter.readFrom(batch))
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    writeBloomSidecar(spark, table, bos.toByteArray, cap, numBits,
      genOfFps(spark, s"${table}_fps"))
  }

  /** [[probeExact]] behind the sidecar: when the sidecar's stamp
    * matches the index's current append-total, the query side drops
    * its never-seen majority via the broadcast-local bit test BEFORE
    * the index join; otherwise (no sidecar, stale stamp) the plain
    * probe runs. Value-identical to [[probeExact]] in every case. */
  def probeExactBloomed(spark: SparkSession, queries: DataFrame,
      idCol: String, textCol: String, table: String,
      hotFpThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_fps",
      Map("idCol" -> idCol, "payload" -> "text"), "probe")
    // the store may have been appended by another session (the
    // streaming foreachBatch clone) since this session cached either
    // relation — refresh both before trusting listing or stamp
    spark.catalog.refreshTable(s"${table}_fps")
    if (spark.catalog.tableExists(bloomSidecarTable(table)))
      spark.catalog.refreshTable(bloomSidecarTable(table))
    val qf = exactFps(queries, idCol, textCol)
      .select(col(idCol).as("query_id"), col("fp"))
    val fresh: Option[Array[Byte]] =
      if (!spark.catalog.tableExists(bloomSidecarTable(table))) None
      else {
        val row = spark.table(bloomSidecarTable(table)).head()
        if (row.getAs[String]("gen") == genOfFps(spark, s"${table}_fps"))
          Some(row.getAs[Array[Byte]]("filter"))
        else None
      }
    val pre = fresh match {
      case Some(f) => qf.where(BloomGate.mightContain(f, col("fp")))
      case None    => qf
    }
    capHotBuckets(spark.table(s"${table}_fps"), "fp", idCol, hotFpThreshold)
      .join(pre, "fp")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("match_id"))
      .distinct()
  }

  // ---- exact-fingerprint index, embedding payload -------------------
  // The same cheapest-gate idea for EMBEDDING streams: an embedding
  // pipeline re-fetching content it already embedded produces
  // byte-identical vectors (deterministic embedder), and paying an SRP
  // band probe to discover a vector is its own byte-copy is the same
  // wrong cost order the text gate exists to avoid.

  /** Whole-vector canonical fingerprint: md5 over the exact decimal
    * rendering of the components — byte-identical vectors collide, ANY
    * numeric perturbation (even 1 ulp) does not. [[exactFingerprint]]'s
    * role, for embedding payloads. */
  def vecFingerprint(vec: Column): Column =
    md5(concat_ws(",", transform(vec, v => v.cast("string")))
      .cast("binary"))

  private def vecFps(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    Ops.spreadForHash(vecs)
      .select(col(idCol), vecFingerprint(col(vecCol)).as("fp"))
  }

  /** [[buildExactIndex]] over an embedding corpus — identical storage
    * contract; the payload param makes text/vec cross-probes fail loud
    * at the parameter check instead of silently never matching. */
  def buildExactVecIndex(vecs: DataFrame, idCol: String, vecCol: String,
      table: String, path: String, nBuckets: Int = 8): Unit =
    writeBucketed(vecFps(vecs, idCol, vecCol), s"${table}_fps", path, "fp",
      nBuckets, Map("idCol" -> idCol, "payload" -> "vec"))

  /** Appends delta vectors' fingerprint rows in place. */
  def appendExactVecIndex(delta: DataFrame, idCol: String, vecCol: String,
      table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_fps",
      Map("idCol" -> idCol, "payload" -> "vec"), "append")
    appendBucketed(vecFps(delta, idCol, vecCol), s"${table}_fps")
  }

  /** Byte-identical-vector probe — (query_id, match_id), the
    * [[probeExact]] contract over embeddings, same hot-fp cap. */
  def probeExactVec(spark: SparkSession, queries: DataFrame, idCol: String,
      vecCol: String, table: String,
      hotFpThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_fps",
      Map("idCol" -> idCol, "payload" -> "vec"), "probe")
    val qf = vecFps(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("fp"))
    capHotBuckets(spark.table(s"${table}_fps"), "fp", idCol, hotFpThreshold)
      .join(qf, "fp")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("match_id"))
      .distinct()
  }

  /** Batch-internal byte-identical pairs — the windowed (linear,
    * guard-free) keeper selection of [[exactInnerPairs]], over
    * vector fingerprints. */
  private def vecInnerPairs(batch: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val w = Window.partitionBy("fp")
    vecFps(batch, idCol, vecCol)
      .withColumn("keeper", min(col(idCol)).over(w))
      .where(col(idCol) =!= col("keeper"))
      .select(col("keeper").as("id_a"), col(idCol).as("id_b"))
  }

  // ---- composed multi-gate ingest -----------------------------------

  /** The composed multi-gate ingest pipeline — this engine's analog of
    * the reference's single-entry sync loop
    * (`/root/reference/sync-db2.py:90-190`: one flow runs extract →
    * process → upsert, not three separately-invoked scripts): an
    * arriving document batch passes
    *
    *   1. the EXACT gate — identical canonical fingerprint (one md5 per
    *      doc, the cheapest cut),
    *   2. the WINNOW gate — verbatim overlap of ≥ window + guarantee − 1
    *      contiguous tokens with any indexed or co-batch doc,
    *   3. the MINHASH gate — whole-document near-duplication at
    *      jaccard ≥ threshold,
    *
    * each checking against its persisted index AND batch-internally
    * (min-id keeper), in COST-ASCENDING order so the expensive signature
    * hashing runs only over what the cheap gates let through. Survivors
    * of ALL gates — and only they — append to all three indexes, so the
    * next batch sees them at every gate and a doc rejected at gate k is
    * never indexed anywhere. (Running the three single-kind loops in
    * sequence accepts the SAME set — parity pinned in IndexStoreSpec —
    * but each loop appends before the next gate rules, so earlier
    * indexes accumulate docs that were ultimately rejected.)
    *
    * Returns (accepted, decisions): `decisions` is (id, gate) naming,
    * for every rejected doc, the FIRST gate that cut it — gates after
    * the cut never see the doc, mirroring the reference loop's
    * per-record skip accounting. Both frames are pinned pre-append
    * (the [[dedupIngest]] stance, for the same non-monotone-cap
    * reason). Consecutive-batch stability is spec'd alongside the
    * parity. */
  /** Builds the composed text gate's three indexes — three independent
    * tables over one corpus frame — CONCURRENTLY (Ops.concurrently):
    * the pre-seed of every gate lifecycle paid three statement walls
    * back to back for writes with no ordering between them. Parameter
    * defaults mirror the per-kind builders. */
  def buildGateIndexes(docs: DataFrame, idCol: String, textCol: String,
      exactTable: String, winnowTable: String, minhashTable: String,
      pathBase: String, window: Int = 20, guarantee: Int = 10,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit =
    Ops.concurrently(
      () => buildExactIndex(docs, idCol, textCol, exactTable,
        s"$pathBase/$exactTable"),
      () => buildWinnowIndex(docs, idCol, textCol, winnowTable,
        s"$pathBase/$winnowTable", window, guarantee),
      () => buildMinhashIndex(docs, idCol, textCol, minhashTable,
        s"$pathBase/$minhashTable", shingleN, numHashes, bands))

  def dedupIngestGate(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, exactTable: String, winnowTable: String,
      minhashTable: String, window: Int = 20, guarantee: Int = 10,
      minSharedFps: Int = 1, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends)
      : (DataFrame, DataFrame) = {
    val (a3, decisions) = dedupIngestGateCheck(spark, batch, idCol,
      textCol, exactTable, winnowTable, minhashTable, window, guarantee,
      minSharedFps, shingleN, numHashes, bands, threshold,
      hotBandThreshold)
    dedupIngestGateAppend(spark, a3, idCol, textCol, exactTable,
      winnowTable, minhashTable, window, guarantee, shingleN, numHashes,
      bands, autoCompactAppends)
    (a3, decisions)
  }

  /** The CHECK half of [[dedupIngestGate]] — all three gates and the
    * attribution, NO side effects. Streaming callers use the split so
    * a crash-replayed micro-batch can re-derive the same decisions
    * (nothing of the batch is in the indexes yet) and gate its sink
    * append idempotently before [[dedupIngestGateAppend]] runs. */
  def dedupIngestGateCheck(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, exactTable: String,
      winnowTable: String, minhashTable: String, window: Int = 20,
      guarantee: Int = 10, minSharedFps: Int = 1, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold)
      : (DataFrame, DataFrame) = {
    // pinned HERE (not just inside the first gateStage) because the cut
    // attribution below re-references the original batch — unpinned,
    // that anti-join re-derives the caller's batch expression once more
    val batch0 = pinBatch(batch)
    val (a1, m1) = gateStage(batch0, idCol,
      probe = b => probeExact(spark, b, idCol, textCol, exactTable,
        hotBandThreshold),
      innerPairs = b => exactInnerPairs(b, idCol, textCol))
    val (a2, m2) = gateStage(a1, idCol,
      probe = b => probeWinnow(spark, b, idCol, textCol, winnowTable,
        window, guarantee, hotBandThreshold)
        .where(col("n_shared_fps") >= minSharedFps),
      innerPairs = b => Dedup.winnowNearDupPairs(b, idCol, textCol,
        window, guarantee, minSharedFps, hotBandThreshold))
    val (a3, m3) = gateStage(a2, idCol,
      probe = b => probeMinhash(spark, b, idCol, textCol, minhashTable,
        shingleN, numHashes, bands, threshold, hotBandThreshold),
      innerPairs = b => Dedup.minhashNearDupPairs(b, idCol, textCol,
        shingleN, numHashes, bands, threshold, hotBandThreshold))
    // the per-gate matches are spent (the accepted sets hold the cut);
    // each stage's output is pinned (gateStage), so these anti joins
    // replay materialized rows rather than re-probing the grown indexes
    Seq(m1, m2, m3).foreach(Ops.freeLogicalRddBlocks(_))
    val cutAt = gateCut(idCol) _
    val decisions = cutAt(batch0, a1, "exact")
      .unionByName(cutAt(a1, a2, "winnow"))
      .unionByName(cutAt(a2, a3, "minhash"))
    (a3, decisions)
  }

  /** The APPEND half of [[dedupIngestGate]]: survivors append to all
    * three indexes, only after the last gate has ruled. */
  def dedupIngestGateAppend(spark: SparkSession, accepted: DataFrame,
      idCol: String, textCol: String, exactTable: String,
      winnowTable: String, minhashTable: String, window: Int = 20,
      guarantee: Int = 10, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16,
      autoCompactAppends: Int = DefaultAutoCompactAppends): Unit = {
    // three independent tables, one pinned source frame: the appends
    // overlap (Ops.concurrently) instead of paying three statement
    // walls back to back; a partial failure leaves exactly the state
    // the gate's idempotent-replay contract already absorbs (see
    // StreamingIndexIngest.runGateStream). Compaction checks stay
    // sequential — rare, and each rewrites its own table.
    Ops.concurrently(
      () => appendExactIndex(accepted, idCol, textCol, exactTable),
      () => appendWinnowIndex(accepted, idCol, textCol, winnowTable,
        window, guarantee),
      () => appendMinhashIndex(accepted, idCol, textCol, minhashTable,
        shingleN, numHashes, bands))
    autoCompact(spark, "exact", exactTable, autoCompactAppends)
    autoCompact(spark, "winnow", winnowTable, autoCompactAppends)
    autoCompact(spark, "minhash", minhashTable, autoCompactAppends)
  }

  /** (id, gate) rows for the docs `in` contains but `out` does not —
    * the first-gate-that-cut attribution both composed gates share. */
  private def gateCut(idCol: String)(in: DataFrame, out: DataFrame,
      gate: String): DataFrame =
    in.select(col(idCol))
      .join(out.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("gate", lit(gate))

  /** The EMBEDDING composed ingest gate — [[dedupIngestGate]]'s shape
    * for vector streams: an arriving embedding batch passes
    *
    *   1. the EXACT gate — byte-identical vector fingerprint (one md5
    *      per vector, the cheapest cut),
    *   2. the SRP gate — cosine near-duplication at >= `threshold`
    *      against the hyperplane-LSH index,
    *
    * each checking the persisted index AND batch-internally (min-id
    * keeper), cost-ascending; survivors of BOTH gates — and only they —
    * append to both indexes. Same pinned-pre-append, first-gate
    * decisions, and parity-with-sequential-loops contracts as the text
    * gate (spec'd in IndexStoreSpec).
    *
    * `ivfTable` adds an optional THIRD gate after SRP: cosine ≥
    * `ivfThreshold` against a trained-centroid IVF index
    * ([[probeIvfNearDup]]) — for corpora where SRP's data-independent
    * planes under-recall, a coarse quantizer that followed the corpus's
    * density completes the symmetry. It runs LAST because probing
    * nprobe inverted lists with exact cosine costs more per survivor
    * than the SRP band join; survivors then also append to the IVF
    * lists (assignment against the persisted centroids — the trained
    * quantizer is reused, never retrained per batch). */
  def dedupIngestGateVec(spark: SparkSession, batch: DataFrame,
      exactTable: String, srpTable: String, threshold: Double = 0.999,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      blockDims: Int = 8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      autoCompactAppends: Int = DefaultAutoCompactAppends,
      ivfTable: Option[String] = None, ivfThreshold: Double = 0.999,
      ivfNprobe: Int = 3)
      : (DataFrame, DataFrame) = {
    val (a3, decisions) = dedupIngestGateVecCheck(spark, batch,
      exactTable, srpTable, threshold, idCol, vecCol, nPlanes, bands,
      dim, blockDims, hotBandThreshold, ivfTable, ivfThreshold, ivfNprobe)
    dedupIngestGateVecAppend(spark, a3, exactTable, srpTable, idCol,
      vecCol, nPlanes, bands, dim, autoCompactAppends, ivfTable)
    (a3, decisions)
  }

  /** CHECK half of [[dedupIngestGateVec]] — no side effects; see
    * [[dedupIngestGateCheck]] for why streaming callers split. */
  def dedupIngestGateVecCheck(spark: SparkSession, batch: DataFrame,
      exactTable: String, srpTable: String, threshold: Double = 0.999,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      blockDims: Int = 8,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      ivfTable: Option[String] = None, ivfThreshold: Double = 0.999,
      ivfNprobe: Int = 3)
      : (DataFrame, DataFrame) = {
    // pinned for the cut attribution's re-reference, as in the text gate
    val batch0 = pinBatch(batch)
    val (a1, m1) = gateStage(batch0, idCol,
      probe = b => probeExactVec(spark, b, idCol, vecCol, exactTable,
        hotBandThreshold),
      innerPairs = b => vecInnerPairs(b, idCol, vecCol))
    val (a2, m2) = gateStage(a1, idCol,
      probe = b => probeSrpNearDup(spark, b, srpTable, threshold, idCol,
        vecCol, nPlanes, bands, dim, hotBandThreshold),
      innerPairs = b => Similarity.blockedNearDupPairs(b, threshold,
        idCol, vecCol, blockDims))
    val ivfStage = ivfTable.map(t =>
      gateStage(a2, idCol,
        probe = b => probeIvfNearDup(spark, b, t, ivfThreshold,
          ivfNprobe, idCol, vecCol),
        innerPairs = b => Similarity.blockedNearDupPairs(b, ivfThreshold,
          idCol, vecCol, blockDims)))
    val a3 = ivfStage.fold(a2)(_._1)
    // spent matches, as in the text gate
    (Seq(m1, m2) ++ ivfStage.map(_._2)).foreach(Ops.freeLogicalRddBlocks(_))
    val cutAt = gateCut(idCol) _
    val decisions = cutAt(batch0, a1, "exact")
      .unionByName(cutAt(a1, a2, "srp"))
      .unionByName(cutAt(a2, a3, "ivf"))
    (a3, decisions)
  }

  /** APPEND half of [[dedupIngestGateVec]]. */
  def dedupIngestGateVecAppend(spark: SparkSession, accepted: DataFrame,
      exactTable: String, srpTable: String,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      autoCompactAppends: Int = DefaultAutoCompactAppends,
      ivfTable: Option[String] = None): Unit = {
    // independent tables, one pinned source — overlapped like the text
    // gate's appends (no replay ordering here: this path's callers
    // rebuild fresh per invocation; the streaming path orders its own)
    Ops.concurrently(
      (Seq(
        () => appendExactVecIndex(accepted, idCol, vecCol, exactTable),
        () => appendSrpIndex(accepted, srpTable, idCol, vecCol, nPlanes,
          bands, dim)) ++
        ivfTable.map(t =>
          () => appendIvfIndex(spark, accepted, t, idCol, vecCol))): _*)
    autoCompact(spark, "exact", exactTable, autoCompactAppends)
    autoCompact(spark, "srp", srpTable, autoCompactAppends)
    ivfTable.foreach(t => autoCompact(spark, "ivf", t, autoCompactAppends))
  }

  /** Take-down propagation through the composed TEXT gate — the
    * reference's deletion reconciliation
    * (`/root/reference/delete-removed-tickets.py:112-188`: records
    * removed upstream are purged from every downstream store in one
    * sweep), composed over the gate's three indexes: a taken-down
    * document must stop gating future batches at EVERY gate at once —
    * deleting it from only one index would leave the others silently
    * rejecting re-submissions of content the pipeline no longer owns.
    * Each per-kind erasure is the generic bucket-preserving rewrite
    * ([[deleteFrom]]); retired directories stay until the caller
    * vacuums per kind. `idCol` is checked against every gate table's
    * build-time id column before anything is rewritten. */
  def deleteFromGateIndexes(spark: SparkSession, ids: DataFrame,
      idCol: String, exactTable: String, winnowTable: String,
      minhashTable: String, newPathBase: String): Unit = {
    val gates = Seq("exact" -> exactTable, "winnow" -> winnowTable,
      "minhash" -> minhashTable)
    gates.foreach { case (kind, t) => requireParams(spark,
      tablesOf(kind, t).head, Map("idCol" -> idCol), "delete") }
    gates.foreach { case (kind, t) =>
      deleteFrom(spark, kind, t, ids, s"$newPathBase/$t") }
  }

  /** [[deleteFromGateIndexes]] for the EMBEDDING gate: exact-vec + SRP
    * (+ IVF when the third gate slot is in use). */
  def deleteFromGateVecIndexes(spark: SparkSession, ids: DataFrame,
      exactTable: String, srpTable: String, newPathBase: String,
      ivfTable: Option[String] = None): Unit =
    (Seq("exact" -> exactTable, "srp" -> srpTable) ++ ivfTable.map("ivf" -> _))
      .foreach { case (kind, t) =>
        deleteFrom(spark, kind, t, ids, s"$newPathBase/$t") }

  /** Near-dup probe against a persisted IVF index — the contract of
    * [[probeSrpNearDup]] served from trained inverted lists: every
    * indexed vector with cosine ≥ `threshold` among the query's
    * `nprobe` nearest lists. The probed-list join moves only the probe
    * side (lists are bucketed on cluster_id). */
  def probeIvfNearDup(spark: SparkSession, queries: DataFrame,
      table: String, threshold: Double = 0.999, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "vec"): DataFrame = {
    requireParams(spark, s"${table}_lists",
      Map("idCol" -> idCol, "vecCol" -> vecCol, "quantized" -> "none"),
      "probe")
    IvfIndex.nearDupFromLists(spark.table(s"${table}_lists"), queries,
      spark.table(s"${table}_centroids"), threshold, nprobe, idCol, vecCol)
  }

  /** [[probeIvfNearDup]] against a QUANTIZED IVF index — the serving
    * shape for a read-mostly duplicate check at 100 TB (int8 lists scan
    * 4-8× fewer bytes). The `guardBand` relaxes the threshold on the
    * dequantized cosine so grid error never drops a true near-dup
    * ([[IvfIndex.nearDupFromQuantizedLists]]); refuses a non-quantized
    * index via the persisted build parameter. */
  def probeIvfNearDupQuantized(spark: SparkSession, queries: DataFrame,
      table: String, threshold: Double = 0.999, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "vec",
      guardBand: Double = 0.001): DataFrame = {
    requireParams(spark, s"${table}_lists",
      Map("idCol" -> idCol, "vecCol" -> vecCol, "quantized" -> "int8"),
      "probe")
    IvfIndex.nearDupFromQuantizedLists(spark.table(s"${table}_lists"),
      queries, spark.table(s"${table}_centroids"), threshold, nprobe,
      idCol, vecCol, guardBand)
  }

  // ---- SRP (hyperplane) LSH index -----------------------------------
  // The fourth index kind: ANN over embeddings with data-independent
  // directions (no training step, unlike IVF — nothing to drift, appends
  // never need re-assignment). Two tables, mirroring MinHash's layout:
  // {table}_bands(band_key, id) bucketed by band_key for the candidate
  // join, and {table}_vecs(id, vec) bucketed by id for the exact-cosine
  // re-rank — the vector payload is stored ONCE, not once per band (at
  // embedding scale the vectors dominate storage; a signature table row
  // is 16 bytes).

  private def srpParams(nPlanes: Int, bands: Int, dim: Int,
      idCol: String, vecCol: String): Map[String, String] =
    Map("nPlanes" -> nPlanes.toString, "bands" -> bands.toString,
      "dim" -> dim.toString, "idCol" -> idCol, "vecCol" -> vecCol)

  private def srpBandRows(vecs: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, bands: Int, dim: Int): DataFrame =
    vecs.select(col(idCol),
      explode(SrpLsh.packedBandKeys(col(vecCol), nPlanes, bands, dim))
        .as("band_key"))

  /** Builds the SRP index for `corpus`: band table + vector table,
    * external at `path`. The plane set regenerates deterministically
    * from (nPlanes, dim) — pure SplitMix64, nothing to persist — but
    * the parameters are still recorded and validated so a probe with a
    * different geometry fails loud instead of missing silently. */
  def buildSrpIndex(corpus: DataFrame, table: String, path: String,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      nBuckets: Int = 8): Unit = {
    // "quantized" recorded explicitly (not just absent) so a quantized
    // probe against an fp index — and vice versa — fails loud at
    // validation instead of on a missing column mid-plan
    val params = srpParams(nPlanes, bands, dim, idCol, vecCol) +
      ("quantized" -> "none")
    val vecs = Ops.spreadForHash(corpus.select(col(idCol), col(vecCol)))
    withPersisted(vecs) {
      // two independent tables off one persisted staging frame —
      // overlapped, like buildMinhashIndex
      Ops.concurrently(
        () => writeBucketed(srpBandRows(vecs, idCol, vecCol, nPlanes, bands,
          dim), s"${table}_bands", path, "band_key", nBuckets, params),
        () => writeBucketed(vecs, s"${table}_vecs", path, idCol, nBuckets,
          params))
    }
  }

  /** Appends delta vectors' band and vector rows in place — no rebuild,
    * no re-assignment (the hyperplanes are data-independent, so old
    * signatures never go stale the way IVF lists drift). */
  def appendSrpIndex(delta: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64): Unit = {
    requireParams(delta.sparkSession, s"${table}_bands",
      srpParams(nPlanes, bands, dim, idCol, vecCol)
        + ("quantized" -> "none"), "append")
    val vecs = Ops.spreadForHash(delta.select(col(idCol), col(vecCol)))
    withPersisted(vecs) { // feeds both writes, overlapped
      Ops.concurrently(
        () => appendBucketed(srpBandRows(vecs, idCol, vecCol, nPlanes,
          bands, dim), s"${table}_bands"),
        () => appendBucketed(vecs, s"${table}_vecs"))
    }
  }

  /** Builds a QUANTIZED SRP index: the band table is identical to
    * [[buildSrpIndex]]'s (signatures come from the fp vectors, so
    * candidate generation never changes), but the re-rank table stores
    * int8 codes (array<tinyint>) + per-vector reconstruction scale
    * instead of fp64 vectors — ~4-8× less re-rank I/O, the same
    * serving lever as the quantized IVF lists. scale = 0.0 is the
    * "undefined" sentinel for zero/empty vectors. */
  def buildSrpIndexQuantized(corpus: DataFrame, table: String,
      path: String, idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      nBuckets: Int = 8): Unit = {
    val params = srpParams(nPlanes, bands, dim, idCol, vecCol) +
      ("quantized" -> "int8")
    val vecs = Ops.spreadForHash(corpus.select(col(idCol), col(vecCol)))
    withPersisted(vecs) {
      writeBucketed(srpBandRows(vecs, idCol, vecCol, nPlanes, bands, dim),
        s"${table}_bands", path, "band_key", nBuckets, params)
      val quant = vecs
        .withColumn("__scale", Similarity.int8Scale(col(vecCol)))
        .select(col(idCol),
          Similarity.int8Codes(col(vecCol), col("__scale"))
            .cast("array<tinyint>").as("codes"),
          coalesce(col("__scale"), lit(0.0)).as("scale"))
      writeBucketed(quant, s"${table}_vecs", path, idCol, nBuckets, params)
    }
  }

  /** Approximate top-k cosine neighbors against a persisted SRP index:
    * candidates from the band join (index side bucketed, no shuffle),
    * exact cosine via the vector table (bucketed on id, no shuffle),
    * same rank kernel as the inline [[SrpLsh.topK]] — value parity
    * asserted in SrpLshSpec. Band buckets above `hotBandThreshold`
    * contribute only their representative (see [[capHotBuckets]]),
    * mirroring every other probe. */
  def probeSrp(spark: SparkSession, queries: DataFrame, table: String,
      k: Int, idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_bands",
      srpParams(nPlanes, bands, dim, idCol, vecCol)
        + ("quantized" -> "none"), "probe")
    val scored = srpCandidates(spark, queries, table, idCol, vecCol,
        nPlanes, bands, dim, hotBandThreshold)
      .join(spark.table(s"${table}_vecs")
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("cos_raw"))
    Similarity.rankTopK(scored, k)
  }

  /** Probe over a QUANTIZED SRP index: candidate generation is
    * identical to the fp probe (same band table — signatures always
    * come from the fp query vectors), and the re-rank dequantizes the
    * int8 codes INSIDE the cosine kernel (native codegen'd
    * Int8Dequantize) — no materialized fp copy of the index. Recall vs
    * the fp probe is pinned in IndexStoreSpec. */
  def probeSrpQuantized(spark: SparkSession, queries: DataFrame,
      table: String, k: Int, idCol: String = "vec_id",
      vecCol: String = "vec", nPlanes: Int = 16, bands: Int = 4,
      dim: Int = 64,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_bands",
      srpParams(nPlanes, bands, dim, idCol, vecCol)
        + ("quantized" -> "int8"), "probe")
    val scored = srpCandidates(spark, queries, table, idCol, vecCol,
        nPlanes, bands, dim, hotBandThreshold)
      .join(spark.table(s"${table}_vecs")
        .select(col(idCol).as("neighbor_id"), col("codes"), col("scale")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("q_vec"),
          graft.functions.Quantize.int8Dequantize(
            col("codes").cast("array<double>"), col("scale")))
          .as("cos_raw"))
    Similarity.rankTopK(scored, k)
  }

  /** Shared SRP candidate generation: distinct (query_id, neighbor_id)
    * pairs from the band join, with the query vector attached
    * (broadcast — probe batches are small by contract). */
  private def srpCandidates(spark: SparkSession, queries: DataFrame,
      table: String, idCol: String, vecCol: String, nPlanes: Int,
      bands: Int, dim: Int, hotBandThreshold: Int): DataFrame = {
    val qVecs = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"))
    val qBands = queries
      .select(col(idCol).as("query_id"),
        explode(SrpLsh.packedBandKeys(col(vecCol), nPlanes, bands, dim))
          .as("band_key"))
    capHotBuckets(spark.table(s"${table}_bands"),
        "band_key", idCol, hotBandThreshold)
      .join(qBands, "band_key")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"))
      .distinct()
      .join(broadcast(qVecs), "query_id")
  }

  /** Embedding near-dup served from the persisted SRP index: indexed
    * vectors sharing ≥ 1 signature band with each query, kept at exact
    * cosine ≥ `threshold` — the index-backed analogue of the inline
    * blocked-cosine near-dup (d5), for the dedup-at-ingest shape where
    * the corpus side must not be re-scanned per batch. Precision is
    * exact (the cosine verify runs on the stored vectors); recall is
    * the SRP banding's — scaled/near-identical embeddings agree on
    * their whole signature, so planted copies always collide
    * (spec-pinned). Returns (query_id, match_id, cos_sim). */
  def probeSrpNearDup(spark: SparkSession, queries: DataFrame,
      table: String, threshold: Double = 0.999,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold): DataFrame = {
    requireParams(spark, s"${table}_bands",
      srpParams(nPlanes, bands, dim, idCol, vecCol)
        + ("quantized" -> "none"), "probe")
    srpCandidates(spark, queries, table, idCol, vecCol,
        nPlanes, bands, dim, hotBandThreshold)
      .join(spark.table(s"${table}_vecs")
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id").as("match_id"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("cos_raw"))
      // NaN guard like rankTopK: Spark ORDERS NaN above every double,
      // so a bare >= would let a poisoned vector "match" everything.
      // The threshold applies to the RAW cosine — rounding first would
      // let a value up to 5e-7 below it round across the boundary
      // (same stance as boilerplateDocs' raw-ratio filter); the rounded
      // form is display-only, in the output column.
      .where(col("cos_raw").isNotNull && !isnan(col("cos_raw")) &&
        col("cos_raw") >= threshold)
      .select(col("query_id"), col("match_id"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** [[probeSrpNearDup]] against a QUANTIZED SRP index — the int8
    * serving twin of [[probeIvfNearDupQuantized]]: candidates come from
    * the same band table (signatures always derive from fp query
    * vectors), the verify dequantizes the stored codes inside the
    * cosine kernel, and the threshold is relaxed by `guardBand` so grid
    * error never drops a true near-dup — at the cost of admitting pairs
    * up to the band BELOW it (the documented quantized-serving trade). */
  def probeSrpNearDupQuantized(spark: SparkSession, queries: DataFrame,
      table: String, threshold: Double = 0.999,
      idCol: String = "vec_id", vecCol: String = "vec",
      nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
      hotBandThreshold: Int = Dedup.DefaultHotBandThreshold,
      guardBand: Double = 0.001): DataFrame = {
    requireParams(spark, s"${table}_bands",
      srpParams(nPlanes, bands, dim, idCol, vecCol)
        + ("quantized" -> "int8"), "probe")
    srpCandidates(spark, queries, table, idCol, vecCol,
        nPlanes, bands, dim, hotBandThreshold)
      .join(spark.table(s"${table}_vecs")
        .select(col(idCol).as("neighbor_id"), col("codes"), col("scale")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id").as("match_id"),
        Similarity.cosine(col("q_vec"),
          graft.functions.Quantize.int8Dequantize(
            col("codes").cast("array<double>"), col("scale")))
          .as("cos_raw"))
      .where(col("cos_raw").isNotNull && !isnan(col("cos_raw")) &&
        col("cos_raw") >= threshold - guardBand)
      .select(col("query_id"), col("match_id"),
        round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** Compacts a bucketed index table: every append leaves one file set
    * per bucket, so a long-lived index accumulates small files (slower
    * scans, more tasks). This rewrites the table's rows into exactly one
    * file per bucket at `newPath` with ZERO shuffle: the bucketed scan
    * reads each bucket's file set as one task and the writer re-emits it
    * under the same bucket spec. Auto-bucketed-scan disabling is
    * switched off for the rewrite — a write alone doesn't count as an
    * "interesting" operator, and losing the bucketed scan would both add
    * a shuffle and break task/bucket alignment. Then the catalog entry
    * swaps (write new → drop old → rename) and probes resume on the
    * compacted files with the bucketed-scan property intact (re-asserted
    * in IndexStoreSpec). The superseded directory is left for the caller
    * to vacuum, mirroring VersionedTable's stance. */
  def compactTable(spark: SparkSession, table: String, bucketCol: String,
      newPath: String, nBuckets: Int = 8): Unit =
    rewriteInPlace(spark, table, bucketCol, newPath, nBuckets)(identity)

  /** Recovers a swap that crashed between DROP and RENAME: the
    * completed rewrite exists only under the `__compacting` name (a
    * catalog entry for the tmp table implies its CTAS finished — a
    * crash mid-write leaves no entry). Returns true if a rename was
    * performed. EXPLICIT by design: an orphaned tmp next to a missing
    * table can also mean the table was deliberately dropped later, and
    * silently resurrecting old data — e.g. rows removed via the erasure
    * path — is worse than asking the operator to decide. */
  def recoverTornSwap(spark: SparkSession, table: String): Boolean = {
    val tmp = s"${table}__compacting"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp)) {
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      true
    } else false
  }

  /** Canonical form for location comparison, scheme-aware: local paths
    * canonicalize through the filesystem (resolving `.`/`..`/links);
    * remote URIs (hdfs://, s3a://, …) compare as normalized strings —
    * java.io.File would throw on any non-file scheme. */
  private def canonicalLoc(p: String): String =
    try {
      val uri = java.net.URI.create(p)
      if (uri.getScheme == null || uri.getScheme == "file")
        new java.io.File(Option(uri.getPath).getOrElse(p)).getCanonicalPath
      else uri.normalize.toString.stripSuffix("/")
    } catch { // not URI-parseable (spaces, …) → treat as a local path
      case _: IllegalArgumentException =>
        new java.io.File(p).getCanonicalPath
    }

  /** Shared rewrite choreography for [[compactTable]] and
    * [[deleteFromTable]]: rewrite through `transform` with the bucketed
    * scan forced on (zero shuffle), then swap the catalog entry. The
    * drop→rename swap is two catalog statements, not one atomic one — a
    * crash exactly between them leaves only the `__compacting` table;
    * [[recoverTornSwap]] repairs that (this method refuses to guess and
    * fails with instructions instead). If `newPath` is the table's
    * CURRENT location — e.g. a retry after recovery reusing the same
    * arguments — the rewrite lands at `${newPath}_alt` so the job never
    * overwrites the directory it is reading. A production metastore
    * would take a table lock or swap a view here. */
  private def rewriteInPlace(spark: SparkSession, table: String,
      bucketCol: String, newPath: String, nBuckets: Int)
      (transform: DataFrame => DataFrame): Unit = {
    val tmp = s"${table}__compacting"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp))
      throw new IllegalStateException(
        s"interrupted swap detected for $table: the completed rewrite is " +
          s"catalogued as $tmp; run IndexStore.recoverTornSwap and retry")
    // the RAW location (scheme intact) is what gets recorded for vacuum —
    // canonicalLoc is for comparison only; a scheme-stripped record would
    // later resolve against fs.defaultFS and vacuum the wrong filesystem
    val rawLoc = tableMeta(spark, table).location.toString
    val currentLoc = canonicalLoc(rawLoc)
    // strip trailing slashes BEFORE appending: "/p/_alt" would nest the
    // new data inside the directory being read (and vacuumed)
    val base = newPath.replaceAll("/+$", "")
    val target = if (canonicalLoc(base) == currentLoc) s"${base}_alt" else base
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // locked scope (Ops.withSessionConf): an unlocked set/restore here
    // interleaving with another graft conf scope would restore a stale
    // value; the conf must be live at the CTAS's planning, so the lock
    // rides the rewrite job
    Ops.withSessionConf(spark, Map(autoKey -> "false")) {
      bucketRouted(transform(spark.table(table)), bucketCol, nBuckets)
        .write.bucketBy(nBuckets, bucketCol)
        .option("path", target).mode("overwrite").saveAsTable(tmp)
    }
    // the CTAS starts from a blank property map — carry the build
    // parameters over BEFORE the swap so a torn-swap recovery (rename of
    // tmp) also restores them; the retired location is recorded so
    // vacuumIndexTable can reclaim it later (the rewrite itself never
    // deletes — the old files are the rollback story until the swap is
    // known-good)
    val params = getParams(spark, table)
    if (params.nonEmpty) setParams(spark, tmp, params)
    val superseded = (supersededOf(spark, table) :+ rawLoc).distinct
    spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES " +
      s"('$SupersededKey'='${sqlLit(superseded.mkString(SupersededSep))}')")
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  // ---- bigram-LM model table -----------------------------------------
  // The seventh persisted kind holds MODEL STATE, not candidate
  // postings: the bigram language model's additive count rows
  // (NgramLm.bigramCounts). Counts form a commutative group — merge is
  // summation, unlearning is negation — so every lifecycle step is
  // EXACT, not approximate: append-then-score equals a one-shot retrain
  // bit-for-bit, and a take-down appends the doc's counts NEGATED, after
  // which scoring equals a retrain that never saw the doc (both
  // oracle-checked end-to-end in ext_lm_incremental / ext_lm_unlearn).
  // The caller's ledger discipline mirrors the reference's
  // delete-removed-tickets reconciliation: only unlearn documents
  // previously learned — negating counts that were never added subtracts
  // mass other documents contributed (there is no per-doc provenance in
  // an aggregate, by design: that is what keeps the table vocabulary-
  // sized instead of corpus-sized).

  /** Builds the persisted LM: (bg, cb) bucketed by bg, so the scoring
    * join and every derived statistic read the model co-located. */
  def buildLmIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, nBuckets: Int = 8): Unit =
    writeBucketed(NgramLm.bigramCounts(docs, idCol, textCol),
      s"${table}_counts", path, "bg", nBuckets, lmParams(idCol))

  private def lmParams(idCol: String): Map[String, String] =
    Map("idCol" -> idCol, "payload" -> "text", "ngram" -> "2")

  /** Appends delta docs' count rows in place — the nightly re-train
    * reduced to one aggregation over the new slice. */
  def appendLmIndex(delta: DataFrame, idCol: String, textCol: String,
      table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_counts", lmParams(idCol),
      "append")
    appendBucketed(NgramLm.bigramCounts(delta, idCol, textCol),
      s"${table}_counts")
  }

  /** Exact unlearning: appends the docs' count rows NEGATED. The next
    * compaction folds the cancellation pairs away physically; until
    * then [[lmModelFromIndex]]'s merge cancels them logically. */
  def unlearnFromLmIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String): Unit = {
    requireParams(docs.sparkSession, s"${table}_counts", lmParams(idCol),
      "unlearn")
    appendBucketed(NgramLm.bigramCounts(docs, idCol, textCol)
      .withColumn("cb", -col("cb")), s"${table}_counts")
  }

  /** The live model: appended (and negated) count rows merged by
    * summation, non-positive totals dropped — a bigram whose counts
    * cancelled exactly is indistinguishable from one never seen, which
    * is what makes unlearning exact (the vocabulary re-derives from the
    * surviving bigrams, so a fully-unlearned token leaves V too). The
    * merge is a partial-agg-friendly rollup over the bucketed scan
    * (co-located by bg — no exchange before the aggregate). */
  def lmModelFromIndex(spark: SparkSession, table: String): NgramLm.Model =
    NgramLm.modelFromCounts(Ops.checkpointKeepPartitioning(
      spark.table(s"${table}_counts")
        .groupBy("bg").agg(sum(col("cb")).as("cb"))
        .where(col("cb") > 0)))

  /** Scores `docs` against the persisted model. */
  def scoreFromLmIndex(spark: SparkSession, table: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    NgramLm.scoreMicroBits(lmModelFromIndex(spark, table), docs,
      idCol, textCol)

  // ---- DSIR importance-model table -----------------------------------
  // The eighth persisted kind, and the second holding MODEL STATE: the
  // DSIR importance model's per-bucket feature counts, one row
  // (bucket, side, c) per hashed-ngram bucket per corpus side
  // ('t' = target, 'r' = raw). Like the LM's bigram counts these form a
  // commutative group — merge is summation, unlearning is negation — so
  // append-then-score equals a one-shot refit bit-for-bit and a
  // take-down is EXACT (a fully-cancelled bucket is indistinguishable
  // from one never seen; smoothing re-derives, totals re-derive from
  // the counts). The table is bounded at 2·16^hexChars rows by
  // construction — the smallest model state in the store — but the
  // lifecycle (params validation, folding compaction, vacuum,
  // auto-compact counters) is the full one, because the value is the
  // DISCIPLINE: selection models obey the same take-down compliance as
  // the LM and the probe.

  private def dsirSideCounts(docs: DataFrame, idCol: String,
      textCol: String, hexChars: Int, side: String): DataFrame =
    Dsir.bucketedFeatures(docs, hexChars, idCol, textCol)
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .withColumn("side", lit(side))
      .select("bucket", "side", "c")

  private def dsirParams(idCol: String, hexChars: Int): Map[String, String] =
    Map("idCol" -> idCol, "payload" -> "dsir",
      "hexChars" -> hexChars.toString)

  /** Builds the persisted DSIR model from the two corpora. */
  def buildDsirIndex(target: DataFrame, raw: DataFrame, idCol: String,
      textCol: String, table: String, path: String, hexChars: Int = 2,
      nBuckets: Int = 4): Unit =
    writeBucketed(dsirSideCounts(target, idCol, textCol, hexChars, "t")
        .unionByName(dsirSideCounts(raw, idCol, textCol, hexChars, "r")),
      s"${table}_counts", path, "bucket", nBuckets,
      dsirParams(idCol, hexChars))

  /** Appends a delta corpus's counts to one side — the nightly refit
    * reduced to one bounded aggregation over the new slice. */
  def appendDsirIndex(delta: DataFrame, side: String, idCol: String,
      textCol: String, table: String): Unit = {
    require(side == "t" || side == "r", s"side must be 't' or 'r': $side")
    val hexChars = dsirHexChars(delta.sparkSession, table, idCol, "append")
    appendBucketed(dsirSideCounts(delta, idCol, textCol, hexChars, side),
      s"${table}_counts")
  }

  /** Exact unlearning: appends the docs' counts NEGATED on their side.
    * Same ledger discipline as the LM — only unlearn what was
    * previously learned. */
  def unlearnFromDsirIndex(docs: DataFrame, side: String, idCol: String,
      textCol: String, table: String): Unit = {
    require(side == "t" || side == "r", s"side must be 't' or 'r': $side")
    val hexChars = dsirHexChars(docs.sparkSession, table, idCol, "unlearn")
    appendBucketed(dsirSideCounts(docs, idCol, textCol, hexChars, side)
      .withColumn("c", -col("c")), s"${table}_counts")
  }

  private def dsirHexChars(spark: SparkSession, table: String,
      idCol: String, op: String): Int = {
    val params = getParams(spark, s"${table}_counts")
    val hexChars = params.getOrElse("hexChars",
      sys.error(s"$op: ${table}_counts has no hexChars param")).toInt
    requireParams(spark, s"${table}_counts",
      dsirParams(idCol, hexChars), op)
    hexChars
  }

  /** The live model: count rows merged by summation, non-positive
    * totals dropped, re-hydrated through [[Dsir.modelFromCounts]] —
    * co-located by bucket, no exchange before the aggregate. */
  def dsirModelFromIndex(spark: SparkSession, table: String): Dsir.Model = {
    val hexChars = getParams(spark, s"${table}_counts")("hexChars").toInt
    val summed = Ops.checkpointKeepPartitioning(
      spark.table(s"${table}_counts")
        .groupBy("bucket", "side").agg(sum(col("c")).as("c"))
        .where(col("c") > 0))
    Dsir.modelFromCounts(
      summed.where(col("side") === "t"),
      summed.where(col("side") === "r"), hexChars)
  }

  /** Scores `docs` against the persisted model. */
  def scoreFromDsirIndex(spark: SparkSession, table: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Dsir.scoreWeights(dsirModelFromIndex(spark, table), docs,
      idCol, textCol)

  // ---- DoReMi mixture-model table ------------------------------------
  // The eleventh persisted kind, fourth holding MODEL STATE: the
  // per-(source, bigram) counts behind [[Doremi]] domain reweighting.
  // One table carries BOTH LM families — the per-domain models are its
  // rows, the generalist reference is its rollup over source — and the
  // rows form the usual commutative count group (merge = sum, unlearn
  // = negate), so append-then-serve equals a one-shot refit bit-for-
  // bit and take-down of a source's documents is EXACT. The serving
  // win is the shape: mixture weights recompute from this vocab-
  // bounded table in O(vocab) ([[Doremi.tokenWeightsFromCounts]] —
  // per-bigram-instance means need no doc boundaries), so the
  // corpus-sized tokenize+count pass is paid once at build and
  // O(batch) per append, never again at re-weighting time.

  private def doremiCounts(docs: DataFrame, idCol: String,
      srcCol: String, textCol: String): DataFrame =
    NgramLm.bigrams(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source")), "doc_id")
      .groupBy("source", "bg").agg(count(lit(1)).as("cb"))

  private def doremiParams(idCol: String, srcCol: String)
      : Map[String, String] =
    Map("idCol" -> idCol, "payload" -> "doremi", "srcCol" -> srcCol)

  /** Builds the persisted mixture model. */
  def buildDoremiIndex(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, table: String, path: String,
      nBuckets: Int = 4): Unit =
    writeBucketed(doremiCounts(docs, idCol, srcCol, textCol),
      s"${table}_dmc", path, "bg", nBuckets, doremiParams(idCol, srcCol))

  /** Appends a delta corpus's counts — additive, batch-order
    * independent. */
  def appendDoremiIndex(delta: DataFrame, idCol: String, srcCol: String,
      textCol: String, table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_dmc",
      doremiParams(idCol, srcCol), "append")
    appendBucketed(doremiCounts(delta, idCol, srcCol, textCol),
      s"${table}_dmc")
  }

  /** Exact unlearning: appends the docs' counts negated. Only unlearn
    * what was previously learned (the LM's ledger discipline). */
  def unlearnFromDoremiIndex(docs: DataFrame, idCol: String,
      srcCol: String, textCol: String, table: String): Unit = {
    requireParams(docs.sparkSession, s"${table}_dmc",
      doremiParams(idCol, srcCol), "unlearn")
    appendBucketed(doremiCounts(docs, idCol, srcCol, textCol)
      .withColumn("cb", -col("cb")), s"${table}_dmc")
  }

  /** Mixture weights from the persisted model — O(vocab), zero corpus
    * read: count rows merged by summation, cancellations dropped,
    * through [[Doremi.tokenWeightsFromCounts]]. Co-located by bg, no
    * exchange before the merge. */
  def doremiWeightsFromIndex(spark: SparkSession, table: String,
      cfg: Doremi.Config = Doremi.Config()): DataFrame = {
    spark.catalog.refreshTable(s"${table}_dmc")
    Doremi.tokenWeightsFromCounts(
      spark.table(s"${table}_dmc")
        .groupBy("source", "bg").agg(sum(col("cb")).as("cb"))
        .where(col("cb") > 0), cfg)
  }

  // ---- batch-KEYED DoReMi lifecycle (replay-exactly-once) -------------
  // The keyed-LM discipline applied to the mixture model's count table:
  // a streaming maintainer's crash-replayed micro-batch must not
  // double-count its slice, so every row carries its writer's batch key
  // and (source, bg, bk) is the row's IDENTITY — pre-compaction replays
  // write byte-identical rows the read-side dedup cancels, compaction
  // raises the high-water mark BEFORE its atomic swap so post-fold
  // replays are skipped outright. Same key discipline as the LM
  // (in-band appends = the stream's monotone batch ids; the fold
  // sentinel is never a legal caller key).

  private def doremiKeyedParams(idCol: String, srcCol: String) =
    doremiParams(idCol, srcCol) + ("keyed" -> "true")

  /** Builds the keyed mixture-model table; `batchKey` becomes the
    * initial high-water mark (a crash-replay of the building batch
    * falls through to the append path and is skipped). */
  def buildDoremiIndexKeyed(docs: DataFrame, idCol: String,
      srcCol: String, textCol: String, table: String, path: String,
      batchKey: Long = 0L, nBuckets: Int = 4): Unit = {
    val mark = buildWaterMark("doremik", batchKey)
    writeBucketed(doremiCounts(docs, idCol, srcCol, textCol)
        .withColumn("bk", lit(batchKey)), s"${table}_dmc", path, "bg",
      nBuckets, doremiKeyedParams(idCol, srcCol) ++ mark)
  }

  /** Replay-idempotent append; returns whether the batch was APPLIED
    * (false = at/below the high-water mark, a post-compaction replay). */
  def appendDoremiIndexKeyed(delta: DataFrame, idCol: String,
      srcCol: String, textCol: String, table: String,
      batchKey: Long): Boolean = {
    requireParams(delta.sparkSession, s"${table}_dmc",
      doremiKeyedParams(idCol, srcCol), "append")
    keyedBatch(delta.sparkSession, "doremik", table, batchKey, "append")(
      doremiCounts(delta, idCol, srcCol, textCol)
        .withColumn("bk", lit(batchKey)))
  }

  /** Mixture weights from the keyed table: (source, bg, bk)
    * row-identity dedup — cancelling pre-compaction replay duplicates —
    * then the same merge-and-serve as the unkeyed form. Both steps
    * cluster on bg, so the bucketed scan feeds them exchange-free. */
  def doremiWeightsFromIndexKeyed(spark: SparkSession, table: String,
      cfg: Doremi.Config = Doremi.Config()): DataFrame = {
    spark.catalog.refreshTable(s"${table}_dmc")
    Doremi.tokenWeightsFromCounts(
      spark.table(s"${table}_dmc")
        .dropDuplicates("source", "bg", "bk")
        .groupBy("source", "bg").agg(sum(col("cb")).as("cb"))
        .where(col("cb") > 0), cfg)
  }

  // ---- HLL distinct-count sketch store -------------------------------
  // The twelfth persisted kind, and the first whose append algebra is
  // IDEMPOTENT rather than additive: rows are observed lower bounds on
  // a register's value and serving folds with max, so a crash-replayed
  // append writes rows the fold absorbs with NO batch-key discipline
  // (contrast the LM/DoReMi count tables, which need row identities to
  // cancel replayed +1s). The flip side, stated once: max has no
  // inverse, so this kind CANNOT unlearn — retiring a slice means
  // rebuilding its group's sketch from the surviving corpus. The table
  // is bounded by construction (≤ 512 rows per group, [[Hll]]), so the
  // store's value is purely temporal: distinct-cardinality questions
  // over any past-or-present union of ingested groups are answered
  // from the sketch in O(registers), never by rescanning a corpus.

  private def hllParams(grpCol: String, itemCol: String)
      : Map[String, String] =
    Map("payload" -> "hll", "grpCol" -> grpCol, "itemCol" -> itemCol)

  private def hllRegs(items: DataFrame, grpCol: String,
      itemCol: String): DataFrame =
    Hll.registers(items, itemCol, Seq(grpCol))
      .withColumnRenamed(grpCol, "grp")

  /** Builds the persisted sketch store: `(grp, idx, r)` bucketed by
    * idx. `items` is the exploded item frame (one row per occurrence —
    * the registers aggregation absorbs duplicates). */
  def buildHllIndex(items: DataFrame, grpCol: String, itemCol: String,
      table: String, path: String, nBuckets: Int = 4): Unit =
    writeBucketed(hllRegs(items, grpCol, itemCol), s"${table}_hregs", path,
      "idx", nBuckets, hllParams(grpCol, itemCol))

  /** Appends a delta corpus's registers — order-independent and
    * replay-idempotent by the max algebra. */
  def appendHllIndex(delta: DataFrame, grpCol: String, itemCol: String,
      table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_hregs",
      hllParams(grpCol, itemCol), "append")
    appendBucketed(hllRegs(delta, grpCol, itemCol), s"${table}_hregs")
  }

  /** Folded per-group registers from the store — O(registers), zero
    * corpus read. */
  def hllRegistersFromIndex(spark: SparkSession, table: String)
      : DataFrame = {
    spark.catalog.refreshTable(s"${table}_hregs")
    Hll.fold(spark.table(s"${table}_hregs"), Seq("grp"))
  }

  /** Per-group cardinality estimates served from the store. `grps`
    * optionally restricts (and merges) the groups first: passing
    * several groups under one output label answers "distinct items
    * across these sources" from registers alone. */
  def hllEstimateFromIndex(spark: SparkSession, table: String)
      : DataFrame =
    Hll.estimate(hllRegistersFromIndex(spark, table), Seq("grp"))

  // ---- distilled linear-gate weight table ----------------------------
  // The thirteenth persisted kind, and the first REFIT-ONLY one:
  // gradient descent has no mergeable sufficient statistic over
  // document sets (unlike the LM/DSIR/DoReMi count models), so there
  // is no append or unlearn — the persisted artifact is the fitted
  // weight TABLE itself (≤ 257 rows), rebuilt by the nightly fit and
  // swapped atomically by the overwrite. Serving collects the bounded
  // table into the broadcast literal [[Distill.score]] compiles into a
  // zero-shuffle projection — the cheapest gate a 100 TB scorer can
  // run, with zero corpus reads at model-load time.

  private def distillParams(cfg: Distill.Config): Map[String, String] =
    Map("payload" -> "distill", "iters" -> cfg.iters.toString,
      "etaMilli" -> cfg.etaMilli.toString)

  /** Fits on `labeled(…, bucketsCol, labelCol)` (pin it first — the fit
    * rescans per GD step) and persists the weights. */
  def buildDistillIndex(labeled: DataFrame, bucketsCol: String,
      labelCol: String, table: String, path: String,
      cfg: Distill.Config = Distill.Config()): Unit = {
    val w = Distill.fit(labeled, bucketsCol, labelCol, cfg)
    // one bucket: bounded ≤ 257 rows (the 1-row/datacard exception),
    // still bucketed so the health/catalog contract holds
    writeBucketed(Distill.weightsFrame(labeled.sparkSession, w),
      s"${table}_lw", path, "bucket", 1, distillParams(cfg))
  }

  /** The persisted weights as the bounded driver map serving needs. */
  def distillWeightsFromIndex(spark: SparkSession, table: String)
      : Map[String, Long] = {
    spark.catalog.refreshTable(s"${table}_lw")
    spark.table(s"${table}_lw")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Scores docs under the persisted model — one bounded metadata read,
    * then a pure projection over the corpus. */
  def scoreFromDistillIndex(spark: SparkSession, table: String,
      docs: DataFrame, bucketsCol: String): DataFrame =
    Distill.score(docs, bucketsCol,
      distillWeightsFromIndex(spark, table))

  // ---- cross-doc shingle document-frequency table --------------------
  // The ninth persisted kind, third holding MODEL STATE: the per-
  // shingle distinct-document counts behind [[SpanDedup]] (ExactSubstr
  // span removal). Each document contributes +1 to every DISTINCT
  // k-gram it contains, so the rows form the same commutative group as
  // the LM's bigram counts over DOCUMENT SETS: append-then-serve
  // equals a one-shot rebuild bit-for-bit, and a take-down appends the
  // docs' indicator rows NEGATED — after which a span that only the
  // removed docs made "hot" stops being flagged anywhere, exactly as
  // if the docs were never indexed (the serving threshold reads the
  // summed count). Same ledger discipline as the LM: only unlearn
  // documents previously learned. Bucketed by shingle so the hot-set
  // derivation and the probe join read the table co-located.

  private def spanDfCounts(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    SpanDedup.shingleStarts(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), k)
      .select("doc_id", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("nd"))

  private def spanParams(idCol: String, k: Int): Map[String, String] =
    Map("idCol" -> idCol, "payload" -> "text", "k" -> k.toString)

  /** Builds the persisted shingle-DF table: (s, nd) bucketed by s. */
  def buildSpanIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, k: Int = 8, nBuckets: Int = 8): Unit =
    writeBucketed(spanDfCounts(docs, idCol, textCol, k), s"${table}_sdf",
      path, "s", nBuckets, spanParams(idCol, k))

  /** Appends delta docs' indicator rows in place — the nightly rebuild
    * reduced to one aggregation over the new slice. */
  def appendSpanIndex(delta: DataFrame, idCol: String, textCol: String,
      table: String): Unit = {
    val k = spanK(delta.sparkSession, table, idCol, "append")
    appendBucketed(spanDfCounts(delta, idCol, textCol, k), s"${table}_sdf")
  }

  /** Exact unlearning: appends the docs' indicator rows NEGATED. */
  def unlearnFromSpanIndex(docs: DataFrame, idCol: String,
      textCol: String, table: String): Unit = {
    val k = spanK(docs.sparkSession, table, idCol, "unlearn")
    appendBucketed(spanDfCounts(docs, idCol, textCol, k)
      .withColumn("nd", -col("nd")), s"${table}_sdf")
  }

  private def spanK(spark: SparkSession, table: String, idCol: String,
      op: String): Int = {
    val params = getParams(spark, s"${table}_sdf")
    val k = params.getOrElse("k",
      sys.error(s"$op: ${table}_sdf has no k param")).toInt
    requireParams(spark, s"${table}_sdf", spanParams(idCol, k), op)
    k
  }

  /** The live hot-shingle set at `minDocs`: appended (and negated)
    * rows merged by summation over the co-located bucketed scan. */
  def spanHotFromIndex(spark: SparkSession, table: String,
      minDocs: Int = 2): DataFrame =
    spark.table(s"${table}_sdf")
      .groupBy("s").agg(sum(col("nd")).as("nd"))
      .where(col("nd") >= minDocs)
      .select("s")

  /** Serves [[SpanDedup.removalSpans]] for `docs` from the persisted
    * counts: identical output to the inline form whenever `docs` IS
    * the indexed corpus (oracle-proven), and the cross-corpus serving
    * shape otherwise (clean a crawl against a frozen reference). */
  def removalSpansFromIndex(spark: SparkSession, table: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minDocs: Int = 2): DataFrame = {
    val k = spanK(spark, table, idCol, "probe")
    SpanDedup.removalSpansAgainst(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      spanHotFromIndex(spark, table, minDocs), k)
  }

  // ---- PQ code store -------------------------------------------------
  // The tenth persisted kind: the product-quantization serving store
  // ([[Pq]]) — a `_books` table holding the m×ksub×(d/m) codebooks
  // (bounded model state, FROZEN at build: appends encode against the
  // build-time codebooks, which is what makes append ≡ rebuild for the
  // code rows and keeps every historical code word decodable) and a
  // `_codes` table of m-int code words bucketed by id (the take-down
  // unit). Serving reads the codebooks once (driver-side, bounded) and
  // ADC-scans the code table; deletion is the standard bucket-
  // preserving rewrite — erasure compliance at 8 bytes per vector.

  private def pqParams(idCol: String, dim: Int, m: Int,
      ksub: Int): Map[String, String] =
    Map("idCol" -> idCol, "payload" -> "pq", "dim" -> dim.toString,
      "m" -> m.toString, "ksub" -> ksub.toString)

  /** Trains codebooks over `vecs` and persists books + codes. */
  def buildPqIndex(vecs: DataFrame, table: String, path: String,
      dim: Int = 64, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "vec",
      nBuckets: Int = 8): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val pinned = Ops.checkpointKeepPartitioning(
      vecs.select(col(idCol), col(vecCol)))
    val books = Pq.trainCodebooks(pinned, dim, m, ksub, iters,
      idCol, vecCol)
    books.toDF("subspace", "code", "centroid")
      .coalesce(1) // bounded model table — the documented exception
      .write.option("path", s"$path/${table}_books").mode("overwrite")
      .saveAsTable(s"${table}_books")
    setParams(spark, s"${table}_books", pqParams(idCol, dim, m, ksub))
    writeBucketed(Pq.encode(pinned, books, dim, idCol, vecCol),
      s"${table}_codes", path, idCol, nBuckets, pqParams(idCol, dim, m, ksub))
  }

  /** The persisted codebooks, driver-side (m×ksub rows — bounded). */
  def pqBooksFromIndex(spark: SparkSession, table: String)
      : Seq[(Int, Int, Seq[Double])] = {
    import spark.implicits._
    spark.table(s"${table}_books")
      .as[(Int, Int, Seq[Double])].collect().sortBy(b => (b._1, b._2))
      .toIndexedSeq
  }

  /** Appends delta vectors encoded against the FROZEN build-time
    * codebooks — the nightly ingest, no retraining. */
  def appendPqIndex(delta: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "vec"): Unit = {
    val spark = delta.sparkSession
    val params = getParams(spark, s"${table}_codes")
    requireParams(spark, s"${table}_codes",
      pqParams(idCol, params("dim").toInt, params("m").toInt,
        params("ksub").toInt), "append")
    appendBucketed(Pq.encode(delta, pqBooksFromIndex(spark, table),
      params("dim").toInt, idCol, vecCol), s"${table}_codes")
  }

  /** ADC top-k served from the persisted store — value-identical to
    * the inline [[Pq.adcTopK]] over the same corpus (spec-pinned). */
  def probePqTopK(spark: SparkSession, queries: DataFrame, table: String,
      k: Int, idCol: String = "vec_id", vecCol: String = "vec")
      : DataFrame = {
    val params = getParams(spark, s"${table}_codes")
    requireParams(spark, s"${table}_codes",
      pqParams(idCol, params("dim").toInt, params("m").toInt,
        params("ksub").toInt), "probe")
    Pq.adcTopK(spark.table(s"${table}_codes"), queries,
      pqBooksFromIndex(spark, table), params("dim").toInt, k,
      idCol, vecCol)
  }

  // ---- batch-KEYED LM lifecycle (replay-exactly-once) ---------------
  // The unkeyed LM append is additive, so a crash-replayed micro-batch
  // double-counts its slice — no ordering fixes that (the bucketed
  // append is not transactional). The keyed variant closes it: every
  // count row carries its writer's batch key, so (bg, bk) is the row's
  // IDENTITY. A replay before any compaction writes byte-identical
  // rows that the read-side (bg, bk) dedup cancels; compaction folds
  // keys away, so it first raises a high-water mark (BEFORE its atomic
  // swap — a crash between leaves the un-folded rows in place and the
  // mark merely re-skips an applied batch) and appends at or below the
  // mark are skipped entirely (the key discipline: [[keyedBatch]]).

  private def lmKeyedParams(idCol: String) =
    lmParams(idCol) + ("keyed" -> "true")

  /** Builds the keyed LM table; `batchKey` (the building stream's first
    * batch id) becomes the initial high-water mark, so a crash-replay
    * of the building batch — which finds the table existing and falls
    * through to the append path — is skipped rather than re-counted. */
  def buildLmIndexKeyed(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, batchKey: Long = 0L,
      nBuckets: Int = 8): Unit = {
    val mark = buildWaterMark("lmk", batchKey)
    writeBucketed(NgramLm.bigramCounts(docs, idCol, textCol)
        .withColumn("bk", lit(batchKey)), s"${table}_counts", path, "bg",
      nBuckets, lmKeyedParams(idCol) ++ mark)
  }

  /** Replay-idempotent append. Returns whether the batch was APPLIED —
    * false means the key sits at or below the high-water mark (a
    * replay of a batch some compaction already folded) and nothing was
    * written. Pre-compaction replays DO write duplicate rows; the
    * (bg, bk) dedup in [[lmModelFromIndexKeyed]] cancels them. */
  def appendLmIndexKeyed(delta: DataFrame, idCol: String, textCol: String,
      table: String, batchKey: Long): Boolean = {
    requireParams(delta.sparkSession, s"${table}_counts",
      lmKeyedParams(idCol), "append")
    keyedBatch(delta.sparkSession, "lmk", table, batchKey, "append")(
      NgramLm.bigramCounts(delta, idCol, textCol)
        .withColumn("bk", lit(batchKey)))
  }

  /** Replay-idempotent exact unlearning: negated counts under a
    * strictly-negative key BELOW every key previously used (the
    * low-water mark starts at 0 and only compaction lowers it, so the
    * first unlearn uses -1, the next -2, …). Returns whether applied. */
  def unlearnFromLmIndexKeyed(docs: DataFrame, idCol: String,
      textCol: String, table: String, batchKey: Long): Boolean = {
    requireParams(docs.sparkSession, s"${table}_counts",
      lmKeyedParams(idCol), "unlearn")
    keyedBatch(docs.sparkSession, "lmk", table, batchKey, "unlearn")(
      NgramLm.bigramCounts(docs, idCol, textCol)
        .withColumn("cb", -col("cb"))
        .withColumn("bk", lit(batchKey)))
  }

  /** The live model from a keyed table: (bg, bk) row-identity dedup —
    * which cancels pre-compaction replay duplicates — then the same
    * sum/fold as the unkeyed form. Both steps cluster on bg, so the
    * bucketed scan feeds them without an exchange. */
  def lmModelFromIndexKeyed(spark: SparkSession,
      table: String): NgramLm.Model =
    NgramLm.modelFromCounts(Ops.checkpointKeepPartitioning(
      spark.table(s"${table}_counts")
        .dropDuplicates("bg", "bk")
        .groupBy("bg").agg(sum(col("cb")).as("cb"))
        .where(col("cb") > 0)))

  /** Scores `docs` against the keyed persisted model. */
  def scoreFromLmIndexKeyed(spark: SparkSession, table: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    NgramLm.scoreMicroBits(lmModelFromIndexKeyed(spark, table), docs,
      idCol, textCol)

  // ---- source-SLICED LM table (ablation serving) ---------------------
  // A layout variant of the LM kind: (grp, bg, cb) — the per-source
  // bigram-count slices of [[NgramLm.keyedBigramCounts]] persisted,
  // bucketed by bg. The global model is the table's rollup (sum over
  // grp), and a leave-one-source-out model is the rollup with one grp
  // FILTERED — both read the bounded count table co-located on bg, so
  // an ablation panel of ANY size rescans the corpus exactly zero
  // times (one corpus pass happened at build). Slices inherit the
  // counts' group structure: append deltas grouped by source, unlearn
  // by negation, compaction folds — same merge algebra as the LM kind
  // with grp in every row identity.

  private def lmSliceParams(srcCol: String): Map[String, String] =
    Map("payload" -> "text", "ngram" -> "2", "sliced" -> srcCol)

  private def lmSliceRows(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame =
    NgramLm.keyedBigramCounts(docs, srcCol, textCol)
      .withColumnRenamed(srcCol, "grp")

  /** Builds the persisted slice table — ONE corpus pass for every
    * future panel member. */
  def buildLmSliceIndex(docs: DataFrame, srcCol: String, textCol: String,
      table: String, path: String, nBuckets: Int = 8): Unit =
    writeBucketed(lmSliceRows(docs, srcCol, textCol), s"${table}_slices",
      path, "bg", nBuckets, lmSliceParams(srcCol))

  /** Appends delta docs' slice rows (their own sources ride along). */
  def appendLmSliceIndex(delta: DataFrame, srcCol: String,
      textCol: String, table: String): Unit = {
    requireParams(delta.sparkSession, s"${table}_slices",
      lmSliceParams(srcCol), "append")
    appendBucketed(lmSliceRows(delta, srcCol, textCol), s"${table}_slices")
  }

  /** Exact unlearning: negated slice rows; the next compaction folds
    * the cancellation pairs away physically. */
  def unlearnFromLmSliceIndex(docs: DataFrame, srcCol: String,
      textCol: String, table: String): Unit = {
    requireParams(docs.sparkSession, s"${table}_slices",
      lmSliceParams(srcCol), "unlearn")
    appendBucketed(lmSliceRows(docs, srcCol, textCol)
      .withColumn("cb", -col("cb")), s"${table}_slices")
  }

  /** The live model with `excludeGrp`'s slice held out (None = the
    * full model). The rollup clusters on bg over the bucketed scan —
    * no exchange — and exhausted bigrams drop, so the held-out model
    * equals a retrain that never saw the source, row-for-row
    * ([[NgramLm.ablatedCounts]]'s argument applied at the table). */
  def lmModelFromSliceIndex(spark: SparkSession, table: String,
      excludeGrp: Option[String] = None): NgramLm.Model = {
    spark.catalog.refreshTable(s"${table}_slices")
    val rows = spark.table(s"${table}_slices")
    val kept = excludeGrp.fold(rows)(g => rows.where(col("grp") =!= g))
    NgramLm.modelFromCounts(Ops.checkpointKeepPartitioning(
      kept.groupBy("bg").agg(sum(col("cb")).as("cb"))
        .where(col("cb") > 0)))
  }

  // ---- Count-Min frequency sketch store ------------------------------
  // The fourteenth persisted kind: [[CountMin]] registers per group —
  // bounded like the HLL store (≤ depth·width = 768 rows per group)
  // but ADDITIVE, which buys what the HLL kind explicitly cannot have:
  // exact unlearn (append the slice's registers negated; compaction
  // folds the cancellation pairs away, and a fully-cancelled register
  // is indistinguishable from one never touched). The price of
  // additivity is replay sensitivity — sum double-counts where max
  // absorbs — so this kind carries the keyed-batch discipline of the
  // keyed LM verbatim: every appended register row is stamped with its
  // writer's batch key, (grp, row_j, idx, bk) is the row's IDENTITY
  // (per-batch register rows are deterministic aggregates, so a
  // pre-compaction replay writes byte-identical rows the read-side
  // dedup cancels), compaction raises the water marks BEFORE its
  // atomic swap, and appends at or below the high-water mark are
  // skipped entirely. In-band appends use monotone non-negative batch
  // ids; out-of-band unlearns use strictly decreasing negative keys;
  // Long.MinValue is the folded row's sentinel.

  private def cmsParams(grpCol: String, itemCol: String)
      : Map[String, String] =
    Map("payload" -> "cms", "grpCol" -> grpCol, "itemCol" -> itemCol,
      "keyed" -> "true")

  private def cmsRegs(items: DataFrame, grpCol: String, itemCol: String,
      batchKey: Long): DataFrame =
    CountMin.registers(items, itemCol, Seq(grpCol))
      .withColumnRenamed(grpCol, "grp")
      .withColumn("bk", lit(batchKey))

  /** Builds the persisted frequency-sketch store: `(grp, row_j, idx,
    * c, bk)` bucketed by idx. `items` is the exploded item frame (one
    * row per occurrence). `batchKey` becomes the initial high-water
    * mark, so a crash-replay of the building batch — which finds the
    * table existing and falls through to the append path — is skipped
    * rather than re-counted. */
  def buildCmsIndex(items: DataFrame, grpCol: String, itemCol: String,
      table: String, path: String, batchKey: Long = 0L,
      nBuckets: Int = 4): Unit = {
    val mark = buildWaterMark("cms", batchKey)
    writeBucketed(cmsRegs(items, grpCol, itemCol, batchKey),
      s"${table}_cregs", path, "idx", nBuckets,
      cmsParams(grpCol, itemCol) ++ mark)
  }

  /** Replay-idempotent append of a delta corpus's registers. Returns
    * whether the batch was APPLIED — false means the key sits at or
    * below the high-water mark (a replay of a batch some compaction
    * already folded). Pre-compaction replays DO write duplicate rows;
    * the (grp, row_j, idx, bk) dedup in [[cmsRegistersFromIndex]]
    * cancels them. */
  def appendCmsIndex(delta: DataFrame, grpCol: String, itemCol: String,
      table: String, batchKey: Long): Boolean = {
    requireParams(delta.sparkSession, s"${table}_cregs",
      cmsParams(grpCol, itemCol), "append")
    keyedBatch(delta.sparkSession, "cms", table, batchKey, "append")(
      cmsRegs(delta, grpCol, itemCol, batchKey))
  }

  /** Replay-idempotent exact unlearning: the slice's registers negated
    * under a strictly-negative key below every key previously used
    * (first unlearn -1, then -2, …). Returns whether applied. */
  def unlearnFromCmsIndex(slice: DataFrame, grpCol: String,
      itemCol: String, table: String, batchKey: Long): Boolean = {
    requireParams(slice.sparkSession, s"${table}_cregs",
      cmsParams(grpCol, itemCol), "unlearn")
    keyedBatch(slice.sparkSession, "cms", table, batchKey, "unlearn")(
      cmsRegs(slice, grpCol, itemCol, batchKey).withColumn("c", -col("c")))
  }

  /** Folded per-group registers from the store: (grp, row_j, idx, bk)
    * row-identity dedup — which cancels pre-compaction replay
    * duplicates — then the additive fold (exactly-cancelled registers
    * drop). O(registers), zero corpus read. */
  def cmsRegistersFromIndex(spark: SparkSession, table: String)
      : DataFrame = {
    spark.catalog.refreshTable(s"${table}_cregs")
    CountMin.fold(
      spark.table(s"${table}_cregs")
        .dropDuplicates("grp", "row_j", "idx", "bk"),
      Seq("grp"))
  }

  /** Point estimates served from the store for a bounded candidate
    * frame: `(grp, itemCol, est)` for every group in the store — the
    * group list and the register table are both bounded, so the whole
    * computation is candidates × depth joined against a broadcast. */
  def cmsEstimateFromIndex(spark: SparkSession, table: String,
      cands: DataFrame, itemCol: String = "item"): DataFrame = {
    val regs = Ops.checkpointKeepPartitioning(
      cmsRegistersFromIndex(spark, table))
    val grps = regs.select("grp").distinct()
    CountMin.estimate(regs, cands.crossJoin(broadcast(grps)), itemCol,
      groupCols = Seq("grp"))
  }

  // ---- quantile-histogram store --------------------------------------
  // The fifteenth persisted kind: [[Qhist]] log-bucketed histograms per
  // group (≤ ~976 rows each) — the store that makes every future
  // percentile question O(registers). Counts again, so the full
  // additive lifecycle (append deltas, unlearn by negation, compaction
  // folds) under the same keyed-batch replay discipline as the
  // Count-Min kind — the crash-replay argument transfers verbatim,
  // (grp, bucket, bk) being the row identity.

  private def qhParams(grpCol: String, valueCol: String)
      : Map[String, String] =
    Map("payload" -> "qhist", "grpCol" -> grpCol, "valueCol" -> valueCol,
      "keyed" -> "true")

  private def qhRegs(df: DataFrame, grpCol: String, valueCol: String,
      batchKey: Long): DataFrame =
    Qhist.registers(df, valueCol, Seq(grpCol))
      .withColumnRenamed(grpCol, "grp")
      .withColumn("bk", lit(batchKey))

  /** Builds the persisted histogram store: `(grp, bucket, cnt, bk)`
    * bucketed by bucket. */
  def buildQhistIndex(df: DataFrame, grpCol: String, valueCol: String,
      table: String, path: String, batchKey: Long = 0L,
      nBuckets: Int = 4): Unit = {
    val mark = buildWaterMark("qh", batchKey)
    writeBucketed(qhRegs(df, grpCol, valueCol, batchKey), s"${table}_qregs",
      path, "bucket", nBuckets, qhParams(grpCol, valueCol) ++ mark)
  }

  /** Replay-idempotent append — the CMS kind's contract verbatim. */
  def appendQhistIndex(delta: DataFrame, grpCol: String, valueCol: String,
      table: String, batchKey: Long): Boolean = {
    requireParams(delta.sparkSession, s"${table}_qregs",
      qhParams(grpCol, valueCol), "append")
    keyedBatch(delta.sparkSession, "qh", table, batchKey, "append")(
      qhRegs(delta, grpCol, valueCol, batchKey))
  }

  /** Replay-idempotent exact unlearning under a strictly-negative key. */
  def unlearnFromQhistIndex(df: DataFrame, grpCol: String,
      valueCol: String, table: String, batchKey: Long): Boolean = {
    requireParams(df.sparkSession, s"${table}_qregs",
      qhParams(grpCol, valueCol), "unlearn")
    keyedBatch(df.sparkSession, "qh", table, batchKey, "unlearn")(
      qhRegs(df, grpCol, valueCol, batchKey)
        .withColumn("cnt", -col("cnt")))
  }

  /** Folded per-group histograms from the store. */
  def qhistRegistersFromIndex(spark: SparkSession, table: String)
      : DataFrame = {
    spark.catalog.refreshTable(s"${table}_qregs")
    Qhist.fold(
      spark.table(s"${table}_qregs")
        .dropDuplicates("grp", "bucket", "bk"),
      Seq("grp"))
  }

  /** Percentile cutoffs served from the store — O(registers), zero
    * corpus read, any permille list, any time. */
  def qhistCutoffsFromIndex(spark: SparkSession, table: String,
      ps: Seq[Int]): DataFrame =
    Qhist.cutoffs(qhistRegistersFromIndex(spark, table), ps, Seq("grp"))

  // ---- source-authority shingle table --------------------------------
  // The sixteenth persisted kind: `(source, ph, nd, bk)` — per-source
  // distinct-DOCUMENT counts of word-8-gram fingerprints, the
  // sufficient statistic behind [[Centrality]]'s shared-content source
  // graph (GraphQueries' authority family). Each document contributes
  // +1 to every distinct shingle it contains, so the rows form the
  // span-DF commutative group over document sets: append ≡ one-shot
  // rebuild and unlearn (negated rows) ≡ never-indexed, bit-for-bit.
  // PageRank itself is NOT persisted — it is derived on read from the
  // folded edge list (a pure function of the table, bounded work:
  // #sources² edges, fixed iterations), so unlike the distill kind
  // there is no refit artifact to swap. Keyed under the CMS replay
  // discipline verbatim: (source, ph, bk) is a row's identity
  // (per-batch counts are deterministic aggregates), appends at or
  // below the high-water mark are skipped, unlearns use strictly
  // decreasing negative keys, compaction folds to the sentinel.
  // Bucketed by ph so the edge derivation's self-join reads co-located.

  private def authParams(srcCol: String, idCol: String,
      k: Int): Map[String, String] =
    Map("payload" -> "auth", "srcCol" -> srcCol, "idCol" -> idCol,
      "k" -> k.toString, "keyed" -> "true")

  private def authCounts(docs: DataFrame, srcCol: String, idCol: String,
      textCol: String, k: Int, batchKey: Long): DataFrame =
    docs.select(col(srcCol).as("source"), col(idCol).as("__id"),
        SpanDedup.toks(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k)
      .select(col("source"), col("__id"), explode(transform(
        sequence(lit(1), size(col("__t")) - (k - 1)),
        i => concat_ws(" ", slice(col("__t"), i, lit(k))))).as("s"))
      .select(col("source"), col("__id"),
        md5(col("s").cast("binary")).as("ph"))
      .distinct()
      .groupBy("source", "ph").agg(count(lit(1)).as("nd"))
      .withColumn("bk", lit(batchKey))

  /** Serving-node-set invariant, asserted at every authority write —
    * BEFORE anything lands on disk, so a rejected batch leaves the
    * table untouched (a post-write check would report the divergence
    * while the half-applied rows stayed permanently folded in):
    * [[authorityFromIndex]] derives its vertex set from sources LIVE in
    * the shingle table, while the family's shared oracle (and the
    * inline `ext_source_authority` form) declares nodes as ALL distinct
    * sources of the corpus. The two agree only when every written
    * source has ≥ 1 doc of ≥ k tokens — a source whose docs are all
    * shorter never enters the table, silently changing nNodes and
    * therefore EVERY rank (baseShare = Scale div nNodes). Fail loudly
    * at the write (the cause) instead. The invariant is CUMULATIVE:
    * `alreadyLive` (append path) carries the sources live in the
    * existing table, so a later batch may add short docs for a source
    * an earlier batch made indexable — only a source the serve-time
    * node set would MISS rejects.
    *
    * Cost, and why the liveness probe is LAZY: the common case — every
    * batch source has a ≥ k-token doc — is decided from the batch's
    * own counts frame alone (O(batch), computed for the write anyway).
    * Only sources whose batch docs are ALL short consult the persisted
    * table, and then only ITS SLICE for exactly those sources (the
    * source predicate pushes through the liveness fold to the bucketed
    * scan). An eager `alreadyLive` frame here used to fold the ENTIRE
    * table on every append — turning the hot streaming-maintenance
    * path (sr38) from O(batch) to O(table) per batch for a guard whose
    * answer is almost always derivable from the batch. The short-only
    * source list is collected driver-side — bounded, it's a grouping
    * (the coalitionLosses stray-check argument). */
  private def requireAuthSourcesIndexable(batch: DataFrame,
      batchCounts: DataFrame, srcCol: String, k: Int, op: String,
      liveFor: Option[Seq[String] => DataFrame] = None): Unit = {
    val indexable = batchCounts.select("source").distinct()
    val shortOnly = batch.select(col(srcCol).as("source")).distinct()
      .join(indexable, Seq("source"), "left_anti")
      .collect().map(_.getString(0)).toSeq
    val missing = (liveFor, shortOnly) match {
      case (_, Seq()) => shortOnly
      case (None, m) => m
      case (Some(f), m) =>
        val live = f(m).select("source").distinct()
          .collect().map(_.getString(0)).toSet
        m.filterNot(live)
    }
    require(missing.isEmpty,
      s"$op: source(s) ${missing.take(6).mkString(", ")}" +
        s"${if (missing.size > 6) s" (+${missing.size - 6} more)" else ""}" +
        s" have no doc " +
        s"with >= $k tokens (and are not already live in the table), " +
        "so the served node set would diverge from the declared corpus " +
        "node set and shift every rank (see authorityFromIndex). Route " +
        "sub-k-token sources around the authority index or pad/merge " +
        "their docs upstream. Nothing was written.")
  }

  /** Builds the persisted authority table: `(source, ph, nd, bk)`
    * bucketed by ph. `batchKey` becomes the initial high-water mark
    * (crash-replay of the building batch falls through to the append
    * path and is skipped, the CMS argument). */
  def buildAuthorityIndex(docs: DataFrame, srcCol: String, idCol: String,
      textCol: String, table: String, path: String, k: Int = 8,
      batchKey: Long = 0L, nBuckets: Int = 4): Unit = {
    val mark = buildWaterMark("auth", batchKey)
    // pinned EAGER: the indexability guard's source-distinct collect and
    // the bucketed CTAS below both consume the counts — unpinned, the
    // corpus-sized shingle+md5 pass ran TWICE per build (measured: the
    // guard's collect was the single biggest job of the build)
    val counts = Ops.checkpointKeepPartitioning(
      authCounts(docs, srcCol, idCol, textCol, k, batchKey), eager = true)
    requireAuthSourcesIndexable(docs, counts, srcCol, k,
      s"buildAuthorityIndex($table)")
    writeBucketed(counts, s"${table}_aph", path, "ph", nBuckets,
      authParams(srcCol, idCol, k) ++ mark)
    Ops.freeLogicalRddBlocks(counts)
  }

  private def authK(spark: SparkSession, table: String, srcCol: String,
      idCol: String, op: String): Int = {
    val k = getParams(spark, s"${table}_aph").getOrElse("k",
      sys.error(s"$op: ${table}_aph has no k param")).toInt
    requireParams(spark, s"${table}_aph", authParams(srcCol, idCol, k), op)
    k
  }

  /** Replay-idempotent append of a delta corpus's counts. Returns
    * whether the batch was APPLIED (false = at/below the high-water
    * mark — a replay of an already-folded batch). */
  def appendAuthorityIndex(delta: DataFrame, srcCol: String, idCol: String,
      textCol: String, table: String, batchKey: Long): Boolean = {
    val spark = delta.sparkSession
    val k = authK(spark, table, srcCol, idCol, "append")
    // pinned eager: guard collect + append write both consume the
    // batch counts (the buildAuthorityIndex doubled-pass fix); built
    // only when the batch applies
    lazy val counts = Ops.checkpointKeepPartitioning(
      authCounts(delta, srcCol, idCol, textCol, k, batchKey), eager = true)
    val applied = keyedBatch(spark, "auth", table, batchKey, "append") {
      requireAuthSourcesIndexable(delta, counts, srcCol, k,
        s"appendAuthorityIndex($table)",
        liveFor = Some(srcs =>
          authorityShinglesFromIndex(spark, table, forSources = Some(srcs))))
      counts
    }
    if (applied) Ops.freeLogicalRddBlocks(counts)
    applied
  }

  /** Replay-idempotent exact unlearning: the slice's counts negated
    * under a strictly-negative key below every key previously used. */
  def unlearnFromAuthorityIndex(slice: DataFrame, srcCol: String,
      idCol: String, textCol: String, table: String,
      batchKey: Long): Boolean = {
    val k = authK(slice.sparkSession, table, srcCol, idCol, "unlearn")
    keyedBatch(slice.sparkSession, "auth", table, batchKey, "unlearn")(
      authCounts(slice, srcCol, idCol, textCol, k, batchKey)
        .withColumn("nd", -col("nd")))
  }

  /** The folded live (source, ph) membership: row-identity dedup (which
    * cancels pre-compaction replay duplicates), additive fold, zero
    * rows for exactly-cancelled counts. O(table) when unscoped, zero
    * corpus read. `forSources` scopes the fold to the named sources
    * BELOW the dedup/groupBy — the filter is on a group key, so it
    * commutes with the fold and reaches the parquet scan as a pushed
    * `In` predicate: the append guard's is-it-already-live check
    * (see [[appendAuthorityIndex]]) costs O(those sources' rows), not
    * a full-table fold per batch (the round-15 ADVICE finding). */
  def authorityShinglesFromIndex(spark: SparkSession, table: String,
      forSources: Option[Seq[String]] = None): DataFrame = {
    spark.catalog.refreshTable(s"${table}_aph")
    val base = spark.table(s"${table}_aph")
    forSources.fold(base)(s => base.where(col("source").isin(s: _*)))
      .dropDuplicates("source", "ph", "bk")
      .groupBy("source", "ph").agg(sum(col("nd")).as("nd"))
      .where(col("nd") > 0)
      .select("source", "ph")
  }

  /** Source→source shared-shingle edges served from the store —
    * the self-join reads the ph-bucketed table co-located. */
  def authorityEdgesFromIndex(spark: SparkSession, table: String)
      : DataFrame =
    Centrality.sharedShingleEdges(
      authorityShinglesFromIndex(spark, table))

  /** Fixed-point source ranks served from the store: (source, rank_fp).
    * Node set = sources live in the table (a fully-unlearned source
    * drops out, exactly as if never indexed; every INDEXED source is
    * present by the write-time invariant
    * [[requireAuthSourcesIndexable]], so this set equals the corpus's
    * declared node set). Pure function of the table — nothing
    * rank-shaped is persisted or needs refitting. The live checkpoint
    * is freed before returning: pageRank consumes nodes/edges eagerly
    * (its per-iteration checkpoints), so the returned ranks frame no
    * longer references it — repeated serves must not accumulate
    * executor block storage (the Centrality freeBlocks discipline). */
  def authorityFromIndex(spark: SparkSession, table: String,
      iters: Int = 4, dampingPct: Int = 85): DataFrame = {
    val live = Ops.checkpointKeepPartitioning(
      authorityShinglesFromIndex(spark, table))
    // bounded-graph serve (r17): the source-level graph is #sources²
    // by construction, so the fixed point runs driver-side over the
    // collected edge list when it fits the Centrality gates —
    // value-identical integer arithmetic, ~10 fewer per-serve
    // statements; oversized graphs fall back to the distributed loop
    val ranks = Centrality.pageRankBoundedWeighted(
        live.select(col("source").as("id")).distinct(),
        Centrality.sharedShingleEdges(live),
        iters, dampingPct)
      .select(col("id").as("source"), col("rank_fp"))
    Ops.freeLogicalRddBlocks(live)
    ranks
  }

  // ---- append accounting + auto-compaction --------------------------
  // Every bucketed append leaves one new file set per bucket, so a
  // long-lived index's scan cost grows linearly with appends until
  // someone compacts. "Someone remembers to run compact" is not a
  // policy; this is: each append bumps a per-table counter in the table
  // properties, and the ingest loops trigger the kind's compaction once
  // the counter passes the caller's threshold. Two counters with
  // different lifetimes: appendsSince lives OUTSIDE the param prefix,
  // so a rewrite (which carries only build params) implicitly RESETS it
  // — compaction of any provenance zeroes the clock; appendsTotal lives
  // UNDER the param prefix, so it survives rewrites and stays monotone
  // — it names each auto-compaction's target directory, which therefore
  // never collides with a still-unvacuumed retired directory.
  // The counters assume the SINGLE-WRITER-PER-INDEX discipline the
  // append path itself already requires (concurrent saveAsTable appends
  // to one bucketed table are not transactional): a lost counter bump
  // under racing writers would only DELAY a compaction, never corrupt
  // one, but the append contents themselves have no such safety net.

  private val AppendsSinceKey = "graft.compact.appendsSince"
  private val AppendsTotalParam = "appendsTotal"

  /** Documented default for the ingest loops' `autoCompactAppends`
    * knob: compact a table after this many appends. At one append per
    * ingest batch, 32 appends ≈ 32 file sets per bucket — far before
    * footer-read overhead dominates probes, while keeping rewrite
    * frequency (a full table pass) amortized to ~3% of write volume.
    * 0 disables the policy; vacuum stays a SEPARATE explicit step
    * (retired directories are the rollback story — see
    * [[vacuumIndexTable]]). */
  val DefaultAutoCompactAppends = 32

  /** Appends recorded for `table` since its last compaction (any
    * rewrite resets the count — see the counter-lifetime note above). */
  def appendsSinceCompact(spark: SparkSession, table: String): Int =
    tableMeta(spark, table).properties.get(AppendsSinceKey)
      .map(_.toInt).getOrElse(0)

  private def noteAppend(spark: SparkSession, table: String): Unit = {
    val since = appendsSinceCompact(spark, table) + 1
    val total = getParams(spark, table).get(AppendsTotalParam)
      .map(_.toLong).getOrElse(0L) + 1
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$AppendsSinceKey'='$since', " +
      s"'$ParamPrefix$AppendsTotalParam'='$total')")
  }

  /** The counter-driven policy for callers that append OUTSIDE the
    * batch ingest loops — a streaming foreachBatch sink, a custom
    * maintenance job: runs [[compact]] on `table` (base name, no suffix)
    * once its primary table's append counter has reached `every`
    * (0 disables). `kind` is any registered kind name (see [[compact]]).
    * The target base directory embeds the monotone total-append count
    * and sits beside the index's ORIGINAL location — auto_g* components
    * of the current location are stripped first, so repeated
    * auto-compactions of a long-lived index land as siblings instead of
    * nesting deeper each time. Returns whether a compaction ran. */
  def autoCompact(spark: SparkSession, kind: String, table: String,
      every: Int = DefaultAutoCompactAppends): Boolean = {
    val primary = tablesOf(kind, table).head
    if (every > 0 && appendsSinceCompact(spark, primary) >= every) {
      val total = getParams(spark, primary)
        .get(AppendsTotalParam).getOrElse("0")
      var base = new org.apache.hadoop.fs.Path(
        tableMeta(spark, primary).location).getParent
      while (base.getParent != null && base.getName.matches("auto_g\\d+"))
        base = base.getParent
      compact(spark, kind, table, s"$base/auto_g$total")
      true
    } else false
  }

  // ---- kind registry + generic lifecycle -----------------------------
  // One descriptor per persisted kind is the only place that knows the
  // layout the lifecycle rewrites: the tables a kind owns (primary
  // first — the table whose append counter drives auto-compaction and
  // the health report), the fold its compaction applies — the merge
  // operator of the kind's summary: identity for posting tables, sum
  // for the additive count kinds, max for HLL registers — the water-mark
  // params a batch-keyed kind raises before folding, and the id column
  // erasure falls back to for an index that predates its params.
  // Non-bucketed side tables (IVF centroids, PQ codebooks, the bloom
  // sidecar) are never rewritten in place and are not listed.

  /** The high- and low-water mark params of a batch-keyed kind. */
  private final case class Keyed(hiParam: String, loParam: String)

  private final case class Kind(name: String, suffixes: Seq[String],
      fold: DataFrame => DataFrame, keyed: Option[Keyed] = None,
      eraseIdCol: Option[String] = None) {
    def tables(base: String): Seq[String] = suffixes.map(base + _)
  }

  /** The folded-row sentinel of every batch-keyed kind — never a legal
    * caller key. */
  private val FoldedBk = Long.MinValue

  /** Additive fold: rows merge by summation per `keys`; `positive`
    * kinds also drop negative totals (their serving ignores them), the
    * others only exact cancellations. */
  private def summed(keys: Seq[String], v: String, positive: Boolean)
      (df: DataFrame): DataFrame =
    df.groupBy(keys.map(col): _*).agg(sum(col(v)).as(v))
      .where(if (positive) col(v) > 0 else col(v) =!= 0L)

  private def posting(name: String, eraseIdCol: String,
      suffixes: String*): Kind =
    Kind(name, suffixes, identity, eraseIdCol = Some(eraseIdCol))

  private def additive(name: String, suffix: String, keys: Seq[String],
      v: String, positive: Boolean): Kind =
    Kind(name, Seq(suffix), summed(keys, v, positive))

  /** Keyed fold: `keys` plus the batch key `bk` is a row's identity —
    * dedup identities (cancelling pre-compaction replay duplicates),
    * sum, stamp survivors with the sentinel. */
  private def keyed(name: String, suffix: String, keys: Seq[String],
      v: String, positive: Boolean, hiParam: String, loParam: String): Kind =
    Kind(name, Seq(suffix), df =>
      summed(keys, v, positive)(df.dropDuplicates(keys :+ "bk"))
        .withColumn("bk", lit(FoldedBk)),
      Some(Keyed(hiParam, loParam)))

  private val Kinds: Seq[Kind] = Seq(
    posting("exact", "doc_id", "_fps"),
    posting("minhash", "doc_id", "_bands", "_shingles"),
    posting("simhash", "doc_id", "_chunks"),
    posting("winnow", "doc_id", "_wins"),
    posting("srp", "vec_id", "_bands", "_vecs"),
    posting("ivf", "vec_id", "_lists"),
    posting("pq", "vec_id", "_codes"),
    additive("lm", "_counts", Seq("bg"), "cb", positive = true),
    keyed("lmk", "_counts", Seq("bg"), "cb", positive = true,
      "lmBkHighWater", "lmBkNegLowWater"),
    additive("lms", "_slices", Seq("grp", "bg"), "cb", positive = false),
    additive("dsir", "_counts", Seq("bucket", "side"), "c", positive = true),
    additive("doremi", "_dmc", Seq("source", "bg"), "cb", positive = true),
    // shares the keyed LM's mark names; appends only, so no low mark
    keyed("doremik", "_dmc", Seq("source", "bg"), "cb", positive = true,
      "lmBkHighWater", "lmBkNegLowWater"),
    additive("span", "_sdf", Seq("s"), "nd", positive = true),
    Kind("hll", Seq("_hregs"), Hll.fold(_, Seq("grp"))),
    keyed("cms", "_cregs", Seq("grp", "row_j", "idx"), "c",
      positive = false, "cmsBkHighWater", "cmsBkNegLowWater"),
    keyed("qh", "_qregs", Seq("grp", "bucket"), "cnt", positive = false,
      "qhBkHighWater", "qhBkNegLowWater"),
    keyed("auth", "_aph", Seq("source", "ph"), "nd", positive = false,
      "authBkHighWater", "authBkNegLowWater"),
    // refit-only: no appends, so compaction is a plain file rewrite
    Kind("distill", Seq("_lw"), identity))

  private val KindByName = Kinds.map(k => k.name -> k).toMap

  private def kindOf(kind: String): Kind = KindByName.getOrElse(kind,
    throw new IllegalArgumentException(s"unknown index kind '$kind' " +
      s"(expected ${Kinds.map(_.name).mkString("/")})"))

  /** The bucketed tables a `kind` index named `table` owns, primary
    * first — what its lifecycle rewrites. */
  def tablesOf(kind: String, table: String): Seq[String] =
    kindOf(kind).tables(table)

  /** Compacts every table of a `kind` index (base name `table`) into
    * one file per bucket at `$newPathBase/<table>_c` — zero shuffle,
    * catalog swap, build parameters carried over ([[rewriteInPlace]]) —
    * through the kind's fold: posting tables keep their rows, the
    * summary kinds fold duplicate and cancellation rows (their
    * compaction changes row COUNT by design). A batch-keyed kind raises
    * its water marks FIRST: a crash between the marks and the swap
    * leaves the un-folded rows in place, where replay duplicates are
    * still cancelled row-wise, and the moved marks merely skip batches
    * that were genuinely applied. The retired directories stay until
    * [[vacuum]]. `kind` is one of exact / minhash / simhash / winnow /
    * srp / ivf / pq / lm / lmk / lms / dsir / doremi / doremik / span /
    * hll / cms / qh / auth / distill. */
  def compact(spark: SparkSession, kind: String, table: String,
      newPathBase: String): Unit = {
    val k = kindOf(kind)
    k.keyed.foreach(raiseWaterMarks(spark, k.tables(table).head, _))
    k.tables(table).foreach { t =>
      val (bucketCol, nb) = bucketSpecOf(spark, t)
      rewriteInPlace(spark, t, bucketCol, s"$newPathBase/${t}_c", nb)(k.fold)
    }
  }

  /** Reclaims the retired directories of every table of a `kind`
    * index ([[vacuumIndexTable]] per table) — callers never need the
    * kind's table layout to avoid leaking one of them. */
  def vacuum(spark: SparkSession, kind: String, table: String): Seq[String] =
    tablesOf(kind, table).flatMap(vacuumIndexTable(spark, _))

  /** Take-down: rewrites every table of a `kind` index without the rows
    * whose id appears in `ids` ([[deleteFromTable]], into
    * `$newPathBase/<table>_d`). The id column is the build-time `idCol`
    * param, else the kind's default. Only per-document kinds erase;
    * the summary kinds hold aggregates with no per-document provenance
    * and unlearn (negated rows) instead. Side tables — IVF centroids,
    * PQ codebooks — are aggregate positions and stay untouched. */
  def deleteFrom(spark: SparkSession, kind: String, table: String,
      ids: DataFrame, newPathBase: String): Unit = {
    val k = kindOf(kind)
    val fallbackIdCol = k.eraseIdCol.getOrElse(throw new IllegalArgumentException(
      s"index kind '$kind' holds aggregate rows with no per-document " +
        "provenance; unlearn the documents instead of deleting them"))
    val idCol = getParams(spark, k.tables(table).head)
      .getOrElse("idCol", fallbackIdCol)
    k.tables(table).foreach { t =>
      val (bucketCol, nb) = bucketSpecOf(spark, t)
      deleteFromTable(spark, t, bucketCol, idCol, ids, s"$newPathBase/${t}_d",
        nb)
    }
  }

  private def waterMark(spark: SparkSession, table: String, param: String,
      default: Long): Long =
    getParams(spark, table).get(param).map(_.toLong).getOrElse(default)

  /** One aggregate over the unfolded rows, then each mark moves only
    * outward: the high mark up to the largest in-band key, the low mark
    * down to the smallest out-of-band key. */
  private def raiseWaterMarks(spark: SparkSession, table: String,
      m: Keyed): Unit = {
    val marks = spark.table(table).where(col("bk") =!= FoldedBk)
      .agg(max(when(col("bk") >= 0, col("bk"))).as("hi"),
        min(when(col("bk") < 0, col("bk"))).as("lo")).head()
    def set(param: String, v: Long): Unit =
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('$ParamPrefix$param'='$v')")
    if (!marks.isNullAt(0)) set(m.hiParam,
      math.max(marks.getLong(0), waterMark(spark, table, m.hiParam, -1L)))
    if (!marks.isNullAt(1)) set(m.loParam,
      math.min(marks.getLong(1), waterMark(spark, table, m.loParam, 0L)))
  }

  /** The initial high-water mark a keyed build records: `batchKey`
    * (the building stream's first batch id), so a crash-replay of the
    * building batch — which finds the table existing and falls through
    * to the append path — is skipped rather than re-counted. */
  private def buildWaterMark(kind: String, batchKey: Long)
      : Map[String, String] = {
    require(batchKey >= 0, s"build batchKey must be in-band, got $batchKey")
    Map(kindOf(kind).keyed.get.hiParam -> batchKey.toString)
  }

  /** The replay guard every batch-keyed append and unlearn goes
    * through (`op` names which). Key discipline: in-band appends use the
    * stream's monotone non-negative batch ids and are skipped at or
    * below the high-water mark — a replay of a batch some compaction
    * already folded; out-of-band unlearns use strictly DECREASING
    * negative keys (they have no natural sequence, so they get their own
    * low-water mark, starting at 0: the first unlearn uses -1, the next
    * -2, …) and are skipped at or above it; [[FoldedBk]] is never a
    * legal key. `rows` (already stamped with the key) is built and
    * appended only when the batch applies. Pre-compaction replays DO
    * write duplicate rows; the row-identity dedup on read and in the
    * fold cancels them. Returns whether the batch was applied. */
  private def keyedBatch(spark: SparkSession, kind: String, table: String,
      batchKey: Long, op: String)(rows: => DataFrame): Boolean = {
    val unlearn = op == "unlearn"
    require(batchKey != FoldedBk && (batchKey < 0) == unlearn,
      if (unlearn) s"unlearn batchKey must be negative (out-of-band), got $batchKey"
      else s"append batchKey must be in-band (>= 0), got $batchKey")
    val k = kindOf(kind)
    val t = k.tables(table).head
    val m = k.keyed.get
    val applies =
      if (unlearn) batchKey < waterMark(spark, t, m.loParam, 0L)
      else batchKey > waterMark(spark, t, m.hiParam, -1L)
    if (applies) appendBucketed(rows, t)
    applies
  }

  /** One-table OPS dashboard over a fleet of persisted indexes: per
    * (kind, table) — live row count, physical file count (what the
    * append-then-compact lifecycle actually manages), bucket count,
    * appends since the last compaction (the auto-compact clock),
    * monotone total appends, and retired directories awaiting vacuum.
    * This is the "is maintenance keeping up" glance a long-lived
    * forever-sync needs: files growing without appends_since resetting
    * means compaction stopped firing; retired_dirs climbing means
    * nobody vacuums. The listing work is per-index metadata plus one
    * count job each — the report is driver-assembled because the index
    * FLEET is bounded (tens), never the data. */
  def healthReport(spark: SparkSession,
      indexes: Seq[(String, String)]): DataFrame = {
    val rows = indexes.map { case (kind, table) =>
      val primary = tablesOf(kind, table).head
      spark.catalog.refreshTable(primary)
      val df = spark.table(primary)
      (kind, table, primary, df.count(), df.inputFiles.length.toLong,
        bucketSpecOf(spark, primary)._2.toLong,
        appendsSinceCompact(spark, primary).toLong,
        getParams(spark, primary).get(AppendsTotalParam)
          .map(_.toLong).getOrElse(0L),
        supersededOf(spark, primary).size.toLong)
    }
    import spark.implicits._
    rows.toDF("kind", "table", "primary_table", "rows", "files",
      "n_buckets", "appends_since_compact", "appends_total",
      "retired_dirs")
  }

  private val SupersededKey = "graft.vacuum.superseded"

  /** , not ',': commas are legal in S3/HDFS paths, and a comma
    * split would hand vacuum bogus prefix fragments to recursively
    * delete. */
  private val SupersededSep = "\u0001"

  private def supersededOf(spark: SparkSession, table: String): Seq[String] =
    tableMeta(spark, table).properties.get(SupersededKey)
      .toSeq.flatMap(_.split(SupersededSep)).filter(_.nonEmpty)

  /** Reclaims the directories that compaction/erasure swaps retired for
    * `table` (each [[rewriteInPlace]] records the location it replaced).
    * Deliberately a SEPARATE, explicit step: immediately after a swap the
    * old files are the only rollback, and at warehouse scale in-flight
    * queries may still hold the old file listing — vacuum once the
    * retention window has passed, exactly like VersionedTable. Refuses to
    * touch the table's current location. Returns the paths reclaimed; a
    * path whose delete FAILS (FileSystem.delete returning false, e.g.
    * permissions) stays on the retired list so a later retry can still
    * reclaim it, instead of being forgotten as leaked files. */
  def vacuumIndexTable(spark: SparkSession, table: String): Seq[String] = {
    val current = canonicalLoc(tableMeta(spark, table).location.toString)
    val (stale, live) = supersededOf(spark, table)
      .partition(p => canonicalLoc(p) != current)
    val (reclaimed, failed) = stale.partition { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !fs.exists(hp) || fs.delete(hp, true) // already gone counts as done
    }
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$SupersededKey'='${sqlLit((live ++ failed).mkString(SupersededSep))}')")
    reclaimed
  }

  /** Deletion: rewrites an index table WITHOUT the rows whose `idCol`
    * appears in `ids` — the take-down/right-to-erasure path that
    * completes the index lifecycle (build / append / compact / delete /
    * probe). The id set broadcasts (deletion batches are small), the
    * anti join preserves the bucketed scan's partitioning, and the
    * rewrite reuses [[compactTable]]'s zero-shuffle catalog swap — so a
    * delete is also a compaction. */
  def deleteFromTable(spark: SparkSession, table: String, bucketCol: String,
      idCol: String, ids: DataFrame, newPath: String,
      nBuckets: Int = 8): Unit =
    rewriteInPlace(spark, table, bucketCol, newPath, nBuckets)(
      _.join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti"))

  /** Builds the IVF index: inverted lists (corpus rows + cluster_id)
    * bucketed by cluster_id, plus the small centroid table. */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame, table: String,
      path: String, idCol: String = "vec_id", vecCol: String = "vec",
      nBuckets: Int = 8): Unit = {
    // the coarse quantizer's dimensionality is part of the index
    // contract: an append with different-dimension vectors would cosine
    // against zero-padded/truncated centroids and mis-assign silently.
    // Read it BEFORE any write (empty centroids fail here, not after
    // data landed), and attach the params right after the lists table
    // materializes — same narrow-window stance as buildMinhashIndex.
    val dim = centroids.select(size(col("centroid"))).head().getInt(0)
    val lists = corpus
      .join(IvfIndex.assign(corpus, centroids, idCol, vecCol), idCol)
    // "quantized" recorded explicitly (the SRP convention) so an fp
    // probe against a quantized index — and vice versa — fails loud at
    // validation instead of mid-plan on a missing column
    writeBucketed(lists, s"${table}_lists", path, "cluster_id", nBuckets,
      Map("idCol" -> idCol, "vecCol" -> vecCol, "dim" -> dim.toString,
        "quantized" -> "none"))
    centroids.write
      .option("path", s"$path/${table}_centroids").mode("overwrite")
      .saveAsTable(s"${table}_centroids")
  }

  /** Builds a QUANTIZED IVF index: inverted lists carry int8 codes
    * (array<tinyint>, ~4-8× smaller on disk than the fp64 vectors) plus
    * the per-vector reconstruction scale, bucketed by cluster_id like
    * [[buildIvfIndex]]. Assignment runs on the fp vectors BEFORE
    * quantization (one map-only literal-centroid projection, zero
    * exchanges), so list membership is identical to the fp index — only
    * the stored representation is compressed. scale = 0.0 is the
    * "undefined" sentinel for zero/empty vectors (see Int8QuantizeUtil).
    */
  def buildIvfIndexQuantized(corpus: DataFrame, centroids: DataFrame,
      table: String, path: String, idCol: String = "vec_id",
      vecCol: String = "vec", nBuckets: Int = 8): Unit = {
    val dim = centroids.select(size(col("centroid"))).head().getInt(0)
    val lists = IvfIndex.withClusterId(corpus,
        IvfIndex.collectCentroids(centroids), vecCol)
      .withColumn("__scale", Similarity.int8Scale(col(vecCol)))
      .select(col(idCol),
        Similarity.int8Codes(col(vecCol), col("__scale"))
          .cast("array<tinyint>").as("codes"),
        coalesce(col("__scale"), lit(0.0)).as("scale"),
        col("cluster_id"))
    writeBucketed(lists, s"${table}_lists", path, "cluster_id", nBuckets,
      Map("idCol" -> idCol, "vecCol" -> vecCol, "dim" -> dim.toString,
        "quantized" -> "int8"))
    centroids.write
      .option("path", s"$path/${table}_centroids").mode("overwrite")
      .saveAsTable(s"${table}_centroids")
  }

  /** IVF top-k against a persisted QUANTIZED index: same zero
    * index-side-shuffle probe as [[probeIvf]], but the probed lists are
    * int8 codes dequantized inside the scoring kernel. Refuses to probe
    * a non-quantized index (and vice versa) via the persisted
    * `quantized` build parameter. */
  def probeIvfQuantized(spark: SparkSession, queries: DataFrame,
      table: String, k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "vec"): DataFrame = {
    requireParams(spark, s"${table}_lists",
      Map("idCol" -> idCol, "vecCol" -> vecCol, "quantized" -> "int8"),
      "probe")
    IvfIndex.topKFromQuantizedLists(spark.table(s"${table}_lists"), queries,
      spark.table(s"${table}_centroids"), k, nprobe, idCol, vecCol)
  }

  /** Incremental IVF maintenance: assigns `delta` vectors against the
    * PERSISTED centroids (standard IVF practice — the coarse quantizer
    * is trained once and reused; retrain only on drift) and appends the
    * new inverted-list rows in place, mirroring [[appendMinhashIndex]].
    * Probes immediately see old and new vectors. */
  def appendIvfIndex(spark: SparkSession, delta: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "vec"): Unit = {
    requireParams(spark, s"${table}_lists",
      Map("idCol" -> idCol, "vecCol" -> vecCol, "quantized" -> "none"),
      "append")
    // dimension is a per-ROW property of the delta, not an argument —
    // guard it inline (codegen'd size comparison, negligible per row):
    // assert_true raises on the first wrong-dimension vector instead of
    // letting it mis-assign silently
    val guarded = getParams(spark, s"${table}_lists").get("dim")
      .map(_.toInt).fold(delta)(d => delta.where(coalesce(
        assert_true(size(col(vecCol)) === d,
          lit(s"append to ${table}_lists: vectors must have dimension $d")),
        lit(true))))
    val centroids = spark.table(s"${table}_centroids")
    appendBucketed(
      guarded.join(IvfIndex.assign(guarded, centroids, idCol, vecCol), idCol),
      s"${table}_lists")
  }

  /** IVF top-k against a persisted index: zero index-build cost, and the
    * probed-list join needs no index-side shuffle (lists are bucketed on
    * cluster_id). */
  def probeIvf(spark: SparkSession, queries: DataFrame, table: String,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "vec"): DataFrame = {
    requireParams(spark, s"${table}_lists",
      Map("idCol" -> idCol, "vecCol" -> vecCol, "quantized" -> "none"),
      "probe")
    IvfIndex.topKFromLists(spark.table(s"${table}_lists"), queries,
      spark.table(s"${table}_centroids"), k, nprobe, idCol, vecCol)
  }

  /** (bucket column, bucket count) straight from the catalog — appends,
    * compaction and erasure must preserve the EXISTING layout, not trust
    * a caller-supplied spec that might silently re-bucket the table;
    * authoritative even for a pre-metadata index. */
  private def bucketSpecOf(spark: SparkSession, table: String): (String, Int) = {
    val spec = tableMeta(spark, table).bucketSpec.getOrElse(
      throw new IllegalStateException(
        s"$table is not bucketed — not an index table"))
    (spec.bucketColumnNames.head, spec.numBuckets)
  }
}
