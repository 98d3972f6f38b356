package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Case311
import graft.operators.{BatchedSink, Incremental}
import graft.sources.VersionedTable

/** The sink's stand-in for the feature service: formats each batch as
  * the payload the reference posts, and fails a seeded tenth of the
  * batches once with a transient error, so the retry ladder runs. */
object SinkSim {
  private val attempts = new ConcurrentHashMap[String, Integer]()

  def flush(seed: Long, cycle: Int): (String, Seq[Row]) => Unit =
    (key: String, rows: Seq[Row]) => {
      val id = s"$cycle/$key"
      val n = attempts.merge(id, 1, (a: Integer, b: Integer) => a + b)
      if (n == 1 && math.abs((seed, cycle, key).hashCode) % 10 == 0)
        throw new BatchedSink.RetryableFailure(s"rollback on $id")
      val payload = rows.iterator.map(_.mkString("\u0001")).map(_.length).sum
      require(payload > 0, s"empty payload in $id")
    }
}

/** Sums of the sink reports of `n` cycles. */
final case class SinkTotals(batches: Long = 0, rows: Long = 0,
    retries: Long = 0, poisoned: Long = 0, n: Int = 0) {
  def add(r: BatchedSink.SinkReport): SinkTotals = SinkTotals(
    batches + r.batches, rows + r.rows, retries + r.retries,
    poisoned + r.poisoned.size, n + 1)
}

/** The paper's own job: a cron-driven incremental sync over a
  * warehouse bulk-loaded from the synthetic Salesforce feed. Each cycle
  * pulls the feed since the previous cycle (with one cycle of
  * look-back), normalizes it, takes the strictly-newer delta, merges
  * it, reconciles deletions against the source's id listing, commits
  * the new warehouse version, flushes the delta through the batched
  * sink (50-row batches ordered by updated_datetime) and vacuums. */
final class SyncCycle(spark: SparkSession, seed: Long, cores: Int,
    in: String, work: String, initial: Int, delta: Int, cycles: Int)
    extends Workload {

  private val Pk = "service_request_id"
  private val plan = new Gen.SyncPlan(seed, initial, cycles,
    modified = delta * 4 / 5, fresh = delta / 5, deleted = delta / 20)
  private val sf = s"$in/sf"
  private val changesDir = s"$in/changes"
  private val idsDir = s"$in/source_ids"
  private val base = s"$work/warehouse"
  private var k = 0
  private var version = 0
  private var lastFeed: DataFrame = _
  private var lastDelta: DataFrame = _

  def inputRows: Long = plan.totalIds + plan.changeRows.size
  def inputBytes: Long = Workload.dirBytes(in)

  def generate(): Unit = if (!Workload.exists(s"$in/_DONE")) {
    import spark.implicits._
    Workload.rm(in)
    Gen.writeEvents(spark, seed, plan.totalIds, s"$sf/events.parquet")
    Gen.writeDocs(spark, Gen.docs(seed, 500), s"$sf/documents.parquet")
    val raw = Case311.syntheticRaw(spark, sf)
    val changed = plan.changeRows.toDF("__cid", "cycle")
    raw.join(changed, col("CaseNumber").cast("long") === col("__cid"))
      .drop("__cid")
      .withColumn("LastModifiedDate", Gen.cycleStamp(seed, col("cycle")))
      .withColumn("Status", element_at(array(lit("New"), lit("Open"),
        lit("Closed"), lit("Pending")),
        (pmod(col("CaseNumber").cast("long") + col("cycle"), lit(4L)) + 1)
          .cast("int")))
      .repartition(col("cycle"))
      .write.partitionBy("cycle").parquet(changesDir)
    plan.idRows.toDF("CaseNumber", "born", "died")
      .repartition(cores).write.parquet(idsDir)
    Workload.touch(s"$in/_DONE")
  }

  def setup(): Unit = {
    Workload.rm(base)
    val raw = Case311.syntheticRaw(spark, sf)
      .where(col("CaseNumber").cast("long") < initial)
    VersionedTable.write(Case311.normalize(raw), base, 1)
    k = 0
    version = 1
  }

  def hasNext: Boolean = k < cycles

  /** The bulk load warms normalize and the writer, not the merge, the
    * deletion joins or the sink. Cycles keep getting faster for about a
    * dozen cycles as the JIT compiles (3.5 s down to 1.8 s); after five
    * warm-up cycles the steep part is over. A run times seven cycles
    * (more only if they take less than --seconds), so every run's median
    * comes from the same cycle indices. */
  override def warmupOps: Int = 5
  override def minOps: Int = 7

  /** A probe takes a tenth of a cycle; three a cycle give a run 21
    * probe samples. */
  override def probesPerOp: Int = 3

  /** What the source returns for cycle k: its changes and, as look-back,
    * those of cycle k-1. */
  private def feedOf(c: Int) = spark.read.option("basePath", changesDir)
    .parquet((math.max(c - 1, 1) to c).map(x => s"$changesDir/cycle=$x"): _*)
    .drop("cycle")

  private def sourceIds(c: Int) = spark.read.parquet(idsDir)
    .where(col("born") <= c && col("died") > c)
    .select(col("CaseNumber").as(Pk))

  def op(tr: Tracer): (Long, Boolean) = {
    k += 1
    val (target, feed) = tr.span("sources.read", "sources") {
      (VersionedTable.read(spark, base),
        feedOf(k))
    }
    val wm = tr.span("incremental.watermark", "incremental") {
      target.agg(Incremental.watermarkExpr("updated_datetime")).head()
        .getTimestamp(0)
    }
    val delta = tr.span("functions.normalize", "functions") {
      Incremental.delta(Case311.normalize(feed), "updated_datetime", lit(wm))
    }
    tr.span("incremental.upsert", "incremental") {
      val merged = Incremental.merge(target, delta, Pk)
      val gone = Incremental.deletedIds(merged.select(Pk), sourceIds(k), Pk)
      VersionedTable.stage(Incremental.purge(merged, gone, Pk), base,
        version + 1)
    }
    tr.span("sources.commit", "sources") {
      VersionedTable.commit(base, version + 1)
      version += 1
    }
    val report = tr.span("sink.write", "sink") {
      BatchedSink.writeBatched(delta.orderBy("updated_datetime"), 50)(
        SinkSim.flush(seed, k))
    }
    tr.span("sources.vacuum", "sources") { VersionedTable.vacuum(base, 1) }
    lastFeed = feed
    lastDelta = delta
    sinkTotals = sinkTotals.add(report)
    (report.rows,
      report.rows == plan.expectedDelta(k) && report.poisoned.isEmpty)
  }

  private var sinkTotals = SinkTotals()

  def probe(tr: Tracer): Boolean = {
    val ids = plan.probeIds(k, 20).map(_.toString)
    val got = tr.span("probe", "sources") {
      VersionedTable.read(spark, base).where(col(Pk).isin(ids: _*))
        .select(Pk).collect().map(_.getString(0))
    }
    got.sorted.toSeq == ids.sorted
  }

  def layerExtras(tr: Tracer): Map[String, Double] = {
    val (files, bytes) = Workload.dirFiles(s"$base/v$version")
    val deltaDir = s"$work/trace_delta"
    lastDelta.write.mode("overwrite").parquet(deltaDir)
    val deltaBytes = Workload.dirFiles(deltaDir)._2
    tr.span("functions.kernel", "functions") {
      Case311.normalize(lastFeed)
        .selectExpr("bit_xor(xxhash64(struct(*)))").collect()
    }
    Map("sources.bytes_written" -> bytes.toDouble,
      "sources.files_written" -> files.toDouble,
      "incremental.write_amp" -> bytes.toDouble / math.max(deltaBytes, 1L))
  }

  override def runExtras: Map[String, Double] = {
    val n = math.max(sinkTotals.n, 1).toDouble
    Map("sink.batches" -> sinkTotals.batches / n,
      "sink.rows" -> sinkTotals.rows / n,
      "sink.retries" -> sinkTotals.retries / n,
      "sink.poisoned" -> sinkTotals.poisoned / n)
  }

  /** The warehouse after k cycles must equal normalize of the source's
    * current state: each live case's newest raw row. */
  def check(): Boolean = {
    val raw = Case311.syntheticRaw(spark, sf)
      .where(col("CaseNumber").cast("long") < initial)
      .withColumn("_v", lit(0))
    val changes = spark.read.parquet(changesDir).where(col("cycle") <= k)
      .withColumnRenamed("cycle", "_v")
    val newest = raw.unionByName(changes)
      .withColumn("_max", max("_v").over(Window.partitionBy("CaseNumber")))
      .where(col("_v") === col("_max")).drop("_v", "_max")
      .join(sourceIds(k).select(col(Pk).as("CaseNumber")), Seq("CaseNumber"),
        "left_semi")
    val expected = Case311.normalize(newest)
    val cols = expected.columns.toSeq
    Workload.fingerprint(expected, cols) ==
      Workload.fingerprint(VersionedTable.read(spark, base), cols)
  }
}
