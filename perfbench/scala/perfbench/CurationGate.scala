package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IndexStore
import graft.streaming.StreamingIndexIngest

/** The curation forever-sync over persisted indexes. Set-up builds the
  * exact, winnow and minhash gate indexes over a seeded corpus; each
  * operation stages one seeded batch file and drains it through the gate
  * stream (check → sink → append → auto-compaction → manifest commit);
  * each probe runs a held-out query batch through `probeExact` and
  * `probeMinhash` against the grown indexes.
  *
  * Batch classes, as in the gate's own planted batches: byte copies of
  * corpus docs (cut by the exact gate), tail-extended copies (winnow),
  * every-30th-token perturbations (minhash), novel rewrites over a
  * disjoint vocabulary (accepted), and novel pairs inside one batch
  * (the lower id accepted, the copy cut by the exact gate). Nothing
  * planted points across batch files, so the decisions do not depend on
  * the order the stream meets the files in. */
final class CurationGate(spark: SparkSession, seed: Long, cores: Int,
    in: String, work: String, corpusDocs: Int, batches: Int,
    compactEvery: Int) extends Workload {

  private val docsDir = s"$in/docs"
  private val batchDir = s"$in/batches"
  private val probeDir = s"$in/probes"
  private val idx = s"$work/idx"
  private val srcDir = s"$work/stream/src"
  private val sinkDir = s"$work/stream/sink"
  private val ckptDir = s"$work/stream/ckpt"
  private val (exactT, winnowT, minhashT) = ("pb_exact", "pb_winnow", "pb_minhash")
  private val PerClass = 12
  /** The primary table of each kind (the one its append counter lives on). */
  private val kinds = Seq(s"${exactT}_fps", s"${winnowT}_wins", s"${minhashT}_bands")
  private val tables = kinds :+ s"${minhashT}_shingles"
  private var j = 0
  private var compactions = 0
  private var microBatches = 0

  private lazy val corpus = Gen.docs(seed, corpusDocs)

  private def tokens(t: String) = t.split(" ")

  /** Documents planted copies and probe queries may be made from: none
    * with a near twin in the corpus, so each copy has one expected match. */
  private lazy val sources = corpus.filterNot(_.twinned)

  /** (batch, doc_id, text, expected first gate) */
  private lazy val planted: Seq[(Int, Long, String, String)] = {
    val r = new Random(seed * 31L + 5L)
    val mid = sources.filter(d => { val n = tokens(d.text).length; n >= 50 && n <= 90 })
    (0 until batches).flatMap { b =>
      val src = r.shuffle(mid).take(PerClass * 4)
      val id0 = 1000000L + b * 1000L
      def cls(c: Int) = src.slice(c * PerClass, (c + 1) * PerClass).zipWithIndex
      def novel(d: Gen.Doc, tag: String) = tokens(d.text).zipWithIndex
        .map { case (t, i) => s"$tag${b}d${d.docId}x$t$i" }.mkString(" ")
      cls(0).map { case (d, i) => (b, id0 + i, d.text, "exact") } ++
        cls(1).map { case (d, i) => (b, id0 + 100 + i, d.text + " gtail gcoda", "winnow") } ++
        cls(2).map { case (d, i) => (b, id0 + 200 + i, tokens(d.text).zipWithIndex
          .map { case (t, p) => if (p % 30 == 29) t + "q" else t }.mkString(" "), "minhash") } ++
        cls(3).flatMap { case (d, i) =>
          val t = novel(d, "nv")
          Seq((b, id0 + 300 + i, t, "accepted"),
            (b, id0 + 400 + i, novel(d, "pr"), "accepted"),
            (b, id0 + 500 + i, novel(d, "pr"), "exact"))
        }
    }
  }

  /** (set, query_id, text, source doc_id, exact?) */
  private lazy val queries: Seq[(Int, Long, String, Long, Boolean)] = {
    val r = new Random(seed * 37L + 11L)
    val long = sources.filter(d => tokens(d.text).length >= 40)
    (0 until batches).flatMap { b =>
      r.shuffle(long).take(20).zipWithIndex.map { case (d, i) =>
        val exact = i < 10
        val text = if (exact) d.text else tokens(d.text).zipWithIndex
          .map { case (t, p) => if (p % 30 == 29) t + "z" else t }.mkString(" ")
        (b, 9000000L + b * 100L + i, text, d.docId, exact)
      }
    }
  }

  def inputRows: Long = corpusDocs.toLong + planted.size + queries.size
  def inputBytes: Long = Workload.dirBytes(in)

  def generate(): Unit = if (!Workload.exists(s"$in/_DONE")) {
    import spark.implicits._
    Workload.rm(in)
    Gen.writeDocs(spark, corpus, docsDir)
    planted.map { case (b, id, t, _) => (b, id, t) }.toDF("batch", "doc_id", "text")
      .repartition(col("batch")).write.partitionBy("batch").parquet(batchDir)
    queries.map { case (b, id, t, _, _) => (b, id, t) }.toDF("qset", "doc_id", "text")
      .repartition(col("qset")).write.partitionBy("qset").parquet(probeDir)
    Workload.touch(s"$in/_DONE")
  }

  def setup(): Unit = {
    Seq(s"${exactT}_fps", s"${winnowT}_wins", s"${minhashT}_bands",
      s"${minhashT}_shingles").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Workload.rm(idx)
    Workload.rm(s"$work/stream")
    IndexStore.buildGateIndexes(spark.read.parquet(docsDir).select("doc_id", "text"),
      "doc_id", "text", exactT, winnowT, minhashT, idx, window = 40,
      guarantee = 10)
    j = 0
  }

  def hasNext: Boolean = j < batches

  /** A drain takes about seven probes' time (9–15 s). The first probe
    * after a drain reads the new index files cold and takes about 1.5
    * times as long as the next ones, so with two probes a drain the
    * median would fall between the two kinds. Three a drain give a run
    * six probe samples, four of them warm, and the median stays among
    * those; the cold ones show in the tail. */
  override def probesPerOp: Int = 3
  override def minOps: Int = 2

  private def committed: Int = Option(new File(s"$sinkDir/_manifest").listFiles())
    .map(_.count(f => f.isFile && f.getName.forall(_.isDigit))).getOrElse(0)

  def op(tr: Tracer): (Long, Boolean) = {
    val b = j
    j += 1
    val before = committed
    tr.span("streaming.drain", "streaming") {
      val part = new File(s"$batchDir/batch=$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(srcDir))
      Files.copy(part.toPath, Paths.get(srcDir, s"b$b.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      StreamingIndexIngest.runGateStream(spark, srcDir, sinkDir, ckptDir,
        exactT, winnowT, minhashT, compactEvery)
    }
    // a compaction resets its table's append counter
    compactions += kinds.count(t => IndexStore.appendsSinceCompact(spark, t) == 0)
    microBatches += committed - before
    (planted.count(_._1 == b).toLong, committed == before + 1)
  }

  private var probes = 0

  /** Probe i reads query set i: each probe is a fresh held-out batch. */
  def probe(tr: Tracer): Boolean = {
    val b = probes % batches
    probes += 1
    val q = spark.read.parquet(s"$probeDir/qset=$b")
    val (ex, mh) = tr.span("probe", "indexstore") {
      tables.foreach(spark.catalog.refreshTable)
      (IndexStore.probeExact(spark, q, "doc_id", "text", exactT).collect(),
        IndexStore.probeMinhash(spark, q, "doc_id", "text", minhashT)
          .select("query_id", "match_id").collect())
    }
    val mine = queries.filter(_._1 == b)
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs(ex) == mine.filter(_._5).map(x => (x._2, x._4)).toSet &&
      pairs(mh) == mine.map(x => (x._2, x._4)).toSet
  }

  def layerExtras(tr: Tracer): Map[String, Double] = {
    val live = tables.map { t =>
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      Workload.dirFiles(new File(loc).getPath)
    }
    Map("indexstore.files_live" -> live.map(_._1).sum.toDouble,
      "indexstore.bytes_live" -> live.map(_._2).sum.toDouble)
  }

  override def runExtras: Map[String, Double] =
    Map("indexstore.compactions" -> compactions.toDouble / math.max(j, 1),
      "streaming.micro_batches" -> microBatches.toDouble / math.max(j, 1))

  /** The committed gate sink holds exactly the planted first gates of
    * every batch drained. */
  def check(): Boolean = {
    val got = StreamingIndexIngest.readGateSink(spark, sinkDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = planted.filter(_._1 < j).map(x => (x._2, x._4)).toSet
    got == want
  }
}
