package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. The same seed always gives the same inputs;
  * nothing here is timed. Tables have the shapes `graft.Tables` loads
  * (`events`, `documents`), so `Case311.syntheticRaw` runs unchanged, and
  * the value distributions of the sf0.1 test tables, as measured on them:
  *
  *  - documents: clean lower-case text over the 30-word vocabulary below,
  *    10–99 tokens uniformly; 5% of the documents are another document's
  *    text plus the token "dup"; `lang` 40% "en", 15% each of four
  *    others; `source` is "src" + doc_id % 20; `n_chars` is the length.
  *  - events: exponential gaps of mean 26 s from 2024-01-01 (100,000
  *    events span 30 days), `user_id` uniform in 0–1499, `event_type`
  *    uniform over five kinds, `value` exponential of mean 50 rounded to
  *    cents, `props` `{"k": n}` with n uniform in 0–99.
  *
  * The dirty free text that `Case311.normalize` cleans (`<'…'>`
  * wrapping, nulls, oversize plate states, unparseable dates) is added
  * by `syntheticRaw` itself, on either corpus. */
object Gen {

  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** `twinned`: a "dup" document, or one a "dup" document copies, so it
    * has a near twin in the corpus. */
  final case class Doc(docId: Long, text: String, lang: String,
      source: String, nChars: Long, twinned: Boolean)

  val DupShare = 0.05

  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new Random(seed * 7919L + 17L)
    val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
      "fr", "fr", "fr", "es", "es", "es", "zh", "zh", "zh", "de", "de", "de")
    val base = Array.fill(n)(Array.fill(10 + r.nextInt(90))(
      Vocab(r.nextInt(Vocab.length))).mkString(" "))
    val dups = r.shuffle((0 until n).toIndexedSeq).take((n * DupShare).toInt).toSet
    val copied = mutable.Set.empty[Int]
    val text = base.indices.map { i =>
      if (!dups(i)) base(i)
      else {
        var src = r.nextInt(n)
        while (dups(src)) src = r.nextInt(n)
        copied += src
        base(src) + " dup"
      }
    }
    text.indices.map(i => Doc(i.toLong, text(i), langs(r.nextInt(langs.length)),
      s"src${i % 20}", text(i).length.toLong, dups(i) || copied(i)))
  }

  def writeDocs(spark: SparkSession, d: Seq[Doc], path: String): Unit = {
    import spark.implicits._
    d.map(x => (x.docId, x.text, x.lang, x.source, x.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Mean gap between events of the sf0.1 table, in microseconds. */
  val EventGapMicros: Long = 25920000L

  /** `n` events from 2024-01-01 on, every field a hash of (seed, id),
    * in one file sorted by id, as in the sf0.1 table. `gapMicros` is the
    * mean gap between events; gaps are exponential, so event id order is
    * time order. */
  def writeEvents(spark: SparkSession, seed: Long, n: Long, path: String,
      gapMicros: Long = EventGapMicros): Unit = {
    def h(k: Int) = xxhash64(lit(seed), lit(k), col("id"))
    // uniform in (0, 1] from a hash
    def u(k: Int) = (pmod(h(k), lit(1L << 40)) + 1).cast("double") / (1L << 40).toDouble
    def expo(k: Int, mean: Double) = -log(u(k)) * mean
    val t0 = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC, micros
    // exponential gaps, summed in id order in one partition
    val gaps = spark.range(0, n, 1, 1)
      .select(col("id"), expo(1, gapMicros.toDouble).cast("long").as("gap"))
    gaps.select(
      col("id").as("event_id"),
      timestamp_micros(lit(t0) + sum("gap").over(
        org.apache.spark.sql.expressions.Window.orderBy("id"))).as("ts"),
      pmod(h(2), lit(1500L)).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error")
        .map(lit): _*), (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      round(expo(4, 50.0), 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}"))
        .as("props"))
      .write.mode("overwrite").parquet(path)
  }

  /** The SF_WHERE filter of the synthetic feed, decided by id alone
    * (RecordTypeId and Case_Record_Type__c are functions of the id). */
  def passesSfWhere(id: Long): Boolean =
    id % 23 != 0 && id % 29 != 0 && id % 31 != 0

  /** The per-cycle source changes of `sync_cycle`: each cycle re-modifies
    * `modified` live cases, opens `fresh` new ones and deletes `deleted`
    * live ones. A case touched in cycle k-1 or k is never deleted in k,
    * so the watermark row always survives and the one-cycle look-back of
    * the feed only ever re-sends rows the warehouse already holds. */
  final class SyncPlan(seed: Long, val initial: Int, val cycles: Int,
      modified: Int, val fresh: Int, deleted: Int) {
    val modifiedAt = Array.ofDim[Array[Long]](cycles + 1)
    val newAt = Array.ofDim[Array[Long]](cycles + 1)
    val deletedAt = Array.ofDim[Array[Long]](cycles + 1)
    locally {
      val r = new Random(seed * 104729L + 3L)
      val alive = mutable.ArrayBuffer.tabulate(initial)(_.toLong)
      val pos = mutable.HashMap.empty[Long, Int]
      alive.indices.foreach(i => pos(alive(i)) = i)
      def remove(id: Long): Unit = {
        val i = pos(id); val last = alive.last
        alive(i) = last; pos(last) = i
        alive.remove(alive.size - 1); pos.remove(id)
      }
      var prevTouched = Set.empty[Long]
      var nextId = initial.toLong
      for (k <- 1 to cycles) {
        val mod = mutable.LinkedHashSet.empty[Long]
        while (mod.size < modified) mod += alive(r.nextInt(alive.size))
        val fr = Array.tabulate(fresh)(i => nextId + i)
        nextId += fresh
        val touched = mod.toSet ++ fr
        val del = mutable.LinkedHashSet.empty[Long]
        while (del.size < deleted) {
          val c = alive(r.nextInt(alive.size))
          if (!touched(c) && !prevTouched(c)) del += c
        }
        del.foreach(remove)
        fr.foreach { id => pos(id) = alive.size; alive += id }
        modifiedAt(k) = mod.toArray
        newAt(k) = fr
        deletedAt(k) = del.toArray
        prevTouched = touched
      }
    }
    val totalIds: Long = initial.toLong + cycles.toLong * fresh

    /** Rows cycle k's normalized delta must hold (the sink's row count). */
    def expectedDelta(k: Int): Int =
      (modifiedAt(k).iterator ++ newAt(k).iterator).count(passesSfWhere)

    /** Case ids a probe after cycle k looks up: modified in k, kept by
      * SF_WHERE, so the warehouse must return each exactly once. */
    def probeIds(k: Int, n: Int): Seq[Long] =
      modifiedAt(k).iterator.filter(passesSfWhere).take(n).toSeq

    def changeRows: Seq[(Long, Int)] = (1 to cycles).flatMap(k =>
      (modifiedAt(k).iterator ++ newAt(k).iterator).map(id => (id, k)))

    /** (CaseNumber, born, died): the source's id listing at cycle k is
      * born <= k < died. */
    def idRows: Seq[(String, Int, Int)] = {
      val died = mutable.HashMap.empty[Long, Int]
      (1 to cycles).foreach(k => deletedAt(k).foreach(died(_) = k))
      (0L until totalIds).map { id =>
        val born = if (id < initial) 0 else ((id - initial) / fresh).toInt + 1
        (id.toString, born, died.getOrElse(id, Int.MaxValue))
      }
    }
  }

  val SfFmt = "yyyy-MM-dd HH:mm:ss"

  /** Cycle k's LastModifiedDate: inside hour k after 2025-01-01, so each
    * cycle's stamps are strictly newer than every earlier cycle's and
    * than every event of 2024. */
  def cycleStamp(seed: Long, k: Column): Column =
    date_format(timestamp_seconds(lit(1735689600L) + k.cast("long") * 3600L +
      pmod(xxhash64(lit(seed), col("CaseNumber"), k), lit(3600L))), SfFmt)
}
