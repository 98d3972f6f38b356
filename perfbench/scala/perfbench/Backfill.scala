package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Case311
import graft.sources.VersionedTable

/** The year-sharded full refresh (`full-refresh.sh` runs the load once
  * per year, 2008–2024). The feed is the synthetic Salesforce feed
  * replicated into yearly copies — timestamps shifted by whole years,
  * CaseNumber salted with the year — stored one directory per year. One
  * operation is one full refresh: it normalizes every row of every
  * year, writes the result partitioned by year/month as a new version
  * of the refreshed table, and commits it. Set-up truncates the target
  * and loads the newest year alone, the state a refresh starts from. */
final class Backfill(spark: SparkSession, seed: Long, cores: Int,
    in: String, work: String, rowsPerYear: Int,
    val Years: Seq[Int] = 2008 to 2024) extends Workload {
  private val sf = s"$in/sf"
  private val feedDir = s"$in/feed"
  private val table = s"$work/refresh"
  private var version = 0
  private var probes = 0

  def inputRows: Long = rowsPerYear.toLong * Years.size
  def inputBytes: Long = Workload.dirBytes(feedDir)

  private val dateCols = Seq("CreatedDate", "LastModifiedDate", "ClosedDate",
    "Sla_date__c")

  /** Shifts a "yyyy-MM-dd HH:mm:ss" string by whole years; strings that
    * do not parse (the feed's planted "not-a-date") stay as they are. */
  private def shifted(c: String): Column = {
    val ts = s"try_to_timestamp(`$c`, '${Gen.SfFmt}')"
    when(expr(ts).isNull, col(c)).otherwise(date_format(
      expr(s"timestampadd(YEAR, __dy, $ts)"), Gen.SfFmt))
  }

  def generate(): Unit = if (!Workload.exists(s"$in/_DONE")) {
    Workload.rm(in)
    // a year's events per shard (the sf0.1 table spans one month only):
    // 350 days on average, so the exponential gaps stay inside the year
    Gen.writeEvents(spark, seed, rowsPerYear.toLong, s"$sf/events.parquet",
      gapMicros = 350L * 86400L * 1000000L / rowsPerYear)
    Gen.writeDocs(spark, Gen.docs(seed, 500), s"$sf/documents.parquet")
    val raw = Case311.syntheticRaw(spark, sf)
    val years = spark.range(Years.head, Years.last + 1).select(
      col("id").cast("int").as("shard"),
      (col("id") - 2024).cast("int").as("__dy"))
    val replicated = raw.crossJoin(years)
    replicated.select(raw.columns.map { c =>
        if (c == "CaseNumber") concat(col("shard").cast("string"), lit("-"),
          col(c)).as(c)
        else if (dateCols.contains(c)) shifted(c).as(c)
        else col(c)
      }.toIndexedSeq :+ col("shard"): _*)
      .repartition(cores * Years.size, col("shard"), col("CaseNumber"))
      .write.partitionBy("shard").parquet(feedDir)
    Workload.touch(s"$in/_DONE")
  }

  private def feed(years: Seq[Int]): DataFrame = spark.read
    .option("basePath", feedDir)
    .parquet(years.map(y => s"$feedDir/shard=$y"): _*)
    .drop("shard")

  /** Normalize, write partitioned by year/month, commit. */
  private def refresh(tr: Tracer, years: Seq[Int]): Unit = {
    version += 1
    val v = version
    val out = tr.span("functions.normalize", "functions") {
      Case311.normalize(feed(years))
        .withColumn("year", year(col("requested_datetime")))
        .withColumn("month", month(col("requested_datetime")))
    }
    tr.span("sources.write", "sources") {
      out.repartition(col("year"), col("month"))
        .write.partitionBy("year", "month").mode("overwrite")
        .parquet(s"$table/v$v")
    }
    tr.span("sources.commit", "sources") {
      VersionedTable.commit(table, v)
      VersionedTable.vacuum(table, 0)
    }
  }

  def setup(): Unit = {
    Workload.rm(table)
    version = 0
    refresh(new Tracer(spark), Seq(Years.last))
  }

  def hasNext: Boolean = true

  def op(tr: Tracer): (Long, Boolean) = {
    refresh(tr, Years)
    (inputRows, true)
  }

  /** A dashboard read: one month of one year of the refreshed table. */
  def probe(tr: Tracer): Boolean = {
    probes += 1
    val y = Years(probes % Years.size)
    val m = probes % 12 + 1
    val rows = tr.span("probe", "sources") {
      VersionedTable.read(spark, table)
        .where(col("year") === y && col("month") === m)
        .groupBy("service_name").count().collect()
    }
    rows.nonEmpty && rows.map(_.getLong(1)).sum > 0
  }

  def layerExtras(tr: Tracer): Map[String, Double] = {
    val (files, bytes) = Workload.dirFiles(s"$table/v$version")
    tr.span("functions.kernel", "functions") {
      Case311.normalize(feed(Years))
        .selectExpr("bit_xor(xxhash64(struct(*)))").collect()
    }
    Map("sources.bytes_written" -> bytes.toDouble,
      "sources.files_written" -> files.toDouble)
  }

  /** The refreshed table equals a direct normalize of the whole feed. */
  def check(): Boolean = {
    val expected = Case311.normalize(feed(Years))
    val cols = expected.columns.toSeq
    Workload.fingerprint(expected, cols) ==
      Workload.fingerprint(VersionedTable.read(spark, table), cols)
  }
}
