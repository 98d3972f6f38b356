package graft

import java.math.BigDecimal
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.VersionedTable

class VersionedTableSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val base = s"/tmp/graft_vt_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    base
  }

  private def sidecar(base: String, v: Int) = Paths.get(base, s"v$v", "_schema.json")

  /** A few hundred normalized cases: the warehouse the sync cycle keeps. */
  private lazy val warehouse: DataFrame = Case311.normalize(
    Case311.syntheticRaw(spark, sf0001).where(col("CaseNumber").cast("long") < 300))

  /** Every type family whose read-back form could differ from the
    * written one: non-nullable columns, nested struct/array/map (with
    * non-nullable elements and values), decimals, both timestamp kinds,
    * dates, binary, and a field carrying metadata. */
  private lazy val nested: DataFrame = {
    val point = StructType(Seq(
      StructField("x", DoubleType, nullable = false),
      StructField("tags", ArrayType(StringType, containsNull = false))))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("p", point, nullable = false),
      StructField("pts", ArrayType(point, containsNull = false)),
      StructField("attrs", MapType(StringType,
        ArrayType(IntegerType, containsNull = false), valueContainsNull = false)),
      StructField("amount", DecimalType(10, 2), nullable = false),
      StructField("wide", DecimalType(38, 18)),
      StructField("at", TimestampType, nullable = false),
      StructField("local", TimestampNTZType),
      StructField("day", DateType),
      StructField("blob", BinaryType),
      StructField("note", StringType, nullable = true,
        new MetadataBuilder().putString("comment", "free text").build())))
    val rows = (0 until 200).map { i =>
      Row(i.toLong, Row(i * 0.5, Seq(s"t$i")), Seq(Row(1.0, Seq("a")), Row(-i.toDouble, Nil)),
        Map(s"k$i" -> Seq(i, i + 1)), new BigDecimal(s"$i.25"),
        if (i % 7 == 0) null else new BigDecimal(s"$i.000000000000000001"),
        new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + i * 3600000L),
        LocalDateTime.of(2024, 2, 1, 0, 0).plusMinutes(i),
        java.sql.Date.valueOf("2024-03-01"), Array[Byte](i.toByte),
        if (i % 5 == 0) null else s"n$i")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Rows as sorted JSON: binary renders by value, not by array identity. */
  private def sorted(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  test("a committed read runs one job: the schema comes from the sidecar") {
    val base = fresh("jobs")
    VersionedTable.write(warehouse, base, 1)
    val ids = warehouse.select("service_request_id").collect()
      .map(_.getString(0)).take(20).toSeq
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.graft.TestBridge.drainListeners(spark.sparkContext)
      val before = counter.get
      val got = VersionedTable.read(spark, base)
        .where(col("service_request_id").isin(ids: _*))
        .select("service_request_id").collect().map(_.getString(0))
      org.apache.spark.graft.TestBridge.drainListeners(spark.sparkContext)
      assert(got.sorted.toSeq == ids.sorted)
      val jobs = counter.get - before
      assert(jobs == 1, s"a point read ran $jobs jobs; a second one is the " +
        "schema-inference job the sidecar exists to skip")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("schema parity: the sidecar schema equals the inferred one, rows too") {
    assert(nested.schema.exists(!_.nullable), "input must carry non-nullable columns")
    Seq("case311" -> warehouse, "nested" -> nested).foreach { case (name, df) =>
      val base = fresh(s"parity_$name")
      VersionedTable.write(df, base, 1)
      assert(Files.exists(sidecar(base, 1)), s"$name: stage wrote no sidecar")
      val viaSidecar = VersionedTable.read(spark, base)
      val inferred = spark.read.parquet(s"$base/v1")
      assert(DataType.fromJson(Files.readString(sidecar(base, 1))) == inferred.schema,
        s"$name: the stored schema is not the one a parquet read infers")
      assert(viaSidecar.schema == inferred.schema,
        s"$name: sidecar ${viaSidecar.schema.treeString} vs inferred " +
          inferred.schema.treeString)
      assert(viaSidecar.schema.fields.map(_.metadata).toSeq ==
        inferred.schema.fields.map(_.metadata).toSeq, s"$name: field metadata")
      assert(sorted(viaSidecar) == sorted(inferred), s"$name: rows differ")
      assert(viaSidecar.count() == df.count())
    }
  }

  test("a version directory without a sidecar reads with the inferred schema") {
    // stage-then-drop: the shape of a directory staged before sidecars
    val base = fresh("legacy")
    VersionedTable.stage(nested, base, 1)
    Files.delete(sidecar(base, 1))
    VersionedTable.commit(base, 1)
    assert(sorted(VersionedTable.read(spark, base)) == sorted(nested))
    // a partitioned layout written directly and committed: the inferred
    // read discovers its partition columns
    val parted = fresh("legacy_parted")
    warehouse.withColumn("yr", year(col("requested_datetime")))
      .write.partitionBy("yr").parquet(s"$parted/v1")
    VersionedTable.commit(parted, 1)
    val back = VersionedTable.read(spark, parted)
    assert(back.columns.contains("yr"))
    assert(back.count() == warehouse.count())
  }

  test("a re-staged schema stays invisible until its version commits") {
    val base = fresh("restage")
    val a = warehouse.select("service_request_id", "status")
    val b = warehouse.select(col("service_request_id"),
      length(col("status")).as("status_len"), lit(1.5).as("weight"))
    VersionedTable.write(a, base, 1)
    VersionedTable.stage(a, base, 2) // crashed attempt, never committed
    VersionedTable.stage(b, base, 2) // the retry stages a different schema
    val before = VersionedTable.read(spark, base)
    assert(before.schema == spark.read.parquet(s"$base/v1").schema)
    assert(sorted(before) == sorted(a))
    VersionedTable.commit(base, 2)
    val after = VersionedTable.read(spark, base)
    assert(after.columns.toSeq == Seq("service_request_id", "status_len", "weight"))
    assert(after.schema == spark.read.parquet(s"$base/v2").schema)
    assert(sorted(after) == sorted(b))
  }
}
