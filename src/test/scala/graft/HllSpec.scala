package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Hll, IndexStore}

class HllSpec extends SparkSpec {
  import spark.implicits._

  private def items = Tables.load(spark, sf0001, "documents")
    .select(col("doc_id"), col("lang"),
      explode(Dedup.wordShingles(col("text"))).as("item"))

  /** JVM-side reference of the register computation, independent of any
    * Spark expression: md5 → 13 hex digits → (idx, rho). */
  private def refRegister(item: String): (Int, Int) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(item.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(13)
    val h = java.lang.Long.parseLong(hex, 16)
    val idx = (h % Hll.m).toInt
    val q = h >> Hll.p
    val rho =
      if (q == 0L) Hll.rhoMax
      else Hll.rhoMax - (64 - java.lang.Long.numberOfLeadingZeros(q))
    (idx, rho)
  }

  test("registers match the JVM md5 reference value-for-value") {
    val sample = items.select("item").distinct().limit(200)
      .as[String].collect()
    val expected = sample.map(refRegister)
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val got = Hll.registers(
        sample.toSeq.toDF("item"), "item")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == expected)
  }

  test("estimate is within 15% of the exact distinct count at sf0.001") {
    val est = Hll.estimate(Hll.registers(items, "item"))
      .select("est").as[Long].head()
    val exact = items.select("item").distinct().count()
    assert(exact > 2.5 * Hll.m,
      s"fixture cardinality $exact sits under the raw-HLL bias knee — " +
        "grow the fixture or the assertion is meaningless")
    val rel = math.abs(est.toDouble - exact) / exact
    assert(rel <= 0.15, s"est=$est exact=$exact rel=$rel")
  }

  test("max-merge of per-group sketches equals the sketch of the union") {
    val direct = Hll.registers(items, "item")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val merged = Hll.fold(
        Hll.registers(items, "item", Seq("lang")).select("idx", "r"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(merged == direct)
  }

  test("register pass is one partial-aggregated shuffle of ≤ m groups") {
    val regs = Hll.registers(items, "item")
    assert(shuffleCount(regs) == 1)
    assert(regs.count() <= Hll.m)
  }

  test("persisted store: build+append = direct; replayed append absorbed") {
    val tbl = "graft_hll_spec"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_hregs")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"/tmp/graft_index/$tbl"))
    val even = items.where(col("doc_id") % 2 === 0)
    val odd = items.where(col("doc_id") % 2 =!= 0)
    IndexStore.buildHllIndex(even, "lang", "item", tbl,
      s"/tmp/graft_index/$tbl")
    IndexStore.appendHllIndex(odd, "lang", "item", tbl)
    def served = IndexStore.hllRegistersFromIndex(spark, tbl)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val direct = Hll.registers(items, "item", Seq("lang"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(served == direct)
    // a crash-replayed append writes rows the max fold absorbs — no
    // batch-key discipline exists in this kind, BY the max algebra
    IndexStore.appendHllIndex(odd, "lang", "item", tbl)
    assert(served == direct)
    // compaction folds the physical rows without changing content
    IndexStore.compact(spark, "hll", tbl, s"/tmp/graft_index/${tbl}_c")
    assert(served == direct)
    val folded = spark.table(s"${tbl}_hregs").count()
    assert(folded == direct.size.toLong)
  }

  test("estimates served from the store equal estimates over direct registers") {
    val tbl = "graft_hll_spec2"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_hregs")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"/tmp/graft_index/$tbl"))
    IndexStore.buildHllIndex(items, "lang", "item", tbl,
      s"/tmp/graft_index/$tbl")
    val served = IndexStore.hllEstimateFromIndex(spark, tbl)
      .select("grp", "est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Hll.estimate(
        Hll.registers(items, "item", Seq("lang")), Seq("lang"))
      .select("lang", "est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served == direct)
  }
}
