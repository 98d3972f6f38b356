package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CountMin, IndexStore, Ops}

/** Boilerplate-line removal as a forever-sync against the FROZEN
  * persisted Count-Min store — the nightly-sketch stance (`sr10`'s
  * pinned-reference-statistics pattern applied to the sketch family):
  * the register table and the mass-relative threshold are built ONCE
  * batch-side over the reference corpus and persisted
  * ([[IndexStore.buildCmsIndex]]); every document micro-batch then
  * gates its lines per-row against the bounded broadcast
  * ([[CountMin.withEstimate]] — depth broadcast joins, zero shuffle on
  * the batch side beyond the per-doc regroup) and appends its cleaned
  * docs. Because the sketch is frozen and each doc's clean is local to
  * its own lines (docs arrive whole), the appended sink equals the
  * batch clean row-for-row whatever the batch slicing — the same
  * DuckDB oracle checks both. Per-batch cost is O(batch); nothing
  * grows with stream lifetime.
  */
object StreamingBoilerplate {

  def run(spark: SparkSession, sfDir: String, workDir: String,
      table: String): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS ${table}_cregs")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(workDir))

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val corpus = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit("\nSubscribe to our newsletter today!" +
            "\nAll rights reserved worldwide.")))
        .otherwise(col("text")).as("text"))

    def linesOf(d: DataFrame): DataFrame =
      d.select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("para_idx", "para")))
        .withColumn("k",
          lower(regexp_replace(trim(col("para")), "\\s+", " ")))

    // ---- nightly batch side: sketch + threshold, frozen ------------
    val refItems = linesOf(corpus).where(col("k") =!= "")
      .select(lit("all").as("grp"), col("k").as("item"))
    IndexStore.buildCmsIndex(refItems, "grp", "item", table,
      s"$workDir/idx")
    val nItems = refItems.count()
    val thr = math.max(16L, nItems / 1000L)
    val regs = Ops.checkpointKeepPartitioning(
      IndexStore.cmsRegistersFromIndex(spark, table)
        .select("row_j", "idx", "c"))

    // ---- the stream: gate each batch against the frozen store ------
    val srcDir = s"$workDir/src"
    corpus.repartition(2).write.mode("overwrite").parquet(srcDir)
    val sinkDir = s"$workDir/sink"
    BatchManifest.drain(spark, srcDir, s"$workDir/ckpt_${System.nanoTime()}") {
      (batch, batchId) =>
        // a replayed uncommitted batch re-derives its clean
        // byte-identically (the sketch is frozen)
        BatchManifest.guarded(sinkDir, batchId) { _ =>
          CountMin.withEstimate(linesOf(batch), "k", regs)
            .where(col("k") === "" || col("est") < lit(thr))
            .groupBy("doc_id")
            .agg(count(lit(1)).cast("long").as("n_kept"),
              concat_ws("\n", transform(
                array_sort(collect_list(struct(col("para_idx"), col("para")))),
                x => x.getField("para"))).as("clean_text"))
            .write.mode("overwrite").parquet(s"$sinkDir/b$batchId")
          ""
        }
    }
    BatchManifest.readCommitted(spark, sinkDir)(
        spark.emptyDataFrame)
      .orderBy("doc_id")
  }
}
