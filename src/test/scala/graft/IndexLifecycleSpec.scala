package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, IndexStore, IvfIndex, NgramLm, Similarity}

/** The generic index lifecycle, once per registered kind: build a tiny
  * index, append twice, let the append counter fire `autoCompact`
  * (threshold 1), and check that the served result — probe, model or
  * registers — is identical before and after the rewrite, that
  * `vacuum` reclaims the retired directories, and that the health
  * report shows the auto-compact clock reset. The refit-only distill
  * kind has no append path; it runs the same steps with an explicit
  * `compact`. A last case pins the kind list itself: the unknown-kind
  * error must name every registered kind, and each of them must have a
  * case here. */
class IndexLifecycleSpec extends SparkSpec {

  private val base = "/tmp/graft_lifecycle_spec"

  private def docs: DataFrame = Tables.load(spark, sf0001, "documents")
    .select("doc_id", "text", "source")

  private def vecs: DataFrame = Tables.load(spark, sf0001, "embeddings")
    .select(col("vec_id"),
      Similarity.toDoubleArray(col("embedding")).as("vec"))

  /** Slice 0 builds, slices 1 and 2 are the two appends. */
  private def slice(df: DataFrame, idCol: String, i: Int): DataFrame =
    df.where(col(idCol) % 3 === i)

  private def docSlice(i: Int) = slice(docs, "doc_id", i)
  private def vecSlice(i: Int) = slice(vecs, "vec_id", i)

  /** Re-idd byte copies of every 7th doc, and near copies of them. */
  private def copies = docs.where(col("doc_id") % 7 === 0)
    .select((col("doc_id") + 100000).as("doc_id"), col("text"))

  private def textProbes = copies
    .select(col("doc_id"), concat(col("text"), lit(" graft tail")).as("text"))

  private def vecProbes = vecs.where(col("vec_id") % 7 === 0)

  private def evalDocs = docs.where(col("doc_id") % 10 === 0)
    .select("doc_id", "text")

  private def items(df: DataFrame) = df.select(col("doc_id"),
    col("source"), explode(Dedup.wordShingles(col("text"))).as("item"))

  private def tokenCounts(df: DataFrame) = df.select(col("doc_id"),
    col("source"), TextAnalysis.tokenCount(col("text")).cast("long").as("v"))

  private lazy val centroids = IvfIndex.trainCentroids(vecs, k = 4, iters = 2)

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** build(table, path), append(table, i) for i = 1, 2, serve(table). */
  private final class Case(val build: (String, String) => Unit,
      val append: Option[(String, Int) => Unit],
      val serve: String => Seq[Row])

  private def appendable(build: (String, String) => Unit,
      append: (String, Int) => Unit, serve: String => Seq[Row]) =
    new Case(build, Some(append), serve)

  private val cases: Map[String, Case] = Map(
    "exact" -> appendable(
      (t, p) => IndexStore.buildExactIndex(docSlice(0), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendExactIndex(docSlice(i), "doc_id", "text", t),
      t => rows(IndexStore.probeExact(spark, copies, "doc_id", "text", t))),
    "minhash" -> appendable(
      (t, p) => IndexStore.buildMinhashIndex(docSlice(0), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendMinhashIndex(docSlice(i), "doc_id", "text", t),
      t => rows(IndexStore.probeMinhash(spark, textProbes, "doc_id", "text", t))),
    "simhash" -> appendable(
      (t, p) => IndexStore.buildSimhashIndex(docSlice(0), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendSimhashIndex(docSlice(i), "doc_id", "text", t),
      t => rows(IndexStore.probeSimhash(spark, textProbes, "doc_id", "text", t))),
    "winnow" -> appendable(
      (t, p) => IndexStore.buildWinnowIndex(docSlice(0), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendWinnowIndex(docSlice(i), "doc_id", "text", t),
      t => rows(IndexStore.probeWinnow(spark, textProbes, "doc_id", "text", t))),
    "srp" -> appendable(
      (t, p) => IndexStore.buildSrpIndex(vecSlice(0), t, p),
      (t, i) => IndexStore.appendSrpIndex(vecSlice(i), t),
      t => rows(IndexStore.probeSrp(spark, vecProbes, t, k = 3))),
    "ivf" -> appendable(
      (t, p) => IndexStore.buildIvfIndex(vecSlice(0), centroids, t, p),
      (t, i) => IndexStore.appendIvfIndex(spark, vecSlice(i), t),
      t => rows(IndexStore.probeIvf(spark, vecProbes, t, k = 3, nprobe = 2))),
    "pq" -> appendable(
      (t, p) => IndexStore.buildPqIndex(vecSlice(0), t, p),
      (t, i) => IndexStore.appendPqIndex(vecSlice(i), t),
      t => rows(IndexStore.probePqTopK(spark, vecProbes, t, k = 3))),
    "lm" -> appendable(
      (t, p) => IndexStore.buildLmIndex(docSlice(0), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendLmIndex(docSlice(i), "doc_id", "text", t),
      t => rows(IndexStore.scoreFromLmIndex(spark, t, evalDocs))),
    "lmk" -> appendable(
      (t, p) => IndexStore.buildLmIndexKeyed(docSlice(0), "doc_id", "text",
        t, p),
      (t, i) => assert(IndexStore.appendLmIndexKeyed(docSlice(i), "doc_id",
        "text", t, i.toLong)),
      t => rows(IndexStore.scoreFromLmIndexKeyed(spark, t, evalDocs))),
    "lms" -> appendable(
      (t, p) => IndexStore.buildLmSliceIndex(docSlice(0), "source", "text",
        t, p),
      (t, i) => IndexStore.appendLmSliceIndex(docSlice(i), "source", "text", t),
      t => rows(NgramLm.scoreMicroBits(
        IndexStore.lmModelFromSliceIndex(spark, t, Some("src0")), evalDocs))),
    "dsir" -> appendable(
      (t, p) => IndexStore.buildDsirIndex(
        docSlice(0).where(col("source") === "src0"),
        docSlice(0).where(col("source") =!= "src0"), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendDsirIndex(docSlice(i), "r", "doc_id",
        "text", t),
      t => rows(IndexStore.scoreFromDsirIndex(spark, t, evalDocs))),
    "doremi" -> appendable(
      (t, p) => IndexStore.buildDoremiIndex(docSlice(0), "doc_id", "source",
        "text", t, p),
      (t, i) => IndexStore.appendDoremiIndex(docSlice(i), "doc_id", "source",
        "text", t),
      t => rows(IndexStore.doremiWeightsFromIndex(spark, t))),
    "doremik" -> appendable(
      (t, p) => IndexStore.buildDoremiIndexKeyed(docSlice(0), "doc_id",
        "source", "text", t, p),
      (t, i) => assert(IndexStore.appendDoremiIndexKeyed(docSlice(i),
        "doc_id", "source", "text", t, i.toLong)),
      t => rows(IndexStore.doremiWeightsFromIndexKeyed(spark, t))),
    "span" -> appendable(
      (t, p) => IndexStore.buildSpanIndex(docSlice(0), "doc_id", "text", t, p),
      (t, i) => IndexStore.appendSpanIndex(docSlice(i), "doc_id", "text", t),
      t => rows(IndexStore.spanHotFromIndex(spark, t))),
    "hll" -> appendable(
      (t, p) => IndexStore.buildHllIndex(items(docSlice(0)), "source", "item",
        t, p),
      (t, i) => IndexStore.appendHllIndex(items(docSlice(i)), "source", "item",
        t),
      t => rows(IndexStore.hllRegistersFromIndex(spark, t))),
    "cms" -> appendable(
      (t, p) => IndexStore.buildCmsIndex(items(docSlice(0)), "source", "item",
        t, p),
      (t, i) => assert(IndexStore.appendCmsIndex(items(docSlice(i)), "source",
        "item", t, i.toLong)),
      t => rows(IndexStore.cmsRegistersFromIndex(spark, t))),
    "qh" -> appendable(
      (t, p) => IndexStore.buildQhistIndex(tokenCounts(docSlice(0)), "source",
        "v", t, p),
      (t, i) => assert(IndexStore.appendQhistIndex(tokenCounts(docSlice(i)),
        "source", "v", t, i.toLong)),
      t => rows(IndexStore.qhistRegistersFromIndex(spark, t))),
    "auth" -> appendable(
      (t, p) => IndexStore.buildAuthorityIndex(docSlice(0), "source", "doc_id",
        "text", t, p),
      (t, i) => assert(IndexStore.appendAuthorityIndex(docSlice(i), "source",
        "doc_id", "text", t, i.toLong)),
      t => rows(IndexStore.authorityFromIndex(spark, t))),
    "distill" -> new Case(
      (t, p) => IndexStore.buildDistillIndex(
        DistillQueries.labeledFeatures(spark, sf0001), "buckets", "y", t, p),
      None,
      t => IndexStore.distillWeightsFromIndex(spark, t).toSeq.sorted
        .map { case (b, w) => Row(b, w) }))

  private def health(kind: String, t: String): Row =
    IndexStore.healthReport(spark, Seq(kind -> t)).head()

  cases.toSeq.sortBy(_._1).foreach { case (kind, c) =>
    val steps = if (c.append.isDefined) "append twice, auto-compact"
      else "refit-only, compact"
    test(s"$kind: $steps, same served result, vacuum, health") {
      val t = s"graft_lc_$kind"
      val path = s"$base/$kind"
      (IndexStore.tablesOf(kind, t) ++
          Seq(s"${t}_centroids", s"${t}_books", s"${t}_fpbloom"))
        .flatMap(x => Seq(x, s"${x}__compacting"))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

      c.build(t, path)
      c.append.foreach(a => Seq(1, 2).foreach(a(t, _)))
      val primary = IndexStore.tablesOf(kind, t).head
      assert(IndexStore.appendsSinceCompact(spark, primary) ==
        (if (c.append.isDefined) 2 else 0))
      val before = c.serve(t)
      assert(before.nonEmpty, s"$kind serves nothing — the check is vacuous")
      if (c.append.isDefined)
        assert(IndexStore.autoCompact(spark, kind, t, every = 1),
          s"two appends at threshold 1 must fire the $kind compaction")
      else IndexStore.compact(spark, kind, t, s"$path/manual")
      assert(c.serve(t) == before, s"$kind compaction changed served results")

      val compacted = health(kind, t)
      assert(compacted.getAs[Long]("appends_since_compact") == 0L)
      assert(compacted.getAs[Long]("retired_dirs") == 1L,
        "the swapped-out primary must await vacuum")
      val reclaimed = IndexStore.vacuum(spark, kind, t)
      assert(reclaimed.size == IndexStore.tablesOf(kind, t).size,
        s"one retired directory per $kind table, got $reclaimed")
      assert(reclaimed.forall(p => !new java.io.File(
        new java.net.URI(p).getPath).exists()), s"not deleted: $reclaimed")
      assert(health(kind, t).getAs[Long]("retired_dirs") == 0L)
      assert(c.serve(t) == before, s"$kind vacuum touched live files")
    }
  }

  test("the unknown-kind error names every registered kind; each has a case here") {
    def listed(e: IllegalArgumentException): Set[String] =
      "\\(expected ([^)]*)\\)".r.findFirstMatchIn(e.getMessage)
        .map(_.group(1).split("/").toSet).getOrElse(Set.empty)
    val viaAuto = listed(intercept[IllegalArgumentException](
      IndexStore.autoCompact(spark, "bloom", "graft_lc_nope")))
    val viaHealth = listed(intercept[IllegalArgumentException](
      IndexStore.healthReport(spark, Seq("bloom" -> "graft_lc_nope"))))
    assert(viaAuto == cases.keySet, s"autoCompact lists $viaAuto")
    assert(viaHealth == cases.keySet, s"healthReport lists $viaHealth")
    // erasure is refused up front for the aggregate kinds
    assert(intercept[IllegalArgumentException](IndexStore.deleteFrom(spark,
        "cms", "graft_lc_nope", spark.range(1).toDF("doc_id"), s"$base/x")
      ).getMessage.contains("unlearn"))
  }
}
