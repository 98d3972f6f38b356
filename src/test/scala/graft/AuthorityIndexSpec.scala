package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Centrality, IndexStore}

/** The 16th persisted kind: the source-shingle count table behind the
  * authority family. Counts form a commutative group over document
  * sets, so the whole lifecycle (append / unlearn / replay / compact)
  * must be value-invisible at the RANK level — asserted here
  * bit-for-bit, which the fixed-point integer ranks make possible. */
class AuthorityIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): (String, String) = {
    val tbl = s"graft_test_auth_$name"
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_aph")
    val path = s"/tmp/graft_test_auth/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    (tbl, path)
  }

  // sa↔sb share one 8-gram run, sa↔sc another; sd shares nothing
  // (dangling). Every text ≥ 8 tokens.
  private def docs: DataFrame = Seq(
    (1L, "sa", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "sb", "alpha beta gamma delta epsilon zeta eta theta lambda mu"),
    (3L, "sc", "one two three four five six seven eight nine ten"),
    (4L, "sa", "one two three four five six seven eight nine ten extra"),
    (5L, "sd", "totally unrelated filler words occupy this sentence of ten tokens")
  ).toDF("doc_id", "source", "text")

  private def inlineRanks(d: DataFrame): Map[String, Long] = {
    val sg = Centrality.sourceShingles(d)
    Centrality.pageRank(
        sg.select(col("source").as("id")).distinct(),
        Centrality.sharedShingleEdges(sg), iters = 4,
        weightCol = Some("w"))
      .as[(String, Long)].collect().toMap
  }

  private def served(tbl: String): Map[String, Long] =
    IndexStore.authorityFromIndex(spark, tbl)
      .as[(String, Long)].collect().toMap

  test("build + serve equals the inline authority computation exactly") {
    val (tbl, path) = freshTable("parity")
    IndexStore.buildAuthorityIndex(docs, "source", "doc_id", "text",
      tbl, path)
    val got = served(tbl)
    assert(got == inlineRanks(docs))
    assert(got.keySet == Set("sa", "sb", "sc", "sd"))
    // the shared-run sources outrank the dangling one
    assert(got("sa") > got("sd"))
  }

  test("append equals the one-shot rebuild bit-for-bit (commutative group)") {
    val (tbl, path) = freshTable("append")
    IndexStore.buildAuthorityIndex(docs.where($"doc_id" <= 2L),
      "source", "doc_id", "text", tbl, path, batchKey = 0L)
    assert(IndexStore.appendAuthorityIndex(docs.where($"doc_id" > 2L),
      "source", "doc_id", "text", tbl, batchKey = 1L))
    assert(served(tbl) == inlineRanks(docs))
  }

  test("unlearn reverts the ranks to the never-indexed corpus exactly") {
    val (tbl, path) = freshTable("unlearn")
    val junk = docs.where($"doc_id" % 2L === 1L)
      .select(($"doc_id" + 500L).as("doc_id"), $"source",
        concat($"text", lit(" shared junk boiler plate of exactly " +
          "twelve tokens for graft authority testing")).as("text"))
    IndexStore.buildAuthorityIndex(docs.unionByName(junk),
      "source", "doc_id", "text", tbl, path)
    val contaminated = served(tbl)
    assert(IndexStore.unlearnFromAuthorityIndex(junk, "source", "doc_id",
      "text", tbl, batchKey = -1L))
    assert(served(tbl) == inlineRanks(docs))
    assert(contaminated != inlineRanks(docs),
      "fixture must actually move the ranks, or the revert proves nothing")
  }

  test("replays: pre-compaction duplicates cancel row-wise, post-compaction keys are skipped") {
    val (tbl, path) = freshTable("replay")
    IndexStore.buildAuthorityIndex(docs.where($"doc_id" <= 3L),
      "source", "doc_id", "text", tbl, path, batchKey = 0L)
    val delta = docs.where($"doc_id" > 3L)
    assert(IndexStore.appendAuthorityIndex(delta, "source", "doc_id",
      "text", tbl, batchKey = 1L))
    val once = served(tbl)
    // pre-compaction replay WRITES byte-identical rows; the read-side
    // (source, ph, bk) dedup cancels them
    assert(IndexStore.appendAuthorityIndex(delta, "source", "doc_id",
      "text", tbl, batchKey = 1L))
    assert(served(tbl) == once)
    // compaction raises the high-water mark; the same key is now
    // skipped entirely
    IndexStore.compact(spark, "auth", tbl, s"$path/c1")
    assert(!IndexStore.appendAuthorityIndex(delta, "source", "doc_id",
      "text", tbl, batchKey = 1L))
    assert(served(tbl) == once)
  }

  test("compaction is value-neutral and folds to the sentinel") {
    val (tbl, path) = freshTable("compact")
    IndexStore.buildAuthorityIndex(docs.where($"doc_id" <= 2L),
      "source", "doc_id", "text", tbl, path)
    IndexStore.appendAuthorityIndex(docs.where($"doc_id" > 2L),
      "source", "doc_id", "text", tbl, batchKey = 1L)
    val before = served(tbl)
    IndexStore.compact(spark, "auth", tbl, s"$path/c1")
    assert(served(tbl) == before)
    val bks = spark.table(s"${tbl}_aph").select("bk").distinct()
      .as[Long].collect().toSet
    assert(bks == Set(Long.MinValue), s"unfolded rows remain: $bks")
    assert(spark.table(s"${tbl}_aph").where($"nd" <= 0L).isEmpty,
      "cancelled or negative rows must drop at compaction")
    // and the health dashboard knows the kind
    val health = IndexStore.healthReport(spark, Seq("auth" -> tbl))
      .select("primary_table").as[String].collect()
    assert(health.sameElements(Array(s"${tbl}_aph")))
  }

  test("param guards: k and column names are validated on append/unlearn") {
    val (tbl, path) = freshTable("params")
    IndexStore.buildAuthorityIndex(docs, "source", "doc_id", "text",
      tbl, path, k = 8)
    intercept[IllegalArgumentException] {
      IndexStore.appendAuthorityIndex(docs, "lang", "doc_id", "text",
        tbl, batchKey = 1L)
    }
    intercept[IllegalArgumentException] {
      IndexStore.unlearnFromAuthorityIndex(docs, "source", "vec_id",
        "text", tbl, batchKey = -1L)
    }
  }

  test("node-set invariant: a source with no ≥k-token doc fails the " +
      "write loudly instead of silently shrinking the vertex set") {
    // "ghost" never enters the shingle table (6 tokens < k = 8), so the
    // served node count — and with it EVERY rank (baseShare =
    // Scale div nNodes) — would silently diverge from the corpus's
    // declared node set. The write is where the cause is visible.
    val withGhost = docs.unionByName(Seq(
      (9L, "ghost", "only six tokens live here")
    ).toDF("doc_id", "source", "text"))
    val (tbl, path) = freshTable("ghostb")
    val e = intercept[IllegalArgumentException] {
      IndexStore.buildAuthorityIndex(withGhost, "source", "doc_id",
        "text", tbl, path)
    }
    assert(e.getMessage.contains("ghost"), e.getMessage)

    val (tbl2, path2) = freshTable("ghosta")
    IndexStore.buildAuthorityIndex(docs, "source", "doc_id", "text",
      tbl2, path2)
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.appendAuthorityIndex(Seq(
          (10L, "ghost2", "five tokens in here")
        ).toDF("doc_id", "source", "text"),
        "source", "doc_id", "text", tbl2, batchKey = 1L)
    }
    assert(e2.getMessage.contains("ghost2"), e2.getMessage)
  }
}
