package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingSync

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming windowed counts equal the batch formulation") {
    val streamed = StreamingSync.runWindowedToMemory(spark, sf0001)
      .collect().toSeq
    val batch = Tables.load(spark, sf0001, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n_events", $"sum_value")
      .orderBy("w_start", "event_type")
      .collect().toSeq
    assert(streamed == batch)
  }

  test("foreachBatch merge over micro-batches reconstructs the source") {
    val out = StreamingSync.runForeachBatchMerge(spark, sf0001,
      "/tmp/graft_stream_test")
    val src = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    assert(out.count() == src.count())
    assert(out.join(src, Seq("event_id", "user_id", "event_type", "value", "ts"))
      .count() == src.count())
  }

  test("stateful streaming dedup equals batch min-per-group, repeatably") {
    def runOnce() = graft.streaming.StreamingDedup
      .run(spark, sf0001, "/tmp/graft_dedup_test")
      .as[(Long, Long, String)].collect().toSeq
    val batch = Tables.load(spark, sf0001, "events")
      .groupBy($"user_id", $"event_type").agg(min($"event_id").as("event_id"))
      .select("event_id", "user_id", "event_type")
      .orderBy("user_id", "event_type")
      .as[(Long, Long, String)].collect().toSeq
    assert(runOnce() == batch)
    assert(runOnce() == batch) // batch-arrival-order independent
  }

  test("streaming index ingest probes equal the fresh one-shot pipeline") {
    val streamed = graft.streaming.StreamingIndexIngest.run(spark, sf0001,
      "/tmp/graft_ingest_test", "graft_test_smh", "/tmp/graft_ingest_test/idx")
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val probes = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" graft tail")).as("text"))
    val fresh = graft.operators.Dedup
      .minhashNearDupPairs(docs.unionByName(probes), "doc_id", "text")
      .where($"id_b" >= 100000 && $"id_a" < 100000)
      .select($"id_b".as("query_id"), $"id_a".as("match_id"), $"jaccard")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(fresh).isEmpty && fresh.exceptAll(streamed).isEmpty,
      "index built from streamed micro-batches must probe like a one-shot build")
  }

  test("streaming ingest auto-compaction: compacts mid-stream, probes unchanged") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    // every appending micro-batch triggers the counter policy
    // (threshold 1) — the finished index must have been compacted away
    // from its original location AND still probe exactly like the
    // uncompacted streamed build
    val plain = graft.streaming.StreamingIndexIngest.run(spark, sf0001,
      "/tmp/graft_ingest_ac0", "graft_test_ac0",
      "/tmp/graft_ingest_ac0/idx")
    val compacted = graft.streaming.StreamingIndexIngest.run(spark, sf0001,
      "/tmp/graft_ingest_ac1", "graft_test_ac1",
      "/tmp/graft_ingest_ac1/idx", autoCompactAppends = 1)
    val loc = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("graft_test_ac1_bands"))
      .location.toString
    assert(loc.contains("auto_g"),
      s"threshold-1 streaming ingest must auto-compact mid-stream: $loc")
    assert(graft.operators.IndexStore
      .appendsSinceCompact(spark, "graft_test_ac1_bands") == 0,
      "the final append's compaction must have reset the counter")
    assert(plain.count() > 0)
    assert(plain.exceptAll(compacted).isEmpty &&
      compacted.exceptAll(plain).isEmpty,
      "mid-stream compaction must not change a single probe row")
  }

  test("streaming SimHash ingest equals a one-shot build") {
    val streamed = graft.streaming.StreamingIndexIngest.runSimhash(spark,
      sf0001, "/tmp/graft_ingest_sh", "graft_test_ssh",
      "/tmp/graft_ingest_sh/idx")
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val probes = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" graft tail")).as("text"))
    val fresh = graft.operators.Dedup
      .simhashNearDupPairs(docs.unionByName(probes), "doc_id", "text")
      .where($"id_b" >= 100000 && $"id_a" < 100000)
      .select($"id_b".as("query_id"), $"id_a".as("match_id"), $"hamming")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(fresh).isEmpty && fresh.exceptAll(streamed).isEmpty,
      "SimHash index from streamed micro-batches must probe like a one-shot build")
  }

  test("streaming winnow ingest equals a one-shot build") {
    val streamed = graft.streaming.StreamingIndexIngest.runWinnow(spark,
      sf0001, "/tmp/graft_ingest_win", "graft_test_swin",
      "/tmp/graft_ingest_win/idx")
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val probes = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" graft tail")).as("text"))
    val oneShot = "graft_test_owin"
    spark.sql(s"DROP TABLE IF EXISTS ${oneShot}_wins")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"/tmp/graft_ingest_win/oneshot"))
    graft.operators.IndexStore.buildWinnowIndex(docs, "doc_id", "text",
      oneShot, "/tmp/graft_ingest_win/oneshot")
    val fresh = graft.operators.IndexStore.probeWinnow(spark, probes,
      "doc_id", "text", oneShot)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(fresh).isEmpty && fresh.exceptAll(streamed).isEmpty,
      "winnow index from streamed micro-batches must probe like a one-shot build")
  }

  test("streaming SRP ingest equals the inline SRP pipeline") {
    val streamed = graft.streaming.StreamingIndexIngest.runSrp(spark,
      sf0001, "/tmp/graft_ingest_srp", "graft_test_srp",
      "/tmp/graft_ingest_srp/idx")
    val corpus = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id",
        graft.operators.Similarity.toDoubleArray($"embedding").as("vec"))
    val fresh = graft.operators.SrpLsh
      .topK(corpus, corpus.where($"vec_id" < 10), k = 5)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(fresh).isEmpty && fresh.exceptAll(streamed).isEmpty,
      "SRP index from streamed micro-batches must probe like the inline pipeline")
  }

  test("streaming PQ ingest: every scaled copy resolves to its source through the streamed store") {
    val streamed = graft.streaming.StreamingIndexIngest.runPq(spark,
        sf0001, "/tmp/graft_ingest_pq", "graft_test_pq",
        "/tmp/graft_ingest_pq/idx")
      .localCheckpoint()
    val nCopies = Tables.load(spark, sf0001, "embeddings")
      .where($"vec_id" % 20 === 0).count()
    // the probe queries are ×2-scaled copies of indexed vectors:
    // scale-invariant codes make the source the ADC maximum, batch
    // order notwithstanding (codes are a pure per-vector function of
    // the frozen first-batch books)
    assert(streamed.count() == nCopies)
    assert(streamed.where($"rank" === 1 &&
      $"neighbor_id" =!= $"query_id" - 100000).count() == 0,
      "a streamed-store copy resolved to something other than its source")
  }

  test("streaming bloom gate: the sidecar is FRESH after the stream and the probe equals the plain probe") {
    import graft.operators.IndexStore
    val tbl = "graft_test_sbloom"
    val streamed = graft.streaming.StreamingIndexIngest.runExactBloomed(
        spark, sf0001, "/tmp/graft_ingest_sbloom", tbl,
        "/tmp/graft_ingest_sbloom/idx")
      .localCheckpoint()
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val probes = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 900000).as("doc_id"),
        concat(lit(" "), $"text", lit("  ")).as("text"))
      .unionByName(docs.where($"doc_id" % 5 === 2)
        .select(($"doc_id" + 950000).as("doc_id"),
          concat($"text", lit(" zmod")).as("text")))
    // per-batch OR-appends must leave the sidecar stamped CURRENT:
    // the probe must actually run behind the bloom prefilter
    val bloomed = IndexStore.probeExactBloomed(spark, probes,
      "doc_id", "text", tbl)
    assert(bloomed.queryExecution.executedPlan.toString
      .contains("might_contain"),
      "sidecar went stale across the streamed appends")
    // and be value-identical to the plain probe over the same store
    val plain = IndexStore.probeExact(spark, probes, "doc_id", "text", tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == plain,
      "bloomed streaming probe diverged from the plain probe")
    assert(plain.nonEmpty, "whitespace twins must match their sources")
  }

  test("streaming composed gate equals sequential batch gates over the same frames") {
    import graft.operators.IndexStore
    val streamed = graft.streaming.StreamingIndexIngest.runGate(spark,
      sf0001, "/tmp/graft_sgate_test", "graft_t_sgx", "graft_t_sgw",
      "graft_t_sgm", "/tmp/graft_sgate_test/idx")
    // batch-mode twin: same pre-seed, same two frames gated sequentially
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").where($"doc_id" < 500)
    val (b1, b2) = graft.streaming.StreamingIndexIngest.gateBatches(docs)
    Seq("graft_t_bgx_fps", "graft_t_bgw_wins", "graft_t_bgm_bands",
      "graft_t_bgm_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_bgate_test"))
    IndexStore.buildExactIndex(docs, "doc_id", "text", "graft_t_bgx",
      "/tmp/graft_bgate_test/gx")
    IndexStore.buildWinnowIndex(docs, "doc_id", "text", "graft_t_bgw",
      "/tmp/graft_bgate_test/gw", window = 40, guarantee = 10)
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", "graft_t_bgm",
      "/tmp/graft_bgate_test/gm")
    def gateOnce(b: org.apache.spark.sql.DataFrame) = {
      val (acc, dec) = IndexStore.dedupIngestGate(spark, b, "doc_id",
        "text", "graft_t_bgx", "graft_t_bgw", "graft_t_bgm",
        window = 40, guarantee = 10)
      dec.unionByName(acc.select($"doc_id", lit("accepted").as("gate")))
    }
    val batchTwin = gateOnce(b1).unionByName(gateOnce(b2))
    // every staged doc gets exactly one decision row
    assert(streamed.count() == b1.count() + b2.count())
    assert(streamed.exceptAll(batchTwin).isEmpty &&
      batchTwin.exceptAll(streamed).isEmpty,
      "the streamed gate must accept/cut exactly what sequential batch gates do")
    // class guarantees: byte-copies always match their indexed source
    // (exact); co-batch copies always match their smaller-id sibling
    // (exact); per-doc disjoint-vocabulary rewrites match NOTHING
    // (accepted). The per-batch-file classes are existential: a
    // tail-extension of a shorter-than-window doc legitimately passes
    // winnow, and a perturbed doc can legitimately cut at winnow
    // BATCH-INTERNALLY (two perturbed copies of organically near-dup
    // sources share the identically-perturbed window verbatim) — but
    // vs the INDEX no perturbed doc has an intact 40-token window, so
    // with the corpus median ~50 tokens at least one of each class
    // reaches its designed gate.
    val gateOf = streamed.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val srcIds = docs.where($"doc_id" % 10 === 0)
      .select("doc_id").as[Long].collect()
    assert(srcIds.nonEmpty)
    srcIds.foreach { id =>
      assert(gateOf(id + 800000) == "exact", s"byte-copy $id")
      assert(gateOf(id + 830000) == "exact", s"co-batch copy $id")
      assert(gateOf(id + 820000) == "accepted", s"rewrite $id")
      assert(gateOf(id + 850000) == "accepted", s"rewrite-2 $id")
      // the batch-2 byte-copy of the batch-1-ACCEPTED rewrite: its
      // fingerprint is in the index only because batch 1 appended it —
      // cut here proves the stream's probes see prior batches' appends
      // (the session-coherence regression)
      assert(gateOf(id + 860000) == "exact", s"cross-batch copy $id")
    }
    assert(srcIds.exists(id => gateOf(id + 810000) == "winnow"),
      "at least one tail-extension shares an intact 40-token window")
    assert(srcIds.exists(id => gateOf(id + 840000) == "minhash"),
      "at least one perturbed doc falls through winnow and cuts at minhash")
  }

  test("streaming gate resumes from its checkpoint without re-gating committed batches") {
    import graft.streaming.StreamingIndexIngest
    import graft.operators.IndexStore
    val work = "/tmp/graft_sgate_resume"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    Seq("graft_t_rgx_fps", "graft_t_rgw_wins", "graft_t_rgm_bands",
      "graft_t_rgm_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").where($"doc_id" < 500)
    IndexStore.buildExactIndex(docs, "doc_id", "text", "graft_t_rgx",
      s"$work/idx/gx")
    IndexStore.buildWinnowIndex(docs, "doc_id", "text", "graft_t_rgw",
      s"$work/idx/gw", window = 40, guarantee = 10)
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", "graft_t_rgm",
      s"$work/idx/gm")
    val (b1, b2) = StreamingIndexIngest.gateBatches(docs)
    val src = s"$work/src"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    def drain(): Unit = StreamingIndexIngest.runGateStream(spark, src,
      sink, ckpt, "graft_t_rgx", "graft_t_rgw", "graft_t_rgm")

    StreamingIndexIngest.stageBatchFile(b1, work, src, "b1")
    drain()
    assert(StreamingIndexIngest.readGateSink(spark, sink).count() == b1.count(),
      "first drain must decide exactly the first staged batch")

    StreamingIndexIngest.stageBatchFile(b2, work, src, "b2")
    drain() // restart on the SAME checkpoint
    val fin = StreamingIndexIngest.readGateSink(spark, sink)
    assert(fin.count() == b1.count() + b2.count(),
      "a resumed gate stream must gate only the new file — a re-gated " +
        "committed batch would append duplicate decision rows")
    // b1's accepted docs are in the index; had b1 been re-gated, its
    // rewrites would now be CUT as exact matches of themselves — their
    // single sink row must still say accepted
    val b1Rewrites = fin.where($"doc_id" >= 820000 && $"doc_id" < 830000)
    assert(b1Rewrites.count() > 0)
    assert(b1Rewrites.where($"gate" =!= "accepted").count() == 0)
  }

  test("a gate drain leaves none of its pinned blocks behind") {
    // each drain pins its stage results, the probes' and pair kernels'
    // boundaries and the append source; none outlives the drain. No GC
    // is forced: the context cleaner would eventually reclaim the
    // blocks, but a long-lived stream must not depend on it
    import graft.streaming.StreamingIndexIngest
    import graft.operators.IndexStore
    val work = "/tmp/graft_sgate_pins"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    Seq("graft_t_pgx_fps", "graft_t_pgw_wins", "graft_t_pgm_bands",
      "graft_t_pgm_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").where($"doc_id" < 300)
    IndexStore.buildGateIndexes(docs, "doc_id", "text", "graft_t_pgx",
      "graft_t_pgw", "graft_t_pgm", s"$work/idx", window = 40)
    val (b1, b2) = StreamingIndexIngest.gateBatches(docs)
    val src = s"$work/src"
    StreamingIndexIngest.stageBatchFile(b1, work, src, "b1")
    StreamingIndexIngest.stageBatchFile(b2, work, src, "b2")
    def pinned: Map[Int, Long] = spark.sparkContext.getRDDStorageInfo
      .map(r => r.id -> (r.memSize + r.diskSize)).filter(_._2 > 0).toMap
    val before = pinned.keySet
    StreamingIndexIngest.runGateStream(spark, src, s"$work/sink",
      s"$work/ckpt", "graft_t_pgx", "graft_t_pgw", "graft_t_pgm")
    val leaked = pinned -- before
    assert(StreamingIndexIngest.readGateSink(spark, s"$work/sink").count() ==
      b1.count() + b2.count(), "both staged batches must drain")
    assert(leaked.isEmpty, s"drain blocks left pinned (rdd id -> bytes): $leaked")
  }

  test("a take-down between micro-batches stops gating the next drained file") {
    // the reference's deletion reconciliation runs BETWEEN cron syncs;
    // composed here: drain one staged file, take a doc down from all
    // three gate indexes while the stream's checkpoint is live, stage
    // the next file — copies of the taken-down doc must now be accepted
    // while every other doc keeps gating, on the SAME checkpoint
    import graft.streaming.StreamingIndexIngest
    import graft.operators.IndexStore
    val work = "/tmp/graft_sgate_takedown"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    Seq("graft_t_tdx_fps", "graft_t_tdw_wins", "graft_t_tdm_bands",
      "graft_t_tdm_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").where($"doc_id" < 200)
    IndexStore.buildExactIndex(docs, "doc_id", "text", "graft_t_tdx",
      s"$work/idx/gx")
    IndexStore.buildWinnowIndex(docs, "doc_id", "text", "graft_t_tdw",
      s"$work/idx/gw", window = 40, guarantee = 10)
    IndexStore.buildMinhashIndex(docs, "doc_id", "text", "graft_t_tdm",
      s"$work/idx/gm")
    // same fixture selection as the batch take-down spec: the first two
    // ≥40-token docs have no organic near-dup in this corpus, so a
    // post-deletion copy's fate is decided by the DELETION, not by a
    // surviving organic sibling (doc 0, e.g., minhash-matches one)
    val long2 = docs
      .where(size(split(trim(lower($"text")), "\\s+")) >= 40)
      .orderBy("doc_id").limit(2).select("doc_id").as[Long].collect()
    assert(long2.length == 2, "fixture needs two ≥40-token docs")
    val (a, b) = (long2(0), long2(1))
    def copyOf(id: Long, off: Long) = docs.where($"doc_id" === id)
      .select(lit(id + off).as("doc_id"), $"text")
    val src = s"$work/src"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    def drain(): Unit = StreamingIndexIngest.runGateStream(spark, src,
      sink, ckpt, "graft_t_tdx", "graft_t_tdw", "graft_t_tdm")

    StreamingIndexIngest.stageBatchFile(
      copyOf(a, 1000000).unionByName(copyOf(b, 2000000)), work, src, "b1")
    drain()
    assert(StreamingIndexIngest.readGateSink(spark, sink)
      .where($"gate" =!= "exact").count() == 0,
      "pre-take-down, both byte-copies must cut at the exact gate")

    IndexStore.deleteFromGateIndexes(spark, Seq(a).toDF("doc_id"),
      "doc_id", "graft_t_tdx", "graft_t_tdw", "graft_t_tdm", s"$work/td")

    StreamingIndexIngest.stageBatchFile(
      copyOf(a, 3000000).unionByName(copyOf(b, 4000000)), work, src, "b2")
    drain() // SAME checkpoint — only the new file is gated
    val fin = StreamingIndexIngest.readGateSink(spark, sink)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin(a + 3000000) == "accepted",
      "a taken-down doc must stop gating the stream's next batch")
    assert(fin(b + 4000000) == "exact",
      "an un-deleted doc must keep gating after someone else's take-down")
    assert(fin(a + 1000000) == "exact" && fin(b + 2000000) == "exact",
      "committed decisions are history — reconciliation must not rewrite them")
  }

  test("streaming vec gate equals sequential batch gates and lands each class on its designed slot") {
    import graft.operators.{IndexStore, IvfIndex, Similarity}
    val streamed = graft.streaming.StreamingIndexIngest.runGateVec(spark,
      sf0001, "/tmp/graft_svgate_test", "graft_t_svx", "graft_t_svs",
      "graft_t_svi", "/tmp/graft_svgate_test/idx")
    // batch-mode twin: same pre-seed, same two frames gated sequentially
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", Similarity.toDoubleArray($"embedding").as("vec"))
      .where($"vec_id" < 500)
    val (b1, b2) = graft.streaming.StreamingIndexIngest.gateVecBatches(vecs)
    Seq("graft_t_bvx_fps", "graft_t_bvs_bands", "graft_t_bvs_vecs",
      "graft_t_bvi_lists", "graft_t_bvi_centroids").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_bvgate_test"))
    IndexStore.buildExactVecIndex(vecs, "vec_id", "vec", "graft_t_bvx",
      "/tmp/graft_bvgate_test/vx")
    IndexStore.buildSrpIndex(vecs, "graft_t_bvs", "/tmp/graft_bvgate_test/vs")
    IndexStore.buildIvfIndex(vecs,
      IvfIndex.trainCentroids(vecs, k = 8, iters = 2), "graft_t_bvi",
      "/tmp/graft_bvgate_test/vi")
    def gateOnce(b: org.apache.spark.sql.DataFrame) = {
      val (acc, dec) = IndexStore.dedupIngestGateVec(spark, b,
        "graft_t_bvx", "graft_t_bvs", threshold = 0.9999,
        ivfTable = Some("graft_t_bvi"), ivfThreshold = 0.999)
      dec.unionByName(acc.select($"vec_id", lit("accepted").as("gate")))
    }
    val batchTwin = gateOnce(b1).unionByName(gateOnce(b2))
    assert(streamed.count() == b1.count() + b2.count())
    assert(streamed.exceptAll(batchTwin).isEmpty &&
      batchTwin.exceptAll(streamed).isEmpty,
      "the streamed vec gate must accept/cut exactly what sequential batch gates do")
    // class attribution — every class lands on its designed slot, with
    // no existential softening: byte-copies are the exact gate's;
    // ×2-scaled copies are SRP's (cosine 1.0 ≥ 0.9999, and positive
    // scaling preserves every hyperplane sign so the candidate is
    // always surfaced); the 0.9995-rotations sit BELOW the SRP gate's
    // threshold — SRP sees the candidate but must not cut it — and cut
    // at the IVF slot; sign-flips survive everything (sf0.001 has no
    // organic pair above cosine 0.99, and ±1 diagonals are orthogonal
    // transforms, so flips stay as far from everything as their sources)
    val gateOf = streamed.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val srcIds = vecs.where($"vec_id" % 10 === 0)
      .select("vec_id").as[Long].collect()
    assert(srcIds.nonEmpty)
    srcIds.foreach { id =>
      assert(gateOf(id + 800000) == "exact", s"byte-copy $id")
      assert(gateOf(id + 810000) == "srp", s"scaled copy $id")
      assert(gateOf(id + 820000) == "ivf", s"rotation $id")
      assert(gateOf(id + 830000) == "accepted", s"sign-flip $id")
    }
  }

  test("streaming vec gate resumes from its checkpoint without re-gating committed batches") {
    import graft.streaming.StreamingIndexIngest
    import graft.operators.{IndexStore, IvfIndex, Similarity}
    val work = "/tmp/graft_svgate_resume"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    Seq("graft_t_rvx_fps", "graft_t_rvs_bands", "graft_t_rvs_vecs",
      "graft_t_rvi_lists", "graft_t_rvi_centroids").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", Similarity.toDoubleArray($"embedding").as("vec"))
      .where($"vec_id" < 500)
    IndexStore.buildExactVecIndex(vecs, "vec_id", "vec", "graft_t_rvx",
      s"$work/idx/vx")
    IndexStore.buildSrpIndex(vecs, "graft_t_rvs", s"$work/idx/vs")
    IndexStore.buildIvfIndex(vecs,
      IvfIndex.trainCentroids(vecs, k = 8, iters = 2), "graft_t_rvi",
      s"$work/idx/vi")
    val (b1, b2) = StreamingIndexIngest.gateVecBatches(vecs)
    val src = s"$work/src"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    def drain(): Unit = StreamingIndexIngest.runGateVecStream(spark, src,
      sink, ckpt, "graft_t_rvx", "graft_t_rvs", "graft_t_rvi")

    StreamingIndexIngest.stageBatchFile(b1, work, src, "b1")
    drain()
    assert(StreamingIndexIngest.readGateSink(spark, sink).count() == b1.count(),
      "first drain must decide exactly the first staged batch")

    StreamingIndexIngest.stageBatchFile(b2, work, src, "b2")
    drain() // restart on the SAME checkpoint
    val fin = StreamingIndexIngest.readGateSink(spark, sink)
    assert(fin.count() == b1.count() + b2.count(),
      "a resumed vec-gate stream must gate only the new file")
    // b2's sign-flips were accepted and appended; had b2 been re-gated
    // after a further restart, they'd cut as exact matches of
    // themselves. Drain a third time with nothing new staged: the sink
    // must not grow.
    drain()
    assert(StreamingIndexIngest.readGateSink(spark, sink).count()
      == b1.count() + b2.count(),
      "an idle resume must not re-gate or re-append anything")
    val flips = fin.where($"vec_id" >= 830000 && $"vec_id" < 840000)
    assert(flips.count() > 0)
    assert(flips.where($"gate" =!= "accepted").count() == 0)
  }

  test("streaming merge resumes from its checkpoint without reprocessing old batches") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.sources.VersionedTable
    import graft.operators.Incremental
    val work = "/tmp/graft_resume_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    val stageDir = s"$work/stage"; val srcDir = s"$work/src"
    val tgt = s"$work/tgt"; val ckpt = s"$work/ckpt" // FIXED across restarts
    val events = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    events.repartition(4).write.parquet(stageDir)
    val parts = new java.io.File(stageDir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 4)
    Files.createDirectories(Paths.get(srcDir))
    def feed(fs: Array[java.io.File]): Unit = fs.foreach(f =>
      Files.copy(f.toPath, Paths.get(srcDir, f.getName),
        StandardCopyOption.REPLACE_EXISTING))

    val schema = spark.read.parquet(stageDir).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val committed = VersionedTable.currentVersion(tgt)
          val merged = committed match {
            case None => batch
            case Some(v) => Incremental.merge(
              spark.read.parquet(s"$tgt/v$v"), batch, "event_id")
          }
          VersionedTable.write(merged, tgt, committed.getOrElse(0) + 1)
          (): Unit
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

    feed(parts.take(2)); runOnce()
    val afterFirst = VersionedTable.currentVersion(tgt)
    assert(afterFirst.contains(2), s"two micro-batches → two commits, got $afterFirst")

    feed(parts.drop(2)); runOnce() // restart on the SAME checkpoint
    assert(VersionedTable.currentVersion(tgt).contains(4),
      "a restarted query must process only the two new files, not re-merge old ones")
    val out = VersionedTable.read(spark, tgt)
    assert(out.count() == events.count())
    assert(out.join(events,
      Seq("event_id", "user_id", "event_type", "value", "ts")).count() == events.count())
  }

  test("stream-scored LM perplexity equals the batch scorer row-for-row") {
    import graft.operators.NgramLm
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val model = NgramLm.train(docs.where($"doc_id" % 10 < 8))
    val batch = NgramLm.scoreMicroBits(model, docs.where($"doc_id" % 10 >= 8))
      .orderBy("doc_id").collect().toSeq
    val streamed = graft.streaming.StreamingLmScore
      .run(spark, sf0001, "/tmp/graft_lmscore_test")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streamed LM ingest equals one-shot training; threshold-1 compaction is value-neutral") {
    import graft.operators.NgramLm
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val oneShot = NgramLm.scoreMicroBits(
        NgramLm.train(docs.where($"doc_id" % 10 < 8)),
        docs.where($"doc_id" % 10 >= 8))
      .orderBy("doc_id").collect().toSeq
    val streamed = graft.streaming.StreamingIndexIngest.runLmIngest(
        spark, sf0001, "/tmp/graft_lmingest_test", "graft_test_lmi",
        "/tmp/graft_lmingest_test/idx")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == oneShot,
      "streamed count appends must reproduce the one-shot model exactly")
    val compacted = graft.streaming.StreamingIndexIngest.runLmIngest(
        spark, sf0001, "/tmp/graft_lmingest_ac", "graft_test_lmiac",
        "/tmp/graft_lmingest_ac/idx", autoCompactAppends = 1)
      .collect().toSeq
    assert(compacted == oneShot,
      "mid-stream count folding must not change a single score")
    assert(graft.operators.IndexStore
      .appendsSinceCompact(spark, "graft_test_lmiac_counts") == 0,
      "the final append's compaction must have reset the counter")
  }

  test("streamed quarantine curation: totality, damage cut at charset, nothing seen twice is kept") {
    import graft.streaming.StreamingQuarantineCuration
    val work = s"/tmp/graft_squar_spec/${System.nanoTime()}"
    val got = StreamingQuarantineCuration.run(spark, sf0001, work,
        "graft_t_squar", s"$work/idx")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byId = got.toMap
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id")
      .as[Long].collect()
    // totality: every crawl doc (originals + three plant bands) verdicts
    val expectN = docs.count(_ % 10 >= 8) + docs.count(_ % 10 == 8) +
      docs.count(_ % 10 == 2) + docs.count(_ % 10 == 9)
    assert(got.length == expectN, s"${got.length} != $expectN")
    // every damaged structured plant is cut at charset — BEFORE the
    // gates that its survivor-class text would have cleared
    val damaged = got.filter(_._1 >= 700000)
    assert(damaged.nonEmpty && damaged.forall(_._2 == "charset"))
    // a whitespace twin of a doc the lake already holds is never kept
    got.filter(kv => kv._1 >= 200000 && kv._1 < 700000).foreach {
      case (id, st) => assert(st != "kept", s"lake twin $id re-accepted")
    }
    // a later-arriving twin of a crawl doc is never kept either (its
    // original claimed the fingerprint first, whatever its verdict)
    got.filter(kv => kv._1 >= 100000 && kv._1 < 200000).foreach {
      case (id, st) => assert(st != "kept", s"crawl twin $id kept")
    }
    // the stream is reproducible end to end
    val work2 = s"/tmp/graft_squar_spec/${System.nanoTime()}_b"
    val again = StreamingQuarantineCuration.run(spark, sf0001, work2,
        "graft_t_squar2", s"$work2/idx")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == byId, "re-run diverged")
  }

  test("streamed health telemetry: the auto-compact clock ticks and resets mid-stream, rows only grow") {
    import graft.streaming.StreamingIndexIngest
    val work = s"/tmp/graft_dmhealth_spec/${System.nanoTime()}"
    val h = StreamingIndexIngest.runDoremiIngestMonitored(spark, sf0001,
        work, "graft_t_sdmh", s"$work/idx", autoCompactAppends = 1)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("rows"),
        r.getAs[Long]("appends_since_compact"),
        r.getAs[Long]("appends_total")))
      .sortBy(_._1)
    assert(h.length >= 2, "one health row per micro-batch")
    // live rows never shrink as batches land
    h.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"live rows shrank between ${a._1} and ${b._1}")
      assert(b._4 >= a._4, "appends_total must be monotone")
    }
    // with threshold 1, every appending batch compacts: the clock is
    // observed RESET (0) on each post-append row, and the total still
    // advanced — maintenance demonstrably kept up mid-stream
    val appending = h.drop(1)
    assert(appending.nonEmpty && appending.forall(_._3 == 0L),
      s"the auto-compact clock failed to reset mid-stream: ${h.toSeq}")
    assert(appending.last._4 >= appending.length.toLong,
      "the monotone total must record every append")
  }

  test("streamed DoReMi ingest equals a one-shot fit; threshold-1 compaction is value-neutral") {
    import graft.operators.{Doremi, IndexStore, NgramLm}
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "source")
    val slice = docs.where($"doc_id" % 10 < 8)
    val sbc = NgramLm.bigrams(slice, "doc_id", "text")
      .join(slice.select($"doc_id", $"source"), "doc_id")
      .groupBy("source", "bg").agg(count(lit(1)).as("cb"))
    val oneShot = Doremi.tokenWeightsFromCounts(sbc)
      .select("source", "n_bigrams", "ref_milli", "own_milli",
        "excess_milli", "w_micro")
      .collect().toSeq
    val streamed = graft.streaming.StreamingIndexIngest.runDoremiIngest(
        spark, sf0001, "/tmp/graft_dmingest_test", "graft_test_dmi",
        "/tmp/graft_dmingest_test/idx")
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == oneShot,
      "streamed count appends must reproduce the one-shot mixture exactly")
    val compacted = graft.streaming.StreamingIndexIngest.runDoremiIngest(
        spark, sf0001, "/tmp/graft_dmingest_ac", "graft_test_dmiac",
        "/tmp/graft_dmingest_ac/idx", autoCompactAppends = 1)
      .collect().toSeq
    assert(compacted == oneShot,
      "mid-stream count folding must not change the mixture")
    assert(IndexStore.appendsSinceCompact(spark, "graft_test_dmiac_dmc") == 0,
      "the final append's compaction must have reset the counter")
  }

  test("an LM take-down between micro-batches equals a retrain that never saw the doc") {
    // the gate take-down's MODEL-state twin: drain one staged file into
    // the count table, unlearn a doc from it while the checkpoint is
    // live, drain the next file on the SAME checkpoint — the finished
    // model must equal a one-shot retrain on everything except the
    // taken-down doc, exactly (additive counts, negated between drains)
    import graft.operators.{IndexStore, NgramLm}
    import graft.streaming.StreamingIndexIngest
    val work = "/tmp/graft_lm_takedown"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    spark.sql("DROP TABLE IF EXISTS graft_t_lmu_counts")
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").where($"doc_id" < 200)
    val train = docs.where($"doc_id" % 10 < 8)
    val eval_ = docs.where($"doc_id" % 10 >= 8)
    val src = s"$work/src"; val ckpt = s"$work/ckpt"
    def drain(): Unit = StreamingIndexIngest.runLmStream(spark, src, ckpt,
      "graft_t_lmu", s"$work/idx")

    StreamingIndexIngest.stageBatchFile(
      train.where($"doc_id" < 100), work, src, "b1")
    drain()
    // keyed take-down (the stream's table is batch-keyed now): negative
    // out-of-band key, below the initial low-water mark of 0
    assert(IndexStore.unlearnFromLmIndexKeyed(docs.where($"doc_id" === 0L),
      "doc_id", "text", "graft_t_lmu", batchKey = -1L))
    StreamingIndexIngest.stageBatchFile(
      train.where($"doc_id" >= 100), work, src, "b2")
    drain() // same checkpoint — only the new file appends
    val got = IndexStore.scoreFromLmIndexKeyed(spark, "graft_t_lmu", eval_)
      .orderBy("doc_id").collect().toSeq
    val want = NgramLm.scoreMicroBits(
        NgramLm.train(train.where($"doc_id" =!= 0L)), eval_)
      .orderBy("doc_id").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("watermark: late-but-within-watermark updates; too-late is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"k")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"k", $"n")
    val name = s"wm_test_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      // batch 1: events at 20:00 → watermark advances to 19:00
      input.addData((ts("2024-01-01 20:00:00"), "a"),
        (ts("2024-01-01 20:10:00"), "a"))
      q.processAllAvailable()
      // batch 2: late row at 19:30 (window [19:00,20:00) ≥ watermark → kept),
      //          too-late row at 05:00 (window end 06:00 < watermark → dropped)
      input.addData((ts("2024-01-01 19:30:00"), "a"),
        (ts("2024-01-01 05:00:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table(name)
        .groupBy("w_start", "k").agg(max("n").as("n")) // update mode re-emits
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows.contains((ts("2024-01-01 20:00:00"), "a", 2L)))
      assert(rows.contains((ts("2024-01-01 19:00:00"), "a", 1L)))
      assert(!rows.exists(_._1 == ts("2024-01-01 05:00:00")))
    } finally q.stop()
  }

  test("streaming shards: batch-spanning fixed sizes, ranks continue across arrivals") {
    import graft.streaming.StreamingShards
    val out = StreamingShards.run(spark, sf0001,
      s"/tmp/graft_sshards_spec/${System.nanoTime()}", shardSize = 128)
    val rows = out.select("doc_id", "shard_id").as[(Long, Long)].collect()
    val n = rows.length
    assert(n == Tables.load(spark, sf0001, "documents").count())
    // fixed 128-doc shards with one ragged global tail — the batch
    // assigner's invariant, despite 4 arrivals of ~n/4 docs each
    // (boundaries must span micro-batches for this to hold)
    val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val last = sizes.keys.max
    assert((0L to last).forall(sizes.contains))
    assert(sizes.filter(_._1 < last).values.forall(_ == 128))
    assert(sizes(last) == (if (n % 128 == 0) 128 else n % 128))

    // parity with the oracle formula computed in Spark: per-arrival md5
    // rank + exclusive batch offset
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id")
      .withColumn("batch", col("doc_id") % 4)
      .withColumn("hx", md5(col("doc_id").cast("string").cast("binary")))
    val perBatch = docs.withColumn("rnb", row_number().over(
      Window.partitionBy("batch").orderBy("hx", "doc_id")))
    val offs = docs.groupBy("batch").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(
        Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val ref = perBatch.join(offs.select("batch", "off"), "batch")
      .select(col("doc_id"),
        floor((col("rnb") - 1 + col("off")) / lit(128.0)).cast("long")
          .as("shard_id"))
      .as[(Long, Long)].collect().toSet
    assert(rows.toSet == ref)
  }

  test("streaming ccnet: accepted docs clear every gate exactly once") {
    val out = SparkEntry.queries("sr10_streaming_ccnet")(spark, sf0001)
      .select("doc_id", "quality", "h_milli_tok")
      .as[(Long, Double, Long)].collect()
    assert(out.nonEmpty)
    // only crawl docs (held-out slice + its copies) can be accepted
    assert(out.forall { case (id, _, _) => (id % 100000) % 10 >= 8 })
    // quality gate held
    assert(out.forall(_._2 >= 0.45))
    // the dedup-ingest leaves one doc per fingerprint: a planted copy
    // (id ≥ 100000) can only appear if its original was gated out
    // upstream — and originals gate no worse than their copies, so none
    assert(out.forall(_._1 < 100000L))
    assert(out.map(_._1).distinct.length == out.length)
    // the frozen cutoff held: every accepted score is ≤ the train-slice
    // order statistic, recomputed here independently
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val train = docs.where($"doc_id" % 10 < 8)
    val model = graft.operators.NgramLm.train(train)
    val ts = graft.operators.NgramLm.scoreMicroBits(model, train)
      .select("doc_id", "h_milli_tok").as[(Long, Long)].collect()
      .sortBy(r => (r._2, r._1)).map(_._2)
    val cutoff = ts(((2 * ts.length) / 3).max(1) - 1)
    assert(out.forall(_._3 <= cutoff))
  }

  test("streaming ccnet: a replayed micro-batch cannot double-accept (sink-first guard)") {
    import graft.operators.{IndexStore, NgramLm}
    import graft.streaming.StreamingCuration
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val train = docs.where($"doc_id" % 10 < 8)
    val model = NgramLm.train(train)
    val tag = s"ccr_${System.nanoTime()}"
    val table = s"graft_$tag"
    spark.sql(s"DROP TABLE IF EXISTS ${table}_fps")
    IndexStore.buildExactIndex(train, "doc_id", "text", table,
      s"/tmp/graft_ccr/$tag/idx")
    val sink = s"/tmp/graft_ccr/$tag/sink"
    // LM gate wide open for the drill — the replay guard is under test
    val b0 = docs.where($"doc_id" % 10 === 8 && $"doc_id" < 300)
    StreamingCuration.curateBatch(b0, 0L, model, Long.MaxValue, table, sink)
    val n1 = StreamingCuration.readSink(spark, sink).count()
    val idx1 = spark.table(s"${table}_fps").count()
    assert(n1 > 0)
    // crash-replay of the SAME, already-committed batch: the manifest
    // makes it a no-op — no sink rows, no index growth
    StreamingCuration.curateBatch(b0, 0L, model, Long.MaxValue, table, sink)
    assert(StreamingCuration.readSink(spark, sink).count() == n1)
    assert(spark.table(s"${table}_fps").count() == idx1)
    // an UNCOMMITTED replay whose index append already ran: delete the
    // manifest entry — the batch re-derives the identical accepted set
    // (probes self-id-filter) and the self-probe guard keeps the
    // fingerprint table exactly-once
    assert(new java.io.File(s"$sink/_manifest/0").delete())
    StreamingCuration.curateBatch(b0, 0L, model, Long.MaxValue, table, sink)
    assert(StreamingCuration.readSink(spark, sink).count() == n1)
    assert(spark.table(s"${table}_fps").count() == idx1,
      "a replayed index append must not double-add fingerprints")
    // a LATER batch duplicating accepted docs is cut by the index
    val dupBatch = b0.limit(3)
      .select(($"doc_id" + 500000).as("doc_id"),
        concat(lit(" "), $"text").as("text"))
    StreamingCuration.curateBatch(dupBatch, 1L, model, Long.MaxValue,
      table, sink)
    assert(StreamingCuration.readSink(spark, sink).count() == n1)
  }

  test("streaming shards: a replayed micro-batch is idempotent, a resumed deal continues") {
    import graft.streaming.StreamingShards
    val sink = s"/tmp/graft_sshards_spec/replay_${System.nanoTime()}/sink"
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id")
    val b0 = docs.where(col("doc_id") < 100)
    val b1 = docs.where(col("doc_id") >= 100 && col("doc_id") < 150)
    StreamingShards.appendSharded(spark, b0, 0L, sink, shardSize = 64)
    // replay of the SAME, already-COMMITTED batch (crash-after-commit,
    // before checkpoint write): the manifest makes it a no-op
    StreamingShards.appendSharded(spark, b0, 0L, sink, shardSize = 64)
    assert(StreamingShards.readSink(spark, sink).count() == 100)
    // a doc re-delivered in a LATER batch id is dropped by the
    // committed-sink anti-join, not re-dealt
    StreamingShards.appendSharded(spark, b0, 1L, sink, shardSize = 64)
    assert(StreamingShards.readSink(spark, sink).count() == 100)
    // the next arrival resumes at rank 100 → its docs land in shards
    // 1 (ranks 100..127) and 2
    StreamingShards.appendSharded(spark, b1, 2L, sink, shardSize = 64)
    val byShard = StreamingShards.readSink(spark, sink).groupBy("shard_id")
      .agg(count(lit(1)).as("c")).orderBy("shard_id")
      .as[(Long, Long)].collect().toSeq
    assert(byShard == Seq((0L, 64L), (1L, 64L), (2L, 22L)))
  }

  test("streaming shards: a crashed PARTIAL append is invisible; replay is bit-deterministic") {
    import graft.streaming.StreamingShards
    val base = s"/tmp/graft_sshards_spec/partial_${System.nanoTime()}"
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id")
    val b0 = docs.where(col("doc_id") < 100)
    val b1 = docs.where(col("doc_id") >= 100 && col("doc_id") < 150)
    // the clean, never-crashed run is the determinism reference
    val clean = s"$base/clean"
    StreamingShards.appendSharded(spark, b0, 0L, clean, shardSize = 64)
    StreamingShards.appendSharded(spark, b1, 1L, clean, shardSize = 64)
    val expected = StreamingShards.readSink(spark, clean)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toSet
    // crashed run: batch 1 dies mid-parquet-append — a SUBSET of its
    // rows (with garbage shard ids) is on disk, no manifest entry
    val crashed = s"$base/crashed"
    StreamingShards.appendSharded(spark, b0, 0L, crashed, shardSize = 64)
    b1.limit(20).withColumn("shard_id", lit(99L))
      .write.mode("overwrite").parquet(s"$crashed/b1")
    // uncommitted output is invisible to readers (no torn reads)
    assert(StreamingShards.readSink(spark, crashed).count() == 100)
    // replay overwrites the batch WHOLESALE at the committed offset —
    // not just the missing rows ranked after the surviving subset — so
    // the deal is identical to the never-crashed run, row for row
    StreamingShards.appendSharded(spark, b1, 1L, crashed, shardSize = 64)
    val got = StreamingShards.readSink(spark, crashed)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("streaming clusters: labels after N batches equal one-shot components over the union") {
    import graft.streaming.StreamingClusters
    val work = s"/tmp/graft_sclusters_spec/${System.nanoTime()}"
    val tbl = s"graft_scl_spec_${System.nanoTime()}"
    val got = StreamingClusters.run(spark, sf0001, work, tbl, s"$work/idx")
      .collect().map(_.toSeq).toSeq
    // the one-shot reference: components over the union's pair list,
    // then the same soft-dedup / cluster-split serving (the
    // ext_soft_dedup_e2e + ext_cluster_split_e2e composition)
    val corpus = StreamingClusters.plantedCorpus(spark, sf0001)
    val comp = graft.operators.Components.connectedComponents(
      graft.operators.Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        threshold = 0.8))
    val lab = corpus.select("doc_id")
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val sizes = lab.groupBy("component")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    val expected = lab.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        graft.operators.Dedup.softDedupKeep(col("doc_id"),
          col("cluster_size")).as("kept"),
        when(substring(md5(col("component").cast("string")
            .cast("binary")), 1, 1) <= "c", "train")
          .otherwise("test").as("split"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == expected, "streamed labels/decisions diverged from the one-shot build")
    // the parity is value-bearing: a merge genuinely crossed a batch
    // boundary (the planted twin ids land in a later range batch than
    // their originals)
    assert(got.exists(r => r(1).asInstanceOf[Long] < 100000L &&
      r(0).asInstanceOf[Long] >= 100000L),
      "no cross-batch merge fired — fixture degenerate")
    // the final remap snapshot is FLAT (one join serves any label: no
    // superseded component is also a target) and merge-bounded (fewer
    // rows than labels). It may legitimately be EMPTY here: the file
    // source orders batches by mtime, and when originals happen to
    // arrive before their (larger-id) twins no cluster ever RELABELS —
    // the deterministic twins-first relabeling case lives in the
    // replay drill below.
    val lastId = new java.io.File(s"$work/state/_manifest").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    val rm = spark.read.parquet(s"$work/state/b$lastId/remap")
      .as[(Long, Long)].collect()
    assert(rm.map(_._1).toSet.intersect(rm.map(_._2).toSet).isEmpty,
      "remap snapshot is not flat — serving would need a chain walk")
    assert(rm.length < got.length,
      "remap outgrew the corpus — merge-boundedness broke")
    // and the manifest ledger carries the state sizes (no-silent-growth)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$work/state/_manifest/$lastId")))
    assert(manifest.matches("labels=\\d+ remap=\\d+"),
      s"manifest ledger malformed: '$manifest'")
  }

  test("streaming clusters: crash before commit is invisible, replay byte-identical, committed replay no-op") {
    import graft.streaming.StreamingClusters
    val base = s"/tmp/graft_sclusters_spec/replay_${System.nanoTime()}"
    val corpus = StreamingClusters.plantedCorpus(spark, sf0001)
      .localCheckpoint()
    // twins FIRST (deterministic order, unlike the file source): each
    // twin seeds its own singleton component, and batch 1's smaller
    // original ids force every twin cluster to RELABEL — the remap
    // compose path this drill replays is genuinely populated
    val b0 = corpus.where(col("doc_id") >= 100000)
    val b1 = corpus.where(col("doc_id") < 100000)
    def decisions(state: String) =
      StreamingClusters.servedDecisions(spark, state)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // the clean, never-crashed run is the reference
    val tblC = s"graft_sclr_c_${System.nanoTime()}"
    StreamingClusters.processBatch(b0, 0L, tblC, s"$base/clean/idx",
      s"$base/clean/state")
    StreamingClusters.processBatch(b1, 1L, tblC, s"$base/clean/idx",
      s"$base/clean/state")
    val expected = decisions(s"$base/clean/state")
    // crashed run: batch 1 runs FULLY (index append + both state
    // writes) but dies before the manifest commit
    val tblX = s"graft_sclr_x_${System.nanoTime()}"
    StreamingClusters.processBatch(b0, 0L, tblX, s"$base/crash/idx",
      s"$base/crash/state")
    StreamingClusters.processBatch(b1, 1L, tblX, s"$base/crash/idx",
      s"$base/crash/state", commit = false)
    // uncommitted state is invisible to readers — no torn labels
    assert(decisions(s"$base/crash/state")
      .forall(r => r(0).asInstanceOf[Long] >= 100000L),
      "uncommitted batch leaked into the served labels")
    // replay reprocesses against the ALREADY-APPENDED index (duplicate
    // band rows only duplicate edges — components don't care) and
    // overwrites the state wholesale
    StreamingClusters.processBatch(b1, 1L, tblX, s"$base/crash/idx",
      s"$base/crash/state")
    assert(decisions(s"$base/crash/state") == expected,
      "post-crash replay diverged from the never-crashed run")
    // twins-first order forces relabels, so the replayed remap is
    // genuinely populated AND flat
    val rm = spark.read.parquet(s"$base/crash/state/b1/remap")
      .as[(Long, Long)].collect()
    assert(rm.nonEmpty, "twins-first merge produced no relabels")
    assert(rm.map(_._1).toSet.intersect(rm.map(_._2).toSet).isEmpty,
      "replayed remap snapshot is not flat")
    // a replayed COMMITTED batch short-circuits on its manifest entry
    StreamingClusters.processBatch(b1, 1L, tblX, s"$base/crash/idx",
      s"$base/crash/state")
    assert(decisions(s"$base/crash/state") == expected)
  }

  test("streaming clusters: label fold is value-neutral; a crashed fold is invisible") {
    import graft.streaming.StreamingClusters
    val base = s"/tmp/graft_sclusters_spec/fold_${System.nanoTime()}"
    val corpus = StreamingClusters.plantedCorpus(spark, sf0001)
      .localCheckpoint()
    // twins first so the post-fold batches RELABEL folded components —
    // the fold must compose with future remap deltas, not just replay
    val b0 = corpus.where(col("doc_id") >= 100000)
    val b1 = corpus.where(col("doc_id") < 100000 && col("doc_id") % 2 === 0)
    val b2 = corpus.where(col("doc_id") < 100000 && col("doc_id") % 2 =!= 0)
    def runAll(tag: String, foldAfterB1: Boolean) = {
      val tbl = s"graft_sclf_${tag}_${System.nanoTime()}"
      val state = s"$base/$tag/state"
      StreamingClusters.processBatch(b0, 0L, tbl, s"$base/$tag/idx", state)
      StreamingClusters.processBatch(b1, 1L, tbl, s"$base/$tag/idx", state)
      if (foldAfterB1)
        StreamingClusters.foldLabels(spark, state, tbl, s"$base/$tag/fold")
      StreamingClusters.processBatch(b2, 2L, tbl, s"$base/$tag/idx", state)
      (tbl, state)
    }
    def decisions(state: String) =
      StreamingClusters.servedDecisions(spark, state)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (_, plainState) = runAll("plain", foldAfterB1 = false)
    val expected = decisions(plainState)
    val (tblF, foldState) = runAll("folded", foldAfterB1 = true)
    assert(decisions(foldState) == expected,
      "a mid-stream label fold moved the served decisions")
    // fold again at the head — idempotent, still value-neutral, and
    // exactly one generation remains
    StreamingClusters.foldLabels(spark, foldState, tblF,
      s"$base/folded/fold")
    assert(decisions(foldState) == expected)
    assert(spark.catalog.listTables().collect()
      .count(_.name.startsWith(s"${tblF}_labels_".toLowerCase)) == 1,
      "superseded fold generations must be reaped")
    // crashed fold: the marker is the commit point — without it the
    // generation table is invisible and readers fall back to the dirs
    new java.io.File(s"$foldState/_folded").listFiles()
      .filter(_.getName.forall(_.isDigit)).foreach(_.delete())
    assert(decisions(foldState) == expected,
      "a fold without its marker leaked into serving")
    // and re-folding after the 'crash' re-commits cleanly
    StreamingClusters.foldLabels(spark, foldState, tblF,
      s"$base/folded/fold")
    assert(decisions(foldState) == expected)
  }

  test("streaming venn: uncommitted batches invisible, committed replay a no-op") {
    import graft.streaming.StreamingVenn
    val work = s"/tmp/graft_svenn_spec/${System.nanoTime()}"
    val full = StreamingVenn.run(spark, sf0001, work)
      .collect().map(_.toSeq).toSeq
    val sink = s"$work/sink"
    // a torn write (directory present, no manifest entry) never
    // reaches readers
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    docs.limit(7).write.mode("overwrite").parquet(s"$sink/b99")
    assert(StreamingVenn.readSink(spark, sink)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
      full.sortBy(_.toString),
      "an uncommitted batch directory leaked into the committed view")
    // replaying a committed batch changes nothing
    StreamingVenn.appendVenn(docs.where($"doc_id" % 4 === 0), 0L, sink, 4)
    assert(StreamingVenn.readSink(spark, sink).count() == full.size)
  }

  test("streaming corpus build: classes land on their stages; replay and resume are safe") {
    import graft.streaming.StreamingCorpusBuild
    val (corpus, evals, budgets) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    val work = s"/tmp/graft_scorpus_spec/${System.nanoTime()}"
    val out = StreamingCorpusBuild.run(spark, corpus, evals, budgets,
      work, "graft_t_scb", s"$work/idx").localCheckpoint()
    // totality: one decision per corpus doc (run() itself already
    // restarts from the checkpoint per staged file, so this is also
    // the resume drill: a re-gated file would duplicate rows)
    assert(out.count() == corpus.count())
    assert(out.select("doc_id").distinct().count() == corpus.count())
    // whitespace twins arrive in a LATER range batch than their
    // originals: every twin whose original cleared curation is cut by
    // the cross-batch INDEX probe — the production dedup path
    val stages = out.as[(Long, String)].collect().toMap
    val twinStages = stages.filter { case (id, _) =>
      id >= 500000 && id < 600000 }
    assert(twinStages.nonEmpty)
    val origStage = (id: Long) => stages(id - 200000)
    twinStages.foreach { case (id, st) =>
      if (Set("kept", "dedup", "decon", "budget")(origStage(id)))
        assert(st == "dedup", s"twin $id: $st (orig ${origStage(id)})")
    }
    assert(twinStages.values.exists(_ == "dedup"))
    // eval rewrites pass curation, die at decontamination
    val eplants = stages.filter(_._1 >= 600000)
    assert(eplants.nonEmpty && eplants.values.forall(_ == "decon"))
    // the mixer fired across batches with a carried ledger
    assert(stages.values.exists(_ == "budget"))

    // replay drill: re-running an already-COMMITTED batch through
    // curateBatch is a manifest-detected no-op — no rows, no re-spent
    // budget, no index growth
    val sink = s"$work/sink"
    val before = StreamingCorpusBuild.readSink(spark, sink).count()
    val idxBefore = spark.table("graft_t_scb_fps").count()
    val b0 = corpus.where($"doc_id" < 300000)
    StreamingCorpusBuild.curateBatch(b0, 0L, evals, budgets, "graft_t_scb",
      sink, contamThreshold = 10)
    assert(StreamingCorpusBuild.readSink(spark, sink).count() == before,
      "a replayed committed batch must not append rows or re-spend budget")
    assert(spark.table("graft_t_scb_fps").count() == idxBefore,
      "a replayed committed batch must not grow the index")

    // O(batch) sink I/O drill: curating a batch must never read the
    // committed batch DIRECTORIES (the ledger lives in the tiny
    // manifests). Hide every committed directory — if curateBatch
    // scanned the sink, the read would throw — and gate id-shifted
    // text twins of the b0 docs under a fresh batchId: every twin whose
    // original fingerprint reached the index (stages kept/decon/budget
    // — keeper groups are decided before those gates — plus dedup,
    // whose keeper is indexed) dies at the index probe.
    val bdirs = new java.io.File(sink).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("b"))
    bdirs.foreach(d => assert(
      d.renameTo(new java.io.File(d.getParent, "hidden_" + d.getName))))
    val twins = b0.withColumn("doc_id", $"doc_id" + 900000)
    StreamingCorpusBuild.curateBatch(twins, 99L, evals, budgets,
      "graft_t_scb", sink, contamThreshold = 10)
    val twinRows = spark.read.parquet(s"$sink/b99")
      .select("doc_id", "cut_stage").as[(Long, String)].collect().toMap
    assert(twinRows.size == b0.count(),
      "the hidden-sink batch must still decide every doc")
    twinRows.foreach { case (id, st) =>
      if (Set("kept", "decon", "budget", "dedup")(stages(id - 900000)))
        assert(st == "dedup", s"twin $id: $st (orig ${stages(id - 900000)})")
    }
    bdirs.foreach(d => assert(new java.io.File(d.getParent,
      "hidden_" + d.getName).renameTo(d)))
  }

  test("streamed doremi corpus build: totality; non-budget verdicts equal the batch build's") {
    import graft.streaming.StreamingCorpusBuild
    import graft.operators.{CorpusBuild, Doremi}
    val (corpus, evals, _) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    // a deliberately tight pool: the sf0.001 fixture is small enough
    // that the registered query's 200k pool never cuts, and a ledger
    // that never says 'budget' is untested
    val budgets = Doremi.budgets(Doremi.weights(corpus), 5000L)
      .localCheckpoint()
    val work = s"/tmp/graft_scorpus_dm_spec/${System.nanoTime()}"
    val streamed = StreamingCorpusBuild.run(spark, corpus, evals, budgets,
      work, "graft_t_scbdm", s"$work/idx").localCheckpoint()
    assert(streamed.count() == corpus.count())
    val batch = CorpusBuild.build(corpus, evals, budgets).attribution
    // the learned budget table is FROZEN, so every verdict except the
    // arrival-order-dependent kept/budget pair must agree with the
    // batch build under the same budgets
    val disagree = streamed.withColumnRenamed("cut_stage", "a")
      .join(batch.withColumnRenamed("cut_stage", "b"), "doc_id")
      .where($"a" =!= $"b" &&
        !($"a".isin("kept", "budget") && $"b".isin("kept", "budget")))
      .count()
    assert(disagree == 0,
      "a non-budget verdict moved between the streamed and batch doremi builds")
    assert(streamed.where($"cut_stage" === "budget").count() > 0,
      "the learned mixture must actually cut somewhere")
  }

  test("streamed spanclean corpus build: totality; every non-budget verdict equals the batch stage") {
    import graft.streaming.StreamingCorpusBuild
    import graft.operators.{CorpusBuild, IndexStore}
    val (corpus, evals, budgets) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    val b4 = budgets.select($"source",
      ($"budget" / 4).cast("long").as("budget"))
    val surv = StreamingCorpusBuild.postDeconSurvivors(corpus, evals, 10)
    spark.sql("DROP TABLE IF EXISTS graft_t_scbsp_sdf")
    val work = s"/tmp/graft_scbs_spec/${System.nanoTime()}"
    IndexStore.buildSpanIndex(surv.select("doc_id", "text"),
      "doc_id", "text", "graft_t_scbsp", s"$work/sdfidx")
    val out = StreamingCorpusBuild.run(spark, corpus, evals, b4,
        work, "graft_t_scbs", s"$work/idx",
        spanTable = Some("graft_t_scbsp"))
      .localCheckpoint()
    assert(out.count() == corpus.count())
    assert(out.select("doc_id").distinct().count() == corpus.count())
    // the frozen index was built over the SAME post-decon survivor set
    // the batch capstone measures within, so every verdict except the
    // budget partition (arrival vs hash spend order, by design) must
    // equal the batch spanclean build's — spanclean cuts included
    val batch = CorpusBuild.build(corpus, evals, b4, spanCleanK = Some(8))
      .attribution
    val j = out.select($"doc_id", $"cut_stage".as("streamed"))
      .join(batch.select($"doc_id", $"cut_stage".as("batch")), "doc_id")
      .localCheckpoint()
    val mixerStages = Seq("kept", "budget")
    assert(j.where($"streamed" =!= $"batch" &&
        !($"streamed".isin(mixerStages: _*) &&
          $"batch".isin(mixerStages: _*))).count() == 0,
      "a non-budget verdict diverged between stream and batch")
    // the cleaner visibly trimmed: kept docs' ledger n is below the
    // raw token count for at least one boilerplate-sharing survivor
    val sink = StreamingCorpusBuild.readSink(spark, s"$work/sink")
      .where($"cut_stage" === "kept")
      .join(corpus.select($"doc_id",
        graft.functions.TextAnalysis.tokenCount($"text").cast("long")
          .as("raw_n")), "doc_id")
    assert(sink.where($"n" < $"raw_n").count() > 0,
      "no kept doc's ledger count reflects a trimmed span")
    assert(sink.where($"n" > $"raw_n").count() == 0,
      "a ledger count exceeds the raw token count")
  }

  test("streamed corpus packs cover exactly the kept docs, FFD-valid; replay appends nothing") {
    import graft.streaming.StreamingCorpusBuild
    val (corpus, evals, budgets) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    val work = s"/tmp/graft_scpack_spec/${System.nanoTime()}"
    val binSize = 256L
    StreamingCorpusBuild.run(spark, corpus, evals, budgets,
      work, "graft_t_scp", s"$work/idx", packBinSize = Some(binSize))
    val sink = s"$work/sink"
    val packs = StreamingCorpusBuild.readPacks(spark, sink).localCheckpoint()

    // coverage: the packed doc set IS the stream's kept set (itself
    // oracle-checked via sr12's CTEs), token counts riding intact
    val kept = StreamingCorpusBuild.readSink(spark, sink)
      .where($"cut_stage" === "kept").select("doc_id", "n")
    assert(packs.count() > 0 && packs.count() == kept.count())
    assert(packs.join(kept,
      packs("doc_id") === kept("doc_id") &&
        packs("n_tokens") === kept("n")).count() == kept.count())

    // FFD invariants: exactly-once, no bin overflows, dense global ids
    assert(packs.select("doc_id").distinct().count() == packs.count())
    val binAgg = packs.groupBy("bin_id")
      .agg(sum($"n_tokens").as("load")).localCheckpoint()
    assert(binAgg.where($"load" > binSize).count() == 0,
      "a bin exceeds its token budget")
    val nBins = binAgg.count()
    assert(binAgg.agg(min($"bin_id"), max($"bin_id"))
      .as[(Long, Long)].head() == ((0L, nBins - 1)),
      "bin ids must be dense across batches")

    // bins never span micro-batches: each committed batch's pack dir
    // owns a contiguous bin range, and consecutive batches abut (the
    // manifest-carried offset leaves no gaps)
    val ranges = new java.io.File(s"$sink/packs").listFiles().toSeq
      .filter(_.isDirectory)
      .map(d => spark.read.parquet(d.getPath))
      .filter(_.count() > 0)
      .map(_.agg(min($"bin_id"), max($"bin_id"), countDistinct($"bin_id"))
        .as[(Long, Long, Long)].head())
      .sortBy(_._1)
    ranges.foreach { case (lo, hi, n) =>
      assert(hi - lo + 1 == n, "a batch's bin range has holes") }
    ranges.sliding(2).foreach {
      case Seq((_, hi, _), (lo2, _, _)) =>
        assert(lo2 == hi + 1, "batches' bin ranges must abut")
      case _ =>
    }

    // replay drill: a committed batch replay leaves the packs alone
    val before = packs.orderBy("doc_id", "bin_id").collect().toSeq
    StreamingCorpusBuild.curateBatch(corpus.where($"doc_id" < 300000), 0L,
      evals, budgets, "graft_t_scp", sink, contamThreshold = 10,
      packBinSize = Some(binSize))
    val after = StreamingCorpusBuild.readPacks(spark, sink)
      .orderBy("doc_id", "bin_id").collect().toSeq
    assert(after == before,
      "a replayed committed batch must not change the packs")
  }

  test("streaming semdedup equals the batch kernel exactly; replay appends nothing") {
    import graft.streaming.StreamingSemDedup
    import graft.operators.{IvfIndex, Similarity}
    val work = s"/tmp/graft_ssemded_spec/${System.nanoTime()}"
    val streamed = StreamingSemDedup.run(spark, sf0001, work)
      .select("vec_id", "cluster_id").as[(Long, Int)].collect().toSet
    val base = Tables.load(spark, sf0001, "embeddings")
      .select($"vec_id", Similarity.toDoubleArray($"embedding").as("vec"))
    val corpus = base.unionByName(base.where($"vec_id" % 20 === 0)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"vec", x => x * 1.001).as("vec")))
    val cent = IvfIndex.collectCentroids(base.where($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cluster_id"), $"vec".as("centroid")))
    val batch = Similarity.semanticDedup(corpus, cent, threshold = 0.999)
      .select("vec_id", "cluster_id").as[(Long, Int)].collect().toSet
    // the seen-index (not accepted-only) cross-batch check is what
    // makes this EXACT: a keeper set checked only against keepers
    // would re-admit later copies of dropped vectors
    assert(streamed == batch,
      s"stream/batch diverge: ${(streamed diff batch) ++ (batch diff streamed)}")
    // every planted x1.001 copy (arriving after its original) was cut
    assert(!streamed.exists(_._1 >= 100000))
    // replay drill: re-running the final id-range batch (committed →
    // manifest-detected no-op) appends nothing
    val before = StreamingSemDedup.readKept(spark, work).count()
    val b2 = corpus.where($"vec_id" >= 100000)
    StreamingSemDedup.dedupBatch(b2, 2L, cent, 0.999, work)
    assert(StreamingSemDedup.readKept(spark, work).count() == before)

    // O(batch) accepted-sink I/O: deciding a batch must never read the
    // kept directories (replay safety lives in the manifests, and the
    // cross-batch check reads the SEEN store only). Hide every kept
    // dir — a sink scan would throw — and gate id-shifted copies of
    // already-seen vectors under a fresh batchId: all are cut by the
    // seen join.
    val keptDirs = new java.io.File(s"$work/kept").listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("b"))
    keptDirs.foreach(d => assert(
      d.renameTo(new java.io.File(d.getParent, "hidden_" + d.getName))))
    val copies = corpus.where($"vec_id" < 100000 && $"vec_id" % 7 === 0)
      .select(($"vec_id" + 500000).as("vec_id"), $"vec")
    StreamingSemDedup.dedupBatch(copies, 99L, cent, 0.999, work)
    keptDirs.foreach(d => assert(new java.io.File(d.getParent,
      "hidden_" + d.getName).renameTo(d)))
    val b99 = spark.read.parquet(s"$work/kept/b99")
    assert(b99.count() == 0,
      "exact copies of seen vectors must all be cut by the seen join")
  }

  test("streaming crossdoc clean equals the batch cleaner; replay appends nothing") {
    import graft.streaming.StreamingCrossDoc
    import graft.operators.SpanDedup
    val work = s"/tmp/graft_scrossdoc_spec/${System.nanoTime()}"
    val out = StreamingCrossDoc.run(spark, sf0001, work,
        "graft_t_scd", s"$work/idx")
      .as[(Long, Long, Long, String)].collect().toSet
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val batch = SpanDedup.cleanedDocs(docs)
      .as[(Long, Long, Long, String)].collect().toSet
    // stateless per-doc cleaning against the frozen index: the drained
    // sink IS the batch cleaner, byte-for-byte
    assert(out == batch,
      s"stream/batch diverge on ${(out diff batch) ++ (batch diff out)}")
    // something actually got cut (organic cross-doc repeats at sf0.001)
    assert(out.exists(_._3 > 0))
    // replay drill: a committed batch is a manifest-detected no-op
    val sink = s"$work/sink"
    val before = StreamingCrossDoc.readSink(spark, sink).count()
    StreamingCrossDoc.cleanBatch(docs, 0L, "graft_t_scd", sink)
    assert(StreamingCrossDoc.readSink(spark, sink).count() == before,
      "a replayed committed batch must not append rows")
  }

  test("streaming paragraph dedup equals the batch form; replay appends nothing") {
    import graft.streaming.StreamingParagraphDedup
    import graft.operators.Dedup
    val work = s"/tmp/graft_sparaded_spec/${System.nanoTime()}"
    val out = StreamingParagraphDedup.run(spark, sf0001, work,
      "graft_t_spd", s"$work/idx")
      .as[(Long, Long, String)].collect().toSet
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id",
        when($"doc_id" % 3 === 0,
          concat($"text", lit("\nSubscribe to our newsletter today!" +
            "\nAll rights reserved worldwide.")))
          .otherwise($"text").as("text"))
    val batch = Dedup.paragraphDedup(corpus)
      .as[(Long, Long, String)].collect().toSet
    // id-range staging makes first-arriving = global min keeper, so the
    // stream must equal the batch operator row for row — including the
    // boilerplate lines surviving ONLY on the earliest planted doc,
    // with the second range batch losing them to the INDEX probe
    assert(out == batch,
      s"stream/batch diverge on ${((out diff batch) ++ (batch diff out)).take(3)}")
    assert(out.count(_._3.contains("Subscribe to our newsletter")) == 1)
    // replay drill: re-running the final, committed range batch is a
    // manifest-detected no-op; an UNCOMMITTED replay (manifest entry
    // deleted) re-derives identical rows and the self-probe keeps the
    // line index exactly-once
    val median = corpus.stat.approxQuantile("doc_id", Array(0.5), 0.0)
      .head.toLong
    val sink = s"$work/sink"
    val before = StreamingParagraphDedup.readSink(spark, sink).count()
    val idx1 = spark.table("graft_t_spd_fps").count()
    val b1 = corpus.where($"doc_id" > median)
    StreamingParagraphDedup.dedupBatch(b1, 1L, "graft_t_spd", sink)
    assert(StreamingParagraphDedup.readSink(spark, sink).count() == before)
    assert(spark.table("graft_t_spd_fps").count() == idx1)
    assert(new java.io.File(s"$sink/_manifest/1").delete())
    StreamingParagraphDedup.dedupBatch(b1, 1L, "graft_t_spd", sink)
    val replayed = StreamingParagraphDedup.readSink(spark, sink)
      .as[(Long, Long, String)].collect().toSet
    assert(replayed == out, "uncommitted replay must rebuild identically")
    assert(spark.table("graft_t_spd_fps").count() == idx1,
      "a replayed index append must not double-add line fingerprints")
  }

  test("streamed probe: equals the one-shot fit; replayed moment rows are idempotent") {
    import graft.streaming.StreamingProbe
    import graft.operators.LinearProbe
    val workDir = s"/tmp/graft_sprobe_spec/${System.nanoTime()}"
    val got = StreamingProbe.run(spark, sf0001, workDir).head()
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val oneShot = LinearProbe.ridge2(StreamingProbe.features(docs),
      "x1", "x2", "y", lambda = 1.0).head()
    assert(got == oneShot) // bit-identical: additive integer moments
    // crash-replay: a batch's moment row lands twice in the sink —
    // the batch-keyed fold must not double-count it
    val sink = s"$workDir/moments"
    val dup = spark.read.parquet(sink).limit(1)
    dup.write.mode("append").parquet(sink)
    assert(StreamingProbe.fitFromSink(spark, sink).head() == oneShot)
  }

  test("streamed probe resumes from its checkpoint without refolding committed batches") {
    import graft.streaming.{StreamingIndexIngest, StreamingProbe}
    import graft.operators.LinearProbe
    val work = s"/tmp/graft_sprobe_resume/${System.nanoTime()}"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val feats = StreamingProbe.features(docs).localCheckpoint()
    val src = s"$work/src"; val moments = s"$work/moments"
    val ckpt = s"$work/ckpt"
    StreamingIndexIngest.stageBatchFile(
      feats.where($"doc_id" % 2 === 0), work, src, "b1")
    StreamingProbe.runStream(spark, src, moments, ckpt)
    val afterFirst = spark.read.parquet(moments).count()
    assert(afterFirst == 1, "first drain folds exactly one batch row")
    StreamingIndexIngest.stageBatchFile(
      feats.where($"doc_id" % 2 =!= 0), work, src, "b2")
    StreamingProbe.runStream(spark, src, moments, ckpt) // SAME checkpoint
    assert(spark.read.parquet(moments).count() == 2,
      "a resumed drain must fold only the new file — a refolded " +
        "committed batch would append a second keyed row")
    val got = StreamingProbe.fitFromSink(spark, moments).head()
    val oneShot = LinearProbe.ridge2(feats, "x1", "x2", "y",
      lambda = 1.0).head()
    assert(got == oneShot)
  }

  test("streamed DSIR scoring equals the batch scorer over the same corpus") {
    import graft.operators.Dsir
    import org.apache.spark.sql.functions.col
    val work = s"/tmp/graft_sdsir_spec/${System.nanoTime()}"
    val streamed = graft.streaming.StreamingDsir.run(spark, sf0001, work)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "source")
    val model = Dsir.fit(
      docs.where(col("source") === "src0"),
      docs.where(col("source") =!= "src0"), hexChars = 2)
    val batch = Dsir
      .scoreWeights(model, docs.where(col("source") =!= "src0"))
      .where(col("w_milli") > 0).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch,
      s"stream/batch DSIR divergence: ${streamed.size} vs ${batch.size} rows")
    assert(streamed.nonEmpty, "the gate should keep some target-like docs")
  }

  test("streamed packing: totality, capacity, dense continued bins, replay no-op") {
    import graft.streaming.StreamingPacking
    val work = s"/tmp/graft_spack_spec/${System.nanoTime()}"
    val B = 256L
    val sink = StreamingPacking.run(spark, sf0001, work, binSize = B)
      .localCheckpoint()
    val items = Tables.load(spark, sf0001, "documents").select("doc_id")
    assert(sink.count() == items.count(), "every doc packs exactly once")
    assert(sink.select("item_id").distinct().count() == items.count())
    val bins = sink.groupBy("bin_id").agg(sum("n_tokens").as("load"))
      .as[(Long, Long)].collect()
    bins.foreach { case (b, load) => assert(load <= B, s"bin $b: $load") }
    // continued numbering is dense: ids are exactly 0 .. nBins-1
    val ids = bins.map(_._1).sorted.toSeq
    assert(ids == (0L until ids.length).toSeq,
      s"bin ids not dense: ${ids.take(10)}...")
    // tail bound: four batches, one FFD segment each at this scale
    assert(bins.count(_._2 <= B / 2) <= 4,
      "more under-half bins than batches")
    // replay drill: re-running a committed batch must change nothing
    val before = StreamingPacking.readSink(spark, s"$work/sink")
      .orderBy("item_id").collect().toSeq
    val batch0 = Tables.load(spark, sf0001, "documents")
      .where($"doc_id" % 4 === 0)
      .select($"doc_id".as("item_id"),
        graft.functions.TextAnalysis.tokenCount($"text").cast("long")
          .as("n_tokens"))
    StreamingPacking.appendPacked(spark, batch0, 0L, s"$work/sink", B)
    val after = StreamingPacking.readSink(spark, s"$work/sink")
      .orderBy("item_id").collect().toSeq
    assert(after == before, "replaying a committed batch must be a no-op")
  }

  test("streamed dsir-staged corpus build: totality and a live dsir stage") {
    import graft.streaming.StreamingCorpusBuild
    val (corpus, evals, budgets) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    val work = s"/tmp/graft_scorpusd_spec/${System.nanoTime()}"
    val tbl = s"graft_scbd_spec_${System.nanoTime()}"
    val pinned = StreamingCorpusBuild.pinnedDsirFromCorpus(
      corpus, evals, 10, "src0")
    val att = StreamingCorpusBuild.run(spark, corpus, evals, budgets,
        work, tbl, s"$work/idx", dsir = Some(pinned))
      .localCheckpoint()
    val n = corpus.count()
    assert(att.count() == n)
    assert(att.select("doc_id").distinct().count() == n,
      "one stage per doc")
    val byStage = att.groupBy("cut_stage").count()
      .as[(String, Long)].collect().toMap
    assert(byStage.getOrElse("dsir", 0L) > 0, s"dsir never fired: $byStage")
    // the target source never cuts at dsir
    assert(att.join(corpus.select("doc_id", "source"), "doc_id")
      .where($"cut_stage" === "dsir" && $"source" === "src0").count() == 0)
  }

  test("a DSIR hydration sharing the stream's index tables is refused") {
    import graft.streaming.StreamingCorpusBuild
    import graft.operators.IndexStore
    val (corpus, evals, budgets) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    val work = s"/tmp/graft_scorpus_clash/${System.nanoTime()}"
    val tbl = s"graft_scb_clash_${System.nanoTime()}"
    val fit = StreamingCorpusBuild.pinnedDsirFromCorpus(
      corpus, evals, 10, "src0")
    val e = intercept[IllegalArgumentException] {
      StreamingCorpusBuild.run(spark, corpus, evals, budgets, work, tbl,
        s"$work/idx", dsir = Some(fit.copy(
          indexTables = IndexStore.tablesOf("exact", tbl))))
    }
    assert(e.getMessage.contains(s"${tbl}_fps"))
    assert(!new java.io.File(s"$work/sink").exists(),
      "the refusal must come before any micro-batch runs")
  }

  test("persisted-index DSIR hydration is bit-identical to the batch-side fit") {
    import graft.streaming.StreamingCorpusBuild
    import graft.operators.IndexStore
    val (corpus, evals, _) =
      ExtensionQueries.corpusBuildFixture(spark, sf0001)
    val fit = StreamingCorpusBuild.pinnedDsirFromCorpus(
      corpus, evals, 10, "src0")
    val tbl = s"graft_scbdx_spec_${System.nanoTime()}"
    val (target, raw) = StreamingCorpusBuild.postDeconSplit(
      corpus, evals, 10, "src0")
    IndexStore.buildDsirIndex(target, raw, "doc_id", "text", tbl,
      s"/tmp/graft_scbdx_spec/$tbl")
    val hydrated = StreamingCorpusBuild.pinnedDsirFromIndex(
      spark, tbl, "src0")
    assert(hydrated.r0Milli == fit.r0Milli)
    assert(hydrated.hexChars == fit.hexChars)
    val a = fit.ratios.as[(String, Long)].collect().toMap
    val b = hydrated.ratios.as[(String, Long)].collect().toMap
    assert(a == b, "persisted-index ratios diverge from the ad-hoc fit")
  }

  test("streamed prototype gate equals the batch prune (frozen cutoff)") {
    val work = s"/tmp/graft_sproto_spec/${System.nanoTime()}"
    val streamed = graft.streaming.StreamingPrototype.run(spark, sf0001, work)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val batch = SparkEntry.queries("ext_prototype_prune")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(streamed == batch,
      s"stream/batch prototype divergence: ${streamed.size} vs ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamed boilerplate clean: committed-batch sink, no duplicate docs, batch parity") {
    val out = SparkEntry.queries("sr35_streaming_boilerplate")(spark, sf0001)
      .collect()
    val ids = out.map(_.getLong(0))
    assert(ids.nonEmpty)
    assert(ids.distinct.length == ids.length,
      "a replayed or torn batch duplicated cleaned docs in the sink")
    // the sink exposes only committed batch directories
    val sinkDir = new java.io.File(
      s"/tmp/graft_boiler/${sf0001.replaceAll("[^a-zA-Z0-9]", "_")}/sink")
    val bDirs = sinkDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
      .map(_.getName.drop(1).toLong).toSet
    val committed = new java.io.File(sinkDir, "_manifest").listFiles()
      .filter(f => f.isFile && f.getName.forall(_.isDigit))
      .map(_.getName.toLong).toSet
    assert(bDirs == committed,
      s"sink dirs $bDirs diverge from manifest $committed")
    // equals the batch clean row-for-row (the frozen-sketch argument)
    val batch = SparkEntry.queries("ext_boilerplate_cms")(spark, sf0001)
      .collect()
    assert(out.map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq)
  }
}
