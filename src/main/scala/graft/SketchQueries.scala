package graft

import org.apache.spark.sql.functions._

import graft.operators.{CountMin, Dedup, Hll, IndexStore, Qhist}

/** Capability registry, batch 8: mergeable SKETCHES — bounded-state
  * summaries a 100 TB corpus can afford to keep per source, per
  * release, and per stream. Three families, each with its register
  * computation integer-exact and engine-portable so the SKETCH CONTENT
  * — not just row counts — is DuckDB-oracle-checked:
  *
  *   - [[graft.operators.Hll]] — distinct counts; merge by
  *     register-wise max (union theorem hash-proven against an oracle
  *     that only computes the direct form), no unlearn by design;
  *   - [[graft.operators.CountMin]] — frequencies; ADDITIVE registers
  *     buy exact merge and exact unlearn, the est ≥ exact guarantee
  *     sits inside the oracle hash, and the per-row estimate
  *     projection turns "is this line boilerplate-hot" into a scan
  *     predicate;
  *   - [[graft.operators.Qhist]] — quantiles; percentile cutoffs from
  *     a bounded table with a proved coverage guarantee, amortizing
  *     the per-question 3-pass corpus rank away.
  *
  * The families compose ([[SketchQueries]] `ext_sketch_datacard`,
  * `ext_boilerplate_cms`, `ext_cms_heavy_hitters`, `ext_qhist_gate`)
  * and persist (index kinds 12/14/15, streams sr31/sr34/sr35/sr36).
  */
object SketchQueries {
  import Tables.load

  /** Shared oracle prelude: one row per 3-gram shingle occurrence
    * (lowercased, whitespace-split; short docs collapse to one
    * whole-text shingle — the [[Dedup.wordShingles]] contract), with
    * the doc's source and lang carried for grouping. */
  private val shingleItemsSql =
    """WITH tok AS (
      |  SELECT doc_id, source, lang,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, source, lang,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      ELSE [array_to_string(toks, ' ')] END AS shingles
      |  FROM tok),
      |items AS (
      |  SELECT doc_id, source, lang, unnest(shingles) AS item FROM sh),
      |""".stripMargin

  /** Spark mirror of the prelude: exploded shingle occurrences with
    * source/lang. One corpus scan; every consumer partial-aggregates
    * to ≤ 512 register rows per group before any exchange. */
  private def shingleItems(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        explode(Dedup.wordShingles(col("text"))).as("item"))

  /** Direct per-lang register sketch of the full corpus — shared by the
    * persisted-store query and the streaming maintainer (`sr31`): both
    * must land exactly here whatever the batch slicing, by the max
    * algebra. */
  private[graft] val langRegistersOracleSql: String =
    shingleItemsSql +
      s"""regs AS (${Hll.registersSql("items", "item",
           Seq("lang" -> "grp"))})
         |SELECT grp, idx, r FROM regs ORDER BY grp, idx""".stripMargin

  /** Direct per-source Count-Min register sketch of the full corpus —
    * shared with the streaming maintainer (`sr34`): batch-sliced sums
    * must land exactly here whatever the slicing, by the additive
    * algebra. */
  private[graft] val sourceCmsRegistersOracleSql: String =
    shingleItemsSql +
      s"""regs AS (${CountMin.registersSql("items", "item",
           Seq("source" -> "grp"))})
         |SELECT grp, row_j, idx, c FROM regs
         |ORDER BY grp, row_j, idx""".stripMargin

  /** Sketch-gated boilerplate-clean oracle — shared with the streaming
    * twin (`sr35`): register table and threshold are functions of the
    * whole corpus, the clean of each doc is local to its own lines, so
    * the streamed clean against the frozen store lands exactly here.
    */
  private[graft] val boilerplateCmsOracleSql: String =
    s"""WITH corpus AS (
              |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
              |    THEN text || chr(10) || 'Subscribe to our newsletter today!'
              |         || chr(10) || 'All rights reserved worldwide.'
              |    ELSE text END AS text
              |  FROM documents),
              |p AS (
              |  SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, parts[i] AS para
              |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
              |        FROM corpus), unnest(range(1, len(parts) + 1)) AS r(i)),
              |kd AS (
              |  SELECT doc_id, para_idx, para,
              |    lower(regexp_replace(trim(para), '\\s+', ' ', 'g')) AS k
              |  FROM p),
              |items AS (SELECT k AS item FROM kd WHERE k <> ''),
              |regs AS (${CountMin.registersSql("items", "item")}),
              |thr AS (SELECT greatest(16, count(*) // 1000) AS t
              |        FROM items),
              |le AS (${CountMin.withEstimateSql("kd", "k",
                 "doc_id, para_idx, para, k")}),
              |kept AS (
              |  SELECT le.doc_id, le.para_idx, le.para
              |  FROM le CROSS JOIN thr
              |  WHERE le.k = '' OR le.est < thr.t)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
              |  array_to_string(list(para ORDER BY para_idx), chr(10))
              |    AS clean_text
              |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared metric CTE for the quantile-histogram family: exact
    * whitespace token counts per doc (the t3 statistic), the metric a
    * length gate would cut on. */
  private val tokenMetricSql =
    """WITH m AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      x -> x <> '')) AS BIGINT) AS v
      |  FROM documents),
      |""".stripMargin

  private def tokenMetric(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    load(s, dir, "documents").select(col("doc_id"), col("source"),
      graft.functions.TextAnalysis.tokenCount(col("text"))
        .cast("long").as("v"))

  /** Direct per-source token-length histogram of the full corpus —
    * shared with the streaming maintainer (`sr36`): batch-sliced sums
    * land exactly here by the additive algebra. */
  private[graft] val sourceQhistRegistersOracleSql: String =
    tokenMetricSql +
      s"""regs AS (${Qhist.registersSql("m", "v",
           Seq("source" -> "grp"))})
         |SELECT grp, bucket, cnt FROM regs
         |ORDER BY grp, bucket""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // The corpus-wide register table itself, oracle-checked value by
    // value: 512 rows whatever the corpus size — the whole sketch is
    // smaller than one parquet footer. At 100 TB this is the only
    // artifact the distinct-shingle question ever materializes.
    QueryDef("ext_hll_registers",
      Some(shingleItemsSql +
        s"""regs AS (${Hll.registersSql("items", "item")})
           |SELECT idx, r FROM regs ORDER BY idx""".stripMargin),
      (s, dir) =>
        Hll.registers(shingleItems(s, dir), "item").orderBy("idx")),

    // The estimate AUDITED against the exact count in one query — the
    // honest form: est, exact, and the relative error in milli units
    // all inside the oracle hash. (The exact side re-scans the corpus
    // by construction; production keeps only the register pass.) Raw
    // HLL at m = 512 carries ~4.6% standard error; the fixture's
    // ~16k distinct shingles sit safely above the small-range bias
    // knee (~2.5·m), which this estimator deliberately does not
    // correct for (ln() rounding is not pinned across engines).
    QueryDef("ext_hll_distinct",
      Some(shingleItemsSql +
        s"""regs AS (${Hll.registersSql("items", "item")}),
           |e AS (${Hll.estimateSql("regs")}),
           |x AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS exact
           |      FROM items)
           |SELECT e.n_regs, e.t_scaled, e.est, x.exact,
           |  CAST(floor(abs(e.est - x.exact) * 1000.0 / x.exact)
           |       AS BIGINT) AS err_milli
           |FROM e CROSS JOIN x""".stripMargin),
      (s, dir) => {
        val items = shingleItems(s, dir)
        val est = Hll.estimate(Hll.registers(items, "item"))
        val exact = items.agg(
          count_distinct(col("item")).cast("long").as("exact"))
        est.crossJoin(exact)
          .select(col("n_regs"), col("t_scaled"), col("est"), col("exact"),
            floor(abs(col("est") - col("exact")) * lit(1000.0) /
              col("exact")).cast("long").as("err_milli"))
      }),

    // Per-language sketches with their exact twins — the per-slice
    // vocabulary question a datacard wants, five bounded sketches in
    // one pass instead of five corpus-wide distincts.
    QueryDef("ext_hll_lang_estimates",
      Some(shingleItemsSql +
        s"""regs AS (${Hll.registersSql("items", "item",
             Seq("lang" -> "lang"))}),
           |e AS (${Hll.estimateSql("regs", Seq("lang"))}),
           |x AS (SELECT lang, CAST(count(DISTINCT item) AS BIGINT) AS exact
           |      FROM items GROUP BY 1)
           |SELECT e.lang, e.n_regs, e.t_scaled, e.est, x.exact,
           |  CAST(floor(abs(e.est - x.exact) * 1000.0 / x.exact)
           |       AS BIGINT) AS err_milli
           |FROM e JOIN x USING (lang) ORDER BY e.lang""".stripMargin),
      (s, dir) => {
        val items = shingleItems(s, dir)
        val est = Hll.estimate(
          Hll.registers(items, "item", Seq("lang")), Seq("lang"))
        val exact = items.groupBy("lang").agg(
          count_distinct(col("item")).cast("long").as("exact"))
        est.join(exact, "lang")
          .select(col("lang"), col("n_regs"), col("t_scaled"), col("est"),
            col("exact"),
            floor(abs(col("est") - col("exact")) * lit(1000.0) /
              col("exact")).cast("long").as("err_milli"))
          .orderBy("lang")
      }),

    // The merge theorem as a hash check: Spark builds TWENTY per-source
    // sketches and folds them register-wise; the oracle only ever
    // computes the direct corpus-wide sketch. Equal hashes ⇒ max-merge
    // of partial sketches IS the sketch of the union — the property
    // that lets per-shard sketches combine across releases without
    // touching data again.
    QueryDef("ext_hll_merge",
      Some(shingleItemsSql +
        s"""regs AS (${Hll.registersSql("items", "item")})
           |SELECT idx, r FROM regs ORDER BY idx""".stripMargin),
      (s, dir) =>
        Hll.fold(
          Hll.registers(shingleItems(s, dir), "item", Seq("source"))
            .select("idx", "r"))
          .orderBy("idx")),

    // The store's serving question: "how many distinct shingles across
    // THESE five sources?" answered by folding five register rows sets
    // from the persisted store — zero corpus reads at query time. The
    // oracle computes the direct sketch over the restricted corpus;
    // equality is again the merge theorem, now on a proper subset of
    // groups.
    QueryDef("ext_hll_union_sources",
      Some(shingleItemsSql.replace("FROM documents",
          "FROM documents WHERE source IN ('src0','src1','src2','src3','src4')") +
        s"""regs AS (${Hll.registersSql("items", "item")}),
           |e AS (${Hll.estimateSql("regs")})
           |SELECT n_regs, t_scaled, est FROM e""".stripMargin),
      (s, dir) => {
        val tbl = "graft_hllu_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        val items = shingleItems(s, dir)
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_hregs")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft_index/$tbl"))
        IndexStore.buildHllIndex(items, "source", "item", tbl,
          s"/tmp/graft_index/$tbl")
        val five = (0 to 4).map(i => s"src$i")
        Hll.estimate(Hll.fold(
          IndexStore.hllRegistersFromIndex(s, tbl)
            .where(col("grp").isin(five: _*)).select("idx", "r")))
      }),

    // Pairwise source-vocabulary OVERLAP from sketches alone —
    // inclusion-exclusion over the register table: |A∩B| ≈ est(A) +
    // est(B) − est(A∪B), with the union estimated by register-wise max
    // (never touching the corpus again). The whole computation after
    // the one register pass is sources²-bounded — the "which feeds
    // share boilerplate" diagnostic at sketch cost. Estimates can
    // disagree by a few percent each, so the overlap clamps at 0;
    // everything stays integer-deterministic, hence oracle-hashable.
    QueryDef("ext_hll_source_overlap", {
      val five = "('src0','src1','src2','src3','src4')"
      Some(shingleItemsSql.replace("FROM documents",
          s"FROM documents WHERE source IN $five") +
        s"""regs AS (${Hll.registersSql("items", "item",
             Seq("source" -> "source"))}),
           |e1 AS (${Hll.estimateSql("regs", Seq("source"))}),
           |pairs AS (
           |  SELECT a.source AS src_a, b.source AS src_b
           |  FROM (SELECT DISTINCT source FROM regs) a
           |  JOIN (SELECT DISTINCT source FROM regs) b
           |    ON a.source < b.source),
           |pregs AS (
           |  SELECT p.src_a, p.src_b, r.idx, max(r.r) AS r
           |  FROM pairs p JOIN regs r
           |    ON r.source = p.src_a OR r.source = p.src_b
           |  GROUP BY 1, 2, 3),
           |eu AS (${Hll.estimateSql("pregs", Seq("src_a", "src_b"))})
           |SELECT eu.src_a, eu.src_b,
           |  ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           |  greatest(0, ea.est + eb.est - eu.est) AS overlap_est,
           |  CAST(floor(greatest(0, ea.est + eb.est - eu.est) * 1000.0
           |       / eu.est) AS BIGINT) AS jaccard_milli
           |FROM eu
           |JOIN e1 ea ON eu.src_a = ea.source
           |JOIN e1 eb ON eu.src_b = eb.source
           |ORDER BY eu.src_a, eu.src_b""".stripMargin)
    },
      (s, dir) => {
        val five = (0 to 4).map(i => s"src$i")
        val regs = graft.operators.Ops.checkpointKeepPartitioning(
          Hll.registers(
            shingleItems(s, dir).where(col("source").isin(five: _*)),
            "item", Seq("source")))
        val e1 = Hll.estimate(regs, Seq("source")).select("source", "est")
        val srcs = regs.select("source").distinct()
        val pairs = srcs.select(col("source").as("src_a"))
          .crossJoin(srcs.select(col("source").as("src_b")))
          .where(col("src_a") < col("src_b"))
        val pregs = pairs.join(regs,
            col("source") === col("src_a") ||
              col("source") === col("src_b"))
          .groupBy("src_a", "src_b", "idx").agg(max(col("r")).as("r"))
        val eu = Hll.estimate(pregs, Seq("src_a", "src_b"))
        eu.join(e1.select(col("source").as("src_a"),
            col("est").as("est_a")), "src_a")
          .join(e1.select(col("source").as("src_b"),
            col("est").as("est_b")), "src_b")
          .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
            col("est").as("est_union"),
            greatest(lit(0L), col("est_a") + col("est_b") - col("est"))
              .as("overlap_est"),
            floor(greatest(lit(0L), col("est_a") + col("est_b") - col("est"))
              * lit(1000.0) / col("est")).cast("long").as("jaccard_milli"))
          .orderBy("src_a", "src_b")
      }),

    // Per-doc NOVELTY — how much of a document is text the corpus
    // holds nowhere else: the fraction of its distinct word-8-grams
    // with corpus document-frequency 1, served from the persisted
    // shingle-DF table (the 9th index kind — state the span-dedup
    // pipeline already pays for, co-located on the shingle key).
    // Deliberately NOT a Count-Min question: est == 1 would certify
    // uniqueness exactly (overestimates can only hide it), but once
    // the stream is much larger than the register width every
    // register holds ≥ 2 and the certificate degenerates to zero —
    // a fixed-size sketch cannot answer "seen exactly once" at
    // corpus scale, and the exact DF table can (measured and
    // documented rather than silently shipping a dead metric).
    QueryDef("ext_doc_novelty",
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      x -> x <> '') AS t
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS s
             |  FROM tok, unnest(range(1, len(t) - 6)) AS r(i)
             |  WHERE len(t) >= 8),
             |sd AS (SELECT DISTINCT doc_id, s FROM st),
             |df AS (SELECT s, CAST(count(*) AS BIGINT) AS nd
             |       FROM sd GROUP BY 1)
             |SELECT sd.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             |  CAST(count(*) FILTER (WHERE df.nd = 1) AS BIGINT) AS uniq,
             |  CAST(floor(count(*) FILTER (WHERE df.nd = 1) * 1000.0
             |       / count(*)) AS BIGINT) AS novelty_milli
             |FROM sd JOIN df USING (s)
             |GROUP BY 1 ORDER BY sd.doc_id""".stripMargin),
      (s, dir) => {
        val tbl = "graft_nov_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_sdf")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft_index/$tbl"))
        val docs = load(s, dir, "documents").select("doc_id", "text")
        IndexStore.buildSpanIndex(docs, "doc_id", "text", tbl,
          s"/tmp/graft_index/$tbl")
        val sd = graft.operators.SpanDedup.shingleStarts(docs, 8)
          .select("doc_id", "s").distinct()
        val df = s.table(s"${tbl}_sdf")
          .groupBy("s").agg(sum(col("nd")).as("nd"))
          .where(col("nd") > 0)
        sd.join(df, "s")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_shingles"),
            count(when(col("nd") === 1L, 1)).cast("long").as("uniq"),
            floor(count(when(col("nd") === 1L, 1)) * lit(1000.0) /
              count(lit(1))).cast("long").as("novelty_milli"))
          .orderBy("doc_id")
      }),

    // TIME-WINDOWED sketches — the canonical production use: per-day
    // register tables over the event stream, so "distinct active
    // (user, type) pairs over ANY span" is answered by folding the
    // span's bounded buckets, never by re-scanning events. The span
    // row is hash-proven equal to the direct sketch of the span (the
    // merge theorem over time buckets); the exact twin rides along
    // per row. Honesty note: this fixture's per-day cardinality sits
    // far below the raw-HLL small-range knee (~2.5·m), so est is
    // biased low — the VALUE here is the bucket-merge algebra, and
    // est is deterministic in both engines either way.
    QueryDef("ext_hll_daily_users",
      Some(s"""WITH items AS (
              |  SELECT strftime(ts, '%Y-%m-%d') AS day,
              |    CAST(user_id AS VARCHAR) || ':' || event_type AS item
              |  FROM events),
              |regs AS (${Hll.registersSql("items", "item",
                 Seq("day" -> "day"))}),
              |e AS (${Hll.estimateSql("regs", Seq("day"))}),
              |x AS (SELECT day, CAST(count(DISTINCT item) AS BIGINT)
              |        AS exact
              |      FROM items GROUP BY 1),
              |daily AS (
              |  SELECT e.day, e.est, x.exact
              |  FROM e JOIN x USING (day)),
              |spanregs AS (
              |  SELECT idx, max(r) AS r FROM regs
              |  WHERE day <= '2024-01-03' GROUP BY 1),
              |se AS (${Hll.estimateSql("spanregs")}),
              |sx AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS exact
              |       FROM items WHERE day <= '2024-01-03')
              |SELECT day, est, exact FROM daily
              |UNION ALL
              |SELECT 'span..01-03' AS day, se.est, sx.exact
              |FROM se CROSS JOIN sx
              |ORDER BY day""".stripMargin),
      (s, dir) => {
        val items = graft.operators.Ops.checkpointKeepPartitioning(
          load(s, dir, "events").select(
            date_format(col("ts"), "yyyy-MM-dd").as("day"),
            concat(col("user_id").cast("string"), lit(":"),
              col("event_type")).as("item")))
        val regs = graft.operators.Ops.checkpointKeepPartitioning(
          Hll.registers(items, "item", Seq("day")))
        val daily = Hll.estimate(regs, Seq("day"))
          .join(items.groupBy("day").agg(
            count_distinct(col("item")).cast("long").as("exact")), "day")
          .select("day", "est", "exact")
        val span = Hll.estimate(Hll.fold(
            regs.where(col("day") <= "2024-01-03").select("idx", "r")))
          .crossJoin(items.where(col("day") <= "2024-01-03")
            .agg(count_distinct(col("item")).cast("long").as("exact")))
          .select(lit("span..01-03").as("day"), col("est"), col("exact"))
        daily.unionByName(span).orderBy("day")
      }),

    // Persisted sketch store (12th index kind): build on the even-id
    // half, append the odd half, serve per-lang registers from the
    // table — equal to the one-shot direct sketch by the max algebra
    // (the oracle computes the direct form; no replay/batch-key
    // discipline exists to get wrong, by design).
    QueryDef("ext_hll_persisted",
      Some(langRegistersOracleSql),
      (s, dir) => {
        val tbl = "graft_hllp_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        val items = shingleItems(s, dir)
        IndexStore.buildHllIndex(items.where(col("doc_id") % 2 === 0),
          "lang", "item", tbl, s"/tmp/graft_index/$tbl")
        IndexStore.appendHllIndex(items.where(col("doc_id") % 2 =!= 0),
          "lang", "item", tbl)
        IndexStore.hllRegistersFromIndex(s, tbl).orderBy("grp", "idx")
      }),

    // Second sketch family: Count-Min FREQUENCY registers
    // ([[graft.operators.CountMin]]) — 768 rows whatever the corpus
    // size, value-by-value oracle-checked like the HLL table. Where
    // HLL answers "how many distinct", this answers "how often does
    // THIS item occur" without the distinct-item shuffle.
    QueryDef("ext_cms_registers",
      Some(shingleItemsSql +
        s"""regs AS (${CountMin.registersSql("items", "item")})
           |SELECT row_j, idx, c FROM regs
           |ORDER BY row_j, idx""".stripMargin),
      (s, dir) =>
        CountMin.registers(shingleItems(s, dir), "item")
          .orderBy("row_j", "idx")),

    // The estimate AUDITED against the exact count for a bounded probe
    // candidate set — est, exact, and the overcount all inside the
    // oracle hash, which also proves the e ≥ exact guarantee on every
    // row (overcount can never go negative; the spec asserts it, the
    // hash would catch it). Candidates come from a hash-sampled probe
    // slice: at 100 TB candidate DISCOVERY cannot be a corpus-wide
    // distinct, but any decently heavy item appears in a 0.5% sample
    // whp — the honest scale shape. (The exact side re-scans the
    // corpus by construction; production keeps only the register
    // pass.)
    QueryDef("ext_cms_estimate_audit",
      Some(shingleItemsSql +
        s"""regs AS (${CountMin.registersSql("items", "item")}),
           |cands AS (SELECT DISTINCT item FROM items
           |          WHERE doc_id % 199 = 0),
           |e AS (${CountMin.estimateSql("regs", "cands")}),
           |x AS (SELECT item, CAST(count(*) AS BIGINT) AS exact
           |      FROM items GROUP BY 1)
           |SELECT e.item, e.est, x.exact, e.est - x.exact AS overcount
           |FROM e JOIN x USING (item) ORDER BY e.item""".stripMargin),
      (s, dir) => {
        val items = graft.operators.Ops.checkpointKeepPartitioning(
          shingleItems(s, dir))
        val regs = CountMin.registers(items, "item")
        val cands = graft.operators.Ops.checkpointKeepPartitioning(
          items.where(col("doc_id") % 199 === 0)
            .select("item").distinct())
        // exact counts ONLY for the bounded candidate set — a
        // broadcast restriction before the groupBy, never a
        // corpus-wide distinct-item aggregation
        val exact = items.join(broadcast(cands), Seq("item"))
          .groupBy("item").agg(count(lit(1)).cast("long").as("exact"))
        CountMin.estimate(regs, cands)
          .join(exact, "item")
          .select(col("item"), col("est"), col("exact"),
            (col("est") - col("exact")).as("overcount"))
          .orderBy("item")
      }),

    // Sketch-gated HEAVY HITTERS with exact confirmation — the
    // two-phase shape that scales: (1) probe-slice candidates are
    // gated by the sketch (est ≥ T; no false negatives, since
    // est ≥ exact), (2) only the gated survivors pay an exact
    // count — a broadcast semi-join against the corpus, never a
    // corpus-wide groupBy over all distinct items. T is mass-relative
    // (0.01% of stream occurrences, floor 2), so the query means the
    // same thing at every scale factor.
    QueryDef("ext_cms_heavy_hitters",
      Some(shingleItemsSql +
        s"""regs AS (${CountMin.registersSql("items", "item")}),
           |thr AS (SELECT greatest(2, count(*) // 10000) AS t
           |        FROM items),
           |cands AS (SELECT DISTINCT item FROM items
           |          WHERE doc_id % 199 = 0),
           |e AS (${CountMin.estimateSql("regs", "cands")}),
           |gated AS (SELECT e.item, e.est FROM e CROSS JOIN thr
           |          WHERE e.est >= thr.t),
           |x AS (SELECT i.item, CAST(count(*) AS BIGINT) AS exact
           |      FROM items i JOIN gated g ON i.item = g.item
           |      GROUP BY 1)
           |SELECT g.item, g.est, x.exact
           |FROM gated g JOIN x USING (item) CROSS JOIN thr
           |WHERE x.exact >= thr.t
           |ORDER BY g.item""".stripMargin),
      (s, dir) => {
        val items = graft.operators.Ops.checkpointKeepPartitioning(
          shingleItems(s, dir))
        val regs = CountMin.registers(items, "item")
        val thr = items.agg(greatest(lit(2L),
          floor(count(lit(1)) / lit(10000)).cast("long")).as("t"))
        val cands = items.where(col("doc_id") % 199 === 0)
          .select("item").distinct()
        val gated = CountMin.estimate(regs, cands)
          .crossJoin(broadcast(thr))
          .where(col("est") >= col("t"))
        val exact = items
          .join(broadcast(gated.select("item")), Seq("item"))
          .groupBy("item").agg(count(lit(1)).cast("long").as("exact"))
        gated.join(exact, "item")
          .where(col("exact") >= col("t"))
          .select(col("item"), col("est"), col("exact"))
          .orderBy("item")
      }),

    // The group-algebra half HLL cannot have, as a hash check: Spark
    // computes sketch(corpus) MINUS sketch(src0's slice) by register
    // subtraction; the oracle only ever computes the direct sketch of
    // the corpus WITHOUT src0. Equal hashes ⇒ counts subtract exactly
    // ⇒ the persisted store's unlearn-by-negation is a rebuild,
    // row-for-row — take-down compliance at sketch cost.
    QueryDef("ext_cms_unlearn",
      Some(shingleItemsSql.replace("FROM documents",
          "FROM documents WHERE source <> 'src0'") +
        s"""regs AS (${CountMin.registersSql("items", "item")})
           |SELECT row_j, idx, c FROM regs
           |ORDER BY row_j, idx""".stripMargin),
      (s, dir) => {
        val items = graft.operators.Ops.checkpointKeepPartitioning(
          shingleItems(s, dir))
        val total = CountMin.registers(items, "item")
        val slice = CountMin.registers(
            items.where(col("source") === "src0"), "item")
          .withColumn("c", -col("c"))
        CountMin.fold(total.unionByName(slice))
          .orderBy("row_j", "idx")
      }),

    // Persisted frequency-sketch store (14th index kind), full
    // lifecycle in one query: build per-source registers on the
    // even-id half (bk=0), append the odd half (bk=1), UNLEARN src0's
    // whole slice (bk=-1, negated registers), compact (water marks
    // rise, cancellation pairs fold away physically), then serve.
    // The oracle only ever computes the direct per-source sketch of
    // the corpus WITHOUT src0 — equal hashes prove the additive
    // algebra end to end: batch-sliced appends sum to the one-shot
    // sketch, and a take-down is a rebuild, row-for-row (src0's group
    // vanishes entirely: every one of its registers cancels to zero).
    QueryDef("ext_cms_persisted",
      Some(shingleItemsSql.replace("FROM documents",
          "FROM documents WHERE source <> 'src0'") +
        s"""regs AS (${CountMin.registersSql("items", "item",
             Seq("source" -> "grp"))})
           |SELECT grp, row_j, idx, c FROM regs
           |ORDER BY grp, row_j, idx""".stripMargin),
      (s, dir) => {
        val tbl = "graft_cmsp_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_cregs")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft_index/$tbl"))
        val items = graft.operators.Ops.checkpointKeepPartitioning(
          shingleItems(s, dir))
        IndexStore.buildCmsIndex(items.where(col("doc_id") % 2 === 0),
          "source", "item", tbl, s"/tmp/graft_index/$tbl", batchKey = 0L)
        IndexStore.appendCmsIndex(items.where(col("doc_id") % 2 =!= 0),
          "source", "item", tbl, batchKey = 1L)
        IndexStore.unlearnFromCmsIndex(
          items.where(col("source") === "src0"),
          "source", "item", tbl, batchKey = -1L)
        IndexStore.compact(s, "cms", tbl, s"/tmp/graft_index/${tbl}_c")
        IndexStore.cmsRegistersFromIndex(s, tbl)
          .orderBy("grp", "row_j", "idx")
      }),

    // The sketch COMPOSED into curation: boilerplate-line removal
    // where "is this line hot" is a per-row PREDICATE inside the scan
    // — CountMin.withEstimate appends the frequency estimate via
    // depth broadcast joins against the 768-row register table, so
    // the whole clean is two corpus passes (count lines, gate lines)
    // with NO corpus-wide line groupBy and no join keyed on line
    // text. Contrast ext_paragraph_dedup / the winnow drop-list,
    // whose state is proportional to distinct lines: the sketch
    // prices the same verdict at fixed state, and the overestimate
    // guarantee means no hot line ever escapes (false drops are
    // bounded by eps·N stream mass; the threshold floor keeps them
    // rare). The planted newsletter/rights lines (the paragraph-dedup
    // fixture) are hot at every scale factor; empty lines are
    // structural and never dropped.
    QueryDef("ext_boilerplate_cms",
      Some(boilerplateCmsOracleSql),
      (s, dir) => {
        val docs = load(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"),
              lit("\nSubscribe to our newsletter today!" +
                "\nAll rights reserved worldwide.")))
            .otherwise(col("text")).as("text"))
        val lines = graft.operators.Ops.checkpointKeepPartitioning(
          corpus.select(col("doc_id"),
              posexplode(split(col("text"), "\n"))
                .as(Seq("para_idx", "para")))
            .withColumn("k",
              lower(regexp_replace(trim(col("para")), "\\s+", " "))))
        val items = lines.where(col("k") =!= "")
          .select(col("k").as("item"))
        val regs = CountMin.registers(items, "item")
        val thr = items.agg(greatest(lit(16L),
          floor(count(lit(1)) / lit(1000)).cast("long")).as("t"))
        CountMin.withEstimate(lines, "k", regs)
          .crossJoin(broadcast(thr))
          .where(col("k") === "" || col("est") < col("t"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_kept"),
            concat_ws("\n", transform(
              array_sort(collect_list(struct(col("para_idx"), col("para")))),
              x => x.getField("para"))).as("clean_text"))
          .orderBy("doc_id")
      }),

    // Third sketch family: mergeable log-bucketed QUANTILE histograms
    // ([[graft.operators.Qhist]]) — ≤ 976 rows per group, 1/16
    // relative bucket width, content oracle-checked like the other
    // two register tables. Where the exact-percentile machinery pays
    // a 3-pass corpus rank PER cutoff question, the histogram pays
    // one corpus scan ever.
    QueryDef("ext_qhist_registers",
      Some(tokenMetricSql +
        s"""regs AS (${Qhist.registersSql("m", "v",
             Seq("source" -> "source"))})
           |SELECT source, bucket, cnt FROM regs
           |ORDER BY source, bucket""".stripMargin),
      (s, dir) =>
        Qhist.registers(tokenMetric(s, dir), "v", Seq("source"))
          .orderBy("source", "bucket")),

    // Served cutoffs AUDITED against the exact order statistic: for
    // p50/p90/p99 the sketch cutoff (first bucket whose cumulative
    // count covers the rank, reported at the bucket's upper bound)
    // next to the exact k-th value via the 3-pass bucketed prefix —
    // coverage is guaranteed (cutoff >= exact, overshoot >= 0 in the
    // hash) and tightness is one bucket width. The exact side re-ranks
    // the corpus by construction; production keeps only the bounded
    // table.
    QueryDef("ext_qhist_cutoff_audit",
      Some(tokenMetricSql +
        s"""regs AS (${Qhist.registersSql("m", "v")}),
           |cum AS (
           |  SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum,
           |         sum(cnt) OVER () AS total
           |  FROM regs),
           |p AS (SELECT unnest([500, 900, 990]) AS p_permille),
           |srv AS (
           |  SELECT p.p_permille, min(c.bucket) AS bucket
           |  FROM p, cum c
           |  WHERE c.cum * 1000 >= p.p_permille * c.total GROUP BY 1),
           |srvv AS (
           |  SELECT p_permille,
           |    ${Qhist.bucketUpperSql("bucket")} AS cutoff
           |  FROM srv),
           |ranked AS (
           |  SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn,
           |         count(*) OVER () AS n
           |  FROM m),
           |ex AS (
           |  SELECT p.p_permille, min(r.v) AS exact
           |  FROM p, ranked r
           |  WHERE r.rn * 1000 >= p.p_permille * r.n GROUP BY 1)
           |SELECT s.p_permille, s.cutoff, e.exact,
           |  s.cutoff - e.exact AS overshoot
           |FROM srvv s JOIN ex e USING (p_permille)
           |ORDER BY p_permille""".stripMargin),
      (s, dir) => {
        val m = graft.operators.Ops.checkpointKeepPartitioning(
          tokenMetric(s, dir))
        val regs = Qhist.fold(Qhist.registers(m, "v"))
        val srv = Qhist.cutoffs(regs, Seq(500, 900, 990))
        val n = m.count()
        val ex = Seq(500, 900, 990).map { p =>
          val k = (p.toLong * n + 999L) / 1000L
          graft.operators.Ops.kthOrderedValueFrame(
              m, col("v"), col("doc_id"), k)
            .select(lit(p).as("p_permille"),
              col("kth_value").as("exact"))
        }.reduce(_ unionByName _)
        srv.join(ex, "p_permille")
          .select(col("p_permille"), col("cutoff"), col("exact"),
            (col("cutoff") - col("exact")).as("overshoot"))
          .orderBy("p_permille")
      }),

    // The AMORTIZED length gate: keep docs at or under the p90 cutoff
    // SERVED FROM THE HISTOGRAM — per-gate cost is a broadcast of one
    // cutoff row against the corpus scan, where the exact form
    // (ext_quality_percentile_gate) pays a fresh 3-pass corpus rank
    // per gate run. Coverage >= 90% by the sketch guarantee; the
    // verdict set is deterministic, hence hash-checked.
    QueryDef("ext_qhist_gate",
      Some(tokenMetricSql +
        s"""regs AS (${Qhist.registersSql("m", "v")}),
           |cum AS (
           |  SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum,
           |         sum(cnt) OVER () AS total
           |  FROM regs),
           |srv AS (
           |  SELECT min(bucket) AS bucket FROM cum
           |  WHERE cum * 1000 >= 900 * total),
           |c AS (SELECT ${Qhist.bucketUpperSql("bucket")} AS cutoff
           |      FROM srv)
           |SELECT m.doc_id, m.v
           |FROM m CROSS JOIN c WHERE m.v <= c.cutoff
           |ORDER BY m.doc_id""".stripMargin),
      (s, dir) => {
        val m = graft.operators.Ops.checkpointKeepPartitioning(
          tokenMetric(s, dir))
        val cut = Qhist.cutoffs(
          Qhist.fold(Qhist.registers(m, "v")), Seq(900))
          .select("cutoff")
        m.crossJoin(broadcast(cut))
          .where(col("v") <= col("cutoff"))
          .select("doc_id", "v")
          .orderBy("doc_id")
      }),

    // Persisted histogram store (15th index kind), full lifecycle:
    // build per-source histograms on the even half, append the odd
    // half, unlearn src0's whole slice, compact (CMS water-mark
    // discipline), serve per-source MEDIAN cutoffs from the bounded
    // table. The oracle computes the direct per-source histogram of
    // the corpus WITHOUT src0 and reads the same cutoff — additive
    // algebra end to end, zero corpus reads at serving time.
    QueryDef("ext_qhist_persisted",
      Some(tokenMetricSql.replace("FROM documents",
          "FROM documents WHERE source <> 'src0'") +
        s"""regs AS (${Qhist.registersSql("m", "v",
             Seq("source" -> "grp"))}),
           |cum AS (
           |  SELECT grp, bucket,
           |         sum(cnt) OVER (PARTITION BY grp ORDER BY bucket)
           |           AS cum,
           |         sum(cnt) OVER (PARTITION BY grp) AS total
           |  FROM regs),
           |srv AS (
           |  SELECT grp, min(bucket) AS bucket FROM cum
           |  WHERE cum * 1000 >= 500 * total GROUP BY 1)
           |SELECT grp, ${Qhist.bucketUpperSql("bucket")} AS cutoff
           |FROM srv ORDER BY grp""".stripMargin),
      (s, dir) => {
        val tbl = "graft_qhp_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_qregs")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft_index/$tbl"))
        val m = graft.operators.Ops.checkpointKeepPartitioning(
          tokenMetric(s, dir))
        IndexStore.buildQhistIndex(m.where(col("doc_id") % 2 === 0),
          "source", "v", tbl, s"/tmp/graft_index/$tbl", batchKey = 0L)
        IndexStore.appendQhistIndex(m.where(col("doc_id") % 2 =!= 0),
          "source", "v", tbl, batchKey = 1L)
        IndexStore.unlearnFromQhistIndex(
          m.where(col("source") === "src0"), "source", "v", tbl,
          batchKey = -1L)
        IndexStore.compact(s, "qh", tbl, s"/tmp/graft_index/${tbl}_c")
        IndexStore.qhistCutoffsFromIndex(s, tbl, Seq(500))
          .select("grp", "cutoff").orderBy("grp")
      }),

    // The three sketch families COMPOSED into the per-source datacard
    // a 100 TB operator actually reads: docs, token-length p50/p90
    // (quantile histogram), distinct-shingle vocabulary estimate
    // (HLL), and boilerplate exposure — shingle occurrences whose
    // global Count-Min estimate clears the mass-relative threshold.
    // Every column after the corpus scans reads a bounded register
    // table; the whole report is one hash-checked query.
    QueryDef("ext_sketch_datacard",
      Some(shingleItemsSql +
        s"""m AS (
           |  SELECT doc_id, source,
           |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
           |      x -> x <> '')) AS BIGINT) AS v
           |  FROM documents),
           |qregs AS (${Qhist.registersSql("m", "v",
             Seq("source" -> "grp"))}),
           |qcum AS (
           |  SELECT grp, bucket,
           |         sum(cnt) OVER (PARTITION BY grp ORDER BY bucket)
           |           AS cum,
           |         sum(cnt) OVER (PARTITION BY grp) AS total
           |  FROM qregs),
           |q50 AS (SELECT grp, min(bucket) AS b FROM qcum
           |        WHERE cum * 1000 >= 500 * total GROUP BY 1),
           |q90 AS (SELECT grp, min(bucket) AS b FROM qcum
           |        WHERE cum * 1000 >= 900 * total GROUP BY 1),
           |hregs AS (${Hll.registersSql("items", "item",
             Seq("source" -> "grp"))}),
           |hest AS (${Hll.estimateSql("hregs", Seq("grp"))}),
           |regs AS (${CountMin.registersSql("items", "item")}),
           |thr AS (SELECT greatest(2, count(*) // 10000) AS t
           |        FROM items),
           |le AS (${CountMin.withEstimateSql("items", "item", "source")}),
           |exposure AS (
           |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS hot_shingles
           |  FROM le CROSS JOIN thr WHERE le.est >= thr.t GROUP BY 1),
           |dn AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs
           |       FROM documents GROUP BY 1)
           |SELECT dn.grp AS source, dn.n_docs,
           |  ${Qhist.bucketUpperSql("q50.b")} AS tok_p50,
           |  ${Qhist.bucketUpperSql("q90.b")} AS tok_p90,
           |  hest.est AS distinct_shingles_est,
           |  coalesce(exposure.hot_shingles, 0) AS hot_shingles
           |FROM dn
           |JOIN q50 ON dn.grp = q50.grp
           |JOIN q90 ON dn.grp = q90.grp
           |JOIN hest ON dn.grp = hest.grp
           |LEFT JOIN exposure ON dn.grp = exposure.grp
           |ORDER BY source""".stripMargin),
      (s, dir) => {
        val items = graft.operators.Ops.checkpointKeepPartitioning(
          shingleItems(s, dir))
        val m = tokenMetric(s, dir)
        val q = Qhist.cutoffs(
            Qhist.fold(Qhist.registers(m, "v", Seq("source")),
              Seq("source")),
            Seq(500, 900), Seq("source"))
          .groupBy("source").pivot("p_permille", Seq(500, 900))
          .agg(first(col("cutoff")))
          .select(col("source").as("grp"), col("500").as("tok_p50"),
            col("900").as("tok_p90"))
        val h = Hll.estimate(
            Hll.registers(items, "item", Seq("source")), Seq("source"))
          .select(col("source").as("grp"),
            col("est").as("distinct_shingles_est"))
        val regs = CountMin.registers(items, "item")
        val thr = items.agg(greatest(lit(2L),
          floor(count(lit(1)) / lit(10000)).cast("long")).as("t"))
        val exposure = CountMin.withEstimate(items, "item", regs)
          .crossJoin(broadcast(thr))
          .where(col("est") >= col("t"))
          .groupBy(col("source").as("grp"))
          .agg(count(lit(1)).cast("long").as("hot_shingles"))
        val dn = load(s, dir, "documents")
          .groupBy(col("source").as("grp"))
          .agg(count(lit(1)).cast("long").as("n_docs"))
        dn.join(q, "grp").join(h, "grp")
          .join(exposure, Seq("grp"), "left")
          .select(col("grp").as("source"), col("n_docs"),
            col("tok_p50"), col("tok_p90"),
            col("distinct_shingles_est"),
            coalesce(col("hot_shingles"), lit(0L)).as("hot_shingles"))
          .orderBy("source")
      }))
}
