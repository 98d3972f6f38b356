package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic distributed-join utilities. */
object Ops {

  /** Checkpoint that KEEPS the child's hash-partitioning. With AQE
    * enabled at plan-creation time a checkpoint leaf reports unknown
    * partitioning — the adaptive plan's partitioning is not final until
    * execution — so every downstream join/agg on the boundary's own
    * partition key silently re-shuffles the materialized table
    * (measured on the LSH band self-join: two extra exchanges; masked
    * in small tests by broadcast conversion). Building the frame with
    * AQE off captures the final HashPartitioning into the LogicalRDD;
    * only that sub-plan forgoes AQE's runtime coalescing — downstream
    * plans keep it. Constructing `frame` beforehand is safe
    * (construction only analyzes); what must happen inside the scope is
    * the FIRST forcing of the physical plan, which the checkpoint call
    * does — callers must not have explained or executed the frame
    * earlier. `reliable = true` uses a durable checkpoint (caller is
    * responsible for the checkpoint-dir contract); otherwise a
    * localCheckpoint, eager or lazy. `numShufflePartitions` additionally
    * scopes `spark.sql.shuffle.partitions` over the sub-plan — with AQE
    * off nothing coalesces the captured width, so callers that know the
    * data is small (e.g. an iteration sized to a measured edge count)
    * pin the width here instead of paying conf-width task overhead.
    *
    * A second reason this wrapper exists, beyond the capture: a LAZY
    * `localCheckpoint` planned under AQE is not actually lazy —
    * AdaptiveSparkPlanExec.execute() materializes its shuffle stages at
    * plan-capture time, so merely CONSTRUCTING the frame launches the
    * sub-plan's jobs. Under the AQE-off scope, execute() only builds
    * the RDD graph and nothing runs until the first action.
    *
    * Concurrency contract: session confs are session-global, so every
    * graft set/restore scope goes through [[withSessionConf]], which
    * serializes on the session — two interleaved scopes would otherwise
    * restore each other's temporary values and leave the session with
    * AQE permanently off. The lock covers only PLAN CAPTURE (the lazy
    * checkpoint call — job-free under the AQE-off scope); an eager
    * request materializes outside the lock, so long-running checkpoint
    * jobs never block other threads' boundary construction. Queries
    * planned concurrently on the same session from other threads during
    * the capture window would still see the scoped values: drive
    * multi-tenant planning through separate sessions, the same
    * isolation Spark itself expects for per-query conf. */
  def checkpointKeepPartitioning(frame: DataFrame, eager: Boolean = false,
      reliable: Boolean = false,
      numShufflePartitions: Option[Int] = None): DataFrame = {
    val session = frame.sparkSession
    // fail fast with the contract spelled out: without this, a reliable
    // request surfaces as Spark's opaque "checkpoint directory has not
    // been set" from inside the checkpoint call — same stance as
    // Components.connectedComponents' require
    if (reliable) require(
      session.sparkContext.getCheckpointDir.nonEmpty,
      "reliable = true needs sparkContext.setCheckpointDir on shared " +
        "storage (durable boundaries write there; see " +
        "Dedup.ReliableBoundaryConf for the trade)")
    val scoped = Map("spark.sql.adaptive.enabled" -> "false") ++
      numShufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString)
    val ck = withSessionConf(session, scoped) {
      if (reliable) frame.checkpoint(false) else frame.localCheckpoint(false)
    }
    // materialize outside the lock: a count over the checkpoint-marked
    // plan fills the localCheckpoint blocks (or triggers the reliable
    // checkpoint write at job end) exactly like the eager flag would,
    // without holding the session monitor across cluster jobs
    if (eager) ck.count()
    ck
  }

  /** Keys with a set/restore scope currently open, per session. The
    * single-writer-per-key discipline the scopes rely on used to be
    * stated only in comments; this registry makes a violation FAIL
    * LOUDLY instead of corrupting the session by timing: two scopes
    * overlapping on the same key from DIFFERENT threads (e.g. an
    * unlocked-body scope racing a locked one) would each save the
    * other's temporary value as its "before" and the loser's restore
    * leaves the session permanently scoped. SAME-thread nesting is
    * legal and tracked by depth: nested scopes unwind LIFO on one
    * thread, so the inner scope saves the outer's temporary and
    * restores it before the outer restores the original — e.g. a
    * checkpointKeepPartitioning(numShufflePartitions = ...) inside a
    * withStreamingConf body composes fine and must not trip the guard.
    * WeakHashMap keyed by session so a dropped session leaks nothing;
    * per-session map access under its own monitor (callers may or may
    * not hold the session monitor). */
  private final class ScopeHold(val owner: String, val threadId: Long) {
    var depth: Int = 1
  }

  private val activeScopedKeys =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.Map[String, ScopeHold]]()

  private def heldMap(session: org.apache.spark.sql.SparkSession) =
    activeScopedKeys.synchronized {
      Option(activeScopedKeys.get(session)).getOrElse {
        val m = scala.collection.mutable.Map.empty[String, ScopeHold]
        activeScopedKeys.put(session, m)
        m
      }
    }

  /** Registers `keys` for `owner`, atomically: validation runs over ALL
    * keys before any is registered, so a rejected acquire leaves the
    * registry untouched. `allowSameThreadNesting = false` is for
    * [[setSessionConstant]], whose write would be clobbered by the
    * enclosing scope's restore even on the same thread. */
  private def acquireScopedKeys(
      session: org.apache.spark.sql.SparkSession,
      keys: Iterable[String], owner: String,
      allowSameThreadNesting: Boolean = true): Unit = {
    val held = heldMap(session)
    val tid = Thread.currentThread().getId
    held.synchronized {
      keys.foreach { k =>
        held.get(k).foreach { h =>
          if (!(allowSameThreadNesting && h.threadId == tid))
            throw new IllegalStateException(
              s"conf scope conflict on $k: a ${h.owner} scope is already " +
                s"open for this session and a $owner on another thread " +
                "(or a non-nestable constant write) tried to set the " +
                "same key — overlapping scopes restore each other's " +
                "temporary values and leave the session permanently " +
                "scoped. Serialize the two call sites or drive them " +
                "through separate sessions.")
        }
      }
      keys.foreach { k =>
        held.get(k) match {
          case Some(h) => h.depth += 1
          case None => held(k) = new ScopeHold(owner, tid)
        }
      }
    }
  }

  private def releaseScopedKeys(
      session: org.apache.spark.sql.SparkSession,
      keys: Iterable[String]): Unit = {
    val held = activeScopedKeys.synchronized {
      Option(activeScopedKeys.get(session))
    }
    held.foreach(m => m.synchronized {
      keys.foreach { k =>
        m.get(k).foreach { h =>
          h.depth -= 1
          if (h.depth <= 0) m.remove(k)
        }
      }
    })
  }

  /** Sets a session conf key PERMANENTLY (no restore) — for constants
    * that must stay live for every later lazy scan (e.g. a parquet
    * legacy-read flag), which a set/restore scope would silently revert
    * under the first reader. Refuses to fire while a scope holds the
    * key: the scope's restore would clobber the constant by timing.
    * This is the sanctioned non-scope conf write — everything else
    * routes through [[withSessionConf]]. */
  def setSessionConstant(session: org.apache.spark.sql.SparkSession,
      key: String, value: String): Unit = session.synchronized {
    // nesting disallowed even same-thread: a constant written inside an
    // enclosing scope over the key would be reverted by that scope's
    // restore — the opposite of "permanent"
    acquireScopedKeys(session, Seq(key), s"setSessionConstant($key)",
      allowSameThreadNesting = false)
    try session.conf.set(key, value)
    finally releaseScopedKeys(session, Seq(key))
  }

  /** Scoped session-conf override, serialized on the session. ALL graft
    * set/restore conf scopes must route through this: an unlocked scope
    * interleaving with a locked one restores a stale value and clobbers
    * the session permanently (e.g. leaving shuffle width pinned to an
    * iteration's tiny sizing). Restores only the keys it modified. Keep
    * `body` to planning/DDL where possible; a scope that must stay live
    * through an execute (a CTAS whose exchanges read the conf at
    * planning, inseparable from its job) serializes other graft scopes
    * for that job's duration — correctness over concurrency. A scope
    * over a key another THREAD holds open fails loudly via the
    * scoped-key registry instead of silently un-scoping that value by
    * timing; same-thread nesting is legal (LIFO unwind restores
    * correctly — see the registry comment). */
  def withSessionConf[A](session: org.apache.spark.sql.SparkSession,
      entries: Map[String, String])(body: => A): A =
    session.synchronized {
      acquireScopedKeys(session, entries.keys, "withSessionConf")
      // everything after the acquire sits under its releasing finally:
      // a getOption/set that throws (static conf, invalid value) must
      // not leave the keys registered forever — that would turn every
      // future scope over them into a permanent conflict error
      try {
        val conf = session.conf
        val saved = entries.keys.map(k => k -> conf.getOption(k)).toList
        // the sets live INSIDE the inner try: a set that throws mid-map
        // must still restore the keys already set
        try {
          entries.foreach { case (k, v) => conf.set(k, v) }
          body
        } finally saved.foreach {
          case (k, Some(v)) => conf.set(k, v)
          case (k, None) => conf.unset(k)
        }
      } finally releaseScopedKeys(session, entries.keys)
    }

  /** [[withSessionConf]] variant for bodies that BLOCK on another
    * session thread — e.g. starting a streaming query and draining it
    * with processAllAvailable. Holding the session monitor across the
    * drain deadlocks: the micro-batch thread may force the session's
    * `catalog` lazy val (foreachBatch calling tableExists), whose
    * initializer synchronizes on the same monitor. Here the lock covers
    * only the set and the restore; `body` runs unlocked, which is sound
    * when the scoped conf matters only at body's own planning time (a
    * streaming query snapshots the conf at start). The scoped keys stay
    * REGISTERED for the body's whole duration, so a concurrent scope
    * opening over the same key fails loudly (see the scoped-key
    * registry) instead of racing the restore. */
  def withSessionConfUnlockedBody[A](
      session: org.apache.spark.sql.SparkSession,
      entries: Map[String, String])(body: => A): A = {
    val conf = session.conf
    val saved = session.synchronized {
      acquireScopedKeys(session, entries.keys, "withSessionConfUnlockedBody")
      try {
        val s = entries.keys.map(k => k -> conf.getOption(k)).toList
        entries.foreach { case (k, v) => conf.set(k, v) }
        s
      } catch { case t: Throwable =>
        releaseScopedKeys(session, entries.keys); throw t
      }
    }
    try body finally session.synchronized {
      try saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      } finally releaseScopedKeys(session, entries.keys)
    }
  }

  /** Runs independent Spark statements (writes to DIFFERENT tables,
    * independent builds) concurrently from a bounded pool and waits for
    * all of them — the guide's overlap-independent-jobs idiom (§2.6):
    * Spark's scheduler happily runs several jobs at once inside one
    * application, and statements serialized only by driver code leave
    * the cluster idle through each statement's tail (and, on a
    * many-statement lifecycle, pay the driver's per-statement latency
    * serially). Callers must guarantee independence: no ordering
    * between the bodies, no shared table, no session-conf scope (the
    * Ops scoped-conf registry fails loudly if two bodies race one).
    * Failure semantics match the protocols these writers already run
    * under: every body is awaited (no orphaned half-running write), the
    * first failure is rethrown, and a body that committed while a
    * sibling failed is exactly the partial-append state the manifest /
    * idempotent-replay contracts are designed to absorb. */
  def concurrently(bodies: (() => Unit)*): Unit = {
    if (bodies.sizeIs <= 1) { bodies.foreach(b => b()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(bodies.size, 4))
    try {
      val futures = bodies.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = b()
      }))
      var firstFailure: Option[Throwable] = None
      futures.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          if (firstFailure.isEmpty) firstFailure = Some(e.getCause)
        }
      }
      firstFailure.foreach(throw _)
    } finally pool.shutdownNow()
  }

  /** Starts `compute` on a background thread IMMEDIATELY and returns a
    * memoizing thunk that blocks for its result — the §2.6
    * overlap-independent-jobs idiom for an eagerly-computed input that
    * a downstream stage consumes later (e.g. a learned budget table the
    * capstone's mixing stage joins several statements after the
    * curation chain starts: the weight fit's statements and the
    * curation statements then share the cluster instead of running
    * back-to-back). The body must be independent of the caller's
    * intervening statements (the [[concurrently]] contract); failures
    * surface at the consumption point, unwrapped. */
  def deferred[A](compute: => A): () => A = {
    // Dedicated single daemon thread per call, not the common ForkJoin
    // pool (r16 ADVICE): long blocking Spark actions would starve the
    // shared pool, and a daemon thread never blocks JVM exit. The
    // executor shuts down when the body finishes, so nothing leaks.
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor(
      r => { val t = new Thread(r, "graft-deferred"); t.setDaemon(true); t })
    val f = java.util.concurrent.CompletableFuture.supplyAsync(
      new java.util.function.Supplier[A] { override def get(): A = compute },
      exec)
    exec.shutdown()
    // a failure in a thunk the caller never consumes (its chain threw
    // first) must not vanish silently — background jobs that died are
    // exactly what skews the next measurement
    f.whenComplete((_, err) => if (err != null)
      System.err.println(s"[Ops.deferred] background compute failed " +
        s"(surfaces at consumption if consumed): ${err.getCause}"))
    () => try f.get()
    catch { case e: java.util.concurrent.ExecutionException =>
      throw e.getCause }
  }

  /** Round-robin fan-out for hash-heavy projections (signatures,
    * fingerprints) — skipped ONLY when the input is an
    * already-materialized leaf (a localCheckpoint'd gate batch) that is
    * ALREADY at least defaultParallelism wide. The blind
    * `repartition(defaultParallelism)` these call sites carry exists
    * because signature/fingerprint hashing is genuinely expensive per
    * row (measured this round: letting a 1-partition checkpointed
    * batch flow into winnow fingerprinting un-spread cost ~2× on the
    * whole gate query — per-row hash work dominates the exchange it
    * saves), so a NARROW leaf still gets the spread. Only a leaf that
    * is already wide skips the exchange: re-routing rows that are
    * already spread across the cluster buys nothing and costs a full
    * pass of the batch over the wire (guide §2.4: remove shuffles
    * outright — and at 100 TB the exchange carries the text payload).
    * Non-leaf inputs (raw scans, derived frames) always keep the
    * spread: their split count is the storage layout's accident, not a
    * sizing decision, and inspecting their RDD width would force AQE
    * stage materialization. */
  def spreadForHash(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.getNumPartitions >= par => df
      case _ => df.repartition(par)
    }
  }

  /** Skew-mitigated equi-join: the left (large, skewed) side gets a
    * deterministic salt in [0, nSalts); the right side is replicated
    * once per salt value. A hot key's rows then spread over nSalts
    * shuffle partitions instead of one straggler. Join results are
    * identical to the unsalted join (the salt only routes rows).
    *
    * AQE's skew-join splitting covers sort-merge joins at runtime;
    * explicit salting remains the tool when the skew is extreme or the
    * join is hash-partitioned upstream (e.g. into a bucketed write).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      nSalts: Int, joinType: String = "inner"): DataFrame = {
    require(nSalts > 0)
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "saltedJoin reserves the column name __salt")
    // right/full outer would surface each unmatched (replicated) right
    // row nSalts times — parity with the unsalted join breaks.
    val jt = joinType.toLowerCase.replace("_", "")
    require(!jt.contains("right") && !jt.contains("full") && jt != "outer",
      s"saltedJoin does not support $joinType (replicated right side " +
        "would duplicate unmatched rows); salt the other side instead")
    // Salt derives from the whole left row hash — deterministic, and
    // uniform within a hot key (unlike hashing the key itself, which
    // would put the entire hot key in one salt bucket again).
    val l = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col).toIndexedSeq: _*)), lit(nSalts)))
    val r = right.withColumn("__salt",
      explode(array((0 until nSalts).map(lit): _*)))
    l.join(r, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Exact global row enumeration without the single-task global window.
    *
    * `Window.orderBy(...)` with no partitionBy is correct but funnels
    * the whole table through one task — the straggler that kills a
    * 100 TB run. Same result in three fully-parallel passes:
    *
    *   1. bucket rows by approximate quantiles of the leading order key
    *      (every tie of that key lands in ONE bucket, so bucket
    *      boundaries are consistent with the lexicographic total order
    *      over `orderCols`);
    *   2. `row_number()` inside each bucket — parallel window partitions;
    *   3. add each bucket's exclusive cumulative count (≤ nBuckets rows
    *      collected to the driver, broadcast-joined back).
    *
    * Output is value-identical to `row_number().over(Window.orderBy(...))`
    * (as LONG); quantile error only shifts load balance, never values.
    * Rows with a null leading key fall into bucket 0, matching Spark's
    * NULLS FIRST ascending default.
    *
    * @param leadingNumeric a numeric/castable expression that is
    *        non-strictly monotone in `orderCols.head` (usually the
    *        column itself, or `ts.cast("double")`).
    */
  def withGlobalRowNumber(df: DataFrame, orderCols: Seq[Column],
      leadingNumeric: Column, outCol: String = "rn",
      nBuckets: Int = 32,
      leadingBounds: Option[Seq[Double]] = None): DataFrame =
    bucketedPrefix(df, orderCols, leadingNumeric, nBuckets,
      perRow = lit(1L), outCol = outCol, leadingBounds = leadingBounds)

  /** Exact `ntile(k) OVER (ORDER BY orderCols)` without the global
    * sort. The windowed ntile is a pure function of (global rank, n):
    * the first `n mod k` tiles hold `ceil(n/k)` rows, the rest
    * `floor(n/k)` — so once every row carries its exact global rank
    * (the 3-pass bucketed prefix of [[withGlobalRowNumber]]; the
    * driver only ever sees the nBuckets totals table) the tile is
    * closed-form integer arithmetic against a broadcast 1-row count.
    * Value-identical to the single-task window for every input
    * including ties (same total order over `orderCols` — pass a tie
    * column). The input's lineage is consumed by four jobs (quantiles,
    * bucket totals, the count, the final pass), so it is pinned with a
    * lazy localCheckpoint first — which also satisfies the prefix
    * helpers' determinism contract. For a DESCENDING leading key pass
    * `orderCols.head = col.desc` and `leadingNumeric = -col`. */
  def withGlobalNtile(df: DataFrame, orderCols: Seq[Column],
      leadingNumeric: Column, k: Int, outCol: String = "tile",
      nBuckets: Int = 32): DataFrame = {
    require(k >= 1, s"ntile needs k >= 1, got $k")
    Seq("__nt_rn", "__nt_n").foreach(c =>
      require(!df.columns.contains(c), s"withGlobalNtile reserves $c"))
    val pinned = checkpointKeepPartitioning(df)
    val n = pinned.agg(count(lit(1)).as("__nt_n"))
    withGlobalRowNumber(pinned, orderCols, leadingNumeric, "__nt_rn",
        nBuckets)
      .crossJoin(broadcast(n))
      // base = n DIV k, rem = n mod k; tiles 1..rem are (base+1)-sized.
      // Integer ceil via (a + d - 1) DIV d; the ELSE branch (base = 0
      // only when n < k) is unreachable then because every rank falls
      // inside the first n one-row tiles — CASE evaluates lazily.
      .withColumn(outCol, expr(
        s"""CAST(CASE
           |  WHEN __nt_rn <= (__nt_n % $k) * ((__nt_n DIV $k) + 1)
           |  THEN (__nt_rn + (__nt_n DIV $k)) DIV ((__nt_n DIV $k) + 1)
           |  ELSE (__nt_n % $k) +
           |       (__nt_rn - (__nt_n % $k) * ((__nt_n DIV $k) + 1)
           |        + (__nt_n DIV $k) - 1) DIV (__nt_n DIV $k)
           |END AS INT)""".stripMargin))
      .drop("__nt_rn", "__nt_n")
  }

  /** Exact global running (inclusive prefix) sum of `valueCol` in
    * `orderCols` order — the same three-pass shape as
    * [[withGlobalRowNumber]], because `sum(...).over(Window.orderBy(...))`
    * has the identical single-task straggler. Value-identical to the
    * global window for non-null values; null values contribute 0 (the
    * windowed form instead yields NULL until the first non-null —
    * coalesce upstream if that distinction matters). The per-bucket
    * offset is the exclusive sum of all earlier buckets. */
  def withGlobalRunningSum(df: DataFrame, orderCols: Seq[Column],
      leadingNumeric: Column, valueCol: Column, outCol: String = "cumsum",
      nBuckets: Int = 32): DataFrame = {
    // "exact" is a 64-bit-integer promise: a fractional value column
    // would be silently truncated by the long cast, so refuse it loudly
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.select(valueCol).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"withGlobalRunningSum needs an integral value column, got $dt — " +
        "cast explicitly and accept the rounding, or sum doubles in a " +
        "plain aggregation where exactness isn't order-defined anyway")
    bucketedPrefix(df, orderCols, leadingNumeric, nBuckets,
      perRow = coalesce(valueCol.cast("long"), lit(0L)), outCol = outCol)
  }

  /** Closed-form equal-width bucket bounds for a leading key that is
    * the 52-bit numeric value of a 13-hex-digit md5 prefix
    * (`conv(substr(<md5>, 1, 13), 16, 10)` — the deterministic-shuffle
    * key every hash-ordered caller uses). md5 prefixes are uniform on
    * [0, 16^13), so equal-width bounds balance buckets as well as
    * sampled quantiles — and bucket bounds affect only load balance,
    * never values (ties of the leading key still land in one bucket).
    * Substituting these for `approxQuantile` removes one of the prefix
    * kernel's three full passes over the input: at 100 TB, one fewer
    * pass over the corpus-sized stream per mixer/shard/rank call. */
  def md5PrefixBounds(nBuckets: Int = 32): Seq[Double] = {
    val span = math.pow(16.0, 13)
    (1 until nBuckets).map(i => span * i.toDouble / nBuckets)
  }

  /** Shared three-pass prefix machinery: quantile-bucket on the leading
    * key, windowed prefix inside each bucket (parallel partitions),
    * broadcast each bucket's exclusive offset back. `perRow` is the
    * per-row contribution (1 for enumeration, a value for running sum).
    *
    * The three passes re-evaluate `df`'s lineage (quantiles, bucket
    * totals, the final windowed job). The input must therefore be
    * DETERMINISTIC across jobs — a file scan is; an upstream
    * round-robin repartition, sample, or changing source is not, and
    * would let the collected offsets disagree with the re-bucketed
    * rows. Persist upstream first in that case. */
  private def bucketedPrefix(df: DataFrame, orderCols: Seq[Column],
      leadingNumeric: Column, nBuckets: Int, perRow: Column,
      outCol: String,
      leadingBounds: Option[Seq[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Seq("__gk", "__v", "__bkt", "__off").foreach(c =>
      require(!df.columns.contains(c),
        s"global prefix operators reserve the column name $c"))
    val spark = df.sparkSession
    val keyed = df.withColumn("__gk", leadingNumeric.cast("double"))
      .withColumn("__v", perRow)
    // caller-supplied bounds (a provably-uniform hash key) skip the
    // quantile pass outright — bounds shift only load balance, never
    // values, so the two forms are result-identical
    val bounds = leadingBounds.map(_.toArray.distinct.sorted).getOrElse {
      val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      keyed.stat.approxQuantile("__gk", probes, 0.001).distinct.sorted
    }
    val bucketOf = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("__gk") > lit(b), 1).otherwise(0)
    }
    val bucketed = keyed.withColumn("__bkt", bucketOf)
    // Tiny by construction: one row per bucket. coalesce: sum over an
    // all-null bucket is null and getLong would NPE.
    val totals = bucketed.groupBy("__bkt")
      .agg(coalesce(sum(col("__v")), lit(0L)).as("__t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, t) => val o = acc; acc += t; (b, o) }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("__bkt", "__off")
    val w = Window.partitionBy(col("__bkt")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offDf), "__bkt")
      .withColumn(outCol, sum(col("__v")).over(w) + col("__off"))
      .drop("__bkt", "__gk", "__off", "__v")
  }

  /** Per-group exact running sum — the same three-pass shape as
    * [[withGlobalRunningSum]], partitioned by `groupCol`. A bare
    * `sum().over(Window.partitionBy(group).orderBy(...))` funnels each
    * group through ONE task, which at warehouse scale makes the
    * biggest source the straggler; here buckets come from GLOBAL
    * quantiles of the leading key (sound whenever that key's
    * distribution is group-independent — a hash key is), windows run
    * per (group, bucket) so every partition stays small, and each
    * group's per-bucket offsets come from the tiny (groups × buckets)
    * totals table — computed with a window over THAT table, never a
    * driver fold over per-group state. Same determinism caveat as the
    * global form: the passes re-evaluate `df`'s lineage. */
  def withGroupedRunningSum(df: DataFrame, groupCol: Column,
      orderCols: Seq[Column], leadingNumeric: Column, valueCol: Column,
      outCol: String = "cumsum", nBuckets: Int = 32,
      leadingBounds: Option[Seq[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.select(valueCol).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"withGroupedRunningSum needs an integral value column, got $dt")
    Seq("__gk", "__v", "__bkt", "__off", "__grp", "__t").foreach(c =>
      require(!df.columns.contains(c),
        s"grouped prefix operators reserve the column name $c"))
    val keyed = df.withColumn("__grp", groupCol)
      .withColumn("__gk", leadingNumeric.cast("double"))
      .withColumn("__v", coalesce(valueCol.cast("long"), lit(0L)))
    val bounds = leadingBounds.map(_.toArray.distinct.sorted).getOrElse {
      val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      keyed.stat.approxQuantile("__gk", probes, 0.001).distinct.sorted
    }
    val bucketOf = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("__gk") > lit(b), 1).otherwise(0)
    }
    val bucketed = keyed.withColumn("__bkt", bucketOf)
    val totals = bucketed.groupBy("__grp", "__bkt")
      .agg(coalesce(sum(col("__v")), lit(0L)).as("__t"))
    val offs = totals.withColumn("__off",
        coalesce(sum(col("__t")).over(
          Window.partitionBy("__grp").orderBy("__bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__grp", "__bkt", "__off")
    val w = Window.partitionBy(col("__grp"), col("__bkt"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offs), Seq("__grp", "__bkt"))
      .withColumn(outCol, sum(col("__v")).over(w) + col("__off"))
      .drop("__grp", "__gk", "__bkt", "__off", "__v")
  }

  /** Deterministic training-shard assignment: rank rows by the md5 of
    * `keyCol` — a reproducible pseudo-random shuffle — and cut that
    * order into fixed-size shards (`shard_id` = zero-based rank div
    * `shardSize`). The write-side step between curation and the
    * trainer: every engine and every rerun produces the identical
    * shard for every row, so shard manifests are diffable and a
    * resumed job never re-deals the deck. The global rank runs through
    * the same 3-pass bucketed prefix as [[withGlobalRowNumber]]
    * (quantile buckets on the 52-bit numeric md5 prefix — monotone in
    * the full-hash string order, so bucket boundaries respect the
    * total order), never a single-task global window. */
  def withHashShardId(df: DataFrame, keyCol: Column, shardSize: Int,
      nBuckets: Int = 32): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    Seq("__shx", "__shrn").foreach(c =>
      require(!df.columns.contains(c), s"withHashShardId reserves $c"))
    val keyed = df.withColumn("__shx",
      md5(keyCol.cast("string").cast("binary")))
    withGlobalRowNumber(keyed, Seq(col("__shx"), keyCol),
        expr("conv(substr(__shx, 1, 13), 16, 10)").cast("double"),
        "__shrn", nBuckets, leadingBounds = Some(md5PrefixBounds(nBuckets)))
      .withColumn("shard_id",
        floor((col("__shrn") - 1) / lit(shardSize.toDouble)).cast("long"))
      .drop("__shx", "__shrn")
  }

  /** The k-th smallest value of `valueCol` under the (valueCol, tieCol)
    * total order, as a lazy 1-row frame (column `kth_value`) — the
    * scale-safe exact order statistic for corpus-relative cutoffs
    * ("drop the bottom quartile", "keep the best two terciles") where
    * k GROWS WITH n. The tempting `orderBy(value, tie).limit(k)
    * .agg(max)` form plans as TakeOrderedAndProject, which keeps k rows
    * per partition and merges k rows on the driver — with k ∝ n that
    * funnels a constant fraction of the corpus through the driver, a
    * scale-killer. Here every row instead gets its exact global rank
    * through the 3-pass bucketed prefix ([[withGlobalRowNumber]]: the
    * driver only ever sees the nBuckets-row totals table) and the
    * statistic is a map-side-combined 1-row `max(value) WHERE rank ≤ k`
    * aggregate. Value-identical to the limit form for every k
    * (ranks are a total order; ties broken by `tieCol`). If the input
    * has fewer than k rows the result is the overall max (what
    * `limit(k)` would also yield); if it is empty the single output row
    * holds NULL — callers wanting an Option should use
    * [[kthOrderedValue]]. Same determinism caveat as the other prefix
    * helpers: three passes re-evaluate `df`'s lineage, so persist
    * nondeterministic inputs first. */
  def kthOrderedValueFrame(df: DataFrame, valueCol: Column, tieCol: Column,
      k: Long, nBuckets: Int = 32): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val slim = df.select(valueCol.as("__ksv"), tieCol.as("__kst"))
    withGlobalRowNumber(slim, Seq(col("__ksv"), col("__kst")),
        col("__ksv"), "__ksr", nBuckets)
      .where(col("__ksr") <= k)
      .agg(max(col("__ksv")).as("kth_value"))
  }

  /** Eager typed form of [[kthOrderedValueFrame]]: `Some(kth value)`,
    * or `None` on an empty input (the aggregate row holds NULL there —
    * surfaced as None rather than a downstream NPE). */
  def kthOrderedValue[T](df: DataFrame, valueCol: Column, tieCol: Column,
      k: Long, nBuckets: Int = 32): Option[T] = {
    val row = kthOrderedValueFrame(df, valueCol, tieCol, k, nBuckets).head()
    if (row.isNullAt(0)) None else Some(row.getAs[T](0))
  }

  /** Unpersists the checkpoint blocks behind `df`'s LogicalRDD leaves —
    * the Centrality per-iteration discipline, shared so long-lived
    * sessions making repeated serve/weight calls don't accumulate
    * executor block storage. Only safe once EVERY consumer of those
    * blocks has materialized: typically the checkpointed frame fed an
    * eager loop (pageRank iterations) or a bounded collect, and what
    * the caller returns references later checkpoints or driver-local
    * rows, never these blocks. Leaves that `keep`'s plans also read
    * (an input the caller still consumes) stay pinned. */
  def freeLogicalRddBlocks(df: DataFrame, keep: DataFrame*): Unit = {
    def rdds(d: DataFrame) = d.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    val kept = keep.flatMap(rdds).map(_.id).toSet
    rdds(df).filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
  }
}
