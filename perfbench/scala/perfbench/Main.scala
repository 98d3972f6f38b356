package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark process: one Spark session at local[cores], one
  * closed-loop client. Usage (normally through run.py):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --cores C --work DIR --result FILE
  *
  * Order of events: generate inputs (untimed), set up `SetupReps` times
  * (timed, median = setup_s; the repeats also warm the JIT and the
  * session's caches), the workload's untimed warm-up operations, then
  * operations with their probes until `seconds` have passed and at
  * least `minOps` operations have run, then the final correctness check.
  *
  * With --trace 1 set-up runs once, at least one warm-up operation runs,
  * and the timed operations are traced in the pattern untraced, traced,
  * traced, untraced (at least one such block), so per-layer figures and
  * the tracing overhead come from the same warm process, and each side
  * holds as many odd as even operations (on curation_gate every second
  * drain compacts). Then `engine.core_scaling` is measured on a small
  * backfill at local[cores] and at local[1].
  */
object Main {

  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, result: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cores").toInt, m("work"), m("result"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, a: Args): Workload = {
    val in = s"${a.work}/in/$name-s${a.seed}"
    val run = s"${a.work}/run"
    name match {
      case "sync_cycle" => new SyncCycle(spark, a.seed, a.cores, in, run,
        initial = 20000, delta = 250, cycles = 20)
      case "backfill" => new Backfill(spark, a.seed, a.cores, in, run,
        rowsPerYear = 6000)
      case "curation_gate" => new CurationGate(spark, a.seed, a.cores, in, run,
        corpusDocs = 5000, batches = 16, compactEvery = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores, a.work)
    val tr = new Tracer(spark)
    val w = workload(a.workload, spark, a)
    var attempted = 0
    var failed = 0
    val opS = mutable.ArrayBuffer.empty[Double]
    val probeS = mutable.ArrayBuffer.empty[Double]
    val tracedOpS = mutable.ArrayBuffer.empty[Double]
    val extras = mutable.ArrayBuffer.empty[Map[String, Double]]
    var rows = 0L
    var pinnedMax = 0.0
    var pinnedEnd = 0.0
    def pinned(): Unit = if (a.trace) {
      pinnedEnd = spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum
      pinnedMax = math.max(pinnedMax, pinnedEnd)
    }

    val start = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"perfbench: $name at ${(System.nanoTime() - start) / 1e9}%.1f s")
    w.generate()
    phase("inputs ready")
    val setupS = (1 to (if (a.trace) 1 else SetupReps)).map(_ => timed(w.setup())._2)
    phase("set-up done")
    val warmupOps = if (a.trace) math.max(w.warmupOps, 1) else w.warmupOps
    val minOps = if (a.trace) math.max(w.minOps, 4) else w.minOps
    (1 to warmupOps).foreach { _ => w.op(tr); w.probe(tr) }

    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < a.seconds || i < minOps || (a.trace && i % 4 != 0)) && w.hasNext) {
      val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
      tr.set(traced)
      attempted += 1
      val ((n, ok), dt) = timed(
        try tr.span("op", "engine")(w.op(tr))
        catch { case e: Exception => System.err.println(s"op failed: $e"); (0L, false) })
      if (!ok) failed += 1
      rows += n
      pinned()
      val probeTimes = (1 to w.probesPerOp).map { _ =>
        attempted += 1
        val (pok, pt) = timed(
          try w.probe(tr)
          catch { case e: Exception => System.err.println(s"probe failed: $e"); false })
        if (!pok) failed += 1
        pt
      }
      if (traced) {
        tracedOpS += dt
        extras += w.layerExtras(tr)
        tr.set(false)
      } else { opS += dt; probeS ++= probeTimes }
      i += 1
    }
    val phaseS = elapsed
    tr.set(false)
    phase("timed phase done")

    var correct = try w.check() catch {
      case e: Exception => System.err.println(s"check failed: $e"); false
    }
    attempted += 1
    if (!correct) failed += 1
    phase("check done")

    val layer: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val base = Report.layers(tr, extras.toSeq, w.runExtras,
          (pinnedMax, pinnedEnd))
        val overhead = Stats.median(tracedOpS.toSeq) - Stats.median(opS.toSeq)
        attempted += 1
        val scaling = try coreScaling(spark, a, phase) catch {
          case e: Exception =>
            System.err.println(s"core scaling failed: $e")
            failed += 1
            correct = false
            0.0
        }
        base ++ Map("engine.core_scaling" -> scaling, "trace.overhead_s" -> overhead)
      }

    val cyc = Stats.summary(opS.toSeq)
    val prb = Stats.summary(probeS.toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "cycle_s.p50" -> cyc.p50, "cycle_s.tail" -> cyc.tail,
      "probe_s.p50" -> prb.p50, "probe_s.tail" -> prb.tail,
      "rows_per_s" -> rows / phaseS)
    Report.write(a, correct, attempted, failed, e2e, layer, cyc, prb,
      Map("input_rows" -> w.inputRows.toDouble, "input_bytes" -> w.inputBytes.toDouble,
        "ops" -> i.toDouble, "phase_s" -> phaseS),
      Map("cycle_s" -> opS.toSeq, "probe_s" -> probeS.toSeq), tr)
    spark.stop()
  }

  /** Backfill throughput at local[cores] ÷ the same at local[1]: the
    * case where cores matter, whatever the workload. A backfill of two
    * years of 30,000 rows is set up and refreshed once on the run's
    * session; then the same JVM restarts Spark at local[1] and repeats
    * it. Set-up is a refresh of one year, so both timed refreshes run
    * warm code paths. */
  val ScalingRowsPerYear = 30000
  val ScalingYears: Seq[Int] = 2023 to 2024

  private def coreScaling(spark: SparkSession, a: Args,
      phase: String => Unit): Double = {
    val in = s"${a.work}/in/${a.workload}-s${a.seed}/scaling"
    def rate(s: SparkSession, cores: Int): Double = {
      val b = new Backfill(s, a.seed, cores, in, s"${a.work}/run/scaling",
        ScalingRowsPerYear, ScalingYears)
      b.generate()
      b.setup()
      val ((rows, _), t) = timed(b.op(new Tracer(s)))
      phase(f"scaling refresh at local[$cores] took $t%.2f s")
      require(b.check(), "scaling backfill: output differs from normalize")
      rows / t
    }
    val full = rate(spark, a.cores)
    spark.stop()
    val one = session(1, a.work)
    try full / rate(one, 1) finally one.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolation percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  final case class Summary(n: Int, p50: Double, tail: Double, tailPct: Double)

  val Ladder: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** `tail` is the highest percentile of the ladder that still has at
    * least ten samples above it; below 20 samples it falls back to p50. */
  def summary(xs: Seq[Double]): Summary = {
    val n = xs.size
    val p = Ladder.find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    Summary(n, median(xs), pct(xs, p), p)
  }
}
