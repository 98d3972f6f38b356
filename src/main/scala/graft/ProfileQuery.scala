package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool (not part of the driver contract): per-statement wall
  * profile of one registered query's FIRST (cold) execution — the
  * regime the driver bench times lifecycle drills in. [[ColdBench]]
  * gives the one cold number; this splits it into the sequential
  * driver-side statement chain (SQL executions + bare RDD jobs like
  * eager localCheckpoints), which is the cost structure the
  * optimization rounds actually work on (statements × fixed overhead
  * at fixture scale — see OPTIMIZATION_r16.md "Cost structure
  * finding"). Output: one JSON line per job with its wall span, group
  * label (execution id or job group), and first-line description, then
  * a per-label rollup. Gaps between consecutive jobs are DRIVER time
  * (planning, collects, driver-side folds) — printed as the residual.
  *
  * Usage: runMain graft.ProfileQuery [sfDir] queryName
  */
object ProfileQuery {
  // `end` is written by the listener thread and read by main — volatile
  // for the happens-before (r16 ADVICE: the CHM put alone orders only
  // the put itself, a plain var could read stale 0 and drop the span)
  private final class JobSpan(val id: Int, val start: Long,
      @volatile var end: Long, val desc: String, val group: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse(
      sys.error("usage: ProfileQuery sfDir query"))
    require(SparkEntry.queries.contains(name), s"unknown query $name")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map("sql-" + _).getOrElse("rdd")
        jobs.put(e.jobId, new JobSpan(e.jobId, System.nanoTime(), 0L,
          d.takeWhile(_ != '\n').take(100), g))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    jobs.clear()
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.selectExpr("bit_xor(xxhash64(struct(*)))").collect()
    val t0 = System.nanoTime()
    run(SparkEntry.queries(name)(spark, sfDir))
    val t1 = System.nanoTime()
    // drain the listener deterministically instead of one fixed sleep
    // (r16 ADVICE: a bare 500 ms sleep can silently drop late job-end
    // events): every started job HAS ended (the action returned), so
    // poll until every recorded span carries its end, bounded at 10 s
    // (listenerBus.waitUntilEmpty is private[spark])
    locally {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.values.asScala.exists(_.end == 0L) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    val spans = {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
    }
    spans.foreach { s =>
      println(f"""{"job":${s.id},"t0":${(s.start - t0) / 1e9}%.3f,""" +
        f""""sec":${(s.end - s.start) / 1e9}%.3f,"grp":"${s.group}",""" +
        s""""desc":${Bench.jstr(s.desc)}}""")
    }
    // per-execution rollup (wall span of each group, overlap-aware: the
    // union of its job intervals)
    val byGroup = spans.groupBy(_.group).map { case (g, ss) =>
      val ordered = ss.sortBy(_.start)
      var covered = 0L
      var curS = ordered.head.start; var curE = ordered.head.end
      ordered.tail.foreach { s =>
        if (s.start <= curE) curE = math.max(curE, s.end)
        else { covered += curE - curS; curS = s.start; curE = s.end }
      }
      covered += curE - curS
      (g, ordered.head.start, covered / 1e9, ss.size)
    }.toSeq.sortBy(_._2)
    byGroup.foreach { case (g, st, sec, n) =>
      println(f"""{"grp":"$g","t0":${(st - t0) / 1e9}%.3f,""" +
        f""""covered_sec":$sec%.3f,"n_jobs":$n}""")
    }
    val jobCovered = {
      val ordered = spans.sortBy(_.start)
      if (ordered.isEmpty) 0.0
      else {
        var covered = 0L
        var curS = ordered.head.start; var curE = ordered.head.end
        ordered.tail.foreach { s =>
          if (s.start <= curE) curE = math.max(curE, s.end)
          else { covered += curE - curS; curS = s.start; curE = s.end }
        }
        covered += curE - curS
        covered / 1e9
      }
    }
    println(f"""{"q":"$name","cold_sec":${(t1 - t0) / 1e9}%.3f,""" +
      f""""jobs_covered_sec":$jobCovered%.3f,""" +
      f""""driver_gap_sec":${(t1 - t0) / 1e9 - jobCovered}%.3f,""" +
      f""""n_jobs":${spans.size}}""")
    spark.stop()
  }
}
