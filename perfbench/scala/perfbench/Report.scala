package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** Per-layer sums from the traced operations, and the run's result and
  * span dump files. */
object Report {

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Layer figures a workload may not produce (its layer does nothing
    * there); they read 0. */
  private val Zero: Map[String, Double] = Seq("incremental.write_amp",
    "sources.bytes_written", "sources.files_written",
    "streaming.micro_batches", "indexstore.files_live",
    "indexstore.bytes_live", "indexstore.compactions", "sink.batches",
    "sink.rows", "sink.retries", "sink.poisoned").map(_ -> 0.0).toMap

  /** Per-operation means of every per-layer metric. */
  def layers(tr: Tracer, extras: Seq[Map[String, Double]],
      runExtras: Map[String, Double], pinned: (Double, Double)): Map[String, Double] = {
    val l = tr.listener
    val spans = tr.spans.toSeq
    val jobs = l.jobs.toSeq.filter(_.endMs >= 0)
    val byOp = spans.groupBy(_.opId)
    def jobsIn(lo: Long, hi: Long) = jobs.filter(j => j.submitMs >= lo && j.submitMs <= hi)
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stageIds).distinct.flatMap(l.stages.get)
    def sqlIn(lo: Long, hi: Long) = l.sqlStarts.count(t => t >= lo && t <= hi).toDouble
    def gapS(s: Span, js: Seq[JobRec]) = math.max(0.0,
      s.wallS - Layers.unionMs(js.map(j => (j.submitMs, j.endMs)), s.startMs, s.endMs) / 1000.0)
    def roots(name: String) = spans.filter(s => s.parent < 0 && s.name == name)

    val perOp = roots("op").map { root =>
      val mine = byOp(root.opId)
      val js = jobsIn(root.startMs, root.endMs)
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val st = stagesOf(js)
      m("engine.sql_executions") = sqlIn(root.startMs, root.endMs)
      m("engine.jobs") = js.size
      m("engine.stages") = st.size
      m("engine.tasks") = st.map(_.tasks).sum
      m("engine.task_s") = st.map(_.runMs).sum / 1000.0
      m("engine.driver_gap_s") = gapS(root, js)
      m("engine.shuffle_write_bytes") = st.map(_.shuffleWrite).sum.toDouble
      m("engine.spill_bytes") = st.map(_.spill).sum.toDouble
      m("engine.gc_s") = st.map(_.gcMs).sum / 1000.0
      js.foreach { j =>
        val inner = mine.filter(s => s.parent >= 0 && s.startMs <= j.submitMs &&
          j.submitMs <= s.endMs).sortBy(s => (s.startMs, s.id)).lastOption
        val mod = Layers.attribute(j, inner)
        val sj = stagesOf(Seq(j))
        m(s"$mod.jobs") += 1
        m(s"$mod.task_s") += sj.map(_.runMs).sum / 1000.0
        m(s"$mod.shuffle_write_bytes") += sj.map(_.shuffleWrite).sum.toDouble
      }
      mine.filter(_.parent == root.id).foreach { s =>
        m(s"${s.module}.wall_s") += s.wallS
        m(s"${s.module}.sql_executions") += sqlIn(s.startMs, s.endMs)
        m(s"${s.module}.driver_gap_s") += gapS(s, jobsIn(s.startMs, s.endMs))
      }
      m.toMap
    }
    // probes follow their operation; their jobs count for the probe's
    // module, per operation
    val probeJobs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots("probe").foreach { p =>
      jobsIn(p.startMs, p.endMs).foreach { j =>
        val mod = Layers.attribute(j, Some(p))
        probeJobs(s"$mod.jobs") += 1
        probeJobs(s"$mod.task_s") += stagesOf(Seq(j)).map(_.runMs).sum / 1000.0
      }
    }
    val keys = (perOp.flatMap(_.keys) ++ probeJobs.keys).distinct
    val opMeans = keys.map(k => k -> (mean(perOp.map(_.getOrElse(k, 0.0))) +
      probeJobs(k) / math.max(perOp.size, 1))).toMap

    val kernel = roots("functions.kernel").map { s =>
      val js = jobsIn(s.startMs, s.endMs)
      (s.wallS, stagesOf(js).map(_.runMs).sum / 1000.0)
    }
    val probeInput = roots("probe").filter(_.module == "indexstore").map(s =>
      stagesOf(jobsIn(s.startMs, s.endMs)).map(_.inputBytes).sum.toDouble)
    val extraKeys = extras.flatMap(_.keys).distinct

    val all = Layers.Modules.flatMap(m => Seq(s"$m.jobs", s"$m.task_s",
      s"$m.shuffle_write_bytes", s"$m.wall_s", s"$m.sql_executions",
      s"$m.driver_gap_s")).map(k => k -> opMeans.getOrElse(k, 0.0)).toMap
    Zero ++ all ++ opMeans.filter(_._1.startsWith("engine.")) ++
      extraKeys.map(k => k -> mean(extras.flatMap(_.get(k)))).toMap ++
      runExtras ++ Map(
        "functions.wall_s" -> mean(kernel.map(_._1)),
        "functions.task_s" -> mean(kernel.map(_._2)),
        "indexstore.probe_input_bytes" -> mean(probeInput),
        "ops.pinned_bytes.max" -> pinned._1,
        "ops.pinned_bytes.end" -> pinned._2)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      .mkString("{", ", ", "}")

  def write(a: Main.Args, correct: Boolean, attempted: Int, failed: Int,
      e2e: Map[String, Double], layer: Map[String, Double],
      cyc: Stats.Summary, prb: Stats.Summary, info: Map[String, Double],
      samples: Map[String, Seq[Double]], tr: Tracer): Unit = {
    val detail = info ++ Map(
      "cycle_s.n" -> cyc.n.toDouble, "cycle_s.tail_pct" -> cyc.tailPct,
      "probe_s.n" -> prb.n.toDouble, "probe_s.tail_pct" -> prb.tailPct)
    val out = new PrintWriter(new File(a.result), "UTF-8")
    try out.println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "end_to_end": ${obj(e2e)}, """ +
      s""""per_layer": ${obj(layer)}, "detail": ${obj(detail)}, """ +
      s""""samples": ${samples.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${str(k)}: ${v.map(num).mkString("[", ", ", "]")}" }.mkString("{", ", ", "}")}}""")
    finally out.close()
    if (a.trace) dumpSpans(a, tr)
  }

  /** Spans, jobs and stages of the traced operations, one JSON object
    * per line. */
  private def dumpSpans(a: Main.Args, tr: Tracer): Unit = {
    val dir = new File(s"${a.work}/trace")
    dir.mkdirs()
    val out = new PrintWriter(new File(dir, s"${a.workload}-s${a.seed}.jsonl"), "UTF-8")
    try {
      tr.spans.foreach { s =>
        out.println(s"""{"span": ${s.id}, "op": ${s.opId}, "parent": ${s.parent}, """ +
          s""""name": ${str(s.name)}, "module": ${str(s.module)}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_s": ${s.wallS}}""")
      }
      tr.listener.jobs.foreach { j =>
        out.println(s"""{"job": ${j.id}, "submit_ms": ${j.submitMs}, "end_ms": ${j.endMs}, """ +
          s""""call_site": ${str(j.callSite)}, "stages": ${j.stageIds.mkString("[", ",", "]")}}""")
      }
      tr.listener.stages.values.toSeq.sortBy(_.id).foreach { s =>
        out.println(s"""{"stage": ${s.id}, "name": ${str(s.name)}, "tasks": ${s.tasks}, """ +
          s""""run_ms": ${s.runMs}, "gc_ms": ${s.gcMs}, "shuffle_write": ${s.shuffleWrite}, """ +
          s""""spill": ${s.spill}, "input_bytes": ${s.inputBytes}, "output_bytes": ${s.outputBytes}}""")
      }
    } finally out.close()
  }
}
