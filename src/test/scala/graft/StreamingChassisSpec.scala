package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import graft.operators.IndexStore
import graft.streaming.{StreamingIndexIngest, StreamingProbe}

/** What the streaming layer's shared micro-batch drain promises beyond
  * each stream's own results: throwaway checkpoints do not pile up, and
  * one gate drain runs a pinned number of statements. */
class StreamingChassisSpec extends SparkSpec {

  private def checkpoints(workDir: String): Seq[String] =
    Option(new File(workDir).list()).toSeq.flatten.filter(_.startsWith("ckpt"))

  test("a run that checkpoints into a fresh directory leaves none behind") {
    val workDir = "/tmp/graft_chassis_probe"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(workDir))
    StreamingProbe.run(spark, sf0001, workDir).collect()
    StreamingProbe.run(spark, sf0001, workDir).collect()
    assert(checkpoints(workDir).isEmpty,
      s"$workDir keeps checkpoints ${checkpoints(workDir).mkString(", ")}")
  }

  test("one gate drain of one staged file runs a pinned number of statements") {
    val work = "/tmp/graft_chassis_gate"
    val (ex, wi, mh) = ("graft_t_cgx", "graft_t_cgw", "graft_t_cgm")
    Seq(s"${ex}_fps", s"${wi}_wins", s"${mh}_bands", s"${mh}_shingles")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.commons.io.FileUtils.deleteQuietly(new File(work))
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").where(col("doc_id") < 500)
    IndexStore.buildGateIndexes(docs, "doc_id", "text", ex, wi, mh,
      s"$work/idx", window = 40, guarantee = 10)
    val (b1, _) = StreamingIndexIngest.gateBatches(docs)
    StreamingIndexIngest.stageBatchFile(b1, work, s"$work/src", "b1")

    val statements = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart =>
          statements.incrementAndGet(); ()
        case _ =>
      }
    }
    org.apache.spark.graft.TestBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamingIndexIngest.runGateStream(spark, s"$work/src", s"$work/sink",
        s"$work/ckpt", ex, wi, mh)
      org.apache.spark.graft.TestBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(StreamingIndexIngest.readGateSink(spark, s"$work/sink").count() ==
      b1.count())
    assert(statements.get == GateDrainStatements,
      s"one gate drain ran ${statements.get} SQL executions")
  }

  /** SQL executions of that drain: the micro-batch itself (the one ROOT
    * execution; every statement of its body nests under it) plus the
    * gate check's stages, the sink write, the append source's pin and
    * the three appends. A statement added to the gate body fails here. */
  private val GateDrainStatements = 31
}
