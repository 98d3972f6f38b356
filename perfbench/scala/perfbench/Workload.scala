package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

/** One benchmark workload. `generate` makes the seeded inputs (untimed),
  * `setup` builds the starting state (timed as setup_s, run several
  * times), `op` and `probe` are the closed loop's two timed steps, and
  * `check` compares the final state with an independent computation. */
trait Workload {
  /** Rows and bytes of the generated inputs, for the run's record. */
  def inputRows: Long
  def inputBytes: Long

  def generate(): Unit
  def setup(): Unit

  /** Untimed operation/probe pairs between set-up and the timed phase,
    * for code paths set-up does not warm. */
  def warmupOps: Int = 0

  /** Probes after each operation, each timed on its own. */
  def probesPerOp: Int = 1

  /** Timed operations a run makes even when `--seconds` has passed. */
  def minOps: Int = 4

  /** False once the pre-generated inputs are used up. */
  def hasNext: Boolean

  /** One operation. Returns the source rows it processed and whether its
    * own outputs checked out. */
  def op(tr: Tracer): (Long, Boolean)

  /** One read of the freshly committed state; true if it checked out. */
  def probe(tr: Tracer): Boolean

  /** Per-layer figures measured outside the timed span of the last
    * traced operation (on-disk sizes, the normalize kernel probe). */
  def layerExtras(tr: Tracer): Map[String, Double]

  /** Layer figures known only at the end of the run. */
  def runExtras: Map[String, Double] = Map.empty

  def check(): Boolean
}

object Workload {
  /** count and bit_xor(xxhash64(struct(*))) — the repo's fixed-point
    * comparison; `cols` fixes the column order on both sides. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.selectExpr(cols.map(c => s"`$c`"): _*)
      .selectExpr("count(*)", "coalesce(bit_xor(xxhash64(struct(*))), 0)")
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Parquet files and their bytes under `dir`. */
  def dirFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length
    walk(new File(dir))
  }

  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  def exists(path: String): Boolean = new File(path).exists

  def touch(path: String): Unit = { new File(path).createNewFile(); () }
}
