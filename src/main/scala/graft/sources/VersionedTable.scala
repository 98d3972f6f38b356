package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Atomic commit protocol for a versioned parquet table — the merge
  * target's transactional guarantee.
  *
  * The reference's upsert is transactional: `INSERT … ON CONFLICT DO
  * UPDATE` commits or rolls back as a unit
  * (/root/reference/sync-db2-viewer.py:17-80), so a crashed sync never
  * leaves readers a half-applied table. A bare versioned-directory
  * overwrite loses that: a crash between writing v(N+1) and whatever
  * resolves "latest" strands readers on a torn choice. This protocol
  * restores the guarantee with the classic pointer swap:
  *
  *   1. write the new version's data to `base/v(N+1)` (never touching
  *      the version readers are on), then its schema to the sidecar
  *      `base/v(N+1)/_schema.json`;
  *   2. write the version number to a temp pointer file and fsync it;
  *   3. atomically rename the temp file over `base/_COMMIT`.
  *
  * Readers resolve `_COMMIT` → `base/vN`. A crash anywhere before step 3
  * leaves the pointer — and every reader — on the previous consistent
  * version; the orphaned data directory is overwritten by the next
  * attempt. Step 3 is a single-file rename: atomic on POSIX and HDFS;
  * on S3-style stores the equivalent is a conditional PUT of the
  * pointer object. IncrementalSpec drives the crash window.
  *
  * The sidecar makes a version self-describing: [[read]] hands its
  * schema to the parquet reader, which then skips schema inference — a
  * one-task Spark job per read that would only re-derive what the
  * writer just wrote. Spark's file listing ignores `_`-prefixed files,
  * [[vacuum]] deletes the sidecar with its directory, and a re-stage of
  * an uncommitted version replaces it (the parquet overwrite deletes
  * the directory first). A crash between the parquet write and the
  * sidecar write leaves an uncommitted version without a sidecar; a
  * version directory without one — also any staged before sidecars
  * existed — is read with the inferred schema, the only fallback.
  *
  * Durability boundary, stated honestly: the protocol orders WRITER
  * crashes (process death at any step), not media-level power loss —
  * step 1's parquet data is written by Spark tasks without an fsync,
  * so a power cut after step 3 could in principle persist the pointer
  * but not all data pages. Closing that window needs data-side
  * durability from the storage layer: HDFS replication/hflush or an
  * object store's committed-PUT semantics give it; a local filesystem
  * demo relies on the OS flushing data before anyone reads it. The
  * same boundary applies to every parquet-writing engine without a
  * write-ahead log.
  */
object VersionedTable {

  private def pointer(base: String) = Paths.get(base, "_COMMIT")

  private def sidecar(base: String, version: Int) =
    Paths.get(base, s"v$version", "_schema.json")

  /** The schema a parquet read infers for data written with `t`: every
    * field, array element and map value nullable, recursively, as the
    * file source resolves it (`DataType.asNullable`, which is private to
    * Spark). Field names, types and metadata are kept. */
  private def asRead(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asRead(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asRead(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asRead(m.keyType), asRead(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The committed version, if any commit has ever succeeded. */
  def currentVersion(base: String): Option[Int] = {
    val p = pointer(base)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  /** Stage `df` as version `version` WITHOUT committing it — readers
    * stay on the current committed version until [[commit]] runs. */
  def stage(df: DataFrame, base: String, version: Int): Unit = {
    df.write.mode("overwrite").parquet(s"$base/v$version")
    Files.writeString(sidecar(base, version), asRead(df.schema).json)
  }

  /** Atomically publish `version`: temp pointer + fsync + rename. */
  def commit(base: String, version: Int): Unit = {
    new File(base).mkdirs()
    val tmp = Paths.get(base, s"_COMMIT.tmp.$version")
    val ch = Files.newByteChannel(tmp, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.SYNC)
    try ch.write(java.nio.ByteBuffer.wrap(
      version.toString.getBytes(StandardCharsets.UTF_8)))
    finally ch.close()
    Files.move(tmp, pointer(base), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stage + commit in order — the happy path of one sync cycle. */
  def write(df: DataFrame, base: String, version: Int): Unit = {
    stage(df, base, version)
    commit(base, version)
  }

  /** Read the committed version. Throws if nothing was ever committed. */
  def read(spark: SparkSession, base: String): DataFrame = {
    val v = currentVersion(base).getOrElse(
      throw new IllegalStateException(s"no committed version under $base"))
    read(spark, base, v)
  }

  /** Read `version`, which the caller resolved through [[currentVersion]]
    * (or a retained predecessor of it) — never an uncommitted one. */
  def read(spark: SparkSession, base: String, version: Int): DataFrame = {
    val dir = s"$base/v$version"
    val schema = sidecar(base, version)
    if (Files.exists(schema)) spark.read
      .schema(DataType.fromJson(Files.readString(schema)).asInstanceOf[StructType])
      .parquet(dir)
    else spark.read.parquet(dir)
  }

  /** Deletes version directories strictly older than committed − `keep`
    * and returns the deleted version numbers. Never touches the
    * committed version, the `keep` retained predecessors (in-flight
    * readers may still hold them), or anything NEWER than the pointer
    * (a staged, not-yet-committed attempt). Safe to run any time after
    * a commit; a no-op when nothing was ever committed. */
  def vacuum(base: String, keep: Int = 1): Seq[Int] = currentVersion(base)
    .map { committed =>
      val dirs = Option(new File(base).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      val stale = dirs.filter(_.getName.drop(1).toInt < committed - keep)
      stale.foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(d))
      stale.map(_.getName.drop(1).toInt).toSeq.sorted
    }.getOrElse(Seq.empty)
}
