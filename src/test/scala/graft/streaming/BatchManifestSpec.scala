package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BatchManifest.Entry

/** The manifest protocol on plain files — no Spark session. */
class BatchManifestSpec extends AnyFunSuite {

  private def withSink(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_manifest_spec")
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    (): Unit
  }

  private def manifest(sink: String, name: String): Path =
    Path.of(sink, "_manifest", name)

  test("the guarded commit runs nothing for a committed id") {
    withSink { sink =>
      BatchManifest.guarded(sink, 3L)(_ => "first")
      var ran = false
      BatchManifest.guarded(sink, 3L) { _ => ran = true; "second" }
      assert(!ran, "a replay of a committed batch ran its body")
      assert(BatchManifest.entries(sink) == Seq(Entry(3L, "first")))
    }
  }

  test("an uncommitted id with a leftover temp file and partial directory " +
      "runs the body and commits what it returns") {
    withSink { sink =>
      BatchManifest.guarded(sink, 0L)(_ => "10")
      // a crash after the batch directory was half written and the temp
      // entry was written, but before the rename
      write(manifest(sink, ".tmp-1"), "stale")
      write(Path.of(sink, "b1", "part-00000.parquet"), "partial")
      var seen = Seq.empty[Entry]
      BatchManifest.guarded(sink, 1L) { committed =>
        seen = committed
        "32"
      }
      assert(seen == Seq(Entry(0L, "10")),
        "the body sees the committed entries, not the crashed one")
      assert(BatchManifest.entries(sink) ==
        Seq(Entry(0L, "10"), Entry(1L, "32")))
      assert(!Files.exists(manifest(sink, ".tmp-1")))
      assert(BatchManifest.committedDirs(sink, sink) ==
        Seq(s"$sink/b0", s"$sink/b1"))
    }
  }

  test("entries come back in id order with their content, skipping temp " +
      "and non-digit names") {
    withSink { sink =>
      Seq("10" -> "c", "2" -> "b", "1" -> "a", ".tmp-3" -> "x",
        "notes" -> "y", "7a" -> "z").foreach { case (name, content) =>
        write(manifest(sink, name), content)
      }
      Files.createDirectories(manifest(sink, "4")) // a directory, not an entry
      assert(BatchManifest.entries(sink) ==
        Seq(Entry(1L, "a"), Entry(2L, "b"), Entry(10L, "c")))
    }
  }

  test("a sink that never committed has no entries") {
    withSink(sink => assert(BatchManifest.entries(s"$sink/none").isEmpty))
  }
}
