package graft.engine

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The memo's one eviction rule and the directory stamp, without Spark. */
class SessionMemoSpec extends AnyFunSuite {

  /** A memo whose computes and releases append to one event log. */
  private final class Logged {
    val log = ArrayBuffer.empty[String]
    val memo = new SessionMemo[String, String](v => log += s"release:$v")
    /** Directories that no longer exist. */
    val gone = scala.collection.mutable.Set.empty[String]
    def get(app: String, key: String, stamp: Option[Long], v: String): String =
      memo.get(app, key, s"/$key", stamp, p => !gone(p)) { log += s"compute:$v"; v }
  }

  test("a hit computes once") {
    val m = new Logged
    assert(m.get("app", "k", Some(1L), "v1") == "v1")
    assert(m.get("app", "k", Some(1L), "v2") == "v1")
    assert(m.log == Seq("compute:v1"))
  }

  test("a changed stamp releases the old value, then recomputes") {
    val m = new Logged
    m.get("app", "k", Some(1L), "v1")
    m.get("app", "other", Some(1L), "w1")
    assert(m.get("app", "k", Some(2L), "v2") == "v2")
    assert(m.get("app", "k", Some(2L), "v3") == "v2")
    // the other key of the same application is untouched
    assert(m.log == Seq("compute:v1", "compute:w1", "release:v1", "compute:v2"))
  }

  test("entries of a foreign application are released") {
    val m = new Logged
    m.get("stopped", "k", Some(1L), "v1")
    m.get("stopped", "other", Some(1L), "w1")
    assert(m.get("live", "k", Some(1L), "v2") == "v2")
    assert(m.log.take(2) == Seq("compute:v1", "compute:w1"))
    assert(m.log.slice(2, 4).toSet == Set("release:v1", "release:w1"))
    assert(m.log.drop(4) == Seq("compute:v2"))
  }

  test("a missing path is never memoized, and releases what it replaces") {
    val m = new Logged
    assert(m.get("app", "k", None, "v1") == "v1")
    assert(m.get("app", "k", None, "v2") == "v2")
    m.get("app", "k", Some(1L), "v3")
    assert(m.get("app", "k", None, "v4") == "v4")
    assert(m.get("app", "k", Some(1L), "v5") == "v5")
    assert(m.log == Seq("compute:v1", "compute:v2", "compute:v3",
      "release:v3", "compute:v4", "compute:v5"))
  }

  test("a compute releases entries whose directory is gone; a hit does not") {
    val m = new Logged
    m.get("app", "a", Some(1L), "a1")
    m.get("app", "b", Some(1L), "b1")
    m.gone += "/a"
    assert(m.get("app", "b", Some(1L), "b2") == "b1")
    assert(m.log == Seq("compute:a1", "compute:b1"))
    m.get("app", "c", Some(1L), "c1")
    assert(m.log.drop(2) == Seq("release:a1", "compute:c1"))
    assert(m.get("app", "b", Some(1L), "b3") == "b1")
  }

  private val conf = new Configuration()
  private def stamp(p: Path): Option[Long] = SessionMemo.dirStamp(conf, p.toString)

  /** A two-level partitioned layout like a Spark write leaves. */
  private def table(): Path = {
    val root = Files.createTempDirectory("graft-stamp")
    Files.createDirectories(root.resolve("part=a"))
    Files.createDirectories(root.resolve("part=b"))
    Files.write(root.resolve("part=a/f1.parquet"), Array.fill[Byte](100)(1))
    Files.write(root.resolve("part=b/f2.parquet"), Array.fill[Byte](200)(2))
    Files.write(root.resolve("_SUCCESS"), Array.empty[Byte])
    root
  }

  test("stamp: equal across calls, None for a missing path") {
    val root = table()
    assert(stamp(root).isDefined)
    assert(stamp(root) == stamp(root))
    assert(stamp(root.resolve("absent")).isEmpty)
    Verifier.rmTree(root.toString)
  }

  test("stamp: changes when a file is added, removed or renamed") {
    val root = table()
    val s0 = stamp(root)
    Files.write(root.resolve("part=a/f3.parquet"), Array.fill[Byte](100)(1))
    val s1 = stamp(root)
    assert(s1 != s0, "added file")
    Files.delete(root.resolve("part=a/f3.parquet"))
    assert(stamp(root) == s0, "removing the added file restores the stamp")
    Files.delete(root.resolve("_SUCCESS"))
    val s2 = stamp(root)
    assert(s2 != s0, "removed marker")
    // a rename keeps length and mtime: only the name can tell
    Files.move(root.resolve("part=b/f2.parquet"), root.resolve("part=b/f9.parquet"))
    assert(stamp(root) != s2, "renamed file")
    Verifier.rmTree(root.toString)
  }

  test("stamp: changes when a file in a nested partition directory changes") {
    val root = table()
    val f = root.resolve("part=b/f2.parquet")
    val s0 = stamp(root)
    val mtime = Files.getLastModifiedTime(f)
    Files.write(f, Array.fill[Byte](201)(2))
    Files.setLastModifiedTime(f, mtime)
    val s1 = stamp(root)
    assert(s1 != s0, "length change")
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(mtime.toMillis + 5000))
    assert(stamp(root) != s1, "mtime change")
    Verifier.rmTree(root.toString)
  }
}
