package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Fs.publishOnce / renameNoClobber contract: build-once table publishing
  * that survives crashed runs (stale marker-less dirs), concurrent
  * publishers (no-clobber, loser discards), and the RawLocalFileSystem
  * rename-falls-back-to-copy trap (copy onto an existing directory nests
  * src INSIDE dst), and the configuration the calls share. */
class FsSpec extends AnyFunSuite {

  private def tmpDir(): String =
    Files.createTempDirectory("fs_spec").toFile.getAbsolutePath

  test("publishOnce publishes and is idempotent (second call skips populate)") {
    val root = tmpDir()
    val dest = s"$root/table"
    var calls = 0
    Fs.publishOnce(dest, "app1") { stage =>
      calls += 1
      Fs.writeString(s"$stage/part-0", "data")
    }
    assert(Fs.readString(s"$dest/part-0") == "data")
    assert(Fs.exists(s"$dest/_SUCCESS"))
    Fs.publishOnce(dest, "app2") { _ => calls += 1 }
    assert(calls == 1)
  }

  test("publishOnce replaces a stale marker-less NON-EMPTY dest directory") {
    // the crashed-run state: dest exists, has files, but no marker.
    // The old delete(dest) was non-recursive and threw IOException here.
    val root = tmpDir()
    val dest = s"$root/table"
    Fs.mkdirs(dest)
    Fs.writeString(s"$dest/part-0", "partial garbage")
    Fs.writeString(s"$dest/part-1", "more garbage")
    Fs.publishOnce(dest, "app1") { stage =>
      Fs.writeString(s"$stage/part-0", "fresh")
    }
    assert(Fs.readString(s"$dest/part-0") == "fresh")
    assert(!Fs.exists(s"$dest/part-1"), "stale content must not leak into the published table")
    assert(Fs.exists(s"$dest/_SUCCESS"))
    // the moved-aside stale dir is tidied up
    assert(!new java.io.File(root).listFiles().exists(_.getName.contains(".stale")))
  }

  test("publishOnce loser discards its stage and keeps the winner's table") {
    // simulate the race by having populate itself publish dest first (the
    // concurrent winner lands between our entry check and our rename)
    val root = tmpDir()
    val dest = s"$root/table"
    Fs.publishOnce(dest, "loser") { stage =>
      Fs.mkdirs(dest)
      Fs.writeString(s"$dest/part-0", "winner")
      Fs.writeString(s"$dest/_SUCCESS", "ok")
      Fs.writeString(s"$stage/part-0", "loser")
    }
    assert(Fs.readString(s"$dest/part-0") == "winner",
      "a completed concurrent publish must never be torn down")
    // no nested stage dir copied inside dest, no leftover stage next to it
    assert(new java.io.File(dest).listFiles().map(_.getName).toSet == Set("part-0", "_SUCCESS"))
    assert(!new java.io.File(root).listFiles().exists(_.getName.endsWith(".stage")))
  }

  test("publishOnce never leaves dest marker-less silently") {
    val root = tmpDir()
    val dest = s"$root/table"
    Fs.publishOnce(dest, "a") { stage => Fs.writeString(s"$stage/f", "x") }
    assert(Fs.exists(s"$dest/_SUCCESS"))
  }

  test("renameNoClobber refuses an existing directory destination") {
    // RawLocalFileSystem falls back to FileUtil.copy INTO an existing dir
    // (src becomes a nested subdir) — the refusal closes that trap
    val root = tmpDir()
    Fs.mkdirs(s"$root/src"); Fs.writeString(s"$root/src/f", "x")
    Fs.mkdirs(s"$root/dst"); Fs.writeString(s"$root/dst/g", "y")
    intercept[java.io.IOException] { Fs.renameNoClobber(s"$root/src", s"$root/dst") }
    assert(Fs.readString(s"$root/dst/g") == "y")
    assert(!Fs.exists(s"$root/dst/src"), "no copy-into-dir nesting")
    assert(Fs.readString(s"$root/src/f") == "x", "src untouched after refusal")
  }

  test("renameNoClobber keeps local-FS atomic replace for FILE destinations") {
    // the cache publishers (ArchiveSource et al) rely on this: an invalid
    // half-file at dst is atomically replaced by the validated tmp
    val root = tmpDir()
    Fs.writeString(s"$root/a", "new")
    Fs.writeString(s"$root/b", "old")
    Fs.renameNoClobber(s"$root/a", s"$root/b")
    assert(Fs.readString(s"$root/b") == "new")
    assert(!Fs.exists(s"$root/a"))
  }

  test("deleteRecursive removes a populated directory; delete refuses it") {
    val root = tmpDir()
    Fs.mkdirs(s"$root/d/sub")
    Fs.writeString(s"$root/d/sub/f", "x")
    intercept[java.io.IOException] { Fs.delete(s"$root/d") }
    assert(Fs.deleteRecursive(s"$root/d"))
    assert(!Fs.exists(s"$root/d"))
  }

  test("the shared configuration follows spark.hadoop.* across a session restart") {
    // a running context would swallow the builder's confs: stop whatever
    // session earlier suites left, and leave none behind for later ones
    def restart(value: String): SparkSession = {
      if (org.apache.spark.SparkEnv.get != null) SparkSession.builder().getOrCreate().stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.builder().master("local[1]").appName("fs-spec")
        .config("spark.ui.enabled", "false")
        .config("spark.hadoop.graft.test.key", value).getOrCreate()
    }
    val root = tmpDir()
    try {
      restart("a")
      assert(Fs.conf.get("graft.test.key") == "a")
      Fs.writeString(s"$root/f", "x")
      assert(Fs.conf eq Fs.conf, "one configuration per set of entries")
      restart("b")
      assert(Fs.conf.get("graft.test.key") == "b")
      assert(Fs.readString(s"$root/f") == "x")
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    assert(org.apache.spark.SparkEnv.get == null)
    assert(Fs.conf.get("graft.test.key") == null)
    Fs.writeString(s"$root/g", "y")
    assert(Fs.readString(s"$root/g") == "y" && Fs.exists(s"$root/f"))
  }

  test("create makes missing parent directories, truncates an existing file, keeps the bytes") {
    val root = tmpDir()
    val p = s"$root/a/b/c/f.bin"
    // longer than the local stream's buffer
    val bytes = Array.tabulate[Byte](70000)(i => (i * 31 + i / 7).toByte)
    Fs.writeBytes(p, bytes)
    assert(Fs.readAllBytes(p).sameElements(bytes))
    Fs.writeString(p, "short")
    assert(Fs.readString(p) == "short" && Fs.fileLength(p) == 5)
    // a file: URI names the same file as the plain path
    Fs.writeString(s"file:$root/a/b/g", "uri")
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(s"$root/a/b/g")), "UTF-8") == "uri")
    intercept[java.io.IOException] { Fs.writeString(s"$root/a", "a directory") }
  }
}
