package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Artifacts

/** The one staleness fence every persisted artifact goes through: what
  * rebuilds, what serves, and what a rebuild logs. */
class ArtifactsSpec extends AnyFunSuite {
  import TestSpark._

  /** A fenced artifact whose build writes `value` into its version dir and
    * records each build's `previous` version. */
  private class Probe(val path: String) {
    val builds = scala.collection.mutable.ArrayBuffer.empty[Option[Artifacts.Version]]
    var log = ""

    def apply(key: Artifacts.Key, value: String = "data"): String = {
      val err = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      try Artifacts.fenced(spark, path, key) { (dir, previous) =>
        builds += previous
        Artifacts.writeString(spark, s"$dir/value", value)
      } finally {
        System.setErr(saved)
        log = err.toString("UTF-8").linesIterator
          .filter(_.startsWith("ARTIFACT REBUILD")).mkString("\n")
      }
    }

    def meta: java.io.File = new java.io.File(s"$path/_meta.json")
    def versionDirs: Set[String] =
      new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet
  }

  private def withProbe(f: Probe => Unit): Unit = {
    val p = new Probe(
      TestSpark.tempDir("graft_fence_spec"))
    try f(p) finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p.path))
  }

  test("fenced: a changed, missing or extra key field rebuilds; a fresh call rewrites nothing") {
    withProbe { p =>
      val k1 = Artifacts.key("fingerprint" -> "f1", "threshold" -> 0.5, "textCol" -> "text")
      val d1 = p(k1)
      assert(p.builds == Seq(None) && p.log.contains("\"reason\":\"no meta\""), p.log)
      assert(Artifacts.readStringIfExists(spark, s"$d1/value").contains("data"))

      // fresh: same dir served, no build, meta bytes and mtime untouched
      val bytes = java.nio.file.Files.readAllBytes(p.meta.toPath).toSeq
      val mtime = p.meta.lastModified()
      Thread.sleep(5)
      assert(p(k1) == d1)
      assert(p.builds.size == 1 && p.log.isEmpty, p.log)
      assert(java.nio.file.Files.readAllBytes(p.meta.toPath).toSeq == bytes)
      assert(p.meta.lastModified() == mtime)

      // changed value: 0.55 is not "0.5" with a suffix, it is a different key
      val k2 = Artifacts.key("fingerprint" -> "f1", "threshold" -> 0.55, "textCol" -> "text")
      val d2 = p(k2)
      assert(d2 != d1 && p.builds.size == 2)
      assert(p.log.contains("key fields differ: threshold"), p.log)
      // the build is handed the stale live version, and the sweep removes it
      assert(p.builds.last.contains(Artifacts.Version(d1, k1)))
      assert(p.versionDirs == Set(new java.io.File(d2).getName))

      // missing field
      p(Artifacts.key("fingerprint" -> "f1", "threshold" -> 0.55))
      assert(p.log.contains("key fields differ: textCol"), p.log)
      // extra field
      p(Artifacts.key("fingerprint" -> "f1", "threshold" -> 0.55, "idCol" -> "doc_id"))
      assert(p.log.contains("key fields differ: idCol"), p.log)
      assert(p.builds.size == 4 && p.versionDirs.size == 1)
    }
  }

  test("fenced: key field order does not matter; the meta compares parsed") {
    withProbe { p =>
      val k = Artifacts.key("fingerprint" -> "f1", "n" -> 5, "minDocFreq" -> 2)
      val d = p(k)
      // the same key, hand-written with reversed fields and spacing
      Artifacts.writeString(spark, p.meta.toString,
        s"""{ "key": { "minDocFreq": 2, "n": 5, "fingerprint": "f1" },
           |  "dir": "${new java.io.File(d).getName}" }""".stripMargin)
      assert(p(k) == d)
      assert(p.builds.size == 1 && p.log.isEmpty, p.log)
    }
  }

  test("fenced: an unparseable meta rebuilds with a logged reason and never serves the old data") {
    withProbe { p =>
      val k = Artifacts.key("fingerprint" -> "f1", "hashes" -> 96)
      val d1 = p(k, "old")
      for ((meta, reason) <- Seq(
          """{"dir":"v-trunc""" -> "unparseable meta",
          "" -> "meta names no version directory and key",
          """{"dir":"v-gone","key":{"fingerprint":"f1","hashes":96}}""" ->
            "live directory v-gone missing")) {
        Artifacts.writeString(spark, p.meta.toString, meta)
        val d = p(k, "new")
        assert(p.log.contains(reason), s"$meta -> ${p.log}")
        assert(p.builds.last.isEmpty, "a broken fence handed the build a previous version")
        assert(d != d1 && Artifacts.readStringIfExists(spark, s"$d/value").contains("new"))
        assert(p.versionDirs == Set(new java.io.File(d).getName))
      }
    }
  }

  test("fenced: a rebuild sweeps a retired per-builder meta file; the stream marker stays") {
    withProbe { p =>
      val k1 = Artifacts.key("fingerprint" -> "f1")
      p(k1)
      // written through Hadoop, so each file gets its `.crc` beside it
      for (f <- Seq("_ivf_meta.json", "_pairs_meta.json", Artifacts.BatchMarker))
        Artifacts.writeString(spark, s"${p.path}/$f", "stale")
      val d2 = p(Artifacts.key("fingerprint" -> "f2"))
      val left = new java.io.File(p.path).list().toSet
      assert(left == Set(new java.io.File(d2).getName, "_meta.json", "._meta.json.crc",
        Artifacts.BatchMarker, s".${Artifacts.BatchMarker}.crc"), left)
    }
  }

  test("live and rekey: an in-place maintainer re-keys the live version") {
    withProbe { p =>
      val k1 = Artifacts.key("fingerprint" -> "f1", "nlist" -> 0)
      val d = p(k1)
      val live = Artifacts.live(spark, p.path).get
      assert(live == Artifacts.Version(d, k1))
      val k2 = Artifacts.key("fingerprint" -> "f2", "nlist" -> 0)
      assert(Artifacts.differing(live.key, k2) == Seq("fingerprint"))
      Artifacts.rekey(spark, p.path, live.copy(key = k2))
      assert(p(k2) == d && p.builds.size == 1, p.log)
      assert(Artifacts.live(spark, s"${p.path}/nowhere").isEmpty)
    }
  }
}
