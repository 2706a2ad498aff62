package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.checkpoint.FsOps

/** Local-disk FileSystem registered under a scheme with NO
  * AbstractFileSystem binding: `FileContext.getFileContext(uri)` throws
  * UnsupportedFileSystemException for it, forcing writeAtomic onto its
  * delete-then-rename fallback — the gs://-without-
  * fs.AbstractFileSystem.gs.impl shape. Top-level so Hadoop's
  * Configuration can instantiate it by class name. */
class NoFcLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftnofc"
  override def getUri: java.net.URI = java.net.URI.create("graftnofc:///")
}

/** Unit gates for the Hadoop-FS primitives under every durable store
  * (ParquetSnapshotIO manifests/GC, CC's per-round edge store). The
  * stores' semantics are tested in ResumeSpec/ConnectedComponentsSpec;
  * these pin the primitives' contracts — atomic-overwrite rename, absent-
  * path behavior, cross-scheme equivalence — so a future FS-layer change
  * can't silently weaken a commit path. */
class FsOpsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmpDir() = Files.createTempDirectory("graft-fsops").toString

  test("writeAtomic creates the destination and removes the tmp file") {
    val d = tmpDir()
    val dst = new Path(d, "_manifest.json")
    val tmp = new Path(d, "_manifest.json.tmp-1")
    FsOps.writeAtomic(conf, tmp, dst, """{"k": 1}""")
    assert(FsOps.exists(conf, dst) && !FsOps.exists(conf, tmp))
    assert(FsOps.readString(conf, dst) == """{"k": 1}""")
  }

  test("writeAtomic overwrites an existing destination (the manifest swing)") {
    val d = tmpDir()
    val dst = new Path(d, "_manifest.json")
    FsOps.writeAtomic(conf, new Path(d, "t1"), dst, "old")
    FsOps.writeAtomic(conf, new Path(d, "t2"), dst, "new-content")
    assert(FsOps.readString(conf, dst) == "new-content")
  }

  test("readString round-trips multi-byte UTF-8") {
    val d = tmpDir()
    val dst = new Path(d, "m.json")
    val s = """{"stage": "st2_candidates", "note": "héllo — 2²⁰"}"""
    FsOps.writeAtomic(conf, new Path(d, "t"), dst, s)
    assert(FsOps.readString(conf, dst) == s)
  }

  test("readString refuses files beyond the manifest size bound") {
    val d = tmpDir()
    val dst = new Path(d, "big")
    FsOps.writeAtomic(conf, new Path(d, "t"), dst, "x" * ((1 << 20) + 1))
    val e = intercept[IllegalArgumentException] { FsOps.readString(conf, dst) }
    assert(e.getMessage.contains("manifest unexpectedly large"))
  }

  test("listDirs: absent root is empty; files are not listed") {
    val d = tmpDir()
    assert(FsOps.listDirs(conf, new Path(d, "nope")).isEmpty)
    FsOps.mkdirs(conf, new Path(d, "snap-a"))
    FsOps.mkdirs(conf, new Path(d, "snap-b"))
    FsOps.writeAtomic(conf, new Path(d, "t"), new Path(d, "afile"), "x")
    assert(FsOps.listDirs(conf, new Path(d)).map(_.getName).sorted == Seq("snap-a", "snap-b"))
  }

  test("deleteRecursive removes a tree and never throws on an absent path") {
    val d = tmpDir()
    val tree = new Path(d, "snap-old")
    FsOps.mkdirs(conf, new Path(tree, "part-0"))
    FsOps.writeAtomic(conf, new Path(tree, "t"), new Path(tree, "data"), "x")
    assert(FsOps.deleteRecursive(conf, tree))
    assert(!FsOps.exists(conf, tree))
    assert(!FsOps.deleteRecursive(conf, new Path(d, "never-existed"))) // best-effort false
  }

  test("sweepTmp reclaims only crash-stranded <dst>.tmp-* files") {
    val d = tmpDir()
    val dst = new Path(d, "_manifest.json")
    FsOps.writeAtomic(conf, new Path(d, "x"), dst, "live")
    // strand two tmp siblings (as a kill between create and rename would)
    // plus an unrelated file that must survive
    FsOps.writeAtomic(conf, new Path(d, "y1"), new Path(d, "_manifest.json.tmp-aaaa"), "dead")
    FsOps.writeAtomic(conf, new Path(d, "y2"), new Path(d, "_manifest.json.tmp-bbbb"), "dead")
    FsOps.writeAtomic(conf, new Path(d, "y3"), new Path(d, "other.txt"), "keep")
    FsOps.sweepTmp(conf, dst)
    assert(!FsOps.exists(conf, new Path(d, "_manifest.json.tmp-aaaa")))
    assert(!FsOps.exists(conf, new Path(d, "_manifest.json.tmp-bbbb")))
    assert(FsOps.readString(conf, dst) == "live")
    assert(FsOps.exists(conf, new Path(d, "other.txt")))
  }

  test("writeAtomic cleans up its tmp when the rename fails") {
    val d = tmpDir()
    val blocker = new Path(d, "blocker")
    FsOps.writeAtomic(conf, new Path(d, "t0"), blocker, "a file, not a dir")
    val tmp = new Path(d, "m.tmp-1")
    // dst's parent is a FILE -> the rename must fail after tmp is written
    intercept[Exception] {
      FsOps.writeAtomic(conf, tmp, new Path(blocker, "dst"), "x")
    }
    assert(!FsOps.exists(conf, tmp), "failed writeAtomic stranded its tmp file")
  }

  test("writeAtomic falls back to delete-then-rename without a FileContext binding") {
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.set("fs.graftnofc.impl", classOf[NoFcLocalFs].getName)
    c.setBoolean("fs.graftnofc.impl.disable.cache", true)
    // the binding really is absent: the atomic path cannot serve this scheme
    intercept[org.apache.hadoop.fs.UnsupportedFileSystemException] {
      org.apache.hadoop.fs.FileContext.getFileContext(
        java.net.URI.create("graftnofc:///"), c)
    }
    val d = tmpDir() // local dir; the scheme maps onto the same disk
    val dst = new Path(s"graftnofc://$d/_manifest.json")
    // create (dst absent) and the overwriting manifest swing both succeed
    FsOps.writeAtomic(c, new Path(s"graftnofc://$d/t1"), dst, "first")
    assert(FsOps.readString(c, dst) == "first")
    FsOps.writeAtomic(c, new Path(s"graftnofc://$d/t2"), dst, "second")
    assert(FsOps.readString(c, dst) == "second")
    assert(!FsOps.exists(c, new Path(s"graftnofc://$d/t1")))
    assert(!FsOps.exists(c, new Path(s"graftnofc://$d/t2")))
    // the file is really on local disk (same bytes via the default FS)
    assert(FsOps.readString(conf, new Path(d, "_manifest.json")) == "second")
  }

  test("writeRecord/readRecord: absent is None, the swing overwrites, stranded tmps are swept") {
    val d = tmpDir()
    val p = new Path(d, "_state_version.json")
    assert(FsOps.readRecord(conf, p).isEmpty)
    FsOps.writeAtomic(conf, new Path(d, "x"), new Path(d, "_state_version.json.tmp-dead"), "dead")
    FsOps.writeRecord(conf, p, Seq("version" -> 3, "sig_config" -> "k5|p128"))
    assert(FsOps.readString(conf, p) == """{"version": 3, "sig_config": "k5|p128"}""")
    assert(!FsOps.exists(conf, new Path(d, "_state_version.json.tmp-dead")))
    FsOps.writeRecord(conf, p, Seq("version" -> 4, "band_chunks" -> -1))
    assert(FsOps.readRecord(conf, p).contains(Map("version" -> "4", "band_chunks" -> "-1")))
    assert(p.getFileSystem(conf).listStatus(new Path(d)).map(_.getPath.getName).toSeq == Seq(p.getName))
    intercept[IllegalArgumentException] { FsOps.renderRecord(Seq("k" -> "a\"b")) }
  }

  test("swapDir replaces a table whole, never nests it; recoverSwap heals a mid-swap crash") {
    for (base <- Seq(tmpDir(), "file://" + tmpDir())) withClue(base) {
      val fs = new Path(base).getFileSystem(conf)
      val target = new Path(base, "t")
      def table(name: String, content: String): Path = {
        val dir = new Path(base, name)
        FsOps.writeAtomic(conf, new Path(dir, "w"), new Path(dir, "data"), content)
        dir
      }
      def data = FsOps.readString(conf, new Path(target, "data"))
      def entries = fs.listStatus(new Path(base)).map(_.getPath.getName).toSeq.sorted

      FsOps.swapDir(conf, table("t.tmp-1", "v1"), target) // absent target
      assert(data == "v1" && entries == Seq("t"))
      FsOps.swapDir(conf, table("t.tmp-2", "v2"), target) // replaced, not moved inside
      assert(data == "v2" && entries == Seq("t"))
      assert(FsOps.listDirs(conf, target).isEmpty)
      // a rename that fails (returns false) throws and keeps the old table
      intercept[java.io.IOException] { FsOps.swapDir(conf, new Path(base, "t.tmp-none"), target) }
      assert(data == "v2" && entries == Seq("t"))

      // crash between the two renames: target aside, new table not moved in
      assert(fs.rename(target, new Path(base, "t.old")))
      table("t.tmp-3", "v3")
      FsOps.recoverSwap(conf, target)
      assert(data == "v2" && entries == Seq("t"))
      // crash after the second rename: a stale aside next to an intact target
      FsOps.mkdirs(conf, new Path(base, "t.old"))
      FsOps.recoverSwap(conf, target)
      assert(data == "v2" && entries == Seq("t"))
    }
  }

  test("scheme-less and file:// spellings of one local path see the same file") {
    // The cluster contract: a scheme-less path means "the default FS" (local
    // in tests), and an explicit file:// URI names the same filesystem — the
    // java.nio code this replaced broke exactly this equivalence.
    val d = tmpDir()
    val plain = new Path(d, "m.json")
    val uri = new Path("file://" + d, "m.json")
    FsOps.writeAtomic(conf, new Path(d, "t"), plain, "via-plain")
    assert(FsOps.exists(conf, uri))
    assert(FsOps.readString(conf, uri) == "via-plain")
    FsOps.writeAtomic(conf, new Path("file://" + d, "t2"), uri, "via-uri")
    assert(FsOps.readString(conf, plain) == "via-uri")
  }
}
