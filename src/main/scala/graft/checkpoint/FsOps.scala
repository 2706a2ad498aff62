package graft.checkpoint

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** One parquet data file of a committed snapshot (see [[FsOps.parquetFiles]]). */
private[graft] final case class ParquetFile(rows: Long, bytes: Long)

/** Hadoop-FileSystem primitives shared by the durable stores
  * (ParquetSnapshotIO, ConnectedComponents' per-iteration label store), so
  * a checkpoint root can live on ANY Hadoop filesystem — `file://` in the
  * sandbox, `hdfs://` / `abfs://` on a cluster. The previous java.nio
  * implementation silently collapsed `hdfs://nn/ck` to a RELATIVE local
  * path on the driver while the executors' parquet writes resolved the
  * same string against the default FS — manifest and data on different
  * filesystems, so resume never fired (round-5 review finding). A
  * scheme-less root now means "the default filesystem" on BOTH sides,
  * which is exactly the shared-FS semantics a cluster needs.
  *
  * Atomicity: the manifest swing uses `FileContext.rename(OVERWRITE)`,
  * atomic on rename-native filesystems (local POSIX, HDFS, ABFS). Object
  * stores without atomic rename (plain S3) are NOT a safe manifest
  * target — point the checkpoint root at HDFS-class storage there.
  */
private[graft] object FsOps {

  private def fs(conf: Configuration, p: Path): FileSystem = p.getFileSystem(conf)

  /** FileContext for `p`'s filesystem (default FS for scheme-less paths). */
  private def fc(conf: Configuration, p: Path): FileContext =
    if (p.toUri.getScheme == null) FileContext.getFileContext(conf)
    else FileContext.getFileContext(p.toUri, conf)

  def exists(conf: Configuration, p: Path): Boolean = fs(conf, p).exists(p)

  def mkdirs(conf: Configuration, p: Path): Unit = fs(conf, p).mkdirs(p)

  /** Full contents of a (small) file as UTF-8 — manifest-sized reads only. */
  def readString(conf: Configuration, p: Path): String = {
    val f = fs(conf, p)
    val len = f.getFileStatus(p).getLen
    require(len <= (1L << 20), s"manifest unexpectedly large (${len}B): $p")
    val in = f.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(buf)
      new String(buf, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write `content` to `tmp`, then atomically rename over `dst` (the
    * commit point: at every instant `dst` is absent or a complete file).
    * A failure anywhere deletes `tmp` before rethrowing, so a LIVE process
    * never strands a tmp file; only a process kill can (swept by
    * [[sweepTmp]] on the next commit). Schemes whose FileSystem impl ships
    * without an AbstractFileSystem binding (FileContext needs one; e.g.
    * gs:// without fs.AbstractFileSystem.gs.impl) degrade to
    * delete-then-rename — a small non-atomic window, strictly better than
    * failing the commit AFTER the expensive data write succeeded. */
  def writeAtomic(conf: Configuration, tmp: Path, dst: Path, content: String): Unit = {
    val f = fs(conf, tmp)
    try {
      val os = f.create(tmp, true)
      try os.write(content.getBytes(StandardCharsets.UTF_8))
      finally os.close()
      try fc(conf, dst).rename(tmp, dst, Options.Rename.OVERWRITE)
      catch {
        case _: UnsupportedFileSystemException =>
          // Try the no-clobber rename first: the old dst is only deleted
          // once the replacement is fully written and one rename away.
          if (!f.rename(tmp, dst)) {
            f.delete(dst, false)
            if (!f.rename(tmp, dst))
              throw new java.io.IOException(s"rename $tmp -> $dst failed")
          }
      }
    } catch {
      case e: Throwable =>
        try f.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
  }

  /** GC crash-stranded writeAtomic leftovers: sibling FILES named
    * `<dst>.tmp-*` (a process killed between create and rename leaves
    * exactly one). Best-effort; call before writing the next tmp. */
  def sweepTmp(conf: Configuration, dst: Path): Unit = {
    val parent = dst.getParent
    if (parent != null && exists(conf, parent))
      try fs(conf, parent).listStatus(parent)
        .filter(s => s.isFile && s.getPath.getName.startsWith(dst.getName + ".tmp-"))
        .foreach(s => fs(conf, parent).delete(s.getPath, false))
      catch { case _: Exception => () }
  }

  /** Immediate subdirectories of `p` (empty if `p` is absent). */
  def listDirs(conf: Configuration, p: Path): Seq[Path] =
    if (!exists(conf, p)) Nil
    else fs(conf, p).listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq

  /** Every data file directly under a parquet output dir, in name order,
    * with its row count and length. The counts come from the footers, read
    * on the driver through the dir's Hadoop filesystem: a commit learns what
    * it wrote without a Spark job. Names starting with `_` or `.` (the
    * `_SUCCESS` marker, checksum files) are not data, as in Spark's own
    * file index. */
  def parquetFiles(conf: Configuration, dir: Path): Seq[ParquetFile] =
    fs(conf, dir).listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        try ParquetFile(r.getRecordCount, s.getLen) finally r.close()
      }

  /** Best-effort recursive delete (GC sweeps must never abort a commit
    * whose manifest already landed; a resisting dir is re-swept later). */
  def deleteRecursive(conf: Configuration, p: Path): Boolean =
    try fs(conf, p).delete(p, true)
    catch { case _: Exception => false }
}
