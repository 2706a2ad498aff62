package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** One parquet data file of a committed snapshot (see [[FsOps.parquetFiles]]):
  * its rows, its length and the codecs of its column chunks (none for a
  * file without a row group). */
private[graft] final case class ParquetFile(rows: Long, bytes: Long, codecs: Set[String])

/** Hadoop-FileSystem primitives shared by every durable store
  * (ParquetSnapshotIO, ConnectedComponents' per-round edge store,
  * IncrementalDedup's state root), so a checkpoint or state root can live
  * on ANY Hadoop filesystem — `file://` in the
  * sandbox, `hdfs://` / `abfs://` on a cluster. The previous java.nio
  * implementation silently collapsed `hdfs://nn/ck` to a RELATIVE local
  * path on the driver while the executors' parquet writes resolved the
  * same string against the default FS — manifest and data on different
  * filesystems, so resume never fired (round-5 review finding). A
  * scheme-less root now means "the default filesystem" on BOTH sides,
  * which is exactly the shared-FS semantics a cluster needs.
  *
  * Every store commits through the same three decisions made here: small
  * records (manifests, version files, journals) in one flat JSON format,
  * written by [[writeRecord]] and read by [[readRecord]]; table data in
  * zstd parquet, written by [[writeParquet]]; and whole-table replacement
  * by [[swapDir]], healed by [[recoverSwap]].
  *
  * Atomicity: the record swing uses `FileContext.rename(OVERWRITE)` and
  * [[swapDir]] uses `FileSystem.rename`, both atomic on rename-native
  * filesystems (local POSIX, HDFS, ABFS). Object stores without atomic
  * rename (plain S3) are NOT a safe commit target — point the checkpoint
  * or state root at HDFS-class storage there.
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

  /** GC crash-stranded leftovers of a commit to `dst`: siblings named
    * `<dst>.tmp-*` — a [[writeRecord]] tmp file, or a table write dir that
    * never reached [[swapDir]] (a process killed mid-commit leaves one).
    * Best-effort; call before writing the next tmp. */
  def sweepTmp(conf: Configuration, dst: Path): Unit = {
    val parent = dst.getParent
    if (parent != null && exists(conf, parent))
      try fs(conf, parent).listStatus(parent)
        .filter(_.getPath.getName.startsWith(dst.getName + ".tmp-"))
        .foreach(s => fs(conf, parent).delete(s.getPath, true))
      catch { case _: Exception => () }
  }

  private val Field = """"(\w+)"\s*:\s*(?:"([^"]*)"|(-?\d+))""".r

  /** The one small-record format: a flat JSON object whose values are
    * strings or integers, `{"k": "v", "n": 3}`. Parsing yields every value
    * as its string form; unknown keys are kept, absent keys are absent. */
  def parseRecord(s: String): Map[String, String] =
    Field.findAllMatchIn(s).map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap

  /** Render fields in order: a `String` value is quoted, anything else
    * (Int, Long) is written bare. */
  def renderRecord(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, v: String) =>
        require(!v.contains('"'), s"record value for $k may not contain a quote: $v")
        s""""$k": "$v""""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}")

  /** The record at `p`, or None if there is none. */
  def readRecord(conf: Configuration, p: Path): Option[Map[String, String]] =
    if (!exists(conf, p)) None else Some(parseRecord(readString(conf, p)))

  /** Commit a record: sweep stranded tmps, write `<p>.tmp-<uuid>`, rename
    * it over `p` ([[writeAtomic]]). */
  def writeRecord(conf: Configuration, p: Path, fields: Seq[(String, Any)]): Unit = {
    sweepTmp(conf, p)
    writeAtomic(conf, new Path(p.getParent, s"${p.getName}.tmp-${UUID.randomUUID()}"), p,
      renderRecord(fields))
  }

  private def aside(target: Path) = new Path(target.getParent, target.getName + ".old")

  /** Hadoop's rename reports failure by returning false, and onto an
    * existing directory it moves `src` INSIDE it; both must fail loudly. */
  private def moveTo(f: FileSystem, src: Path, dst: Path): Unit =
    if (f.exists(dst) || !f.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Crash-safe directory replacement of `target` by the fully-written
    * `tmp`: the current table is renamed ASIDE (one rename), the new one
    * moved in (one rename), and only then is the aside copy deleted — at
    * every instant either the old or the new table is recoverable, unlike
    * delete-then-move which leaves a window with no table at all.
    * [[recoverSwap]] heals the one bad window (a crash between the two
    * renames) by restoring the aside copy. */
  def swapDir(conf: Configuration, tmp: Path, target: Path): Unit = {
    val f = fs(conf, target)
    val old = aside(target)
    deleteRecursive(conf, old) // stale aside from a crash after a completed swap
    if (f.exists(target)) moveTo(f, target, old)
    try moveTo(f, tmp, target)
    catch { case e: Throwable => // restore the old table before propagating
      if (!f.exists(target) && f.exists(old)) moveTo(f, old, target)
      throw e
    }
    deleteRecursive(conf, old)
  }

  /** Heal an interrupted [[swapDir]]: if the target vanished mid-swap the
    * aside copy is moved back; a surviving aside next to an intact target
    * (crash after the second rename) is dropped. Abandoned `<target>.tmp-*`
    * write dirs are swept so crashes don't leak space. */
  def recoverSwap(conf: Configuration, target: Path): Unit = {
    val f = fs(conf, target)
    val old = aside(target)
    if (!f.exists(target) && f.exists(old)) moveTo(f, old, target)
    else deleteRecursive(conf, old)
    sweepTmp(conf, target)
  }

  /** Regular files directly under `p` (0 if `p` is absent). Checksum
    * siblings that a `ChecksumFileSystem` keeps are hidden by its listing. */
  def fileCount(conf: Configuration, p: Path): Int =
    if (!exists(conf, p)) 0 else fs(conf, p).listStatus(p).count(_.isFile)

  /** Immediate subdirectories of `p` (empty if `p` is absent). */
  def listDirs(conf: Configuration, p: Path): Seq[Path] =
    if (!exists(conf, p)) Nil
    else fs(conf, p).listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq

  /** The data files directly under a parquet output dir, in name order.
    * Names starting with `_` or `.` (the `_SUCCESS` marker, checksum files)
    * are not data, as in Spark's own file index. */
  private def dataFiles(conf: Configuration, dir: Path): Seq[FileStatus] =
    fs(conf, dir).listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)

  private def footer[T](conf: Configuration, s: FileStatus)(f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
    try f(r) finally r.close()
  }

  /** Every data file under a parquet output dir, in name order (which is
    * write-partition order), with its row count, length and codecs. They
    * come from the footers, read on the driver through the dir's Hadoop
    * filesystem: a commit learns what it wrote without a Spark job. */
  def parquetFiles(conf: Configuration, dir: Path): Seq[ParquetFile] =
    dataFiles(conf, dir).map(s => footer(conf, s) { r =>
      ParquetFile(r.getRecordCount, s.getLen,
        r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
    })

  /** The first data file directly under `dir`, else under its `k=v`
    * partition dirs, searched depth-first in name order. */
  private def firstDataFile(conf: Configuration, dir: Path): Option[FileStatus] =
    dataFiles(conf, dir).headOption.orElse(
      listDirs(conf, dir).filter(d => d.getName.contains("=") && !d.getName.startsWith("."))
        .sortBy(_.getName).iterator.flatMap(firstDataFile(conf, _)).nextOption())

  /** The parquet table at `dir`, read under the Spark schema that Spark's
    * parquet writer stores in every file footer (taken from the first data
    * file, under `k=v` partition dirs too), so the read runs no
    * schema-inference job; Spark still appends the partition columns it
    * discovers from the dir names. Spark infers the schema only when `dir`
    * holds no file written by Spark. */
  def readParquet(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val schema = (if (exists(conf, p)) firstDataFile(conf, p) else None).flatMap { s =>
      footer(conf, s)(r => Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")))
    }.map(json => DataType.fromJson(json).asInstanceOf[StructType].toNullable)
    schema.fold(spark.read)(spark.read.schema).parquet(dir)
  }

  /** Write `df` as parquet at `path` under save `mode`: the one writer of
    * every engine-owned durable table (stage snapshots, the CC round store,
    * incremental state). It always stores zstd, a per-write option, so the
    * session codec that user outputs follow is left alone. Readers need no
    * counterpart: parquet records the codec per column chunk, so a table
    * holding files of an older codec still reads and takes zstd appends. */
  def writeParquet(df: DataFrame, path: String, mode: String): Unit =
    df.write.mode(mode).option("compression", "zstd").parquet(path)

  /** Best-effort recursive delete (GC sweeps must never abort a commit
    * whose manifest already landed; a resisting dir is re-swept later). */
  def deleteRecursive(conf: Configuration, p: Path): Boolean =
    try fs(conf, p).delete(p, true)
    catch { case _: Exception => false }
}
