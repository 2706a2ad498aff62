package graft.checkpoint

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage checkpoint storage with atomic manifest commits (ST* resume).
  *
  * Generalizes the reference's SQLite checkpoint state — nullable checksum
  * columns whose presence means "stage completed"
  * (/root/reference/src/file_db.rs:279-291, 375-388) — into one immutable
  * snapshot table per stage plus a `_manifest.json` whose existence+content
  * is the commit record. Resume = "highest stage with a committed snapshot
  * under the current config hash", exactly generalizing the reference's
  * `--resume-stage3/4` entry points (reference src/main.rs:114-119):
  * `Pipeline.run` computes a stage only when a stage it computes reads it.
  *
  * A finished run [[retire]]s the snapshots its resume does not read, so a
  * completed checkpoint keeps only those plus every stage's manifest, as
  * the reference's database keeps hashes and sizes, never file contents.
  *
  * The durable impl is zstd Parquet ([[FsOps.writeParquet]]) plus a
  * rename-based atomic manifest on any Hadoop filesystem; all resume
  * semantics live above this trait.
  */
trait TableIO {
  /** Committed snapshot for `stage` under `configHash`, if any. */
  def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)]

  /** The commit record of `stage` under `configHash`, also when its data
    * has been retired: the record that the stage ran, and its row count. */
  def manifest(spark: SparkSession, stage: String): Option[Manifest] = load(spark, stage).map(_._2)

  /** Drop the data of every committed stage outside `keep`, and any scratch
    * state that only a stage still to be computed reads. Called once a
    * run's outputs are written; a resume that reads only `keep` is
    * unaffected, and any other stage is recomputed if a resume needs it. */
  def retire(spark: SparkSession, keep: Set[String]): Unit = ()

  /** Atomically commit `df` as the snapshot for `stage`. Returns the
    * re-loaded (durable) DataFrame plus the manifest written. */
  def commit(df: DataFrame, stage: String): (DataFrame, Manifest)

  /** Durable scratch directory for ST4's iterative connected components,
    * if this IO is durable at all: the CC loop then commits its edge
    * table per round and a restarted run resumes mid-loop instead of
    * from scratch (executor/driver loss costs one round).
    * In-memory IOs return None — there is nothing to resume into.
    *
    * NOT a pure accessor on durable impls: it may sweep stale sibling
    * state as a side effect and requires an ACTIVE SparkSession (it is
    * called from inside Pipeline.run, where one is guaranteed). */
  def ccDurableDir: Option[String] = None
}

object TableIO {
  /** One lineage row of a committed snapshot (built on read by
    * [[ParquetSnapshotIO.metrics]], north-rule §7.6). */
  final case class LineageRow(
      stage: String,
      snapshot_id: String,
      partition_id: Int,
      rows_out: Long,
      config_hash: String,
      committed_ms: Long)
}

/** The commit record of one stage snapshot, stored in the [[FsOps]]
  * record format. `bytes` is the snapshot's data-file bytes and
  * `committedMs` its commit time (0 where unknown: in-memory IO and
  * manifests written before the field existed; a 0 time is not written). */
final case class Manifest(
    snapshotId: String,
    configHash: String,
    rowCount: Long,
    stage: String,
    bytes: Long = 0L,
    committedMs: Long = 0L
) {
  def fields: Seq[(String, Any)] = Seq("snapshot_id" -> snapshotId, "config_hash" -> configHash,
    "row_count" -> rowCount, "committed_at_stage" -> stage, "bytes" -> bytes) ++
    (if (committedMs != 0L) Seq("committed_ms" -> committedMs) else Nil)
  def toJson: String = FsOps.renderRecord(fields)
}

object Manifest {
  def fromJson(s: String): Option[Manifest] = fromRecord(FsOps.parseRecord(s))
  def fromRecord(kv: Map[String, String]): Option[Manifest] =
    for {
      sid <- kv.get("snapshot_id")
      ch <- kv.get("config_hash")
      rc <- kv.get("row_count")
      st <- kv.get("committed_at_stage")
    } yield Manifest(sid, ch, rc.toLong, st, kv.get("bytes").map(_.toLong).getOrElse(0L),
      kv.get("committed_ms").map(_.toLong).getOrElse(0L))
}

/** Directory-per-stage Parquet snapshots under `root`, keyed by configHash.
  * Every snapshot carries its lineage: `metrics` gives one row per data
  * file (north-rule requirement, SURVEY §7.6), the durable generalization
  * of the reference's atomic progress counters (process_matches.rs:85-96),
  * built on read from the files' footers and the manifest.
  *
  * Layout: `<root>/<stage>/_manifest.json` and the `snap-*` data dir it
  * names, plus ST4's per-round CC store under `<root>/st4_cc/<hash>`.
  * [[retire]] deletes the `snap-*` dirs of the stages it does not keep and
  * the CC store, and keeps every manifest.
  *
  * A commit runs one Spark job, the data write. Row count and bytes are
  * read from the written files' footers, and the read-back passes the
  * written schema. A load passes the schema Spark stored in the snapshot's
  * first footer, so resuming a stage runs no Spark job.
  *
  * `root` may be on any Hadoop filesystem (file://, hdfs://, abfs://, or
  * scheme-less = the default FS): manifest/GC operations go through
  * [[FsOps]] against the SAME filesystem the executors' parquet writes
  * resolve, so a shared checkpoint dir works on a real cluster — see the
  * FsOps scaladoc for the atomic-rename requirement on the manifest. */
final class ParquetSnapshotIO(root: String, configHash: String) extends TableIO {

  private def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  private def stageDir(stage: String) = new Path(root, stage)
  private def manifestPath(stage: String) = new Path(stageDir(stage), "_manifest.json")

  /** ST4's per-round CC edge commits live beside the stage snapshots,
    * keyed by config hash (the edge store itself re-keys by edge hash).
    * Sibling dirs from OTHER config hashes are swept here: a config change
    * makes their rounds unresumable (the pipeline would recompute edges
    * under the new config), so without the sweep every config change would
    * strand one st4_cc/<hash> dir forever. */
  // SINGLE-WRITER ASSUMPTION (here and in commit()'s snapshot GC): a
  // checkpoint root belongs to ONE pipeline run at a time. Two concurrent
  // runs with different configs sharing a root would sweep each other's
  // live state — use distinct roots for concurrent experiments.
  override def ccDurableDir: Option[String] = {
    // The trait signature carries no session; the sweep runs inside an
    // active Pipeline.run, so the active session's Hadoop conf is the one
    // the executors' writes resolve against.
    val conf = hconf(SparkSession.active)
    val base = stageDir("st4_cc")
    FsOps.listDirs(conf, base)
      .filter(_.getName != configHash)
      .foreach(FsOps.deleteRecursive(conf, _)) // failed sweep is never fatal
    Some(new Path(base, configHash).toString)
  }

  /** The committed snapshot's manifest and data dir, if both exist. */
  private def committed(spark: SparkSession, stage: String): Option[(Manifest, Path)] = {
    val conf = hconf(spark)
    FsOps.readRecord(conf, manifestPath(stage)).flatMap(Manifest.fromRecord)
      .map(m => (m, new Path(stageDir(stage), m.snapshotId)))
      .filter { case (_, data) => FsOps.exists(conf, data) }
  }

  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] =
    committed(spark, stage)
      .filter(_._1.configHash == configHash) // stale-config snapshots are ignored
      .map { case (m, data) => (FsOps.readParquet(spark, data.toString), m) }

  override def manifest(spark: SparkSession, stage: String): Option[Manifest] =
    FsOps.readRecord(hconf(spark), manifestPath(stage)).flatMap(Manifest.fromRecord)
      .filter(_.configHash == configHash)

  /** Every stage dir under `root` outside `keep` loses its `snap-*` dirs,
    * and this config's CC round store goes (it is read only while ST4 is
    * computed). Manifests stay. Best effort, like the commit GC: a dir that
    * resists is swept by the next retire, and a crash midway leaves stages
    * that the next finished run retires. */
  override def retire(spark: SparkSession, keep: Set[String]): Unit = {
    val conf = hconf(spark)
    FsOps.listDirs(conf, new Path(root))
      .filter(d => !keep(d.getName) && FsOps.exists(conf, manifestPath(d.getName)))
      .flatMap(FsOps.listDirs(conf, _)).filter(_.getName.startsWith("snap-"))
      .foreach(FsOps.deleteRecursive(conf, _))
    FsOps.deleteRecursive(conf, new Path(stageDir("st4_cc"), configHash))
  }

  /** Per-file lineage rows of the committed snapshot (resolved through the
    * manifest — snapshot ids are unique per commit, see commit()): one row
    * per data file, numbered in name order, which is write-partition order.
    * Built on the driver from the footers; no Spark job. */
  def metrics(spark: SparkSession, stage: String): Option[DataFrame] =
    committed(spark, stage).map { case (m, data) =>
      spark.createDataFrame(FsOps.parquetFiles(hconf(spark), data).zipWithIndex.map { case (f, i) =>
        TableIO.LineageRow(stage, m.snapshotId, i, f.rows, m.configHash, m.committedMs)
      })
    }

  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    val spark = df.sparkSession
    val conf = hconf(spark)
    // UNIQUE snapshot dir per commit: writing in place under the id the
    // current manifest references would delete the only durable copy
    // before the replacement finishes (a crash mid-rewrite would leave the
    // manifest pointing at a missing or partial dir — exactly the window
    // the class doc promises cannot exist). Instead: write fresh dir ->
    // atomically swing the manifest -> GC unreferenced snapshots. At every
    // instant the manifest references a fully-written snapshot.
    val snapshotId = s"snap-$configHash-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = stageDir(stage)
    FsOps.mkdirs(conf, dir)
    val dataPath = new Path(dir, snapshotId)
    FsOps.writeParquet(df, dataPath.toString, "overwrite") // the commit's one data job

    // Row count and bytes come from the footers of the files just written
    // (driver-side reads, no Spark job).
    val files = FsOps.parquetFiles(conf, dataPath)
    val m = Manifest(snapshotId, configHash, files.map(_.rows).sum, stage, files.map(_.bytes).sum,
      System.currentTimeMillis())
    FsOps.writeRecord(conf, manifestPath(stage), m.fields) // the commit point
    // GC every snapshot dir the manifest no longer references — superseded
    // commits, stale-config leftovers and the `<snap>_metrics` lineage
    // tables earlier releases wrote (the same single-writer-per-checkpoint-
    // root assumption the st4_cc sweep documents). A crash before the swing
    // leaves the new dir orphaned and the old manifest intact; a crash
    // mid-GC leaves sweepable dirs — both healed by the next commit's GC.
    FsOps.listDirs(conf, dir)
      .filter(p => p.getName.startsWith("snap-") && p.getName != snapshotId)
      .foreach(FsOps.deleteRecursive(conf, _)) // best effort; next commit resweeps
    // Read back under the written schema, so Spark runs no schema-inference
    // job; parquet hands every column back nullable.
    (spark.read.schema(df.schema.toNullable).parquet(dataPath.toString), m)
  }
}

/** In-memory IO: nothing is durable, but every stage is local-checkpointed
  * so downstream stages that branch from it (e.g. ST1 signatures and ST3
  * verify both read ST0) share one materialization instead of recomputing
  * the lineage per branch — the in-memory analog of the durable per-stage
  * snapshot. The checkpoint is eager, and an `observe` on that same job
  * counts its rows, so a commit costs one Spark job and the stage metrics
  * carry the stage's real wall time and row count. */
object NoCheckpointIO extends TableIO {
  override def load(spark: SparkSession, stage: String): Option[(DataFrame, Manifest)] = None
  override def commit(df: DataFrame, stage: String): (DataFrame, Manifest) = {
    val obs = Observation()
    val committed = df.observe(obs, count(lit(1)).as("rows")).localCheckpoint(true)
    (committed, Manifest("in-memory", "none", obs.get("rows").asInstanceOf[Long], stage))
  }
}
