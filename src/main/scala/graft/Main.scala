package graft

import org.apache.spark.sql.SparkSession

import graft.checkpoint.{FsOps, NoCheckpointIO, ParquetSnapshotIO, TableIO}
import graft.model.GraftConfig

/** spark-submit entrypoint — the north rule's deployment surface
  * (`spark-submit --class graft.Main graft.jar --input ... --output ...`).
  *
  * Thin by design: every pipeline semantic lives in [[Pipeline]]; this main
  * only (1) parses CLI knobs into a [[GraftConfig]], (2) picks the stage IO
  * (durable [[ParquetSnapshotIO]] under `--checkpoint`, so a killed run
  * resumes from its last committed stage — including mid-ST4, per-round
  * CC edges; the dir may be on any Hadoop filesystem — hdfs://, abfs://,
  * file://, or scheme-less = the default FS — see
  * [[graft.checkpoint.FsOps]]), and (3) writes the four user-facing
  * outputs as distributed sinks:
  *
  *   - `<output>/report`         flat cluster report (parquet)
  *   - `<output>/canonical_map`  url -> canonical_url pointer table
  *                               (parquet; the reference's consolidation
  *                               write-back, consolidation.rs:25-93, as
  *                               data instead of filesystem mutation)
  *   - `<output>/reference_json` reference-parity nested DuplicateGroup
  *                               JSON, one object per line (text)
  *   - `<output>/metrics.json`   per-stage lineage/metrics rows (driver-
  *                               written; one small JSON array; `bytes` is
  *                               the committed snapshot's file bytes)
  *
  * Once they are written, the checkpoint retires every stage but the
  * ST4/ST5 snapshots the sinks read (each stage keeps its manifest), so a
  * finished checkpoint holds no copy of the page text.
  *
  * The outputs keep the session's parquet codec; only the engine's own
  * durable tables are always zstd ([[graft.checkpoint.FsOps.writeParquet]]).
  *
  * The session comes from `SparkSession.builder().getOrCreate()` with NO
  * master/partition overrides: on a cluster, spark-submit flags (master,
  * executor counts, `spark.sql.shuffle.partitions`) own the deployment
  * shape; in tests, the pre-created local session is reused.
  *
  * Input is either `--input <path>` (parquet path) or `--table <name>`
  * (any catalog table — e.g. an Iceberg table when the catalog is
  * configured via spark-submit `--conf spark.sql.catalog...`), with the
  * BASELINE.json input_hint schema: (url string, warc_ts timestamp,
  * html binary, text string, lang string).
  */
object Main {

  final case class CliArgs(
      input: Option[String] = None,
      table: Option[String] = None,
      output: Option[String] = None,
      checkpoint: Option[String] = None,
      cfg: GraftConfig = GraftConfig())

  /** Raised by [[parse]] when `--help`/`-h` occupies a FLAG position.
    * Flag position matters: an option VALUE that happens to be "-h"
    * (e.g. `--exclude -h`, a legal url regex) must stay a value — a
    * whole-argv scan would silently turn that job into a usage printout. */
  final class HelpRequested extends RuntimeException("--help")

  def parse(argv: Seq[String]): CliArgs = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg\n$usage")
    def int(flag: String, v: String): Int =
      try v.toInt catch { case _: NumberFormatException => fail(s"$flag expects an integer, got: $v") }
    def dbl(flag: String, v: String): Double =
      try v.toDouble catch { case _: NumberFormatException => fail(s"$flag expects a number, got: $v") }
    @annotation.tailrec
    def go(rest: List[String], acc: CliArgs): CliArgs = rest match {
      case Nil => acc
      case ("--help" | "-h") :: _   => throw new HelpRequested
      case "--input" :: v :: t      => go(t, acc.copy(input = Some(v)))
      case "--table" :: v :: t      => go(t, acc.copy(table = Some(v)))
      case "--output" :: v :: t     => go(t, acc.copy(output = Some(v)))
      case "--checkpoint" :: v :: t => go(t, acc.copy(checkpoint = Some(v)))
      case "--shingle-k" :: v :: t  => go(t, acc.copy(cfg = acc.cfg.copy(shingleK = int("--shingle-k", v))))
      case "--num-perm" :: v :: t   => go(t, acc.copy(cfg = acc.cfg.copy(numPerm = int("--num-perm", v))))
      case "--bands" :: v :: t      => go(t, acc.copy(cfg = acc.cfg.copy(bands = int("--bands", v))))
      case "--min-jaccard" :: v :: t => go(t, acc.copy(cfg = acc.cfg.copy(minJaccard = dbl("--min-jaccard", v))))
      case "--max-hamming" :: v :: t => go(t, acc.copy(cfg = acc.cfg.copy(maxHamming = int("--max-hamming", v))))
      case "--min-lcs-ratio" :: v :: t => go(t, acc.copy(cfg = acc.cfg.copy(minLcsRatio = dbl("--min-lcs-ratio", v))))
      case "--min-size" :: v :: t   => go(t, acc.copy(cfg = acc.cfg.copy(minLen = int("--min-size", v))))
      case "--max-size" :: v :: t   => go(t, acc.copy(cfg = acc.cfg.copy(maxLen = int("--max-size", v))))
      case "--exclude" :: v :: t    => go(t, acc.copy(cfg = acc.cfg.copy(excludeUrlRegex = Some(v))))
      case "--max-band-group" :: v :: t => go(t, acc.copy(cfg = acc.cfg.copy(maxBandGroup = int("--max-band-group", v))))
      case "--canonicalize-urls" :: t => go(t, acc.copy(cfg = acc.cfg.copy(canonicalizeUrls = true)))
      case "--simhash-tier" :: t    => go(t, acc.copy(cfg = acc.cfg.copy(simhashTier = true)))
      // reference --show-fully-hardlinked analog, inverted: fully-exact
      // clusters are SHOWN by default here (the pointer table and report
      // are data products, not an interactive prompt), suppressible.
      case "--hide-fully-exact" :: t => go(t, acc.copy(cfg = acc.cfg.copy(showFullyExact = false)))
      case f :: _ => fail(s"unknown or incomplete flag: $f")
    }
    val a = go(argv.toList, CliArgs())
    if (a.output.isEmpty) fail("--output is required")
    if (a.input.isEmpty == a.table.isEmpty) fail("exactly one of --input / --table is required")
    a
  }

  val usage: String =
    """usage: spark-submit --class graft.Main graft.jar
      |  (--input <pages parquet path> | --table <catalog table, e.g. Iceberg>)
      |  --output <dir> [--checkpoint <dir>]
      |  [--shingle-k K] [--num-perm N] [--bands B] [--min-jaccard J]
      |  [--max-hamming H] [--min-lcs-ratio R] [--min-size N] [--max-size N]
      |  [--exclude <url regex>] [--max-band-group N]
      |  [--canonicalize-urls] [--simhash-tier] [--hide-fully-exact]""".stripMargin

  def main(argv: Array[String]): Unit = {
    // Reference parity: structopt prints help and exits 0 (options.rs:19).
    // Parse raises HelpRequested only for -h/--help in FLAG position, so
    // option values like `--exclude -h` never hijack the run.
    val args =
      try parse(argv.toIndexedSeq)
      catch { case _: HelpRequested => println(usage); return }
    val builder = SparkSession.builder().appName("graft-dedup")
    // Under spark-submit, spark.master arrives via system properties and
    // owns the deployment shape; a bare `runMain` (local smoke) gets a
    // local[*] fallback instead of an IllegalStateException.
    if (!new org.apache.spark.SparkConf().contains("spark.master"))
      builder.master("local[*]")
    run(builder.getOrCreate(), args)
  }

  /** The key a `--checkpoint` run stamps on its snapshots: the config hash
    * with the INPUT LOCATOR folded in. ParquetSnapshotIO reuses any stage
    * committed under the same key, and a checkpoint dir pointed at a
    * different --input/--table must never silently serve the previous
    * corpus's stages. (Locator identity, not content identity — re-running
    * after in-place input mutation is the operator's call, same as the
    * reference's resume flags.) */
  def snapshotKey(args: CliArgs): String =
    args.cfg.configHash + "-" + java.lang.Long.toHexString(
      graft.util.Hashing.hashString(args.table.getOrElse(args.input.get), 7L))

  /** The stages the sinks read; a finished run retires the others. */
  private val SinkStages = Set("st4_clusters", "st5_report")

  /** Session-injected body (tests drive this directly; main wraps it). */
  def run(spark: SparkSession, args: CliArgs): Unit = {
    val pages = args.table match {
      case Some(t) => spark.read.table(t)
      // a Spark-written dir, flat or partitioned, reads under its footer
      // schema (no inference job); other inputs fall back to inference
      case None    => FsOps.readParquet(spark, args.input.get)
    }
    val io: TableIO = args.checkpoint match {
      case Some(dir) => new ParquetSnapshotIO(dir, snapshotKey(args))
      case None      => NoCheckpointIO
    }
    val out = args.output.get
    val result = Pipeline.run(spark, pages, args.cfg, io)

    result.report.write.mode("overwrite").parquet(s"$out/report")
    Pipeline.canonicalMap(result.clusters)
      .write.mode("overwrite").parquet(s"$out/canonical_map")
    Pipeline.referenceJson(result.clusters)
      .write.mode("overwrite").text(s"$out/reference_json")

    val metrics = result.metrics
    val metricsJson = metrics.map { m =>
      s"""{"stage":"${m.stage}","rows_in":${m.rows_in},"rows_out":${m.rows_out},""" +
        s""""dropped_by_guard":${m.dropped_by_guard},"salted_groups":${m.salted_groups},""" +
        s""""salted_members":${m.salted_members},"bytes":${m.bytes},"wall_ms":${m.wall_ms},""" +
        s""""config_hash":"${m.config_hash}","snapshot_id":"${m.snapshot_id}"}"""
    }.mkString("[\n  ", ",\n  ", "\n]\n")
    val outPath = new org.apache.hadoop.fs.Path(s"$out/metrics.json")
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(outPath, true)
    try os.write(metricsJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()

    // Every output is written: a resume reads only ST4 and ST5, so the
    // checkpoint drops the rest (page text included) and keeps manifests.
    io.retire(spark, SinkStages)

    val stageSummary = metrics.map(m => s"${m.stage}=${m.rows_out}").mkString(" ")
    println(s"[graft] done: $stageSummary -> $out")
  }
}
