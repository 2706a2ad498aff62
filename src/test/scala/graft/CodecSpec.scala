package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.checkpoint.{FsOps, ParquetSnapshotIO}
import graft.fixtures.PagesGen
import graft.model.GraftConfig
import graft.streaming.IncrementalDedup
import graft.streaming.IncrementalDedup.StateDirs

/** Every table the engine owns is stored zstd, whatever the session codec;
  * the user outputs keep the session codec; and roots written with another
  * codec resume and take zstd files. Codecs are read from the parquet
  * footers through [[FsOps.parquetFiles]]. */
class CodecSpec extends SparkSpec {

  // the distributed CC path, so the per-round edge store is written too
  private val cfg = GraftConfig(ccLocalThreshold = 0L)
  private val stages = Seq("st0_extracted", "st1_signatures", "st2_candidates",
    "st3_verified", "st4_clusters", "st5_report")
  private val stateTables = Set("signatures", "members", "edges", "clusters", "metrics")

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Every directory under `root` that holds parquet data files, by its path
    * relative to `root`, with the codec set of each file that has rows. */
  private def codecsUnder(root: String): Map[String, Seq[Set[String]]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isDirectory(_)).toList
      .map(d => base.relativize(d).toString -> FsOps.parquetFiles(conf, new Path(d.toUri)))
      .filter(_._2.nonEmpty)
      .map { case (d, files) => d -> files.filter(_.rows > 0).map(_.codecs) }.toMap
  }

  /** Rewrite every parquet data dir under `root` as snappy, the codec
    * releases before the zstd writer stored (the session default). */
  private def rewriteSnappy(root: String): Unit =
    codecsUnder(root).keys.map(d => s"$root/$d").foreach { d =>
      val tmp = s"$d.tmp-snappy"
      FsOps.readParquet(spark, d).write.option("compression", "snappy").parquet(tmp)
      FsOps.swapDir(conf, new Path(tmp), new Path(d))
    }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def halves(pages: DataFrame): Seq[DataFrame] =
    Seq(0, 1).map(h => pages.where(pmod(xxhash64(col("url")), lit(2)) === h))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("durable tables are zstd; report and canonical_map keep the session codec") {
    val dir = tmp("graft-codec")
    val pages = PagesGen.pages(spark, PagesGen.Spec(nUnits = 40))
    pages.write.parquet(s"$dir/pages")
    // a durable Pipeline.run root is never retired: every stage snapshot and
    // the CC round store stay
    val pipelineCk = s"$dir/pipeline-ck"
    Pipeline.run(spark, spark.read.parquet(s"$dir/pages"), cfg, new ParquetSnapshotIO(pipelineCk, cfg.configHash))
    // a finished Main.run keeps the ST4/ST5 snapshots its resume reads
    val (ck, out) = (s"$dir/ck", s"$dir/out")
    Main.run(spark, Main.parse(Seq("--input", s"$dir/pages", "--output", out,
      "--checkpoint", ck)).copy(cfg = cfg))
    val dirs = StateDirs(s"$dir/state")
    halves(spark.read.parquet(s"$dir/pages")).zipWithIndex.foreach { case (b, i) =>
      IncrementalDedup.processBatch(b, cfg, dirs, i + 1L)
    }

    val retained = codecsUnder(ck)
    assert(retained.keys.map(_.takeWhile(_ != '/')).toSet == Set("st4_clusters", "st5_report") &&
      retained.keys.forall(_.contains("/snap-")), s"a finished Main.run root holds ${retained.keys}")
    val durable = codecsUnder(pipelineCk) ++ retained.map { case (d, c) => s"main/$d" -> c } ++
      codecsUnder(dirs.root).map { case (d, c) => s"state/$d" -> c }
    stages.foreach(st =>
      assert(durable.keys.exists(_.startsWith(s"$st/snap-")), s"no $st snapshot in ${durable.keys}"))
    assert(durable.keys.exists(_.startsWith("st4_cc/")), s"no CC round store in ${durable.keys}")
    assert(stateTables.map("state/" + _).subsetOf(durable.keySet), s"state tables: ${durable.keys}")
    durable.foreach { case (d, files) =>
      assert(files.nonEmpty && files.forall(_ == Set("ZSTD")), s"$d codecs: $files")
    }

    val session = spark.conf.get("spark.sql.parquet.compression.codec").toUpperCase
    assert(session != "ZSTD")
    Seq("report", "canonical_map").foreach { t =>
      val files = codecsUnder(s"$out/$t").getOrElse("", Nil)
      assert(files.nonEmpty && files.forall(_ == Set(session)), s"$t codecs: $files")
    }
  }

  test("a checkpoint and a state root written snappy resume and take zstd appends") {
    val pages = PagesGen.pages(spark, PagesGen.Spec(nUnits = 40)).localCheckpoint()
    val ck = tmp("graft-codec-ck")
    val r1 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(ck, cfg.configHash))
    val report = rows(r1.report)
    rewriteSnappy(ck)
    assert(codecsUnder(ck).values.flatten.toSet == Set(Set("SNAPPY")))

    val r2 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(ck, cfg.configHash))
    assert(r2.metrics.forall(_.wall_ms == 0),
      s"recomputed: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    assert(rows(r2.report) == report)

    val Seq(b1, b2) = halves(pages)
    val mixed = StateDirs(tmp("graft-codec-snappy"))
    IncrementalDedup.processBatch(b1, cfg, mixed, 1L)
    rewriteSnappy(mixed.root)
    IncrementalDedup.processBatch(b2, cfg, mixed, 2L)
    val zstd = StateDirs(tmp("graft-codec-zstd"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) => IncrementalDedup.processBatch(b, cfg, zstd, i + 1L) }

    val appended = codecsUnder(mixed.root)
    Seq("members", "signatures").foreach { t =>
      assert(appended(t).toSet == Set(Set("SNAPPY"), Set("ZSTD")), s"$t codecs: ${appended(t)}")
    }
    assert(rows(spark.read.parquet(mixed.clusters)) == rows(spark.read.parquet(zstd.clusters)))
  }
}
