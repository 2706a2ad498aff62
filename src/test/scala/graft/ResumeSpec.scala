package graft

import java.nio.file.Files

import graft.checkpoint.{FsOps, Manifest, ParquetSnapshotIO}
import graft.fixtures.PagesGen
import graft.model.GraftConfig

/** Checkpoint/resume semantics (SURVEY.md §5.1 item 5): a stage with a
  * committed snapshot under the current config hash is loaded, not
  * recomputed; a config change invalidates all snapshots. */
class ResumeSpec extends SparkSpec {

  private val cfg = GraftConfig()
  private val spec = PagesGen.Spec(nUnits = 60)

  test("manifest json round-trips") {
    val m = Manifest("snap-abc", "deadbeef", 12345L, "st2_candidates")
    assert(Manifest.fromJson(m.toJson).contains(m))
    // Records exactly as releases write them: stage manifests with and
    // without `bytes`, the CC label manifest, the incremental state version
    // file and the remap journal. Each reads back through the one record
    // parser and renders back byte-identically, so existing checkpoints and
    // state roots resume.
    val withBytes = """{"snapshot_id": "snap-deadbeef-1a2b3c4d", "config_hash": "deadbeef", """ +
      """"row_count": 12345, "committed_at_stage": "st2_candidates", "bytes": 678}"""
    val mb = Manifest("snap-deadbeef-1a2b3c4d", "deadbeef", 12345L, "st2_candidates", 678L)
    assert(Manifest.fromJson(withBytes).contains(mb))
    assert(mb.toJson == withBytes)
    val mc = mb.copy(committedMs = 1760000000000L)
    assert(mc.toJson == withBytes.dropRight(1) + """, "committed_ms": 1760000000000}""")
    assert(Manifest.fromJson(mc.toJson).contains(mc))
    assert(Manifest.fromJson("""{"snapshot_id": "snap-abc", "config_hash": "deadbeef", """ +
      """"row_count": 12345, "committed_at_stage": "st2_candidates"}""").contains(m))
    val records = Seq(
      """{"edge_hash": "00000000075bcd15-42", "iter": 3}""" ->
        Seq("edge_hash" -> "00000000075bcd15-42", "iter" -> 3),
      """{"version": 4, "band_chunks": 4, "sig_config": "k5|p128|b32|s42"}""" ->
        Seq("version" -> 4, "band_chunks" -> 4, "sig_config" -> "k5|p128|b32|s42"),
      """{"mapping_hash": "000000000000abcd-3", "done": "signatures,texts"}""" ->
        Seq("mapping_hash" -> "000000000000abcd-3", "done" -> "signatures,texts"),
      """{"mapping_hash": "000000000000abcd-3", "done": ""}""" ->
        Seq("mapping_hash" -> "000000000000abcd-3", "done" -> ""))
    records.foreach { case (json, fields) =>
      assert(FsOps.parseRecord(json) == fields.map { case (k, v) => k -> v.toString }.toMap, json)
      assert(FsOps.renderRecord(fields) == json)
    }
  }

  test("second run resumes every stage from committed snapshots") {
    val root = Files.createTempDirectory("graft-resume").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)

    val r1 = Pipeline.run(spark, pages, cfg, io)
    val rep1 = r1.report.collect().map(_.toString).sorted
    assert(r1.metrics.forall(_.wall_ms >= 0))

    val io2 = new ParquetSnapshotIO(root, cfg.configHash)
    val r2 = Pipeline.run(spark, pages, cfg, io2)
    // loaded stages record wall_ms == 0
    assert(r2.metrics.forall(_.wall_ms == 0),
      s"stages not loaded: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    // ...and TRUE lineage: rows_in is the previous stage's rows_out even on
    // resume (a loaded stage must not report selectivity 1.0), identical to
    // the fresh run's chain
    assert(r2.metrics.head.rows_in == -1L) // pipeline input count is unmeasured
    assert(r2.metrics.zip(r2.metrics.drop(1)).forall { case (p, m) => m.rows_in == p.rows_out },
      s"broken lineage chain: ${r2.metrics.map(m => (m.stage, m.rows_in, m.rows_out))}")
    assert(r2.metrics.map(m => (m.stage, m.rows_in, m.rows_out)) ==
      r1.metrics.map(m => (m.stage, m.rows_in, m.rows_out)))
    val rep2 = r2.report.collect().map(_.toString).sorted
    assert(rep1.sameElements(rep2))
  }

  test("partial checkpoint: committed prefix is loaded, suffix recomputed") {
    val root = Files.createTempDirectory("graft-partial").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)

    // simulate an interrupted run that completed ST0+ST1 only
    val extracted = Pipeline.extract(pages, cfg)
    io.commit(extracted, "st0_extracted")
    io.commit(Pipeline.signatures(Pipeline.distinctContents(extracted), cfg), "st1_signatures")

    val r = Pipeline.run(spark, pages, cfg, io)
    val loaded = r.metrics.filter(_.wall_ms == 0).map(_.stage).toSet
    assert(loaded.contains("st0_extracted") && loaded.contains("st1_signatures"))
    val computed = r.metrics.filterNot(m => loaded.contains(m.stage)).map(_.stage).toSet
    assert(computed == Set("st2_candidates", "st3_verified", "st4_clusters", "st5_report"))
    assert(r.report.count() > 0)
  }

  /** The `snap-*` data dirs under a checkpoint root's stage dir. */
  private def snapshots(root: String, stage: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(root, stage)
    if (!Files.exists(d)) Nil
    else Files.list(d).iterator().asScala.filter(_.getFileName.toString.startsWith("snap-")).toSeq
  }

  private def deleteData(root: String, stage: String): Unit =
    snapshots(root, stage).foreach(p => FsOps.deleteRecursive(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(p.toUri)))

  private def manifestText(root: String, stage: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(root, stage, "_manifest.json")))

  /** A pages parquet dir, the Main.run args over it, and a reader of an
    * output of that run as sorted rows. */
  private def mainFixture(prefix: String) = {
    val dir = Files.createTempDirectory(prefix).toString
    PagesGen.pages(spark, spec).write.parquet(s"$dir/pages")
    def args(out: String) = Main.parse(Seq("--input", s"$dir/pages", "--output", s"$dir/$out",
      "--checkpoint", s"$dir/ck"))
    def rows(out: String, t: String) = {
      val p = s"$dir/$out/$t"
      (if (t == "reference_json") spark.read.text(p) else spark.read.parquet(p))
        .collect().map(_.toString).toSeq.sorted
    }
    (dir, args _, rows _)
  }

  private val outputs = Seq("report", "canonical_map", "reference_json")

  test("a retired root missing ST5's data computes ST5 alone") {
    val (dir, args, rows) = mainFixture("graft-frontier-st5")
    val ck = s"$dir/ck"
    Main.run(spark, args("out1"))
    deleteData(ck, "st5_report")
    val before = Pipeline.Stages.init.map(manifestText(ck, _))

    val (_, n) = countingJobs(Main.run(spark, args("out2")))
    val metrics = """"stage":"(\w+)"[^\n]*"wall_ms":(\d+)""".r
      .findAllMatchIn(new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/out2/metrics.json"))))
      .map(m => m.group(1) -> m.group(2).toLong).toSeq
    assert(metrics.map(_._1) == Pipeline.Stages)
    assert(metrics.filter(_._2 > 0).map(_._1) == Seq("st5_report"), s"stage walls: $metrics")
    // no lower stage ran: a computed stage commits a new manifest
    assert(Pipeline.Stages.init.map(manifestText(ck, _)) == before)
    // the 10 jobs of a full resume plus ST5's commit: its sort's sample
    // and range-partitioning jobs and the write
    assert(n <= 13, s"computing ST5 on a retired root started $n Spark jobs")
    outputs.foreach(t => assert(rows("out2", t) == rows("out1", t), s"$t differs"))
    assert(snapshots(ck, "st5_report").size == 1)
  }

  test("an interrupted retirement resumes with no stage computed; Main.run finishes it") {
    val (dir, args, rows) = mainFixture("graft-frontier-partial")
    val ck = s"$dir/ck"
    val a = args("out")
    val pages = FsOps.readParquet(spark, s"$dir/pages")
    def io = new ParquetSnapshotIO(ck, Main.snapshotKey(a))
    val r1 = Pipeline.run(spark, pages, a.cfg, io)
    val report = r1.report.collect().map(_.toString).sorted
    val sigs = r1.signatures.collect().map(_.toString).sorted
    Seq("st1_signatures", "st2_candidates").foreach(deleteData(ck, _))

    val r2 = Pipeline.run(spark, pages, a.cfg, io)
    assert(r2.metrics.forall(_.wall_ms == 0), s"computed: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    assert(r2.metrics.map(m => (m.stage, m.rows_in, m.rows_out)) ==
      r1.metrics.map(m => (m.stage, m.rows_in, m.rows_out)))
    assert(r2.metrics.filter(_.bytes == 0).map(_.stage) == Seq("st1_signatures", "st2_candidates"))
    assert(r2.report.collect().map(_.toString).sorted.sameElements(report))
    // a frame nothing read is computed (and committed) once a caller asks
    assert(snapshots(ck, "st1_signatures").isEmpty)
    assert(r2.signatures.collect().map(_.toString).sorted.sameElements(sigs))
    assert(snapshots(ck, "st1_signatures").size == 1)

    Main.run(spark, a)
    assert(Pipeline.Stages.filter(st => snapshots(ck, st).nonEmpty) == Seq("st4_clusters", "st5_report"))
    assert(rows("out", "report") == report.toSeq)
    outputs.foreach(t => assert(rows("out", t).nonEmpty, s"$t is empty"))
  }

  test("per-partition lineage metrics written alongside every commit") {
    val root = Files.createTempDirectory("graft-metrics").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    val r = Pipeline.run(spark, pages, cfg, io)

    Seq("st0_extracted", "st1_signatures", "st2_candidates",
      "st3_verified", "st4_clusters", "st5_report").foreach { stage =>
      val m = io.metrics(spark, stage)
      assert(m.isDefined, s"no metrics table for $stage")
      val rows = m.get.collect()
      assert(rows.nonEmpty, s"empty metrics for $stage")
      // partition counts sum to the manifest row count
      val total = rows.map(_.getAs[Long]("rows_out")).sum
      val manifest = io.load(spark, stage).get._2
      assert(total == manifest.rowCount, s"$stage: $total != ${manifest.rowCount}")
      assert(rows.forall(_.getAs[String]("config_hash") == cfg.configHash))
    }
    assert(r.report.count() > 0)
  }

  test("commit runs one Spark job and reads back the written schema") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("graft-commit-jobs").toString
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    // already materialized: every job counted below belongs to the commit
    val extracted = Pipeline.extract(PagesGen.pages(spark, spec), cfg).localCheckpoint()

    val ((committed, m), n) = countingJobs(io.commit(extracted, "st0_extracted"))
    assert(n <= 1, s"commit ran $n Spark jobs (the data write allowed)")
    assert(m.rowCount == extracted.count())
    assert(m.bytes > 0 && m.committedMs > 0)
    assert(committed.schema ==
      spark.read.parquet(new Path(new Path(root, "st0_extracted"), m.snapshotId).toString).schema)
    assert(committed.count() == m.rowCount)

    val ((empty, me), ne) = countingJobs(io.commit(extracted.limit(0), "st5_report"))
    assert(ne <= 1, s"empty commit ran $ne Spark jobs")
    assert(me.rowCount == 0L)
    assert(empty.count() == 0L)
    assert(io.metrics(spark, "st5_report").get.collect().map(_.getAs[Long]("rows_out")).sum == 0L)
  }

  test("loading the committed stages runs no Spark job") {
    val root = Files.createTempDirectory("graft-load-jobs").toString
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    val r = Pipeline.run(spark, PagesGen.pages(spark, spec), cfg, io)
    val stages = r.metrics.map(_.stage)
    assert(stages.size == 6)
    val (loaded, n) = countingJobs(stages.map(st => io.load(spark, st).get._1))
    assert(n == 0, s"loading ${stages.size} stages ran $n Spark jobs (schema inference)")
    // the footer schema is the one inference finds
    stages.zip(loaded).foreach { case (st, df) =>
      val data = s"$root/$st/${io.load(spark, st).get._2.snapshotId}"
      assert(df.schema == spark.read.parquet(data).schema, s"$st load schema differs")
    }
  }

  test("a durable run stores the page text once and commits ST1 without minhash") {
    val root = Files.createTempDirectory("graft-lean").toString
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    val r = Pipeline.run(spark, PagesGen.pages(spark, spec), cfg, io)
    val committed = Seq("st0_extracted" -> r.extracted, "st1_signatures" -> r.signatures,
      "st2_candidates" -> r.candidates, "st3_verified" -> r.verified,
      "st4_clusters" -> r.clusters, "st5_report" -> r.report)
    assert(r.metrics.map(_.stage) == committed.map(_._1))
    val withText = committed.map(_._1).filter(st => io.load(spark, st).get._1.columns.contains("text"))
    assert(withText == Seq("st0_extracted"), s"page text stored by $withText")
    assert(!io.load(spark, "st1_signatures").get._1.columns.contains("minhash"))
    // the schema a commit hands back is the one a later load infers
    committed.foreach { case (st, df) =>
      assert(df.schema == io.load(spark, st).get._1.schema, s"$st read-back schema differs")
    }
    assert(r.metrics.forall(_.bytes > 0), s"stage bytes: ${r.metrics.map(m => m.stage -> m.bytes)}")
  }

  test("ST4 resumes connected components mid-propagation under a durable IO") {
    import org.apache.spark.sql.functions.col
    // force the distributed CC path so per-round durable commits engage;
    // the edit chain's path takes several rounds
    val ccCfg = cfg.copy(ccLocalThreshold = 0L)
    val pages = PagesGen.pages(spark, spec).unionByName(EditChain.pages(spark, 40))

    // stages st0..st3 committed under a fresh root; returns ST4's edges
    def committedThroughSt3(io: ParquetSnapshotIO) = {
      val extracted = Pipeline.extract(pages, ccCfg)
      val (committedExtracted, _) = io.commit(extracted, "st0_extracted")
      val (sigs, _) = io.commit(
        Pipeline.signatures(Pipeline.distinctContents(committedExtracted), ccCfg), "st1_signatures")
      val (cands, _) = io.commit(Pipeline.candidatePairs(sigs, ccCfg).pairs, "st2_candidates")
      val (verified, _) = io.commit(
        Pipeline.verifyPairs(cands, Pipeline.distinctContents(committedExtracted), ccCfg), "st3_verified")
      verified.where(col("passed")).select("id_a", "id_b")
    }
    def newIo(prefix: String) =
      new ParquetSnapshotIO(Files.createTempDirectory(prefix).toString, ccCfg.configHash)

    // simulate a run killed BETWEEN CC rounds: stages st0..st3 committed,
    // then one CC round committed to the durable edge store, then death
    // (st4 never committed)
    val io = newIo("graft-cc-resume")
    assert(io.ccDurableDir.isDefined)
    val edges = committedThroughSt3(io)
    val crash = intercept[RuntimeException] {
      graft.cluster.ConnectedComponents.run(spark, edges,
        localThreshold = 0L, durableDir = io.ccDurableDir, crashAfterRounds = 1)
    }
    assert(crash.getMessage.contains("injected crash"))

    // the same killed-before-ST4 state with no CC round committed
    val freshIo = newIo("graft-cc-fresh")
    committedThroughSt3(freshIo)

    // the restarted pipeline run must pick up the committed round: it
    // starts fewer Spark jobs than the run whose CC starts from scratch
    def report(i: ParquetSnapshotIO) =
      Pipeline.run(spark, pages, ccCfg, i).report.collect().map(_.toString).sorted
    val (rep, resumedJobs) = countingJobs(report(io))
    val (fresh, freshJobs) = countingJobs(report(freshIo))
    assert(resumedJobs < freshJobs,
      s"ST4 did not resume from durable CC state: $resumedJobs jobs vs $freshJobs fresh")

    // and the resumed result is identical to a from-scratch run, on either
    // CC path
    assert(rep.sameElements(fresh))
    assert(rep.sameElements(Pipeline.run(spark, pages, cfg).report.collect().map(_.toString).sorted))
  }

  test("stale CC label stores are swept: other config hashes and stranded iteration dirs") {
    import java.nio.file.Paths
    val root = Files.createTempDirectory("graft-cc-sweep").toString
    val pages = PagesGen.pages(spark, spec)
    val cfgA = cfg.copy(ccLocalThreshold = 0L) // distributed CC -> durable edge commits
    val ioA = new ParquetSnapshotIO(root, cfgA.configHash)
    // a stranded dir (a label table of an older store layout, or a crash
    // between a past manifest rename and its GC, manifest long gone): the
    // first commit of any run must sweep it
    val stranded = Paths.get(root, "st4_cc", cfgA.configHash, "labels-iter99")
    Files.createDirectories(stranded)
    Files.write(stranded.resolve("junk"), Array[Byte](1))
    Pipeline.run(spark, pages, cfgA, ioA).report.count()
    val storeA = Paths.get(root, "st4_cc", cfgA.configHash)
    assert(Files.exists(storeA), "durable CC store missing after distributed run")
    assert(!Files.exists(stranded), "stranded labels-iter dir survived a commit")
    import scala.jdk.CollectionConverters._
    assert(Files.list(storeA).iterator().asScala
      .count(_.getFileName.toString.startsWith("edges-round")) == 1,
      "more than one edges-round dir retained after convergence")

    // a config change makes A's labels unresumable: B's run sweeps the
    // whole sibling store instead of stranding one dir per config change
    val cfgB = cfgA.copy(minJaccard = 0.9)
    val ioB = new ParquetSnapshotIO(root, cfgB.configHash)
    Pipeline.run(spark, pages, cfgB, ioB).report.count()
    assert(!Files.exists(storeA), "stale config-hash CC store not swept")
    assert(Files.exists(Paths.get(root, "st4_cc", cfgB.configHash)))
  }

  test("config change invalidates snapshots (stale-config refusal)") {
    val root = Files.createTempDirectory("graft-stale").toString
    val pages = PagesGen.pages(spark, spec)
    val io = new ParquetSnapshotIO(root, cfg.configHash)
    Pipeline.run(spark, pages, cfg, io)

    val cfg2 = cfg.copy(minJaccard = 0.9)
    assert(cfg2.configHash != cfg.configHash)
    val io2 = new ParquetSnapshotIO(root, cfg2.configHash)
    assert(io2.load(spark, "st0_extracted").isEmpty, "stale snapshot was loaded")
    val r2 = Pipeline.run(spark, pages, cfg2, io2)
    assert(r2.metrics.forall(_.stage.nonEmpty)) // recomputed fine
  }

  test("checkpoint root may be a Hadoop filesystem URI (explicit file:// scheme)") {
    // Regression (round-5 review): manifest/GC ops used java.nio, which
    // resolves "file:///x" (or "hdfs://nn/x") as a RELATIVE local path on
    // the driver while the executors' parquet writes resolve the same
    // string through Hadoop — manifest and data on different filesystems,
    // so resume never fired. With FsOps both sides resolve identically.
    val local = Files.createTempDirectory("graft-fsroot")
    val root = "file://" + local.toString
    val pages = PagesGen.pages(spark, spec)
    val r1 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(root, cfg.configHash))
    val rep1 = r1.report.collect().map(_.toString).sorted

    // manifest and data landed under the SAME local dir the URI names
    assert(Files.exists(local.resolve("st0_extracted").resolve("_manifest.json")),
      "manifest not on the filesystem the root URI names")

    val r2 = Pipeline.run(spark, pages, cfg, new ParquetSnapshotIO(root, cfg.configHash))
    assert(r2.metrics.forall(_.wall_ms == 0),
      s"stages not resumed under a URI root: ${r2.metrics.filter(_.wall_ms > 0).map(_.stage)}")
    assert(r2.metrics.zip(r2.metrics.drop(1)).forall { case (p, m) => m.rows_in == p.rows_out })
    assert(rep1.sameElements(r2.report.collect().map(_.toString).sorted))
  }
}
