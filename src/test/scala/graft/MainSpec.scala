package graft

import java.nio.file.Files

import graft.checkpoint.FsOps
import graft.fixtures.PagesGen

/** The spark-submit entrypoint (graft.Main): CLI parsing, output layout,
  * and checkpointed re-run over a real (tiny) pages corpus. */
class MainSpec extends SparkSpec {

  test("parse maps every flag onto GraftConfig") {
    val a = Main.parse(Seq(
      "--input", "/in", "--output", "/out", "--checkpoint", "/ck",
      "--shingle-k", "7", "--num-perm", "64", "--bands", "16",
      "--min-jaccard", "0.7", "--max-hamming", "5", "--min-lcs-ratio", "0.4",
      "--min-size", "16", "--max-size", "9999", "--exclude", "\\.pdf$",
      "--max-band-group", "500", "--canonicalize-urls", "--simhash-tier",
      "--hide-fully-exact"))
    a.input shouldBe Some("/in")
    a.output shouldBe Some("/out")
    a.checkpoint shouldBe Some("/ck")
    a.cfg.shingleK shouldBe 7
    a.cfg.numPerm shouldBe 64
    a.cfg.bands shouldBe 16
    a.cfg.minJaccard shouldBe 0.7
    a.cfg.maxHamming shouldBe 5
    a.cfg.minLcsRatio shouldBe 0.4
    a.cfg.minLen shouldBe 16
    a.cfg.maxLen shouldBe 9999
    a.cfg.excludeUrlRegex shouldBe Some("\\.pdf$")
    a.cfg.maxBandGroup shouldBe 500
    a.cfg.canonicalizeUrls shouldBe true
    a.cfg.simhashTier shouldBe true
    a.cfg.showFullyExact shouldBe false
  }

  test("parse rejects missing output, missing input, and input+table together") {
    an[IllegalArgumentException] should be thrownBy Main.parse(Seq("--input", "/in"))
    an[IllegalArgumentException] should be thrownBy Main.parse(Seq("--output", "/out"))
    an[IllegalArgumentException] should be thrownBy
      Main.parse(Seq("--input", "/in", "--table", "t", "--output", "/out"))
    an[IllegalArgumentException] should be thrownBy
      Main.parse(Seq("--input", "/in", "--output", "/out", "--bogus"))
    // A value-taking flag stranded as the LAST arg hits the same loud
    // fallback (the ::v::t pattern can't match), not a silent drop.
    val e = intercept[IllegalArgumentException] {
      Main.parse(Seq("--input", "/in", "--output", "/out", "--exclude"))
    }
    e.getMessage should include("--exclude")
    e.getMessage should include("usage:")
  }

  test("--help prints usage and returns without starting a session") {
    noException should be thrownBy Main.main(Array("--help"))
    noException should be thrownBy Main.main(Array("-h"))
  }

  test("-h as an option VALUE stays a value, never a help hijack") {
    // "-h" is a legal (if odd) url-exclusion regex; a whole-argv help scan
    // would silently turn this valid job into a usage printout + exit 0.
    val parsed = Main.parse(Seq("--input", "/in", "--output", "/out", "--exclude", "-h"))
    parsed.cfg.excludeUrlRegex shouldBe Some("-h")
    a[Main.HelpRequested] should be thrownBy
      Main.parse(Seq("--input", "/in", "--help", "--output", "/out"))
  }

  test("malformed numeric flag values fail with flag name + usage, not a bare NumberFormatException") {
    val e = intercept[IllegalArgumentException] {
      Main.parse(Seq("--input", "/in", "--output", "/out", "--shingle-k", "five"))
    }
    e.getMessage should include("--shingle-k")
    e.getMessage should include("usage:")
    val e2 = intercept[IllegalArgumentException] {
      Main.parse(Seq("--input", "/in", "--output", "/out", "--min-jaccard", "high"))
    }
    e2.getMessage should include("--min-jaccard")
  }

  test("--table input reads a catalog table and matches the --input run") {
    val dir = Files.createTempDirectory("graft-main-table").toString
    val inPath = s"$dir/pages"
    PagesGen.pages(spark, PagesGen.Spec(nUnits = 30))
      .write.mode("overwrite").parquet(inPath)
    // spark.read.table resolves temp views through the same catalog path an
    // Iceberg table would arrive by (spark-submit --conf spark.sql.catalog...).
    spark.read.parquet(inPath).createOrReplaceTempView("graft_pages_v")
    Main.run(spark, Main.parse(Seq(
      "--table", "graft_pages_v", "--output", s"$dir/outT")))
    Main.run(spark, Main.parse(Seq(
      "--input", inPath, "--output", s"$dir/outI")))
    val byTable = spark.read.parquet(s"$dir/outT/report")
      .select("cluster_id", "url", "canonical").orderBy("url").collect()
    val byPath = spark.read.parquet(s"$dir/outI/report")
      .select("cluster_id", "url", "canonical").orderBy("url").collect()
    byTable.length should be > 0
    byTable shouldBe byPath
  }

  test("end-to-end run writes report, canonical_map, reference_json, metrics; re-run resumes") {
    val dir = Files.createTempDirectory("graft-main").toString
    val inPath = s"$dir/pages"
    PagesGen.pages(spark, PagesGen.Spec(nUnits = 40))
      .write.mode("overwrite").parquet(inPath)

    val argv = Seq("--input", inPath, "--output", s"$dir/out",
      "--checkpoint", s"$dir/ck")
    Main.run(spark, Main.parse(argv))

    val report = spark.read.parquet(s"$dir/out/report")
    val expected = Pipeline.run(spark,
      spark.read.parquet(inPath), graft.model.GraftConfig())
    report.count() shouldBe expected.report.count()
    report.count() should be > 0L

    // pointer table: one row per non-canonical member of every cluster
    val cmap = spark.read.parquet(s"$dir/out/canonical_map")
    cmap.columns.toSeq shouldBe Seq("url", "canonical_url")
    val nClusters = expected.report.select("cluster_id").distinct().count()
    cmap.count() shouldBe expected.report.count() - nClusters

    // nested reference-parity JSON: one object per cluster, all parseable
    import spark.implicits._
    val jsonLines = spark.read.text(s"$dir/out/reference_json").as[String].collect()
    jsonLines.length shouldBe nClusters
    all(jsonLines) should (startWith("{") and include("\"duplicates\""))

    // per-stage metrics with the committed snapshot ids
    val metrics = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out/metrics.json")))
    Seq("st0_extracted", "st1_signatures", "st2_candidates",
      "st3_verified", "st4_clusters", "st5_report")
      .foreach(st => metrics should include(st))
    // every durable stage reports its committed snapshot's file bytes
    val stageBytes = """"stage":"(\w+)"[^\n]*"bytes":(\d+)""".r
      .findAllMatchIn(metrics).map(m => m.group(1) -> m.group(2).toLong).toMap
    stageBytes.keySet shouldBe Set("st0_extracted", "st1_signatures", "st2_candidates",
      "st3_verified", "st4_clusters", "st5_report")
    all(stageBytes.values) should be > 0L

    // second run under the same checkpoint RESUMES (loads the ST4/ST5
    // snapshots the first run kept — wall_ms 0 markers in metrics) and
    // reproduces the outputs
    // (fresh output dir: Spark's session-level file index caches the first
    // run's part files, so overwriting in place would poison the re-read)
    val argv2 = Seq("--input", inPath, "--output", s"$dir/out2",
      "--checkpoint", s"$dir/ck")
    Main.run(spark, Main.parse(argv2))
    val metrics2 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out2/metrics.json")))
    metrics2 should include("\"wall_ms\":0")
    spark.read.parquet(s"$dir/out2/report").count() shouldBe report.count()

    // a DIFFERENT input against the SAME checkpoint dir must NOT resume —
    // the snapshot key folds in the input locator, so the old corpus's
    // stages are invisible and every stage recomputes (no wall_ms 0 rows)
    val inPathB = s"$dir/pagesB"
    PagesGen.pages(spark, PagesGen.Spec(nUnits = 25, unitOffset = 1000))
      .write.mode("overwrite").parquet(inPathB)
    Main.run(spark, Main.parse(Seq("--input", inPathB,
      "--output", s"$dir/out3", "--checkpoint", s"$dir/ck")))
    val metrics3 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out3/metrics.json")))
    metrics3 should not include "\"wall_ms\":0"
    spark.read.parquet(s"$dir/out3/report").count() should not be report.count()
  }

  /** (stage, rows_in, rows_out, wall_ms) of every row of a metrics.json. */
  private def stageRows(metricsJson: String): Seq[(String, Long, Long, Long)] =
    """"stage":"(\w+)","rows_in":(-?\d+),"rows_out":(-?\d+),[^\n]*"wall_ms":(\d+)""".r
      .findAllMatchIn(metricsJson)
      .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4).toLong)).toSeq

  test("a finished checkpointed Main.run keeps only what its resume reads") {
    import java.nio.file.{Path => JPath, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-main-retire").toString
    PagesGen.pages(spark, PagesGen.Spec(nUnits = 40)).write.parquet(s"$dir/pages")
    // the distributed CC path, so a per-round CC store is written too
    val cfg = graft.model.GraftConfig(ccLocalThreshold = 0L)
    def argv(out: String) = Main.parse(Seq("--input", s"$dir/pages", "--output", s"$dir/$out",
      "--checkpoint", s"$dir/ck")).copy(cfg = cfg)
    Main.run(spark, argv("out1"))

    val ck = Paths.get(s"$dir/ck")
    def children(p: JPath): Seq[String] =
      if (!Files.exists(p)) Nil else Files.list(p).iterator().asScala.map(_.getFileName.toString).toSeq
    val withData = Pipeline.Stages.filter(st => children(ck.resolve(st)).exists(_.startsWith("snap-")))
    withData shouldBe Seq("st4_clusters", "st5_report")
    Pipeline.Stages.foreach { st =>
      assert(Files.exists(ck.resolve(st).resolve("_manifest.json")), s"$st lost its manifest")
    }
    assert(children(ck.resolve("st4_cc")).isEmpty, s"CC store left: ${children(ck.resolve("st4_cc"))}")

    val (_, n) = countingJobs(Main.run(spark, argv("out2")))
    def rows(out: String, t: String) = {
      val df = if (t == "reference_json") spark.read.text(s"$dir/$out/$t") else spark.read.parquet(s"$dir/$out/$t")
      df.collect().map(_.toString).toSeq.sorted
    }
    Seq("report", "canonical_map", "reference_json").foreach { t =>
      assert(rows("out1", t).nonEmpty, s"$t is empty")
      rows("out2", t) shouldBe rows("out1", t)
    }
    val metrics = stageRows(new String(Files.readAllBytes(Paths.get(s"$dir/out2/metrics.json"))))
    metrics.map(_._1) shouldBe Pipeline.Stages
    metrics.head._2 shouldBe -1L
    assert(metrics.zip(metrics.tail).forall { case (p, m) => m._2 == p._3 && m._2 >= 0 },
      s"broken lineage chain: $metrics")
    metrics.map(_._4).toSet shouldBe Set(0L)
    assert(n <= 10, s"resumed Main.run started $n Spark jobs")
  }

  test("a fully resumed Main.run on a flat input starts no schema-inference job") {
    // The input is read under the schema in its first footer, as stage
    // loads are; an inferring read would make this resume 11 jobs.
    val dir = Files.createTempDirectory("graft-main-resume-jobs").toString
    PagesGen.pages(spark, PagesGen.Spec(nUnits = 30)).write.parquet(s"$dir/pages")
    def argv(out: String) = Main.parse(Seq("--input", s"$dir/pages", "--output", s"$dir/$out",
      "--checkpoint", s"$dir/ck"))
    Main.run(spark, argv("out1"))
    val (_, n) = countingJobs(Main.run(spark, argv("out2")))
    val metrics = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/out2/metrics.json")))
    """"wall_ms":(\d+)""".r.findAllMatchIn(metrics).map(_.group(1)).toSet shouldBe Set("0")
    assert(n <= 10, s"resumed Main.run started $n Spark jobs")
  }

  test("a fully resumed Main.run on a partitioned input starts no schema-inference job") {
    // The footer schema comes from the first file under the k=v dirs, and
    // Spark appends the partition columns it discovers from their names,
    // as an inferring read does; an inferring read would make this 11.
    import org.apache.spark.sql.functions.{col, pmod, xxhash64}
    val dir = Files.createTempDirectory("graft-main-resume-parts").toString
    PagesGen.pages(spark, PagesGen.Spec(nUnits = 30))
      .withColumn("half", pmod(xxhash64(col("url")), org.apache.spark.sql.functions.lit(2)))
      .write.partitionBy("half").parquet(s"$dir/pages")
    val inferred = spark.read.parquet(s"$dir/pages").schema
    FsOps.readParquet(spark, s"$dir/pages").schema shouldBe inferred
    inferred.fieldNames.last shouldBe "half"
    def argv(out: String) = Main.parse(Seq("--input", s"$dir/pages", "--output", s"$dir/$out",
      "--checkpoint", s"$dir/ck"))
    Main.run(spark, argv("out1"))
    val (_, n) = countingJobs(Main.run(spark, argv("out2")))
    val metrics = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/out2/metrics.json")))
    """"wall_ms":(\d+)""".r.findAllMatchIn(metrics).map(_.group(1)).toSet shouldBe Set("0")
    assert(n <= 10, s"resumed Main.run started $n Spark jobs")
  }
}
