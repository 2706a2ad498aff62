package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Main
import graft.checkpoint.ParquetSnapshotIO
import graft.fixtures.PagesGen
import graft.model.GraftConfig
import graft.streaming.IncrementalDedup
import graft.streaming.IncrementalDedup.StateDirs

/** `pipeline_stream`: one corpus deduplicated in the two ways a user can.
  *
  * The corpus joins web pages (PagesGen, rendered HTML, ~4 KB of text,
  * sparse planted duplicates) with the dense families of [[DupDenseGen]]
  * (~1 KB pages, families up to ~80 pages, edit chains longer than the
  * propagation budget, hard negatives).
  *
  *  - batch: `Main.run --checkpoint`, then the same command again, which
  *    resumes from the committed stages and must reproduce the report row
  *    for row;
  *  - stream: the same pages split in two batches by url hash and fed to
  *    `IncrementalDedup.processBatch` against one state root, so half of
  *    the planted pairs are found across batches through the durable band
  *    index.
  *
  * Both results are scored against the planted truth. */
object PipelineStream {

  /** Salting threshold for hot band groups: the big dense families exceed
    * it, so ST2 takes its salted path (the 2000 default needs families of
    * ~10^4 pages to trigger at all). */
  val MaxBandGroup = 40

  final case class Sizes(webUnits: Long, families: Long)

  def pages(spark: SparkSession, s: Sizes, seed: Long): DataFrame =
    PagesGen.pages(spark, PagesGen.Spec(nUnits = s.webUnits, seed = seed, tokensScale = 6))
      .unionByName(DupDenseGen.pages(spark, s.families, seed))

  /** url -> truth cluster; dense families get negative ids so they never
    * collide with PagesGen's. */
  def truth(spark: SparkSession, s: Sizes, seed: Long): Map[String, Long] =
    PagesGen.truthClusters(spark, PagesGen.Spec(nUnits = s.webUnits, seed = seed, tokensScale = 6))
      .select("url", "cluster_id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ++
      DupDenseGen.truth(s.families, seed).map { case (u, f) => u -> (-1L - f) }

  /** (pages, text bytes, content digest) of a pages table. */
  def inputCounts(spark: SparkSession, input: String): (Long, Long, Long) = {
    val r = spark.read.parquet(input)
      .agg(count(lit(1)), sum(octet_length(col("text")).cast("long")),
        sum(pmod(xxhash64(col("url"), col("text")), lit(1000000007L)))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Up to n (text, html) samples spread over the corpus. */
  def kernelSample(pages: DataFrame, n: Int): (IndexedSeq[String], IndexedSeq[Array[Byte]]) = {
    val rows = pages.where(length(col("text")) >= 64)
      .orderBy(xxhash64(col("url"))).select("text", "html").limit(n).collect()
    (rows.map(_.getString(0)).toIndexedSeq, rows.map(_.getAs[Array[Byte]](1)).toIndexedSeq)
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val sizes = if (a.tiny) Sizes(60, 50) else Sizes(100, 100)
    // one table, partitioned into the two stream batches by url hash
    val input = path("input/pages")
    val halves = Seq(s"$input/half=0", s"$input/half=1")
    setup(5) {
      pages(spark, sizes, a.seed).withColumn("half", pmod(xxhash64(col("url")), lit(2)))
        .write.mode("overwrite").partitionBy("half").parquet(input)
    }
    val (docs, textBytes, digest) = inputCounts(spark, input)
    res.fact("pages", docs)
    res.fact("text_bytes", textBytes)
    res.fact("input_digest", digest)
    val truth = this.truth(spark, sizes, a.seed)
    val cfg = GraftConfig(maxBandGroup = MaxBandGroup)

    // ------------------------------------------------------------ batch
    def argv(out: String, ck: String, in: String = input) = Main.parse(Seq("--input", in,
      "--output", out, "--checkpoint", ck, "--max-band-group", MaxBandGroup.toString))

    /** One fresh checkpointed Main.run and its resume: (fresh wall, resume
      * wall, output + checkpoint bytes). */
    def batchRun(): (Double, Double, Long) = {
      val out = path("out/run")
      val ck = path("ck/run")
      val wall = res.op("Main.run") {
        val (_, t) = secs(Main.run(spark, argv(out, ck)))
        val found = spark.read.parquet(s"$out/report").select("url", "cluster_id").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val s = Score.pairs(truth, if (a.corrupt) Score.corrupt(truth, found) else found)
        Score.report(res, s)
        (t, s.exact)
      }
      sampleHeap()
      val resume = wall.flatMap { _ =>
        def rows = spark.read.parquet(s"$out/report").collect().map(_.toString).toSeq.sorted
        val before = rows
        res.op("resume") {
          val (_, t) = secs(Main.run(spark, argv(out, ck)))
          (t, rows == before)
        }
      }
      val stored = dirBytes(out) + dirBytes(ck)
      delete(out)
      delete(ck)
      (wall.getOrElse(Double.NaN), resume.getOrElse(Double.NaN), stored)
    }

    // ----------------------------------------------------------- stream
    val expectedUrls = halves.scanLeft(Set.empty[String]) { (acc, h) =>
      acc ++ spark.read.parquet(h).where(length(col("text")) >= cfg.minLen)
        .select("url").collect().map(_.getString(0))
    }.tail
    val streamWalls = scala.collection.mutable.ArrayBuffer[Double]()

    /** Both halves through processBatch against a fresh state root; checks
      * the live urls after each batch and the clusters after the last. */
    def stream(): StateDirs = {
      val dirs = StateDirs(path("state"))
      for ((h, b) <- halves.zipWithIndex) {
        val batch = spark.read.parquet(h)
        res.op(s"processBatch#${b + 1}") {
          val (_, t) = secs(IncrementalDedup.processBatch(batch, cfg, dirs, b + 1L))
          streamWalls += t
          val live = spark.read.parquet(dirs.clusters).select("url", "cluster_id").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val ok = live.size == expectedUrls(b).size && (b == 0 || {
            val s = Score.pairs(truth, live)
            res.fact("stream_recall", s.recall)
            res.fact("stream_precision", s.precision)
            s.recall == 1.0 && s.precision >= StreamPrecisionFloor
          })
          (t, ok)
        }
        sampleHeap()
      }
      dirs
    }

    // Timed once in a fresh JVM, as a spark-submit job of this size pays it:
    // class loading, code generation and JIT are part of the walls.
    val (batchS, resumeS, stored) = batchRun()
    note(f"Main.run $batchS%.3f s, resume $resumeS%.3f s")
    val dirs = stream()
    note(f"stream ${streamWalls.map(w => f"$w%.3f").mkString(" ")}")

    val streamS = streamWalls.sum
    res.metric("docs_per_s", 2 * docs / (batchS + streamS), "docs/s")
    res.metric("stored_bytes_per_input_byte", (stored + dirBytes(dirs.root)).toDouble / textBytes, "B/B")
    res.fact("main_run_s", batchS)
    res.fact("resume_s", resumeS)
    res.fact("stream_s", streamS)
    res.fact("batch_latency_s", Stats.median(streamWalls.toSeq))
    reportHeap()

    if (a.trace) {
      val (files, bytes) = fileStats(dirs.root)
      val m = spark.read.parquet(dirs.metrics)
        .agg(sum(col("edges_est_only")), sum(col("edges_exact_verified"))).head()
      res.metric("streaming.state_files", files.toDouble, "count")
      res.metric("streaming.state_bytes", bytes.toDouble, "bytes")
      res.metric("streaming.edges_est_only", m.getLong(0).toDouble, "count")
      res.metric("streaming.edges_exact_verified", m.getLong(1).toDouble, "count")
      res.metric("streaming.batch_wall_s", Stats.median(streamWalls.toSeq), "s")
    }
    delete(dirs.root)

    if (a.trace) {
      /** The staged pipeline, untraced, into fresh roots; its wall. */
      def untraced(name: String): Double = {
        val (ck, out) = (path(s"ck/$name"), path(s"out/$name"))
        val o = Staged.run(spark, spark.read.parquet(input), cfg,
          new ParquetSnapshotIO(ck, name), out, None)
        delete(ck)
        delete(out)
        o.wallS
      }
      // the base of the tracing overhead: the same staged work, untraced,
      // once before and once after the traced run, so that JIT warm-up
      // does not favour either side
      val before = untraced("base-0")
      val spans = new Spans
      res.spans = Some(spans)
      val ck = path("ck/traced")
      val io = new ParquetSnapshotIO(ck, "traced")
      val l = StageListener.install(spark)
      val o = Staged.run(spark, spark.read.parquet(input), cfg, io, path("out/traced"), Some(spans))
      StageListener.remove(spark, l)
      val warm = Stats.median(Seq(before, untraced("base-1")))
      Staged.report(res, o, l, spans, cfg)
      Staged.overhead(res, o.wallS, Staged.Stages.map(s => spans.total(s._1)).sum + spans.total("output"),
        warm)

      // the checkpoint layer on its own: commit already-computed stage
      // tables into a fresh root, then load each back and read it
      val io2 = new ParquetSnapshotIO(path("ck/recommit"), "traced")
      val commitS = Staged.Stages.map { case (p, n) =>
        spans(s"checkpoint.commit.$p")(secs(io2.commit(o.committed(p), n))._2)
      }.sum
      val loadS = Staged.Stages.map { case (p, n) =>
        spans(s"checkpoint.load.$p")(secs(io.load(spark, n).get._1.count())._2)
      }.sum
      res.metric("checkpoint.commit_s", commitS, "s")
      res.metric("checkpoint.load_s", loadS, "s")
      res.metric("checkpoint.bytes_written", dirBytes(ck).toDouble, "bytes")
      res.metric("checkpoint.resume_s", resumeS, "s")
      for (p <- Seq(path("ck/recommit"), ck, path("out/traced"))) delete(p)

      val (texts, htmls) = kernelSample(spark.read.parquet(input), 200)
      Kernels.run(res, texts, htmls, cfg)

      // N -> 1 core scaling of the warm staged run: same work, same input, same JVM
      session(1)
      val one = untraced("local1")
      res.metric("scaling.eff_1to4", one / (a.cpus * warm), "ratio")
      res.fact("staged_s_warm", warm)
      res.fact("staged_s_local1", one)
    }
  }

  /** Cross-batch pairs are verified on MinHash estimates when page texts
    * are not retained, so a borderline pair can merge. */
  val StreamPrecisionFloor = 0.99
}
