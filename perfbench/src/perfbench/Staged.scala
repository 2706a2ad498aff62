package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.checkpoint.TableIO
import graft.model.GraftConfig

/** The staged run of the batch pipeline: every stage is called through its
  * public function from here and committed through the same `TableIO` that
  * `Main.run` would use. Traced (with `spans`), each stage is forced under
  * a job group named after it, so the listener attributes each Spark task
  * to one stage; untraced, the same work runs without spans or job groups
  * and gives the base of the tracing overhead. */
object Staged {

  /** (metric prefix, TableIO stage name as `Pipeline.run` commits it) */
  val Stages: Seq[(String, String)] = Seq(
    "st0_extract" -> "st0_extracted",
    "st0b_contents" -> "st0b_contents",
    "st1_signatures" -> "st1_signatures",
    "st2_candidates" -> "st2_candidates",
    "st3_verify" -> "st3_verified",
    "st4_cluster" -> "st4_clusters",
    "st5_report" -> "st5_report")

  final case class Out(
      committed: Map[String, DataFrame],
      rows: Map[String, Long],
      bandStats: Pipeline.BandStats,
      wallS: Double)

  def run(spark: SparkSession, pages: DataFrame, cfg: GraftConfig, io: TableIO,
      out: String, spans: Option[Spans]): Out = {
    val sc = spark.sparkContext
    var committed = Map.empty[String, DataFrame]
    var rows = Map.empty[String, Long]

    def traced[T](name: String)(body: => T): T = spans.fold(body) { sp =>
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try sp(name)(body) finally sc.clearJobGroup()
    }

    def stage(prefix: String)(compute: => DataFrame): DataFrame = traced(prefix) {
      val (df, m) = io.commit(compute, Stages.find(_._1 == prefix).get._2)
      // an in-memory commit is lazy and reports no count: force it here
      val n = if (m.rowCount >= 0) m.rowCount else df.count()
      committed += prefix -> df
      rows += prefix -> n
      df
    }

    var stats: () => Pipeline.BandStats = () => Pipeline.BandStats(0, 0, 0)
    val t0 = System.nanoTime()
    val extracted = stage("st0_extract")(Pipeline.extract(pages, cfg))
    val contents = stage("st0b_contents")(Pipeline.distinctContents(extracted))
    val sigs = stage("st1_signatures")(Pipeline.signatures(contents, cfg))
    val cands = stage("st2_candidates") {
      val c = Pipeline.candidatePairs(sigs, cfg)
      stats = c.stats
      c.pairs
    }
    val verified = stage("st3_verify")(Pipeline.verifyPairs(cands, contents, cfg))
    val clusters = stage("st4_cluster")(Pipeline.cluster(extracted, verified, cfg, io.ccDurableDir))
    stage("st5_report")(Pipeline.report(clusters))
    // the same three sinks Main.run writes
    traced("output") {
      committed("st5_report").write.mode("overwrite").parquet(s"$out/report")
      Pipeline.canonicalMap(clusters).write.mode("overwrite").parquet(s"$out/canonical_map")
      Pipeline.referenceJson(clusters).write.mode("overwrite").text(s"$out/reference_json")
    }
    Out(committed, rows, stats(), (System.nanoTime() - t0) / 1e9)
  }

  /** Per-stage metrics from the listener plus the stage-specific counts. */
  def report(res: Result, o: Out, l: StageListener, spans: Spans, cfg: GraftConfig): Unit = {
    for ((p, _) <- Stages) {
      val a = l.groups.get(p)
      res.metric(s"$p.wall_s", spans.total(p), "s")
      res.metric(s"$p.rows_out", o.rows(p).toDouble, "count")
      res.metric(s"$p.cpu_s", a.map(_.cpuNs / 1e9).getOrElse(0.0), "s")
      res.metric(s"$p.wait_s", a.map(_.fetchWaitMs / 1e3).getOrElse(0.0), "s")
      res.metric(s"$p.gc_s", a.map(_.gcMs / 1e3).getOrElse(0.0), "s")
      res.metric(s"$p.shuffle_write_bytes", a.map(_.shuffleWriteBytes.toDouble).getOrElse(0.0), "bytes")
      res.metric(s"$p.spill_bytes", a.map(_.spillBytes.toDouble).getOrElse(0.0), "bytes")
      res.metric(s"$p.task_skew", l.skew(p), "ratio")
    }
    val contents = o.rows("st0b_contents")
    val pairs = o.rows("st2_candidates")
    val bandRows = Pipeline.bandKeys(o.committed("st1_signatures"), cfg).count()
    res.metric("st2_candidates.band_rows", bandRows.toDouble, "count")
    res.metric("st2_candidates.pairs_per_doc", if (contents == 0) 0.0 else pairs.toDouble / contents, "ratio")
    res.metric("st2_candidates.salted_groups", o.bandStats.saltedBandGroups.toDouble, "count")
    res.metric("st2_candidates.dropped_groups", o.bandStats.droppedBandGroups.toDouble, "count")
    val v = o.committed("st3_verify")
      .agg(sum(col("passed").cast("long")), sum((!isnan(col("lcs_ratio"))).cast("long")))
      .head()
    val passed = Option(v.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val lcs = Option(v.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    res.metric("st3_verify.pass_rate", if (pairs == 0) 0.0 else passed.toDouble / pairs, "ratio")
    res.metric("st3_verify.lcs_calls", lcs.toDouble, "count")
    res.metric("st4_cluster.edges", passed.toDouble, "count")
    val components = o.committed("st4_cluster").select("cluster_id").distinct().count()
    res.metric("st4_cluster.components", components.toDouble, "count")
    res.fact("distinct_contents", contents)
    res.fact("candidate_pairs", pairs)
    res.fact("verified_pairs", passed)
    res.fact("components", components)
  }

  /** `trace.unattributed_s` and `trace.overhead_s` for a traced wall. */
  def overhead(res: Result, tracedWall: Double, attributed: Double, untracedMedian: Double): Unit = {
    res.metric("trace.unattributed_s", tracedWall - attributed, "s")
    res.metric("trace.overhead_s", tracedWall - untracedMedian, "s")
  }
}
