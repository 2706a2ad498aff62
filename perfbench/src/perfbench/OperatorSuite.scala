package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.GraftConfig

/** `operator_suite`: the `SparkEntry` queries over the tables that
  * `perfbench/tables.py` generated from the seed (input/tables), submitted
  * from `a.cpus` driver threads to one session, the way independent users
  * share it. Each result is written as parquet, as a user materializes it.
  *
  * The queries that run the whole batch pipeline (`PipelineRuns`) are left
  * out: `pipeline_stream` times that path through `Main.run`.
  *
  * The timed pass is the first one in a fresh JVM, the cost a spark-submit
  * job running these operators pays. Every pass leaves its results in
  * passes/<i>/<name>; run.py compares each with the query's DuckDB
  * oracle. */
object OperatorSuite {

  val PipelineRuns = Set("pipeline_clusters", "pipeline_membership", "pipeline_report",
    "report_nested", "canonical_map")

  /** Planted-copy id offset of the `emb_neardup` corpus (SparkEntry's
    * `PlantedVecOffset`). */
  private val PlantedVecOffset = 1L << 40

  /** vec -> truth cluster of `emb_neardup`: every vec_id % 5 == 0 vector
    * and its planted near copy. */
  private def truth(spark: SparkSession, dir: String): Map[String, Long] =
    spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id").collect()
      .map(_.getLong(0)).filter(_ % 5 == 0)
      .flatMap(v => Seq(v.toString -> v, (v + PlantedVecOffset).toString -> v)).toMap

  def run(ctx: Ctx): Unit = {
    import ctx._
    val dir = path("input/tables")
    val queries = SparkEntry.queries.toSeq.filterNot(q => PipelineRuns(q._1)).sortBy(_._1)
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .agg(count(lit(1)), sum(pmod(xxhash64(col("text")), lit(1000000007L)))).head()
    val docs = d.getLong(0)
    res.fact("input_digest", d.getLong(1))
    val inputBytes = dirBytes(dir)
    res.fact("documents", docs)
    res.fact("input_bytes", inputBytes)
    res.fact("queries", queries.length)
    val oracle = SparkEntry.oracleSql.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    }.mkString("{", ",", "}")
    Files.write(Paths.get(path("oracle_sql.json")), oracle.getBytes(StandardCharsets.UTF_8))

    /** One pass: every query written to passes/<i>/<name> from `a.cpus`
      * threads, each query one operation; the pass wall runs from the first
      * submission to the last result. */
    def pass(i: Int, spans: Option[Spans]): Double = {
      val out = path(s"passes/$i")
      val pool = Executors.newFixedThreadPool(a.cpus)
      def submitAll() = queries.map { case (name, fn) =>
        pool.submit(new Callable[(String, scala.util.Try[Unit])] {
          def call() = {
            def write() = fn(spark, dir).write.mode("overwrite").parquet(s"$out/$name")
            name -> scala.util.Try(spans.fold(write())(_(s"query.$name")(write())))
          }
        })
      }.map(_.get())
      val (walls, wall) = try secs(submitAll()) finally pool.shutdown()
      for ((name, w) <- walls) res.op(s"$name#$i")((w.get, true))
      sampleHeap()
      wall
    }

    val suite = pass(0, None)
    note(f"pass 0: $suite%.3f s")
    res.metric("stored_bytes_per_input_byte", dirBytes(path("passes/0")).toDouble / inputBytes, "B/B")
    val found = spark.read.parquet(path("passes/0/emb_neardup")).select("vec_id", "cluster_id")
      .collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    val t = truth(spark, dir)
    Score.report(res, Score.pairs(t, if (a.corrupt) Score.corrupt(t, found) else found))

    res.metric("docs_per_s", docs / suite, "docs/s")
    res.fact("suite_s", suite)
    reportHeap()

    if (a.trace) {
      val spans = new Spans
      res.spans = Some(spans)
      // tracing overhead against untraced passes of the same, now warm, JVM,
      // one before and one after the traced pass, so that JIT warm-up does
      // not favour either side
      val before = pass(1, None)
      val wall = spans("suite")(pass(2, Some(spans)))
      val warm = Stats.median(Seq(before, pass(3, None)))
      for ((name, _) <- queries)
        res.metric(s"query.$name.wall_s", spans.total(s"query.$name"), "s")
      // concurrent queries overlap, so the attributed time is the union of their spans
      val qs = queries.flatMap(q => spans.byName(s"query.${q._1}")).sortBy(_.startNs)
      val covered = qs.foldLeft((0L, Long.MinValue)) { case ((sum, end), s) =>
        val start = math.max(s.startNs, end)
        (sum + math.max(0L, s.endNs - start), math.max(end, s.endNs))
      }._1 / 1e9
      Staged.overhead(res, wall, covered, warm)
      val texts = spark.read.parquet(s"$dir/documents.parquet")
        .where(length(col("text")) >= 64).select("text").limit(200).collect()
        .map(_.getString(0)).toIndexedSeq
      Kernels.run(res, texts, texts.map(graft.extract.ExtractText.render(_, "sample.example")),
        GraftConfig())
    }
  }
}
