package graft

/** Driver-contract guards: entry() returns rows, every oracle key has a
  * query, every query runs on the shared testdata, and the rows-only
  * queries are deterministic. */
class EntrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("entry returns a non-empty flagship result") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query runs at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      withClue(name) { assert(n >= 0) }
    }
  }

  // The two rows-only queries have no DuckDB oracle of their own, so their
  // rows must at least not vary between evaluations.
  test("rows-only queries return the same rows on every evaluation at sf0.001") {
    Seq("pipeline_clusters", "winnow_fp").foreach { name =>
      def rows() = SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      withClue(name) { assert(rows() == rows()) }
    }
  }

  test("the distributed CC path reports the same clusters at sf0.001") {
    val pages = graft.fixtures.PagesGen.fromDocuments(spark, sfDir)
    def report(cfg: graft.model.GraftConfig) =
      Pipeline.run(spark, pages, cfg).report.collect().map(_.toString).sorted.toSeq
    val local = report(SparkEntry.cfg)
    assert(local.nonEmpty)
    assert(report(SparkEntry.cfg.copy(ccLocalThreshold = 0L)) == local)
  }
}
