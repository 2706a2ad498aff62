package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Physical-plan shape gates (SURVEY §4): filters reach the parquet scan,
  * projections prune the read schema, small sides broadcast, aggregations
  * keep a map-side partial phase, and narrow stages stay shuffle-free.
  * These are the properties that decide 100 TB behavior; asserting them in
  * CI prevents silent plan regressions. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("filter pushdown: length_filter predicate reaches the parquet scan") {
    val df = SparkEntry.queries("length_filter")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(n_chars,100") &&
      plan.contains("LessThanOrEqual(n_chars,400"),
      s"length bounds not pushed to scan:\n${plan.take(2000)}")
  }

  test("column pruning: token_counts reads only (doc_id, text)") {
    val df = SparkEntry.queries("token_counts")(spark, sfDir)
    val plan = planOf(df)
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(plan.contains(readSchema), s"scan not pruned to 2 columns:\n${plan.take(2000)}")
  }

  test("brute-force kNN plan is one narrow pass (broadcast corpus, no shuffle, no join)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = planOf(Similarity.knnQuantized(emb, emb, 3))
    assert(!plan.contains("Exchange"), s"kNN shuffles:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"kNN materializes a join:\n${plan.take(2000)}")
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"expected a typed narrow pass:\n${plan.take(2000)}")
  }

  test("exact-dup aggregation has a map-side partial phase") {
    val df = SparkEntry.queries("exact_dup_groups")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("partial_count"), s"no partial aggregation:\n${plan.take(2000)}")
  }

  test("signature stage is narrow over deduped contents (single shuffle for dedup only)") {
    val pages = graft.fixtures.PagesGen.fromDocuments(spark, sfDir)
    val contents = Pipeline.distinctContents(Pipeline.extract(pages, SparkEntry.cfg))
    val sigs = Pipeline.signatures(contents, SparkEntry.cfg)
    val plan = planOf(sigs)
    // exactly one exchange: the dropDuplicates(node_id) shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange (dedup), got $exchanges:\n${plan.take(2000)}")
    // the physical plan folds the projection into the aggregate's result
    // expressions, so the expression name only prints in the logical plan
    assert(sigs.queryExecution.optimizedPlan.toString.contains("doc_signature"),
      "signature expression missing from optimized plan")
  }

  test("extract keeps the length filter before the expensive expression work") {
    val pages = graft.fixtures.PagesGen.fromDocuments(spark, sfDir)
    val plan = Pipeline.extract(pages, SparkEntry.cfg).queryExecution.optimizedPlan.toString
    // optimizer keeps a Filter node below the projection that computes md5
    assert(plan.contains("Filter"), s"length/null guard missing:\n${plan.take(1500)}")
  }

  test("incremental cross-batch candidates: census semi-join prune + broadcast hot side") {
    import spark.implicits._
    // the stored band index accumulates for months; the plan must census it
    // through a LeftSemi against the (tiny) batch key set and broadcast the
    // hot-key tables — never shuffle the stored index by anything but its
    // join key, and never collect to the driver
    val newBands = Seq((1L, 10L), (2L, 10L)).toDF("node_id", "band_key")
    val stored = (100L to 160L).map(i => (i, 10L)).toDF("node_id", "band_key")
    val plan = graft.streaming.IncrementalDedup
      .crossBatchCandidates(newBands, stored, SparkEntry.cfg.copy(maxBandGroup = 8))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"stored census not semi-join pruned:\n${plan.take(2000)}")
    assert(plan.contains("BROADCAST") || plan.contains("broadcast"),
      s"hot-side broadcast hints lost:\n${plan.take(2000)}")
  }

  test("ST2 pairs scan the band-key table once (single-pass cold/hot classify)") {
    // At web scale the exploded (node_id, band_key) table is the largest
    // intermediate (docs x bands rows): the cold/hot split must be ONE
    // left-join classification over ONE scan feeding ONE groupBy — not a
    // fork into an anti-join branch and a join branch that each rescan and
    // regroup it. The census subtree is localCheckpoint'd (LogicalRDD), so
    // exactly one Generate/explode of the band keys may appear in the pair
    // plan. The vector tier's sign-LSH buckets run through the same
    // generator and must keep the same shape. (range source: a literal Seq
    // could constant-fold.)
    val sigs = spark.range(0, 200).select(
      col("id").as("node_id"),
      array(pmod(col("id"), lit(5L)), pmod(col("id") + 1, lit(7L))).as("band_hashes"))
    val vecs = spark.range(0, 200).select(
      col("id").as("vec_id"),
      array(pmod(col("id"), lit(5L)).cast("float"), lit(1.0f)).as("embedding"))
    val plans = Seq(
      "text" -> Pipeline.candidatePairs(sigs, SparkEntry.cfg).pairs,
      "vector" -> graft.similarity.Similarity.candidatePairs(vecs,
        graft.similarity.Similarity.AnnConfig(bits = 16, bands = 4)).pairs)
    for ((tier, pairs) <- plans) {
      val plan = pairs.queryExecution.optimizedPlan.toString
      val explodes = "Generate explode".r.findAllIn(plan).length
      assert(explodes == 1,
        s"$tier: expected 1 band-key explode in the pair plan, got $explodes:\n${plan.take(2000)}")
      val aggs = "Aggregate".r.findAllIn(plan).length
      assert(aggs <= 2, // collect_list group + (none else); distinct folds into it
        s"$tier: pair plan regroups the band table:\n${plan.take(2000)}")
    }
  }

  test("verify input prunes contents with a semi-join before the wide joins") {
    import spark.implicits._
    // at 100 TB the contents table is the whole corpus text: the plan must
    // reduce it through a LeftSemi against the candidate id set instead of
    // shuffling it into the pair joins wholesale
    val candidates = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val contents = (1L to 100L).map(i => (i, s"t$i")).toDF("node_id", "text")
    val plan = Pipeline.verifyInput(candidates, contents)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"no semi-join prune in verify input:\n${plan.take(2000)}")
  }

  test("verify over ST0 rows shuffles only candidate texts") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    // ST3 reads its texts from ST0's rows (node_id repeats across urls)
    // through distinctContents: the prune to candidate ids must come before
    // the one-text-per-content reduction, so every shuffle that carries
    // text sits above a LeftSemi. (range source: a literal Seq could
    // constant-fold.)
    val candidates = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val extracted = spark.range(0, 300).select(
      pmod(col("id"), lit(100L)).as("node_id"),
      lit(3L).as("n_bytes"),
      concat(lit("t"), pmod(col("id"), lit(100L)).cast("string")).as("text"))
    val plan = Pipeline.verifyInput(candidates, Pipeline.distinctContents(extracted))
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    val textShuffles = plan.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.dataType == StringType) => e
    }
    assert(textShuffles.nonEmpty, s"no text shuffle found:\n${plan.toString.take(3000)}")
    textShuffles.foreach { e =>
      assert(e.child.exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, s"text shuffled before the candidate-id prune:\n${plan.toString.take(3000)}")
    }
  }

  test("url canonicalization is one narrow builtin projection (no UDF, no shuffle)") {
    import spark.implicits._
    // The honest 100 TB property: the whole canonicalization is ONE narrow
    // Project of builtin Catalyst expressions directly over the scan — no
    // UDF black box, no exchange before the (partial-agg) groupBy. It is
    // NOT fully whole-stage-codegen'd: the query-param sort/filter use
    // higher-order functions, which are CodegenFallback in Spark — the
    // scalar regexp/lower/concat steps codegen, the HOF lambdas interpret.
    // range source (not a literal Seq): a foldable input constant-folds
    // everything into a LocalTableScan and proves nothing.
    val df = spark.range(0, 1000)
      .select(graft.web.UrlCanon.canonicalUrl(
        graft.web.UrlCanon.docIdVariantUrl(col("id"))).as("canon"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"canon projection shuffles:\n${plan.take(1500)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"canon fell back to a UDF:\n${plan.take(1500)}")
    assert(plan.startsWith("Project ") || plan.contains("\nProject "),
      s"expected a single Project over the source:\n${plan.take(1500)}")
    val agg = SparkEntry.queries("url_canon_groups")(spark, sfDir)
    val aggPlan = planOf(agg)
    assert(aggPlan.contains("partial_count"),
      s"canon groupBy lost its map-side partial:\n${aggPlan.take(2000)}")
  }
}
