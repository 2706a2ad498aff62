package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.PagesGen
import graft.model.GraftConfig
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries fall in two groups:
  *  - SQL-expressible operators (exact-hash grouping, filters, aggregations,
  *    fingerprints): DuckDB oracle provided in `oracleSql`, running against
  *    the same parquet tables in sfDir;
  *  - pipeline stages whose semantics aren't ANSI-SQL (MinHash/LSH/CC):
  *    no oracle entry -> driver records a rows-only check; their correctness
  *    gate is the planted-truth recall suite in `sbt -batch test`.
  */
object SparkEntry {

  val cfg: GraftConfig = GraftConfig()

  /** Flagship: full near-dup pipeline over a deterministic synthetic pages
    * corpus (all planted unit types), returning the cluster report. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PagesGen.pages(spark, PagesGen.Spec(nUnits = 150))
    val r = Pipeline.run(spark, pages, cfg)
    r.report
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A6/A2: exact-identity stats over the corpus (hash aggregation)
    "exact_dup_stats" -> ((s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))),

    // ---- A2+F3: group-by-content-hash with singleton suppression, over the
    // expanded pages corpus (exact-dup groups planted by doc_id % 10)
    "exact_dup_groups" -> ((s, dir) =>
      PagesGen.fromDocuments(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
        .orderBy("h")),

    // ---- A5: redundant-bytes metric per exact group
    "redundant_bytes" -> ((s, dir) =>
      PagesGen.fromDocuments(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(((count(lit(1)) - 1) * min(octet_length(col("text")))).as("redundant"),
          count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
        .select("h", "redundant")
        .orderBy("h")),

    // ---- F1: size-range filter (min/max length analog)
    "length_filter" -> ((s, dir) =>
      docs(s, dir)
        .where(col("n_chars").between(100, 400))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    // ---- A6: group-by language with counts + summed length
    "lang_stats" -> ((s, dir) =>
      docs(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")),

    // ---- source dimension stats
    "source_stats" -> ((s, dir) =>
      docs(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("source")),

    // ---- X1-analog: whitespace token counting (training-data op)
    "token_counts" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")),

    // ---- X2-analog: prefix fingerprint (cheap hash tier / doc fingerprint)
    "doc_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), md5(substring(col("text"), 1, 128)).as("fp"))
        .orderBy("doc_id")),

    // ---- text-quality scoring: alphabetic mass (training-data op)
    "alpha_counts" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("n_alpha"))
        .orderBy("doc_id")),

    // ---- full pipeline: flat cluster report (MinHash/LSH/CC; rows-only)
    "pipeline_clusters" -> ((s, dir) => {
      val r = Pipeline.run(s, PagesGen.fromDocuments(s, dir), cfg)
      r.report
    }),

    // ---- full pipeline, hash-checked against a DuckDB oracle: with the
    // SimHash-Hamming gate disabled (maxHamming = -1) the pass rule is
    // exactly "shingle-Jaccard >= 0.8", which DuckDB can recompute from
    // scratch (tokens -> 5-shingles -> pairwise Jaccard -> transitive
    // closure via recursive CTE). LSH recall at J >= 0.8 is 1 - 5e-8 per
    // pair and the corpus has no pair in (0.5, 0.875) exclusive, so the
    // probabilistic layer cannot flip membership. Cluster identity is
    // expressed as min(url) (node ids are xxhash64, not SQL-reproducible).
    "pipeline_membership" -> ((s, dir) => {
      val r = Pipeline.run(s, PagesGen.fromDocuments(s, dir), cfg.copy(maxHamming = -1))
      val key = r.clusters.groupBy("cluster_id").agg(min(col("url")).as("cluster_key"))
      r.clusters.join(key, "cluster_id")
        .select(col("cluster_key"), col("url"),
          col("n_members"), col("n_exact_subgroups"))
        .orderBy("cluster_key", "url")
    }),

    // ---- the FULL flat report hash-checked (same maxHamming=-1 regime as
    // pipeline_membership, so the pass rule is pure shingle-Jaccard and
    // DuckDB can recompute it): every report column — exact_hash (md5),
    // the A7 canonical keeper (largest exact subgroup, tie-broken by
    // smallest url), n_members, n_exact_subgroups, and A5 redundant_bytes
    // (sum(bytes) - max(bytes) per cluster) — keyed by min(url) because
    // cluster_id is an internal xxhash64. Twin-checks pipeline_clusters'
    // ST4/ST5 aggregation logic column by column.
    "pipeline_report" -> ((s, dir) => {
      val r = Pipeline.run(s, PagesGen.fromDocuments(s, dir), cfg.copy(maxHamming = -1))
      val key = r.clusters.groupBy("cluster_id").agg(min(col("url")).as("cluster_key"))
      r.clusters.join(key, "cluster_id")
        .select(col("cluster_key"), col("url"),
          lower(hex(col("exact_hash"))).as("h"),
          col("canonical").cast("int").as("is_canonical"),
          col("n_members"),
          col("n_exact_subgroups").cast("int").as("n_exact_subgroups"),
          col("redundant_bytes"))
        .orderBy("cluster_key", "url")
    }),

    // ---- the NESTED reference-parity report (Pipeline.reportNested — the
    // DuplicateGroup JSON shape: outer array = exact subgroups, inner =
    // urls of byte-identical text), hash-checked. The nested arrays are
    // rendered deterministically: inner url lists are already sorted by
    // reportNested; comma-join them, then SORT THE JOINED STRINGS before
    // semicolon-joining. Sorting the rendered strings (not the arrays)
    // makes the outer order the exact key DuckDB's
    // `string_agg(... ORDER BY sub_urls)` uses — no cross-engine premise
    // about where ',' collates against url characters ('&', '%', '+' all
    // sort below it, so array order and joined-string order genuinely
    // differ on such urls). Same maxHamming=-1 regime as
    // pipeline_membership; keyed by min(url) per cluster.
    "report_nested" -> ((s, dir) => {
      val r = Pipeline.run(s, PagesGen.fromDocuments(s, dir), cfg.copy(maxHamming = -1))
      val key = r.clusters.groupBy("cluster_id").agg(min(col("url")).as("cluster_key"))
      Pipeline.reportNested(r.clusters).join(key, "cluster_id")
        .select(
          col("cluster_key"),
          array_join(array_sort(transform(col("duplicates"), a => array_join(a, ","))), ";")
            .as("duplicates"),
          col("redundant_bytes"))
        .orderBy("cluster_key")
    }),

    // ---- S9 consolidation write-back as data, hash-checked: the
    // url -> canonical_url pointer table (Pipeline.canonicalMap — the
    // reference's interactive consolidation, consolidation.rs:25-93,
    // re-expressed as a pure table). Same maxHamming=-1 regime as
    // pipeline_membership so the DuckDB twin recomputes the transitive
    // closure and the A7 keeper rule (largest exact subgroup, min-url
    // tie-break) from scratch; one row per NON-canonical member.
    "canonical_map" -> ((s, dir) => {
      val r = Pipeline.run(s, PagesGen.fromDocuments(s, dir), cfg.copy(maxHamming = -1))
      Pipeline.canonicalMap(r.clusters).orderBy("url")
    }),

    // ---- ST2 with the SimHash chunk tier on (pigeonhole chunk banding),
    // hash-checked against planted structure: the corpus is every document
    // (node 2d) plus, for doc_id % 7 == 3, an identical copy (node 2d+1).
    // Identical text => identical SimHash => Hamming 0, and the chunk
    // tier's pigeonhole property makes finding every planted pair a
    // STRUCTURAL guarantee (all chunks agree), so the restricted output is
    // a pure function of the plant — ANSI-SQL-expressible. The query pins
    // the UNSALTED regime (maxBandGroup high enough that no band or chunk
    // group can salt at any testdata sf): the pigeonhole guarantee is exact
    // only without salting, and an oracle must not depend on which salt
    // cell a planted pair's ids hash into. Pairs at Hamming 1..maxHamming
    // (and exclusion beyond) are gated by SimHashPairsSpec's brute-force
    // equality; salted/stop-band behavior by CandidatePairsSpec.
    "simhash_planted" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select((col("doc_id") * 2).as("node_id"), col("text"))
      val copies = d.where(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") * 2 + 1).as("node_id"), col("text"))
      val corpus = base.union(copies)
        .withColumn("n_bytes", length(col("text")).cast("long"))
      val exactCfg = cfg.copy(maxBandGroup = Int.MaxValue / 2, simhashTier = true)
      Pipeline.candidatePairs(Pipeline.signatures(corpus, exactCfg), exactCfg).pairs
        .where(pmod(col("id_a"), lit(2)) === 0 && col("id_b") === col("id_a") + 1)
        .select(floor(col("id_a") / 2).cast("long").as("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- ST0 exact-identity group-size histogram: extract stage vs pure SQL
    "exact_group_sizes" -> ((s, dir) => {
      Pipeline.extract(PagesGen.fromDocuments(s, dir), cfg)
        .groupBy("exact_hash")
        .agg(count(lit(1)).as("n_members"))
        .where(col("n_members") > 1)
        .groupBy("n_members")
        .agg(count(lit(1)).as("n_groups"))
        .orderBy("n_members")
    }),

    // ================= similarity search (embedding ops) =================

    // ---- exact cosine top-3 neighbors, quantized ranks (broadcast kNN)
    "knn_top3" -> ((s, dir) =>
      Similarity.knnQuantized(emb(s, dir), emb(s, dir), 3)
        .orderBy("vec_id", "rank")),

    // ---- embedding sanity stats (dims + l2 norm, integer-quantized)
    "emb_norms" -> ((s, dir) =>
      emb(s, dir).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)) * 1e6).cast("long").as("norm_e6"))
        .orderBy("vec_id")),

    // ---- sign-LSH ANN, hash-checked against planted structure: run the
    // full bucketed ANN machinery over the corpus-with-planted-near-copies
    // and emit each planted pair's top-1 match. Cosine(copy, source) >=
    // 0.999 while every cross-pair stays <= ~0.62 (measured, BASELINE.md),
    // so (a) LSH candidate generation cannot miss the pair (256-bit/32-band
    // miss prob ~1e-31) and (b) the pair is each side's argmax — top-1
    // membership is a pure function of the plant, ANSI-SQL-expressible.
    // (Raw-corpus approximate top-k recall stays gated by SimilaritySpec's
    // recall-vs-brute-force tests.)
    "ann_top1" -> ((s, dir) =>
      Similarity.annTopK(embWithNearDups(s, dir), 1)
        .where(col("vec_id") >= lit(PlantedVecOffset) || pmod(col("vec_id"), lit(5)) === 0)
        .select("vec_id", "neighbor_id")
        .orderBy("vec_id")),
    // ---- IVF variant, hash-checked the same way as ann_top1: IVF over the
    // corpus-with-planted-near-copies, emitting each planted vector's top-1.
    // Cosine(copy, source) >= 0.999 puts the pair in the same (or an
    // adjacently-probed, nprobe=4) coarse cell and makes it each side's
    // argmax, so top-1 membership is a pure function of the plant.
    // (Raw-corpus IVF top-k recall vs brute force stays gated in
    // SimilaritySpec.)
    "ivf_top1" -> ((s, dir) =>
      Similarity.ivfTopK(embWithNearDups(s, dir), 1, nlist = 16, nprobe = 4)
        .where(col("vec_id") >= lit(PlantedVecOffset) || pmod(col("vec_id"), lit(5)) === 0)
        .select("vec_id", "neighbor_id")
        .orderBy("vec_id")),

    // ---- embedding-cosine near-dup clustering, hash-checked: the corpus
    // plants a near copy (per-dim scale 0.96..1.04, cosine >= 0.999) for
    // every vec_id % 5 == 0 vector while all cross-pairs stay <= ~0.62
    // (measured, BASELINE.md), so LSH detection is certain (miss prob
    // ~1e-37), the 0.9 verify gate separates exactly, and membership is a
    // pure function of the planted structure — ANSI-SQL-expressible.
    "emb_neardup" -> ((s, dir) =>
      Similarity.nearDupClusters(embWithNearDups(s, dir), minCos = 0.9)
        .orderBy("vec_id")),

    // ===================== text analysis (training-data ops) =============

    // ---- n-gram-heuristic language id
    "lang_id" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // ---- quality-scoring features + composite gate (all-integer)
    "quality" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id") +: TextAnalysis.qualityFeatures(col("text")) :+
          TextAnalysis.qualityPass(col("text")).cast("long").as("quality_pass"): _*)
        .orderBy("doc_id")),

    // ---- BPE-ish pre-tokenizer counts
    "bpe_token_counts" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")))
        .orderBy("doc_id")),

    // ---- winnowing document fingerprints (rows-only; kernel gated in
    //      TextAnalysisSpec incl. the shared-substring guarantee)
    "winnow_fp" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), graft.functions.TextFunctions.fingerprint64(col("text")).as("fp64"))
        .orderBy("doc_id")),

    // ---- winnowing SELECTION hash-checked: the same k=8/w=16 min-per-
    // window selection algorithm over md5-based gram hashes (the one hash
    // both engines share), builtin higher-order functions only — so the
    // winnowing logic itself gets a DuckDB oracle on real document texts,
    // twinning the rolling-hash fast path above. Deliberately the bench's
    // slowest query (~5 s at sf0.1): O(n*w) HOF slices + one md5 PER GRAM
    // is the price of ANSI expressibility — it is an oracle twin, not a
    // production path; the O(n) deque kernel above is what ships.
    "winnow_grams" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.sqlWinnowSelect(col("text"))).as("fp"))
        .orderBy("doc_id", "fp")),

    // ---- exact n-gram Jaccard on the planted near-dup pairs (the ST3
    // verify metric as literal string shingles, hash-checked end to end:
    // tokens -> distinct 5-shingles -> |intersect|/|union| quantized e4)
    "jaccard_pairs" -> ((s, dir) => {
      val near = docs(s, dir).where(pmod(col("doc_id"), lit(10)) === 2)
      near.select(col("doc_id"),
          TextAnalysis.shingleSet(col("text")).as("sa"),
          TextAnalysis.shingleSet(concat(col("text"),
            lit(" zqnear"), col("doc_id").cast("string"), lit("x"))).as("sb"))
        .select(col("doc_id"),
          size(col("sa")).cast("long").as("n_orig"),
          size(col("sb")).cast("long").as("n_near"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_common"),
          TextAnalysis.jaccardE4(col("sa"), col("sb")).as("sim_e4"))
        .orderBy("doc_id")
    }),

    // ================ multimodal binary-column plumbing ==================

    // ---- decode-stage metadata round-trip (encode on write, decode in a
    //      narrow typed stage; oracle recomputes meta as a pure fn of doc_id)
    "asset_meta" -> ((s, dir) =>
      Multimodal.decodeMeta(Multimodal.assetsFromDocuments(s, dir))
        .toDF().orderBy("asset_id")),

    // ======================= relational extras ===========================

    // ---- projection + regexp extract + group (host dimension, F2/X6 kin)
    "host_stats" -> ((s, dir) =>
      docs(s, dir)
        .select(concat(lit("https://host"), pmod(col("doc_id"), lit(97)).cast("string"),
          lit(".example/d/"), col("doc_id").cast("string"), lit("/0")).as("url"))
        .select(regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"))
        .groupBy("host").agg(count(lit(1)).as("cnt"))
        .orderBy("host")),

    // ---- canonical-url dedup tier (the web analogue of the reference's
    //      path canonicalization, process_matches.rs:116-124): four spelled
    //      variants per group — case, default port, www, index.html,
    //      trailing slash, tracking params, param order, fragment — must
    //      collapse to ONE canonical url. Pure narrow map + hash groupBy:
    //      the cheapest dedup tier at 100 TB (no content ever read).
    "url_canon_groups" -> ((s, dir) =>
      docs(s, dir)
        .select(graft.web.UrlCanon.docIdVariantUrl(col("doc_id")).as("raw_url"))
        .groupBy(graft.web.UrlCanon.canonicalUrl(col("raw_url")).as("canon"))
        .agg(count(lit(1)).as("n_variants"), countDistinct(col("raw_url")).as("n_raw"))
        .orderBy("canon")),

    // ============ relational coverage (TPC-H-ish shared tables) ==========
    // Money is compared as exact integer cents: per-element
    // round(x * 100) is identical double math in Spark and DuckDB, and the
    // bigint sums are order-independent (no float-hash hazard).

    // ---- A2/A5-style wide aggregation over lineitem (contract example q1)
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("sum_disc_price_c"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- J1 3-way fact join with dim filter (TPC-H Q3 shape, top-k)
    "q3_top_orders" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy("o_orderkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- J1 dim-chain rollup (region > nation > customer), broadcast dims
    "nation_rollup" -> ((s, dir) => {
      val region = s.read.parquet(s"$dir/region.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      cust
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_c"))
        .orderBy("r_name", "n_name")
    }),

    // ---- part dimension rollup (size histogram + retail cents)
    "part_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          min(col("p_size")).as("min_size"),
          max(col("p_size")).as("max_size"),
          sum(round(col("p_retailprice") * 100).cast("long")).as("retail_c"))
        .orderBy("p_brand")),

    // ---- supplier x nation join (left dim chain on the supply side)
    "supplier_nations" -> ((s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
      s.read.parquet(s"$dir/supplier.parquet")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(round(col("s_acctbal") * 100).cast("long")).as("acctbal_c"))
        .orderBy("n_name")
    }),

    // ================= event-stream analytics (events table) =============

    // ---- tumbling-hour rollup (event-time window aggregation)
    "events_hourly" -> ((s, dir) =>
      graft.events.EventOps.hourlyRollup(s.read.parquet(s"$dir/events.parquet"))
        .orderBy("hour_epoch", "event_type")),

    // ---- gap-based sessionization (lag + running-sum window functions)
    "sessions_30m" -> ((s, dir) =>
      graft.events.EventOps.sessionStats(s.read.parquet(s"$dir/events.parquet"), 30)
        .orderBy("user_id", "session_id")),

    // ---- JSON property extraction (semi-structured column)
    "props_extract" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // ---- A7 keeper selection as a window function (canonical per group)
    "canonical_pick" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pages = PagesGen.fromDocuments(s, dir)
        .select(col("url"), md5(col("text")).as("h"))
      val w = Window.partitionBy("h")
      pages
        .withColumn("rn", row_number().over(w.orderBy("url")))
        .withColumn("cnt", count(lit(1)).over(w))
        .where(col("rn") === 1 && col("cnt") > 1)
        .select(col("h"), col("url").as("canonical_url"), col("cnt"))
        .orderBy("h")
    })
  )

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Planted-copy id offset for embWithNearDups: a planted id is
    * base vec_id + this, and "is planted" is tested as vec_id >= this.
    * 2^40 so a real corpus can never collide with the planted range
    * (2^40 embeddings x ~1.5 KB each is ~1.6 EB — beyond any input this
    * engine targets); the same literal is interpolated into the DuckDB
    * oracles so both sides share one constant. */
  private val PlantedVecOffset: Long = 1L << 40

  /** Embedding corpus with planted near-duplicates, derived
    * deterministically from the shared embeddings table (the vector analog
    * of PagesGen.fromDocuments): every vec_id % 5 == 0 vector gains a near
    * copy (vec_id + PlantedVecOffset) scaled per-dimension by 0.96..1.04. */
  private def embWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).select(col("vec_id"), col("embedding"))
    val near = emb(s, dir).where(pmod(col("vec_id"), lit(5)) === 0)
      .select((col("vec_id") + lit(PlantedVecOffset)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * (lit(0.96f) + lit(0.02f) *
            pmod(col("vec_id") * 7 + i, lit(5)).cast("float"))).as("embedding"))
    base.union(near)
  }

  /** DuckDB-dialect oracles over the same parquet tables in sfDir.
    * `pages` reconstruction mirrors PagesGen.fromDocuments exactly. */
  private val pagesCte: String =
    """WITH pages AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 10 IN (0,1)
      |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id, text || ' zqnear' || CAST(doc_id AS VARCHAR) || 'x' FROM documents WHERE doc_id % 10 = 2
      |)""".stripMargin

  /** Shared near-dup transitive-closure CTE chain (pages expansion ->
    * length filter -> distinct-text 5-shingle sets -> exact-Jaccard >= 0.8
    * edges -> recursive reachability -> min-text cluster labels -> member
    * rows `m(url, text, root_text)`): the DuckDB re-derivation of the
    * pipeline's maxHamming=-1 semantics, extended per query below. */
  private val neardupClosureCte: String =
    """WITH RECURSIVE pages AS (
      |  SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/0' AS url, text FROM documents
      |  UNION ALL SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/1', text FROM documents WHERE doc_id % 10 IN (0,1)
      |  UNION ALL SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/2', text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/3', text || ' zqnear' || CAST(doc_id AS VARCHAR) || 'x' FROM documents WHERE doc_id % 10 = 2
      |), flt AS (
      |  SELECT url, text FROM pages WHERE length(text) BETWEEN 8 AND 100000000
      |), sh AS (
      |  SELECT text, (
      |    WITH t AS (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks)
      |    SELECT list_distinct([array_to_string(toks[i:i+4], ' ') for i in generate_series(1, greatest(len(toks)-4, 1))]) FROM t
      |  ) AS shingles
      |  FROM (SELECT DISTINCT text FROM flt)
      |), e AS (
      |  SELECT a.text AS ta, b.text AS tb
      |  FROM sh a JOIN sh b ON a.text < b.text
      |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      |        / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8
      |), sym AS (
      |  SELECT ta AS a, tb AS b FROM e
      |  UNION SELECT tb, ta FROM e
      |  UNION SELECT text, text FROM sh
      |), reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |), lbl AS (
      |  SELECT a AS text, min(b) AS root_text FROM reach GROUP BY a
      |), m AS (
      |  SELECT f.url, f.text, l.root_text FROM flt f JOIN lbl l ON f.text = l.text
      |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "exact_dup_stats" ->
      "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct FROM documents",
    "exact_dup_groups" ->
      s"""$pagesCte
         |SELECT md5(text) AS h, count(*) AS cnt FROM pages
         |GROUP BY md5(text) HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "redundant_bytes" ->
      s"""$pagesCte
         |SELECT md5(text) AS h,
         |       CAST((count(*) - 1) * min(strlen(text)) AS BIGINT) AS redundant
         |FROM pages GROUP BY md5(text) HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "length_filter" ->
      "SELECT doc_id, n_chars FROM documents WHERE n_chars BETWEEN 100 AND 400 ORDER BY doc_id",
    "lang_stats" ->
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "source_stats" ->
      "SELECT source, count(*) AS cnt FROM documents GROUP BY source ORDER BY source",
    "token_counts" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      "SELECT doc_id, md5(substr(text, 1, 128)) AS fp FROM documents ORDER BY doc_id",
    "alpha_counts" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
        |FROM documents ORDER BY doc_id""".stripMargin,
    "exact_group_sizes" ->
      s"""$pagesCte,
         |g AS (
         |  SELECT md5(text) AS h, count(*) AS cnt FROM pages
         |  WHERE length(text) BETWEEN 8 AND 100000000
         |  GROUP BY md5(text) HAVING count(*) > 1
         |)
         |SELECT CAST(cnt AS BIGINT) AS n_members, count(*) AS n_groups
         |FROM g GROUP BY cnt ORDER BY n_members""".stripMargin,
    "knn_top3" ->
      """WITH p AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |         CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1e4) AS BIGINT) AS sim_e4
        |  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id
        |), r AS (
        |  SELECT vec_id, neighbor_id, sim_e4,
        |         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim_e4 DESC, neighbor_id) AS INT) AS rank
        |  FROM p
        |)
        |SELECT vec_id, neighbor_id, sim_e4, rank FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,
    "emb_norms" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) * 1e6) AS BIGINT) AS norm_e6
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "lang_id" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk,
        |    length(text) AS n_chars,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for|with)\b')) AS c_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|una|por|con|del)\b')) AS c_es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein|mit|von|nicht)\b')) AS c_de,
        |    len(regexp_extract_all(lower(text), '\b(le|les|des|une|est|pour|dans|sur|pas)\b')) AS c_fr
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN n_cjk * 5 > n_chars THEN 'zh'
        |       WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en > 0 THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr AND c_es > 0 THEN 'es'
        |       WHEN c_de >= c_fr AND c_de > 0 THEN 'de'
        |       WHEN c_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM c ORDER BY doc_id""".stripMargin,
    "quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS BIGINT) AS n_punct,
        |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for|with)\b')) AS BIGINT) AS n_stop
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, n_alpha, n_digit, n_punct, n_tokens, n_stop,
        |  CASE WHEN n_chars > 0 THEN n_alpha * 1000 // n_chars ELSE 0 END AS alpha_permille,
        |  CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END AS stop_permille,
        |  CASE WHEN n_tokens > 0 THEN n_chars * 1000 // n_tokens ELSE 0 END AS chars_per_token_e3,
        |  CAST(CASE WHEN n_chars >= 80
        |        AND (CASE WHEN n_chars > 0 THEN n_alpha * 1000 // n_chars ELSE 0 END) >= 600
        |        AND (CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END) >= 10
        |        AND (CASE WHEN n_tokens > 0 THEN n_chars * 1000 // n_tokens ELSE 0 END) <= 20000
        |       THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
        |FROM q ORDER BY doc_id""".stripMargin,
    "bpe_token_counts" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "asset_meta" ->
      """SELECT doc_id AS asset_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(24 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(16 + (doc_id % 7) * 8 AS INT) AS width,
        |  CAST(16 + (doc_id % 5) * 8 AS INT) AS height,
        |  CAST(1 + (doc_id % 4) AS INT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INT) AS sample_rate
        |FROM documents ORDER BY asset_id""".stripMargin,
    "host_stats" ->
      """SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host, count(*) AS cnt
        |FROM (SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/0' AS url FROM documents)
        |GROUP BY 1 ORDER BY host""".stripMargin,
    "url_canon_groups" -> {
      val variants =
        """SELECT CASE doc_id % 4
          |  WHEN 0 THEN 'https://host' || CAST((doc_id - doc_id % 4) % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id - doc_id % 4 AS VARCHAR) || '/0?b=2&a=1'
          |  WHEN 1 THEN 'HTTPS://HOST' || CAST((doc_id - doc_id % 4) % 97 AS VARCHAR) || '.EXAMPLE:443/d/' || CAST(doc_id - doc_id % 4 AS VARCHAR) || '/0?utm_source=feed&b=2&a=1#frag'
          |  WHEN 2 THEN 'https://www.host' || CAST((doc_id - doc_id % 4) % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id - doc_id % 4 AS VARCHAR) || '/0/index.html?a=1&b=2&gclid=zz'
          |  ELSE 'https://host' || CAST((doc_id - doc_id % 4) % 97 AS VARCHAR) || '.example:443/d/' || CAST(doc_id - doc_id % 4 AS VARCHAR) || '/0/?b=2&utm_campaign=x&a=1'
          |END AS raw_url FROM documents""".stripMargin
      s"""SELECT ${graft.web.UrlCanon.oracleSqlExpr("raw_url")} AS canon,
         |  count(*) AS n_variants, count(DISTINCT raw_url) AS n_raw
         |FROM ($variants)
         |GROUP BY 1 ORDER BY canon""".stripMargin
    },
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_top_orders" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue_c DESC, o_orderkey LIMIT 10""".stripMargin,
    "nation_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_c
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin,
    "part_stats" ->
      """SELECT p_brand, count(*) AS n_parts,
        |  min(p_size) AS min_size, max(p_size) AS max_size,
        |  CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS retail_c
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "supplier_nations" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_c
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |       event_type, count(*) AS cnt,
        |       min(event_id) AS min_event_id, max(event_id) AS max_event_id
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin,
    "sessions_30m" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), f AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN prev_ts IS NULL
        |                OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS ns
        |  FROM e
        |), g AS (
        |  SELECT user_id, event_id, ts,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM f
        |)
        |SELECT user_id, CAST(user_id * 1000000 + seq AS BIGINT) AS session_id,
        |       count(*) AS n_events,
        |       min(event_id) AS min_event_id, max(event_id) AS max_event_id,
        |       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
        |       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
        |FROM g GROUP BY user_id, seq ORDER BY user_id, session_id""".stripMargin,
    "props_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "emb_neardup" ->
      s"""SELECT vec_id, cluster_id FROM (
        |  SELECT vec_id, vec_id AS cluster_id FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + ${PlantedVecOffset}, vec_id FROM embeddings WHERE vec_id % 5 = 0
        |) ORDER BY vec_id""".stripMargin,
    "ann_top1" ->
      s"""SELECT vec_id, neighbor_id FROM (
        |  SELECT vec_id, vec_id + ${PlantedVecOffset} AS neighbor_id FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + ${PlantedVecOffset}, vec_id FROM embeddings WHERE vec_id % 5 = 0
        |) ORDER BY vec_id""".stripMargin,
    "ivf_top1" ->
      s"""SELECT vec_id, neighbor_id FROM (
        |  SELECT vec_id, vec_id + ${PlantedVecOffset} AS neighbor_id FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + ${PlantedVecOffset}, vec_id FROM embeddings WHERE vec_id % 5 = 0
        |) ORDER BY vec_id""".stripMargin,
    "simhash_planted" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |WHERE doc_id % 7 = 3 ORDER BY doc_id""".stripMargin,
    "pipeline_membership" ->
      s"""$neardupClosureCte, cs AS (
        |  SELECT root_text, min(url) AS cluster_key,
        |         count(*) AS n_members, count(DISTINCT text) AS n_sub
        |  FROM m GROUP BY root_text HAVING count(*) >= 2
        |)
        |SELECT cs.cluster_key, m.url,
        |       CAST(cs.n_members AS BIGINT) AS n_members,
        |       CAST(cs.n_sub AS INT) AS n_exact_subgroups
        |FROM m JOIN cs ON m.root_text = cs.root_text
        |ORDER BY cluster_key, url""".stripMargin,
    "pipeline_report" ->
      s"""$neardupClosureCte, node AS (
        |  SELECT root_text, text, count(*) AS sub_size, min(url) AS sub_min_url
        |  FROM m GROUP BY root_text, text
        |), canon AS (
        |  SELECT root_text, sub_min_url AS canonical_url FROM (
        |    SELECT root_text, sub_min_url,
        |           row_number() OVER (PARTITION BY root_text ORDER BY sub_size DESC, sub_min_url) AS rn
        |    FROM node) WHERE rn = 1
        |), cl AS (
        |  SELECT root_text, min(url) AS cluster_key,
        |         count(*) AS n_members, count(DISTINCT text) AS n_sub,
        |         CAST(sum(strlen(text)) - max(strlen(text)) AS BIGINT) AS redundant_bytes
        |  FROM m GROUP BY root_text HAVING count(*) >= 2
        |)
        |SELECT cl.cluster_key, m.url, md5(m.text) AS h,
        |       CAST(CASE WHEN m.url = canon.canonical_url THEN 1 ELSE 0 END AS INT) AS is_canonical,
        |       CAST(cl.n_members AS BIGINT) AS n_members,
        |       CAST(cl.n_sub AS INT) AS n_exact_subgroups,
        |       cl.redundant_bytes
        |FROM m JOIN cl ON m.root_text = cl.root_text
        |       JOIN canon ON m.root_text = canon.root_text
        |ORDER BY cluster_key, url""".stripMargin,
    "canonical_map" ->
      s"""$neardupClosureCte, node AS (
        |  SELECT root_text, text, count(*) AS sub_size, min(url) AS sub_min_url
        |  FROM m GROUP BY root_text, text
        |), canon AS (
        |  SELECT root_text, sub_min_url AS canonical_url FROM (
        |    SELECT root_text, sub_min_url,
        |           row_number() OVER (PARTITION BY root_text ORDER BY sub_size DESC, sub_min_url) AS rn
        |    FROM node) WHERE rn = 1
        |), cl AS (
        |  SELECT root_text FROM m GROUP BY root_text HAVING count(*) >= 2
        |)
        |SELECT m.url, canon.canonical_url
        |FROM m JOIN cl ON m.root_text = cl.root_text
        |       JOIN canon ON m.root_text = canon.root_text
        |WHERE m.url <> canon.canonical_url
        |ORDER BY m.url""".stripMargin,
    "report_nested" ->
      s"""$neardupClosureCte, sub AS (
        |  SELECT root_text, text, string_agg(url, ',' ORDER BY url) AS sub_urls,
        |         count(*) AS sub_count, strlen(text) AS sub_bytes
        |  FROM m GROUP BY root_text, text
        |), cl AS (
        |  SELECT root_text, min(url) AS cluster_key
        |  FROM m GROUP BY root_text HAVING count(*) >= 2
        |)
        |SELECT cl.cluster_key,
        |       string_agg(sub.sub_urls, ';' ORDER BY sub.sub_urls) AS duplicates,
        |       CAST(sum(sub.sub_bytes * sub.sub_count) - max(sub.sub_bytes) AS BIGINT) AS redundant_bytes
        |FROM sub JOIN cl ON sub.root_text = cl.root_text
        |GROUP BY cl.cluster_key
        |ORDER BY cluster_key""".stripMargin,
    "winnow_grams" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
        |      WHEN length(text) < 8
        |      THEN [CAST(('0x' || substr(md5(text),1,15)) AS BIGINT)]
        |      ELSE [CAST(('0x' || substr(md5(substr(text, i, 8)),1,15)) AS BIGINT)
        |            for i in generate_series(1, length(text)-7)]
        |    END AS hs
        |  FROM documents
        |), w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
        |      WHEN len(hs) <= 16 THEN [list_min(hs)]
        |      ELSE [list_min(hs[j+1:j+16]) for j in generate_series(0, len(hs)-16)]
        |    END AS sel
        |  FROM g
        |)
        |SELECT doc_id, unnest(list_sort(list_distinct(sel))) AS fp
        |FROM w ORDER BY doc_id, fp""".stripMargin,
    "jaccard_pairs" ->
      """WITH p AS (
        |  SELECT doc_id, text AS ta,
        |         text || ' zqnear' || CAST(doc_id AS VARCHAR) || 'x' AS tb
        |  FROM documents WHERE doc_id % 10 = 2
        |), sh AS (
        |  SELECT doc_id,
        |    (WITH t AS (SELECT list_filter(string_split_regex(ta, '\s+'), x -> x <> '') AS toks)
        |     SELECT list_distinct([array_to_string(toks[i:i+4], ' ') for i in generate_series(1, greatest(len(toks)-4, 1))]) FROM t) AS sa,
        |    (WITH t AS (SELECT list_filter(string_split_regex(tb, '\s+'), x -> x <> '') AS toks)
        |     SELECT list_distinct([array_to_string(toks[i:i+4], ' ') for i in generate_series(1, greatest(len(toks)-4, 1))]) FROM t) AS sb
        |  FROM p
        |)
        |SELECT doc_id,
        |  CAST(len(sa) AS BIGINT) AS n_orig,
        |  CAST(len(sb) AS BIGINT) AS n_near,
        |  CAST(len(list_intersect(sa, sb)) AS BIGINT) AS n_common,
        |  CAST((10000 * len(list_intersect(sa, sb)))
        |       // (len(sa) + len(sb) - len(list_intersect(sa, sb))) AS BIGINT) AS sim_e4
        |FROM sh ORDER BY doc_id""".stripMargin,
    "canonical_pick" ->
      s"""WITH pages AS (
         |  SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/0' AS url, text FROM documents
         |  UNION ALL SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/1', text FROM documents WHERE doc_id % 10 IN (0,1)
         |  UNION ALL SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/2', text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL SELECT 'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.example/d/' || CAST(doc_id AS VARCHAR) || '/3', text || ' zqnear' || CAST(doc_id AS VARCHAR) || 'x' FROM documents WHERE doc_id % 10 = 2
         |), r AS (
         |  SELECT md5(text) AS h, url,
         |         row_number() OVER (PARTITION BY md5(text) ORDER BY url) AS rn,
         |         count(*) OVER (PARTITION BY md5(text)) AS cnt
         |  FROM pages
         |)
         |SELECT h, url AS canonical_url, CAST(cnt AS BIGINT) AS cnt FROM r WHERE rn = 1 AND cnt > 1 ORDER BY h""".stripMargin
  )
}
