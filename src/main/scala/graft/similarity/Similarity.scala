package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.cluster.ConnectedComponents
import graft.functions.EmbeddingFunctions._

/** Similarity search + embedding-cosine near-dup over an embedding column
  * (training-data ops; the vector analog of the MinHash/LSH text tier).
  *
  * Three physical strategies, cheapest-adequate wins — the staged-refinement
  * idea of the reference applied to vectors:
  *  - `knnBruteForce`: exact top-k, queries x broadcast(corpus). The
  *    baseline; right answer whenever the corpus side fits in an executor
  *    (dims * rows * 8B). At 100 TB the corpus is the big side: keep the
  *    broadcast on whichever side is small, or go to the bucketed paths.
  *  - `annTopK` (sign-LSH): random-hyperplane band keys grouped and paired
  *    by the text tier's own candidate generator (`Pipeline.bandedPairs`).
  *    Sub-quadratic; recall tuned by (bits, bands); buckets larger than
  *    `maxBucket` are dropped, the text tier's stop-band guard.
  *  - `ivfTopK`: IVF coarse quantizer — nlist deterministic data-sampled
  *    centroids, corpus assigned to nearest cell (1 shuffle on cell id),
  *    queries probe `nprobe` nearest cells. The scale path: candidate count
  *    ~ n * nprobe / nlist per query, centroid table broadcast.
  */
object Similarity {

  /** bits = bands * rowsPerBand sign bits; maxBucket = hot-bucket guard. */
  final case class AnnConfig(
      bits: Int = 256,
      bands: Int = 32,
      seed: Long = 42L,
      maxBucket: Int = 2000
  ) {
    require(bits % bands == 0, s"bits=$bits not divisible by bands=$bands")
  }

  /** Adds `unit` (l2-normalized array<double>) — computed once per row so
    * downstream pair joins pay only a dot product per candidate. */
  def withUnit(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.withColumn("unit", l2Normalize(col(vecCol)))

  /** Per-query top-k over a scored candidate set WITHOUT a global window
    * sort: partial top-k heaps per partition (map-side reduction to
    * <= queries x partitions x k rows), then a bounded per-query merge via
    * array_sort — the scalable replacement for
    * row_number().over(partitionBy(query).orderBy(sim)) whose sort shuffle
    * would move every candidate row. Ranking: sim desc, neighbor_id asc. */
  private def simRank(pairs: DataFrame, k: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val partial = pairs
      .select(col("vec_id"), col("neighbor_id"), col("sim"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val worstFirst = Ordering.by[(Long, Double), (Double, Long)] {
          case (nid, s) => (-s, nid)
        } // max under this ordering = lowest sim (ties: highest neighbor id)
        val heaps = new java.util.HashMap[Long, scala.collection.mutable.PriorityQueue[(Long, Double)]]()
        it.foreach { case (q, n, s) =>
          var h = heaps.get(q)
          if (h == null) {
            h = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worstFirst)
            heaps.put(q, h)
          }
          h.enqueue((n, s))
          if (h.size > k) h.dequeue()
        }
        import scala.jdk.CollectionConverters._
        heaps.entrySet().iterator().asScala.flatMap { e =>
          e.getValue.iterator.map { case (n, s) => (e.getKey.longValue(), n, s) }
        }
      }
      .toDF("vec_id", "neighbor_id", "sim")
    partial
      .groupBy("vec_id")
      .agg(slice(
        array_sort(collect_list(struct(
          (-col("sim")).as("neg"), col("neighbor_id").as("nid"), col("sim").as("s")))),
        1, k).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(
        col("vec_id"),
        col("col.nid").as("neighbor_id"),
        col("col.s").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact cosine top-k: one narrow pass — corpus unit vectors broadcast,
    * per-query heap over the whole corpus inside mapPartitions. No pair
    * materialization, no shuffle beyond the corpus collect. Right whenever
    * the corpus side fits in memory (dims x rows x 8B); at web scale flip
    * the arguments so the small side broadcasts, or use annTopK/ivfTopK. */
  def knnBruteForce(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true
  ): DataFrame =
    knnImpl(queries, corpus, k, idCol, vecCol, quantized = false, excludeSelf)

  /** Exact cosine top-k with quantized ranking: neighbors ranked by
    * round(sim * 1e4) desc then neighbor_id — integer-stable across engines,
    * so an ANSI-SQL oracle reproduces ranks bit-for-bit (float-hash-safe
    * driver compare). The quantum is deliberately coarse: engines computing
    * the cosine in different operation orders can diverge by an ulp, and a
    * value within an ulp of a rounding boundary would flip a rank; at 1e4
    * the boundary density is 100x lower than 1e6 and quantized ties resolve
    * by neighbor_id in both engines. Returns (vec_id, neighbor_id, sim_e4,
    * rank). */
  def knnQuantized(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeSelf: Boolean = true
  ): DataFrame =
    knnImpl(queries, corpus, k, idCol, vecCol, quantized = true, excludeSelf)

  /** excludeSelf skips corpus rows whose id EQUALS the query id — correct
    * only for the self-join case (queries == corpus, the common "neighbors
    * within one table" use). Pass false when queries and corpus are
    * DISTINCT tables with overlapping id spaces, or a legitimate top-k
    * neighbor that merely shares an id would be silently dropped. */
  private def knnImpl(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String, vecCol: String, quantized: Boolean,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cor: Array[(Long, Array[Double])] =
      withUnit(corpus.select(col(idCol).as("id"), col(vecCol)), vecCol)
        .select("id", "unit").as[(Long, Array[Double])].collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(cor)

    val ranked = withUnit(queries.select(col(idCol).as("id"), col(vecCol)), vecCol)
      .select("id", "unit").as[(Long, Array[Double])]
      .mapPartitions { it =>
        val c = bc.value
        it.flatMap { case (qid, qu) =>
          // score key: quantized -> (sim_e4, -nid); exact -> (sim, -nid);
          // heap root = worst kept candidate
          val worstFirst = Ordering.by[(Long, Double, Long), (Double, Long, Long)] {
            case (nid, s, se4) => if (quantized) (-se4.toDouble, nid, 0L) else (-s, nid, 0L)
          }
          val h = scala.collection.mutable.PriorityQueue.empty[(Long, Double, Long)](worstFirst)
          var i = 0
          while (i < c.length) {
            val (nid, nu) = c(i)
            if (!excludeSelf || nid != qid) {
              val s = EmbeddingKernels.dot(qu, nu)
              val se4 = math.round(s * 1e4)
              h.enqueue((nid, s, se4))
              if (h.size > k) h.dequeue()
            }
            i += 1
          }
          val sorted = h.dequeueAll.reverse // best first
          sorted.iterator.zipWithIndex.map { case ((nid, s, se4), r) =>
            (qid, nid, s, se4, r + 1)
          }
        }
      }
      .toDF("vec_id", "neighbor_id", "sim", "sim_e4", "rank")
    if (quantized) ranked.select("vec_id", "neighbor_id", "sim_e4", "rank")
    else ranked.select("vec_id", "neighbor_id", "sim", "rank")
  }

  /** Distinct candidate pairs (id_a < id_b) from sign-LSH buckets: the
    * vector band keys go through `Pipeline.bandedPairs`, the one banded
    * candidate generator of the text, SimHash-chunk and incremental tiers,
    * with both guard bounds at `maxBucket`, so every bucket above it is
    * dropped and counted in `stats().droppedBandGroups`. */
  def candidatePairs(df: DataFrame, cfg: AnnConfig,
      idCol: String = "vec_id", vecCol: String = "embedding"): Pipeline.Candidates =
    Pipeline.bandedPairs(
      df.select(col(idCol).as("node_id"),
        explode(embeddingBandKeys(col(vecCol), cfg.bits, cfg.bands, cfg.seed)).as("band_key")),
      cfg.maxBucket, cfg.maxBucket)

  /** Approximate cosine top-k via sign-LSH buckets (both directions of each
    * candidate pair, exact cosine on candidates only). */
  def annTopK(df: DataFrame, k: Int, cfg: AnnConfig = AnnConfig(),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pairs = candidatePairs(df, cfg, idCol, vecCol).pairs
    val sym = pairs.select(col("id_a").as("vec_id"), col("id_b").as("neighbor_id"))
      .union(pairs.select(col("id_b").as("vec_id"), col("id_a").as("neighbor_id")))

    val units = withUnit(df.select(col(idCol).as("id"), col(vecCol)), vecCol)
      .select(col("id"), col("unit"))

    val scored = sym
      .join(units.withColumnRenamed("id", "vec_id").withColumnRenamed("unit", "unit_q"), "vec_id")
      .join(units.withColumnRenamed("id", "neighbor_id").withColumnRenamed("unit", "unit_c"), "neighbor_id")
      .withColumn("sim", dotProduct(col("unit_q"), col("unit_c")))
    simRank(scored, k)
  }

  /** IVF top-k. Deterministic coarse quantizer: the `nlist` corpus vectors
    * with the smallest xxhash64(id) are the centroids (a seeded sample —
    * no k-means iterations; adequate as a partitioner and fully
    * reproducible). Corpus rows land in their nearest cell; each query
    * probes its `nprobe` nearest cells. */
  def ivfTopK(df: DataFrame, k: Int, nlist: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    // One materialization: the normalize scan otherwise re-runs for the
    // centroid collect AND both sides of the cell join (3x the dominant
    // narrow pass).
    val units = withUnit(df.select(col(idCol).as("id"), col(vecCol)), vecCol)
      .select(col("id"), col("unit"))
      .localCheckpoint(false)

    // nlist rows: tiny, collected once and shipped in task closures.
    val centroids: Array[(Long, Array[Double])] = units
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h", "id")
      .limit(nlist)
      .select("id", "unit")
      .as[(Long, Array[Double])]
      .collect()

    // m == 1 is the per-corpus-row hot path: a single O(nlist) argmax, no
    // per-row tuple array + O(nlist log nlist) sort.
    def nearestCell(unit: Array[Double]): Long = {
      var best = 0
      var bestD = Double.NegativeInfinity
      var i = 0
      while (i < centroids.length) {
        val d = EmbeddingKernels.dot(unit, centroids(i)._2)
        if (d > bestD || (d == bestD && centroids(i)._1 < centroids(best)._1)) {
          best = i; bestD = d
        }
        i += 1
      }
      centroids(best)._1
    }

    def nearestCells(unit: Array[Double], m: Int): Seq[Long] =
      if (m == 1) Seq(nearestCell(unit))
      else centroids
        .map { case (cid, cu) => (cid, EmbeddingKernels.dot(unit, cu)) }
        .sortBy { case (cid, d) => (-d, cid) }
        .take(m).map(_._1).toSeq

    val corpus = units.as[(Long, Array[Double])]
      .map { case (id, u) => (id, u, nearestCell(u)) }
      .toDF("neighbor_id", "unit_c", "cell")

    val queries = units.as[(Long, Array[Double])]
      .flatMap { case (id, u) => nearestCells(u, nprobe).map(c => (id, u, c)) }
      .toDF("vec_id", "unit_q", "cell")

    // No dedup shuffle: a corpus row lives in exactly ONE cell, so a
    // (query, corpus) pair can match at most once however many cells the
    // query probes — with unique input ids the join output is already
    // pair-distinct (duplicate input ids are the caller's data error).
    val scored = queries.join(corpus, "cell")
      .where(col("vec_id") =!= col("neighbor_id"))
      .withColumn("sim", dotProduct(col("unit_q"), col("unit_c")))
    simRank(scored, k)
  }

  /** Embedding-cosine near-dup: LSH candidates verified at `minCos`, then
    * connected components — the vector twin of the text pipeline's
    * ST2->ST3->ST4. Returns (vec_id, cluster_id) for clustered vectors
    * (cluster_id = component-min id; singletons suppressed, F3). */
  def nearDupClusters(df: DataFrame, minCos: Double, cfg: AnnConfig = AnnConfig(),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    val pairs = candidatePairs(df, cfg, idCol, vecCol).pairs
    val units = withUnit(df.select(col(idCol).as("id"), col(vecCol)), vecCol)
      .select(col("id"), col("unit"))
    val edges = pairs
      .join(units.withColumnRenamed("id", "id_a").withColumnRenamed("unit", "unit_a"), "id_a")
      .join(units.withColumnRenamed("id", "id_b").withColumnRenamed("unit", "unit_b"), "id_b")
      .where(dotProduct(col("unit_a"), col("unit_b")) >= minCos)
      .select("id_a", "id_b")
    ConnectedComponents.run(spark, edges)
      .select(col("id").as(idCol), col("cluster_id"))
  }
}
