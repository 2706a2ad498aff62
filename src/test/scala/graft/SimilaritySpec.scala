package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.{EmbeddingKernels, Similarity}
import graft.util.Hashing

/** Similarity-search tier: kernel known answers, exact-kNN vs a local
  * oracle on the real embeddings table, and planted-near-dup recall for the
  * LSH and IVF approximate paths. */
class SimilaritySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  // ---------------------------------------------------------------- kernels

  test("normalize and dot kernels") {
    val v = Array(3.0f, 4.0f)
    val u = EmbeddingKernels.normalize(v)
    assert(math.abs(u(0) - 0.6) < 1e-12 && math.abs(u(1) - 0.8) < 1e-12)
    assert(EmbeddingKernels.normalize(Array(0.0f, 0.0f)).forall(_ == 0.0))
    assert(math.abs(EmbeddingKernels.cosine(v, v) - 1.0) < 1e-12)
    assert(math.abs(EmbeddingKernels.cosine(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
  }

  test("null array elements fail loudly, not as NPE or silent 0.0") {
    // Parquet-read arrays are containsNull=true in schema, so null ELEMENTS
    // can't be rejected at analysis; unguarded, UnsafeArrayData.toDoubleArray
    // reads a null slot as 0.0 (silently wrong math) while GenericArrayData
    // NPEs. The expressions must turn both into one described failure.
    import graft.functions.EmbeddingFunctions
    val df = spark.range(1).select(
      array(lit(1.0), lit(null).cast("double")).as("a"),
      array(lit(1.0), lit(2.0)).as("b"),
      array(lit(1.0f), lit(null).cast("float")).as("f"))
    val e1 = intercept[Exception] {
      df.select(EmbeddingFunctions.dotProduct(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("null array element"),
      s"expected described failure, got: $e1")
    val e2 = intercept[Exception] {
      df.select(EmbeddingFunctions.l2Normalize(col("f"))).collect()
    }
    assert(e2.getMessage.contains("null array element"))
    val e3 = intercept[Exception] {
      df.select(EmbeddingFunctions.embeddingBandKeys(col("f"), 16, 4, 7L)).collect()
    }
    assert(e3.getMessage.contains("null array element"))
    // dense vectors still work through the same guard
    val ok = df.select(EmbeddingFunctions.dotProduct(col("b"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(ok - 5.0) < 1e-12)
  }

  test("hyperplanes are deterministic in (dim, bits, seed)") {
    val a = EmbeddingKernels.hyperplanes(8, 16, 7L)
    val b = EmbeddingKernels.hyperplanes(8, 16, 7L)
    val c = EmbeddingKernels.hyperplanes(8, 16, 8L)
    assert(a.flatten[Double].sameElements(b.flatten[Double]))
    assert(!a.flatten[Double].sameElements(c.flatten[Double]))
  }

  // ------------------------------------------------------------- brute force

  /** Local oracle: exact top-k by cosine from collected vectors. */
  private def localTopK(vs: Array[(Long, Array[Float])], k: Int): Map[Long, Seq[Long]] = {
    val units = vs.map { case (id, v) => (id, EmbeddingKernels.normalize(v)) }
    units.map { case (qid, qu) =>
      val nbrs = units.filter(_._1 != qid)
        .map { case (nid, nu) => (nid, EmbeddingKernels.dot(qu, nu)) }
        .sortBy { case (nid, s) => (-s, nid) }
        .take(k).map(_._1).toSeq
      qid -> nbrs
    }.toMap
  }

  private lazy val collected: Array[(Long, Array[Float])] =
    emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("knnBruteForce matches the local exact oracle on real embeddings") {
    val k = 5
    val got = Similarity.knnBruteForce(emb, emb, k).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    val want = localTopK(collected, k)
    assert(got.keySet == want.keySet)
    // allow order flips only between equal-sim neighbors (none expected on
    // random float data — require exact agreement)
    got.foreach { case (q, nbrs) => assert(nbrs == want(q), s"query $q") }
  }

  // ---------------------------------------------------- planted ANN fixture

  /** Deterministic planted corpus: nBase random unit-ish vectors; every
    * third gets a near-duplicate (small perturbation, cos >= 0.97). */
  private def plantedDf(nBase: Int, dim: Int): (DataFrame, Seq[(Long, Long)]) = {
    def vec(seed: Long): Array[Float] = {
      var s = seed
      Array.fill(dim) {
        s = Hashing.splitMix64(s)
        (((s >>> 11).toDouble / (1L << 53).toDouble) - 0.5).toFloat
      }
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    val truth = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0 until nBase).foreach { i =>
      val base = vec(0xbead5eedL + i)
      rows += ((i.toLong, base))
      if (i % 3 == 0) {
        val noise = vec(0xad0befL + i)
        val nrm = math.sqrt(base.map(x => x * x.toDouble).sum)
        val scale = (0.08 * nrm / math.sqrt(noise.map(x => x * x.toDouble).sum)).toFloat
        val dup = base.zip(noise).map { case (b, n) => b + n * scale }
        rows += ((10000L + i, dup))
        truth += ((i.toLong, 10000L + i))
      }
    }
    import spark.implicits._
    (rows.toSeq.toDF("vec_id", "embedding"), truth.toSeq)
  }

  test("annTopK finds planted near-duplicates (recall >= 0.95)") {
    val (df, truth) = plantedDf(nBase = 120, dim = 32)
    val ann = Similarity.annTopK(df, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = truth.count { case (a, b) => ann.contains((a, b)) || ann.contains((b, a)) }
    val recall = found.toDouble / truth.size
    info(s"ann planted recall = $recall ($found/${truth.size})")
    assert(recall >= 0.95)
  }

  test("ann sim values equal brute-force sims for the same pairs") {
    val (df, _) = plantedDf(nBase = 60, dim = 16)
    val ann = Similarity.annTopK(df, k = 2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val bf = Similarity.knnBruteForce(df, df, 59).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ann.foreach { case (pair, sim) =>
      assert(math.abs(bf(pair) - sim) < 1e-12, s"pair $pair")
    }
  }

  test("ivfTopK planted recall >= 0.9 with nprobe=4") {
    val (df, truth) = plantedDf(nBase = 120, dim = 32)
    val ivf = Similarity.ivfTopK(df, k = 3, nlist = 8, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = truth.count { case (a, b) => ivf.contains((a, b)) || ivf.contains((b, a)) }
    val recall = found.toDouble / truth.size
    info(s"ivf planted recall = $recall ($found/${truth.size})")
    assert(recall >= 0.9)
  }

  test("nearDupClusters clusters planted duplicate pairs together") {
    val (df, truth) = plantedDf(nBase = 90, dim = 32)
    val assign = Similarity.nearDupClusters(df, minCos = 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    truth.foreach { case (a, b) =>
      assert(assign.get(a).isDefined && assign.get(a) == assign.get(b),
        s"planted dup ($a,$b) not co-clustered")
    }
    // negatives: two unrelated base vectors never share a cluster
    val unrelated = Seq((1L, 2L), (4L, 5L), (7L, 8L))
    unrelated.foreach { case (a, b) =>
      val same = assign.get(a).exists(c => assign.get(b).contains(c))
      assert(!same, s"unrelated ($a,$b) co-clustered")
    }
  }

  test("excludeSelf=false keeps a same-id corpus neighbor (distinct tables)") {
    // Documented contract (Similarity.knnImpl): excludeSelf only makes sense
    // for the self-join case; with DISTINCT query/corpus tables sharing an
    // id space, pass false or a legitimate neighbor is silently dropped.
    import spark.implicits._
    val u = Array.tabulate(8)(i => (i + 1).toFloat)
    val w = Array.tabulate(8)(i => (8 - i).toFloat)
    val queries = Seq((5L, u)).toDF("vec_id", "embedding")
    val corpus = Seq((5L, u), (6L, w)).toDF("vec_id", "embedding")
    def top1(excludeSelf: Boolean): Long =
      Similarity.knnBruteForce(queries, corpus, k = 1, excludeSelf = excludeSelf)
        .collect().head.getLong(1)
    assert(top1(excludeSelf = true) == 6L, "self-join mode must skip the same id")
    assert(top1(excludeSelf = false) == 5L,
      "distinct-tables mode must keep the identical same-id corpus row")
  }

  test("hot embedding buckets are dropped at maxBucket and counted") {
    // 10 identical vectors (a boilerplate clique: every band bucket holds all
    // 10) plus one planted pair on the NEGATED vector — opposite sign under
    // every hyperplane, so the pair's buckets can never merge with the
    // clique's. maxBucket=5 must drop every clique bucket (guard, counted by
    // the lazy thunk) and keep the cold pair; the default cap keeps all 46.
    import spark.implicits._
    val v = Array.tabulate(16)(i => (((i * 7 + 3) % 11) - 5).toFloat)
    val neg = v.map(x => -x)
    val rows = (0L until 10L).map(i => (i, v)) ++ Seq((100L, neg), (101L, neg))
    val df = rows.toDF("vec_id", "embedding")
    val capped = Similarity.AnnConfig(bits = 256, bands = 32, maxBucket = 5)
    val c = Similarity.candidatePairs(df, capped)
    val got = c.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 101L)), s"hot-clique pairs must be dropped, got $got")
    assert(c.stats().droppedBandGroups >= 1L, "dropped-bucket census must count the hot buckets")
    val all = Similarity.candidatePairs(df, Similarity.AnnConfig())
    assert(all.pairs.count() == 45L + 1L, "default cap keeps the full clique")
    assert(all.stats().droppedBandGroups == 0L)
  }

  test("band keys are invariant under repartitioning") {
    val (df, _) = plantedDf(nBase = 40, dim = 16)
    import graft.functions.EmbeddingFunctions._
    def keys(d: DataFrame) = d
      .select(col("vec_id"), embeddingBandKeys(col("embedding"), 64, 16, 42L).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(keys(df.repartition(2)) == keys(df.repartition(7)))
  }
}
