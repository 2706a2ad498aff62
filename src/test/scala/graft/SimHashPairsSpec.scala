package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.typedLit

import graft.model.GraftConfig

/** ST2's SimHash pigeonhole chunk tier (`Pipeline.candidatePairs` with
  * `simhashTier` on): recall for Hamming <= maxHamming is a STRUCTURAL
  * guarantee (any two fingerprints within distance H agree on at least one
  * of H+1 chunks). The spec applies the exact bit_count(xor) gate itself,
  * as ST3 does, and checks brute-force all-pairs equality — both
  * directions, all distances. Every frame's `band_hashes` is empty, so only
  * chunk keys can collide. */
class SimHashPairsSpec extends SparkSpec {
  import spark.implicits._

  /** Chunk-tier candidates of `sigs` within `maxHamming`, with distances. */
  private def chunkPairs(sigs: DataFrame, cfg: GraftConfig): Set[(Long, Long, Int)] = {
    val simhash = sigs.select("node_id", "simhash").as[(Long, Long)].collect().toMap
    val chunkKeysOnly = sigs.withColumn("band_hashes", typedLit(Seq.empty[Long]))
    Pipeline.candidatePairs(chunkKeysOnly, cfg.copy(simhashTier = true)).pairs
      .as[(Long, Long)].collect()
      .map { case (a, b) => (a, b, java.lang.Long.bitCount(simhash(a) ^ simhash(b))) }
      .filter(_._3 <= cfg.maxHamming).toSet
  }

  private def pairsOf(rows: Seq[(Long, Long)], cfg: GraftConfig): Set[(Long, Long, Int)] =
    chunkPairs(rows.toDF("node_id", "simhash"), cfg)

  private def brute(rows: Seq[(Long, Long)], maxH: Int): Set[(Long, Long, Int)] =
    (for {
      (a, sa) <- rows
      (b, sb) <- rows if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
    } yield (a, b, h)).toSet

  test("crafted fingerprints: exactly the <=maxHamming pairs, with distances") {
    val v = 0x0123456789abcdefL
    val rows = Seq(
      1L -> v,
      2L -> (v ^ (1L << 5)),                            // hamming 1 from v
      3L -> (v ^ (1L << 17) ^ (1L << 40) ^ (1L << 63)), // hamming 3 from v
      4L -> (v ^ 0x000000000000001eL),                  // hamming 4 from v (excluded)
      5L -> ~v                                          // hamming 64
    )
    val got = pairsOf(rows, GraftConfig(maxHamming = 3))
    assert(got == brute(rows, 3))
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 3)))
    assert(!got.exists { case (a, b, _) => (a, b) == ((1L, 4L)) })
    // the hamming-4 pair IS found once the gate admits it
    assert(pairsOf(rows, GraftConfig(maxHamming = 4)).contains((1L, 4L, 4)))
  }

  test("brute-force equality on a correlated random corpus") {
    // 24 base fingerprints, each with variants at 0..8 flipped bits: dense
    // in exactly the distance range where the pigeonhole argument matters.
    val rnd = new scala.util.Random(0xc0ffee)
    val rows = for {
      base <- 0 until 24
      v = rnd.nextLong()
      variant <- 0 until 6
      flips = variant // 0 = exact copy of the base fingerprint
    } yield {
      var s = v
      (0 until flips).foreach(_ => s ^= (1L << rnd.nextInt(64)))
      (base * 100L + variant, s)
    }
    for (maxH <- Seq(0, 1, 2, 3, 7)) {
      val cfg = GraftConfig(maxHamming = maxH)
      assert(pairsOf(rows, cfg) == brute(rows, maxH), s"mismatch at maxHamming=$maxH")
    }
  }

  test("non-divisible chunk widths cover all 64 bits (maxHamming=2 -> 22/21/21)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 40).map { i =>
      val v = rnd.nextLong()
      (i.toLong, if (i % 2 == 1) v ^ (1L << rnd.nextInt(64)) else v)
    }
    assert(pairsOf(rows, GraftConfig(maxHamming = 2)) == brute(rows, 2))
  }

  test("identical texts end-to-end: signatures -> chunk tier finds every planted pair") {
    val docs = (0 until 30).map(i => (i.toLong * 2, s"alpha beta gamma delta epsilon doc$i " * 8))
    val copies = docs.filter(_._1 % 6 == 0).map { case (id, t) => (id + 1, t) }
    val corpus = (docs ++ copies).toDF("node_id", "text")
      .withColumn("n_bytes", org.apache.spark.sql.functions.length($"text").cast("long"))
    val cfg = GraftConfig()
    val got = chunkPairs(Pipeline.signatures(corpus, cfg), cfg)
      .collect { case (a, b, h) if b == a + 1 => (a, h) }
    assert(got == copies.map(c => (c._1 - 1, 0)).toSet)
  }
}
