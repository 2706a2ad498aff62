package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.ExtractText
import graft.util.Hashing

/** The `dup_dense` corpus: short pages (~1 KB of text) in families whose
  * layout is a pure function of (family index, seed), by f mod 50:
  *
  *   0      big star: a base page and 50-80 near copies of it (one or two
  *          tokens replaced; every fourth copy exact). Its hot band groups
  *          exceed the salting threshold.
  *   1      edit chain: 40 pages, each two tokens away from the previous
  *          one; pages two steps apart fall below the Jaccard gate, so the
  *          chain is one component whose diameter exceeds the 25-iteration
  *          propagation budget of connected components.
  *   2-11   hard negative pair: half of the tokens shared (J ~ 0.33), must
  *          never merge.
  *   12-26  small star: a base page and 1-9 near or exact copies.
  *   27-49  singleton.
  *
  * Truth: every star and chain family is one cluster. */
object DupDenseGen {

  final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String,
      lang: String, family: Long, clustered: Boolean)

  private final val Tokens = 150
  private final val Vocab = 5000
  private val EpochMs = 1704067200000L

  private final class Rng(var state: Long) {
    def next(): Long = { state = Hashing.splitMix64(state); state }
    def nextInt(bound: Int): Int = Math.floorMod(next(), bound.toLong).toInt
  }

  private def word(v: Int): String = {
    var h = Hashing.splitMix64(0x5eed0000L + v)
    val len = 3 + Math.floorMod(h, 6L).toInt
    val sb = new StringBuilder(len)
    for (_ <- 0 until len) {
      h = Hashing.splitMix64(h)
      sb.append(('a' + Math.floorMod(h, 26L).toInt).toChar)
    }
    sb.toString
  }

  private def replaced(t: Array[String], rng: Rng, n: Int, tag: String): Array[String] = {
    val out = t.clone()
    for (k <- 0 until n) out(rng.nextInt(out.length)) = s"zq${tag}k${k}x"
    out
  }

  /** (text, clustered) of every page of family f. Family sizes depend on
    * f alone, so every seed yields the same number of pages. */
  def familyTexts(f: Long, seed: Long): Seq[(String, Boolean)] = {
    val rng = new Rng(seed ^ (f * 0x9e3779b97f4a7c15L) ^ 0xd0bdL)
    val size = new Rng(f * 0x9e3779b97f4a7c15L ^ 0x512eL)
    val base = Array.fill(Tokens)(word(rng.nextInt(Vocab)))
    val t = base.mkString(" ")
    (f % 50).toInt match {
      case 0 =>
        val n = 50 + size.nextInt(31)
        (t, true) +: (1 to n).map { j =>
          if (j % 4 == 3) (t, true)
          else (replaced(base, rng, 1 + rng.nextInt(2), s"f${f}v$j").mkString(" "), true)
        }
      case 1 =>
        Iterator.iterate(base)(prev => replaced(prev, rng, 2, s"f${f}c${rng.nextInt(1 << 30)}"))
          .take(40).map(x => (x.mkString(" "), true)).toSeq
      case m if m >= 2 && m <= 11 =>
        val other = base.take(Tokens / 2) ++ Array.fill(Tokens - Tokens / 2)(word(rng.nextInt(Vocab)))
        Seq((t, false), (other.mkString(" "), false))
      case m if m >= 12 && m <= 26 =>
        val n = 1 + size.nextInt(9)
        (t, true) +: (1 to n).map { j =>
          if (j % 3 == 0) (t, true)
          else (replaced(base, rng, 1 + rng.nextInt(2), s"f${f}s$j").mkString(" "), true)
        }
      case _ => Seq((t, false))
    }
  }

  def family(f: Long, seed: Long): Seq[Page] = {
    val host = s"h${Math.floorMod(f, 97L)}.example"
    familyTexts(f, seed).zipWithIndex.map { case ((text, clustered), j) =>
      Page(s"https://$host/f$f/d$j", new Timestamp(EpochMs + (f * 1000 + j) * 60000L),
        ExtractText.render(text, host), text, "en", f, clustered)
    }
  }

  def pages(spark: SparkSession, families: Long, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, families).flatMap(f => family(f, seed))
      .select($"url", $"warc_ts", $"html", $"text", $"lang")
  }

  /** url -> truth cluster (the family index) of every clustered page. */
  def truth(families: Long, seed: Long): Map[String, Long] =
    (0L until families).iterator.flatMap(f => family(f, seed))
      .filter(_.clustered).map(p => p.url -> p.family).toMap
}
