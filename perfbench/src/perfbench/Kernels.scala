package perfbench

import graft.extract.ExtractText
import graft.model.GraftConfig
import graft.signatures.MinHasher
import graft.text.Fingerprint
import graft.verify.Lcs

/** Per-call cost of the engine's kernels on texts sampled from the
  * workload's own corpus. Each kernel is warmed up, then timed over whole
  * passes of the sample; the figure is the median pass's microseconds per
  * call. Every result feeds a sink so no call can be elided. */
object Kernels {

  /** A near copy of `t`: its middle token replaced, the shape of the pairs
    * ST3 verifies. */
  private def nearCopy(t: String): String = {
    val toks = t.split(' ')
    toks(toks.length / 2) = "zqkernelx"
    toks.mkString(" ")
  }

  def run(res: Result, texts: IndexedSeq[String], htmls: IndexedSeq[Array[Byte]],
      cfg: GraftConfig): Unit = {
    require(texts.nonEmpty && htmls.nonEmpty, "kernel sample is empty")
    val k = cfg.shingleK
    val near = texts.map(nearCopy)
    val sh = texts.map(MinHasher.shingleHashes(_, k))
    val shNear = near.map(MinHasher.shingleHashes(_, k))
    val (pa, pb) = MinHasher.permParams(cfg.numPerm, cfg.seed)
    val grams = texts.map(Fingerprint.kgramHashes(_, Fingerprint.DefaultK))
    var sink = 0L

    def time(name: String, n: Int)(call: Int => Long): Unit = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink ^= call(i); i += 1 }
        (System.nanoTime() - t0) / 1e3 / n
      }
      val warmEnd = System.nanoTime() + 300000000L
      while (System.nanoTime() < warmEnd) pass()
      val per = (1 to 7).map(_ => pass())
      res.metric(s"kernel.${name}_us", Stats.median(per), "us")
    }

    time("extract", htmls.length)(i => ExtractText(htmls(i)).length.toLong)
    time("shingle", texts.length)(i => MinHasher.shingleHashes(texts(i), k).length.toLong)
    time("minhash", sh.length)(i => MinHasher.minhash(sh(i), pa, pb)(0))
    time("simhash", sh.length)(i => MinHasher.simhash(sh(i)))
    time("jaccard", sh.length)(i =>
      java.lang.Double.doubleToLongBits(MinHasher.jaccardSorted(sh(i), shNear(i))))
    time("lcs", texts.length)(i => java.lang.Double.doubleToLongBits(Lcs.lcsRatio(texts(i), near(i))))
    time("winnow", grams.length)(i => Fingerprint.winnow(grams(i), Fingerprint.DefaultW).length.toLong)
    res.fact("kernel_sample_texts", texts.length)
    res.fact("kernel_sink", sink & 1L)
  }
}
