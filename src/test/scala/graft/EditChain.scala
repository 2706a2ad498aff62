package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** An edit chain of pages: each page is the previous one with two of its
  * 150 tokens replaced, so neighbours pass the Jaccard gate (J ~ 0.87)
  * and pages two steps apart fall below it (J ~ 0.76). Its near-dup graph
  * is one path through every page, the longest diameter a cluster of that
  * size can have. */
object EditChain {
  def pages(spark: SparkSession, n: Int, seed: Long = 1L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def word(): String = Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    val vocab = Array.fill(5000)(word())
    val base = Array.fill(150)(vocab(rnd.nextInt(vocab.length)))
    val texts = Iterator.iterate(base) { prev =>
      val t = prev.clone()
      (0 until 2).foreach(k => t(rnd.nextInt(t.length)) = s"zq${rnd.nextInt(1 << 30)}k${k}x")
      t
    }.take(n).map(_.mkString(" ")).toList
    texts.zipWithIndex.map { case (t, i) =>
      (s"https://chain.example/p$i", new java.sql.Timestamp(0L), null.asInstanceOf[Array[Byte]], t, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
  }
}
