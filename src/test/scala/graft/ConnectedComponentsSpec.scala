package graft

import graft.cluster.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {

  private def bfsComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
    edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val label = scala.collection.mutable.Map[Long, Long]()
    nodes.sorted.foreach { n =>
      if (!label.contains(n)) {
        val queue = scala.collection.mutable.Queue(n)
        val comp = scala.collection.mutable.ArrayBuffer[Long]()
        while (queue.nonEmpty) {
          val v = queue.dequeue()
          if (!label.contains(v)) {
            label(v) = -1; comp += v
            adj(v).foreach(w => if (!label.contains(w)) queue.enqueue(w))
          }
        }
        val m = comp.min
        comp.foreach(v => label(v) = m)
      }
    }
    label.toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Rounds recorded by the durable store's manifest (`iter`). */
  private def manifestRounds(dir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    graft.checkpoint.FsOps.readRecord(conf,
      new org.apache.hadoop.fs.Path(dir, "_cc_manifest.json")).get("iter").toInt
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("matches BFS oracle on random graphs (local union-find path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (1 to 5).foreach { trial =>
      val n = 60
      val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = bfsComponents(edges)
      val got = labels(ConnectedComponents.run(spark, edges.toDF("src", "dst")))
      assert(got == expected, s"trial $trial")
    }
  }

  test("matches BFS oracle on random graphs (distributed path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    (1 to 3).foreach { trial =>
      val n = 60
      val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = bfsComponents(edges)
      val got = labels(ConnectedComponents.run(spark, edges.toDF("src", "dst"),
        localThreshold = 0L)) // force the distributed path
      assert(got == expected, s"trial $trial")
    }
  }

  test("local and distributed paths agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = (1 to 150).map(_ => (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("src", "dst")
    val local = ConnectedComponents.run(spark, df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = ConnectedComponents.run(spark, df, localThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(local == dist)
  }

  test("long chain converges (worst-case diameter)") {
    import spark.implicits._
    val edges = (0L until 30L).map(i => (i, i + 1))
    val got = labels(ConnectedComponents.run(spark, edges.toDF("src", "dst")))
    assert(got.values.toSet == Set(0L))
    assert(got.size == 31)
  }

  test("scrambled-id 2,000-node chain matches union-find within 20 durable rounds") {
    import spark.implicits._
    // diameter 1,999 with ids in random order: a loop whose round count
    // grows with the diameter would need ~2,000 rounds
    val ids = new scala.util.Random(31).shuffle((0L until 2000L).map(_ * 7919L + 13L))
    val edges = ids.zip(ids.tail).toDF("src", "dst")
    val dir = tempDir("graft-cc-chain")
    val got = labels(ConnectedComponents.run(spark, edges, localThreshold = 0L,
      durableDir = Some(dir)))
    assert(got == labels(ConnectedComponents.run(spark, edges)))
    assert(got.values.toSet == Set(ids.min) && got.size == 2000)
    val rounds = manifestRounds(dir)
    info(s"rounds = $rounds")
    assert(rounds <= 20, s"chain took $rounds rounds")
  }

  test("5,000-leaf star matches union-find") {
    import spark.implicits._
    // the centre is neither the least nor the greatest id
    val edges = (1L to 5000L).map(i => (2500L * 3 + 1, i * 3)).toDF("src", "dst")
    val got = labels(ConnectedComponents.run(spark, edges, localThreshold = 0L))
    assert(got == labels(ConnectedComponents.run(spark, edges)))
    assert(got.size == 5001 && got.values.toSet == Set(3L))
  }

  test("durable labels: interrupted distributed run resumes from committed state") {
    import spark.implicits._
    val dir = tempDir("graft-cc-durable")
    val ids = new scala.util.Random(7).shuffle((0L until 200L).toList)
    val edges = ids.zip(ids.tail).toDF("src", "dst")
    val expected = ids.map(_ -> 0L).toMap
    def runIn(d: String) = labels(ConnectedComponents.run(spark, edges,
      localThreshold = 0L, durableDir = Some(d)))

    // a fresh run, for the job count and the number of rounds it takes
    val freshDir = tempDir("graft-cc-fresh")
    val (fresh, freshJobs) = countingJobs(runIn(freshDir))
    assert(fresh == expected)
    val rounds = manifestRounds(freshDir)
    assert(rounds >= 3, s"fixture drift: the chain settles in $rounds rounds")

    // "interrupted" run: dies before its third round; both committed
    // rounds are durable, so the failure loses no progress
    val e = intercept[RuntimeException] {
      ConnectedComponents.run(spark, edges, localThreshold = 0L,
        durableDir = Some(dir), crashAfterRounds = 2)
    }
    assert(e.getMessage.contains("injected crash"))
    assert(manifestRounds(dir) == 2)

    // restart: continues from round 2 instead of starting over
    val (got, resumedJobs) = countingJobs(runIn(dir))
    assert(got == expected)
    assert(manifestRounds(dir) == rounds)
    assert(resumedJobs < freshJobs,
      s"resume did not use durable state: $resumedJobs jobs vs $freshJobs fresh")

    // GC: each commit retires every other round's edge table, so the store
    // holds ONE edges dir, not one per round
    def roundDirs(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString).toSeq
    }
    assert(roundDirs() == Seq(s"edges-round$rounds"),
      s"superseded edge tables not GC'd: ${roundDirs().sorted}")

    // different edge set under the same dir: state is ignored, not reused,
    // and the stale store is cleared rather than stranded forever
    val other = Seq((100L, 101L), (101L, 102L)).toDF("src", "dst")
    val got2 = labels(ConnectedComponents.run(spark, other,
      localThreshold = 0L, durableDir = Some(dir)))
    assert(got2 == Map(100L -> 100L, 101L -> 100L, 102L -> 100L))
    assert(roundDirs().size == 1,
      s"stale-edge-set edge tables not cleared: ${roundDirs().sorted}")
  }

  test("resume from a converged store returns the same labels in one round") {
    import spark.implicits._
    val dir = tempDir("graft-cc-converged")
    // a driver killed between the last commit and run()'s return leaves a
    // store that is already a star forest: the restart verifies it in ONE
    // round and reads the same labels off it
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L)
    val first = labels(ConnectedComponents.run(spark, edges,
      localThreshold = 0L, durableDir = Some(dir)))
    assert(first == expected)
    val rounds = manifestRounds(dir)
    val resumed = labels(ConnectedComponents.run(spark, edges,
      localThreshold = 0L, durableDir = Some(dir)))
    assert(resumed == expected)
    assert(manifestRounds(dir) == rounds + 1,
      s"resume should settle in ONE round, ran ${manifestRounds(dir) - rounds}")
  }

  test("empty edges yield empty labels") {
    import spark.implicits._
    val got = ConnectedComponents.run(spark, Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(got.isEmpty)
  }
}
