package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.checkpoint.FsOps
import graft.model.GraftConfig
import graft.streaming.IncrementalDedup
import graft.streaming.IncrementalDedup.StateDirs

/** Streaming/incremental mode: micro-batches accumulate signature state;
  * cross-batch near-dups cluster together; state survives across batches
  * (the reference's resume semantics as streaming state, SURVEY §2.9). */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GraftConfig(minLen = 1)

  private def page(url: String, text: String): (String, Timestamp, Array[Byte], String, String) =
    (url, new Timestamp(0L), null, text, "en")

  private def df(rows: Seq[(String, Timestamp, Array[Byte], String, String)]): DataFrame =
    rows.toDF("url", "warc_ts", "html", "text", "lang")

  /** A fresh state root, spelled as a plain path or as a file:// URI: every
    * durable path must work on any Hadoop filesystem URI. */
  private def stateRoot(prefix: String, uri: Boolean): String = {
    val local = Files.createTempDirectory(prefix).toString
    if (uri) "file://" + local else local
  }

  private val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
  private val nearText = (1 to 60).map(i => if (i == 30) "zqx" else s"tok$i").mkString(" ")
  private val otherText = (1 to 60).map(i => s"other$i").mkString(" ")

  test("cross-batch near-dups cluster; exact dups collapse to one node") {
    val root = Files.createTempDirectory("graft-inc").toString
    val dirs = StateDirs(root)

    // batch 1: base + exact copy + unrelated
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://a2", baseText), page("u://z", otherText))),
      cfg, dirs)
    val c1 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c1("u://a") == c1("u://a2"), "exact dups in one batch must co-cluster")
    assert(c1("u://a") != c1("u://z"))

    // batch 2: near copy of batch-1 base arrives later
    IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))), cfg, dirs)
    val c2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c2.keySet == Set("u://a", "u://a2", "u://z", "u://b"))
    assert(c2("u://b") == c2("u://a"), "cross-batch near-dup must join the cluster")
    assert(c2("u://z") != c2("u://a"))

    // signature state holds one row per distinct content (3 contents)
    assert(spark.read.parquet(dirs.signatures).count() == 3)
  }

  test("re-sent content does not duplicate signature state") {
    val root = Files.createTempDirectory("graft-inc2").toString
    val dirs = StateDirs(root)
    IncrementalDedup.processBatch(df(Seq(page("u://a", baseText))), cfg, dirs)
    IncrementalDedup.processBatch(df(Seq(page("u://dup", baseText))), cfg, dirs)
    assert(spark.read.parquet(dirs.signatures).count() == 1, "signature recomputed for known content")
    val c = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c("u://a") == c("u://dup"))
  }

  test("re-crawled url with changed text re-clusters deterministically") {
    val root = Files.createTempDirectory("graft-inc4").toString
    val dirs = StateDirs(root)

    // batch 1: near-dup pair -> one cluster with an edge between their nodes
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://b", nearText))), cfg, dirs, batchId = 1L)
    val c1 = spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).map(t => t._1 -> (t._2, t._3)).toMap
    assert(c1("u://a")._2 == c1("u://b")._2, "near pair must co-cluster")

    // batch 2: u://b re-crawled with COMPLETELY different text
    IncrementalDedup.processBatch(
      df(Seq(page("u://b", otherText))), cfg, dirs, batchId = 2L)
    val c2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).map(t => t._1 -> (t._2, t._3)).toMap
    assert(c2.keySet == Set("u://a", "u://b"))
    assert(c2("u://b")._1 != c1("u://b")._1, "u://b must bind to its NEW content node")
    assert(c2("u://a")._2 != c2("u://b")._2,
      "stale edge via the dead node must not keep u://b in u://a's cluster")
    // rerunning the (idempotent) resolution on the same state is stable:
    // a third no-op batch leaves assignments identical
    IncrementalDedup.processBatch(
      df(Seq(page("u://b", otherText))), cfg, dirs, batchId = 3L)
    val c3 = spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).map(t => t._1 -> (t._2, t._3)).toMap
    assert(c3 == c2)
  }

  test("unchanged batches do not rewrite state or clusters") {
    val root = Files.createTempDirectory("graft-inc5").toString
    val dirs = StateDirs(root)
    val batch = df(Seq(page("u://a", baseText), page("u://b", nearText)))
    IncrementalDedup.processBatch(batch, cfg, dirs, batchId = 1L)

    def snapshot(dir: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = (snapshot(dirs.clusters), snapshot(dirs.members), snapshot(dirs.signatures))

    // identical batch re-delivered (e.g. replay after a restart): no-op
    IncrementalDedup.processBatch(batch, cfg, dirs, batchId = 2L)
    val after = (snapshot(dirs.clusters), snapshot(dirs.members), snapshot(dirs.signatures))
    assert(after == before, "unchanged batch must not rewrite state or clusters")
  }

  test("an empty batch leaves every state dir and the metrics log untouched") {
    val root = Files.createTempDirectory("graft-inc-empty").toString
    val dirs = StateDirs(root)
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://b", nearText))), cfg, dirs, batchId = 1L)

    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    }
    val before = files()
    assert(before.keys.exists(_.startsWith(dirs.metrics)), "first batch wrote no metrics row")
    IncrementalDedup.processBatch(df(Seq.empty), cfg, dirs, batchId = 2L)
    assert(files() == before, "empty batch changed the state root")
    assert(spark.read.parquet(dirs.metrics).count() == 1L)
  }

  test("recluster is bounded to affected components (untouched clusters carried verbatim)") {
    val root = Files.createTempDirectory("graft-inc7").toString
    val dirs = StateDirs(root)
    val gText = (1 to 60).map(i => s"gee$i").mkString(" ")
    val hText = (1 to 60).map(i => if (i == 30) "zqh" else s"gee$i").mkString(" ")

    // batch 1: two independent near-dup clusters {a,b} and {g,h}
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://b", nearText),
        page("u://g", gText), page("u://h", hText))), cfg, dirs, batchId = 1L)
    val c1 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c1("u://a") == c1("u://b") && c1("u://g") == c1("u://h"))
    assert(c1("u://a") != c1("u://g"))

    // sabotage the {g,h} edge in state: if the next batch re-ran CC
    // globally, g and h would fall apart; the bounded recluster must carry
    // their (untouched) cluster rows verbatim instead
    val ghCluster = c1("u://g")
    val edges = spark.read.parquet(dirs.edges).localCheckpoint(true)
    val gNodes = spark.read.parquet(dirs.clusters)
      .where(col("cluster_id") === ghCluster).select("node_id").collect().map(_.getLong(0)).toSet
    val pruned = edges.where(!col("id_a").isin(gNodes.toSeq: _*)).localCheckpoint(true)
    pruned.write.mode("overwrite").parquet(dirs.edges)

    // batch 2 touches only the {a,b} region (new near copy of a)
    val cText = baseText.replace("tok7", "zqc")
    IncrementalDedup.processBatch(df(Seq(page("u://c", cText))), cfg, dirs, batchId = 2L)
    val c2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c2("u://c") == c2("u://a"), "new near copy must join the touched cluster")
    assert(c2("u://g") == ghCluster && c2("u://h") == ghCluster,
      "untouched cluster was recomputed instead of carried (bounded recluster broken)")
  }

  test("revert to earlier content resurrects the node and re-merges its cluster") {
    val root = Files.createTempDirectory("graft-inc8").toString
    val dirs = StateDirs(root)

    // batch 1: url1 (base) near-dups url2 -> one cluster, edge in state
    IncrementalDedup.processBatch(
      df(Seq(page("u://1", baseText), page("u://2", nearText))), cfg, dirs, batchId = 1L)
    val c1 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c1("u://1")._2 == c1("u://2")._2)
    val nodeA = c1("u://1")._1

    // batch 2: url1 re-crawls to unrelated content -> split
    IncrementalDedup.processBatch(df(Seq(page("u://1", otherText))), cfg, dirs, batchId = 2L)
    val c2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c2("u://1")._2 != c2("u://2")._2)

    // batch 3: url1 REVERTS to the original text — the node resurrects with
    // its pre-existing edge, so url1 and url2 must co-cluster again even
    // though this batch computes no new signatures or edges
    IncrementalDedup.processBatch(df(Seq(page("u://1", baseText))), cfg, dirs, batchId = 3L)
    val c3 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c3("u://1")._1 == nodeA, "revert must re-bind to the original content node")
    assert(c3("u://1")._2 == c3("u://2")._2,
      "resurrected node's pre-existing edge must re-merge the clusters")
  }

  test("interrupted clusters swap is healed on the next batch (no rebuild)") {
    for (uri <- Seq(false, true)) {
      val dirs = StateDirs(stateRoot("graft-inc9", uri))
      withClue(s"root ${dirs.root}: ") {
        IncrementalDedup.processBatch(
          df(Seq(page("u://a", baseText), page("u://b", nearText))), cfg, dirs, batchId = 1L)
        val before = spark.read.parquet(dirs.clusters).collect()
          .map(r => r.getString(0) -> r.getLong(2)).toMap

        // simulate a crash in the one bad window of the swap, through the
        // Hadoop FS: the clusters table renamed aside, the new table not yet
        // moved in — plus a stale abandoned write dir from the dead attempt
        val target = new Path(dirs.clusters)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.rename(target, new Path(dirs.clusters + ".old")))
        assert(fs.mkdirs(new Path(dirs.clusters + ".tmp-dead")))
        assert(!fs.exists(target))

        // next batch must heal the swap (restore the aside copy, drop the tmp
        // litter) and process incrementally on top of the restored table
        IncrementalDedup.processBatch(df(Seq(page("u://c", otherText))), cfg, dirs, batchId = 2L)
        val after = spark.read.parquet(dirs.clusters).collect()
          .map(r => r.getString(0) -> r.getLong(2)).toMap
        assert(after("u://a") == before("u://a") && after("u://a") == after("u://b"))
        assert(after.contains("u://c"))
        assert(!fs.exists(new Path(dirs.clusters + ".old")))
        assert(!fs.exists(new Path(dirs.clusters + ".tmp-dead")))
      }
    }
  }

  test("a file:// state root keeps every state file under that root") {
    val local = Files.createTempDirectory("graft-inc-uri").toString
    val dirs = StateDirs("file://" + local)
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://z", otherText))), cfg, dirs, batchId = 1L)
    IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))), cfg, dirs, batchId = 2L)
    // the same state, read back through the plain local path
    val plain = StateDirs(local)
    val c = spark.read.parquet(plain.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c.keySet == Set("u://a", "u://b", "u://z"))
    assert(c("u://a") == c("u://b") && c("u://a") != c("u://z"))
    assert(Files.exists(Paths.get(plain.versionFile)))
    // java.nio reads the URI string as a path relative to the working
    // directory (`./file:/...`): nothing may be created there
    assert(!Files.exists(Paths.get(dirs.root)), s"state leaked to ${Paths.get(dirs.root).toAbsolutePath}")
  }

  test("state compaction bounds file count and per-batch input; outputs unchanged") {
    def fileCount(p: String): Int = {
      import scala.jdk.CollectionConverters._
      if (!Files.exists(java.nio.file.Paths.get(p))) 0
      else Files.list(java.nio.file.Paths.get(p)).iterator().asScala
        .count(Files.isRegularFile(_))
    }
    def runStream(compactThreshold: Int): (String, Map[String, Long]) = {
      val root = Files.createTempDirectory(s"graft-compact$compactThreshold").toString
      val dirs = StateDirs(root)
      val c = cfg.copy(incCompactFileThreshold = compactThreshold)
      // u://flip alternates between two contents every batch (member history
      // churn + dead-node churn); u://near stays a near-dup of baseText
      IncrementalDedup.processBatch(
        df(Seq(page("u://flip", baseText), page("u://near", nearText))), c, dirs, batchId = 0L)
      (1 to 11).foreach { i =>
        val text = if (i % 2 == 1) otherText else baseText
        IncrementalDedup.processBatch(df(Seq(page("u://flip", text))), c, dirs, batchId = i.toLong)
      }
      val clusters = spark.read.parquet(dirs.clusters).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      (root, clusters)
    }

    val (rootC, clustersC) = runStream(compactThreshold = 12)
    val (rootU, clustersU) = runStream(compactThreshold = 0) // disabled
    // cluster outputs are identical with and without compaction
    assert(clustersC == clustersU, "compaction changed cluster assignments")
    // after 12 batches, ends on otherText: flip and near are apart
    assert(clustersC("u://flip") != clustersC("u://near"))

    val dC = StateDirs(rootC); val dU = StateDirs(rootU)
    Seq(dC.members -> dU.members, dC.edges -> dU.edges,
      dC.signatures -> dU.signatures).foreach {
      case (compacted, uncompacted) =>
        assert(fileCount(compacted) < fileCount(uncompacted),
          s"$compacted: ${fileCount(compacted)} !< ${fileCount(uncompacted)}")
    }
    // per-batch input stays bounded: edge state holds only live-edge rows
    assert(spark.read.parquet(dC.edges).count() <=
      spark.read.parquet(dU.edges).distinct().count())

    // a revert to GC'd content recomputes its signature and still re-merges;
    // threshold=1 forces a compaction at the end of this batch so the final
    // state is exactly the live corpus, independent of earlier compaction
    // timing
    IncrementalDedup.processBatch(df(Seq(page("u://flip", baseText))),
      cfg.copy(incCompactFileThreshold = 1), dC, batchId = 12L)
    val c2 = spark.read.parquet(dC.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c2("u://flip") == c2("u://near"),
      "revert to compacted-away content must re-cluster via signature recompute")
    // member history reduced to the latest binding per url
    assert(spark.read.parquet(dC.members).count() == 2)
    // dead nodes GC'd: exactly the two live contents keep signatures
    val liveNodes = spark.read.parquet(dC.clusters).select("node_id")
      .collect().map(_.getLong(0)).toSet
    val sigNodes = spark.read.parquet(dC.signatures).select("node_id")
      .collect().map(_.getLong(0)).toSeq
    assert(sigNodes.sorted == liveNodes.toSeq.sorted && sigNodes.size == 2,
      s"signatures $sigNodes != live $liveNodes")
    // edge endpoints restricted to live nodes
    val edgeEnds = spark.read.parquet(dC.edges).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(edgeEnds.subsetOf(liveNodes), s"dead edge endpoints: ${edgeEnds -- liveNodes}")
  }

  test("stored-side hot bands are salted, not dropped (cross-batch recall)") {
    val root = Files.createTempDirectory("graft-inc-hot").toString
    val dirs = StateDirs(root)
    // maxBandGroup=3 makes a 6-member stored band HOT; hardMax keeps salting on
    val hotCfg = cfg.copy(maxBandGroup = 3)
    val longBase = (1 to 200).map(i => s"w$i").mkString(" ")
    // 6 near-identical variants: most of their 32 band keys collide, so the
    // stored band index accumulates >3 members per shared band key
    val variants = (1 to 6).map(v => page(s"u://v$v", longBase.replace("w100", s"v$v")))
    IncrementalDedup.processBatch(df(variants), hotCfg, dirs, batchId = 1L)
    val c1 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c1.values.toSet.size == 1, "variants must co-cluster in batch 1")

    // batch 2: a 7th variant arrives alone — no in-batch pairs, so its ONLY
    // path into the cluster is the new-vs-stored band join, and every
    // shared band key is hot on the stored side. A drop-based guard loses
    // it entirely; salting must recover at least one colliding cell.
    IncrementalDedup.processBatch(
      df(Seq(page("u://v7", longBase.replace("w100", "v7")))), hotCfg, dirs, batchId = 2L)
    val c2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c2("u://v7") == c2("u://v1"),
      "cross-batch near-dup through a hot stored band must still cluster (salted probe)")
  }

  /** Planted corpus: 3 dup groups whose members arrive in DIFFERENT batches
    * (cross-batch edges, verified on the stored texts), plus in-batch pairs
    * and unrelated singletons. Returns (all pages, the three batches). */
  private def plantedCorpus = {
    def toks(g: String) = (1 to 60).map(i => s"$g$i").mkString(" ")
    def near(g: String, odd: String) = (1 to 60).map(i => if (i == 30) odd else s"$g$i").mkString(" ")
    val all = Seq(
      // group A: base + near copy (batch 1) + another near copy (batch 2);
      // in-batch pairs must be NEAR copies — exact copies collapse to one
      // node at distinctContents and produce no edge at all
      page("u://a1", toks("aa")), page("u://a2", near("aa", "zq0")), page("u://a3", near("aa", "zq1")),
      // group B: base (batch 1) + near copy (batch 3)
      page("u://b1", toks("bb")), page("u://b2", near("bb", "zq2")),
      // group C: near pair entirely within batch 2
      page("u://c1", toks("cc")), page("u://c2", near("cc", "zq3")),
      // unrelated singletons, one per batch
      page("u://s1", toks("dd")), page("u://s2", toks("ee")), page("u://s3", toks("ff")))
    val byUrl = all.map(p => p._1 -> p).toMap
    val batches = Seq(
      Seq("u://a1", "u://a2", "u://b1", "u://s1"),
      Seq("u://a3", "u://c1", "u://c2", "u://s2"),
      Seq("u://b2", "u://s3")).map(_.map(byUrl))
    (all, batches)
  }

  private val plantedTruth =
    Set(Set("u://a1", "u://a2", "u://a3"), Set("u://b1", "u://b2"), Set("u://c1", "u://c2"))

  private def groupsOf(rows: Array[(String, Long)]): Set[Set[String]] =
    rows.groupBy(_._2).values.map(_.map(_._1).toSet).filter(_.size >= 2).toSet

  private def clusterGroups(dirs: StateDirs): Set[Set[String]] =
    groupsOf(spark.read.parquet(dirs.clusters).select("url", "cluster_id")
      .collect().map(r => (r.getString(0), r.getLong(1))))

  test("batch-vs-incremental parity on a planted corpus; est-only edges counted") {
    // Batch ST3 and the incremental verify apply the same pass rule, so
    // they must agree on the final url partition.
    val (all, batches) = plantedCorpus

    // one-shot batch pipeline over the full corpus
    val batchGroups = groupsOf(
      Pipeline.run(spark, df(all), cfg).clusters.select("url", "cluster_id")
        .collect().map(r => (r.getString(0), r.getLong(1))))
    assert(batchGroups == plantedTruth, s"batch pipeline missed the planted truth: $batchGroups")

    // same corpus, incrementally
    val root = Files.createTempDirectory("graft-parity").toString
    val dirs = StateDirs(root)
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalDedup.processBatch(df(b), cfg, dirs, batchId = i.toLong) }
    val incGroups = clusterGroups(dirs)
    assert(incGroups == batchGroups,
      s"incremental clustering diverged from batch: $incGroups vs $batchGroups")

    // the edges table's orientation invariant must hold for in-batch and
    // cross-batch edges alike (remap/compaction rely on it; a reversed
    // cross-batch edge would double-store under re-discovery)
    val edges = spark.read.parquet(dirs.edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && edges.forall { case (a, b) => a < b },
      s"edges orientation (id_a < id_b) violated: ${edges.filterNot(e => e._1 < e._2).mkString(",")}")

    val m = spark.read.parquet(s"$root/metrics")
    assert(m.columns.toSet == Set("batch_id", "candidates_new", "candidates_cross",
      "edges_exact_verified", "edges_est_only", "committed_ms"))
  }

  test("cross-batch pairs get the full ST3 verify over stored texts") {
    // Every signature row keeps its content's text: every cross-batch pair
    // has both texts on hand, so nothing is accepted on an estimate and the
    // clustering equals the batch pipeline's BY THE SAME RULE (full ST3).
    val (_, batches) = plantedCorpus
    val root = Files.createTempDirectory("graft-retain").toString
    val dirs = StateDirs(root)
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalDedup.processBatch(df(b), cfg, dirs, batchId = i.toLong) }
    val incGroups = clusterGroups(dirs)
    assert(incGroups == plantedTruth, s"incremental missed the planted truth: $incGroups")
    // every edge, in-batch (a1-a2, c1-c2) and cross-batch (a3-a1/a2,
    // b2-b1), got the exact ST3 pass: nothing is accepted on an estimate
    val sums = spark.read.parquet(s"$root/metrics")
      .agg(org.apache.spark.sql.functions.sum("edges_exact_verified"),
        org.apache.spark.sql.functions.sum("edges_est_only")).collect()(0)
    assert(sums.getLong(1) == 0, s"est-only edges: ${sums.getLong(1)}")
    assert(sums.getLong(0) >= 4, s"expected all edges exact-verified, got ${sums.getLong(0)}")
    // one signature row per node, each carrying its text
    val sigs = spark.read.parquet(dirs.signatures).select("node_id", "text").collect()
    assert(sigs.map(_.getLong(0)).distinct.length == sigs.length, "duplicate signature rows")
    assert(sigs.length == 10 && sigs.forall(r => !r.isNullAt(1) && r.getString(1).nonEmpty))
  }

  /** The batch's candidate pairs from the one banded pass, split into
    * (new-vs-new, cross) pair sets. */
  private def candidates(batch: DataFrame, stored: DataFrame, c: GraftConfig)
      : (Set[(Long, Long)], Set[(Long, Long)]) = {
    val rows = IncrementalDedup.crossBatchCandidates(batch, stored, c).collect()
    val (cross, within) = rows.partition(r => !r.isNullAt(2))
    def pairs(rs: Array[org.apache.spark.sql.Row]) = rs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.forall(r => Set(r.getLong(0), r.getLong(1)).contains(r.getLong(2))),
      "stored_id must name a pair endpoint")
    (pairs(within), pairs(cross))
  }

  test("combined census: stored+batch jointly over maxBandGroup salts the cell") {
    import org.apache.spark.sql.functions.{xxhash64, pmod, lit => flit}
    val cfgC = cfg.copy(maxBandGroup = 4)
    // One band key: 3 stored members (cold under a stored-only census) plus
    // 3 batch members -> combined 6 > 4 -> the cell must be salted into
    // ceil(6/4) = 2 cells; an unsalted cold join would emit all 9 pairs.
    // The one pass salts the batch's own members by the same combined
    // count, so its new-vs-new pairs are those that share a salt cell.
    val key = 77L
    val stored = Seq(1L, 2L, 3L).map((_, key)).toDF("node_id", "band_key")
    val batch = Seq(11L, 12L, 13L).map((_, key)).toDF("node_id", "band_key")
    val (gotNew, got) = candidates(batch, stored, cfgC)
    val salts = stored.union(batch)
      .withColumn("salt", pmod(xxhash64($"node_id", $"band_key"), flit(2L)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = (for {
      n <- Seq(11L, 12L, 13L); s <- Seq(1L, 2L, 3L) if salts(n) == salts(s)
    } yield (math.min(n, s), math.max(n, s))).toSet
    assert(expected.size < 9, "test fixture degenerate: all members hashed to one salt cell")
    assert(got == expected, s"expected salted cells $expected, got $got")
    val expectedNew = Seq(11L, 12L, 13L).combinations(2).collect {
      case Seq(a, b) if salts(a) == salts(b) => (a, b)
    }.toSet
    assert(gotNew == expectedNew, s"expected new-vs-new pairs $expectedNew, got $gotNew")
  }

  test("signatures hold each node once after crash replays and a compaction") {
    // The candidate pass counts band rows with no per-(node, key)
    // reduction, so the stored rows must hold each node once. Each batch
    // is crashed at every state write in turn (edges, members, signatures,
    // clusters swap), each attempt getting further than the one before,
    // then replayed to the end; a last batch forces a compaction.
    val (_, batches) = plantedCorpus
    val dirs = StateDirs(Files.createTempDirectory("graft-inc-once").toString)
    def assertOnce(when: String): Unit = {
      val ids = spark.read.parquet(dirs.signatures).select("node_id").collect().map(_.getLong(0)).toSeq
      assert(ids.distinct.size == ids.size, s"$when: ${ids.diff(ids.distinct)} stored twice")
    }
    batches.take(2).zipWithIndex.foreach { case (b, i) =>
      (0 to 3).foreach { k =>
        val e = intercept[RuntimeException] {
          IncrementalDedup.processBatch(df(b), cfg, dirs, batchId = i.toLong, crashAfterWrites = k)
        }
        assert(e.getMessage.contains("injected crash"))
        if (Files.exists(Paths.get(dirs.signatures))) assertOnce(s"batch $i, crash point $k")
      }
      IncrementalDedup.processBatch(df(b), cfg, dirs, batchId = i.toLong)
      assertOnce(s"batch $i replayed")
    }
    IncrementalDedup.processBatch(df(batches(2)), cfg.copy(incCompactFileThreshold = 1), dirs,
      batchId = 2L)
    assert(spark.read.parquet(dirs.members).count() == 10, "the compaction did not run")
    assertOnce("compacted")
    assert(clusterGroups(dirs) == plantedTruth)
  }

  /** Star families for the layout gate: 24 stars, each a 1,500-token base
    * page of random words and six copies with one token changed. The text
    * column (~1.7 MB) spans several parquet pages. */
  private val starPages = {
    val rnd = new scala.util.Random(7L)
    (1 to 24).flatMap { s =>
      val base = Array.fill(1500)(s"s${s}w${rnd.nextInt(4000)}")
      (0 to 6).map { c =>
        val t = base.clone()
        if (c > 0) t(rnd.nextInt(t.length)) = s"zq${s}c$c"
        page(s"u://star$s/$c", t.mkString(" "))
      }
    }
  }

  /** Every `signatures` data file in name order, each with its rows'
    * (component label, node_id) in file order; the label is the node's
    * `cluster_id` in the clusters table. */
  private def signatureLayout(dirs: StateDirs): Seq[(String, Seq[(Long, Long)])] = {
    import scala.jdk.CollectionConverters._
    val label = spark.read.parquet(dirs.clusters).select("node_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Files.list(Paths.get(dirs.signatures)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
      .map(f => f -> spark.read.parquet(f).select("node_id").collect()
        .map(r => (label(r.getLong(0)), r.getLong(0))).toSeq)
  }

  /** Each component's rows sit in one file, contiguous and in (component,
    * node_id) order: a file sorted by that key holds each of its
    * components as one run. */
  private def assertComponentLayout(dirs: StateDirs): Unit = {
    val layout = signatureLayout(dirs)
    layout.foreach { case (f, rows) =>
      assert(rows == rows.sorted, s"$f is not ordered by (component, node_id): $rows") }
    val filesOf = layout.flatMap { case (f, rows) => rows.map(_._1 -> f) }.groupBy(_._1)
    filesOf.foreach { case (c, fs) =>
      assert(fs.map(_._2).distinct.size == 1, s"component $c spans files ${fs.map(_._2).distinct}") }
  }

  test("signature rows are stored by component, smaller than in node_id order") {
    val dirs = StateDirs(Files.createTempDirectory("graft-inc-layout").toString)
    IncrementalDedup.processBatch(df(starPages).unionByName(EditChain.pages(spark, 12)),
      cfg, dirs, batchId = 1L)
    // the fixture is what it claims: 24 stars of 7 and one 12-page chain
    val sizes = spark.read.parquet(dirs.clusters).groupBy("cluster_id").count()
      .collect().map(_.getLong(1)).toSeq.sorted
    assert(sizes == Seq.fill(24)(7L) :+ 12L, s"component sizes $sizes")
    assertComponentLayout(dirs)

    // the same rows in node_id order, through the same writer, take more
    // bytes: there a family's copies fall into different pages, each
    // compressed on its own
    val conf = spark.sparkContext.hadoopConfiguration
    def bytes(dir: String) = FsOps.parquetFiles(conf, new Path(dir)).map(_.bytes).sum
    val byNode = Files.createTempDirectory("graft-inc-bynode").toString + "/signatures"
    FsOps.writeParquet(spark.read.parquet(dirs.signatures).repartition(1).sortWithinPartitions("node_id"),
      byNode, "errorifexists")
    info(s"signatures: ${bytes(dirs.signatures)} B by component, ${bytes(byNode)} B by node_id")
    assert(bytes(dirs.signatures) < bytes(byNode))

    // a later copy of star 1 lands in its own batch's file; the compaction
    // this batch forces rewrites the table in the same layout, so star 1,
    // its new member included, shares one file again, as does every other
    // live component
    IncrementalDedup.processBatch(df(Seq(page("u://star1/7", starPages.head._4 + " tail"))),
      cfg.copy(incCompactFileThreshold = 1), dirs, batchId = 2L)
    val c = spark.read.parquet(dirs.clusters).collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c("u://star1/7") == c("u://star1/0"), "the late copy must join star 1")
    assert(spark.read.parquet(dirs.members).count() == c.size, "the compaction did not run")
    assertComponentLayout(dirs)
  }

  test("state keeps one row per content: signature, band hashes and text") {
    val root = Files.createTempDirectory("graft-inc-sh").toString
    val dirs = StateDirs(root)
    val c = cfg.copy(simhashTier = true)
    IncrementalDedup.processBatch(df(Seq(page("u://a", baseText))), c, dirs, batchId = 1L)
    // band keys, the SimHash chunk keys included, are derived from these
    // rows when a batch probes them: no table holds them
    assert(spark.read.parquet(dirs.signatures).columns.toSeq ==
      Seq("node_id", "n_bytes", "simhash", "band_hashes", "text"))
    import scala.jdk.CollectionConverters._
    assert(Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet ==
      Set("signatures", "members", "edges", "clusters", "metrics"))
    // a near copy in a later batch still clusters through the derived keys
    IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))), c, dirs, batchId = 2L)
    val cl = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cl("u://a") == cl("u://b"))
  }

  /** A stored page and a later near copy (one token of 200 changed,
    * SimHash Hamming 1) that share no MinHash band once the stored row's
    * band hashes are swapped for disjoint keys (CandidatePairsSpec's
    * 100..131): only the SimHash chunk tier can pair them. */
  private val longText = (1 to 200).map(i => s"lw$i").mkString(" ")
  private val longNear = (1 to 200).map(i => if (i == 15) "lzq" else s"lw$i").mkString(" ")

  private def hamming(a: String, b: String): Int = {
    import graft.signatures.MinHasher
    val Seq(ha, hb) = Seq(a, b).map(t => MinHasher.simhash(MinHasher.shingleHashes(t, cfg.shingleK)))
    java.lang.Long.bitCount(ha ^ hb)
  }

  private def dropStoredBands(dirs: StateDirs): Unit = {
    import org.apache.spark.sql.functions.{array, lit => flit}
    val tmp = dirs.signatures + ".tmp-disjoint"
    spark.read.parquet(dirs.signatures)
      .withColumn("band_hashes", array((0 until 32).map(i => flit(100L + i)): _*))
      .write.parquet(tmp)
    FsOps.swapDir(spark.sparkContext.hadoopConfiguration, new Path(tmp), new Path(dirs.signatures))
  }

  /** The cross pairs that a batch of `text` finds against `dirs`' stored
    * rows under `c`, through crossBatchCandidates over both sides'
    * bandKeys. */
  private def crossPairs(dirs: StateDirs, text: String, c: GraftConfig): Set[(Long, Long)] = {
    val batch = Pipeline.extract(df(Seq(page("u://n", text))), c)
    val sigs = Pipeline.signatures(Pipeline.distinctContents(batch), c)
    candidates(Pipeline.bandKeys(sigs, c), Pipeline.bandKeys(spark.read.parquet(dirs.signatures), c), c)._2
  }

  test("simhashTier toggle on existing state needs no band-key rebuild") {
    val h = hamming(longText, longNear)
    assert(h <= cfg.maxHamming, s"fixture pair is not Hamming-close: $h")
    val dirs = StateDirs(Files.createTempDirectory("graft-inc-sh2").toString)
    // stored MinHash-only, then stripped of every band it shares
    IncrementalDedup.processBatch(df(Seq(page("u://a", longText))), cfg, dirs, batchId = 1L)
    dropStoredBands(dirs)
    assert(crossPairs(dirs, longNear, cfg).isEmpty, "the pair still shares a MinHash band")
    assert(crossPairs(dirs, longNear, cfg.copy(simhashTier = true)).size == 1)
    // toggle ON: the stored row is probed by its chunk keys at once
    IncrementalDedup.processBatch(df(Seq(page("u://b", longNear))),
      cfg.copy(simhashTier = true), dirs, batchId = 2L)
    val cl = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cl("u://a") == cl("u://b"), "the stored doc was not probed by its chunk keys")
    // toggle OFF again: nothing to strip, and the stream keeps working
    val gText = (1 to 60).map(i => s"gee$i").mkString(" ")
    IncrementalDedup.processBatch(df(Seq(page("u://g", gText))), cfg, dirs, batchId = 3L)
    val cl3 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cl3.keySet == Set("u://a", "u://b", "u://g") && cl3("u://a") == cl3("u://b"))
    assert(cl3("u://g") != cl3("u://a"))
  }

  test("maxHamming change with the chunk tier on needs no band-key rebuild") {
    val tierCfg = cfg.copy(simhashTier = true) // maxHamming=3 -> 4 chunks of 16 bits
    val changed = tierCfg.copy(maxHamming = 6) // 7 chunks: every chunk boundary moves
    assert(hamming(longText, longNear) <= changed.maxHamming)
    val dirs = StateDirs(Files.createTempDirectory("graft-inc-chunks").toString)
    IncrementalDedup.processBatch(df(Seq(page("u://a", longText))), tierCfg, dirs, batchId = 1L)
    dropStoredBands(dirs)
    assert(crossPairs(dirs, longNear, cfg).isEmpty, "the pair still shares a MinHash band")
    // the stored row's chunk keys are drawn under the NEW chunking
    IncrementalDedup.processBatch(df(Seq(page("u://b", longNear))), changed, dirs, batchId = 2L)
    val cl = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cl("u://a") == cl("u://b"), "the stored doc was not probed under the new chunking")
  }

  test("signature-config change on existing state is refused; thresholds may move") {
    val root = Files.createTempDirectory("graft-inc-sigcfg").toString
    val dirs = StateDirs(root)
    IncrementalDedup.processBatch(df(Seq(page("u://a", baseText))), cfg, dirs, batchId = 1L)

    // a changed seed would make every new band key silently miss the stored
    // index (permanent cross-batch recall loss) -> refuse loudly
    val e = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))),
        cfg.copy(seed = 43L), dirs, batchId = 2L)
    }
    assert(e.getMessage.contains("signature config"))
    // a changed permutation count redraws every stored band key
    intercept[IllegalStateException] {
      IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))),
        cfg.copy(numPerm = 64, bands = 32), dirs, batchId = 2L)
    }
    intercept[IllegalStateException] {
      IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))),
        cfg.copy(shingleK = 4), dirs, batchId = 2L)
    }
    // threshold knobs gate future DECISIONS, not the validity of stored
    // signatures -> allowed, and the stream keeps working
    IncrementalDedup.processBatch(df(Seq(page("u://b", nearText))),
      cfg.copy(minJaccard = 0.75), dirs, batchId = 3L)
    val c = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c("u://a") == c("u://b"), "stream must keep clustering after a threshold change")
  }

  test("re-published stored content verifies exactly, never by estimate") {
    val root = Files.createTempDirectory("graft-inc-repub").toString
    val dirs = StateDirs(root)
    IncrementalDedup.processBatch(df(Seq(page("u://a", baseText))), cfg, dirs, batchId = 1L)
    // batch 2 re-publishes the KNOWN content (new url, same text) and adds a
    // near-dup: the cross pair's stored text is both in state and in this
    // very batch; it verifies once, on one copy, by the exact ST3 pass
    IncrementalDedup.processBatch(
      df(Seq(page("u://a2", baseText), page("u://b", nearText))), cfg, dirs, batchId = 2L)
    val m = spark.read.parquet(dirs.metrics)
      .where(col("batch_id") === 2L).collect()(0)
    assert(m.getAs[Long]("candidates_cross") >= 1L, "cross pair must be generated")
    assert(m.getAs[Long]("edges_est_only") == 0L, "an edge was accepted on an estimate")
    assert(m.getAs[Long]("edges_exact_verified") == 1L)
    val c = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c("u://a") == c("u://a2") && c("u://a") == c("u://b"))
  }

  test("pre-v4 state is refused; future-versioned state is refused") {
    def files(root: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(root)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    // Round-1-shaped (v1) state: members without (warc_ts, batch_id), no
    // version file. A v3 root: state tables stamped 3. Neither kept page
    // texts, so neither can verify its cross pairs exactly: both are
    // refused untouched, with a request to rebuild.
    val v1 = StateDirs(Files.createTempDirectory("graft-inc-v1").toString)
    val extractedV1 = graft.Pipeline.extract(df(Seq(page("u://old", baseText))), cfg)
    extractedV1.select("url", "node_id", "n_bytes").write.parquet(v1.members)
    val v3 = StateDirs(Files.createTempDirectory("graft-inc-v3").toString)
    IncrementalDedup.processBatch(df(Seq(page("u://old", baseText))), cfg, v3, batchId = 1L)
    FsOps.writeRecord(spark.sparkContext.hadoopConfiguration, new Path(v3.versionFile),
      Seq("version" -> 3, "simhash_tier" -> 0, "band_chunks" -> 0,
        "sig_config" -> "k5|p128|b32|s42"))
    for ((dirs, v) <- Seq(v1 -> 1, v3 -> 3)) {
      val before = files(dirs.root)
      val e = intercept[IllegalStateException] {
        IncrementalDedup.processBatch(df(Seq(page("u://new", nearText))), cfg, dirs, batchId = 5L)
      }
      assert(e.getMessage.contains(s"schema v$v") && e.getMessage.contains("rebuild"), e.getMessage)
      assert(files(dirs.root) == before, s"refused v$v state was changed")
    }

    // a future schema version is refused, not silently reinterpreted
    val dirs = StateDirs(Files.createTempDirectory("graft-inc-v6").toString)
    IncrementalDedup.processBatch(df(Seq(page("u://old", baseText))), cfg, dirs, batchId = 1L)
    FsOps.writeRecord(spark.sparkContext.hadoopConfiguration, new Path(dirs.versionFile),
      Seq("version" -> (IncrementalDedup.StateVersion + 1)))
    val e = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(df(Seq(page("u://x", baseText))), cfg, dirs, batchId = 7L)
    }
    assert(e.getMessage.contains("refusing"))
  }

  /** A v4-shaped root after `b1`: signature rows without text, the texts
    * (one of them twice, as a replayed v4 batch left it) and the band keys
    * in tables of their own, stamped 4. */
  private def v4Root(prefix: String, b1: DataFrame): StateDirs = {
    val dirs = StateDirs(Files.createTempDirectory(prefix).toString)
    val conf = spark.sparkContext.hadoopConfiguration
    IncrementalDedup.processBatch(b1, cfg, dirs, batchId = 1L)
    val sigs = spark.read.parquet(dirs.signatures).localCheckpoint(true)
    sigs.drop("text").write.parquet(dirs.signatures + ".tmp-v4")
    FsOps.swapDir(conf, new Path(dirs.signatures + ".tmp-v4"), new Path(dirs.signatures))
    sigs.select("node_id", "text").union(sigs.select("node_id", "text").limit(1))
      .write.parquet(s"${dirs.root}/texts")
    Pipeline.bandKeys(sigs, cfg).write.parquet(s"${dirs.root}/band_index")
    FsOps.writeRecord(conf, new Path(dirs.versionFile),
      Seq("version" -> 4, "band_chunks" -> 0, "sig_config" -> "k5|p128|b32|s42"))
    dirs
  }

  test("a v4 root upgrades in place to the state of a fresh root") {
    val b1 = df(Seq(page("u://a", baseText), page("u://z", otherText)))
    def b2 = df(Seq(page("u://b", nearText), page("u://y", otherText + " extra")))
    val conf = spark.sparkContext.hadoopConfiguration
    def state(dirs: StateDirs) = (clusterGroups(dirs),
      spark.read.parquet(dirs.signatures).collect().map(_.toString).toSeq.sorted)
    val fresh = StateDirs(Files.createTempDirectory("graft-inc-v5").toString)
    IncrementalDedup.processBatch(b1, cfg, fresh, batchId = 1L)
    IncrementalDedup.processBatch(b2, cfg, fresh, batchId = 2L)
    val want = state(fresh)
    assert(want._1 == Set(Set("u://a", "u://b"), Set("u://z", "u://y")))

    def upgraded(dirs: StateDirs): Unit = withClue(dirs.root) {
      IncrementalDedup.processBatch(b2, cfg, dirs, batchId = 2L)
      assert(state(dirs) == want)
      Seq("texts", "band_index", "signatures.old").foreach(t =>
        assert(!Files.exists(Paths.get(dirs.root, t)), s"$t left behind"))
      assert(FsOps.readRecord(conf, new Path(dirs.versionFile)).flatMap(_.get("version"))
        .contains(IncrementalDedup.StateVersion.toString))
    }
    upgraded(v4Root("graft-inc-v4", b1))
    // interrupted in the signatures swap: the v4 table renamed aside
    val midSwap = v4Root("graft-inc-v4-swap", b1)
    FsOps.swapDir(conf, new Path(midSwap.signatures), new Path(midSwap.signatures + ".old"))
    upgraded(midSwap)
    // interrupted after the rewrite, before the old tables went and the stamp
    val midDelete = v4Root("graft-inc-v4-del", b1)
    val sigs = spark.read.parquet(midDelete.signatures)
      .join(spark.read.parquet(s"${midDelete.root}/texts").dropDuplicates("node_id"), "node_id")
    sigs.write.parquet(midDelete.signatures + ".tmp-up")
    FsOps.swapDir(conf, new Path(midDelete.signatures + ".tmp-up"), new Path(midDelete.signatures))
    FsOps.deleteRecursive(conf, new Path(s"${midDelete.root}/texts"))
    upgraded(midDelete)

    // remapNodeIds upgrades a v4 root the same way before it re-keys it
    val remapped = v4Root("graft-inc-v4-remap", b1)
    val ids = spark.read.parquet(remapped.signatures).select("node_id").collect().map(_.getLong(0))
    IncrementalDedup.remapNodeIds(spark, remapped,
      ids.toSeq.map(id => (id, id + 1000L)).toDF("old_id", "new_id"))
    assert(spark.read.parquet(remapped.signatures).where(col("text").isNotNull)
      .select("node_id").collect().map(_.getLong(0)).toSet == ids.map(_ + 1000L).toSet)
    assert(!Files.exists(Paths.get(remapped.root, "texts")))
    IncrementalDedup.processBatch(b2, cfg, remapped, batchId = 2L)
    assert(clusterGroups(remapped) == want._1)
  }

  test("a same-batch older observation cannot rebind a url past its current binding") {
    val root = Files.createTempDirectory("graft-inc-winner").toString
    val dirs = StateDirs(root)
    IncrementalDedup.processBatch(df(Seq(page("u://r", baseText))), cfg, dirs, batchId = 1L)
    val boundTo = spark.read.parquet(dirs.clusters)
      .where(col("url") === "u://r").select("node_id").head().getLong(0)

    // one micro-batch, TWO crawls of u://r: an OLDER one with new content,
    // a NEWER one re-observing the currently-bound content. The within-
    // batch warc_ts winner matches the current binding, so the batch is a
    // no-op — the older row must not sneak past the unchanged-binding
    // filter and rebind the url to stale content (regression: the filter
    // used to run per row, BEFORE within-batch winner resolution).
    val twoCrawls = Seq(
      ("u://r", new Timestamp(1000L), null: Array[Byte], otherText, "en"),
      ("u://r", new Timestamp(2000L), null: Array[Byte], baseText, "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    IncrementalDedup.processBatch(twoCrawls, cfg, dirs, batchId = 2L)

    val after = spark.read.parquet(dirs.clusters)
      .where(col("url") === "u://r").select("node_id").head().getLong(0)
    assert(after == boundTo, "latest same-batch observation matches the binding -> no rebind")
    assert(spark.read.parquet(dirs.members).count() == 1, "no-op batch must not append members")
  }

  test("crash between state appends replays to the no-crash result (append order contract)") {
    // control: two batches, no crash — batch 2's near-dup crosses batches
    val b1 = df(Seq(page("u://a", baseText), page("u://z", otherText)))
    def b2 = df(Seq(page("u://b", nearText)))
    def groups(dirs: StateDirs) = spark.read.parquet(dirs.clusters).collect()
      .groupBy(_.getLong(2)).values.map(_.map(_.getString(0)).toSet).toSet
    val rootC = Files.createTempDirectory("graft-inc-crash-c").toString
    val dC = StateDirs(rootC)
    IncrementalDedup.processBatch(b1, cfg, dC, batchId = 1L)
    IncrementalDedup.processBatch(b2, cfg, dC, batchId = 2L)
    val control = groups(dC)
    assert(control.exists(g => g.contains("u://a") && g.contains("u://b")),
      "sanity: the cross-batch near-dup pair must co-cluster in the control")

    // kill a batch before its (k+1)-th state write (k=0..3: the edges,
    // members and signatures appends, then the clusters swap), then REPLAY
    // it — foreachBatch is at-least-once. Whatever the crash point, the
    // replay must converge to the control clusters (the signatures append
    // runs LAST of the appends precisely so a replay recomputes anything
    // not yet durable, and a replay after it reclusters from the durable
    // edges and members), and the metrics audit table must hold exactly
    // one row per batch (it is appended after the clusters swap).
    // Batch 2 (the affected-component path) crashes at every point on a
    // plain and on a file:// root; batch 1 (the full rebuild) on a plain one.
    val runs = (for (uri <- Seq(false, true); k <- 0 to 3) yield (uri, 2L, k)) ++
      (0 to 3).map(k => (false, 1L, k))
    for ((uri, crashed, k) <- runs) {
      val dirs = StateDirs(stateRoot(s"graft-inc-crash-$crashed-$k", uri))
      for ((id, b) <- Seq(1L -> b1, 2L -> b2)) {
        if (id == crashed) {
          val e = intercept[RuntimeException] {
            IncrementalDedup.processBatch(b, cfg, dirs, batchId = id, crashAfterWrites = k)
          }
          assert(e.getMessage.contains("injected crash"))
        }
        IncrementalDedup.processBatch(b, cfg, dirs, batchId = id)
      }
      assert(groups(dirs) == control,
        s"${dirs.root}, batch $crashed, crash point $k: replay must match the no-crash result")
      val perBatch = spark.read.parquet(dirs.metrics).groupBy("batch_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perBatch == Map(1L -> 1L, 2L -> 1L),
        s"${dirs.root}, batch $crashed, crash point $k: one metrics row per batch, got $perBatch")
    }
  }

  test("a stream's second batch runs a bounded number of Spark jobs") {
    // At stream-batch sizes a batch's wall is set by Spark's fixed cost per
    // job, so the job count is the cost gate. Batch 2 takes every path:
    // a new-vs-new pair (c1-c2), a cross pair verified on the stored text
    // (h-g), one verified on the batch's copy (b-a: a2 re-publishes a's
    // text) and the bounded recluster.
    val gText = (1 to 60).map(i => s"gee$i").mkString(" ")
    val hText = (1 to 60).map(i => if (i == 30) "zqh" else s"gee$i").mkString(" ")
    val cText = (1 to 60).map(i => s"cee$i").mkString(" ")
    val c2Text = (1 to 60).map(i => if (i == 30) "zqc" else s"cee$i").mkString(" ")
    val dirs = StateDirs(Files.createTempDirectory("graft-inc-jobs").toString)
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://z", otherText), page("u://g", gText))),
      cfg, dirs, batchId = 1L)
    val (_, n) = countingJobs(IncrementalDedup.processBatch(
      df(Seq(page("u://b", nearText), page("u://h", hText), page("u://a2", baseText),
        page("u://c1", cText), page("u://c2", c2Text))), cfg, dirs, batchId = 2L))
    val c = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(Set(c("u://a2"), c("u://b")) == Set(c("u://a")) && c("u://h") == c("u://g") &&
      c("u://c1") == c("u://c2"))
    assert(Set(c("u://a"), c("u://g"), c("u://c1"), c("u://z")).size == 4)
    val m = spark.read.parquet(dirs.metrics).where(col("batch_id") === 2L).head()
    assert(m.getAs[Long]("candidates_new") >= 1 && m.getAs[Long]("candidates_cross") >= 2)
    assert(m.getAs[Long]("edges_est_only") == 0 && m.getAs[Long]("edges_exact_verified") >= 3)
    info(s"second batch: $n Spark jobs")
    assert(n <= 40, s"second batch ran $n Spark jobs")
  }

  test("remap refuses pre-v3 state instead of wedging it behind its own journal") {
    val root = Files.createTempDirectory("graft-remap-v1").toString
    val dirs = StateDirs(root)
    // v1-shaped state: members without (warc_ts, batch_id), no version file
    val extractedV1 = graft.Pipeline.extract(df(Seq(page("u://old", baseText))), cfg)
    extractedV1.select("url", "node_id", "n_bytes").write.parquet(dirs.members)

    val mapping = Seq((1L, 2L)).toDF("old_id", "new_id")
    val e = intercept[IllegalStateException] {
      IncrementalDedup.remapNodeIds(spark, dirs, mapping)
    }
    assert(e.getMessage.contains("rebuild"))
    // refused BEFORE journaling, with the refusal processBatch gives
    assert(!Files.exists(java.nio.file.Paths.get(root, "_remap_journal.json")))
    val e2 = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(df(Seq(page("u://new", nearText))), cfg, dirs, batchId = 3L)
    }
    assert(e2.getMessage == e.getMessage)
  }

  test("node-id remap re-keys all state without recompute; bad mappings refused") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-remap").toString
    val dirs = StateDirs(root)
    IncrementalDedup.processBatch(
      df(Seq(page("u://a", baseText), page("u://b", nearText), page("u://z", otherText))),
      cfg, dirs, batchId = 1L)
    val before = spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val groupsBefore = before.groupBy(_._3).values.map(_.map(_._1).toSet).toSet
    val oldIds = before.map(_._2).distinct.sorted

    // bijective shift of every stored id
    val mapping = oldIds.toSeq.map(id => (id, id + 1000L)).toDF("old_id", "new_id")
    IncrementalDedup.remapNodeIds(spark, dirs, mapping)

    val after = spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // same url partition into clusters, labels recomputed as component mins
    val groupsAfter = after.groupBy(_._3).values.map(_.map(_._1).toSet).toSet
    assert(groupsAfter == groupsBefore, "remap changed cluster membership")
    assert(after.map(_._2).toSet == oldIds.map(_ + 1000L).toSet)
    after.groupBy(_._3).foreach { case (label, rows) =>
      assert(label == rows.map(_._2).min, s"cluster label $label is not the component min") }
    // every state table re-keyed; signature rows and edges NOT recomputed
    assert(spark.read.parquet(dirs.signatures).select("node_id").collect()
      .map(_.getLong(0)).toSet == oldIds.map(_ + 1000L).toSet)
    val edges = spark.read.parquet(dirs.edges).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && edges.forall { case (a, b) => a < b &&
      oldIds.map(_ + 1000L).contains(a) && oldIds.map(_ + 1000L).contains(b) })
    // members re-keyed consistently with clusters
    val mem = spark.read.parquet(dirs.members).select("url", "node_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mem == after.map(t => t._1 -> t._2).toMap)

    // refusal: non-1-to-1 mapping (two olds to one new)
    val clash = Seq((after.head._2, 7L), (after.last._2, 7L)).toDF("old_id", "new_id")
    intercept[IllegalArgumentException] { IncrementalDedup.remapNodeIds(spark, dirs, clash) }
    // refusal: new id collides with an unmapped stored id
    val collide = Seq((after.head._2, after.last._2)).toDF("old_id", "new_id")
    intercept[IllegalArgumentException] { IncrementalDedup.remapNodeIds(spark, dirs, collide) }
    // state untouched by the refused attempts
    assert(spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.sameElements(after.sorted))

    // crash mid-remap: two tables rewritten, then death. The journal makes
    // the state quarantined (batches refuse) and the SAME mapping resumable
    // to a consistent end state; a DIFFERENT mapping is refused.
    val mapping2 = oldIds.toSeq.map(id => (id + 1000L, id + 2000L)).toDF("old_id", "new_id")
    intercept[RuntimeException] {
      IncrementalDedup.remapNodeIds(spark, dirs, mapping2, crashAfterTables = 2)
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/_remap_journal.json")))
    intercept[IllegalStateException] { // batches quarantined while partial
      IncrementalDedup.processBatch(df(Seq(page("u://q", otherText))), cfg, dirs, batchId = 9L)
    }
    intercept[IllegalArgumentException] { // a different mapping cannot mix in
      IncrementalDedup.remapNodeIds(spark, dirs,
        oldIds.toSeq.map(id => (id + 1000L, id + 5000L)).toDF("old_id", "new_id"))
    }
    IncrementalDedup.remapNodeIds(spark, dirs, mapping2) // resume to completion
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/_remap_journal.json")))
    val after2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after2.groupBy(_._3).values.map(_.map(_._1).toSet).toSet == groupsBefore)
    assert(after2.map(_._2).toSet == oldIds.map(_ + 2000L).toSet)
    assert(spark.read.parquet(dirs.signatures).select("node_id").collect()
      .map(_.getLong(0)).toSet == oldIds.map(_ + 2000L).toSet)
  }

  test("canonicalizeUrls: spelled variants bind ONE canonical url across batches") {
    // The knob lives in the shared extract stage (Pipeline.extract), so
    // incremental mode inherits it — this gates the re-crawl/latest-binding
    // semantics when one page arrives under different spellings per batch.
    val ccfg = cfg.copy(canonicalizeUrls = true)
    val root = Files.createTempDirectory("graft-inc-canon").toString
    val dirs = StateDirs(root)
    val freshText = (1 to 60).map(i => s"fresh$i").mkString(" ")
    def pageAt(url: String, text: String, ts: Long): (String, Timestamp, Array[Byte], String, String) =
      (url, new Timestamp(ts), null, text, "en")

    // batch 1: TWO spellings of one page with the SAME content (must be one
    // observation, with the deterministic max-warc_ts survivor), plus an
    // unrelated page.
    IncrementalDedup.processBatch(
      df(Seq(
        pageAt("HTTP://Example.COM:80/a//index.html", baseText, 1000L),
        pageAt("http://www.example.com/a/", baseText, 2000L),
        pageAt("http://other.com/z", otherText, 1000L))), ccfg, dirs, batchId = 1L)
    val canon = "http://example.com/a"
    val m1 = spark.read.parquet(dirs.members)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getTimestamp(3)))
    assert(m1.map(_._1).toSet == Set(canon, "http://other.com/z"),
      "state must hold canonical spellings only")
    assert(m1.count(_._1 == canon) == 1,
      "k spellings of one (url, content) must be ONE member observation")
    assert(m1.find(_._1 == canon).get._3 == new Timestamp(2000L),
      "survivor among collapsed spellings must be the max-warc_ts one")
    val c1 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c1.keySet == Set(canon, "http://other.com/z"))

    // batch 2: a THIRD spelling re-crawls the page with NEW content at a
    // later warc_ts — the canonical url must re-bind to the new node.
    IncrementalDedup.processBatch(
      df(Seq(pageAt("http://example.com/a?utm_source=feed", freshText, 3000L))),
      ccfg, dirs, batchId = 2L)
    val c2 = spark.read.parquet(dirs.clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c2.keySet == Set(canon, "http://other.com/z"),
      "re-crawl under a new spelling must not mint a second url row")
    assert(c2(canon)._1 != c1(canon)._1,
      "latest binding must move the canonical url to the re-crawled content")
  }

  test("a cross-batch pair below minJaccard stays apart, as in the batch pipeline") {
    // A stored page and a later page five scattered token edits away: exact
    // shingle Jaccard below minJaccard and SimHash Hamming above maxHamming,
    // so ST3's pass rule rejects the pair, but its MinHash estimate clears
    // minJaccard - 2 sigma and the pair shares bands, so it is a candidate
    // that an estimate-based verify would accept.
    import graft.signatures.MinHasher
    val words = (0 until 200).map(i => s"w$i")
    val storedText = words.mkString(" ")
    val laterText = words.zipWithIndex
      .map { case (w, i) => if (Set(10, 50, 90, 130, 170)(i)) s"x$i" else w }.mkString(" ")
    val (pa, pb) = MinHasher.permParams(cfg.numPerm, cfg.seed)
    val Seq(sa, sb) = Seq(storedText, laterText).map(MinHasher.shingleHashes(_, cfg.shingleK))
    val j = MinHasher.jaccardSorted(sa, sb)
    val est = MinHasher.estimateJaccard(MinHasher.minhash(sa, pa, pb), MinHasher.minhash(sb, pa, pb))
    val ham = java.lang.Long.bitCount(MinHasher.simhash(sa) ^ MinHasher.simhash(sb))
    val sigma = math.sqrt(cfg.minJaccard * (1 - cfg.minJaccard) / cfg.numPerm)
    assert(j < cfg.minJaccard && ham > cfg.maxHamming && est >= cfg.minJaccard - 2 * sigma,
      s"fixture is not borderline: J=$j, estimate=$est, Hamming=$ham")

    val pages = Seq(page("u://stored", storedText), page("u://later", laterText))
    val batch = Pipeline.run(spark, df(pages), cfg)
    assert(batch.verified.select("passed").collect().map(_.getBoolean(0)).toSeq == Seq(false),
      "batch ST3 must see the pair and reject it")
    assert(batch.clusters.isEmpty)

    val dirs = StateDirs(Files.createTempDirectory("graft-inc-borderline").toString)
    IncrementalDedup.processBatch(df(pages.take(1)), cfg, dirs, batchId = 1L)
    IncrementalDedup.processBatch(df(pages.drop(1)), cfg, dirs, batchId = 2L)
    val m = spark.read.parquet(dirs.metrics).where(col("batch_id") === 2L).head()
    assert(m.getAs[Long]("candidates_cross") == 1L, "the pair must be a cross-batch candidate")
    val c = spark.read.parquet(dirs.clusters).collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c("u://stored") != c("u://later"),
      "the stream merged a pair that batch ST3 rejects (verified on an estimate)")
  }

  test("streaming query end-to-end via MemoryStream + AvailableNow") {
    val root = Files.createTempDirectory("graft-inc3").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Array[Byte], String, String)]
    mem.addData(page("s://1", baseText), page("s://2", baseText))
    val q = IncrementalDedup.start(
      mem.toDF().toDF("url", "warc_ts", "html", "text", "lang"), cfg, root)
    q.awaitTermination(120000)
    val c = spark.read.parquet(StateDirs(root).clusters).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(c("s://1") == c("s://2"))
  }
}
