package graft.cluster

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a DataFrame of undirected edges (ST4) by
  * alternating small-star and large-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014). Every node is labeled
  * with its component's minimum id, so cluster ids are deterministic (no
  * partition-dependent id generation — SURVEY.md §7.5).
  *
  * The loop's state is the edge table itself, each edge stored once as
  * (lo, hi) with lo < hi. A round rewrites it twice, each rewrite one
  * shuffle that keeps every component's node set:
  *  - small-star hangs each node and its smaller neighbours on the least
  *    of them;
  *  - large-star hangs each node's larger neighbours on the least of the
  *    node and its neighbours.
  * Both leave a forest of stars centred on component minima unchanged, and
  * alternating them reaches that forest from any graph (the round bound is
  * on `run`), so a sliding-window chain of near-dups needs no special case.
  * Labels are read off the stars: a leaf maps to its centre, a centre to
  * itself.
  *
  * Scale notes (100 TB design):
  *  - a round is ONE Spark job: large-star's aggregate counts the nodes
  *    that break the star shape of its input via `observe`, on the same
  *    job as the round's commit (or eager `localCheckpoint`), so there is
  *    no separate convergence-check job;
  *  - the commit / checkpoint truncates lineage, so plan size and task
  *    closures stay O(1) in the round count;
  *  - each step aggregates a node's neighbours into one array, so a hub of
  *    degree d is one row of d ids in one task.
  */
object ConnectedComponents {

  /** Edge sets at or below this row count are solved by union-find on the
    * driver (one collect instead of one job per round). The dup-pair edge
    * set is tiny relative to the corpus, but at 10^12-doc scale it still
    * exceeds any driver, so the distributed loop is the default beyond the
    * threshold. 2M edges = 32 MB collected. */
  final val LocalEdgeThreshold = 2_000_000L

  private final val EdgeSchema = "lo BIGINT, hi BIGINT"

  /** edges: two LongType columns (src, dst), undirected, self-loops and
    * repeats ok. Returns (id, cluster_id) for every node that appears in an
    * edge. The distributed path stops at the first round whose large-star
    * input is already a star forest, which takes O(log² n) rounds for n
    * nodes; there is no round bound to exceed.
    *
    * `durableDir`: when set, every round commits its edge table (atomic
    * manifest rename, keyed by a hash of the input edge set) and a
    * restarted run continues from the last committed round instead of from
    * scratch, so executor/driver loss on a long job costs one round. Every
    * committed edge table has the input's components, so the star forest
    * reached from it is the one reached from scratch. State written under a
    * different edge set is ignored (edge-hash mismatch).
    *
    * `crashAfterRounds` is a test hook: the run dies before starting its
    * (crashAfterRounds+1)-th round, so resume is exercisable mid-loop. */
  def run(spark: SparkSession, edges: DataFrame,
      localThreshold: Long = LocalEdgeThreshold,
      durableDir: Option[String] = None,
      crashAfterRounds: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val e = edges.toDF("src", "dst").where($"src" =!= $"dst")

    // Local path: count on the lazily-cached edge set (ONE fully-parallel
    // job — the expensive upstream lineage, e.g. the CPU-bound verify
    // stage, materializes here at full width; a limit+collect probe would
    // let CollectLimit's progressive partition scan serialize it), then a
    // cheap collect from cache. Union-find needs neither dedup nor
    // normalization.
    val cached = e.localCheckpoint(false)
    val nEdges = cached.count()
    if (nEdges == 0) return spark.emptyDataset[(Long, Long)].toDF("id", "cluster_id")
    if (nEdges <= localThreshold) {
      return runLocal(spark, cached.as[(Long, Long)].collect())
    }

    val input = cached.select(least($"src", $"dst").as("lo"), greatest($"src", $"dst").as("hi"))
    // Durable-resume key: an order-independent hash of the distinct edge
    // set. XOR aggregation — no ANSI sum-overflow hazard; distinct first,
    // or a repeated edge would cancel itself out of the hash.
    val durable = durableDir.map { dir =>
      val row = input.distinct().agg(bit_xor(xxhash64($"lo", $"hi")), count(lit(1))).head()
      new DurableEdges(dir, f"${row.getLong(0)}%016x-${row.getLong(1)}")
    }

    var (forest, round) = durable.flatMap(_.load(spark)).getOrElse((input, 0))
    var settled = false
    var ran = 0
    while (!settled) {
      if (ran >= crashAfterRounds)
        throw new RuntimeException(s"injected crash before CC round ${round + 1}")
      val obs = Observation()
      val next = largeStar(smallStar(forest), obs)
      forest = durable match {
        case Some(d) => d.commit(next, round + 1) // durable write IS the lineage cut
        case None    => next.localCheckpoint(true) // eager: runs the one job
      }
      settled = obs.get.get("unsettled").contains(0L)
      round += 1
      ran += 1
    }
    forest.select($"hi".as("id"), $"lo".as("cluster_id"))
      .union(forest.select($"lo".as("id"), $"lo".as("cluster_id")).distinct())
  }

  /** Each node u with smaller neighbours N: u and every member of N are
    * linked to min(N) instead. */
  private def smallStar(edges: DataFrame): DataFrame =
    edges.groupBy(col("hi").as("u")).agg(collect_set(col("lo")).as("n"))
      .select(array_min(col("n")).as("lo"), explode(array_union(col("n"), array(col("u")))).as("hi"))
      .where(col("hi") =!= col("lo"))

  /** Each node u's larger neighbours are linked to the least of u and all
    * its neighbours instead. `obs` counts the nodes of the input that break
    * the star-forest shape (a node with a smaller neighbour and a second
    * neighbour); at 0 the output equals the input. */
  private def largeStar(edges: DataFrame, obs: Observation): DataFrame = {
    val (u, n) = (col("u"), col("n"))
    edges.select(col("lo").as("u"), col("hi").as("v"))
      .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      .groupBy(u).agg(collect_set(col("v")).as("n"))
      .observe(obs, count_if(array_min(n) < u && size(n) > 1).as("unsettled"))
      .select(least(u, array_min(n)).as("lo"), explode(filter(n, (v: Column) => v > u)).as("hi"))
  }

  /** Per-round durable edge store: `<dir>/edges-round<k>` parquet plus a
    * `_cc_manifest.json` record (`FsOps.writeRecord`: atomic rename)
    * holding (edge_hash, iter = rounds done).
    * The manifest only ever points at a fully-written snapshot; state under
    * a different edgeHash is ignored and overwritten. All filesystem ops go
    * through [[graft.checkpoint.FsOps]], so `dir` may live on any Hadoop
    * filesystem (shared hdfs:// on a cluster, file:// in the sandbox). */
  private final class DurableEdges(dir: String, edgeHash: String) {
    import org.apache.hadoop.fs.Path
    import graft.checkpoint.FsOps
    private val root = new Path(dir)
    private val manifest = new Path(root, "_cc_manifest.json")
    private def payload(round: Int) = new Path(root, s"edges-round$round")

    def load(spark: SparkSession): Option[(DataFrame, Int)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      FsOps.readRecord(conf, manifest).flatMap(kv => kv.get("edge_hash") match {
        case Some(h) if h == edgeHash =>
          for {
            k <- kv.get("iter").map(_.toInt)
            p = payload(k) if FsOps.exists(conf, p)
          } yield (spark.read.schema(EdgeSchema).parquet(p.toString), k)
        case _ =>
          // Edges committed under a DIFFERENT input are useless to this
          // run and would otherwise accumulate forever (every edge-set
          // change strands its round dirs): clear the whole store and start
          // fresh.
          FsOps.deleteRecursive(conf, root)
          None
      })
    }

    def commit(edges: DataFrame, round: Int): DataFrame = {
      val spark = edges.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      FsOps.mkdirs(conf, root)
      val p = payload(round)
      FsOps.writeParquet(edges, p.toString, "overwrite")
      FsOps.writeRecord(conf, manifest, Seq("edge_hash" -> edgeHash, "iter" -> round))
      // GC: once the manifest points at round k, every OTHER dir is
      // unreachable by any resume — earlier rounds, a dir stranded by a
      // crash between a past manifest rename and its GC, and a store of an
      // older layout (whose payload is never read as edges). GC failure
      // must never abort a commit whose manifest already landed; a dir that
      // resists deletion is re-swept by the next commit
      // (FsOps.deleteRecursive is best-effort by contract).
      FsOps.listDirs(conf, root).filter(_.getName != p.getName)
        .foreach(FsOps.deleteRecursive(conf, _))
      // the written schema, so the read-back runs no schema-inference job
      spark.read.schema(EdgeSchema).parquet(p.toString)
    }
  }

  /** Driver-side union-find over a collected edge array (any orientation,
    * duplicates fine). Produces identical labels to the distributed loop:
    * every node's cluster_id is its component minimum. */
  private def runLocal(spark: SparkSession, pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val idx = new java.util.HashMap[Long, Int]()
    pairs.foreach { case (a, b) =>
      if (!idx.containsKey(a)) idx.put(a, idx.size())
      if (!idx.containsKey(b)) idx.put(b, idx.size())
    }
    val n = idx.size()
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idx.get(a)), find(idx.get(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // component minimum node id as the label
    val ids = new Array[Long](n)
    idx.forEach((k, v) => ids(v) = k)
    val minOf = new java.util.HashMap[Int, java.lang.Long]()
    var i = 0
    while (i < n) {
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || ids(i) < cur) minOf.put(r, ids(i))
      i += 1
    }
    val rows = (0 until n).map(j => (ids(j), minOf.get(find(j)).longValue()))
    // a local relation already scans as defaultParallelism slices
    spark.createDataset(rows).toDF("id", "cluster_id")
  }
}
