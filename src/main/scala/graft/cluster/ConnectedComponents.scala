package graft.cluster

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative min-label propagation connected components over a DataFrame of
  * undirected edges (ST4). Labels converge to the component-minimum node id,
  * so cluster ids are deterministic (no partition-dependent id generation —
  * SURVEY.md §7.5).
  *
  * Scale notes (100 TB design):
  *  - each iteration is ONE shuffle: neighbor label messages and the node's
  *    own label are unioned and hash-aggregated together, and the
  *    changed-label count rides on the same job via `observe` — there is no
  *    separate convergence-check join+count job (driver sync points are the
  *    Amdahl term in scaling efficiency, so the loop keeps exactly one
  *    action per iteration);
  *  - `localCheckpoint` after every iteration truncates lineage so plan size
  *    and task closures stay O(1) in the iteration count (on a real cluster,
  *    a reliable checkpoint dir / stage table is the durable variant);
  *  - dup-graph components are dense with tiny diameters, so iteration
  *    counts are small (observed 2-4 on web-dup shaped graphs); `maxIter`
  *    is a safety bound only.
  */
object ConnectedComponents {

  /** Edge sets at or below this row count are solved by union-find on the
    * driver (one collect instead of ~2 jobs per label-propagation round).
    * The dup-pair edge set is tiny relative to the corpus, but at 10^12-doc
    * scale it still exceeds any driver, so the distributed loop is the
    * default beyond the threshold. 2M edges = 32 MB collected. */
  final val LocalEdgeThreshold = 2_000_000L

  /** Iterations executed by the most recent `run` on this JVM (diagnostic /
    * test hook for durable resume; not part of the result contract). */
  @volatile var lastRunIterations: Int = 0

  /** edges: two LongType columns (src, dst), undirected, self-loops ok.
    * Returns (id, cluster_id) for every node that appears in an edge.
    *
    * `durableDir`: when set, the distributed loop commits its label table
    * after every iteration (atomic manifest rename, keyed by a hash of the
    * edge set) and a restarted run RESUMES from the last committed labels
    * instead of from scratch — executor/driver loss on a long job costs one
    * iteration, not the whole propagation. Correctness of resume: min-label
    * propagation is monotone (labels only decrease, always to the id of a
    * node in the same component), so the fixpoint from any committed
    * intermediate state equals the from-scratch fixpoint. State written
    * under a different edge set is ignored (edge-hash mismatch). */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int,
      localThreshold: Long = LocalEdgeThreshold,
      durableDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val e = edges.toDF("src", "dst").where($"src" =!= $"dst")

    // Local path: count on the lazily-cached edge set (ONE fully-parallel
    // job — the expensive upstream lineage, e.g. the CPU-bound verify
    // stage, materializes here at full width; a limit+collect probe would
    // let CollectLimit's progressive partition scan serialize it), then a
    // cheap collect from cache. Union-find needs neither dedup nor
    // symmetrization, so the old distinct shuffle is gone entirely.
    val cached = e.localCheckpoint(false)
    val nEdges = cached.count()
    if (nEdges == 0) return spark.emptyDataset[(Long, Long)].toDF("id", "cluster_id")
    if (nEdges <= localThreshold) {
      return runLocal(spark, cached.as[(Long, Long)].collect())
    }

    val sym = cached.union(cached.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .localCheckpoint(true)

    // Durable-resume bookkeeping: labels keyed by an order-independent hash
    // of the (symmetrized) edge set, committed per iteration via atomic
    // manifest rename. XOR aggregation — no ANSI sum-overflow hazard.
    val durable = durableDir.map { dir =>
      val row = sym.agg(
        bit_xor(xxhash64($"src", $"dst")), count(lit(1))).head()
      new DurableLabels(dir, f"${row.getLong(0)}%016x-${row.getLong(1)}")
    }

    var startIter = 0
    var labels = durable.flatMap(_.load(spark)) match {
      case Some((df, k)) =>
        startIter = k
        df.localCheckpoint(true)
      case None =>
        sym.select($"src".as("id")).distinct()
          .withColumn("label", $"id")
          .localCheckpoint(true)
    }

    var iter = startIter
    var executed = 0
    var converged = false
    // Resume needs at least ONE verification iteration beyond the committed
    // k: the converged final commit lands at exactly k == maxIter when the
    // run used its full bound, and a driver kill between that commit and
    // run()'s return would otherwise resume straight into the unconverged
    // throw below despite holding the correct fixpoint. Monotone propagation
    // makes the extra iteration harmless (a converged state observes 0
    // changes and exits); a genuinely unconverged resume still throws.
    val iterBound = if (startIter > 0) math.max(maxIter, startIter + 1) else maxIter
    while (!converged && iter < iterBound) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), labels("label").as("cand"), lit(false).as("own"))
      val unioned = msgs.union(
        labels.select($"id", $"label".as("cand"), lit(true).as("own")))
      val agg = unioned
        .groupBy("id")
        .agg(min($"cand").as("label"),
          min(when($"own", $"cand")).as("old_label"))
      val obs = Observation(s"cc_iter_${System.identityHashCode(agg)}_$iter")
      val observed = agg.observe(obs,
        sum(when($"label" =!= $"old_label", 1L).otherwise(0L)).as("changed"))
        .select($"id", $"label")
      val next = durable match {
        case Some(d) => d.commit(observed, iter + 1) // durable write IS the lineage cut
        case None    => observed.localCheckpoint(true) // eager: runs the one job
      }
      val changed = obs.get.get("changed") match {
        case Some(n: Long) => n
        case _             => 0L
      }
      labels = next
      converged = changed == 0L
      iter += 1
      executed += 1
    }
    lastRunIterations = executed
    // maxIter is a SAFETY bound, not an answer: min-label propagation moves
    // a component's minimum one hop per iteration, so a component of
    // diameter > maxIter would exit here unconverged — silently returning
    // it would split one real cluster into several (under-merged dedup,
    // undetectable downstream). Fail loudly instead; dup graphs converge in
    // 2-4 iterations, so hitting this means the graph shape (e.g. a long
    // chain of sliding-window near-dups) genuinely needs a larger
    // cfg.maxCcIterations.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within maxIter=$maxIter " +
          "(component diameter exceeds the iteration bound) - raise maxCcIterations; " +
          "returning partial labels would silently split clusters")
    labels.select($"id", $"label".as("cluster_id"))
  }

  /** Per-iteration durable label store: `<dir>/labels-iter<k>` parquet plus
    * a `_cc_manifest.json` record (`FsOps.writeRecord`: atomic rename)
    * holding (edge_hash, iter).
    * The manifest only ever points at a fully-written snapshot; state under
    * a different edgeHash is ignored and overwritten. All filesystem ops go
    * through [[graft.checkpoint.FsOps]], so `dir` may live on any Hadoop
    * filesystem (shared hdfs:// on a cluster, file:// in the sandbox). */
  private final class DurableLabels(dir: String, edgeHash: String) {
    import org.apache.hadoop.fs.Path
    import graft.checkpoint.FsOps
    private val root = new Path(dir)
    private val manifest = new Path(root, "_cc_manifest.json")

    def load(spark: SparkSession): Option[(DataFrame, Int)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      FsOps.readRecord(conf, manifest).flatMap(kv => kv.get("edge_hash") match {
        case Some(h) if h == edgeHash =>
          for {
            k <- kv.get("iter").map(_.toInt)
            p = new Path(root, s"labels-iter$k") if FsOps.exists(conf, p)
          } yield (spark.read.parquet(p.toString), k)
        case _ =>
          // Labels committed under a DIFFERENT edge set are useless to this
          // run and would otherwise accumulate forever (every edge-set
          // change strands its label dirs): clear the whole store and start
          // fresh.
          FsOps.deleteRecursive(conf, root)
          None
      })
    }

    def commit(labels: DataFrame, iter: Int): DataFrame = {
      val conf = labels.sparkSession.sparkContext.hadoopConfiguration
      FsOps.mkdirs(conf, root)
      val p = new Path(root, s"labels-iter$iter")
      labels.write.mode("overwrite").parquet(p.toString)
      FsOps.writeRecord(conf, manifest, Seq("edge_hash" -> edgeHash, "iter" -> iter))
      // GC: once the manifest points at iter k, every OTHER labels-iter*
      // dir is unreachable by any resume — sweep them all (not just k-1:
      // a crash between a past manifest rename and its GC would otherwise
      // strand that iteration's dir forever, since later commits would only
      // ever delete their own predecessor). GC failure must never abort a
      // commit whose manifest already landed; a dir that resists deletion
      // is re-swept by the next commit (FsOps.deleteRecursive is
      // best-effort by contract).
      FsOps.listDirs(conf, root)
        .filter(d => d.getName.startsWith("labels-iter") && d.getName != p.getName)
        .foreach(FsOps.deleteRecursive(conf, _))
      // the written schema, so the read-back runs no schema-inference job
      labels.sparkSession.read.schema(labels.schema.toNullable).parquet(p.toString)
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
    spark.createDataset(rows).toDF("id", "cluster_id").repartition(spark.sparkContext.defaultParallelism)
  }
}
