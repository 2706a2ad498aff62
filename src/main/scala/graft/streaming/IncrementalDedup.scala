package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Pipeline
import graft.checkpoint.FsOps
import graft.model.GraftConfig

/** Incremental near-dup detection over a stream of pages (Structured
  * Streaming, `foreachBatch`): each micro-batch runs the batch stages on the
  * NEW urls only, against durable state tables —
  *
  *   signatures(node_id, n_bytes, simhash, band_hashes, text)       [state:
  *     one row per distinct content, stored by near-dup component]
  *   members(url, node_id, n_bytes, warc_ts, batch_id)              [state]
  *   edges(id_a, id_b)                                              [state]
  *   clusters(url, node_id, cluster_id, n_bytes, warc_ts, batch_id) [state+output:
  *     the resolved latest binding per url with its component label]
  *   metrics(batch_id, candidates_new, candidates_cross,
  *     edges_exact_verified, edges_est_only, committed_ms)          [audit log]
  *
  * Per batch: extract -> new distinct contents (anti-join on stored
  * signatures) -> signature rows, text included, for new contents only ->
  * ONE banded candidate pass over the batch's band keys plus the stored
  * keys sharing them, derived at probe time from the stored signature rows
  * under the current config (new-vs-new and new-vs-stored pairs, salted by
  * the combined census; see crossBatchCandidates) -> ONE exact verify of
  * every pair by batch ST3's pass rule, over the batch's texts and the
  * stored texts of its stored endpoints -> append edges and members ->
  * connected components over the AFFECTED components only -> append the
  * signature rows, partitioned and sorted by their component -> swap in
  * the updated clusters table (untouched clusters carried forward
  * verbatim).
  *
  * Where the reference hard-links the duplicates it finds
  * (consolidation.rs), the state stores a near-dup family about once: its
  * signature rows sit side by side (see byComponent), so zstd compresses
  * their near-identical texts and band hashes together.
  *
  * This is the reference's checkpoint-resume design (nullable-checksum
  * columns as "already computed" state, file_db.rs:375-388) turned into
  * streaming state: presence in the signatures table == stage done for that
  * content, forever; like the reference's one `metadata` row per file
  * (file_db.rs:33-36), its text and signature are one row. That contract
  * is only sound because the signatures append runs LAST in every batch
  * (see the append block in processBatch): foreachBatch is at-least-once,
  * and a replay after a crash must recompute a content's candidates/edges
  * unless ALL of them are already durable. The bounded-channel pipeline of
  * the reference (main.rs:145-166) maps to micro-batch backpressure.
  *
  * Scale notes: signatures, candidates and verification shuffle and
  * compute O(batch + its candidate pairs): the stored signature rows are
  * scanned map-side against batch-sized key sets (parquet column pruning:
  * the key probe reads no text), never shuffled whole,
  * and hot bands are salted into bounded cells (same policy as batch ST2),
  * so boilerplate bands that accumulate members over months cannot make
  * per-batch work grow with stored-band size. Connected components run
  * only over the components TOUCHED by the batch (new bindings,
  * superseded bindings, new edges), so CC cost is O(affected dup-graph),
  * not O(all accumulated edges). The clusters table is NOT bounded that
  * way: every batch reads it whole (the current bindings and the affected
  * set come from it) and rewrites it whole through one table swap, so each
  * batch does O(live urls) clusters I/O on top of its O(batch) work. State
  * dirs are periodically compacted (dup edges merged, member history
  * reduced to latest-per-url, dead nodes GC'd), so a years-long stream
  * holds state proportional to the LIVE corpus, not to its history.
  *
  * The state root may be any Hadoop filesystem URI: every existence check,
  * version/journal record and table swap goes through [[FsOps]] on the
  * session's Hadoop configuration, the same filesystem the parquet writes
  * resolve against.
  */
object IncrementalDedup {

  final case class StateDirs(root: String) {
    /** One row per distinct content, text included (so cross-batch pairs
      * get the full ST3 verify); keyed by content hash, never stale. */
    val signatures = s"$root/signatures"
    val members = s"$root/members"
    val edges = s"$root/edges"
    val clusters = s"$root/clusters"
    val metrics = s"$root/metrics"
    val checkpoint = s"$root/_checkpoint"
    val versionFile = s"$root/_state_version.json"
    val remapJournal = s"$root/_remap_journal.json"
    /** Every table a batch, upgrade, compaction or remap may replace. */
    def tables: Seq[String] = Seq(signatures, members, edges, clusters, metrics)
  }

  /** Current state-schema version: 5 means each content's text is a column
    * of its signature row, whose band keys are derived at probe time. A v4
    * root is upgraded in place ([[upgradeV4]]). Versions 1-3 kept no texts
    * (their cross pairs were accepted on signature estimates), so a root of
    * theirs that holds tables is refused with a request to rebuild it from
    * its pages; a NEWER version is refused too (never silently
    * reinterpreted by old code). Mirrors the reference's schema_version
    * gate (/root/reference/src/file_db.rs:66-77). */
  final val StateVersion = 5

  private def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  private def exists(spark: SparkSession, p: String): Boolean =
    FsOps.exists(hconf(spark), new Path(p))

  private def writeVersion(spark: SparkSession, dirs: StateDirs, sigConfig: String): Unit =
    FsOps.writeRecord(hconf(spark), new Path(dirs.versionFile), Seq(
      "version" -> StateVersion, "sig_config" -> sigConfig))

  /** The durable-state signature fingerprint: every knob that changes the
    * MEANING of stored band_hashes/simhash rows. A restart with a
    * different value cannot be reconciled with existing signature state —
    * new band keys would never match stored ones (silent, permanent
    * cross-batch recall loss) — so `ensureStateVersion` refuses it
    * loudly. Thresholds (minJaccard, maxHamming, LCS) and the SimHash
    * chunk tier are deliberately NOT in the fingerprint: they gate future
    * decisions or derive probe keys from the stored rows, not the validity
    * of those rows. */
  private[streaming] def sigConfigOf(cfg: GraftConfig): String =
    s"k${cfg.shingleK}|p${cfg.numPerm}|b${cfg.bands}|s${cfg.seed}"

  /** Bring a v4 root, which kept texts and band keys in tables of their
    * own, to v5 in place without loss: heal their interrupted swaps,
    * rewrite `signatures` joined to one text per node (every v4 signature
    * row has one: texts were appended first), delete the two tables and
    * stamp v5 with `sigConfig`. Each step is idempotent (a `signatures`
    * table holding `text` is not rewritten), so re-running an interrupted
    * upgrade converges to the same state. */
  private def upgradeV4(spark: SparkSession, dirs: StateDirs, sigConfig: String): Unit = {
    val conf = hconf(spark)
    val legacy = Seq("texts", "band_index").map(t => new Path(s"${dirs.root}/$t"))
    legacy.foreach(FsOps.recoverSwap(conf, _))
    val texts = legacy.head
    if (exists(spark, dirs.signatures) &&
        !FsOps.readParquet(spark, dirs.signatures).columns.contains("text")) {
      if (!FsOps.exists(conf, texts)) throw new IllegalStateException(
        s"incremental state at ${dirs.root} is schema v4 without its texts table - rebuild it")
      replaceTable(FsOps.readParquet(spark, dirs.signatures).join(
        FsOps.readParquet(spark, texts.toString).select("node_id", "text").dropDuplicates("node_id"),
        Seq("node_id")), dirs.signatures)
    }
    legacy.foreach(FsOps.deleteRecursive(conf, _))
    writeVersion(spark, dirs, sigConfig)
  }

  /** The refusal of a root holding tables of schema version `v` (absent:
    * v1, which wrote no version record), any version but the current. */
  private def versionRefusal(dirs: StateDirs, v: Option[Int]): IllegalStateException =
    new IllegalStateException(v match {
      case Some(n) if n > StateVersion =>
        s"incremental state at ${dirs.root} has schema version $n, newer than " +
          s"supported $StateVersion — refusing to reinterpret (upgrade the library)"
      case _ =>
        s"incremental state at ${dirs.root} is schema v${v.getOrElse(1)}, which kept no page " +
          s"texts, so its cross-batch pairs cannot be verified exactly under v$StateVersion - " +
          "rebuild it from its pages into a fresh state root"
    })

  /** Version gate, run once per batch (one record read): an empty root is
    * stamped with the current version, a v4 root is upgraded, and a root of
    * another version that holds tables is refused (see [[StateVersion]]). */
  private[streaming] def ensureStateVersion(spark: SparkSession, cfg: GraftConfig, dirs: StateDirs): Unit = {
    // Heal interrupted swaps first: every swapped table must be present (or
    // restored from its aside copy) before any state is read this batch.
    val conf = hconf(spark)
    dirs.tables.foreach(t => FsOps.recoverSwap(conf, new Path(t)))
    // An interrupted remap leaves tables keyed inconsistently: processing
    // batches against that state would bind new content to stale ids.
    // Refuse until the remap is re-run to completion.
    if (exists(spark, dirs.remapJournal))
      throw new IllegalStateException(
        s"incremental state at ${dirs.root} has an in-progress node-id remap " +
          "(_remap_journal.json) - re-run remapNodeIds with the same mapping to completion first")
    // Signature-config gate: stored signatures/band keys are only
    // meaningful under the (shingleK, numPerm, bands, seed) that computed
    // them. A silent mismatch is the worst failure mode this state has —
    // new band keys never match stored ones, so every cross-batch
    // near-duplicate goes undetected with no error. Every v4 and v5 record
    // carries the stamp, so an absent one is refused as a mismatch.
    val version = FsOps.readRecord(conf, new Path(dirs.versionFile)).getOrElse(Map.empty)
    val cur = sigConfigOf(cfg)
    version.get("version").map(_.toInt) match {
      case Some(v) if v == StateVersion || v == 4 =>
        if (!version.get("sig_config").contains(cur))
          throw new IllegalStateException(
            s"incremental state at ${dirs.root} was built with signature config " +
              s"[${version.getOrElse("sig_config", "?")}] but this run uses [$cur] " +
              "(shingleK|numPerm|bands|seed) - stored signatures and band keys are " +
              "incompatible with the new config. Revert the config, point at a fresh " +
              "state root, or rebuild state from the original pages")
        if (v == 4) upgradeV4(spark, dirs, cur)
      case Some(v) if v > StateVersion => throw versionRefusal(dirs, Some(v))
      case v => // absent or older: only an empty root may be stamped
        if (dirs.tables.exists(exists(spark, _))) throw versionRefusal(dirs, v)
        writeVersion(spark, dirs, cur)
    }
  }

  private def readOrEmpty(spark: SparkSession, path: String, schemaOf: DataFrame): DataFrame =
    if (exists(spark, path)) FsOps.readParquet(spark, path)
    else spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schemaOf.schema)

  /** Process one micro-batch of pages against the state under `dirs`.
    * Exposed for testing; `start` wires it into foreachBatch.
    *
    * Re-crawl semantics (the reference's changed-file invalidation,
    * /root/reference/src/file_db.rs:311-343): member rows carry
    * (batch_id, warc_ts), the cluster rewrite keeps only each url's LATEST
    * content binding, and edges whose endpoints no longer back any live url
    * are retired from clustering (signature/edge state is kept — if the
    * content reappears under another url it needs no recompute). A batch
    * that introduces no new (url, node_id) binding is a no-op: state and
    * clusters are left untouched. */
  def processBatch(batch: DataFrame, cfg: GraftConfig, dirs: StateDirs, batchId: Long = 0L,
      crashAfterWrites: Int = Int.MaxValue): Unit = {
    val spark = batch.sparkSession
    ensureStateVersion(spark, cfg, dirs)
    // Test hook mirroring remapNodeIds' crashAfterTables: die before the
    // (crashAfterWrites+1)-th state write - the edges, members and
    // signatures appends, then the clusters swap - so the replay-resume
    // contract (see the append block below) is exercisable at every crash
    // point.
    var writesDone = 0
    def stateWrite(write: => Unit): Unit = {
      if (writesDone >= crashAfterWrites)
        throw new RuntimeException(s"injected crash before state write #${writesDone + 1}")
      writesDone += 1
      write
    }

    val extracted = Pipeline.extract(batch, cfg).localCheckpoint(false)
    // read by the new-content anti-join and as the batch's texts in the verify
    val newContents = Pipeline.distinctContents(extracted).localCheckpoint(false)

    // ---- skip unchanged batches: a batch row matters only if it would
    // change its url's CURRENT binding (new url, changed content, or a
    // REVERT to previously-seen content — comparing against full member
    // history would wrongly swallow the revert case). No changed bindings
    // means no state row and no cluster assignment can change.
    //
    // Reduce to each url's LATEST observation WITHIN the batch first
    // (deterministic (warc_ts, node_id, n_bytes) struct max — the same
    // tiebreak shape the cross-batch winner resolution uses). The filter
    // below compares rows against the CURRENT binding, and an unreduced
    // row set would drop a same-batch row that MATCHES the binding while
    // keeping an OLDER same-batch row for the same url — wrongly rebinding
    // the url to stale content (the within-batch warc_ts tiebreak must run
    // before, not after, the skip filter).
    val memberRows = extracted
      .select("url", "node_id", "n_bytes", "warc_ts")
      .groupBy("url")
      .agg(max(struct(col("warc_ts"), col("node_id"), col("n_bytes"))).as("m"))
      .select(col("url"), col("m.node_id").as("node_id"),
        col("m.n_bytes").as("n_bytes"), col("m.warc_ts").as("warc_ts"))
      .withColumn("batch_id", lit(batchId))
    val prevC: DataFrame =
      if (exists(spark, dirs.clusters)) FsOps.readParquet(spark, dirs.clusters).localCheckpoint(false)
      else null
    val currentBindings =
      if (prevC != null) prevC.select("url", "node_id")
      else readOrEmpty(spark, dirs.members, memberRows).select("url", "node_id").limit(0)
    val newMemberRows = memberRows
      .join(currentBindings, Seq("url", "node_id"), "left_anti")
      .localCheckpoint(false)
    if (newMemberRows.isEmpty) return

    // ---- new contents = not yet in the signature state; their rows carry
    // the text, computed in the signature projection itself
    val stored = readOrEmpty(spark, dirs.signatures,
      Pipeline.signatures(newContents, cfg, withText = true))
    val contents = newContents.join(stored.select("node_id"), Seq("node_id"), "left_anti")
    val sigs = Pipeline.signatures(contents, cfg, withText = true).localCheckpoint(false)

    // ---- candidates: ONE banded pass over the batch's band rows and the
    // stored rows sharing their keys (crossBatchCandidates). Both sides'
    // keys come from bandKeys under THIS config, so the probe follows any
    // simhashTier or maxHamming change with no stored key to rebuild.
    val newBands = Pipeline.bandKeys(sigs, cfg)
    val pairs = crossBatchCandidates(newBands, Pipeline.bandKeys(stored, cfg), cfg)
      .localCheckpoint(false)

    // ---- verify: ONE exact pass by batch ST3's rule (exact shingle
    // Jaccard, SimHash Hamming, suffix-automaton LCS) over every pair. The
    // texts are this batch's contents plus the stored texts of the pairs'
    // stored endpoints: the text column is the state's one whose BYTES
    // grow with the live corpus, so only those rows are read (a node_id
    // semi-join before any shuffle) and per-batch text I/O is O(batch +
    // cross candidates). A re-published known content verifies on the
    // batch's copy of its text.
    val texts = stored.select("node_id", "text")
      .join(pairs.select(col("stored_id").as("node_id")), Seq("node_id"), "left_semi")
      .unionByName(newContents.select("node_id", "text"))
      .dropDuplicates("node_id").localCheckpoint(false)
    // read by the edges append, the affected set and the metrics row
    val verified = Pipeline.verifyPairs(pairs.select("id_a", "id_b"), texts, cfg)
      .where(col("passed")).select("id_a", "id_b").localCheckpoint(false)

    // ---- append state. ORDER IS THE REPLAY-RESUME CONTRACT: foreachBatch
    // is at-least-once, the appends are not atomic as a group, and replay
    // derives "contents still to process" from presence in the SIGNATURES
    // table alone — so signatures must land LAST. A crash anywhere earlier
    // leaves the content absent from signatures and the replay recomputes
    // everything (duplicate edge/member rows from the partial attempt are
    // harmless: CC ignores repeated edges and members resolve per url —
    // and compaction merges them durably). A content's bands and text ride
    // in its signature row, so they are never durable without it.
    // Signatures-first would invert that: a crash between it and the edges
    // append would make the replay see "already processed" and the batch's
    // candidate edges would be lost FOREVER (silent recall loss). The
    // signatures append waits for the batch's connected components below,
    // whose labels set its row layout, and lands before the clusters swap:
    // a replay after a crash between the two finds no content left to
    // process and reclusters from the durable edges and members.
    stateWrite(appendParquet(verified, dirs.edges))
    stateWrite(appendParquet(newMemberRows, dirs.members))
    // The per-batch metrics row (the durable audit of a stream's candidate
    // and edge counts) is computed here but appended AFTER the clusters
    // swap: appended earlier, a crash before the swap would make the
    // replayed batch append a SECOND row for the same batch_id. After the
    // swap, the replay exits at the unchanged-bindings check — at most one
    // row per batch (a crash in the one instant between swap and append
    // loses the audit row for that batch; an at-most-once audit beats
    // contradictory duplicates).
    // Its counts come from ONE aggregation over a tagged union of the
    // (already materialized) pair and edge tables, not one count job each:
    // t = 0 new-vs-new pair, 1 cross pair, 2 verified edge. Every edge is
    // exactly verified, so `edges_est_only` is 0; the column stays for
    // readers of the log's schema.
    val n = pairs.select(col("stored_id").isNotNull.cast("int").as("t"))
      .union(verified.select(lit(2).as("t")))
      .select((0 to 2).map(i => count_if(col("t") === i)): _*)
      .head()
    import spark.implicits._
    val metricsRow =
      Seq((batchId, n.getLong(0), n.getLong(1), n.getLong(2), 0L, System.currentTimeMillis()))
        .toDF("batch_id", "candidates_new", "candidates_cross",
          "edges_exact_verified", "edges_est_only", "committed_ms")

    val (cc, clusters) =
      if (prevC == null) rebuildClusters(spark, cfg, dirs) // first batch ever / state recovery
      else reclusterAffected(spark, cfg, dirs, prevC, newMemberRows, verified)
    // LAST append (see above); a content with no edge has no CC label
    stateWrite(appendParquet(byComponent(
      sigs.join(cc.withColumnRenamed("id", "node_id"), Seq("node_id"), "left")), dirs.signatures))
    stateWrite(replaceTable(clusters, dirs.clusters))
    appendParquet(metricsRow, dirs.metrics) // after the swap, see above
    compactStateIfNeeded(spark, cfg, dirs)
  }

  /** The batch's recluster, bounded to AFFECTED components: the CC labels
    * (id, cluster_id) of the affected live nodes and the next clusters
    * table. Closure argument: an old component's labels can change only
    * through (a) a new edge — whose endpoints are batch-touched nodes — or
    * (b) a node death — which only happens when one of its urls re-binds,
    * so the node is batch-touched too. Components not intersecting the
    * touched set A0 are therefore carried forward verbatim; per-batch CC
    * work is O(affected dup-graph), not O(all accumulated edges). */
  private def reclusterAffected(spark: SparkSession, cfg: GraftConfig, dirs: StateDirs,
      prevC: DataFrame, newMemberRows: DataFrame, verified: DataFrame): (DataFrame, DataFrame) = {
    val batchUrls = newMemberRows.select("url") // one row per url already

    // winner binding per batch url: its previous binding vs the batch rows
    val prevOfBatch = prevC.join(batchUrls, Seq("url"), "left_semi")
      .select("url", "node_id", "n_bytes", "warc_ts", "batch_id")
      .localCheckpoint(false)
    val winners = latestBinding(
      newMemberRows.select("url", "node_id", "n_bytes", "warc_ts", "batch_id").unionByName(prevOfBatch))
      .localCheckpoint(false)

    // Resurrected nodes — live now but not live before (a url reverting to
    // earlier content) — carry PRE-EXISTING edges into components the batch
    // never touched directly; their edge-state neighbors must join the
    // affected set or a revert would miss its re-merge. (Brand-new content
    // has only this batch's edges, which are covered by E_new below.)
    // No distinct: that was a full shuffle of the accumulated edge HISTORY
    // every batch (O(state), violating the per-batch bound). Every consumer
    // is duplicate-insensitive — the semi-joins below, and CC (union-find
    // ignores repeats; the distributed loop collects neighbour sets) — and
    // compaction dedups the table durably.
    val edgesState = FsOps.readParquet(spark, dirs.edges).localCheckpoint(false)
    val newlyLive = winners.select("node_id")
      .join(prevC.select("node_id"), Seq("node_id"), "left_anti")
    val resurrectNeighbors = edgesState
      .join(newlyLive.withColumnRenamed("node_id", "id_a"), Seq("id_a"), "left_semi")
      .select(col("id_b").as("node_id"))
      .union(edgesState
        .join(newlyLive.withColumnRenamed("node_id", "id_b"), Seq("id_b"), "left_semi")
        .select(col("id_a").as("node_id")))

    // A0 = batch-touched nodes: new winners, superseded old bindings,
    // endpoints of this batch's new edges, and resurrection neighbors.
    // A0, the affected clusters and the live affected nodes only ever key
    // semi/anti-joins, which ignore duplicates: no distinct (a shuffle each).
    val a0 = winners.select("node_id")
      .union(prevOfBatch.select("node_id"))
      .union(verified.select(col("id_a").as("node_id")))
      .union(verified.select(col("id_b").as("node_id")))
      .union(resurrectNeighbors)

    val affClusters = prevC.join(a0, Seq("node_id"), "left_semi")
      .select("cluster_id").localCheckpoint(false)

    // resolved members of the affected region: carried bindings of affected
    // clusters (non-batch urls, unchanged) + the batch winners
    val carriedAff = prevC.join(affClusters, Seq("cluster_id"), "left_semi")
      .join(batchUrls, Seq("url"), "left_anti")
      .select("url", "node_id", "n_bytes", "warc_ts", "batch_id")
    val affResolved = carriedAff.unionByName(winners).localCheckpoint(false)

    // edges among LIVE affected nodes (dead-node edges retired here — the
    // reference's changed-file invalidation at cluster time)
    val liveAffA = affResolved.select(col("node_id").as("id_a"))
    val affEdges = edgesState
      .join(liveAffA, Seq("id_a"), "left_semi")
      .join(liveAffA.select(col("id_a").as("id_b")), Seq("id_b"), "left_semi")

    val cc = graft.cluster.ConnectedComponents.run(spark, affEdges,
      localThreshold = cfg.ccLocalThreshold)
    val untouched = prevC.join(affClusters, Seq("cluster_id"), "left_anti")
      .select("url", "node_id", "cluster_id", "n_bytes", "warc_ts", "batch_id")
    (cc, untouched.unionByName(labeled(affResolved, cc)))
  }

  /** The candidate pairs of a batch, new-vs-new and new-vs-stored, from
    * ONE banded pass ([[Pipeline.bandedPairs]]: census, salting, grouping)
    * over the batch's band rows plus the stored band rows (`bandKeys` of
    * the stored signature rows) that share a key with them. Only pairs
    * with at least one new endpoint are kept, as
    * (id_a, id_b, stored_id), `stored_id` null for a new-vs-new pair.
    *
    * The census counts stored and new members together, so every cell is
    * salted by the combined distinct count, as the batch pipeline salts by
    * the whole corpus: a stored group just under `maxBandGroup` cannot pair
    * cold against a large batch contribution on the same key, and a
    * new-vs-new pair in a band that is hot only once its stored members
    * count is salted (or, beyond hardMaxBandGroup, dropped) too. The stored
    * side is semi-joined to the batch's band keys (broadcast: the stored
    * rows can hold billions of keys, the batch thousands), so the pass is
    * O(batch bands + their stored groups).
    *
    * The census counts rows, so it needs each (node, key) once, and it
    * gets that with no reduction: a v5 root holds each node once (a batch
    * appends only contents absent from the stored rows, and compaction
    * keeps one row per live node), and `newBands` comes from contents
    * anti-joined to those rows, so no batch node is on the stored side. */
  private[graft] def crossBatchCandidates(newBands: DataFrame, storedBands: DataFrame,
      cfg: GraftConfig): DataFrame = {
    val stored = storedBands.select("node_id", "band_key")
      .join(broadcast(newBands.select("band_key")), Seq("band_key"), "left_semi")
    val bands = newBands.select(col("node_id"), col("band_key"), lit(true).as("is_new"))
      .unionByName(stored.select(col("node_id"), col("band_key"), lit(false).as("is_new")))
    Pipeline.bandedPairs(bands, cfg.maxBandGroup, cfg.hotBandCap).pairs
  }

  /** Full recluster from ground-truth state (members + edges): latest
    * binding per url, live-edge CC, every url labeled. Returns the CC labels
    * (id, cluster_id) and the clusters table. Used for the first batch and
    * cluster-state recovery; per-batch processing uses the bounded
    * affected-component path ([[reclusterAffected]]) instead. */
  private def rebuildClusters(spark: SparkSession, cfg: GraftConfig,
      dirs: StateDirs): (DataFrame, DataFrame) = {
    val resolved = latestBinding(FsOps.readParquet(spark, dirs.members)).localCheckpoint(false)
    val liveA = resolved.select(col("node_id").as("id_a")) // keys semi-joins only
    val liveEdges = // CC ignores repeated edges
      (if (exists(spark, dirs.edges)) FsOps.readParquet(spark, dirs.edges)
       else spark.emptyDataFrame.select(lit(0L).as("id_a"), lit(0L).as("id_b")).limit(0))
        .join(liveA, Seq("id_a"), "left_semi")
        .join(liveA.select(col("id_a").as("id_b")), Seq("id_b"), "left_semi")
    val cc = graft.cluster.ConnectedComponents.run(spark, liveEdges,
      localThreshold = cfg.ccLocalThreshold)
    (cc, labeled(resolved, cc))
  }

  /** The one layout of `signatures` rows, for the batch append and for
    * compaction: hash-partitioned by component label and sorted by
    * (component, node_id). A near-dup family's rows, whose texts and band
    * hashes nearly repeat, then sit side by side in one file, where zstd
    * (which compresses each parquet page on its own) stores the family
    * about once; in node_id order its copies land in different files and
    * pages. `rows` holds the signature columns plus a `cluster_id` label,
    * null for a node without one (its own node_id is its label). */
  private def byComponent(rows: DataFrame): DataFrame = {
    val component = coalesce(col("cluster_id"), col("node_id"))
    rows.repartition(component).sortWithinPartitions(component, col("node_id")).drop("cluster_id")
  }

  /** The latest binding of every url among `members` (url, node_id,
    * n_bytes, warc_ts, batch_id): the max of (batch_id, warc_ts, node_id),
    * deterministic whatever the partitioning. Every resolution path (the
    * batch winners, a full rebuild, compaction) applies this one rule. */
  private def latestBinding(members: DataFrame): DataFrame =
    members.groupBy("url")
      .agg(max(struct(col("batch_id"), col("warc_ts"), col("node_id"), col("n_bytes"))).as("m"))
      .select(col("url"), col("m.node_id").as("node_id"), col("m.n_bytes").as("n_bytes"),
        col("m.warc_ts").as("warc_ts"), col("m.batch_id").as("batch_id"))

  /** `resolved` bindings with their CC labels (`cc`: id, cluster_id); a
    * node without an edge is its own cluster. */
  private def labeled(resolved: DataFrame, cc: DataFrame): DataFrame =
    resolved
      .join(cc, resolved("node_id") === cc("id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("node_id")))
      .select("url", "node_id", "cluster_id", "n_bytes", "warc_ts", "batch_id")

  /** Identity-key remap of stored state — the graft analog of the
    * reference's device-number remap maintenance op
    * (/root/reference/src/file_db.rs:656-794): when the node-id derivation
    * changes (e.g. a hash-config migration), stored state is RE-KEYED under
    * an (old_id, new_id) mapping instead of recomputed — signature rows,
    * member bindings, edges, and cluster labels all carry over. A v4 root
    * is first upgraded in place, as `processBatch` does.
    * The mapping's provenance is the caller's (e.g. joining old and new
    * ST0 outputs on url or exact_hash); ids absent from the mapping pass
    * through unchanged.
    *
    * Refusals mirror the reference's consistency gate: a mapping that is
    * not 1-to-1, or whose new ids collide with unmapped stored ids, would
    * silently merge or split content identities and is rejected before any
    * write. Each table rewrite is crash-safe (temp dir + rename-aside
    * swap, healed by `FsOps.recoverSwap` on the next batch).
    *
    * Cluster labels are component-min node ids, so they are recomputed per
    * (unchanged) membership group after the remap — a pure groupBy-min,
    * no connected-components rerun. */
  def remapNodeIds(spark: SparkSession, dirs: StateDirs, mapping: DataFrame,
      crashAfterTables: Int = Int.MaxValue): Unit = {
    val conf = hconf(spark)
    dirs.tables.foreach(t => FsOps.recoverSwap(conf, new Path(t)))
    // Version gate BEFORE any journal write: a remap over state of another
    // version would journal and rewrite tables that processBatch refuses
    // anyway, or fail midway on their older columns. Upgrade a v4 root
    // (unless a v4 remap left its tables keyed inconsistently) and refuse
    // any other, as processBatch does.
    if (dirs.tables.exists(exists(spark, _))) {
      val record = FsOps.readRecord(conf, new Path(dirs.versionFile)).getOrElse(Map.empty)
      record.get("version").map(_.toInt) match {
        case Some(StateVersion) =>
        case Some(4) if exists(spark, dirs.remapJournal) =>
          throw new IllegalStateException(s"incremental state at ${dirs.root} is schema v4 " +
            "with an interrupted remap - finish it with the release that started it")
        case Some(4) => upgradeV4(spark, dirs, record.getOrElse("sig_config", ""))
        case v => throw versionRefusal(dirs, v)
      }
    }
    val m = mapping.select(col("old_id").cast("long").as("old_id"),
      col("new_id").cast("long").as("new_id")).distinct().localCheckpoint(true)
    val dupOld = m.groupBy("old_id").count().where(col("count") > 1).count()
    val dupNew = m.groupBy("new_id").count().where(col("count") > 1).count()
    require(dupOld == 0 && dupNew == 0,
      s"remap mapping is not 1-to-1 ($dupOld duplicated old ids, $dupNew duplicated new ids) " +
        "- refusing: applying it would merge or split content identities")

    // Multi-table journal: the remap rewrites four tables and a crash in
    // between leaves them keyed inconsistently. The journal (mapping hash +
    // completed-table list, atomically renamed after each table) makes the
    // op RESUMABLE: re-running the same mapping skips completed tables and
    // validates only the rest. A journal from a DIFFERENT mapping means an
    // earlier remap died midway — that one must be re-run to completion
    // first, so it is refused, never silently mixed.
    val mapHashRow = m.agg(bit_xor(xxhash64(col("old_id"), col("new_id"))), count(lit(1))).head()
    val mapHash = f"${mapHashRow.getLong(0)}%016x-${mapHashRow.getLong(1)}"
    val journal = new Path(dirs.remapJournal)
    val done: Set[String] = FsOps.readRecord(conf, journal) match {
      case None => Set.empty
      case Some(kv) =>
        require(kv.get("mapping_hash").contains(mapHash),
          s"an interrupted remap under a different mapping (${kv.getOrElse("mapping_hash", "?")}) " +
            "left partial state - re-run THAT remap to completion before starting a new one")
        kv.get("done").map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    }
    def writeJournal(doneNow: Set[String]): Unit =
      FsOps.writeRecord(conf, journal, Seq("mapping_hash" -> mapHash, "done" -> doneNow.mkString(",")))

    // a new id colliding with a stored id the mapping does NOT touch would
    // merge two distinct contents under one key (checked over the tables
    // not yet rewritten — completed ones legitimately hold the new ids).
    // edges ids are normally subsets of the node-id tables, but the scan
    // includes them anyway: if that invariant is ever broken (e.g.
    // partial manual state surgery), a collision there must refuse too,
    // not silently merge — the extra scan is cheap next to the rewrite.
    val nodeIdTables =
      Seq("signatures" -> dirs.signatures, "members" -> dirs.members, "clusters" -> dirs.clusters)
        .filter { case (name, p) => !done.contains(name) && exists(spark, p) }
        .map { case (_, p) => FsOps.readParquet(spark, p).select(col("node_id").as("id")) }
    val edgeIdTables =
      if (done.contains("edges") || !exists(spark, dirs.edges)) Nil
      else {
        val e = FsOps.readParquet(spark, dirs.edges)
        Seq(e.select(col("id_a").as("id")), e.select(col("id_b").as("id")))
      }
    val storedIds = (nodeIdTables ++ edgeIdTables)
      .reduceOption(_ union _)
      .map(_.distinct())
    storedIds.foreach { ids =>
      // mapping rows whose new_id equals a stored id, where that stored id
      // is NOT itself remapped away by the same mapping
      val collisions = m.join(ids, m("new_id") === ids("id"), "left_semi")
        .join(m.select(col("old_id").as("probe")), col("new_id") === col("probe"), "left_anti")
        .count()
      require(collisions == 0,
        s"remap collides $collisions new ids with unmapped stored ids - refusing")
    }
    writeJournal(done) // validation passed: the remap is now in progress

    def remapCol(df: DataFrame, c: String): DataFrame =
      df.join(m.withColumnRenamed("old_id", c), Seq(c), "left")
        .withColumn(c, coalesce(col("new_id"), col(c))).drop("new_id")
    var doneNow = done
    var rewrites = 0
    def rewrite(name: String, path: String)(f: DataFrame => DataFrame): Unit = {
      if (!doneNow.contains(name)) {
        if (rewrites >= crashAfterTables) // test hook: simulate dying midway
          throw new RuntimeException(s"injected crash before rewriting $name")
        rewrites += 1
        if (exists(spark, path)) replaceTable(f(FsOps.readParquet(spark, path)), path)
        doneNow += name
        writeJournal(doneNow)
      }
    }
    rewrite("signatures", dirs.signatures)(remapCol(_, "node_id"))
    rewrite("members", dirs.members)(remapCol(_, "node_id"))
    rewrite("edges", dirs.edges) { e =>
      val r = remapCol(remapCol(e.withColumnRenamed("id_a", "a").withColumnRenamed("id_b", "b"),
        "a"), "b")
      r.select(least(col("a"), col("b")).as("id_a"), greatest(col("a"), col("b")).as("id_b"))
        .where(col("id_a") =!= col("id_b")) // id_a < id_b invariant survives the remap
    }
    rewrite("clusters", dirs.clusters) { c0 =>
      val r = remapCol(c0, "node_id")
      val relabel = r.groupBy("cluster_id").agg(min(col("node_id")).as("new_label"))
      r.join(relabel, "cluster_id")
        .select(col("url"), col("node_id"), col("new_label").as("cluster_id"),
          col("n_bytes"), col("warc_ts"), col("batch_id"))
    }
    // all tables consistent again (a journal that resists deletion keeps
    // batches refused until this same remap re-runs: every table is done)
    FsOps.deleteRecursive(conf, journal)
  }

  /** Rewrite accumulated state compacted when any dir's file count exceeds
    * cfg.incCompactFileThreshold. Without this, `appendParquet` adds files
    * per batch forever, and every batch's scans of the edges and signatures
    * tables (map-side, against batch-sized key sets) pay for each file and
    * each duplicate or dead row of the whole history.
    * Compaction:
    *  - members -> latest binding per url (exactly the reduction every
    *    resolution path computes; superseded history carries no signal);
    *  - edges -> distinct, endpoints restricted to LIVE nodes (an edge on a
    *    node no url binds cannot affect clustering; cluster time retires
    *    them anyway — compaction just stops paying to rescan them);
    *  - signatures -> live nodes only, in the component layout under the
    *    live clusters' labels ([[byComponent]]), so a family that grew
    *    across batches shares one file again. This trades the
    *    "resurrected content needs no recompute" property for bounded
    *    state: a url reverting to GC'd content re-enters as new content
    *    (the batch carries its text, so the signature row is recomputed —
    *    same clusters, one extra signature's compute).
    * Returns true when a compaction ran (test hook). */
  private[streaming] def compactStateIfNeeded(spark: SparkSession, cfg: GraftConfig,
      dirs: StateDirs): Boolean = {
    val threshold = cfg.incCompactFileThreshold
    if (threshold <= 0 || !exists(spark, dirs.clusters)) return false
    val dirsToWatch = Seq(dirs.members, dirs.edges, dirs.signatures, dirs.metrics)
    if (!dirsToWatch.exists(p => FsOps.fileCount(hconf(spark), new Path(p)) > threshold))
      return false

    // each live node with its component label (one per node)
    val live = FsOps.readParquet(spark, dirs.clusters)
      .select("node_id", "cluster_id").distinct().localCheckpoint(true)
    def rewrite(path: String)(f: DataFrame => DataFrame): Unit =
      if (exists(spark, path)) replaceTable(f(FsOps.readParquet(spark, path)), path)
    rewrite(dirs.members)(latestBinding)
    rewrite(dirs.signatures)(s => byComponent(s.join(live, Seq("node_id"))))
    rewrite(dirs.edges) { e =>
      e.distinct()
        .join(live.withColumnRenamed("node_id", "id_a"), Seq("id_a"), "left_semi")
        .join(live.withColumnRenamed("node_id", "id_b"), Seq("id_b"), "left_semi")
    }
    // the per-batch metrics log keeps every row (it is the audit trail) but
    // one tiny file is appended per batch — coalesce so a years-long stream
    // does not accumulate unbounded file counts in the one dir the other
    // rewrites don't touch
    rewrite(dirs.metrics)(_.coalesce(1))
    true
  }

  /** Replace the table at `path` with `df`, which may read that very table
    * (clusters derive from the previous clusters; upgrade, compaction and
    * remap rewrite a table from itself): `df` is written to a fresh
    * `<path>.tmp-*` dir and swapped in only once complete — never an
    * in-place overwrite of its own input. [[FsOps.swapDir]] keeps the old or
    * the new table present at every instant; the next batch's
    * `recoverSwap` heals a crash mid-swap. */
  private def replaceTable(df: DataFrame, path: String): Unit = {
    val tmp = s"$path.tmp-${java.util.UUID.randomUUID()}"
    FsOps.writeParquet(df, tmp, "errorifexists")
    FsOps.swapDir(hconf(df.sparkSession), new Path(tmp), new Path(path))
  }

  private def appendParquet(df: DataFrame, path: String): Unit =
    FsOps.writeParquet(df, path, "append")

  /** Start the incremental query on a streaming pages DataFrame. */
  def start(pagesStream: DataFrame, cfg: GraftConfig, stateRoot: String): StreamingQuery = {
    val dirs = StateDirs(stateRoot)
    pagesStream.writeStream
      .outputMode("update")
      .option("checkpointLocation", dirs.checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) => processBatch(batch, cfg, dirs, id) }
      .start()
  }
}
