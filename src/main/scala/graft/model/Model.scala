package graft.model

/** Pipeline configuration.
  *
  * Defaults mirror the reference's staged-refinement knobs re-expressed for
  * near-dup text (reference: /root/reference/src/options.rs:38-110 size/thread
  * defaults; /root/reference/src/process_matches.rs:35 4 KiB prefix tier).
  *
  * LSH s-curve with bands=32, rowsPerBand=4: threshold ~ (1/32)^(1/4) = 0.42,
  * so at the verify threshold minJaccard=0.8 the candidate-recall is
  * 1-(1-0.8^4)^32 ~ 1 - 5e-8.
  */
final case class GraftConfig(
    shingleK: Int = 5,
    numPerm: Int = 128,
    bands: Int = 32,
    minJaccard: Double = 0.8,
    maxHamming: Int = 3,
    /** Enable the SimHash pigeonhole chunk tier as a SECOND candidate
      * generator beside MinHash banding (ST2'): chunk keys flow through the
      * same census/salt machinery and the union gives ST3's Hamming clause
      * structural recall independent of the Jaccard s-curve (a pair within
      * `maxHamming` always shares a whole chunk). Off by default: on text
      * corpora the two tiers overlap almost entirely (similar fingerprints
      * come from similar shingle sets), so the default spends no extra
      * shuffle on the chunk keys; corpora where the Hamming gate must not
      * ride the s-curve turn it on. Incremental mode inherits the knob —
      * a batch derives the stored rows' chunk keys from their `simhash` at
      * probe time (`Pipeline.bandKeys`), so toggling it needs no rebuild. */
    simhashTier: Boolean = false,
    /** Longest-common-substring ratio (lcs_len / min(len_a, len_b)) floor.
      * 0.0 disables the LCS gate. Above 0, lcs_ratio is computed for every
      * pair that passes the cheap J-OR-Hamming clause; every other pair
      * carries NaN and skips the suffix automaton: a cheap-rejected pair
      * fails at any floor (the floor only ANDs onto the cheap clause), and
      * at 0 no ratio, which is never below 0, can reject a pair.
      * The 0.0 default is the measured planted-truth optimum (PipelineSpec
      * "LCS gate A/B"): every floor in {0.3, 0.5} gains zero precision (the
      * J-OR-Hamming gate already rejects all planted negatives, and the
      * prefix-sharing hard negative carries lcs_ratio ~ 0.7 — ABOVE any sane
      * floor), while 0.5 rejects 25% of true near-dups (block swaps cap the
      * common run near 1/3; mid-text single-token edits near 1/2). Raise it
      * only for corpora where reordered content must NOT count as duplicate. */
    minLcsRatio: Double = 0.0,
    /** Analog of --min-size/--max-size (reference options.rs:38-45), in chars. */
    minLen: Int = 8,
    maxLen: Int = 100_000_000,
    /** Hot-band threshold: band-key groups larger than this are salted into
      * ceil(size/maxBandGroup) buckets and pair-generated within buckets
      * (bounded work, partial in-band recall), instead of exploding O(n^2).
      * Analog of the reference's 10k batch cap (process_matches.rs:324)
      * turned into a skew guard. */
    maxBandGroup: Int = 2000,
    /** Salt-split hot bands (north-rule salted band-key repartitioning).
      * false = drop hot bands entirely (pure stop-band semantics). */
    saltHotBands: Boolean = true,
    /** Absolute cap: band groups beyond this are dropped even when salting
      * (boilerplate bands with millions of members carry no signal; the
      * drop is counted in metrics so recall accounting stays honest). */
    hardMaxBandGroup: Int = 1000000,
    /** Url exclusion regex (glob pre-translated on the driver). Analog of
      * --exclude globs (reference options.rs:184-205). None = keep all. */
    excludeUrlRegex: Option[String] = None,
    /** Suppress clusters whose members are all exact copies of one text,
      * unless set (analog of --show-fully-hardlinked, options.rs:55-58). */
    showFullyExact: Boolean = true,
    seed: Long = 42L,
    /** Edge-count threshold below which ST4 connected components run as
      * driver-side union-find (one collect) instead of the distributed
      * large-star/small-star loop. Defaults to
      * ConnectedComponents.LocalEdgeThreshold (2M edges = 32 MB collected);
      * tests lower it to exercise the distributed/durable path on small
      * graphs. */
    ccLocalThreshold: Long = 2_000_000L,
    /** Incremental-mode state compaction trigger: when any state dir
      * (members/edges/signatures/metrics) holds more than
      * this many files after a batch, the state is rewritten compacted —
      * duplicate edges merged, member history reduced to the latest
      * binding per url, nodes no live url binds GC'd (a content that
      * resurrects re-enters as new: its page carries the text, and its
      * signature is recomputed) and the metrics log coalesced. Bounds
      * both per-batch scan cost and state size on a years-long stream.
      * 0 disables compaction. */
    incCompactFileThreshold: Int = 64,
    /** Canonicalize urls at extraction (graft.web.UrlCanon: case, default
      * ports, www, fragments, index segments, trailing slashes, tracking
      * params) BEFORE exclusion, binding, and reporting — the web analogue
      * of the reference canonicalizing paths before identity grouping
      * (process_matches.rs:116-124). Two spellings of one page then dedup
      * as ONE url (latest-binding, keeper selection, membership all see the
      * canonical form). Off by default: url identity is caller-visible, and
      * exclusion regexes written against raw urls would silently re-anchor. */
    canonicalizeUrls: Boolean = false
) {
  require(numPerm % bands == 0, s"numPerm=$numPerm must be divisible by bands=$bands")
  def rowsPerBand: Int = numPerm / bands

  /** Band groups larger than this are dropped: `hardMaxBandGroup` when hot
    * bands are salted, `maxBandGroup` (every hot band) when they are not. */
  def hotBandCap: Int = if (saltHotBands) hardMaxBandGroup else maxBandGroup

  /** Stable hash of EVERY knob — deliberately including performance-only
    * ones (salt thresholds, the CC local threshold) — stamped
    * into stage manifests so resume only reuses snapshots computed under
    * the same config (analog of the reference's schema_version gate,
    * file_db.rs:66-77). Conservative by contract (GraftConfigSpec gates
    * that every field perturbs the hash): misclassifying a knob as perf-only
    * would silently serve stale snapshots as current results, so a tuning
    * change costs a recompute instead of carrying that risk. */
  def configHash: String = {
    val repr = productIterator.mkString("|")
    java.lang.Long.toHexString(graft.util.Hashing.hashString(repr, 42L))
  }
}

/** Canonical input row (shape fixed by BASELINE.json input_hint). */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** ST0 output: one row per url, with content identity. */
final case class PageExtracted(
    url: String,
    warc_ts: java.sql.Timestamp,
    text: String,
    lang: String,
    n_bytes: Long,
    exact_hash: Array[Byte], // 16-byte md5 of extracted text
    node_id: Long // xxhash64 of exact_hash: content-node key for CC
)

/** ST1 output: one row per distinct text (content node). */
final case class DocSignature(
    node_id: Long,
    n_bytes: Long,
    simhash: Long,
    band_hashes: Array[Long]
)

/** ST2 output: candidate content pair, id_a < id_b. */
final case class CandidatePair(id_a: Long, id_b: Long)

/** ST3 output: verified measures for a candidate pair. */
final case class VerifiedPair(
    id_a: Long,
    id_b: Long,
    jaccard: Double,
    hamming: Int,
    lcs_ratio: Double,
    passed: Boolean
)

/** ST4/5 output row (flat cluster report). */
final case class ClusterMember(
    cluster_id: Long,
    url: String,
    exact_hash: Array[Byte],
    canonical: Boolean
)

/** Per-stage metrics row (north-rule lineage requirement; generalizes the
  * reference's atomic progress counters, process_matches.rs:85-96). */
final case class StageMetrics(
    stage: String,
    snapshot_id: String,
    partition_id: Int, // -1 = stage-level
    rows_in: Long,
    rows_out: Long,
    dropped_by_guard: Long,
    bytes: Long,
    wall_ms: Long,
    config_hash: String,
    /** ST2 only: band groups salted into buckets (partial in-band pairing)
      * and the member rows inside them — sizes the in-band recall exposure
      * that the drop count alone doesn't cover. */
    salted_groups: Long = 0L,
    salted_members: Long = 0L
)
