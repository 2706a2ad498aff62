package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.GraftConfig

/** Resume-safety contract of [[GraftConfig.configHash]]: the hash is stamped
  * into stage manifests and gates snapshot reuse, so EVERY semantics-
  * affecting knob must perturb it — a knob outside the hash would let resume
  * silently serve snapshots computed under a different configuration. No
  * SparkSession needed (pure model code).
  */
class GraftConfigSpec extends AnyFunSuite {

  test("every knob perturbs configHash; equal configs hash equal") {
    val base = GraftConfig()
    // One variant per field, each flipping exactly one knob off its default.
    val variants: Seq[(String, GraftConfig)] = Seq(
      "shingleK" -> base.copy(shingleK = 7),
      "numPerm" -> base.copy(numPerm = 64),
      "bands" -> base.copy(bands = 16),
      "minJaccard" -> base.copy(minJaccard = 0.7),
      "maxHamming" -> base.copy(maxHamming = -1),
      "simhashTier" -> base.copy(simhashTier = true),
      "minLcsRatio" -> base.copy(minLcsRatio = 0.5),
      "minLen" -> base.copy(minLen = 16),
      "maxLen" -> base.copy(maxLen = 1000),
      "maxBandGroup" -> base.copy(maxBandGroup = 100),
      "saltHotBands" -> base.copy(saltHotBands = false),
      "hardMaxBandGroup" -> base.copy(hardMaxBandGroup = 5000),
      "excludeUrlRegex" -> base.copy(excludeUrlRegex = Some(".*spam.*")),
      "showFullyExact" -> base.copy(showFullyExact = false),
      "seed" -> base.copy(seed = 43L),
      "ccLocalThreshold" -> base.copy(ccLocalThreshold = 0L),
      "incCompactFileThreshold" -> base.copy(incCompactFileThreshold = 8),
      "canonicalizeUrls" -> base.copy(canonicalizeUrls = true)
    )
    // Completeness: one variant per case-class field (a new knob added
    // without a variant here fails the build of this invariant).
    assert(variants.size == base.productArity,
      s"add a variant for every GraftConfig field (have ${variants.size}, need ${base.productArity})")
    variants.foreach { case (knob, v) =>
      assert(v.configHash != base.configHash, s"knob $knob does not perturb configHash")
    }
    // All variants pairwise distinct (no two single-knob flips collide).
    val all = ("base" -> base) +: variants
    for (Seq((na, a), (nb, b)) <- all.combinations(2))
      assert(a.configHash != b.configHash, s"$na and $nb hash-collide")
    // Determinism: equal values, equal hash.
    assert(GraftConfig().configHash == base.configHash)
  }
}
