package graft.knn

/** The HNSW beam-width law, shared by every surface that serves an
  * UNTUNED default beam over a graph whose size the caller did not pick
  * (the flagship grid's escalation gate —
  * [[graft.pipeline.SemLinkGrid]] — and the persistent
  * [[HnswIndex.search]], whose corpus grows under streaming appends):
  * a fixed beam's recall decays as per-shard graphs grow, measured at
  * the grid tiers as recall@10 = 1.0000 at 2·10⁵ keys but 0.9680 at
  * 10⁶ at ef 64, with one doubling (ef 128) restoring 0.9949
  * (SCALE_r17_recall_{200k,1m,1m_ef128}). The law holds the base beam
  * through [[HoldKeys]] and doubles it once per [[DoublePerKeys]]×
  * keys past that — ceil, the quality-first side of the measured
  * trade, so 10⁶ keys already gets the doubling the artifact measured.
  * Per-shard beam work is `ef·log(N/shards)`: each doubling costs ~2×
  * search compute and buys ~5× catalog at held recall, so the scaled
  * beam stays O(log N) per query overall.
  */
object BeamLaw {

  /** The measured hold range: a given base beam keeps ~build-level
    * recall while the catalog stays within this many keys (the decay
    * only appears past ~5·10⁵ — see the artifacts above). Anchored on
    * the CLUSTERED catalog shape (jittered-copy scale tiers — the
    * shape real embedding corpora approximate). The adversarial
    * fully-spread shape is measured at BOTH gate tiers and the law
    * does NOT fully hold it — it decays ~0.03 recall per 5× step
    * instead of holding: 0.9186 at 2·10⁵/ef 64 → 0.8916 at 10⁶ under
    * the law's ef 128 (SCALE_r17_recall_200k_spread,
    * SCALE_r18_recall_1m_spread; floor-clear, not build-level). The
    * measured fix is a DOUBLED base ef ([[SpreadBaseEf]], applied
    * automatically by the grid's shape-aware gate since r19): base
    * 128 — 0.9736 at 2·10⁵, and the law resolves it to 256 at 10⁶
    * where the same beam measures 0.9578
    * (SCALE_r17_recall_200k_spread_ef128,
    * SCALE_r18_recall_1m_spread_ef256). The ladder at 10⁶ is measured
    * END TO END, including its build-level endpoint: raw ef 512
    * (= base 256 under the law) scores 0.9888
    * (SCALE_r19_recall_1m_spread_ef512) and raw ef 1024 scores
    * **0.9957** (SCALE_r19_recall_1m_spread_ef1024) — the first rung
    * at build level (≥ 0.99), at ≈ 4× the shape-raised default's
    * search compute. The per-doubling gain DECELERATES (+0.066 at
    * 128→256, +0.031 at 256→512, +0.0069 at 512→1024), so past 1024
    * the remaining ~0.4 recall points cost more per point than the
    * full-beam sentinel's exactness — raw ef 1024 when build-level
    * approximate is enough, the full-beam sentinel when strict
    * exactness is required on a knowingly spread catalog.
    */
  val HoldKeys: Long = 500000L

  /** Catalog growth per beam doubling past [[HoldKeys]]. */
  val DoublePerKeys: Double = 5.0

  /** The shard count the law's anchors were measured on: every recall
    * tier behind [[HoldKeys]]/[[DoublePerKeys]] (2·10⁵ → 10⁶,
    * SCALE_r17–r19) ran 32 shards, so "N total keys" in the law is
    * operationally "N/32 nodes per shard" — the quantity per-shard beam
    * coverage (what recall actually tracks — HnswIndex's SERVING BEAM
    * contract) is a function of. Surfaces that serve a DIFFERENT shard
    * geometry (the auto-shard path saturates per-shard size at
    * [[graft.knn.HnswIndex.TargetShardNodes]]) key the law on the
    * EQUIVALENT corpus `perShardNodes × CalibrationShards` instead of
    * raw total N (measured: SCALE_r21_beamlaw_{clustered,spread}).
    */
  val CalibrationShards: Int = 32

  /** The measured SPREAD-SHAPE base beam: on a catalog
    * [[ShapeStats.relativeContrast]] classifies as spread
    * (rc ≤ [[ShapeStats.SpreadRcMax]]), the default base (64) holds
    * only floor-level recall under the law (0.9186 at 2·10⁵ →
    * 0.8916 at 10⁶) while THIS base restores near-build level
    * (0.9736 at 2·10⁵; the law resolves it to 256 at 10⁶ where it
    * measures 0.9578 — SCALE_r17_recall_200k_spread_ef128,
    * SCALE_r18_recall_1m_spread_ef256). The grid gate raises an
    * untuned smaller base to this value when the shape probe fires
    * (SemLinkGrid's shape-aware escalation); a caller's LARGER base is
    * never lowered.
    */
  val SpreadBaseEf: Int = 128

  /** `base` up to [[HoldKeys]] keys, then one doubling per
    * [[DoublePerKeys]]× keys — the boundary is INCLUSIVE (exactly
    * HoldKeys·5^d keys stays at d doublings). `base <= 0` (the
    * full-beam sentinel) is returned untouched — the full beam needs no
    * scaling. The shift is clamped at 24 doublings (past any
    * representable catalog — Long.MaxValue needs 19) and the widened
    * beam SATURATES at Int.MaxValue: a large base under many doublings
    * must clip to the widest representable beam, never wrap negative —
    * a negative ef is the full-beam sentinel downstream, so
    * an Int overflow here would silently flip ANN to full beam at extreme
    * scale (unreachable for realistic base/corpus pairs, guarded
    * anyway).
    *
    * Computed with INTEGRAL thresholds, not `ceil(log(n/hold)/log(5))`:
    * the log-ratio form overshoots by a whole doubling at exact
    * power-of-5 boundaries (JVM `log(62.5e6/5e5)/log(5)` =
    * 3.0000000000000004 → ceil 4 → ef 1024 where the law says 512) —
    * a silent 2× beam-compute violation of the documented rule on both
    * serving surfaces. The growth factor is integral by construction
    * (5); the threshold ladder saturates at Long.MaxValue instead of
    * overflowing.
    */
  def autoEf(base: Int, n: Long): Int =
    if (base <= 0 || n <= HoldKeys) base
    else {
      // Long-domain shift + clamp: base ≤ Int.MaxValue and doublings
      // ≤ 24, so base.toLong << doublings ≤ 2^55 — no Long overflow
      val widened = base.toLong << doublings(n)
      if (widened > Int.MaxValue) Int.MaxValue else widened.toInt
    }

  /** The law's input for an index serving `n` keys over `shards`
    * shards: the corpus whose PER-SHARD coverage the calibration
    * geometry ([[CalibrationShards]]) would give this index —
    * `ceil(n/shards) × 32`. Recall under a fixed beam is a per-shard
    * property (each shard is beamed independently and partials merge by
    * distance), so the law must key on per-shard graph size, not raw
    * total: at 32 shards this is exactly total-N (today's calibrated
    * behavior, unchanged); on the AUTO-shard path — per-shard size
    * saturated at [[HnswIndex.TargetShardNodes]] — it caps the law at
    * ONE doubling no matter how far the corpus grows (measured at
    * 5·10⁶/160 shards: the one-doubling beam serves 0.9953 clustered /
    * 0.9856 spread — at or above the 10⁶/32-shard anchors — and the
    * law'd second doubling adds ≤ 0.01 recall for 2× beam compute —
    * SCALE_r21_beamlaw_{clustered,spread});
    * and an index whose shards OUTGREW the target (few shards, appends)
    * widens EARLIER than total-N keying would — the direction the
    * 62.5k-node-shard recall collapse (SCALE_r19 *_16shards) says is
    * needed. Saturates instead of overflowing; `shards <= 0` (empty
    * manifest) passes `n` through untouched — nothing is sharded yet,
    * and the caller's n=0 keeps the law inert.
    */
  def equivalentKeys(n: Long, shards: Int): Long =
    if (shards <= 0) n
    else {
      val perShard = (n + shards - 1) / shards
      if (perShard > Long.MaxValue / CalibrationShards) Long.MaxValue
      else perShard * CalibrationShards
    }

  /** How many doublings the law applies at `n` keys — the integral
    * threshold ladder shared with [[autoEf]], exposed so a health
    * surface ([[HnswIndex.staleness]]) can report the multiplier
    * without reverse-engineering it from a (possibly saturated) beam.
    */
  def doublings(n: Long): Int = {
    val per = DoublePerKeys.toLong
    var threshold = HoldKeys
    var d = 0
    while (n > threshold && d < 24) {
      d += 1
      threshold =
        if (threshold > Long.MaxValue / per) Long.MaxValue
        else threshold * per
    }
    d
  }
}
