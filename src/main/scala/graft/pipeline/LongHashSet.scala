package graft.pipeline

/** Minimal immutable open-addressing (linear-probe) hash set of Longs,
  * built once driver-side over a bounded hot-key collection and
  * broadcast to executors — the membership kernel behind the
  * small-hot-set fast path of the span-masking family
  * ([[CorpusOps.maskRepeatedNgrams]] / [[CorpusOps.exactSubstrSpans]] /
  * [[CorpusOps.decontaminateSpans]]).
  *
  * Why not a Scala `Set[Long]`: the probe runs once per gram position
  * (~75M times at the 500k bench tile), and a boxed HashSet pays an
  * allocation-era object graph per lookup; this probes one primitive
  * array with at most a handful of reads. Load factor ≤ 0.5 (table is
  * the next power of two ≥ 2·n), `0L` is kept out-of-band so the empty
  * slot sentinel is unambiguous. Serializable: the broadcast ships the
  * primitive array as-is. */
private[graft] final class LongHashSet private (
    table: Array[Long], mask: Int, hasZero: Boolean, val size: Int)
    extends Serializable {

  def contains(k: Long): Boolean = {
    if (k == 0L) return hasZero
    var i = LongHashSet.mix(k) & mask
    var v = table(i)
    while (v != 0L) {
      if (v == k) return true
      i = (i + 1) & mask
      v = table(i)
    }
    false
  }
}

private[graft] object LongHashSet {

  /** splitmix64 finalizer — full-avalanche mix so adjacent FNV gram
    * hashes spread over the table. */
  private[graft] def mix(k: Long): Int = {
    var z = k
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toInt
  }

  def apply(keys: Array[Long]): LongHashSet = {
    // the table caps at 2^30 slots, so load factor ≤ 0.5 requires
    // n ≤ 2^29 — past that, a full table would turn contains() on an
    // absent key into an infinite probe loop (VERDICT r18). Callers
    // bound n by the broadcast knobs, far below this.
    require(keys.length <= (1 << 29),
      s"LongHashSet holds at most ${1 << 29} keys, got ${keys.length}")
    // next power of two ≥ max(8, 2·n): load factor ≤ 0.5
    var cap = 8
    while (cap < keys.length * 2 && cap < (1 << 30)) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var hasZero = false
    var distinct = 0
    var ki = 0
    while (ki < keys.length) {
      val k = keys(ki)
      if (k == 0L) {
        if (!hasZero) distinct += 1
        hasZero = true
      } else {
        var i = mix(k) & mask
        while (table(i) != 0L && table(i) != k) i = (i + 1) & mask
        if (table(i) == 0L) { table(i) = k; distinct += 1 }
      }
      ki += 1
    }
    new LongHashSet(table, mask, hasZero, distinct)
  }
}

/** Primitive open-addressing Long → Double map, built once driver-side
  * over a bounded vocabulary and broadcast — the lookup kernel behind
  * the bounded-vocab fast path of
  * [[graft.textanalysis.TextAnalysis.dsirWeights]]. Same layout rules
  * as [[LongHashSet]] (power-of-two table, load factor ≤ 0.5, linear
  * probing, `0L` out-of-band); `getOrDefault` returns `default` for an
  * absent key (for DSIR that is the both-absent smoothed log-ratio —
  * unreachable from the raw side, whose grams are all in the vocab by
  * construction, but a semantically correct answer rather than a
  * poison value). */
private[graft] final class LongDoubleMap private (
    keys: Array[Long], vals: Array[Double], mask: Int,
    hasZero: Boolean, zeroVal: Double, default: Double, val size: Int)
    extends Serializable {

  def getOrDefault(k: Long): Double = {
    if (k == 0L) return if (hasZero) zeroVal else default
    var i = LongHashSet.mix(k) & mask
    var v = keys(i)
    while (v != 0L) {
      if (v == k) return vals(i)
      i = (i + 1) & mask
      v = keys(i)
    }
    default
  }
}

private[graft] object LongDoubleMap {
  /** Build from parallel key/value arrays (last write wins on a
    * duplicate key, which callers never produce). */
  def apply(ks: Array[Long], vs: Array[Double], default: Double): LongDoubleMap = {
    // same 2^29 bound as LongHashSet: keep load factor ≤ 0.5 so a
    // missing-key probe always terminates. Checked before alignment so
    // an over-bound call is refused for its size, whatever values array
    // it is given.
    require(ks.length <= (1 << 29),
      s"LongDoubleMap holds at most ${1 << 29} keys, got ${ks.length}")
    require(ks.length == vs.length, "key/value arrays must align")
    var cap = 8
    while (cap < ks.length * 2 && cap < (1 << 30)) cap <<= 1
    val keys = new Array[Long](cap)
    val vals = new Array[Double](cap)
    val mask = cap - 1
    var hasZero = false
    var zeroVal = 0.0
    var distinct = 0
    var ki = 0
    while (ki < ks.length) {
      val k = ks(ki)
      if (k == 0L) {
        if (!hasZero) distinct += 1
        hasZero = true
        zeroVal = vs(ki)
      } else {
        var i = LongHashSet.mix(k) & mask
        while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
        if (keys(i) == 0L) distinct += 1
        keys(i) = k
        vals(i) = vs(ki)
      }
      ki += 1
    }
    new LongDoubleMap(keys, vals, mask, hasZero, zeroVal, default, distinct)
  }
}
