package graft.pipeline

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD

/** ONE-job bounded driver collect — the decision kernel behind the
  * r18 bounded-broadcast fast paths (span family, line dedup, vocab
  * surprisal, DSIR). The r18 shape was persist → count() → collect():
  * two driver round-trip jobs plus a block-manager materialization
  * before the main query even starts, which is noise at 100 TB but
  * visibly inflated small graded entries (VERDICT r18 "what's wrong"
  * #1: line_dedup 0.18 → 0.84 s at sf0.1). This runs ONE job: every
  * partition reports its true row count and at most [[cap]] rows; the
  * driver concatenates iff the total fits the bound.
  *
  * Scale safety: the over-bound case must not ship the whole key
  * space to the driver, so the per-partition cap is NOT `max` but
  * `4·max/P + 4096` (these RDDs are the output of a hash-partitioned
  * aggregation — murmur3 spreads distinct keys uniformly, so a
  * partition of an under-bound table exceeds 4× its expected share
  * with negligible probability). Worst-case driver transfer is then
  * ~4·max rows even when the table is arbitrarily large. If a freak
  * skew DOES truncate a partition of an under-bound table, the caller
  * just takes its join fallback — a topology decision, never a
  * correctness one (both paths are value-pinned by the parity specs).
  * A single-partition RDD keeps the exact `max + 1` cap (its partition
  * IS the table). */
private[graft] object BoundedCollect {

  /** The row bound a fast path reads from system property `prop`,
    * re-read on every call: unset or unparsable → `default`; a negative
    * value forces the fallback ([[tryCollect]] returns None without
    * running a job — the parity specs' switch). */
  private def limit(prop: String, default: Long): Long =
    try sys.props.getOrElse(prop, default.toString).toLong
    catch { case _: NumberFormatException => default }

  /** `graft.span.hotBroadcastMax`: the span-family bound (keys of the
    * hot-gram, frequent-line and DSIR vocab tables), default 4M. */
  def spanHotMax: Long = limit("graft.span.hotBroadcastMax", 4194304L)

  /** `graft.vocab.broadcastMax`: the surprisal vocab bound (words),
    * default 1M. */
  def vocabMax: Long = limit("graft.vocab.broadcastMax", 1048576L)

  private def capFor(max: Long, numPartitions: Int): Int = {
    val p = math.max(numPartitions, 1)
    val spread = 4L * max / p + 4096L
    math.min(max + 1L, if (p == 1) max + 1L else spread).toInt
  }

  /** Collects `rdd` iff it holds at most `max` rows — `None` means
    * over-bound (or `max < 0`, the parity-spec fallback forcing, which
    * skips the job entirely). One Spark job; the RDD's shuffle map
    * side stays reusable by a fallback consumer of the same RDD
    * object. */
  def tryCollect[T: ClassTag](rdd: RDD[T], max: Long): Option[Array[T]] = {
    if (max < 0) return None
    val cap = capFor(max, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { it =>
      val b = Array.newBuilder[T]
      var n = 0L
      while (it.hasNext) {
        val t = it.next()
        n += 1
        if (n <= cap) b += t
      }
      Iterator.single((n, b.result()))
    }.collect()
    var total = 0L
    parts.foreach(total += _._1)
    if (total > max || parts.exists(p => p._1 > p._2.length)) None
    else {
      val out = new Array[T](total.toInt)
      var off = 0
      parts.foreach { case (_, a) =>
        System.arraycopy(a, 0, out, off, a.length); off += a.length
      }
      Some(out)
    }
  }

  /** [[tryCollect]] specialized to the DSIR vocab rows
    * `(gram, cp, cq)` — packs into three aligned primitive arrays per
    * partition so the driver never retains a boxed tuple per row
    * (ADVICE r18: the boxed collect was ~10× the documented table
    * sizing at the 4M bound). Absent counts are encoded 0 (a present
    * count is ≥ 1). */
  def tryCollectLongTriples(rdd: RDD[(Long, Long, Long)], max: Long)
      : Option[(Array[Long], Array[Long], Array[Long])] = {
    if (max < 0) return None
    val cap = capFor(max, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { it =>
      val b1 = Array.newBuilder[Long]
      val b2 = Array.newBuilder[Long]
      val b3 = Array.newBuilder[Long]
      var n = 0L
      while (it.hasNext) {
        val (a, b, c) = it.next()
        n += 1
        if (n <= cap) { b1 += a; b2 += b; b3 += c }
      }
      Iterator.single((n, b1.result(), b2.result(), b3.result()))
    }.collect()
    var total = 0L
    parts.foreach(total += _._1)
    if (total > max || parts.exists(p => p._1 > p._2.length)) None
    else {
      val g = new Array[Long](total.toInt)
      val cp = new Array[Long](total.toInt)
      val cq = new Array[Long](total.toInt)
      var off = 0
      parts.foreach { case (_, a, b, c) =>
        System.arraycopy(a, 0, g, off, a.length)
        System.arraycopy(b, 0, cp, off, b.length)
        System.arraycopy(c, 0, cq, off, c.length)
        off += a.length
      }
      Some((g, cp, cq))
    }
  }
}
