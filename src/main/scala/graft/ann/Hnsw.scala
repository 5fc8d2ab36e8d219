package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Hierarchical Navigable Small World index (Malkov & Yashunin 2016,
  * the published algorithm the reference's engine implements natively
  * — `/root/reference/src/core/HNSWIndex.js`) as a DRIVER-RESIDENT
  * serving structure, completing the SURVEY §2.5/§2.6/§2.7 rows that
  * were previously n/a-by-design (beam search with efSearch, greedy
  * descent, candidate sorting frames, visited set, random level
  * assignment).
  *
  * Where it sits in this engine's architecture: the exact packed scan
  * ([[graft.search.ServingSession]]) is the correctness spine, IVF the
  * cluster-scale approximate path (cells partition across executors);
  * HNSW is the LATENCY king for driver-resident single-query serving —
  * sub-linear hops instead of a full scan, the same contract as the
  * reference's in-process index. A graph with per-node adjacency is
  * pointer-chasing by nature and does NOT distribute the way cell
  * blocks do, which is why the cluster path stays IVF; this structure
  * holds collections up to the serving byte cap, exactly like the
  * resident snapshots.
  *
  * Implementation notes (all from the paper / public knowledge):
  *  - levels are geometric: `floor(−ln(U) · mL)`, `mL = 1/ln(M)`,
  *    seeded ⇒ the whole build is deterministic;
  *  - vectors unit-normalize at insert ⇒ cosine = dot (the engine's
  *    CosineUnit fast path);
  *  - `searchLayer` is the paper's beam: a min-candidate / max-result
  *    pair of heaps (the "candidate sorting frames") bounded by `ef`,
  *    with an epoch-stamped visited array (no per-query allocation);
  *  - neighbor selection uses the paper's Algorithm 4 heuristic (keep
  *    a candidate only if closer to `q` than to every already-kept
  *    neighbor), which preserves graph navigability on clustered data;
  *  - links are bidirectional; over-capacity lists re-select with the
  *    same heuristic (maxM per upper layer, maxM0 = 2M at layer 0).
  */
object Hnsw {

  /** Dimensionality threshold for the dim-aware defaults below. */
  val HighDim = 96

  /** Dim-aware default graph degree: isotropic high-dim corpora are
    * ANN's hardest recall regime (at 128-D, M=16/efC=100/ef=64
    * measured score-recall@10 0.75-0.82 on 100k — below the engine's
    * ≥0.9 approximate-regime contract, VERDICT r12 #5). Measured r13
    * sweep at 100k 128-D isotropic (batch 2048, corpus-drawn queries):
    * M=24/efC=150 → 0.892 (marginal), M=24/efC=200 → 0.934-0.936 at
    * every ef ∈ {64, 80, 96} — graph quality, not beam width, is what
    * pays at high dim — with ef=64 p50 0.72 ms. So the defaults scale
    * M/efConstruction with dim (the DEFAULT config honors the
    * contract at the reference's own 128-D with margin) while the
    * search beam stays 64 at every dim; 64-D-and-below behavior is
    * unchanged (16/100/64, the r11-r12 constants). Callers pinning
    * the reference's exact configuration (e.g. the dim-matched
    * build-time bench row) pass m/efConstruction explicitly. */
  def defaultM(dim: Int): Int = if (dim >= HighDim) 24 else 16
  /** Dim-aware default construction beam — see [[defaultM]]. */
  def defaultEfConstruction(dim: Int): Int = if (dim >= HighDim) 200 else 100
  /** Default search beam (dim-invariant — measured at 128-D the graph
    * quality, not the beam, moves recall; see [[defaultM]]). Kept as
    * a function of dim so a future regime that DOES need a dim-aware
    * beam changes one place. */
  def defaultEf(dim: Int): Int = 64

  /** One built graph. Nodes are UNIQUE (post-normalization) vectors —
    * exact duplicates collapse into one node carrying every duplicate
    * id (`nodeIds(i)`, ascending). Without the collapse a corpus with
    * heavy duplication fragments the graph: the selection heuristic
    * keeps only same-vector neighbors (their mutual dot is 1.0, never
    * beaten), duplicate cliques disconnect from everything else, and
    * search cannot leave the entry clique (measured recall 0.0 on a
    * 100×-tiled corpus). `vecs(i·dim ..)` is first-occurrence ordered;
    * `links(node)(layer)` is the adjacency. */
  final class Index private[Hnsw] (
      val dim: Int, val m: Int, val efConstruction: Int, val seed: Long,
      private[Hnsw] var nodeIds: Array[Array[Long]],
      private[Hnsw] var vecs: Array[Float],
      private[Hnsw] var levels: Array[Int],
      private[Hnsw] var links: Array[Array[Array[Int]]],
      private[Hnsw] var entry: Int,
      private[Hnsw] var maxLevel: Int,
      // incremental-add state: live node count (arrays over-allocate on
      // growth), vector->node map for the duplicate collapse, and the
      // level RNG POSITIONED AFTER the build's draws so adds continue
      // the same seeded sequence (build(A++B) == build(A) then add B*)
      private[Hnsw] var nNodes: Int,
      private[Hnsw] val nodeOf: scala.collection.mutable.HashMap[scala.collection.immutable.ArraySeq[Float], Int],
      private[Hnsw] val levelRng: java.util.Random) {

    // id -> node slot, for [[remove]] (the reference keeps its whole
    // graph keyed by id; we only need the reverse map on the delete
    // path). LongMap keeps the keys unboxed. Dead slots are tombstones:
    // nodeIds/links null, level -1 — never reachable (unlinked) and
    // never reused (slot index = stable external node id).
    private[Hnsw] val idToNode: scala.collection.mutable.LongMap[Int] = {
      val m = new scala.collection.mutable.LongMap[Int](math.max(nNodes * 2, 16))
      var i = 0
      while (i < nNodes) {
        val ids = nodeIds(i)
        if (ids != null) { var j = 0; while (j < ids.length) { m.update(ids(j), i); j += 1 } }
        i += 1
      }
      m
    }
    private[Hnsw] var nDead: Int = {
      var d = 0; var i = 0
      while (i < nNodes) { if (nodeIds(i) == null) d += 1; i += 1 }
      d
    }

    /** Live node count (tombstoned slots excluded). */
    def n: Int = nNodes - nDead
    /** Total vector count including collapsed duplicates. */
    def nVectors: Long = nodeIds.iterator.take(nNodes)
      .map(ids => if (ids == null) 0L else ids.length.toLong).sum
    def level(i: Int): Int = levels(i)
    def topLevel: Int = maxLevel
    def neighbors(i: Int, layer: Int): Seq[Int] = links(i)(layer).toSeq

    /** Epoch-stamped visited set — one per concurrent searcher (the
      * parallel build gives each worker thread its own; [[searchOne]]
      * serializes on the instance scratch). Also carries the gather /
      * score buffers the batched neighbor scoring reuses (r19: the
      * beam loop now gathers a list's unvisited neighbors and scores
      * them with the two-at-a-time interleaved kernel — see
      * [[dotsInto]] — instead of one dependent dot at a time). */
    private[Hnsw] final class Scratch {
      var visited = new Array[Int](math.max(nNodes, 16))
      var epoch = 0
      val gather = new Array[Int](2 * m + 2)
      val gscores = new Array[Double](2 * m + 2)
      /** Prefetch sink — the gather loop touches each candidate's
        * first vector element so the cache misses of the whole list
        * overlap; summing into a field keeps the loads alive. Never
        * read for results. */
      var pfSink = 0f
      /** Per-searcher beam heaps, reset per [[searchLayer]] call —
        * saves two heap allocations per layer search (the build runs
        * ~2M of them at the 1M tile). */
      val candHeap = new ScoreHeap(64, max = true)
      val resHeap = new ScoreHeap(128, max = false)
      /** Adds grow the graph after a scratch exists — extend the stamp
        * array (old stamps stay valid; new slots are 0 = unvisited). */
      @inline def ensure(n: Int): Unit =
        if (visited.length < n) visited = java.util.Arrays.copyOf(visited, math.max(n, visited.length * 2))
    }
    private val scratch = new Scratch

    /** 4 independent double accumulator lanes: the single-chain
      * version is add-latency-bound (~4 cycles/element); independent
      * lanes give the ILP back (the [[graft.search.Kernels]] euclid
      * pattern). Products stay single-precision floats widened on
      * accumulate — the double-product variant measured 30% slower on
      * the backlink phase (extra converts break the SLP pattern).
      * Fixed summation order ⇒ still deterministic. */
    @inline private def dot(node: Int, q: Array[Float]): Double = {
      val off = node * dim
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var d = 0
      val lim = dim - 3
      while (d < lim) {
        s0 += vecs(off + d) * q(d)
        s1 += vecs(off + d + 1) * q(d + 1)
        s2 += vecs(off + d + 2) * q(d + 2)
        s3 += vecs(off + d + 3) * q(d + 3)
        d += 4
      }
      while (d < dim) { s0 += vecs(off + d) * q(d); d += 1 }
      (s0 + s1) + (s2 + s3)
    }

    /** Interleaved twin of [[dotsInto]] for node-vs-node scoring: the
      * shrink paths score a whole candidate list against one anchor
      * node; pairs of those dots pipeline together, each keeping
      * [[dotNodes]]'s exact lane order — bit-identical scores. */
    @inline private def dotNodesInto(anchorOff: Int, nodes: Array[Int], cnt: Int,
                                     out: Array[Double]): Unit = {
      var i = 0
      while (i + 1 < cnt) {
        val ao = nodes(i) * dim; val bo = nodes(i + 1) * dim
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        var b0 = 0.0; var b1 = 0.0; var b2 = 0.0; var b3 = 0.0
        var d = 0
        val lim = dim - 3
        while (d < lim) {
          val q0 = vecs(anchorOff + d);     val q1 = vecs(anchorOff + d + 1)
          val q2 = vecs(anchorOff + d + 2); val q3 = vecs(anchorOff + d + 3)
          a0 += vecs(ao + d) * q0;     b0 += vecs(bo + d) * q0
          a1 += vecs(ao + d + 1) * q1; b1 += vecs(bo + d + 1) * q1
          a2 += vecs(ao + d + 2) * q2; b2 += vecs(bo + d + 2) * q2
          a3 += vecs(ao + d + 3) * q3; b3 += vecs(bo + d + 3) * q3
          d += 4
        }
        while (d < dim) {
          val qd = vecs(anchorOff + d)
          a0 += vecs(ao + d) * qd; b0 += vecs(bo + d) * qd
          d += 1
        }
        out(i) = (a0 + a1) + (a2 + a3); out(i + 1) = (b0 + b1) + (b2 + b3)
        i += 2
      }
      if (i < cnt) out(i) = dotNodes(nodes(i) * dim, anchorOff)
    }

    /** Same 4-lane pattern for a vecs-vs-vecs dot (selection and
      * backlink shrinks score stored nodes against each other). */
    @inline private def dotNodes(aOff: Int, bOff: Int): Double = {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var d = 0
      val lim = dim - 3
      while (d < lim) {
        s0 += vecs(aOff + d) * vecs(bOff + d)
        s1 += vecs(aOff + d + 1) * vecs(bOff + d + 1)
        s2 += vecs(aOff + d + 2) * vecs(bOff + d + 2)
        s3 += vecs(aOff + d + 3) * vecs(bOff + d + 3)
        d += 4
      }
      while (d < dim) { s0 += vecs(aOff + d) * vecs(bOff + d); d += 1 }
      (s0 + s1) + (s2 + s3)
    }

    /** Two independent dots against one query, software-pipelined: 8
      * accumulator chains overlap the two vectors' memory streams and
      * add latencies. EACH dot's own lane assignment and summation
      * order is exactly [[dot]]'s, so every score is bit-identical to
      * the one-at-a-time loop — this changes throughput, never a bit
      * of the result (the r19 build-speed work is parity-pinned by
      * graph fingerprint: HnswSpec's golden fingerprints). Scores for
      * `nodes(0 until cnt)` land in `out`. */
    @inline private def dotsInto(q: Array[Float], nodes: Array[Int], cnt: Int,
                                 out: Array[Double]): Unit = {
      var i = 0
      while (i + 1 < cnt) {
        val ao = nodes(i) * dim; val bo = nodes(i + 1) * dim
        var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
        var b0 = 0.0; var b1 = 0.0; var b2 = 0.0; var b3 = 0.0
        var d = 0
        val lim = dim - 3
        while (d < lim) {
          a0 += vecs(ao + d) * q(d);         b0 += vecs(bo + d) * q(d)
          a1 += vecs(ao + d + 1) * q(d + 1); b1 += vecs(bo + d + 1) * q(d + 1)
          a2 += vecs(ao + d + 2) * q(d + 2); b2 += vecs(bo + d + 2) * q(d + 2)
          a3 += vecs(ao + d + 3) * q(d + 3); b3 += vecs(bo + d + 3) * q(d + 3)
          d += 4
        }
        while (d < dim) { a0 += vecs(ao + d) * q(d); b0 += vecs(bo + d) * q(d); d += 1 }
        out(i) = (a0 + a1) + (a2 + a3); out(i + 1) = (b0 + b1) + (b2 + b3)
        i += 2
      }
      if (i < cnt) out(i) = dot(nodes(i), q)
    }

    /** Greedy descent at one layer: follow the best-improving neighbor
      * until no neighbor beats the current node (ef = 1 beam). The
      * neighbor list's dots batch through [[dotsInto]] (the list is
      * fixed for the whole sweep — `cur` updates never re-read it), so
      * the comparison sequence and result match the one-at-a-time
      * loop exactly. */
    private def greedyStep(q: Array[Float], start: Int, layer: Int,
                           sc: Scratch): Int = {
      val gbuf = sc.gather; val gsc = sc.gscores
      var cur = start
      var curScore = dot(cur, q)
      var improved = true
      while (improved) {
        improved = false
        val nb = links(cur)(layer)
        // tombstone skip: backlink shrinks break strict bidirectionality,
        // so a stale pointer to a removed slot can survive [[remove]]'s
        // unlink pass — same null-check stance as the reference's
        // traversal (`HNSWIndex.js` `_searchLayer`)
        var cnt = 0
        var i = 0
        while (i < nb.length) {
          if (nDead == 0 || nodeIds(nb(i)) != null) { gbuf(cnt) = nb(i); cnt += 1 }
          i += 1
        }
        dotsInto(q, gbuf, cnt, gsc)
        i = 0
        while (i < cnt) {
          if (gsc(i) > curScore) { curScore = gsc(i); cur = gbuf(i); improved = true }
          i += 1
        }
      }
      cur
    }

    /** Primitive binary heap over (score, node) — the candidate /
      * result "sorting frames" without boxed tuples or Ordering
      * dispatch (the boxed `PriorityQueue` version measured ~8× slower
      * end-to-end on a 100k build). `max = true` pops best-first
      * (candidates), `max = false` keeps the worst at the root for
      * O(1) eviction checks (results). */
    private[Hnsw] final class ScoreHeap(initCap: Int, max: Boolean) {
      private var n = 0
      private var s = new Array[Double](math.max(initCap, 8))
      private var v = new Array[Int](math.max(initCap, 8))
      def size: Int = n
      @inline def reset(): Unit = n = 0
      def headScore: Double = s(0)
      def headNode: Int = v(0)
      @inline private def before(a: Double, b: Double): Boolean =
        if (max) a > b else a < b
      def add(score: Double, node: Int): Unit = {
        if (n == s.length) {
          s = java.util.Arrays.copyOf(s, n * 2)
          v = java.util.Arrays.copyOf(v, n * 2)
        }
        var i = n; n += 1
        while (i > 0 && before(score, s((i - 1) >> 1))) {
          val p = (i - 1) >> 1
          s(i) = s(p); v(i) = v(p); i = p
        }
        s(i) = score; v(i) = node
      }
      def pop(): Unit = {
        n -= 1
        val ls = s(n); val lv = v(n)
        var i = 0
        while (true) {
          val l = 2 * i + 1
          if (l >= n) { s(i) = ls; v(i) = lv; return }
          var c = l
          if (l + 1 < n && before(s(l + 1), s(l))) c = l + 1
          if (before(s(c), ls)) { s(i) = s(c); v(i) = v(c); i = c }
          else { s(i) = ls; v(i) = lv; return }
        }
      }
      def drainTo(nodes: Array[Int], scores: Array[Double]): Int = {
        val m = n
        var i = 0
        while (n > 0) { nodes(i) = v(0); scores(i) = s(0); pop(); i += 1 }
        m
      }
    }

    /** Primitive (node, score) candidate list, best-first (score desc,
      * id asc) — the un-boxed replacement for the tuple buffers the
      * first cut used (the boxed sort + per-candidate tuple allocation
      * measured ~25% of the whole build). */
    private[Hnsw] final class Cand(val nodes: Array[Int], val scores: Array[Double]) {
      @inline def size: Int = nodes.length
    }
    private val emptyCand = new Cand(Array.empty[Int], Array.empty[Double])

    /** The paper's beam search at one layer: expand the closest
      * unexpanded candidate while it can still improve the worst of
      * the `ef` best results. Returns (node, score) sorted best-first
      * (score desc, id asc). NOT thread-safe (shared visited stamps) —
      * callers serialize or clone, same stance as the reference's
      * in-process index. */
    private def searchLayer(q: Array[Float], start: Int, ef: Int,
                            layer: Int, sc: Scratch): Cand = {
      sc.ensure(nNodes)
      sc.epoch += 1
      val visited = sc.visited
      val visitEpoch = sc.epoch
      val cand = sc.candHeap; cand.reset()
      val res = sc.resHeap; res.reset()
      val s0 = dot(start, q)
      visited(start) = visitEpoch
      cand.add(s0, start); res.add(s0, start)
      var done = false
      while (!done && cand.size > 0) {
        val cs = cand.headScore; val c = cand.headNode
        cand.pop()
        if (res.size >= ef && cs < res.headScore) {
          done = true // best candidate can't beat the worst kept result
        } else {
          val nb = links(c)(layer)
          // gather the unvisited live neighbors, then score the whole
          // group through the interleaved kernel — the original loop
          // computed every one of these dots too (the res-bound check
          // came AFTER the dot), so the heap sees the same (score,
          // node) sequence under the same conditions: bit-identical
          val gbuf = sc.gather; val gsc = sc.gscores
          var cnt = 0
          var pf = 0f
          var i = 0
          while (i < nb.length) {
            val e = nb(i)
            if (visited(e) != visitEpoch) {
              visited(e) = visitEpoch
              // tombstone skip — see [[remove]]; dead slots stay visited
              if (nDead == 0 || nodeIds(e) != null) {
                gbuf(cnt) = e; cnt += 1
                pf += vecs(e * dim) // prefetch: overlap the list's misses
              }
            }
            i += 1
          }
          sc.pfSink = pf
          dotsInto(q, gbuf, cnt, gsc)
          i = 0
          while (i < cnt) {
            val es = gsc(i)
            if (res.size < ef || es > res.headScore) {
              val e = gbuf(i)
              cand.add(es, e); res.add(es, e)
              if (res.size > ef) res.pop()
            }
            i += 1
          }
        }
      }
      val m = res.size
      val nodes = new Array[Int](m); val scores = new Array[Double](m)
      res.drainTo(nodes, scores) // min-heap drain: ascending by score
      // reverse to best-first, then id-sort equal-score runs so the
      // final order is exactly (score desc, id asc) — same contract as
      // the boxed global sort, without allocating a tuple per entry
      var i = 0; var j = m - 1
      while (i < j) {
        val tn = nodes(i); nodes(i) = nodes(j); nodes(j) = tn
        val ts = scores(i); scores(i) = scores(j); scores(j) = ts
        i += 1; j -= 1
      }
      i = 0
      while (i < m) {
        var e = i + 1
        while (e < m && scores(e) == scores(i)) e += 1
        if (e - i > 1) { // insertion-sort the tie run by first id
          var a = i + 1
          while (a < e) {
            val vn = nodes(a); val vid = nodeIds(vn)(0)
            var b = a - 1
            while (b >= i && nodeIds(nodes(b))(0) > vid) {
              nodes(b + 1) = nodes(b); b -= 1
            }
            nodes(b + 1) = vn
            a += 1
          }
        }
        i = e
      }
      new Cand(nodes, scores)
    }

    /** Algorithm 4 neighbor selection: keep a candidate only if it is
      * closer to `q`'s vector than to every already-kept neighbor.
      * Candidates arrive best-first in primitive arrays (`cn` live
      * entries); `taken(i)` marks kept indices for the backfill. */
    private def selectHeuristic(candNodes: Array[Int], candScores: Array[Double],
                                cn: Int, max: Int): Array[Int] = {
      val kept = new Array[Int](math.min(cn, max))
      val taken = new Array[Boolean](cn)
      var nk = 0
      var ci = 0
      while (ci < cn && nk < max) {
        val c = candNodes(ci); val sq = candScores(ci)
        var ok = true
        var i = 0
        val co = c * dim
        while (ok && i < nk) {
          // dot(c, kept) > dot(c, q) means c is better explained by an
          // existing neighbor — skip it (diversity pruning). Left as
          // one-dot-at-a-time ON PURPOSE: most scans disqualify on the
          // first kept dot, so a pipelined pair kernel here COSTS time
          // (measured r19: backlink 9.4 s -> 12.1 s at the 1M tile).
          if (dotNodes(co, kept(i) * dim) > sq) ok = false
          i += 1
        }
        if (ok) { kept(nk) = c; taken(ci) = true; nk += 1 }
        ci += 1
      }
      // backfill with closest skipped if the heuristic kept too few
      // (keepPrunedConnections=true — dropping it for the new node's
      // own links measured recall 0.930/0.775 vs 0.955/0.815 at iso
      // 64/128-D). This applies on the SHRINK paths too: a backfilled
      // shrink pins the list at capacity, so later arrivals re-select
      // — that repeated re-scoring cost is what the r12 batched fold
      // ([[addBacklinksBatch]]: one sort-select per (neighbor, layer)
      // per batch instead of per arrival) removed, which is why the
      // shipped design keeps full backfill everywhere (graph quality)
      // without the O(arrivals × cap²) backlink phase.
      if (nk < math.min(cn, max)) {
        ci = 0
        while (ci < cn && nk < max) {
          if (!taken(ci)) { kept(nk) = candNodes(ci); nk += 1 }
          ci += 1
        }
      }
      if (nk == kept.length) kept else java.util.Arrays.copyOf(kept, nk)
    }

    private def maxM(layer: Int): Int = if (layer == 0) 2 * m else m

    /** READ-ONLY half of an insert: per-layer candidate lists for
      * `node` against the CURRENT (frozen, for the parallel build)
      * graph. Safe to run concurrently with other searches — only
      * `sc` is mutated. */
    private[Hnsw] def searchPhase(node: Int, l: Int,
        sc: Scratch): Array[Cand] = {
      val off = node * dim
      val q = java.util.Arrays.copyOfRange(vecs, off, off + dim)
      var ep = entry
      var layer = maxLevel
      while (layer > l) { ep = greedyStep(q, ep, layer, sc); layer -= 1 }
      val lowest = math.min(l, maxLevel)
      val plans = new Array[Cand](lowest + 1)
      while (layer >= 0) {
        val found = searchLayer(q, ep, efConstruction, layer, sc)
        plans(layer) = found
        ep = if (found.size > 0) found.nodes(0) else ep
        layer -= 1
      }
      plans
    }

    /** MUTATING half of an insert: select neighbors from the plan's
      * candidates, connect bidirectionally, shrink over-capacity
      * lists. Must run single-threaded, in node order. */
    private[Hnsw] def applyPhase(node: Int, l: Int,
        plans: Array[Cand]): Unit = {
      // drive from the PLAN's layer count, not min(l, maxLevel): a
      // batch-mate's apply may have raised maxLevel since the frozen
      // search ran (layers above the frozen top stay empty until
      // later nodes link in — exactly the sequential build's behavior
      // for a new top node)
      var layer = plans.length - 1
      while (layer >= 0) {
        val found = plans(layer)
        // the new node selects M neighbors at EVERY layer (paper Alg. 1;
        // maxM0 = 2M bounds only how long an EXISTING list may grow
        // before the shrink re-selects) — selecting 2M at layer 0 was a
        // deviation that doubled backlink arrivals for no recall gain
        val sel = selectHeuristic(found.nodes, found.scores, found.size, m)
        links(node)(layer) = sel
        // bidirectional links, shrinking over-capacity lists by
        // re-running the selection from the neighbor's viewpoint
        var i = 0
        while (i < sel.length) {
          addBacklink(sel(i), layer, node)
          i += 1
        }
        layer -= 1
      }
      if (l > maxLevel) { maxLevel = l; entry = node }
    }

    /** Parallel-safe half of [[applyPhase]]: per-layer neighbor
      * selection from the FROZEN plan (reads only `vecs` + the plan,
      * mutates nothing) — hoisted out of the sequential apply so the
      * batch build can run it alongside the searches. Layer count is
      * driven from the plan, exactly like [[applyPhase]]. */
    private[Hnsw] def selectPhase(node: Int, plans: Array[Cand]): Array[Array[Int]] =
      Array.tabulate(plans.length) { layer =>
        val p = plans(layer)
        selectHeuristic(p.nodes, p.scores, p.size, m) // M at every layer, as applyPhase
      }

    /** One backlink arrival at `nb`: append when under capacity, else
      * re-select from the neighbor's viewpoint — the exact loop body
      * the per-node apply runs per selected neighbor. Touches ONLY
      * `links(nb)(layer)`, so concurrent calls for DISTINCT neighbors
      * are race-free and order-independent across neighbors. */
    private[Hnsw] def addBacklink(nb: Int, layer: Int, node: Int): Unit = {
      var cur = links(nb)(layer)
      val cap = maxM(layer)
      if (nDead > 0) { // purge stale tombstone pointers before capacity math
        var d = 0; var i = 0
        while (i < cur.length) { if (nodeIds(cur(i)) == null) d += 1; i += 1 }
        if (d > 0) {
          val live = new Array[Int](cur.length - d)
          var w = 0; i = 0
          while (i < cur.length) {
            if (nodeIds(cur(i)) != null) { live(w) = cur(i); w += 1 }
            i += 1
          }
          cur = live
          links(nb)(layer) = live
        }
      }
      if (cur.length < cap) {
        val grown = java.util.Arrays.copyOf(cur, cur.length + 1)
        grown(cur.length) = node
        links(nb)(layer) = grown
      } else {
        val nbo = nb * dim
        val cn = cur.length + 1
        val candNodes = java.util.Arrays.copyOf(cur, cn)
        candNodes(cur.length) = node
        val candScores = new Array[Double](cn)
        dotNodesInto(nbo, candNodes, cn, candScores)
        sortCandidates(candNodes, candScores, cn)
        links(nb)(layer) = selectHeuristic(candNodes, candScores, cn, cap)
      }
    }

    /** Batched variant of [[addBacklink]] for the parallel build: ALL
      * of a batch's arrivals at `(nb, layer)` fold into ONE append or
      * ONE score-sort-select pass, instead of re-scoring the full list
      * per arrival (a backfilled or at-capacity list made that
      * O(arrivals × cap²) dots — the measured 60% of build time).
      * Arrivals are distinct batch nodes, never already in `cur` (all
      * pre-existing links point at pre-batch nodes). Deterministic:
      * inputs fix the output; arrival order only affects the sort's
      * stable tie order, which the (score desc, id asc) contract
      * already pins. */
    private[Hnsw] def addBacklinksBatch(nb: Int, layer: Int, arr: Array[Int]): Unit = {
      val cur = links(nb)(layer)
      val cap = maxM(layer)
      if (cur.length + arr.length <= cap) {
        val grown = java.util.Arrays.copyOf(cur, cur.length + arr.length)
        System.arraycopy(arr, 0, grown, cur.length, arr.length)
        links(nb)(layer) = grown
      } else {
        val nbo = nb * dim
        val cn = cur.length + arr.length
        val candNodes = java.util.Arrays.copyOf(cur, cn)
        System.arraycopy(arr, 0, candNodes, cur.length, cn - cur.length)
        val candScores = new Array[Double](cn)
        dotNodesInto(nbo, candNodes, cn, candScores)
        sortCandidates(candNodes, candScores, cn)
        links(nb)(layer) = selectHeuristic(candNodes, candScores, cn, cap)
      }
    }

    /** Insertion sort best-first (score desc, id asc) — cn ≤ 2M + batch
      * arrivals, small. Shared by the per-arrival and batched shrinks.
      * (Materializing tie ids up front measured neutral-to-slower at
      * the 1M tile — ties are rare, the extra array isn't free.) */
    @inline private def sortCandidates(candNodes: Array[Int],
                                       candScores: Array[Double], cn: Int): Unit = {
      var i = 1
      while (i < cn) {
        val vn = candNodes(i); val vs = candScores(i); val vid = nodeIds(vn)(0)
        var b = i - 1
        while (b >= 0 && (candScores(b) < vs ||
            (candScores(b) == vs && nodeIds(candNodes(b))(0) > vid))) {
          candNodes(b + 1) = candNodes(b); candScores(b + 1) = candScores(b)
          b -= 1
        }
        candNodes(b + 1) = vn; candScores(b + 1) = vs
        i += 1
      }
    }

    private[Hnsw] def insert(node: Int, l: Int, sc: Scratch): Unit = {
      levels(node) = l
      links(node) = Array.tabulate(l + 1)(_ => Array.empty[Int])
      if (entry < 0) { entry = node; maxLevel = l; return }
      applyPhase(node, l, searchPhase(node, l, sc))
    }

    /** Batch-insert nodes `[from, until)` (already materialized in the
      * node arrays, levels given by `lvAt`): fixed sequential BATCHES —
      * each batch's candidate searches run in parallel against the
      * graph FROZEN at the batch boundary (each worker with its own
      * visited scratch), then links apply in node order and backlinks
      * fold into one shrink per (neighbor, layer) fanned across
      * threads. The result depends only on (node order, levels,
      * batchSize) — NOT on thread count or scheduling. Shared by
      * [[Hnsw.buildParallel]] and [[addAll]]. */
    private[Hnsw] def insertRange(from: Int, until: Int, lvAt: Int => Int,
                                  batchSize: Int): Unit = {
      val scratches = new java.lang.ThreadLocal[Scratch] {
        override def initialValue(): Scratch = buildScratch()
      }
      var done = from
      var searchNs = 0L; var linkNs = 0L; var backNs = 0L
      val timing = java.lang.Boolean.getBoolean("graft.hnsw.timing")
      while (done < until) {
        val end = math.min(done + batchSize, until)
        val sels = new Array[Array[Array[Int]]](end - done)
        // frozen-graph searches + neighbor selection: both read-only
        // against the frozen graph (selection reads only vecs + the
        // plan), embarrassingly parallel; results land at fixed
        // offsets, so scheduling can't reorder
        val base = done
        val t0 = System.nanoTime()
        java.util.stream.IntStream.range(base, end).parallel().forEach { node =>
          // level/links slots must exist before a CONCURRENT searcher
          // of a later batch could see them — they don't yet; only
          // this batch runs, and sels index by offset
          val sc = scratches.get()
          sels(node - base) =
            selectPhase(node, searchPhase(node, math.min(lvAt(node), topLevel), sc))
        }
        val t1 = System.nanoTime()
        // sequential, cheap: assign self-links and entry/maxLevel in
        // node order (identical to the per-node apply), and gather
        // each selected neighbor's backlink arrivals in that same
        // iteration order — (node asc, layer top→0). Arrivals collect
        // into PRIMITIVE arrays keyed `(nb << 32) | seq` and one
        // Arrays.sort groups them by neighbor while seq keeps the
        // exact arrival order (r19: the boxed
        // HashMap[Int, ArrayBuffer[Long]] gather allocated a boxed
        // Long per arrival — ~33M boxed Longs over a 1M build — and
        // the per-layer scans unboxed each repeatedly).
        var total = 0
        var node = base
        while (node < end) {
          val sel = sels(node - base)
          var l = 0
          while (l < sel.length) { total += sel(l).length; l += 1 }
          node += 1
        }
        val keys = new Array[Long](total) // (nb << 32) | seq
        val vals = new Array[Long](total) // (layer << 32) | node, per seq
        var w = 0
        node = base
        while (node < end) {
          val l = lvAt(node)
          levels(node) = l
          val sel = sels(node - base)
          val ls = new Array[Array[Int]](l + 1)
          var layer = l
          while (layer >= 0) {
            ls(layer) = if (layer < sel.length) sel(layer) else Array.empty[Int]
            layer -= 1
          }
          links(node) = ls
          layer = sel.length - 1
          while (layer >= 0) {
            val s = sel(layer)
            var i = 0
            while (i < s.length) {
              keys(w) = (s(i).toLong << 32) | w.toLong
              vals(w) = (layer.toLong << 32) | (node.toLong & 0xffffffffL)
              w += 1
              i += 1
            }
            layer -= 1
          }
          if (l > topLevel) { maxLevel = l; entry = node }
          node += 1
        }
        java.util.Arrays.sort(keys)
        // arrivals in neighbor-grouped, arrival-ordered layout, plus
        // each neighbor run's boundaries
        val sortedVals = new Array[Long](total)
        var nRuns = 0
        var i2 = 0
        while (i2 < total) {
          sortedVals(i2) = vals((keys(i2) & 0xffffffffL).toInt)
          if (i2 == 0 || (keys(i2) >>> 32) != (keys(i2 - 1) >>> 32)) nRuns += 1
          i2 += 1
        }
        val runStart = new Array[Int](nRuns + 1)
        var r2 = 0; i2 = 0
        while (i2 < total) {
          if (i2 == 0 || (keys(i2) >>> 32) != (keys(i2 - 1) >>> 32)) {
            runStart(r2) = i2; r2 += 1
          }
          i2 += 1
        }
        runStart(nRuns) = total
        val t2 = System.nanoTime()
        // backlink application: DISTINCT neighbors are independent
        // (each shrink touches only links(nb)(layer) and reads
        // immutable vecs — all selected neighbors are pre-batch nodes,
        // invisible batch-mates can't appear), so neighbors fan across
        // threads; per (nb, layer) the batch's arrivals fold into ONE
        // append-or-shrink pass ([[addBacklinksBatch]])
        java.util.stream.IntStream.range(0, nRuns).parallel().forEach { k =>
          val s = runStart(k); val e = runStart(k + 1)
          val nb = (keys(s) >>> 32).toInt
          var layer = 0
          val topL = levels(nb)
          while (layer <= topL) {
            var cnt = 0
            var i = s
            while (i < e) {
              if ((sortedVals(i) >>> 32).toInt == layer) cnt += 1
              i += 1
            }
            if (cnt > 0) {
              val arr = new Array[Int](cnt)
              var wk = 0; i = s
              while (i < e) {
                val v = sortedVals(i)
                if ((v >>> 32).toInt == layer) { arr(wk) = v.toInt; wk += 1 }
                i += 1
              }
              addBacklinksBatch(nb, layer, arr)
            }
            layer += 1
          }
        }
        if (timing) {
          searchNs += t1 - t0; linkNs += t2 - t1; backNs += System.nanoTime() - t2
        }
        done = end
      }
      if (timing) System.err.println(
        f"[hnsw-timing] search+select=${searchNs / 1e9}%.1fs link=${linkNs / 1e9}%.1fs backlink=${backNs / 1e9}%.1fs")
    }

    /** Dynamic insert — the reference engine's primary operation
      * (`/root/reference/src/core/HNSWIndex.js` `insert()`): normalize,
      * collapse into an existing node when this unit vector is already
      * present (the id joins that node's id list), otherwise append a
      * node, draw its level from the build's seeded RNG sequence, and
      * link it with the exact search/select/backlink path the
      * sequential build runs — so `build(A ++ B)` and `build(A)`
      * followed by `add`s of B produce the IDENTICAL graph (spec-
      * pinned). Re-adding an (id, vector) pair already present is a
      * no-op. Synchronized with [[searchOne]]; do NOT interleave with
      * [[searchBatch]] fleets (fleets read the graph unlocked — the
      * same single-writer stance as the reference's in-process index).
      * Amortized cost is the beam search; node arrays double on
      * growth. Bulk loads should still use [[buildParallel]] (the
      * batch-frozen searches parallelize; one-by-one adds cannot). */
    def add(id: Long, vec: Array[Float]): Unit = this.synchronized {
      require(vec.length == dim, s"vector dim ${vec.length} != $dim")
      val nv = l2normalize(vec)
      val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(nv)
      nodeOf.get(key) match {
        case Some(node) => joinIds(node, id)
        case None =>
          val node = appendNode(id, nv, key)
          insert(node, drawLevel(), scratch)
      }
    }

    /** Bulk dynamic insert under ONE lock epoch — the batched
      * counterpart of [[add]] for burst ingest. Duplicate vectors
      * collapse exactly as in add; NEW nodes link via the same
      * frozen-batch parallel machinery as [[Hnsw.buildParallel]]
      * ([[insertRange]]): each batch's candidate searches fan across
      * threads against the batch-boundary graph, so a burst of B
      * vectors costs ~B/threads beam searches of wall clock instead
      * of B. Deterministic: (prior graph, arrival order, batchSize)
      * fix the result — thread count and scheduling cannot change it.
      * NOT bit-identical to one-by-one [[add]]s of the same rows
      * (batch-mates are invisible to each other's searches, the exact
      * trade buildParallel documents); search-quality parity is
      * spec-pinned. Returns the number of NEW graph nodes created. */
    def addAll(rows: IterableOnce[(Long, Array[Float])],
               batchSize: Int = 1024): Int = this.synchronized {
      val start = nNodes
      val lvBuf = scala.collection.mutable.ArrayBuffer.empty[Int]
      rows.iterator.foreach { case (id, vec) =>
        require(vec.length == dim, s"vector dim ${vec.length} != $dim")
        val nv = l2normalize(vec)
        val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(nv)
        nodeOf.get(key) match {
          case Some(node) => joinIds(node, id)
          case None =>
            appendNode(id, nv, key) // contiguous slots start, start+1, …
            lvBuf += drawLevel()
        }
      }
      val until = nNodes
      var k = start
      if (entry < 0) { // empty graph: seed sequentially (warmup stance)
        val warm = math.min(start + 1024, until)
        while (k < warm) { insert(k, lvBuf(k - start), scratch); k += 1 }
      }
      if (k < until) insertRange(k, until, node => lvBuf(node - start), batchSize)
      until - start
    }

    /** Join `id` into an existing node's sorted id list (duplicate
      * collapse); no-op when already present. */
    private def joinIds(node: Int, id: Long): Unit = {
      val ids = nodeIds(node)
      val pos = java.util.Arrays.binarySearch(ids, id)
      if (pos < 0) { // keep the id list sorted (rank tie contract)
        val ins = -(pos + 1)
        val grown = new Array[Long](ids.length + 1)
        System.arraycopy(ids, 0, grown, 0, ins)
        grown(ins) = id
        System.arraycopy(ids, ins, grown, ins + 1, ids.length - ins)
        nodeIds(node) = grown
        idToNode.update(id, node)
      }
    }

    /** Materialize a NEW node slot for unit vector `nv` carrying `id`
      * (node-indexed arrays double on growth); does NOT link it. */
    private def appendNode(id: Long, nv: Array[Float],
                           key: scala.collection.immutable.ArraySeq[Float]): Int = {
      if (nNodes == nodeIds.length) {
        val cap = math.max(nNodes * 2, 16)
        nodeIds = java.util.Arrays.copyOf(nodeIds, cap)
        levels = java.util.Arrays.copyOf(levels, cap)
        links = java.util.Arrays.copyOf(links, cap)
        vecs = java.util.Arrays.copyOf(vecs, cap * dim)
      }
      val node = nNodes
      System.arraycopy(nv, 0, vecs, node * dim, dim)
      nodeIds(node) = Array(id)
      nodeOf.put(key, node)
      idToNode.update(id, node)
      nNodes += 1
      node
    }

    /** One draw of the build's seeded geometric level sequence. */
    private def drawLevel(): Int =
      math.floor(-math.log(math.max(levelRng.nextDouble(), 1e-300)) *
        (1.0 / math.log(m))).toInt

    /** Dynamic delete — the reference's `delete()`
      * (`/root/reference/src/core/HNSWIndex.js:328`): drop the id; when
      * it was the node's last id, unlink the node from every neighbor
      * at every layer and tombstone the slot (a graph can't compact
      * slots without renumbering every caller's node ids). Entry-point
      * repair DETERMINISTICALLY picks the highest-level live node
      * (lowest slot on ties) — strictly better than the reference's
      * arbitrary first-map-key pick, which can strand upper layers.
      * Removed vectors leave [[nodeOf]], so re-adding the same vector
      * builds a fresh node. Heavy deletion degrades graph navigability
      * (tombstones leave holes); callers bound it and rebuild past a
      * budget, as [[graft.engine.FusionEngine]] does at 25%. Returns
      * false when the id is absent. */
    def remove(id: Long): Boolean = this.synchronized {
      val nodeOpt = idToNode.get(id)
      if (nodeOpt.isEmpty) return false
      val nd = nodeOpt.get
      idToNode.remove(id)
      val ids = nodeIds(nd)
      if (ids.length > 1) { // collapsed duplicate: just drop the id
        val pos = java.util.Arrays.binarySearch(ids, id)
        val shrunk = new Array[Long](ids.length - 1)
        System.arraycopy(ids, 0, shrunk, 0, pos)
        System.arraycopy(ids, pos + 1, shrunk, pos, ids.length - pos - 1)
        nodeIds(nd) = shrunk
        return true
      }
      val off = nd * dim
      nodeOf.remove(scala.collection.immutable.ArraySeq.unsafeWrapArray(
        java.util.Arrays.copyOfRange(vecs, off, off + dim)))
      // unlink bidirectionally at every layer the node participates in
      var layer = 0
      while (layer <= levels(nd)) {
        val nbs = links(nd)(layer)
        var i = 0
        while (i < nbs.length) {
          val nb = nbs(i)
          if (nodeIds(nb) != null) { // neighbor may itself be freshly dead
            val cur = links(nb)(layer)
            var hit = false
            var j = 0
            while (j < cur.length && !hit) { hit = cur(j) == nd; j += 1 }
            if (hit) {
              val shrunk = new Array[Int](cur.length - 1)
              var k = 0; var w = 0
              while (k < cur.length) {
                if (cur(k) != nd) { shrunk(w) = cur(k); w += 1 }
                k += 1
              }
              links(nb)(layer) = shrunk
            }
          }
          i += 1
        }
        layer += 1
      }
      nodeIds(nd) = null
      links(nd) = null
      levels(nd) = -1
      nDead += 1
      if (entry == nd) { // repair: highest-level live node, lowest slot wins ties
        var best = -1; var bestLevel = -1
        var i = 0
        while (i < nNodes) {
          if (nodeIds(i) != null && levels(i) > bestLevel) { best = i; bestLevel = levels(i) }
          i += 1
        }
        entry = best
        maxLevel = bestLevel
      }
      true
    }

    private[Hnsw] def buildScratch(): Scratch = new Scratch

    /** Single-query search: greedy descent through the upper layers,
      * one `ef`-beam at layer 0, exact re-rank of the beam. Collapsed
      * duplicate ids expand back out in id order, so ranks over a
      * duplicated corpus match the exact paths. Returns
      * `(id, score, rank)`, rank 1-based, ties by id — the engine's
      * standard ordering. */
    def searchOne(query: Seq[Double], k: Int, ef: Int = 0): Seq[(Long, Double, Int)] =
      this.synchronized {
        if (n == 0) return Seq.empty
        // ef = 0 (the default) resolves dim-aware ([[Hnsw.defaultEf]])
        val efR = if (ef > 0) ef else Hnsw.defaultEf(dim)
        val q = l2normalize(query.toArray.map(_.toFloat))
        var ep = entry
        var layer = maxLevel
        while (layer > 0) { ep = greedyStep(q, ep, layer, scratch); layer -= 1 }
        val beam = searchLayer(q, ep, math.max(efR, k), 0, scratch)
        val out = Vector.newBuilder[(Long, Double, Int)]
        var r = 0
        var bi = 0
        while (r < k && bi < beam.size) {
          val node = beam.nodes(bi); val s = beam.scores(bi)
          val dupIds = nodeIds(node)
          var di = 0
          while (r < k && di < dupIds.length) {
            out += ((dupIds(di), s, r + 1)); r += 1; di += 1
          }
          bi += 1
        }
        out.result()
      }

    /** Fleet search: every query runs the same descent/beam as
      * [[searchOne]], fanned across threads with per-worker visited
      * scratch (queries are independent; the graph is read-only here),
      * so results are identical to a sequential searchOne loop
      * whatever the thread count. Returns `(qid, id, score, rank)` in
      * qid-then-rank order — the serving-session fleet shape. */
    def searchBatch(queries: Seq[(Long, Seq[Double])], k: Int,
                    ef: Int = 0): Seq[(Long, Long, Double, Int)] = {
      if (n == 0 || queries.isEmpty) return Seq.empty
      val efR = if (ef > 0) ef else Hnsw.defaultEf(dim)
      val qArr = queries.toArray
      val out = new Array[Seq[(Long, Double, Int)]](qArr.length)
      val scratches = new java.lang.ThreadLocal[Scratch] {
        override def initialValue(): Scratch = new Scratch
      }
      java.util.stream.IntStream.range(0, qArr.length).parallel().forEach { qi =>
        val sc = scratches.get()
        val q = l2normalize(qArr(qi)._2.toArray.map(_.toFloat))
        var ep = entry
        var layer = maxLevel
        while (layer > 0) { ep = greedyStep(q, ep, layer, sc); layer -= 1 }
        val beam = searchLayer(q, ep, math.max(efR, k), 0, sc)
        val b = Vector.newBuilder[(Long, Double, Int)]
        var r = 0
        var bi = 0
        while (r < k && bi < beam.size) {
          val node = beam.nodes(bi); val s = beam.scores(bi)
          val dupIds = nodeIds(node)
          var di = 0
          while (r < k && di < dupIds.length) {
            b += ((dupIds(di), s, r + 1)); r += 1; di += 1
          }
          bi += 1
        }
        out(qi) = b.result()
      }
      qArr.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
        out(qi).map { case (id, s, r) => (qid, id, s, r) }
      }.toSeq
    }

    /** Estimated resident bytes (vectors + ids + links). */
    def bytes: Long =
      nNodes.toLong * dim * 4 + nVectors * 8 +
        links.iterator.take(nNodes).map(ls =>
          if (ls == null) 0L else ls.iterator.map(_.length.toLong * 4 + 16).sum).sum

    /** Persist the full graph — the reference's `serialize()`
      * (`/root/reference/src/core/HNSWIndex.js:390`) re-expressed as a
      * compact binary stream instead of per-node JSON: header, levels,
      * one flat little-endian-free float block (bulk `FloatBuffer`
      * chunks, not 12M `writeFloat` calls at 100k×128d), id lists,
      * adjacency. [[Hnsw.load]] restores a graph that is
      * bit-identical — INCLUDING the continued seeded level sequence,
      * so `add`s after a save/load round-trip equal `add`s without it
      * (spec-pinned). Caller owns stream lifecycle and atomicity. */
    def save(out: java.io.DataOutputStream): Unit = this.synchronized {
      out.writeInt(Magic); out.writeInt(1)
      out.writeInt(dim); out.writeInt(m); out.writeInt(efConstruction)
      out.writeLong(seed)
      out.writeInt(nNodes); out.writeInt(entry); out.writeInt(maxLevel)
      var i = 0
      while (i < nNodes) { out.writeInt(levels(i)); i += 1 }
      val total = nNodes * dim
      val chunkF = 1 << 14
      val bytes = new Array[Byte](chunkF * 4)
      val fb = java.nio.ByteBuffer.wrap(bytes).asFloatBuffer()
      var off = 0
      while (off < total) {
        val nF = math.min(chunkF, total - off)
        fb.clear(); fb.put(vecs, off, nF)
        out.write(bytes, 0, nF * 4)
        off += nF
      }
      i = 0
      while (i < nNodes) {
        val ids = nodeIds(i) // tombstone = 0 ids (levels already carry -1)
        out.writeInt(if (ids == null) 0 else ids.length)
        if (ids != null) {
          var j = 0; while (j < ids.length) { out.writeLong(ids(j)); j += 1 }
        }
        i += 1
      }
      i = 0
      while (i < nNodes) {
        val ls = links(i)
        out.writeInt(if (ls == null) 0 else ls.length)
        if (ls != null) {
          var l = 0
          while (l < ls.length) {
            val a = ls(l); out.writeInt(a.length)
            var j = 0; while (j < a.length) { out.writeInt(a(j)); j += 1 }
            l += 1
          }
        }
        i += 1
      }
    }

    /** [[save]] to a file (plain write; wrap in tmp-then-atomic-move
      * yourself if the path is served concurrently, as
      * `FusionEngine` does). */
    def save(path: java.nio.file.Path): Unit = {
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(path), 1 << 16))
      try save(out) finally out.close()
    }
  }

  private val Magic = 0x47484E53 // "GHNS"

  /** Restore a graph written by [[Index.save]] — the reference's
    * `HNSWIndex.deserialize` (`HNSWIndex.js:424`). The duplicate-
    * collapse map rebuilds from the vector block, and the level RNG
    * is re-seeded then advanced past the `nNodes` draws the saved
    * graph consumed, so post-load [[Index.add]]s continue the exact
    * sequence the un-saved graph would have drawn. */
  def load(in: java.io.DataInputStream): Index = {
    require(in.readInt() == Magic, "not an Hnsw graph stream")
    require(in.readInt() == 1, "unsupported Hnsw graph version")
    val dim = in.readInt(); val m = in.readInt(); val efC = in.readInt()
    val seed = in.readLong()
    val nNodes = in.readInt(); val entry = in.readInt(); val maxLevel = in.readInt()
    require(dim > 0 && m >= 2 && nNodes >= 0 && entry < nNodes,
      s"corrupt Hnsw header: dim=$dim m=$m n=$nNodes entry=$entry")
    val levels = new Array[Int](nNodes)
    var i = 0
    while (i < nNodes) { levels(i) = in.readInt(); i += 1 }
    val vecs = new Array[Float](nNodes * dim)
    val chunkF = 1 << 14
    val bytes = new Array[Byte](chunkF * 4)
    val fb = java.nio.ByteBuffer.wrap(bytes).asFloatBuffer()
    var off = 0
    while (off < vecs.length) {
      val nF = math.min(chunkF, vecs.length - off)
      in.readFully(bytes, 0, nF * 4)
      fb.clear(); fb.get(vecs, off, nF)
      off += nF
    }
    val nodeIds = new Array[Array[Long]](nNodes)
    i = 0
    while (i < nNodes) {
      val len = in.readInt()
      require(len >= 0 && len <= Int.MaxValue / 8, s"corrupt id list at node $i")
      require((len == 0) == (levels(i) == -1), s"tombstone mismatch at node $i")
      if (len > 0) {
        val ids = new Array[Long](len)
        var j = 0; while (j < len) { ids(j) = in.readLong(); j += 1 }
        nodeIds(i) = ids
      }
      i += 1
    }
    val links = new Array[Array[Array[Int]]](nNodes)
    i = 0
    while (i < nNodes) {
      val nl = in.readInt()
      require(nl == levels(i) + 1 || (nl == 0 && levels(i) == -1),
        s"corrupt adjacency at node $i")
      if (nl > 0) {
        val ls = new Array[Array[Int]](nl)
        var l = 0
        while (l < nl) {
          val len = in.readInt()
          val a = new Array[Int](len)
          var j = 0; while (j < len) { a(j) = in.readInt(); j += 1 }
          ls(l) = a
          l += 1
        }
        links(i) = ls
      }
      i += 1
    }
    val nodeOf = scala.collection.mutable.HashMap
      .empty[scala.collection.immutable.ArraySeq[Float], Int]
    i = 0
    while (i < nNodes) {
      if (nodeIds(i) != null)
        nodeOf.put(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          java.util.Arrays.copyOfRange(vecs, i * dim, (i + 1) * dim)), i)
      i += 1
    }
    val rng = new java.util.Random(seed)
    i = 0
    while (i < nNodes) { rng.nextDouble(); i += 1 }
    new Index(dim, m, efC, seed, nodeIds, vecs, levels, links, entry, maxLevel,
      nNodes, nodeOf, rng)
  }

  /** [[load]] from a file. */
  def load(path: java.nio.file.Path): Index = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      java.nio.file.Files.newInputStream(path), 1 << 16))
    try load(in) finally in.close()
  }

  /** Unit-normalize (the cosine-as-dot precondition; shared with the
    * bench's brute-force recall check). */
  def l2normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val inv = if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) * inv).toFloat; i += 1 }
    out
  }

  /** Build from an in-memory iterator (insertion order = iterator
    * order; the build is sequential by nature — HNSW inserts mutate
    * shared adjacency). Exact duplicate vectors (post-normalization)
    * collapse into one graph node carrying all their ids — see the
    * [[Index]] scaladoc for why an uncollapsed graph fragments.
    * Deterministic for a fixed seed and order. */
  def build(rows: Iterator[(Long, Array[Float])], dim: Int,
            m: Int = 0, efConstruction: Int = 0, seed: Long = 42L): Index = {
    // m/efConstruction = 0 (the default) resolves dim-aware — see
    // [[defaultM]]; explicit values pin the exact configuration
    val mR = if (m > 0) m else defaultM(dim)
    val efcR = if (efConstruction > 0) efConstruction else defaultEfConstruction(dim)
    val (idx, lv) = ingest(rows, dim, mR, efcR, seed)
    val sc = idx.buildScratch()
    var i = 0
    while (i < idx.n) { idx.insert(i, lv(i), sc); i += 1 }
    idx
  }

  /** Shared build preamble: normalize, collapse exact duplicates into
    * nodes, pack the flat vector array, draw the level sequence —
    * ONE definition of the collapse semantics for both builds (r11
    * review: build/buildParallel previously duplicated these 25 lines
    * verbatim). Returns the empty-linked Index plus per-node levels. */
  private def ingest(rows: Iterator[(Long, Array[Float])], dim: Int,
                     m: Int, efConstruction: Int, seed: Long): (Index, Array[Int]) = {
    require(m >= 2, s"m must be >= 2, got $m") // ln(m) = 0 at m = 1 -> infinite levels
    val nodeOf = scala.collection.mutable.HashMap
      .empty[scala.collection.immutable.ArraySeq[Float], Int]
    val idBuf = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    val vecBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    rows.foreach { case (id, v) =>
      require(v.length == dim, s"vector dim ${v.length} != $dim")
      val nv = l2normalize(v)
      val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(nv)
      val node = nodeOf.getOrElseUpdate(key, {
        vecBuf += nv
        idBuf += scala.collection.mutable.ArrayBuffer.empty[Long]
        vecBuf.length - 1
      })
      idBuf(node) += id
    }
    val n = vecBuf.length
    val vecs = new Array[Float](n * dim)
    var i = 0
    while (i < n) { System.arraycopy(vecBuf(i), 0, vecs, i * dim, dim); i += 1 }
    val nodeIds = idBuf.iterator.map(_.toArray.sorted).toArray
    val rng = new java.util.Random(seed)
    val lv = drawLevels(n, m, rng)
    val idx = new Index(dim, m, efConstruction, seed, nodeIds, vecs,
      new Array[Int](n), new Array[Array[Array[Int]]](n), -1, -1,
      n, nodeOf, rng)
    (idx, lv)
  }

  /** Node levels drawn up front from ONE seeded RNG — the same draw
    * sequence the sequential build consumes, so both builds assign
    * identical levels; the RNG object stays with the Index so
    * [[Index.add]] continues the sequence. */
  private def drawLevels(n: Int, m: Int, rng: java.util.Random): Array[Int] =
    Array.fill(n)(math.floor(-math.log(math.max(rng.nextDouble(), 1e-300)) *
      (1.0 / math.log(m))).toInt)

  /** DETERMINISTIC batch-parallel build: the sequential build's cost is
    * ~all in the read-only beam searches, so inserts proceed in fixed
    * sequential BATCHES — each batch's candidate searches run in
    * parallel against the graph FROZEN at the batch boundary (each
    * worker with its own visited scratch), then links apply
    * single-threaded in node order. The result depends only on
    * (input order, seed, batchSize) — NOT on thread count or
    * scheduling — because every node's plan is computed from the same
    * frozen graph and applied in the same order. Batch-mates are
    * invisible to each other's searches (the quality cost of the
    * freeze); `batchSize` trades build speed against that visibility —
    * under the r12 M-selection + folded-shrink scheme, 2048 measures
    * recall parity with 1024 on BOTH corpora (isotropic 0.934,
    * clustered 0.994 at ef=64, 50-query) and builds faster (128-D
    * 5.6→5.1 s, clustered 2.8→2.3 s — fewer frozen boundaries feed
    * the parallel phases better), so 2048 is the default. The first
    * `warmup` nodes insert sequentially so early searches see a real
    * graph. */
  def buildParallel(rows: Iterator[(Long, Array[Float])], dim: Int,
                    m: Int = 0, efConstruction: Int = 0, seed: Long = 42L,
                    batchSize: Int = 2048, warmup: Int = 1024): Index = {
    val mR = if (m > 0) m else defaultM(dim)
    val efcR = if (efConstruction > 0) efConstruction else defaultEfConstruction(dim)
    val (idx, lv) = ingest(rows, dim, mR, efcR, seed)
    val n = idx.n
    val sc0 = idx.buildScratch()
    val seqEnd = math.min(math.max(warmup, 1), n)
    var i = 0
    while (i < seqEnd) { idx.insert(i, lv(i), sc0); i += 1 }
    idx.insertRange(seqEnd, n, node => lv(node), batchSize)
    idx
  }

  /** Build from a DataFrame, guarded by a resident byte cap like the
    * serving snapshots (`None` when the collection wouldn't fit —
    * callers fall back to IVF/exact paths). Rows collect in a
    * DETERMINISTIC order (by id) so the seeded build is reproducible
    * whatever the physical partitioning. */
  def fromDataFrame(df: DataFrame, vecCol: String, idCol: String,
                    m: Int = 0, efConstruction: Int = 0, seed: Long = 42L,
                    maxBytes: Long = 1L << 30,
                    parallel: Boolean = true): Option[Index] = {
    // ONE probe job for n + dim (the byte-cap guard must precede the
    // collect), then the ordered collect — r11 review collapsed the
    // earlier separate limit(1) dim job into the count aggregate
    val probe = df.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.first(
        org.apache.spark.sql.functions.size(col(vecCol)))).collect()(0)
    val n = probe.getLong(0)
    if (n == 0)
      return Some(build(Iterator.empty, dim = 0, m, efConstruction, seed))
    val dim = probe.getInt(1)
    val mR = if (m > 0) m else defaultM(dim) // dim-aware, as in build
    if (n * (dim.toLong * 4 + 8 + mR * 2 * 4 + 64) > maxBytes) return None
    val rows = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("v"))
      .orderBy(col("id"))
      .collect()
      .iterator
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    Some(if (parallel) buildParallel(rows, dim, m, efConstruction, seed)
         else build(rows, dim, m, efConstruction, seed))
  }
}
