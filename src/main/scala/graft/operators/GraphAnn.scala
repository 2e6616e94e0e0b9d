package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Graph-based ANN — the Spark-native analog of the reference's HNSW
  * index (init_qdrant.py:45-50: ef_construct=128, m=32, cosine), the one
  * index structure VERDICT r2 flagged as having no counterpart here.
  *
  * Design: a NAVIGABLE SMALL WORLD graph (Malkov et al. 2014 — the
  * flat-graph precursor of HNSW) per SHARD, searched greedily with a
  * beam, then a global top-k merge:
  *
  *  - The corpus is hash-partitioned into shards (`repartition(n, id)`);
  *    each shard builds its own in-memory graph inside ONE
  *    `mapPartitions` pass and searches it immediately. This mirrors how
  *    production vector stores actually scale HNSW (per-segment graphs +
  *    result merge — Qdrant segments, Lucene HNSW per Lucene segment):
  *    the graph is a pointer structure, so one global graph cannot be
  *    built declaratively, but shard-local graphs parallelize
  *    embarrassingly and re-build incrementally per shard.
  *  - Within a shard: nodes are inserted in ascending id order; each new
  *    node links bidirectionally to its `m` nearest among the already-
  *    inserted nodes (found by the same beam search over the partial
  *    graph, beam `efConstruction`); degrees are pruned to `2m` keeping
  *    the most similar neighbors. Search is best-first expansion with a
  *    bounded result heap of `efSearch` (recall rises with the beam —
  *    hops buy recall, where IVF buys it with probed corpus fraction;
  *    q_v6c vs GraphAnnSpec's beam sweep make the two tradeoffs
  *    comparable).
  *  - Scale shape: each task emits only k rows per query; the merge is a
  *    `k·shards`-row `TakeOrderedAndProject` (single query) or a
  *    `graft_topk` partial aggregation (query batches). Shard count
  *    bounds per-task memory (vectors + 2m ints per node), independent
  *    of corpus size.
  *
  * Determinism contract (the rows-only driver check + GraphAnnSpec rely
  * on it): hash partitioning of ids is Murmur3 (stable across JVMs),
  * insertion order is ascending id within a shard, all heap orderings
  * break score ties by smaller id, and the arithmetic is the fixed-fold
  * double cosine of [[VectorOps]] — two runs produce identical rows.
  */
object GraphAnn {

  /** `m`: links added per inserted node (degree cap 2m). `efConstruction`
    * / `efSearch`: beam widths for insertion and query search. Defaults
    * scaled down from the reference's (m=32, ef_construct=128) for the
    * testdata corpus size; recall-vs-beam is measured, not assumed.
    * Defaults m=16/efConstruction=64, raised from 8/32 on scaled-ladder
    * measurement (NswRecallProbe over the nsw_scaled corpora, recall@10
    * at serve ef=64): the 8/32 graphs navigate only 0.90 once shards
    * hold >=3k nodes (x5/x25/x100 each missed one true neighbor).
    * efc=64 alone restores 1.00 through x25 (~15k nodes/shard) at
    * unchanged build cost (x25: 8.1 s vs 8.3 s) — there the insertion
    * beam is the binding constraint; at x100 (~62k nodes/shard) the
    * DEGREE binds instead (m=8 stays 0.90 at any efc, m=16 holds 1.00
    * even at efc=64). efc=128 bought nothing at ~2x the link work.
    * m=16 is also hnswlib's default M; the reference's m=32 remains a
    * supported explicit setting.
    * `entryProbes`: beam entry points, evaluated over a deterministic
    * stride sample of the built nodes and seeded best-first — the
    * flat-graph stand-in for HNSW's upper layers (init_qdrant.py:45-50),
    * which exist to skip the same long-range approach hops. -1 (default)
    * = auto ceil(sqrt(n)); 1 = the pre-r7 single entry at node 0 (the
    * stride sample of size 1 is exactly index 0), kept addressable so
    * q_v8d can measure what the probes buy.
    * `layered`: build the HNSW layer hierarchy PROPER (Malkov &
    * Yashunin 2016 — the reference's actual index, init_qdrant.py:45-50
    * m=32): node levels drawn geometrically with mL = 1/ln(m), greedy
    * ef=1 descent through the upper layers, beam only at layer 0 —
    * replaces the O(sqrt(n)) stride probes with O(log n) approach hops.
    * Layered graphs persist via [[NswIndex]]'s v3 layout (lvl + unbrs
    * columns) and restore with [[Nsw.withLayeredState]]; the flat
    * adjacency-prefix path is the v2 contract only. */
  final case class Params(m: Int = 16, efConstruction: Int = 64, efSearch: Int = 32,
      entryProbes: Int = -1, layered: Boolean = false)

  /** Node-vector storage the graph walks over. Two layouts: dense
    * doubles (build paths, raw serves) and int8 + per-vector scale
    * (quantized serves — the reference's HNSW + int8 always_ram config
    * held NATIVELY, ~8× smaller resident than dequantizing to doubles
    * up front, so the same cache budget holds ~8× the corpus).
    * `dot`/`norm2` on the int8 layout dequantize PER ELEMENT in exactly
    * the `q8(d)·scale` order the in-plan dequant used — each step is
    * the same double rounding — so scores are BIT-identical to a dense
    * store over the pre-dequantized vectors (NswQuantSpec pins it). */
  private[operators] sealed trait VecStore {
    def n: Int
    /** Materialized node vector — build/prune anchor fetches only,
      * never the serve-time eval loop. */
    def vec(i: Int): Array[Double]
    /** Σ_d q(d)·v_i(d), ascending d. */
    def dot(q: Array[Double], i: Int): Double
    /** Σ_d v_i(d)², ascending d. */
    def norm2(i: Int): Double
  }

  private[operators] final class DenseVecs(
      vecs: Array[Array[Double]]) extends VecStore {
    def n: Int = vecs.length
    def vec(i: Int): Array[Double] = vecs(i)
    def dot(q: Array[Double], i: Int): Double = {
      val v = vecs(i)
      var s = 0.0; var d = 0
      while (d < v.length) { s += q(d) * v(d); d += 1 }
      s
    }
    def norm2(i: Int): Double = {
      val v = vecs(i)
      var s = 0.0; var d = 0
      while (d < v.length) { s += v(d) * v(d); d += 1 }
      s
    }
  }

  private[operators] final class Int8Vecs(q8: Array[Array[Byte]],
      scales: Array[Double]) extends VecStore {
    def n: Int = q8.length
    /** Stored int8 payload of node i (shared, not copied). */
    def q(i: Int): Array[Byte] = q8(i)
    def scale(i: Int): Double = scales(i)
    def vec(i: Int): Array[Double] = {
      val b = q8(i); val sc = scales(i)
      Array.tabulate(b.length)(d => b(d) * sc)
    }
    def dot(q: Array[Double], i: Int): Double = {
      val b = q8(i); val sc = scales(i)
      var s = 0.0; var d = 0
      while (d < b.length) { s += q(d) * (b(d) * sc); d += 1 }
      s
    }
    def norm2(i: Int): Double = {
      val b = q8(i); val sc = scales(i)
      var s = 0.0; var d = 0
      while (d < b.length) { val x = b(d) * sc; s += x * x; d += 1 }
      s
    }
  }

  /** One shard's NSW graph over `store`'s vectors (insertion order =
    * store order). Package-private so [[NswIndex]] can persist built
    * adjacencies and serve searches from reloaded ones. */
  private[operators] final class Nsw(store: VecStore, params: Params) {
    def this(vecs: Array[Array[Double]], params: Params) =
      this(new DenseVecs(vecs), params)
    private val n = store.n
    private val maxDeg = 2 * params.m
    private val norms: Array[Double] =
      Array.tabulate(n)(i => math.sqrt(store.norm2(i)))
    // adjacency: deg(i) entries in adj(i)(0 until deg(i))
    private val adj = Array.fill(n)(new Array[Int](maxDeg + 1))
    private val deg = new Array[Int](n)
    // ---- layered-mode incremental-prune state (r10). The overflow
    // prune used to re-run the full diversity heuristic over the whole
    // adjacency — O(deg²) pairwise sims per overflow, measured as ~60%
    // of the layered build's distance evals. The memoized form keeps
    // the adjacency sorted by (anchor sim desc, id asc) with cached
    // anchor sims, and tracks per slot whether the member SURVIVED a
    // previous prune ("verified"): a verified member was already
    // dominance-tested against every verified member ranked before it,
    // and passing against a superset implies passing against the
    // surviving subset — so a re-prune only needs sims involving
    // members appended since the last prune. The kept set is EXACTLY
    // the full heuristic's (bit-identical graphs; the append path
    // restores with all-unverified rows = full re-tests, which the same
    // argument makes equal too — NswLayeredSpec's append==rebuild pin
    // cross-checks memoized-vs-unmemoized for free). Verified flags are
    // boolean rows, not a bitmask: slots run 0..2m inclusive, so an Int
    // mask silently wraps its shifts for m >= 16 — the reference's own
    // config (m=32, init_qdrant.py:45-50) sits past that cliff.
    private val simAdj: Array[Array[Double]] =
      if (params.layered) new Array[Array[Double]](n) else null
    private val verAdj: Array[Array[Boolean]] =
      if (params.layered) new Array[Array[Boolean]](n) else null

    /** Anchor-sim cache row for `from`, computed on first touch (restored
      * graphs arrive without sims; fresh nodes start empty). */
    private def ensureSims(from: Int): Array[Double] = {
      var row = simAdj(from)
      if (row == null) {
        row = new Array[Double](maxDeg + 1)
        val v = store.vec(from)
        var e = 0
        while (e < deg(from)) {
          row(e) = cos(v, norms(from), adj(from)(e))
          e += 1
        }
        simAdj(from) = row
        // restored/fresh rows start all-unverified = full re-tests
        verAdj(from) = new Array[Boolean](maxDeg + 1)
      }
      row
    }

    /** Layered link insertion: place `to` at its (sim desc, id asc)
      * position (the order every prune sorts into anyway), cache the
      * anchor sim — callers pass it from the beam/selection results, and
      * the cosine fold is bit-symmetric, so reciprocal links reuse the
      * same double — and prune incrementally on overflow. */
    private def addLinkL(from: Int, to: Int, sim: Double): Unit = {
      val row = ensureSims(from)
      val va = verAdj(from)
      val d = deg(from)
      var p = d
      while (p > 0 && better(sim, to, row(p - 1), adj(from)(p - 1))) p -= 1
      System.arraycopy(adj(from), p, adj(from), p + 1, d - p)
      System.arraycopy(row, p, row, p + 1, d - p)
      System.arraycopy(va, p, va, p + 1, d - p)
      adj(from)(p) = to
      row(p) = sim
      va(p) = false
      deg(from) = d + 1
      if (deg(from) > maxDeg) pruneIncr(from)
    }

    /** Incremental diversity prune of `from` to [[maxDeg]]: identical
      * output to selectHeuristic over the sorted adjacency (see the
      * state comment), paying sims only for pairs involving
      * since-last-prune members. */
    private def pruneIncr(from: Int): Unit = {
      val d = deg(from)
      val row = simAdj(from)
      val va = verAdj(from)
      val keptSlot = new Array[Int](maxDeg)
      // keptNew(j): kept member j joined since the last prune
      val keptNew = new Array[Boolean](maxDeg)
      var k = 0
      var e = 0
      while (e < d && k < maxDeg) {
        val m = adj(from)(e)
        val simM = row(e)
        val isVer = va(e)
        var ok = true
        var j = 0
        while (ok && j < k) {
          if ((!isVer || keptNew(j)) &&
              simBetween(m, adj(from)(keptSlot(j))) > simM) ok = false
          j += 1
        }
        if (ok) {
          keptSlot(k) = e
          keptNew(k) = !isVer
          k += 1
        }
        e += 1
      }
      var t = 0
      while (t < k) {
        adj(from)(t) = adj(from)(keptSlot(t))
        row(t) = row(keptSlot(t))
        va(t) = true
        t += 1
      }
      deg(from) = k
    }
    // nodes visible to search-entry sampling: during construction only
    // the already-inserted prefix is linked, so probes must stay inside
    // it; n once built/loaded
    private var frontier = n
    // distance evaluations since the last reset — the cost instrument
    // q_v8d/GraphAnnSpec read (counter only; racy under concurrent
    // serve-path searches, which only blurs stats, never results)
    private var evalsCtr = 0L
    def evals: Long = evalsCtr
    def resetEvals(): Unit = evalsCtr = 0L
    // temporary site-split instrumentation (LayeredBuildProfileSpec)
    private[operators] var evalsSelect = 0L
    private[operators] var evalsPrune = 0L

    // ---- HNSW layer hierarchy (params.layered). Levels are drawn from
    // the geometric distribution with mL = 1/ln(m) (Malkov & Yashunin
    // 2016 §4.1), deterministically from the node's local insertion
    // index via a Murmur3-style avalanche — insertion order is
    // ascending vec_id, so any two builds over the same shard agree on
    // every level. Upper layers hold only the level>=1 minority
    // (~n/m nodes at L1, n/m² at L2, …); nodes at level 0 never touch
    // the `upper` map.
    private val mL = 1.0 / math.log(math.max(params.m, 2).toDouble)
    private def levelOf(i: Int): Int = {
      // non-zero xor salt before the golden-ratio spread (ADVICE r9):
      // the unsalted avalanche has a fixed point at 0 — node 0 drew the
      // max level in EVERY shard, a deterministic dead tower over the
      // real hierarchy. Salted, index 0 is an ordinary draw; the build
      // stays deterministic (NswIndex stamps this rule as lay=2).
      var h = (i ^ 0x5bd1e995) * -1640531527 // spread + fmix32 avalanche
      h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
      val u = ((h >>> 1) + 1).toDouble / 2147483648.0 // (0, 1]
      math.min(16, (-math.log(u) * mL).toInt)
    }
    private val levels: Array[Int] =
      if (params.layered) Array.tabulate(n)(levelOf) else null
    // upper(i)(L-1) = node i's neighbors at layer L (1-based), allocated
    // lazily for level>=1 nodes only; degree cap m per upper layer
    private val upper: java.util.HashMap[Integer, Array[scala.collection.mutable.ArrayBuffer[Int]]] =
      if (params.layered) new java.util.HashMap() else null
    private val emptyNbrs = new scala.collection.mutable.ArrayBuffer[Int](0)
    private var entryNode = -1
    private var entryLevel = -1

    private def upperNbrsRead(i: Int, layer: Int): scala.collection.mutable.ArrayBuffer[Int] = {
      val a = upper.get(i)
      if (a == null || a.length < layer) emptyNbrs else a(layer - 1)
    }

    private def simBetween(a: Int, b: Int): Double = {
      evalsSelect += 1
      cos(store.vec(a), norms(a), b)
    }

    /** HNSW Algorithm-4 neighbor selection (the diversity heuristic):
      * walk candidates best-first and keep e only if e is more similar
      * to the anchor than to every already-kept neighbor. On clustered
      * manifolds plain nearest-m picks m same-cluster siblings and the
      * graph loses the cross-cluster links navigability needs — this is
      * the published fix (Malkov & Yashunin 2016 §4.2), and measured
      * here: without it layered recall trailed the stride probes 0.650
      * vs 0.750 on the 12k clustered shard. Candidates are (id, sim to
      * anchor) best-first; ties keep the candidate (strict >), so the
      * selection is deterministic. */
    private def selectHeuristicPairs(w: Array[(Int, Double)], cap: Int): Array[(Int, Double)] = {
      val r = new scala.collection.mutable.ArrayBuffer[(Int, Double)](cap)
      var i = 0
      while (i < w.length && r.length < cap) {
        val (e, simE) = w(i)
        var ok = true
        var j = 0
        while (ok && j < r.length) {
          if (simBetween(e, r(j)._1) > simE) ok = false
          j += 1
        }
        if (ok) r += ((e, simE))
        i += 1
      }
      r.toArray
    }

    private def selectHeuristic(w: Array[(Int, Double)], cap: Int): Array[Int] =
      selectHeuristicPairs(w, cap).map(_._1)

    /** Heuristic re-prune of a full adjacency list to `cap` (used when a
      * reciprocal link overflows a layered node's degree): score to the
      * anchor, order best-first, re-select with the diversity rule. */
    private def pruneHeuristic(ids: Seq[Int], from: Int, cap: Int): Array[Int] = {
      val v = store.vec(from)
      val nv = norms(from)
      evalsPrune += ids.length
      val scored = ids.map(nb => (nb, cos(v, nv, nb)))
        .sortWith((x, y) => better(x._2, x._1, y._2, y._1))
        .toArray
      selectHeuristic(scored, cap)
    }

    private def addUpperLink(from: Int, to: Int, layer: Int): Unit = {
      var a = upper.get(from)
      if (a == null) {
        a = Array.fill(levels(from))(
          new scala.collection.mutable.ArrayBuffer[Int](params.m + 1))
        upper.put(from, a)
      }
      val b = a(layer - 1)
      b += to
      if (b.length > params.m) {
        val kept = pruneHeuristic(b.toSeq, from, params.m)
        b.clear()
        b ++= kept
      }
    }

    /** ef=1 greedy walk at an upper layer: move to the best-improving
      * neighbor until none improves (the HNSW descent step). When
      * `record` is non-null every evaluated node is appended — the
      * serving path reuses those already-paid-for evaluations as extra
      * layer-0 beam seeds (diversity for zero additional evals). */
    private def greedyAt(q: Array[Double], qNorm: Double, start: Int,
        startSim: Double, layer: Int,
        record: scala.collection.mutable.ArrayBuffer[(Int, Double)] = null): (Int, Double) = {
      var cur = start
      var curSim = startSim
      var improved = true
      while (improved) {
        improved = false
        val nbrs = upperNbrsRead(cur, layer)
        var e = 0
        while (e < nbrs.length) {
          val nb = nbrs(e)
          val sim = cos(q, qNorm, nb)
          if (record != null) record += ((nb, sim))
          if (better(sim, nb, curSim, cur)) {
            cur = nb; curSim = sim; improved = true
          }
          e += 1
        }
      }
      (cur, curSim)
    }

    // ---- reusable beam state (r19): the beams used to allocate two
    // boxed-tuple PriorityQueues plus an n-bit BitSet PER CALL — one
    // call per insertion per layer, each enqueue boxing a (Double, Int)
    // tuple. The orderings are TOTAL (sim, then id — no two live entries
    // compare equal: ids are visited-deduped), so any correct binary
    // heap pops the identical sequence and the graphs stay bit-identical
    // (NswLayeredSpec / GraphAnnSpec / the oracled walks pin it). The
    // visited set is a generation-stamped int array: clear is one
    // counter bump, and a full-array reset only on the (effectively
    // unreachable) generation wraparound. State is THREAD-LOCAL:
    // resident serve graphs are searched by concurrent tasks (the eval
    // counters' scaladoc already admits that concurrency), and results
    // must never share mutable beam state across threads. A graph used
    // only to BUILD (or to link an append) drops its state when linking
    // ends ([[releaseBeamState]]): the ThreadLocal entry would otherwise
    // pin an n-int array per pooled executor thread until the map
    // expunges it, long after the build graph itself is garbage.
    private final class BeamState {
      beamStatesMade += 1
      val visitedGen = new Array[Int](n)
      var curGen = 0
      def nextGen(): Int = {
        curGen += 1
        if (curGen == 0) { java.util.Arrays.fill(visitedGen, 0); curGen = 1 }
        curGen
      }
      val cands = new PairHeap(64, max = true)
      val res = new PairHeap(64, max = false)
    }
    private val beamState =
      ThreadLocal.withInitial[BeamState](() => new BeamState)
    // BeamState allocations (racy counter, like evals) — GraphAnnProbe
    // reads it to pin that linking releases its state
    private[operators] var beamStatesMade = 0
    /** Drop this thread's beam state for this graph; the next search on
      * the thread allocates a fresh one. */
    def releaseBeamState(): Unit = beamState.remove()
    /** Binary heap over (sim, id) pairs in parallel primitive arrays.
      * `max = true` pops best-first ([[better]]); `max = false` pops
      * worst-first (the exact reverse) — matching the PriorityQueue
      * orderings they replace. */
    private final class PairHeap(initCap: Int, max: Boolean) {
      private var sims = new Array[Double](math.max(initCap, 8))
      private var ids = new Array[Int](math.max(initCap, 8))
      var size = 0
      def clear(): Unit = size = 0
      def nonEmpty: Boolean = size > 0
      def headSim: Double = sims(0)
      def headId: Int = ids(0)
      private def before(s1: Double, i1: Int, s2: Double, i2: Int): Boolean =
        if (max) better(s1, i1, s2, i2) else better(s2, i2, s1, i1)
      def enqueue(s: Double, i: Int): Unit = {
        if (size == sims.length) {
          sims = java.util.Arrays.copyOf(sims, size * 2)
          ids = java.util.Arrays.copyOf(ids, size * 2)
        }
        var c = size
        size += 1
        while (c > 0 && before(s, i, sims((c - 1) >> 1), ids((c - 1) >> 1))) {
          val p = (c - 1) >> 1
          sims(c) = sims(p); ids(c) = ids(p)
          c = p
        }
        sims(c) = s; ids(c) = i
      }
      /** Removes the head (call headSim/headId first). */
      def dequeue(): Unit = {
        size -= 1
        val s = sims(size); val i = ids(size)
        var c = 0
        var done = size == 0
        while (!done) {
          val l = 2 * c + 1
          if (l >= size) done = true
          else {
            val r = l + 1
            val m = if (r < size && before(sims(r), ids(r), sims(l), ids(l))) r else l
            if (before(sims(m), ids(m), s, i)) {
              sims(c) = sims(m); ids(c) = ids(m)
              c = m
            } else done = true
          }
        }
        sims(c) = s; ids(c) = i
      }
    }
    /** Best-first beam at one layer from pre-scored seeds — the layered
      * counterpart of [[search]]'s probe-seeded layer-0 beam, shared by
      * layered insertion (efConstruction) and serving (efSearch).
      * Duplicate seeds dedupe on the visited set; the result is
      * independent of seed order (all heap orders tie-break on id). */
    private def beamLayer(q: Array[Double], qNorm: Double,
        seeds: Array[(Int, Double)], ef: Int, layer: Int): Array[(Int, Double)] = {
      val st = beamState.get()
      val gen = st.nextGen()
      val visitedGen = st.visitedGen
      val cands = st.cands
      val res = st.res
      cands.clear(); res.clear()
      var si = 0
      while (si < seeds.length) {
        val (sid, ssim) = seeds(si)
        if (visitedGen(sid) != gen) {
          visitedGen(sid) = gen
          cands.enqueue(ssim, sid)
          res.enqueue(ssim, sid)
          if (res.size > ef) res.dequeue()
        }
        si += 1
      }
      while (cands.nonEmpty) {
        val csim = cands.headSim; val c = cands.headId
        cands.dequeue()
        if (res.size >= ef && !better(csim, c, res.headSim, res.headId)) {
          cands.clear()
        } else {
          val nbrs = if (layer == 0) null else upperNbrsRead(c, layer)
          val cnt = if (layer == 0) deg(c) else nbrs.length
          var e = 0
          while (e < cnt) {
            val nb = if (layer == 0) adj(c)(e) else nbrs(e)
            if (visitedGen(nb) != gen) {
              visitedGen(nb) = gen
              val sim = cos(q, qNorm, nb)
              if (res.size < ef || better(sim, nb, res.headSim, res.headId)) {
                cands.enqueue(sim, nb)
                res.enqueue(sim, nb)
                if (res.size > ef) res.dequeue()
              }
            }
            e += 1
          }
        }
      }
      val out = new Array[(Int, Double)](res.size)
      var oi = out.length - 1
      while (oi >= 0) {
        out(oi) = (res.headId, res.headSim)
        res.dequeue()
        oi -= 1
      }
      out
    }

    /** HNSW insertion: greedy-descend from the entry to layer lvl+1,
      * then beam+link at each layer lvl..0 (m links per layer, degree
      * caps m upper / 2m base). */
    private def insertLayered(i: Int): Unit = {
      val lvl = levels(i)
      val v = store.vec(i)
      val vn = norms(i)
      var cur = entryNode
      var curSim = cos(v, vn, cur)
      var l = entryLevel
      while (l > lvl) {
        val r = greedyAt(v, vn, cur, curSim, l)
        cur = r._1; curSim = r._2
        l -= 1
      }
      var lk = math.min(lvl, entryLevel)
      val efc = math.max(params.efConstruction, params.m)
      while (lk >= 1) {
        val w = beamLayer(v, vn, Array((cur, curSim)), efc, lk)
        val sel = selectHeuristic(w, params.m)
        var t = 0
        while (t < sel.length) {
          addUpperLink(i, sel(t), lk)
          addUpperLink(sel(t), i, lk)
          t += 1
        }
        if (w.nonEmpty) { cur = w(0)._1; curSim = w(0)._2 }
        lk -= 1
      }
      val nbrs = beamLayer(v, vn, Array((cur, curSim)), efc, 0)
      val sel0 = selectHeuristicPairs(nbrs, params.m)
      var t = 0
      while (t < sel0.length) {
        val (j, sj) = sel0(t)
        // sj = cos(v_i, v_j) from the beam; the fold is bit-symmetric
        // (commutative products, same summation order), so the
        // reciprocal link caches the identical double
        addLinkL(i, j, sj)
        addLinkL(j, i, sj)
        t += 1
      }
      if (lvl > entryLevel) { entryLevel = lvl; entryNode = i }
    }

    /** Layered search: greedy ef=1 descent entryLevel..1, then the
      * layer-0 beam seeded with the descended node PLUS every node the
      * descent already evaluated — those scores are paid for, and the
      * extra seeds restore the entry diversity the stride probes had
      * (poor seeds are popped once and never expanded, so they cost no
      * further evals). */
    private def searchLayered(q: Array[Double], ef: Int): Array[(Int, Double)] = {
      if (n == 0) return Array.empty
      var qn = 0.0
      var qi = 0
      while (qi < q.length) { qn += q(qi) * q(qi); qi += 1 }
      val qNorm = math.sqrt(qn)
      var cur = entryNode
      var curSim = cos(q, qNorm, cur)
      val seen = new scala.collection.mutable.ArrayBuffer[(Int, Double)](64)
      seen += ((cur, curSim))
      var l = entryLevel
      while (l >= 1) {
        val r = greedyAt(q, qNorm, cur, curSim, l, record = seen)
        cur = r._1; curSim = r._2
        l -= 1
      }
      beamLayer(q, qNorm, seen.toArray, ef, 0)
    }

    private def cos(q: Array[Double], qNorm: Double, i: Int): Double = {
      evalsCtr += 1
      store.dot(q, i) / (qNorm * norms(i))
    }

    /** (sim, id) max-first ordering with smaller-id tie-break — every heap
      * uses it, so equal scores resolve identically on any run. */
    private def better(s1: Double, i1: Int, s2: Double, i2: Int): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)

    /** Best-first beam search over the current graph. Flat mode seeds
      * the layer-0 beam from the stride-probe sample; layered mode
      * greedy-descends the HNSW hierarchy to a single layer-0 seed.
      * Returns up to `ef` (id, sim) pairs, best first. */
    def search(q: Array[Double], ef: Int): Array[(Int, Double)] = {
      if (params.layered) return searchLayered(q, ef)
      if (n == 0) return Array.empty
      var qn = 0.0
      var qi = 0
      while (qi < q.length) { qn += q(qi) * q(qi); qi += 1 }
      val qNorm = math.sqrt(qn)
      // same thread-local primitive beam state as [[beamLayer]] (r19):
      // candidate max-heap (better-first) and result min-heap (worst at
      // the head), total orders — pop sequences identical to the boxed
      // PriorityQueues these replace
      val st = beamState.get()
      val gen = st.nextGen()
      val visitedGen = st.visitedGen
      val cands = st.cands
      val res = st.res
      cands.clear(); res.clear()
      // entry: evaluate a deterministic stride sample of the built nodes
      // and seed the beam with all of them (best seeds steer; poor seeds
      // evict) — with probes=1 the sample is exactly {0}, the legacy
      // single-entry behavior
      val lim = frontier
      val nProbes =
        if (params.entryProbes > 0) math.min(params.entryProbes, lim)
        else math.min(lim, math.ceil(math.sqrt(lim.toDouble)).toInt).max(1)
      var p = 0
      while (p < nProbes) {
        val idx = ((p.toLong * lim) / nProbes).toInt
        if (visitedGen(idx) != gen) {
          visitedGen(idx) = gen
          val sp = cos(q, qNorm, idx)
          cands.enqueue(sp, idx)
          res.enqueue(sp, idx)
          if (res.size > ef) res.dequeue()
        }
        p += 1
      }
      while (cands.nonEmpty) {
        val csim = cands.headSim; val c = cands.headId
        cands.dequeue()
        if (res.size >= ef && !better(csim, c, res.headSim, res.headId)) {
          cands.clear() // no candidate can improve the result beam
        } else {
          var e = 0
          while (e < deg(c)) {
            val nb = adj(c)(e)
            if (visitedGen(nb) != gen) {
              visitedGen(nb) = gen
              val sim = cos(q, qNorm, nb)
              if (res.size < ef || better(sim, nb, res.headSim, res.headId)) {
                cands.enqueue(sim, nb)
                res.enqueue(sim, nb)
                if (res.size > ef) res.dequeue()
              }
            }
            e += 1
          }
        }
      }
      // drain the min-heap back-to-front so the result is best-first
      val out = new Array[(Int, Double)](res.size)
      var oi = out.length - 1
      while (oi >= 0) {
        out(oi) = (res.headId, res.headSim)
        res.dequeue()
        oi -= 1
      }
      out
    }

    private def addLink(from: Int, to: Int): Unit = {
      // flat-mode linking; layered links go through [[addLinkL]]
      adj(from)(deg(from)) = to
      deg(from) += 1
      if (deg(from) > maxDeg) {
        // prune to the maxDeg most similar neighbors (ties: smaller id)
        val v = store.vec(from)
        val nv = norms(from)
        val scored = (0 until deg(from)).map { e =>
          val nb = adj(from)(e)
          (cos(v, nv, nb), nb)
        }.sortWith((a, b) => better(a._1, a._2, b._1, b._2))
        var e = 0
        while (e < maxDeg) { adj(from)(e) = scored(e)._2; e += 1 }
        deg(from) = maxDeg
      }
    }

    /** The built adjacency as per-node local-index rows (for persisting —
      * [[NswIndex]] stores them keyed by vec_id). */
    def adjacencyRows: IndexedSeq[Array[Int]] = {
      require(!params.layered,
        "flat adjacencyRows on a layered graph loses the hierarchy; use layeredState")
      (0 until n).map(i => adj(i).take(deg(i)))
    }

    /** The built LAYERED graph for persisting: per-node (level, layer-0
      * adjacency, upper adjacency rows for layers 1..level), local
      * indexes. The [[NswIndex]] v3 layout stores these keyed by
      * vec_id. */
    def layeredState: IndexedSeq[(Int, Array[Int], Array[Array[Int]])] = {
      require(params.layered, "layeredState requires layered params")
      (0 until n).map { i =>
        (levels(i), adj(i).take(deg(i)),
          Array.tabulate(levels(i))(l => upperNbrsRead(i, l + 1).toArray))
      }
    }

    /** This graph re-based onto `store`, whose node j is this graph's
      * node `order(j)` — the servable copy a build or append publishes
      * (e.g. an [[Int8Vecs]] store in ascending vec_id order). Levels,
      * adjacency order and the restored entry are exactly what
      * [[withLayeredState]] / [[withAdjacency]] give a graph reloaded
      * from persisted rows in that order, so both walk identically. */
    def servable(store: VecStore, order: Array[Int]): Nsw = {
      require(store.n == n && order.length == n,
        s"servable: store ${store.n} / order ${order.length} != nodes $n")
      val inv = new Array[Int](n)
      var j = 0
      while (j < n) { inv(order(j)) = j; j += 1 }
      val out = new Nsw(store, params)
      if (params.layered)
        out.withLayeredState(order.toIndexedSeq.map { i =>
          (levels(i), adj(i).take(deg(i)).map(inv),
            Array.tabulate(levels(i))(l => upperNbrsRead(i, l + 1).toArray.map(inv)))
        })
      else out.withAdjacency(order.toIndexedSeq.map(i => adj(i).take(deg(i)).map(inv)))
    }

    /** Install a prebuilt LAYERED graph for the FIRST `state.length`
      * nodes (local indexes, same insertion order as `vecs`) — the
      * serve-from-disk and incremental-append start state for v3
      * indexes. Restored levels OVERRIDE the tabulated ones (an
      * interleaved-id append changes local indexes, so levels must
      * travel with the graph); suffix nodes keep their tabulated level,
      * which for ascending-id appends equals a full rebuild's. The
      * entry is recomputed as the FIRST node at the maximum restored
      * level — [[insertLayered]] advances the entry only on strictly
      * greater levels, so this is exactly the entry the original build
      * held. */
    def withLayeredState(state: IndexedSeq[(Int, Array[Int], Array[Array[Int]])]): this.type = {
      require(params.layered, "withLayeredState requires layered params")
      require(state.length <= n, s"layered state ${state.length} > nodes $n")
      var i = 0
      while (i < state.length) {
        val (lvl, base, uppers) = state(i)
        levels(i) = lvl
        require(base.length <= maxDeg, s"node $i degree ${base.length} > cap $maxDeg")
        System.arraycopy(base, 0, adj(i), 0, base.length)
        deg(i) = base.length
        require(uppers.length == lvl, s"node $i upper layers ${uppers.length} != level $lvl")
        if (lvl > 0) {
          upper.put(i, Array.tabulate(lvl) { l =>
            val b = new scala.collection.mutable.ArrayBuffer[Int](params.m + 1)
            b ++= uppers(l)
            b
          })
        }
        i += 1
      }
      var maxL = -1
      var first = 0
      i = 0
      while (i < state.length) {
        if (levels(i) > maxL) { maxL = levels(i); first = i }
        i += 1
      }
      entryNode = if (state.isEmpty) -1 else first
      entryLevel = maxL
      frontier = state.length
      this
    }

    /** Install a prebuilt adjacency (local indexes, same insertion order
      * as `vecs`), skipping [[build]] — the serve-from-disk path. */
    def withAdjacency(rows: IndexedSeq[Array[Int]]): this.type = {
      require(rows.length == n, s"adjacency rows ${rows.length} != nodes $n")
      withAdjacencyPrefix(rows)
    }

    /** Install a prebuilt adjacency for the FIRST `rows.length` nodes
      * only — the incremental-append start state: the old shard graph
      * occupies the prefix, [[insertFrom]] then links the suffix in. */
    def withAdjacencyPrefix(rows: IndexedSeq[Array[Int]]): this.type = {
      require(!params.layered,
        "layered graphs restore via withLayeredState (NswIndex v3), " +
          "not the flat adjacency prefix")
      require(rows.length <= n, s"adjacency rows ${rows.length} > nodes $n")
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        require(r.length <= maxDeg, s"node $i degree ${r.length} > cap $maxDeg")
        System.arraycopy(r, 0, adj(i), 0, r.length)
        deg(i) = r.length
        i += 1
      }
      this
    }

    /** Insert nodes [start, n) into the graph over [0, start) using the
      * standard NSW insertion (beam search for the m nearest, then
      * bidirectional links with degree pruning). `insertFrom(k)` on a
      * graph whose first k nodes were built in the same order is
      * IDENTICAL to a from-scratch [[build]] of all n — the append path
      * ([[NswIndex.append]]) relies on this for batch-build parity when
      * ingested ids ascend. */
    def insertFrom(start: Int): this.type = {
      if (params.layered) {
        // HNSW build: node 0 is the initial entry at its own level; the
        // hierarchy replaces the frontier/stride-probe machinery.
        // Prefix-append (start > 1) requires a restored layered state
        // ([[withLayeredState]]) so the hierarchy exists to insert into.
        if (n > 0 && entryNode < 0) {
          require(start <= 1,
            "layered prefix-append requires withLayeredState first")
          entryNode = 0; entryLevel = levels(0)
        }
        var i = math.max(start, 1)
        while (i < n) { insertLayered(i); i += 1 }
        frontier = n
        releaseBeamState()
        return this
      }
      var i = math.max(start, 1) // node 0 is the seed, never "inserted"
      while (i < n) {
        frontier = i // entry probes sample only the linked prefix
        val nbrs = search(store.vec(i), math.max(params.efConstruction, params.m))
        var t = 0
        while (t < params.m && t < nbrs.length) {
          val j = nbrs(t)._1
          addLink(i, j)
          addLink(j, i)
          t += 1
        }
        i += 1
      }
      frontier = n
      releaseBeamState()
      this
    }

    /** NSW construction: insert nodes in order, linking each to its `m`
      * nearest among the already-inserted (found via the beam search over
      * the partial graph — the graph bootstraps its own navigability). */
    def build(): this.type = insertFrom(1)
  }

  private val outSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  private val statsSchema = StructType(Seq(
    StructField("nodes", LongType, nullable = false),
    StructField("searches", LongType, nullable = false),
    StructField("evals", LongType, nullable = false)))

  /** Multi-query shard search: builds each shard's graph once, searches it
    * for EVERY query, and emits up to `kPerShard` (qid, vec_id, score)
    * rows per (shard, query). Callers merge globally (TakeOrderedAndProject
    * for one query, `graft_topk` per qid for batches). `queries` is
    * driver-side and broadcast-sized (a query batch, never the corpus).
    */
  def searchShards(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Seq[Double])],
      kPerShard: Int,
      params: Params = Params(),
      numShards: Int = 8): DataFrame = {
    val qArr = queries.map { case (qid, v) => (qid, v.toArray) }.toArray
    val bc = e.sparkSession.sparkContext.broadcast(qArr)
    e.select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .repartition(numShards, col("vec_id"))
      .mapPartitions { it =>
        val rows = it.map { r =>
          (r.getLong(0), r.getSeq[Double](1).toArray)
        }.toArray.sortBy(_._1) // deterministic insertion order
        if (rows.isEmpty) Iterator.empty
        else {
          val nsw = new Nsw(rows.map(_._2), params).build()
          // searched eagerly so the per-call graph's beam state is
          // released before the task moves on (it is never reused)
          val out = bc.value.flatMap { case (qid, q) =>
            nsw.search(q, math.max(params.efSearch, kPerShard))
              .take(kPerShard)
              .map { case (i, s) => Row(qid, rows(i)._1, s) }
          }
          nsw.releaseBeamState()
          out.iterator
        }
      }(Encoders.row(outSchema))
  }

  /** The entry-cost instrument behind q_v8d (VERDICT r6 next #5): same
    * shard build + searches as [[searchShards]], but emits ONE row per
    * non-empty shard — (nodes, searches, evals) where `evals` counts
    * distance evaluations across that shard's query searches (entry
    * probes included; build cost excluded). Deterministic (stride-probe
    * entries, Murmur3 shard assignment), so the sweep built on it is a
    * stable rows-only query, with no accumulator double-count risk under
    * task retry. */
  def shardSearchStats(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Seq[(Long, Seq[Double])],
      kPerShard: Int,
      params: Params = Params(),
      numShards: Int = 8): DataFrame = {
    val qArr = queries.map { case (qid, v) => (qid, v.toArray) }.toArray
    val bc = e.sparkSession.sparkContext.broadcast(qArr)
    e.select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .repartition(numShards, col("vec_id"))
      .mapPartitions { it =>
        val rows = it.map { r =>
          (r.getLong(0), r.getSeq[Double](1).toArray)
        }.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val nsw = new Nsw(rows.map(_._2), params).build()
          nsw.resetEvals()
          var searches = 0L
          bc.value.foreach { case (_, q) =>
            nsw.search(q, math.max(params.efSearch, kPerShard))
            searches += 1
          }
          nsw.releaseBeamState()
          Iterator.single(Row(rows.length.toLong, searches, nsw.evals))
        }
      }(Encoders.row(statsSchema))
  }

  /** Single-query top-k: per-shard NSW search + global k-heap merge. */
  def searchTopK(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      params: Params = Params(),
      numShards: Int = 8): DataFrame =
    searchShards(e, idCol, vecCol, Seq(0L -> query), k, params, numShards)
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("score"))
}
