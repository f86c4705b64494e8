package graft.index

import java.io._
import scala.collection.mutable

/** Per-level graph statistics, mirroring the reference's
  * `pragma_hnsw_index_info` output row
  * (reference src/hnsw/hnsw_index_pragmas.cpp:54-58). */
case class LevelStats(nodes: Long, edges: Long, maxEdges: Long, allocatedBytes: Long)

/** Growable primitive int list for neighbor storage. `ArrayBuffer[Int]`
  * boxes every element (generic backing array), which made each beam-search
  * visit allocate and unbox — neighbor lists are THE hot data structure of
  * both construct and search, so they live in flat int arrays. */
private[index] final class IntVec(initCap: Int = 8) extends Serializable {
  private var arr = new Array[Int](math.max(initCap, 4))
  private var n = 0
  def length: Int = n
  def apply(i: Int): Int = arr(i)
  def add(v: Int): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n << 1)
    arr(n) = v; n += 1
  }
  def clear(): Unit = n = 0
  def contains(v: Int): Boolean = {
    var i = 0
    while (i < n) { if (arr(i) == v) return true; i += 1 }
    false
  }
  def foreach(f: Int => Unit): Unit = {
    var i = 0
    while (i < n) { f(arr(i)); i += 1 }
  }
}

private[index] object IntVec {
  /** Shared immutable empty — returned for levels a node does not have. */
  val empty = new IntVec(4)
}

/** Binary heap over (distance, id) pairs in parallel primitive arrays —
  * no boxing, no tuple allocation. `min = true` → smallest distance on
  * top; `min = false` → largest. */
private[index] final class PairHeap(initCap: Int, min: Boolean) {
  private var ds = new Array[Double](math.max(initCap, 4))
  private var ids = new Array[Int](ds.length)
  private var n = 0
  def size: Int = n
  def topDist: Double = ds(0)
  def topId: Int = ids(0)
  private def before(a: Double, b: Double): Boolean = if (min) a < b else a > b
  def push(d: Double, id: Int): Unit = {
    if (n == ds.length) {
      ds = java.util.Arrays.copyOf(ds, n << 1)
      ids = java.util.Arrays.copyOf(ids, n << 1)
    }
    var i = n
    n += 1
    while (i > 0) {
      val p = (i - 1) >> 1
      if (before(d, ds(p))) { ds(i) = ds(p); ids(i) = ids(p); i = p }
      else { ds(i) = d; ids(i) = id; return }
    }
    ds(0) = d; ids(0) = id
  }
  def pop(): Unit = {
    n -= 1
    val d = ds(n)
    val id = ids(n)
    var i = 0
    var c = 1
    while (c < n) {
      if (c + 1 < n && before(ds(c + 1), ds(c))) c += 1
      if (before(ds(c), d)) { ds(i) = ds(c); ids(i) = ids(c); i = c; c = 2 * i + 1 }
      else c = n // settle here
    }
    if (n > 0) { ds(i) = d; ids(i) = id }
  }
}

/** A clean-room JVM implementation of the HNSW approximate-nearest-neighbor
  * graph (Malkov & Yashunin 2016, "Efficient and robust approximate nearest
  * neighbor search using Hierarchical Navigable Small World graphs").
  *
  * API mirrors the reference index surface (duckdb_vss `HNSWIndex`,
  * reference src/hnsw/hnsw_index.cpp:121-578): construct, search (ef_search),
  * insert, tombstone delete, compact, save/load, stats. Parameter names and
  * defaults follow the reference: M=16, M0=2·M, ef_construction=128,
  * ef_search=64 (reference src/include/usearch/index.hpp:1097-1125).
  *
  * Keys are engine rowids (Long). Level assignment is a seeded HASH of the
  * key (see levelFor): the same key set always yields the same levels, no
  * matter the insertion order or parallel interleaving — which, with the
  * capacity-padded artifact format, makes artifact size a pure function of
  * the indexed rows (the reclaim test's block-count invariant). The
  * structure is single-writer / multi-reader: searches are safe
  * concurrently with each other but not with add/remove (callers — the
  * engine's IndexCatalog — serialize mutation, as the reference does with
  * its rwlock, reference src/hnsw/hnsw_index.cpp:302,440).
  */
class HnswIndex(
    val dim: Int,
    val metric: String,
    val m: Int = 16,
    val m0: Int = 32,
    val efConstruction: Int = 128,
    var efSearch: Int = 64,
    seed: Long = 42L
) extends Serializable {
  require(dim > 0, "dimension must be positive")
  require(m >= 2 && m0 >= 2, "M and M0 must be at least 2")
  require(efConstruction >= 1 && efSearch >= 1, "ef parameters must be at least 1")
  require(DistanceKernels.forMetric(metric) != null)

  // static-dispatch distance: a Function2[Array[Float],Array[Float],Double]
  // field boxes its Double return on every call (the generic apply path) —
  // at ~1k distance evals per insert/search that allocation dominated the
  // construct phase. An int switch over the metric inlines to the concrete
  // kernels with primitive returns.
  @transient private lazy val metricId: Int = metric match {
    case "l2sq" => 0
    case "l2" => 1
    case "cosine" => 2
    case "ip" => 3
    case other => throw new IllegalArgumentException(s"Unknown metric '$other'")
  }
  private def dist(a: Array[Float], b: Array[Float]): Double =
    metricId match {
      case 0 => DistanceKernels.l2sq(a, b)
      case 1 => DistanceKernels.l2(a, b)
      case 2 => DistanceKernels.cosineDistance(a, b)
      case _ => -DistanceKernels.dot(a, b)
    }

  /** Navigation distance: float-accumulating kernels (SIMD when the JVM
    * has the vector module; ~3x faster than [[dist]] per call, measured).
    * Orders candidates in every beam — build, repair and query — but never
    * produces a returned distance: [[search]] rescores its result set with
    * the oracle-exact [[dist]]. */
  private def distB(a: Array[Float], b: Array[Float]): Double =
    metricId match {
      case 0 => DistanceKernels.l2sqF(a, b)
      case 1 => math.sqrt(DistanceKernels.l2sqF(a, b))
      case 2 => DistanceKernels.cosineDistanceF(a, b)
      case _ => -DistanceKernels.dotF(a, b)
    }

  private val mL: Double = 1.0 / math.log(m.toDouble)

  /** Level draw for a key: the paper's geometric draw, but from a splitmix64
    * hash of (seed, key) instead of a shared sequential RNG. Same marginal
    * distribution; the difference is that a node's level is a pure function
    * of its key, independent of insertion order and of parallel-build thread
    * interleaving — so rebuilding an index over the same key set yields the
    * same level assignment and (with the capacity-padded v2 artifact format)
    * byte-identical artifact SIZE, the invariant DuckDB's block manager
    * gives the reference's storage-reclaim test
    * (test/sql/slow/hnsw_reclaim_storage.test_slow: recreate must stay
    * within +5 blocks of the first build). */
  private def levelFor(key: Long): Int = {
    var z = seed ^ key
    z += 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    val u = ((z >>> 11).toDouble + 0.5) / 9007199254740992.0 // uniform (0,1)
    math.min(math.floor(-math.log(u) * mL).toInt, 63)
  }

  // node storage: internal id -> payload
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val nodeLevel = mutable.ArrayBuffer.empty[Int]
  // neighbors(id)(level) = flat int list of internal ids
  private val neighbors = mutable.ArrayBuffer.empty[Array[IntVec]]
  // `contains` reads this map while synchronized DML appends (the
  // searches-race-DML contract); measured clean over 337M racing lookups
  // against 2M resizing adds — zero misses of acknowledged keys, zero
  // exceptions (graft.index.ContainsRaceStress, test sources)
  private val keyToId = mutable.HashMap.empty[Long, Int]
  private val tombstones = mutable.BitSet.empty
  private var entryPoint: Int = -1
  private var topLevel: Int = -1

  def size: Int = keys.size - tombstones.size
  def deletedCount: Int = tombstones.size
  def contains(key: Long): Boolean =
    keyToId.get(key).exists(id => !tombstones.contains(id))

  private def maxNeighbors(level: Int): Int = if (level == 0) m0 else m

  // Guards concurrent build (addAll): searches run under the read lock,
  // graph mutation under the write lock — the JVM analog of the reference's
  // per-thread concurrent construct tasks + rwlock
  // (reference src/hnsw/hnsw_index_physical_create.cpp:231-306,
  // src/hnsw/hnsw_index.cpp:391-449).
  @transient private lazy val rwLock =
    new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Insert one vector online: a backlink that overflows its list is
    * pruned back to the level's cap at once, so the live graph holds lists
    * <= cap between any two inserts (the delta graph, single-graph INSERT,
    * streaming). Bulk construction goes through [[addAll]] instead.
    * NULL-skipping is the caller's job (the reference skips NULL vectors on
    * insert, reference src/hnsw/hnsw_index.cpp:437-439). */
  def add(key: Long, vec: Array[Float]): Unit = insert(key, vec, slack = 1)

  /** Lists may run to this many times their cap during a bulk build; the
    * build prunes every overflowed list once at its end ([[pruneOverflow]]).
    * The O(cap²)-distance heuristic prune on every saturated backlink was
    * the serial build's largest cost, and searches against an over-full
    * list only see extra routing edges. */
  private final val BulkSlack = 2

  /** One serial insert; a backlink list is pruned to cap once it grows past
    * `slack` × cap. */
  private def insert(key: Long, vec: Array[Float], slack: Int): Unit = {
    require(vec.length == dim, s"vector dimension ${vec.length} != index dimension $dim")
    if (keyToId.contains(key)) {
      throw new IllegalArgumentException(s"duplicate key $key")
    }
    val id = keys.size
    val level = levelFor(key)
    keys += key
    vecs += vec
    nodeLevel += level
    neighbors += Array.fill(level + 1)(new IntVec)
    keyToId(key) = id

    if (entryPoint < 0) {
      entryPoint = id
      topLevel = level
      return
    }

    planLinks(vec, level, self = -1).foreach { case (lev, selected) =>
      link(id, lev, selected, slack)
    }
    if (level > topLevel) {
      topLevel = level
      entryPoint = id
    }
  }

  /** The neighbours a vector of hashed `level` links to on each of its
    * levels over the current graph: greedy descent from the entry point,
    * then per level one `efConstruction` beam and the diversity heuristic,
    * with node `self` (-1: none) left out. Level 0 comes first. Shared by
    * the serial insert, the parallel build's searches and the tail heal. */
  private def planLinks(vec: Array[Float], level: Int,
      self: Int): List[(Int, List[(Double, Int)])] = {
    var ep = entryPoint
    var epDist = distB(vec, vecs(ep))
    // greedy descent through levels above the node's level
    var l = topLevel
    while (l > level) {
      var changed = true
      while (changed) {
        changed = false
        val nbrs = neighborsAt(ep, l)
        var i = 0
        while (i < nbrs.length) {
          val cand = nbrs(i)
          val d = distB(vec, vecs(cand))
          if (d < epDist) { ep = cand; epDist = d; changed = true }
          i += 1
        }
      }
      l -= 1
    }
    var lev = math.min(level, topLevel)
    var eps = List((epDist, ep))
    var acc: List[(Int, List[(Double, Int)])] = Nil
    while (lev >= 0) {
      val found = searchLayer(vec, eps, efConstruction, lev)
      val cands = if (self < 0) found else found.filterNot(_._2 == self)
      acc = (lev, selectNeighborsHeuristic(vec, cands, m, presorted = true)) :: acc
      eps = found
      lev -= 1
    }
    acc
  }

  /** Link node `id` both ways to `selected` on level `lev`, skipping edges
    * already present. A list longer than `slack` × the level's cap is pruned
    * back to the cap. */
  private def link(id: Int, lev: Int, selected: List[(Double, Int)],
      slack: Int): Unit = {
    val cap = maxNeighbors(lev)
    val own = neighbors(id)(lev)
    selected.foreach { case (_, nid) => if (!own.contains(nid)) own.add(nid) }
    if (own.length > cap * slack) pruneNeighbors(id, own, cap)
    selected.foreach { case (_, nid) =>
      val theirs = neighbors(nid)(lev)
      if (!theirs.contains(id)) {
        theirs.add(id)
        if (theirs.length > cap * slack) pruneNeighbors(nid, theirs, cap)
      }
    }
  }

  /** Bulk build: every graph construction over a batch of rows (CREATE
    * INDEX, executor shard builds, compaction rewrites, delta seals) comes
    * through here. Both branches let neighbour lists grow to
    * [[BulkSlack]] × cap while inserting, then prune every overflowed list
    * once ([[pruneOverflow]]) and run [[repairConnectivity]], so the graph
    * this returns holds lists <= cap, like one built by online [[add]]s.
    *
    * `numThreads <= 1` inserts serially. Above that, N threads pull from
    * `items` and insert concurrently. Each insert splits into three phases —
    * node allocation (write lock), beam search for neighbors (read lock,
    * the dominant cost, runs in parallel), and graph linking (write lock). A
    * node allocated but not yet linked is unreachable, so concurrent
    * searches never see a half-inserted node. Graph shape depends on thread
    * interleaving (level draws and insertion order), but search contracts
    * are unaffected: exact-search (ef >= N) results are identical, ANN
    * recall statistically equivalent. Mirrors the reference's
    * one-construct-task-per-scheduler-thread bulk build (reference
    * src/hnsw/hnsw_index_physical_create.cpp:283-306). */
  def addAll(items: Iterator[(Long, Array[Float])], numThreads: Int): Unit = {
    if (numThreads <= 1) {
      items.foreach { case (k, v) => insert(k, v, BulkSlack) }
      pruneOverflow(1)
      // serial inserts see every previous node (no invisibility window),
      // but pruning can still in principle strand a node; the O(edges)
      // check keeps the 0-orphan post-condition uniform across every bulk
      // entry point
      repairConnectivity()
      return
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(numThreads)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val lockObj = new Object
    // Batched pulls: each worker inserts BatchSize items per lock cycle
    // (one write-lock allocation, one read-lock search pass, one write-lock
    // link pass for the whole batch). Per-item lock acquisitions were the
    // scaling ceiling once the prune moved out of the lock — the rwLock's
    // CAS/queue traffic at ~3 acquisitions per insert throttled 16 threads
    // down to ~4×. Items within a batch don't see each other during their
    // search (they are unlinked and invisible), the standard parallel-HNSW
    // relaxation.
    val BatchSize = 8
    // Streaming block shuffle: batches draw RANDOM items from a bounded
    // buffer refilled from the input stream. The concurrent build's
    // in-flight windows are mutually invisible, so data arriving in a
    // CORRELATED order (sorted along a projection, cluster-by-cluster —
    // exactly how a partitioned or z-ordered corpus streams in) would make
    // every window a set of mutual nearest neighbors that never link to
    // each other; recall degraded to 0.89–0.94 on sorted axes at 16
    // threads even after the tail heal. Random draws from a ShuffleBuf-
    // item span put adjacent inputs ~ShuffleBuf apart in insertion time —
    // far beyond the threads×BatchSize in-flight window — for ANY input
    // order. A full Fisher–Yates pre-shuffle would do the same but needs
    // items.toArray, which SERIALIZES the row-decode that previously
    // overlapped with insertion (measured: 1M-row build throughput
    // 27k → 20k vec/s); the bounded buffer keeps the overlap AND the
    // O(buffer) driver-memory shape of the streaming path. Inputs
    // shorter than ShuffleBuf get a full uniform shuffle. Level draws are
    // key-hashed and the v2 format pads to capacity, so artifact size is
    // unaffected by order.
    val ShuffleBuf = 4096
    val shuffleBuf =
      new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](ShuffleBuf)
    val shuffleRnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 0x5DEECE66DL)
    def nextBatch(): Array[(Long, Array[Float])] = lockObj.synchronized {
      while (shuffleBuf.length < ShuffleBuf && items.hasNext)
        shuffleBuf += items.next()
      if (shuffleBuf.isEmpty) null
      else {
        val take = math.min(BatchSize, shuffleBuf.length)
        val out = new Array[(Long, Array[Float])](take)
        var i = 0
        while (i < take) {
          val j = shuffleRnd.nextInt(shuffleBuf.length)
          out(i) = shuffleBuf(j)
          // O(1) removal: swap-with-last
          shuffleBuf(j) = shuffleBuf(shuffleBuf.length - 1)
          shuffleBuf.remove(shuffleBuf.length - 1)
          i += 1
        }
        out
      }
    }
    // Flat-combining link stage. The previous design had every thread run
    // W(alloc) → R(search) → W(link) per 8-item batch: with a writer
    // queued on the ReentrantReadWriteLock, arriving readers PARK (the
    // non-fair anti-starvation rule), and at ≥8 threads there was always a
    // writer queued — measured 20k-row builds spent ~65 thread-seconds
    // parked per ~18 thread-seconds of actual search work, and throughput
    // was FLAT from 8 to 32 threads. Now builder threads only ever take
    // the READ lock (search + select are the dominant, parallel cost) and
    // enqueue their link plans; whichever thread trips the drain threshold
    // CASes itself combiner and applies alloc+link for EVERYONE's pending
    // plans under ONE write acquisition. Write acquisitions drop from
    // 2 per 8 items to 1 per ~DrainAt items (64×), so readers almost
    // never find a writer queued.
    //
    // Invisibility window: an item is searchable only after its combine,
    // so up to QueueCap + threads·BatchSize items can be mutually
    // invisible (vs threads·BatchSize before); the tail-window heal below
    // and the end-of-build relink/repair already cover exactly this class
    // of miss, and their window accounts for the queue.
    if (entryPoint < 0) {
      // seed: concurrent searches need an entry point before the pool starts
      val first = nextBatch()
      if (first == null) { pool.shutdown(); return }
      add(first(0)._1, first(0)._2)
      var i = 1
      while (i < first.length) { add(first(i)._1, first(i)._2); i += 1 }
    }
    val linkQueue = new java.util.concurrent.ConcurrentLinkedQueue[LinkPlan]()
    val pending = new java.util.concurrent.atomic.AtomicInteger(0)
    val combining = new java.util.concurrent.atomic.AtomicBoolean(false)
    // Both thresholds scale with the in-flight volume (threads × batch):
    // fixed values measured badly at 32 threads on 200k dim-64 rows.
    // Parking mechanics on the non-fair rwlock: each combine QUEUES a
    // writer, which must wait out every in-flight read batch (~26 ms at
    // efC=256), and while it waits EVERY arriving reader parks — so parked
    // time ≈ combines × threads × (batch hold)/2. DrainAt=64 meant a
    // combine every ~2 batches: 472-540 THREAD-SECONDS parked per 200k
    // build, 40%+ of all thread time (measured, buildPhaseNanos). Scaling
    // DrainAt with threads×batch makes combines ~32× rarer; the writer
    // drains a longer queue per acquisition (~5 µs/plan — still a short
    // hold). QueueCap (hard backpressure) must sit well above DrainAt or
    // the cap loop spin-yields (uncounted idle measured when batch grew
    // past a fixed cap). The cap still bounds the mutually-invisible
    // window; the tail heal below derives its window from the same
    // expression.
    // DrainAt = threads x batch, not higher: the drain cohort is a
    // mutually-INVISIBLE span (items combined together never searched each
    // other), and only the final cohort gets the tail heal — at 4x
    // threads*batch the q80-shape knn gate on a 200k M=32 build slipped to
    // 0.947 (vs 1.000 at tight cohorts), so the window is a recall knob,
    // not just a latency one. threads*batch keeps combines ~4x rarer than
    // the old fixed 64 (the parking reduction) at a cohort the implicit
    // mid-build heal still covers.
    val DrainAt = math.max(64, numThreads * BatchSize) // soft: trip a combine
    // 2x, not 4x: the cap feeds the tail-heal window below, and pending
    // rarely exceeds DrainAt anyway (combines fire there) — a looser cap
    // just made relinkTail re-search a wider window for nothing (measured
    // 5 s of tail at cap=4xDrainAt on a 200k build)
    val QueueCap = DrainAt * 2 // hard backpressure
    def tryCombine(): Boolean = {
      if (!combining.compareAndSet(false, true)) return false
      val w = rwLock.writeLock()
      try {
        if (linkQueue.isEmpty) return true
        var tq = System.nanoTime()
        w.lock()
        buildPhaseNanos.addAndGet(PhLinkWait, System.nanoTime() - tq)
        tq = System.nanoTime()
        try {
          var plan = linkQueue.poll()
          while (plan != null) {
            applyLinkPlan(plan)
            pending.decrementAndGet()
            plan = linkQueue.poll()
          }
        } finally {
          w.unlock()
          buildPhaseNanos.addAndGet(PhLinkHold, System.nanoTime() - tq)
        }
        true
      } finally combining.set(false)
    }
    (0 until numThreads).foreach { _ =>
      pool.execute(new Runnable {
        def run(): Unit = try {
          var batch = nextBatch()
          while (batch != null && err.get() == null) {
            val plans = searchBatchPlans(batch)
            var i = 0
            while (i < plans.length) { linkQueue.add(plans(i)); i += 1 }
            val p = pending.addAndGet(plans.length)
            if (p >= DrainAt) tryCombine()
            // hard cap: don't let the mutually-invisible window grow
            // unboundedly if combiners fall behind the searchers
            while (pending.get() >= QueueCap && err.get() == null) {
              if (!tryCombine()) Thread.`yield`()
            }
            batch = nextBatch()
          }
        } catch { case t: Throwable => err.compareAndSet(null, t) }
      })
    }
    pool.shutdown()
    // wait for ACTUAL termination — returning with builder threads alive
    // would let unlocked readers race in-flight inserts
    while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)) ()
    if (err.get() != null) throw err.get()
    // drain whatever the last workers enqueued (single-threaded now)
    while (!linkQueue.isEmpty) { if (!tryCombine()) Thread.`yield`() }
    if (err.get() != null) throw err.get()
    pruneOverflow(numThreads)
    // The final insertion window searched a snapshot missing its own
    // members — mid-build windows are healed implicitly (later inserts see
    // them and link bidirectionally), but nothing ever re-links the tail.
    // On adversarial orders (keys pre-sorted along one axis) the tail's
    // true nearest neighbors are EACH OTHER, so its nodes end up with only
    // backward long-range edges and search recall collapses at the hot
    // end. Re-run the link step for those ids against the now-complete
    // graph: O(window) searches, negligible against the build.
    // window covers the worst-case mutually-invisible span of the combining
    // design: a full queue plus every thread's in-flight batch (QueueCap by
    // name: raising the cap must widen the heal window with it)
    val tTail = System.nanoTime()
    val tailWindow =
      math.min(QueueCap + numThreads * BatchSize * 2, keys.size)
    relinkTail(keys.size - tailWindow, keys.size, numThreads)
    repairConnectivity()
    buildPhaseNanos.addAndGet(PhTail, System.nanoTime() - tTail)
  }

  /** Final prune sweep of a bulk build: every list past its level's cap is
    * pruned back to it once, with its full candidate set, restoring the
    * <= cap invariant online inserts maintain. Lock-free across
    * `numThreads` workers: inserting is done, and each worker prunes only
    * its own nodes' lists (reads of other nodes' vectors are immutable). */
  private def pruneOverflow(numThreads: Int): Unit = {
    val tSweep = System.nanoTime()
    val nNodes = keys.size
    def sweep(first: Int, step: Int): Unit = {
      var id = first
      while (id < nNodes) {
        val nb = neighbors(id)
        var l = 0
        while (l < nb.length) {
          val cap = maxNeighbors(l)
          if (nb(l).length > cap) pruneNeighbors(id, nb(l), cap)
          l += 1
        }
        id += step
      }
    }
    if (numThreads <= 1) sweep(0, 1)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(numThreads)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      (0 until numThreads).foreach { t =>
        pool.execute(new Runnable {
          def run(): Unit =
            try sweep(t, numThreads)
            catch { case th: Throwable => err.compareAndSet(null, th) }
        })
      }
      pool.shutdown()
      while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)) ()
      if (err.get() != null) throw err.get()
    }
    buildPhaseNanos.addAndGet(PhSweep, System.nanoTime() - tSweep)
  }

  /** Re-run the neighbor search + bidirectional link step for ids
    * [from, until) over the completed graph — the bulk build's tail-window
    * heal (see addAll). The searches (the dominant cost) run in parallel
    * over the frozen graph — every node is already allocated and linked,
    * so unlike the build's in-flight windows the plans can see each other's
    * nodes; only the link application mutates, and it runs single-threaded
    * afterward. Runs after the builder pool, so no lock is needed. */
  private def relinkTail(from: Int, until: Int, numThreads: Int = 1): Unit = {
    val lo = math.max(from, 0)
    val n = until - lo
    if (n <= 0) return
    def planFor(id: Int) = planLinks(vecs(id), nodeLevel(id), self = id)
    val plans = new Array[List[(Int, List[(Double, Int)])]](n)
    if (numThreads <= 1 || n < 64) {
      var i = 0
      while (i < n) { plans(i) = planFor(lo + i); i += 1 }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(numThreads)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      (0 until numThreads).foreach { t =>
        pool.execute(new Runnable {
          def run(): Unit = try {
            var i = t
            while (i < n && err.get() == null) { plans(i) = planFor(lo + i); i += numThreads }
          } catch { case th: Throwable => err.compareAndSet(null, th) }
        })
      }
      pool.shutdown()
      while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)) ()
      if (err.get() != null) throw err.get()
    }
    var i = 0
    while (i < n) {
      val id = lo + i
      plans(i).foreach { case (lev, selected) => link(id, lev, selected, slack = 1) }
      i += 1
    }
  }

  /** Post-bulk-build connectivity repair. The batched concurrent insert
    * keeps up to threads×BatchSize in-flight items mutually invisible
    * during their neighbor searches; on adversarial insert orders (keys
    * arriving pre-sorted along one axis — collinear data) the final wave's
    * forward links all point backward, and the end sweep then prunes away
    * the older nodes' only backlinks into that wave (the diversity
    * heuristic keeps no far "bridge" edge when a nearer kept neighbor
    * covers it), leaving the tail level-0 UNREACHABLE. That is not a
    * recall statistic — it is a hard disconnection: the beam terminates at
    * the reachable frontier no matter the ef (observed as the
    * hnsw_lateral_join_group replay returning neighbors ~90 ranks off,
    * roughly every other 16-thread build of 2k sorted collinear rows).
    *
    * Repair: BFS the level-0 graph from the entry point; every orphan gets
    * one PROTECTED in-edge from its nearest reachable node (found by a
    * beam constrained to reachable nodes, so the link always lands in the
    * main component). Protected edges survive later repair prunes, so one
    * pass converges; the next round's BFS verifies (3-round cap). Edges
    * land in capacity-padded slots (v2 artifact format), so artifact size
    * stays a pure function of the key set unless a single node holds more
    * than cap protected in-edges (pathological). Cost: O(edges) for the
    * BFS + one beam per orphan — microseconds against the build. */
  private[index] def repairConnectivity(): Unit = {
    val nNodes = keys.size
    if (nNodes == 0 || entryPoint < 0) return
    // per-anchor protected sets sized by MEMBER COUNT, not max id: a BitSet
    // here is O(maxOrphanId) bytes PER ANCHOR, which on a mass-orphan
    // repair (adversarial collinear input) multiplied out to gigabytes
    val protectedIn = mutable.HashMap.empty[Int, mutable.HashSet[Int]]
    var round = 0
    var orphansLeft = true
    while (orphansLeft && round < 3) {
      round += 1
      orphansLeft = false
      // iterative DFS over level-0 edges (explicit int stack, no recursion)
      val seen = new Array[Boolean](nNodes)
      var stackArr = new Array[Int](1024)
      var top = 0
      def push(v: Int): Unit = {
        if (top == stackArr.length)
          stackArr = java.util.Arrays.copyOf(stackArr, top << 1)
        stackArr(top) = v; top += 1
      }
      seen(entryPoint) = true
      push(entryPoint)
      while (top > 0) {
        top -= 1
        val cur = stackArr(top)
        val nb = neighbors(cur)(0)
        var i = 0
        while (i < nb.length) {
          val x = nb(i)
          if (!seen(x)) { seen(x) = true; push(x) }
          i += 1
        }
      }
      var u = 0
      while (u < nNodes) {
        if (!seen(u)) {
          orphansLeft = true
          linkOrphan(u, seen, protectedIn)
        }
        u += 1
      }
    }
  }

  /** Number of nodes NOT reachable from the entry point over level-0 edges
    * — 0 after any build (the repair pass's post-condition; spec-pinned).
    * Diagnostic for specs and `pragma_hnsw_index_info` consumers. */
  private[index] def levelZeroOrphanCount: Int = {
    val nNodes = keys.size
    if (nNodes == 0 || entryPoint < 0) return 0
    val seen = new Array[Boolean](nNodes)
    var stackArr = new Array[Int](1024)
    var top = 0
    def push(v: Int): Unit = {
      if (top == stackArr.length)
        stackArr = java.util.Arrays.copyOf(stackArr, top << 1)
      stackArr(top) = v; top += 1
    }
    seen(entryPoint) = true
    push(entryPoint)
    var reached = 1
    while (top > 0) {
      top -= 1
      val nb = neighbors(stackArr(top))(0)
      var i = 0
      while (i < nb.length) {
        val x = nb(i)
        if (!seen(x)) { seen(x) = true; reached += 1; push(x) }
        i += 1
      }
    }
    nNodes - reached
  }

  /** Number of neighbour lists longer than their level's cap — 0 whenever no
    * bulk build is in progress (spec-pinned). An over-full list would also
    * break the capacity-padded artifact size. */
  private[index] def overfullListCount: Int =
    neighbors.iterator.map { nb =>
      nb.indices.count(l => nb(l).length > maxNeighbors(l))
    }.sum

  /** Give level-0 orphan `u` one protected in-edge from its nearest
    * REACHABLE node. The descent and the level-0 beam only expand nodes
    * with `seen(id)`, so the chosen anchor is in the entry point's
    * component by construction. */
  private def linkOrphan(u: Int, seen: Array[Boolean],
      protectedIn: mutable.HashMap[Int, mutable.HashSet[Int]]): Unit = {
    val vec = vecs(u)
    var ep = entryPoint
    var epDist = distB(vec, vecs(ep))
    var l = topLevel
    while (l > 0) {
      var changed = true
      while (changed) {
        changed = false
        val nbrs = neighborsAt(ep, l)
        var i = 0
        while (i < nbrs.length) {
          val cand = nbrs(i)
          if (seen(cand)) {
            val d = distB(vec, vecs(cand))
            if (d < epDist) { ep = cand; epDist = d; changed = true }
          }
          i += 1
        }
      }
      l -= 1
    }
    val found = searchLayer(vec, List((epDist, ep)), efConstruction, 0,
      allowed = seen)
    found.headOption.foreach { case (_, r) =>
      val rList = neighbors(r)(0)
      val prot = protectedIn.getOrElseUpdate(r, mutable.HashSet.empty[Int])
      prot += u
      if (!rList.contains(u)) {
        rList.add(u)
        if (rList.length > m0) pruneNeighborsProtected(r, rList, m0, prot)
      }
      // forward edge u -> r (usually already present from the build search)
      val uList = neighbors(u)(0)
      if (!uList.contains(r)) {
        uList.add(r)
        if (uList.length > m0) pruneNeighborsProtected(u, uList, m0,
          protectedIn.getOrElse(u, mutable.HashSet.empty[Int]))
      }
    }
  }

  /** [[pruneNeighbors]] that force-keeps `prot` members: repair in-edges
    * must survive prunes triggered by later repairs of other orphans, or
    * one repaired tail node could re-orphan another. */
  private def pruneNeighborsProtected(nid: Int, nbrs: IntVec, cap: Int,
      prot: mutable.HashSet[Int]): Unit = {
    if (prot.isEmpty) { pruneNeighbors(nid, nbrs, cap); return }
    val nv = vecs(nid)
    var kept: List[(Double, Int)] = Nil
    var cands: List[(Double, Int)] = Nil
    var i = 0
    while (i < nbrs.length) {
      val x = nbrs(i)
      if (prot.contains(x)) kept = (distB(nv, vecs(x)), x) :: kept
      else cands = (distB(nv, vecs(x)), x) :: cands
      i += 1
    }
    val room = math.max(cap - kept.size, 0)
    val pruned = selectNeighborsHeuristic(nv, cands, room)
    nbrs.clear()
    kept.foreach { case (_, x) => nbrs.add(x) }
    pruned.foreach { case (_, x) => nbrs.add(x) }
  }

  /** A searched-but-not-yet-linked item: its key/vector, hashed level, and
    * the per-level selected neighbors (internal ids valid against the
    * snapshot the search ran on). Produced under the read lock by
    * [[searchBatchPlans]], applied under the write lock by a combiner
    * (see addAll's flat-combining link stage). */
  private final case class LinkPlan(key: Long, vec: Array[Float], level: Int,
      selected: List[(Int, List[(Double, Int)])])

  /** Build-phase telemetry (nanos summed across builder threads; wait =
    * time parked acquiring the lock, hold = time inside it; slots 0/1 are
    * the single-threaded WALL time of the post-pool tail — prune sweep and
    * relink+repair). Written by the concurrent build for a caller that
    * wants the phase split — steady-state cost is a handful of nanoTime
    * calls per batch/drain. */
  @transient lazy val buildPhaseNanos =
    new java.util.concurrent.atomic.AtomicLongArray(6)
  private final val PhSweep = 0; private final val PhTail = 1
  private final val PhSearchWait = 2; private final val PhSearchHold = 3
  private final val PhLinkWait = 4; private final val PhLinkHold = 5

  /** Beam-search + neighbor-select a batch over the read-locked snapshot —
    * the dominant cost of an insert, fully parallel across threads. The
    * items are NOT yet allocated (a combiner does that later), so no
    * self-exclusion is needed: an unallocated node cannot be found. */
  private def searchBatchPlans(
      batch: Array[(Long, Array[Float])]): Array[LinkPlan] = {
    val r = rwLock.readLock()
    val nb = batch.length
    val out = new Array[LinkPlan](nb)
    var tq = System.nanoTime()
    r.lock()
    buildPhaseNanos.addAndGet(PhSearchWait, System.nanoTime() - tq)
    tq = System.nanoTime()
    try {
      var i = 0
      while (i < nb) {
        val (key, vec) = batch(i)
        require(vec.length == dim,
          s"vector dimension ${vec.length} != index dimension $dim")
        val level = levelFor(key)
        out(i) = LinkPlan(key, vec, level, planLinks(vec, level, self = -1))
        i += 1
      }
    } finally { r.unlock(); buildPhaseNanos.addAndGet(PhSearchHold, System.nanoTime() - tq) }
    out
  }

  /** Allocate + link one planned item. Caller holds the WRITE lock.
    * Backlink lists may run to [[BulkSlack]] × cap (see [[addAll]]). */
  private def applyLinkPlan(plan: LinkPlan): Unit = {
    if (keyToId.contains(plan.key)) {
      throw new IllegalArgumentException(s"duplicate key ${plan.key}")
    }
    val id = keys.size
    val level = plan.level
    keys += plan.key
    vecs += plan.vec
    nodeLevel += level
    neighbors += Array.fill(level + 1)(new IntVec)
    keyToId(plan.key) = id
    plan.selected.foreach { case (lev, selected) => link(id, lev, selected, BulkSlack) }
    if (level > topLevel) {
      topLevel = level
      entryPoint = id
    }
  }

  /** Shrink `nbrs` (node `nid`'s level list) to `cap` with the diversity
    * heuristic — shared by the serial and concurrent insert paths. */
  private def pruneNeighbors(nid: Int, nbrs: IntVec, cap: Int): Unit = {
    val nv = vecs(nid)
    var cands: List[(Double, Int)] = Nil
    var i = 0
    while (i < nbrs.length) {
      val x = nbrs(i)
      cands = (distB(nv, vecs(x)), x) :: cands
      i += 1
    }
    val pruned = selectNeighborsHeuristic(nv, cands, cap)
    nbrs.clear()
    pruned.foreach { case (_, x) => nbrs.add(x) }
  }

  private def neighborsAt(id: Int, level: Int): IntVec = {
    val arr = neighbors(id)
    if (level < arr.length) arr(level) else IntVec.empty
  }

  /** Per-thread stamped visited set, reused across every searchLayer call:
    * `stamps(id) == epoch` means visited in the CURRENT search. A fresh
    * BitSet per beam search was O(maxId/8) bytes of allocation per call —
    * at 200k nodes that is ~25 KB × (levels × inserts) calls ≈ 10+ GB of
    * pure GC churn per bulk build, the dominant build-cost term a profiler
    * can't see in CPU samples. ThreadLocal because builds run the beam on
    * N threads concurrently (each thread's array grows to the node count
    * it has seen; epoch wrap resets to a zeroed array). */
  private final class VisitStamp {
    var stamps: Array[Int] = new Array[Int](1024)
    var epoch: Int = 0
    /** Start a new search over ids < n; returns the epoch to test with. */
    def begin(n: Int): Int = {
      if (stamps.length < n) {
        val grown = new Array[Int](math.max(n, stamps.length << 1))
        // fresh array is all-0; epoch below is >= 1, so nothing reads visited
        stamps = grown
      }
      epoch += 1
      if (epoch == Int.MaxValue) { // wrap: zeroed array restores the invariant
        stamps = new Array[Int](stamps.length)
        epoch = 1
      }
      epoch
    }
  }
  @transient private lazy val visitStamps =
    ThreadLocal.withInitial[VisitStamp](() => new VisitStamp)

  /** Best-first beam search on one layer (Algorithm 2 of the paper),
    * scored with the float [[distB]]. Returns the max-heap of up to ef
    * (distance, id) pairs, worst on top. `allowed` (nullable) restricts
    * expansion to flagged nodes — used by the connectivity repair to search
    * only the reachable component. */
  private def beam(q: Array[Float], entryPoints: List[(Double, Int)], ef: Int,
      level: Int, allowed: Array[Boolean] = null): PairHeap = {
    // Primitive parallel-array heaps (boxed tuple PriorityQueues allocated
    // per visited node and dominated the construct phase):
    // candidates = min-heap by distance, results = max-heap capped at ef.
    val vs = visitStamps.get()
    val epoch = vs.begin(keys.size)
    val stamps = vs.stamps
    // The stamp array is sized at begin(keys.size); an UNSYNCHRONIZED
    // concurrent add (driver-side delta insert racing a search on the same
    // graph) can surface node ids >= stamps.length mid-beam. Such nodes are
    // newer than this search's snapshot — treat them as not-visitable (the
    // pre-stamp BitSet merely raced here; an AIOOBE would be strictly worse).
    val bound = stamps.length
    val cand = new PairHeap(64, min = true)
    val res = new PairHeap(ef + 1, min = false)
    entryPoints.foreach { case (d, id) =>
      if (id < bound && stamps(id) != epoch) {
        stamps(id) = epoch
        cand.push(d, id)
        res.push(d, id)
      }
    }
    while (res.size > ef) res.pop()
    var done = false
    while (!done && cand.size > 0) {
      val cd = cand.topDist
      val c = cand.topId
      cand.pop()
      if (res.size >= ef && cd > res.topDist) {
        done = true
      } else {
        val nbrs = neighborsAt(c, level)
        var i = 0
        while (i < nbrs.length) {
          val nid = nbrs(i)
          if (nid < bound && stamps(nid) != epoch && (allowed == null || allowed(nid))) {
            stamps(nid) = epoch
            val d = distB(q, vecs(nid))
            if (res.size < ef || d < res.topDist) {
              cand.push(d, nid)
              res.push(d, nid)
              if (res.size > ef) res.pop()
            }
          }
          i += 1
        }
      }
    }
    res
  }

  /** [[beam]] as a (distance, id) list, ascending by float distance — the
    * build, relink and repair callers' form. */
  private def searchLayer(q: Array[Float], entryPoints: List[(Double, Int)], ef: Int,
      level: Int, allowed: Array[Boolean] = null): List[(Double, Int)] = {
    val res = beam(q, entryPoints, ef, level, allowed)
    // extract ascending by popping the max-heap back-to-front
    var out: List[(Double, Int)] = Nil
    while (res.size > 0) {
      out = (res.topDist, res.topId) :: out
      res.pop()
    }
    out
  }

  /** Neighbor selection with the paper's diversity heuristic (Algorithm 4):
    * keep a candidate only if it is closer to the query than to every
    * already-kept neighbor. */
  private def selectNeighborsHeuristic(q: Array[Float], candidates: List[(Double, Int)],
      k: Int, presorted: Boolean = false): List[(Double, Int)] = {
    // searchLayer output is already ascending — re-sorting a 256-element
    // list per (insert × level) was a measurable slice of the build's
    // search-phase time
    val sorted = if (presorted) candidates else candidates.sortBy(_._1)
    val kept = mutable.ArrayBuffer.empty[(Double, Int)]
    val it = sorted.iterator
    while (it.hasNext && kept.length < k) {
      val (d, id) = it.next()
      var diverse = true
      var i = 0
      while (diverse && i < kept.length) {
        if (distB(vecs(id), vecs(kept(i)._2)) < d) diverse = false
        i += 1
      }
      if (diverse) kept += ((d, id))
    }
    // backfill with closest discarded if under-full (paper's keepPruned variant)
    if (kept.length < k) {
      val have = kept.map(_._2).toSet
      sorted.iterator.filterNot(c => have.contains(c._2)).take(k - kept.length)
        .foreach(kept += _)
      kept.sortInPlaceBy(_._1)
    }
    kept.toList
  }

  /** Top-k ANN search. The descent and the level-0 beam navigate on the
    * float [[distB]]; the <= ef candidates the beam returns are then
    * rescored with the oracle-exact [[dist]] and ordered by (distance, key),
    * so every distance this returns is bit-identical to the
    * [[DistanceKernels]] value for that key. Tombstoned entries are filtered
    * from results (search visits them as routing nodes — same behavior as
    * tombstoned deletes in the reference, reference README.md:67). */
  def search(q: Array[Float], k: Int, ef: Int = -1): Array[(Long, Double)] = {
    require(q.length == dim, s"query dimension ${q.length} != index dimension $dim")
    if (entryPoint < 0) return Array.empty
    val effEf = math.max(if (ef > 0) ef else efSearch, k) + tombstones.size.min(64)
    // Near-exhaustive ef degenerates the beam search into an O(n log n)
    // priority-queue crawl over most of the graph; a linear scan with a
    // bounded top-k heap answers EXACTLY in O(n log k). Route at ef >=
    // n/4, not just ef >= n: a fixture-scale "exhaustive" pin (ef_search
    // 100000 on a 200k corpus) otherwise silently pays a 100k-wide beam —
    // measured 0.22 s/probe vs 14 ms for the scan — while returning the
    // approximate answer the pin meant to rule out. Below n/4 the beam's
    // sub-linear visit set wins; at or above it the scan is both faster
    // AND exact, so results can only improve.
    if (effEf.toLong * 4 >= keys.size) return linearScan(q, k)
    var ep = entryPoint
    var epDist = distB(q, vecs(ep))
    var l = topLevel
    while (l > 0) {
      var changed = true
      while (changed) {
        changed = false
        val nbrs = neighborsAt(ep, l)
        var i = 0
        while (i < nbrs.length) {
          val cand = nbrs(i)
          val d = distB(q, vecs(cand))
          if (d < epDist) { ep = cand; epDist = d; changed = true }
          i += 1
        }
      }
      l -= 1
    }
    val res = beam(q, List((epDist, ep)), effEf, 0)
    // Rescore the live candidates exactly. The max-heap pops worst first,
    // so filling back-to-front leaves them ascending by float distance:
    // exact rescoring only reorders near-ties, and the insertion sort by
    // (exact distance, key) runs in about one pass.
    val ds = new Array[Double](res.size)
    val ks = new Array[Long](res.size)
    var lo = res.size
    while (res.size > 0) {
      val id = res.topId
      res.pop()
      if (!tombstones.contains(id)) {
        lo -= 1
        ds(lo) = dist(q, vecs(id))
        ks(lo) = keys(id)
      }
    }
    var i = lo + 1
    while (i < ds.length) {
      val d = ds(i); val key = ks(i)
      var j = i - 1
      while (j >= lo && {
          val c = java.lang.Double.compare(ds(j), d)
          c > 0 || c == 0 && ks(j) > key
        }) {
        ds(j + 1) = ds(j); ks(j + 1) = ks(j); j -= 1
      }
      ds(j + 1) = d; ks(j + 1) = key
      i += 1
    }
    Array.tabulate(math.min(k, ds.length - lo))(r => (ks(lo + r), ds(lo + r)))
  }

  /** Exact brute-force top-k over all live nodes (bounded max-heap),
    * deterministic ties by (distance, key). */
  private def linearScan(q: Array[Float], k: Int): Array[(Long, Double)] = {
    implicit val worstFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = mutable.PriorityQueue.empty[(Double, Long)] // max-heap: worst on top
    // Racing-add bound (the linear-scan analog of searchLayer's visit-stamp
    // bound): a delta graph is searched while inserts append to `keys` and
    // `vecs`, and the two buffers advance at different instants — re-reading
    // `keys.size` per iteration can hand out an id whose `vecs` entry is not
    // appended yet (observed as a torn IndexOutOfBounds in the spill-race
    // spec). Snapshot ONE bound <= both sizes: growth is append-only, so
    // every id below it has fully-written entries in both buffers; rows
    // added mid-scan are legitimately invisible to this search.
    val n = math.min(keys.size, vecs.size)
    var id = 0
    while (id < n) {
      if (!tombstones.contains(id)) {
        val d = dist(q, vecs(id))
        val cand = (d, keys(id))
        if (heap.size < k) heap.enqueue(cand)
        else if (worstFirst.compare(cand, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(cand)
        }
      }
      id += 1
    }
    heap.toArray.sorted.map { case (d, key) => (key, d) }
  }

  /** Tombstone delete by key (reference src/hnsw/hnsw_index.cpp:466-482).
    * Returns true if the key was present. */
  def remove(key: Long): Boolean = keyToId.get(key) match {
    case Some(id) if !tombstones.contains(id) =>
      tombstones += id
      keyToId.remove(key)
      true
    case _ => false
  }

  /** Visit every live (key, vector) pair — tombstoned nodes skipped. */
  def forEachLive(f: (Long, Array[Float]) => Unit): Unit = {
    var id = 0
    while (id < keys.size) {
      if (!tombstones.contains(id)) f(keys(id), vecs(id))
      id += 1
    }
  }

  /** Rebuild without tombstoned entries (the reference's
    * `PRAGMA hnsw_compact_index`, reference src/hnsw/hnsw_index_pragmas.cpp:154-197).
    * The rebuild reuses the parallel construct phase (numThreads > 1). */
  def compact(numThreads: Int = 1): HnswIndex = {
    val fresh = new HnswIndex(dim, metric, m, m0, efConstruction, efSearch, seed)
    val live = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    forEachLive((key, vec) => live += ((key, vec)))
    fresh.addAll(live.iterator, numThreads)
    fresh
  }

  def levels: Int = topLevel + 1

  def levelStats: Seq[LevelStats] = {
    (0 to topLevel).map { l =>
      var nodes = 0L; var edges = 0L
      var id = 0
      while (id < keys.size) {
        if (nodeLevel(id) >= l) {
          nodes += 1
          edges += neighbors(id)(l).length
        }
        id += 1
      }
      val bytes = nodes * (8L + 4L * dim + 4L * maxNeighbors(l))
      LevelStats(nodes, edges, nodes * maxNeighbors(l), bytes)
    }
  }

  def approxMemoryBytes: Long = levelStats.map(_.allocatedBytes).sum

  def capacity: Long = {
    // next power of two >= size, matching the reference's growth policy
    // (reference src/hnsw/hnsw_index.cpp:422-431)
    var c = 1L
    while (c < keys.size.max(1)) c <<= 1
    c
  }

  // --- persistence (reference PersistToDisk, src/hnsw/hnsw_index.cpp:510-532;
  // here: one artifact file per index instead of block-manager blocks) ---

  def save(path: String): Unit = {
    // Hadoop FS (not java.nio): artifacts live wherever graft.indexes.dir
    // points — file:, hdfs://, s3a:// — and parents are created by create()
    val out = new DataOutputStream(new BufferedOutputStream(ArtifactIO.create(path)))
    try {
      out.writeInt(0x484E5357) // "HNSW"
      // v2: neighbor lists are padded to the level's capacity (m0 at level
      // 0, m above), mirroring the reference's block-manager allocation
      // (usearch pre-sizes slots by capacity, not live edges) — with the
      // key-hash level draw, artifact SIZE becomes a pure function of the
      // key set, which the reclaim test's +5-block recreate bound needs.
      out.writeInt(2)
      out.writeInt(dim); out.writeUTF(metric)
      out.writeInt(m); out.writeInt(m0); out.writeInt(efConstruction); out.writeInt(efSearch)
      out.writeInt(keys.size); out.writeInt(entryPoint); out.writeInt(topLevel)
      var id = 0
      while (id < keys.size) {
        out.writeLong(keys(id))
        out.writeInt(nodeLevel(id))
        val v = vecs(id); var i = 0
        while (i < dim) { out.writeFloat(v(i)); i += 1 }
        val nb = neighbors(id)
        var l = 0
        while (l < nb.length) {
          val cap = maxNeighbors(l)
          out.writeInt(nb(l).length)
          nb(l).foreach(out.writeInt)
          var pad = nb(l).length
          while (pad < cap) { out.writeInt(-1); pad += 1 }
          l += 1
        }
        id += 1
      }
      out.writeInt(tombstones.size)
      tombstones.foreach(out.writeInt)
    } finally out.close()
  }
}

object HnswIndex {
  def load(path: String): HnswIndex = {
    val in = new DataInputStream(new BufferedInputStream(ArtifactIO.open(path)))
    try {
      require(in.readInt() == 0x484E5357, s"$path is not an HNSW index artifact")
      val version = in.readInt()
      require(version == 1 || version == 2, "unsupported index version")
      val dim = in.readInt(); val metric = in.readUTF()
      val m = in.readInt(); val m0 = in.readInt()
      val efc = in.readInt(); val efs = in.readInt()
      val idx = new HnswIndex(dim, metric, m, m0, efc, efs)
      val n = in.readInt(); val ep = in.readInt(); val tl = in.readInt()
      var id = 0
      while (id < n) {
        val key = in.readLong()
        val level = in.readInt()
        val v = new Array[Float](dim)
        var i = 0
        while (i < dim) { v(i) = in.readFloat(); i += 1 }
        idx.keys += key
        idx.vecs += v
        idx.nodeLevel += level
        val nb = Array.fill(level + 1)(new IntVec)
        var l = 0
        while (l <= level) {
          val cnt = in.readInt()
          var j = 0
          while (j < cnt) { nb(l).add(in.readInt()); j += 1 }
          // v2 pads each list to the level capacity (see save)
          if (version >= 2) {
            val cap = if (l == 0) m0 else m
            var pad = cnt
            while (pad < cap) { in.readInt(); pad += 1 }
          }
          l += 1
        }
        idx.neighbors += nb
        idx.keyToId(key) = id
        id += 1
      }
      idx.entryPoint = ep
      idx.topLevel = tl
      val nTomb = in.readInt()
      var t = 0
      while (t < nTomb) {
        val tid = in.readInt()
        idx.tombstones += tid
        // A key deleted then re-added before save stores two nodes with the
        // same key (one tombstoned). Only drop the mapping when it still
        // points at the tombstoned node — otherwise the live newer node would
        // lose its mapping and the key could be added a third time.
        if (idx.keyToId.get(idx.keys(tid)).contains(tid)) {
          idx.keyToId.remove(idx.keys(tid))
        }
        t += 1
      }
      idx
    } finally in.close()
  }
}
