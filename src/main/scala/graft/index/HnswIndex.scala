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
  * matter the insertion order — which, with the capacity-padded artifact
  * format, makes artifact size a pure function of the indexed rows (the
  * reclaim test's block-count invariant). The
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
    * of its key, independent of insertion order — so rebuilding an index
    * over the same key set yields the same level assignment and (with the
    * capacity-padded v2 artifact format) byte-identical artifact SIZE, the
    * invariant DuckDB's block manager gives the reference's storage-reclaim
    * test (test/sql/slow/hnsw_reclaim_storage.test_slow: recreate must stay
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

  /** Insert one vector online: a backlink that overflows its list is
    * pruned back to the level's cap at once, so the live graph holds lists
    * <= cap between any two inserts (the delta graph, single-graph INSERT,
    * streaming). Bulk construction goes through [[addAll]] instead.
    * NULL-skipping is the caller's job (the reference skips NULL vectors on
    * insert, reference src/hnsw/hnsw_index.cpp:437-439). */
  def add(key: Long, vec: Array[Float]): Unit = {
    val id = allocate(key, vec)
    val plan = planLinks(id, peersFrom = id)
    var lev = 0
    while (lev < plan.length) {
      val cap = maxNeighbors(lev)
      plan(lev).foreach { case (_, nid) =>
        addEdge(id, nid, lev, cap)
        addEdge(nid, id, lev, cap)
      }
      lev += 1
    }
    promote(id)
  }

  /** Append node storage for `key` with empty neighbour lists. Nothing
    * links to the node yet, so no search can reach it. */
  private def allocate(key: Long, vec: Array[Float]): Int = {
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
    id
  }

  /** Make linked node `id` the entry point if the graph has none or `id`
    * tops it. */
  private def promote(id: Int): Unit =
    if (entryPoint < 0 || nodeLevel(id) > topLevel) {
      entryPoint = id
      topLevel = nodeLevel(id)
    }

  /** Add edge `from -> to` on level `lev` unless present. A list that grows
    * past `limit` is pruned back to the level's cap. */
  private def addEdge(from: Int, to: Int, lev: Int, limit: Int): Unit = {
    val list = neighbors(from)(lev)
    if (!list.contains(to)) {
      list.add(to)
      if (list.length > limit) pruneNeighbors(from, list, maxNeighbors(lev))
    }
  }

  /** The neighbours allocated node `id` links to on each of its levels
    * (indexed by level): greedy descent from the entry point, then per
    * level one `efConstruction` beam over the linked graph and the
    * diversity heuristic. The unlinked nodes [peersFrom, id) — the earlier
    * members of the same bulk round — are candidates too, by brute force.
    * Reads the graph only, so the members of a round plan in parallel. */
  private def planLinks(id: Int, peersFrom: Int): Array[List[(Double, Int)]] = {
    val vec = vecs(id)
    val level = nodeLevel(id)
    val plan = new Array[List[(Double, Int)]](level + 1)
    var eps = if (entryPoint < 0) Nil else List(descend(vec, level))
    var lev = level
    while (lev >= 0) {
      val found = if (lev > topLevel) Nil else searchLayer(vec, eps, efConstruction, lev)
      plan(lev) = selectNeighborsHeuristic(vec,
        withPeers(vec, found, lev, peersFrom, id), m, presorted = true)
      if (found.nonEmpty) eps = found
      lev -= 1
    }
    plan
  }

  /** `found` (ascending) with the round peers [from, until) that reach
    * level `lev` merged in. A full beam already holds its `efConstruction`
    * best, so then only peers nearer than its worst entry are kept. */
  private def withPeers(vec: Array[Float], found: List[(Double, Int)], lev: Int,
      from: Int, until: Int): List[(Double, Int)] = {
    val worst =
      if (found.lengthCompare(efConstruction) >= 0) found.last._1
      else Double.PositiveInfinity
    var peers: List[(Double, Int)] = Nil
    var j = from
    while (j < until) {
      if (nodeLevel(j) >= lev) {
        val d = distB(vec, vecs(j))
        if (d < worst) peers = (d, j) :: peers
      }
      j += 1
    }
    if (peers.isEmpty) return found
    val out = List.newBuilder[(Double, Int)]
    var a = found
    var b = peers.sortBy(_._1)
    while (a.nonEmpty && b.nonEmpty) {
      if (b.head._1 < a.head._1) { out += b.head; b = b.tail }
      else { out += a.head; a = a.tail }
    }
    out ++= a
    out ++= b
    out.result()
  }

  /** Lists may run to this many times their cap during a bulk build; the
    * build prunes every overflowed list once at its end ([[pruneOverflow]]).
    * The O(cap²)-distance heuristic prune on every saturated backlink was
    * the serial build's largest cost, and searches against an over-full
    * list only see extra routing edges. */
  private final val BulkSlack = 2

  /** Members per bulk-build round. A constant, not a knob: the graph a bulk
    * build returns is a function of it. At 64 a member's brute-force pass
    * over its earlier round peers stays small next to its beam. */
  private final val RoundSize = 64

  /** Rows the bulk build's streaming block shuffle draws from. */
  private final val ShuffleBuf = 4096

  /** Bulk build: every graph construction over a batch of rows (CREATE
    * INDEX, executor shard builds, compaction rewrites, delta seals) comes
    * through here. The graph it returns is a pure function of the graph it
    * started from, the rows in input order, the seed and the knobs; the
    * thread count changes only the wall time.
    *
    * Rows go in rounds of [[RoundSize]], in a seeded order ([[shuffled]]).
    * A round allocates its members in order, then:
    *  1. each member plans its links ([[planLinks]]) in parallel against
    *     the graph as it stood before the round, which is read-only here,
    *     and against the round's earlier members by brute force;
    *  2. the links are applied by `numThreads` workers, each owning the
    *     lists of nodes `id % numThreads`. Every worker scans the round in
    *     order, so each list sees the same appends and prunes whatever the
    *     partition. Lists may grow to [[BulkSlack]] × cap here;
    *  3. the entry point is promoted in round order.
    * Then every overflowed list is pruned once ([[pruneOverflow]]) and
    * [[repairConnectivity]] runs, so the graph holds lists <= cap and no
    * level-0 orphan. This is the round-based batch insert of ParlayANN
    * (Manohar et al., PPoPP 2024) applied to the reference's parallel
    * construct (reference src/hnsw/hnsw_index_physical_create.cpp:283-306). */
  def addAll(items: Iterator[(Long, Array[Float])], numThreads: Int): Unit = {
    val threads = math.max(1, numThreads)
    val pool =
      if (threads > 1) java.util.concurrent.Executors.newFixedThreadPool(threads) else null
    try {
      val rows = shuffled(items)
      val plans = new Array[Array[List[(Double, Int)]]](RoundSize)
      while (rows.hasNext) {
        val from = keys.size
        while (keys.size - from < RoundSize && rows.hasNext) {
          val (key, vec) = rows.next()
          allocate(key, vec)
        }
        val until = keys.size
        val t0 = System.nanoTime()
        val next = new java.util.concurrent.atomic.AtomicInteger(from)
        onThreads(pool, threads) { _ =>
          var id = next.getAndIncrement()
          while (id < until) {
            plans(id - from) = planLinks(id, from)
            id = next.getAndIncrement()
          }
        }
        val t1 = System.nanoTime()
        onThreads(pool, threads) { part =>
          var id = from
          while (id < until) {
            val plan = plans(id - from)
            var lev = 0
            while (lev < plan.length) {
              val limit = maxNeighbors(lev) * BulkSlack
              plan(lev).foreach { case (_, nid) =>
                if (id % threads == part) addEdge(id, nid, lev, limit)
                if (nid % threads == part) addEdge(nid, id, lev, limit)
              }
              lev += 1
            }
            id += 1
          }
        }
        var id = from
        while (id < until) { promote(id); id += 1 }
        buildPhaseNanos.addAndGet(PhSearch, t1 - t0)
        buildPhaseNanos.addAndGet(PhLink, System.nanoTime() - t1)
      }
      val t2 = System.nanoTime()
      pruneOverflow(pool, threads)
      repairConnectivity()
      buildPhaseNanos.addAndGet(PhPrune, System.nanoTime() - t2)
    } finally if (pool != null) pool.shutdown()
  }

  /** `items` in a seeded order: each row is drawn at random from a buffer
    * of up to [[ShuffleBuf]] rows refilled from the stream, so rows adjacent
    * in the input land ~ShuffleBuf apart in build order however the input
    * is sorted or clustered. A full pre-shuffle would need `items.toArray`,
    * which gives up the overlap with the row decode upstream and the
    * O(buffer) memory of a streamed build. Inputs shorter than ShuffleBuf
    * get a full uniform shuffle. */
  private def shuffled(items: Iterator[(Long, Array[Float])]): Iterator[(Long, Array[Float])] =
    new Iterator[(Long, Array[Float])] {
      private val buf = new mutable.ArrayBuffer[(Long, Array[Float])](ShuffleBuf)
      private val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 0x5DEECE66DL)
      def hasNext: Boolean = buf.nonEmpty || items.hasNext
      def next(): (Long, Array[Float]) = {
        while (buf.length < ShuffleBuf && items.hasNext) buf += items.next()
        val j = rnd.nextInt(buf.length)
        val row = buf(j)
        buf(j) = buf.last // O(1) removal: swap with the last
        buf.remove(buf.length - 1)
        row
      }
    }

  /** Run `body(part)` for every part in [0, parts) on `pool`, or inline
    * when `pool` is null, and return once every part has finished,
    * rethrowing the first failure. */
  private def onThreads(pool: java.util.concurrent.ExecutorService, parts: Int)(
      body: Int => Unit): Unit =
    if (pool == null) body(0)
    else {
      val done = (0 until parts).map(p => pool.submit(new Runnable { def run(): Unit = body(p) }))
      var err: Throwable = null
      done.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => if (err == null) err = e.getCause }
      }
      if (err != null) throw err
    }

  /** Final prune sweep of a bulk build: every list past its level's cap is
    * pruned back to it once, with its full candidate set, restoring the
    * <= cap invariant online inserts maintain. Each part prunes only its
    * own nodes' lists and reads only the immutable vectors of others. */
  private def pruneOverflow(pool: java.util.concurrent.ExecutorService, parts: Int): Unit =
    onThreads(pool, parts) { part =>
      var id = part
      while (id < keys.size) {
        val nb = neighbors(id)
        var l = 0
        while (l < nb.length) {
          val cap = maxNeighbors(l)
          if (nb(l).length > cap) pruneNeighbors(id, nb(l), cap)
          l += 1
        }
        id += parts
      }
    }

  /** Connectivity repair, the last step of every bulk build. Pruning an
    * over-full list can drop a node's only in-edge: on collinear input,
    * where the diversity heuristic keeps no far "bridge" edge when a nearer
    * kept neighbour covers it, whole stretches of level 0 were left
    * UNREACHABLE. That is not a recall statistic — it is a hard
    * disconnection: the beam terminates at the reachable frontier no matter
    * the ef (observed as the hnsw_lateral_join_group replay returning
    * neighbors ~90 ranks off on 2k sorted collinear rows).
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
    val found = searchLayer(vec, List(descend(vec, 0, seen)), efConstruction, 0,
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

  /** Bulk-build phase split in wall nanoseconds, summed over this graph's
    * [[addAll]] calls: slot 0 plans the rounds' links (beam searches and
    * neighbour selection), slot 1 applies them, slot 2 is the closing
    * prune and connectivity repair. Added to once per round. */
  @transient lazy val buildPhaseNanos =
    new java.util.concurrent.atomic.AtomicLongArray(3)
  private final val PhSearch = 0; private final val PhLink = 1; private final val PhPrune = 2

  /** Shrink `nbrs` (node `nid`'s level list) to `cap` with the diversity
    * heuristic — shared by online inserts and the bulk build. */
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

  /** Greedy descent from the entry point to `level`: on each level above
    * it, move to a nearer neighbour until none is nearer. `allowed`
    * (nullable) restricts the moves to flagged nodes. */
  private def descend(q: Array[Float], level: Int,
      allowed: Array[Boolean] = null): (Double, Int) = {
    var ep = entryPoint
    var epDist = distB(q, vecs(ep))
    var l = topLevel
    while (l > level) {
      var changed = true
      while (changed) {
        changed = false
        val nbrs = neighborsAt(ep, l)
        var i = 0
        while (i < nbrs.length) {
          val cand = nbrs(i)
          if (allowed == null || allowed(cand)) {
            val d = distB(q, vecs(cand))
            if (d < epDist) { ep = cand; epDist = d; changed = true }
          }
          i += 1
        }
      }
      l -= 1
    }
    (epDist, ep)
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
    * only the reachable component. An `excluded` (nullable) node still
    * routes (it is scored and queued as a candidate) but never enters the
    * result heap, whose worst LIVE entry the stop and push tests read:
    * hnswlib's `isMarkedDeleted` rule. */
  private def beam(q: Array[Float], entryPoints: List[(Double, Int)], ef: Int,
      level: Int, allowed: Array[Boolean] = null,
      excluded: Int => Boolean = null): PairHeap = {
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
        if (excluded == null || !excluded(id)) res.push(d, id)
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
              if (excluded == null || !excluded(nid)) {
                res.push(d, nid)
                if (res.size > ef) res.pop()
              }
            }
          }
          i += 1
        }
      }
    }
    res
  }

  /** [[beam]] as a (distance, id) list, ascending by float distance — the
    * build and repair callers' form. */
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

  /** Top-k ANN search. Deleted nodes (tombstones, and the nodes whose keys
    * are in `excludedKeys`) route the beam but never take a result slot
    * ([[beam]]; the reference's tombstone delete, reference README.md:67).
    * The descent and the level-0 beam navigate on the float [[distB]]; the
    * <= ef live candidates the beam returns are then rescored with the
    * oracle-exact [[dist]] and ordered by (distance, key), so every distance
    * this returns is bit-identical to the [[DistanceKernels]] value. */
  def search(q: Array[Float], k: Int, ef: Int = -1,
      excludedKeys: java.util.Set[java.lang.Long] = null): Array[(Long, Double)] = {
    require(q.length == dim, s"query dimension ${q.length} != index dimension $dim")
    if (entryPoint < 0) return Array.empty
    val excluded: Int => Boolean =
      if (excludedKeys != null) id => tombstones.contains(id) || excludedKeys.contains(keys(id))
      else if (tombstones.nonEmpty) tombstones.contains
      else null
    val effEf = math.max(if (ef > 0) ef else efSearch, k)
    // Near-exhaustive ef degenerates the beam search into an O(n log n)
    // priority-queue crawl over most of the graph; a linear scan with a
    // bounded top-k heap answers EXACTLY in O(n log k). Route at ef >=
    // n/4, not just ef >= n: a fixture-scale "exhaustive" pin (ef_search
    // 100000 on a 200k corpus) otherwise silently pays a 100k-wide beam —
    // measured 0.22 s/probe vs 14 ms for the scan — while returning the
    // approximate answer the pin meant to rule out. Below n/4 the beam's
    // sub-linear visit set wins; at or above it the scan is both faster
    // AND exact, so results can only improve.
    if (effEf.toLong * 4 >= keys.size) return linearScan(q, k, excluded)
    val res = beam(q, List(descend(q, 0)), effEf, 0, excluded = excluded)
    // Rescore exactly. The max-heap pops worst first, so filling
    // back-to-front leaves the candidates ascending by float distance:
    // exact rescoring only reorders near-ties, and the insertion sort by
    // (exact distance, key) runs in about one pass.
    val n = res.size
    val ds = new Array[Double](n)
    val ks = new Array[Long](n)
    var i = n
    while (i > 0) {
      i -= 1
      ds(i) = dist(q, vecs(res.topId))
      ks(i) = keys(res.topId)
      res.pop()
    }
    i = 1
    while (i < n) {
      val d = ds(i); val key = ks(i)
      var j = i - 1
      while (j >= 0 && {
          val c = java.lang.Double.compare(ds(j), d)
          c > 0 || c == 0 && ks(j) > key
        }) {
        ds(j + 1) = ds(j); ks(j + 1) = ks(j); j -= 1
      }
      ds(j + 1) = d; ks(j + 1) = key
      i += 1
    }
    Array.tabulate(math.min(k, n))(r => (ks(r), ds(r)))
  }

  /** Exact brute-force top-k over the nodes [[search]]'s `excluded` leaves
    * (bounded max-heap), deterministic ties by (distance, key). */
  private def linearScan(q: Array[Float], k: Int, excluded: Int => Boolean): Array[(Long, Double)] = {
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
      if (excluded == null || !excluded(id)) {
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
    * The rebuild is one [[addAll]] on `numThreads` threads, which sets only
    * its wall time: the rebuilt graph is the same at any thread count. */
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
