package perfbench

import java.util.SplittableRandom

/** Seeded synthetic vectors: a Gaussian mixture with overlapping clusters,
  * plus queries that are perturbed held-out points (never copies of an
  * indexed row). Everything derives from the run seed, so one seed always
  * yields the same table, queries and probes. */
final class Mixture(seed: Long, val dim: Int, clusters: Int) {
  private val rng = new SplittableRandom(seed)
  // centres spread with unit variance; a per-cluster spread of 0.8 puts
  // same-cluster pairs about as far apart as neighbouring centres, so the
  // clusters overlap and graph search has to cross their borders
  private val centres = Array.fill(clusters, dim)(gauss(rng).toFloat)
  private val spread = 0.8

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the splittable stream (no shared java.util.Random)
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** `n` points from stream `stream`; distinct streams never overlap. */
  def points(n: Int, stream: Long): Array[Array[Float]] = {
    val r = new SplittableRandom(seed * 1000003L + stream)
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + spread * gauss(r)).toFloat)
    }
  }

  /** Perturbed copies of held-out points: the query side of the workload. */
  def queries(n: Int, stream: Long): Array[Array[Float]] = {
    val r = new SplittableRandom(seed * 7919L + stream)
    points(n, stream + 500000L).map(p => p.map(x => (x + 0.1 * gauss(r)).toFloat))
  }
}

/** The benchmark's own exact answers: brute force over the generated
  * arrays, run outside every timed region. Ties break on the smaller id,
  * the order the engine's hit merge uses. */
object Exact {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k ids over the live (id, vector) pairs for every query,
    * spread over `threads` worker threads. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], live: Long => Boolean,
      queries: Array[Array[Float]], k: Int, threads: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = queries.indices.map { qi =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val q = queries(qi)
            val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
            var i = 0
            while (i < vecs.length) {
              val id = ids(i)
              if (live(id)) {
                val d = l2sq(q, vecs(i))
                if (heap.size < k) heap.enqueue((d, id))
                else if (d < heap.head._1 || (d == heap.head._1 && id < heap.head._2)) {
                  heap.dequeue(); heap.enqueue((d, id))
                }
              }
              i += 1
            }
            out(qi) = heap.toArray.sorted.map(_._2)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    out
  }
}

object SqlText {
  /** A FLOAT[dim] literal in the reference dialect, `[..]::FLOAT[dim]`. */
  def vecLiteral(v: Array[Float]): String =
    v.map(x => java.lang.Float.toString(x)).mkString("[", ",", s"]::FLOAT[${v.length}]")
}
