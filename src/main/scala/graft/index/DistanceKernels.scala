package graft.index

/** Scalar distance kernels over float vectors, shared by the HNSW index and
  * the brute-force paths. Same math as the Catalyst expressions in
  * [[graft.functions]] — sequential double accumulation — so index results and
  * expression results agree bit-for-bit.
  *
  * Metric names follow the reference (duckdb_vss,
  * reference src/hnsw/hnsw_index.cpp:232-245): "l2sq" (default), "cosine",
  * "ip"; plus "l2" for the SQL-function variant (reference README.md:59 notes
  * array_distance is the √ of the l2sq index metric — ordering-equivalent).
  */
object DistanceKernels extends Serializable {

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  def l2(a: Array[Float], b: Array[Float]): Double = math.sqrt(l2sq(a, b))

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Zero-vector rule per the reference kernels
    * (reference src/include/usearch/index_plugins.hpp:1021-1025). */
  def cosineSimilarity(a: Array[Float], b: Array[Float]): Double = {
    var dotAcc = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dotAcc += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 && nb == 0.0) 1.0
    else if (na == 0.0 || nb == 0.0) 0.0
    else dotAcc / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineDistance(a: Array[Float], b: Array[Float]): Double =
    1.0 - cosineSimilarity(a, b)

  // --- float-accumulating NAVIGATION kernels -------------------------------
  // Same math with a float accumulator: faster (the double widening defeats
  // pipelining) but NOT bit-identical to the oracle-exact kernels above.
  // They order candidates in every HNSW beam: graph construction's neighbor
  // search, selection, prune and repair, and the query's descent and
  // level-0 beam. They never produce a returned distance: a search rescores
  // the candidates its beam returns with the exact kernels above, so every
  // distance that leaves the index matches the oracle bit for bit. Float
  // rounding only perturbs which near-tied candidate a beam keeps, a
  // statistical non-event the recall gates measure anyway.
  //
  // When the JVM carries --add-modules=jdk.incubator.vector (build.sbt adds
  // it to every forked run/test JVM) the float kernels dispatch to the SIMD
  // versions (SimdKernels.java) — lane-parallel float accumulation, a
  // further reassociation the float contract already permits. The probe
  // runs once per JVM; a JVM without the module falls back to the scalar
  // loops below (the call sites never touch the class again, so the
  // NoClassDefFoundError cannot recur).
  private val simd: Boolean =
    try { SimdKernels.l2sqF(Array(3f, 0f), Array(0f, 4f)) == 25.0 }
    catch { case _: Throwable => false }

  /** Whether the float kernels run the SIMD versions (the benchmark
    * stamps it into each record's env). */
  def simdEnabled: Boolean = simd

  def l2sqF(a: Array[Float], b: Array[Float]): Double = {
    if (simd) return SimdKernels.l2sqF(a, b)
    var acc = 0f; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc.toDouble
  }

  def dotF(a: Array[Float], b: Array[Float]): Double = {
    if (simd) return SimdKernels.dotF(a, b)
    var acc = 0f; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc.toDouble
  }

  def cosineDistanceF(a: Array[Float], b: Array[Float]): Double = {
    if (simd) {
      val d = SimdKernels.cosineDistF(a, b)
      // NaN = a norm accumulator underflowed to 0f (true zero vector or
      // denormal-scale inputs) — delegate to the exact kernel, which owns
      // the zero-vector rule and cannot underflow (see below)
      return if (java.lang.Double.isNaN(d)) cosineDistance(a, b) else d
    }
    var dotAcc = 0f; var na = 0f; var nb = 0f; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dotAcc += x * y; na += x * x; nb += y * y; i += 1
    }
    // A 0f norm accumulator means EITHER a true zero vector OR float
    // underflow on denormal-scale inputs (|x| ~< 1e-23) — the latter would
    // spuriously trigger the zero-vector rule and silently misorder a
    // beam's candidates. Delegate the ambiguous case to the exact
    // double kernel, which applies the same zero-vector rule (reference
    // src/include/usearch/index_plugins.hpp:1021-1025) but cannot
    // underflow on these magnitudes.
    if (na == 0f || nb == 0f) cosineDistance(a, b)
    else 1.0 - (dotAcc / math.sqrt(na.toDouble * nb.toDouble))
  }

  /** Distance function for a metric name; smaller = closer for all metrics. */
  def forMetric(metric: String): (Array[Float], Array[Float]) => Double = metric match {
    case "l2sq"   => l2sq
    case "l2"     => l2
    case "cosine" => cosineDistance
    case "ip"     => (a, b) => -dot(a, b)
    case other    => throw new IllegalArgumentException(
      s"Unknown metric '$other'; expected one of l2sq, l2, cosine, ip")
  }
}
