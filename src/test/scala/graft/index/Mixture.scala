package graft.index

/** Seeded Gaussian mixture: `clusters` unit-variance centres, per-point
  * spread 0.8, so clusters overlap and searches cross their borders. */
private[index] final class Mixture(seed: Long, dim: Int, clusters: Int) {
  private val rnd = new scala.util.Random(seed)
  private val centres = Array.fill(clusters, dim)(rnd.nextGaussian().toFloat)
  def points(n: Int): Array[Array[Float]] = Array.fill(n) {
    val c = centres(rnd.nextInt(clusters))
    Array.tabulate(dim)(j => (c(j) + 0.8 * rnd.nextGaussian()).toFloat)
  }
}
