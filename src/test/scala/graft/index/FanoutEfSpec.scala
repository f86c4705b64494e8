package graft.index

import org.scalatest.funsuite.AnyFunSuite

/** The per-shard ef floor for fan-out searches (ShardedHnswIndex.fanoutEf):
  * k * ceil(log2(n_shard)), never below the caller's resolved ef. The recall
  * motivation is measured, not spec'd (16 shards at sf10: ef=64 union
  * recall@10 0.902 at the 0.9 gate edge; the floored 140 reads 0.976+;
  * RecallScaleSpec reproduces the fan-out recall under GRAFT_SLOW=1); this
  * pins the formula's edges so a refactor cannot silently change which
  * searches it lifts. */
class FanoutEfSpec extends AnyFunSuite {
  private def graph(n: Int, efSearch: Int = 64): HnswIndex = {
    val g = new HnswIndex(4, "l2sq", 16, 32, 128, efSearch)
    (0 until n).foreach(i => g.add(i.toLong, Array(i.toFloat, 0f, 0f, 1f)))
    g
  }

  test("caller's explicit ef wins when above the floor") {
    val g = graph(10) // ceil(log2(9)) = 4
    assert(ShardedHnswIndex.fanoutEf(g, k = 3, ef = 500) == 500)
  }

  test("floor lifts a small resolved ef on a (relatively) large shard") {
    val g = graph(10)
    // k=100: floor = 100 * 4 = 400 > both the explicit 64 and the default
    assert(ShardedHnswIndex.fanoutEf(g, k = 100, ef = 64) == 400)
    assert(ShardedHnswIndex.fanoutEf(g, k = 100, ef = -1) == 400)
  }

  test("ef=-1 resolves to the shard's own efSearch before the max") {
    val g = graph(10, efSearch = 96)
    // floor = max(2,10) * 4 = 40 < 96 -> the shard default carries
    assert(ShardedHnswIndex.fanoutEf(g, k = 2, ef = -1) == 96)
  }

  test("the floor does not shrink with small k (the k=3 KNN-join gate)") {
    val g = graph(33) // ceil(log2(32)) = 6
    // k=3 provisions the same beam as k=10: max(3,10) * 6 = 60
    assert(ShardedHnswIndex.fanoutEf(g, k = 3, ef = 1) == 60)
  }

  test("the sf10 shape: 12.5k-row shard at k=10 floors to >= 140") {
    // formula-level check without building 12.5k rows: ceil(log2(12499))=14
    val log2 = 32 - Integer.numberOfLeadingZeros(12500 - 1)
    assert(log2 == 14 && 10 * log2 == 140)
    // and a real (small) graph agrees with the same formula: size 33 ->
    // 32 - nlz(32) = 6 -> floor 60 at k=10
    val g = graph(33)
    assert(ShardedHnswIndex.fanoutEf(g, k = 10, ef = 1) == 60)
  }

  test("a user-PINNED ef is honored below the floor (explicit options win)") {
    val g = graph(33) // unpinned floor at k=3 would be max(3,10)*6 = 60
    assert(ShardedHnswIndex.fanoutEf(g, k = 3, ef = 8, efPinned = true) == 8)
    // only the structural max(ef, k) survives a pin: fewer than k
    // candidates per shard would silently truncate the merge
    assert(ShardedHnswIndex.fanoutEf(g, k = 12, ef = 8, efPinned = true) == 12)
    // a pin with NO explicit value still resolves the shard default, unfloored
    assert(ShardedHnswIndex.fanoutEf(g, k = 3, ef = -1, efPinned = true) == 64)
  }

  test("exhaustive callers (ef >= n) pass through unchanged") {
    val g = graph(20)
    assert(ShardedHnswIndex.fanoutEf(g, k = 10, ef = 21) == math.max(21, 50))
    // the exhaustive contract is preserved upstream: HnswIndex.search takes
    // any effEf >= size down its exact linear-scan path, and max() can only
    // RAISE ef — an ef >= n caller can never be demoted below n
    assert(ShardedHnswIndex.fanoutEf(g, k = 1, ef = 1000) == 1000)
  }
}
