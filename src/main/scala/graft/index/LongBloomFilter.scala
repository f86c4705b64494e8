package graft.index

/** Minimal Bloom filter over Long keys (split-mix double hashing), ~10
  * bits/key ≈ 1% false positives. Carried in [[ShardMeta.keyFilter]] so the
  * DRIVER can attribute tombstones to shards without loading a shard graph:
  * the filter answers "might shard S contain rowid R?" in O(1) driver
  * memory, pruning both the per-shard tombstone attribution (the keys
  * each shard search excludes) and membership probes
  * (ShardedHnswIndex.contains). No false negatives — a key the filter
  * rejects is definitely absent. */
final class LongBloomFilter private (
    private val bits: Array[Long],
    private val numHashes: Int) extends Serializable {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def nBits: Long = bits.length.toLong * 64L

  def add(key: Long): Unit = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5deece66dL) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
      bits((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
  }

  def maybeContains(key: Long): Boolean = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5deece66dL) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, nBits)
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** 64-bit hash of the filter CONTENT (bit array + hash count) — a
    * key-set identity that survives copies and renames, unlike object
    * identity or any path the filter travels with. Computed once per
    * instance (transient: recomputed on demand after deserialization) —
    * WAL replay compares fingerprints per record, and rewalking a large
    * filter's words each time would make replay O(records × shards ×
    * filterWords). */
  @transient lazy val contentHash: Long = {
    var h = mix(numHashes.toLong ^ bits.length.toLong << 32)
    var i = 0
    while (i < bits.length) { h = mix(h ^ bits(i)); i += 1 }
    h
  }
}

object LongBloomFilter {
  /** ~10 bits/key, 7 hashes → ≈1% FP at the sized capacity. */
  def create(expectedKeys: Int): LongBloomFilter = {
    val words = math.max(8, (expectedKeys.toLong * 10 + 63) / 64).toInt
    new LongBloomFilter(new Array[Long](words), 7)
  }

  /** Filter over an index's live keys. */
  def ofIndex(idx: HnswIndex): LongBloomFilter = {
    val bf = create(idx.size)
    idx.forEachLive((key, _) => bf.add(key))
    bf
  }
}
