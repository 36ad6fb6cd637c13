package graft.functions

/** The splitmix64 finalizer (public domain) — the finalizer of Steele et
  * al.'s SplittableRandom, also used by xoshiro. It remixes one strong
  * 64-bit hash into per-lane hashes for the MinHash, HyperLogLog and
  * hyperplane kernels. A standalone object, so generated code calls
  * `graft.functions.SplitMix.mix64` as a static method.
  */
object SplitMix {
  @inline def mix64(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
