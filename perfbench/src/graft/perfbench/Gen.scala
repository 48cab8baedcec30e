package graft.perfbench

/** Seeded, stateless value generator: every generated value is a pure
  * function of (seed, stream, index), so a workload can both load its data
  * and predict any answer without keeping a copy of what it loaded. */
object Gen {
  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 31 + stream) ^ i)

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(hash(seed, stream, i), n)

  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** Standard normal (Box-Muller over two independent uniforms). */
  def gaussian(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(unit(seed, stream, 2 * i), 1e-12)
    val u2 = unit(seed, stream, 2 * i + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
