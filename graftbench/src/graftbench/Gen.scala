package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index) through SplitMix64, so a seed fixes every input
  * byte and any row can be generated on any executor without
  * coordination. The planted truth each workload checks against is
  * derived from the same functions, never from graft's output. */
object Gen {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)

  /** Uniform in [0, 1). */
  def u01(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, n). */
  def below(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)

  def gauss(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(u01(h(seed, stream, 2 * i)), 1e-300)
    val u2 = u01(h(seed, stream, 2 * i + 1))
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Spark's `pmod(xxhash64(key), n)`: the lake's bucket of a long key. */
  def lakeBucket(key: Long, n: Int): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(key, 42L), n.toLong).toInt

  /** Deterministic Fisher-Yates permutation of 0 until n. */
  def permutation(seed: Long, stream: Long, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = below(h(seed, stream, i), i + 1L).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** SHA-256 of a stream of canonical text records: the byte identity of
    * generated inputs that are written through Spark (whose parquet
    * file names carry random ids). */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    def addBytes(b: Array[Byte]): Unit = md.update(b)
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
