package loadbench

/** Seeded point source. Every value is a pure function of (seed, salt,
  * host, time index), so the answer model can recompute any query without
  * asking the engine. Values are quarter-integers in [0, 100): they are
  * exact in binary floating point, so sums do not depend on the order in
  * which the engine adds them. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, salt: Long, host: Long, i: Long): Long =
    mix(mix(mix(mix(seed) ^ salt) ^ host) ^ i)

  def value(seed: Long, salt: Long, host: Int, i: Long): Double =
    java.lang.Long.remainderUnsigned(hash(seed, salt, host, i), 400L) / 4.0

  def hostName(h: Int): String = f"h$h%03d"

  /** One InfluxDB line-protocol line (timestamp in nanoseconds). */
  def line(measurement: String, host: Int, region: String, v: Double,
      tsMs: Long): String =
    s"$measurement,host=${hostName(host)},region=$region usage=$v ${tsMs * 1000000L}"

  /** A seeded pseudo-random stream for schedule choices. */
  final class Rng(seed: Long, salt: Long) {
    private var state = mix(seed ^ mix(salt))
    def nextLong(): Long = { state = mix(state); state }
    def nextInt(n: Int): Int =
      java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    /** `k` distinct values from [0, n), in ascending order. */
    def distinct(k: Int, n: Int): Seq[Int] = {
      val picked = scala.collection.mutable.LinkedHashSet[Int]()
      while (picked.size < k) picked += nextInt(n)
      picked.toSeq.sorted
    }
  }
}
