package graft

/** Shared bench plumbing — ONE definition of the machine-speed canary
  * (and the 3-decimal formatter) used by [[Bench]], the probes in
  * `graft.tools` and the committed `bench_baseline.json`: the canary's
  * whole purpose is CROSS-ARTIFACT comparability, so its parameters
  * (array size, rep count, min-of-3) must never drift between the tools
  * that record it.
  */
object BenchUtil {

  /** Fixed-cost canary: a deterministic 8M-long xorshift fill + JVM
    * sort, zero I/O, zero Spark — a pure measure of the box (CPU clock,
    * load, thermal state) at run time. Min of 3: the least-interrupted
    * run is the machine's speed. */
  def canary(): Double = (1 to 3).map { _ =>
    val n = 8 << 20
    val a = new Array[Long](n)
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }.min

  def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Poll an async-fed counter (the status tracker behind the listener
    * bus) until quiescent: at least `minValue`, unchanged across
    * `stableReads` consecutive reads. ONE definition shared by the
    * Bench njobs ledger and the OpsSpec warm-ANN ledger — the two
    * callers encode the same drain rule, and a race fix must land in
    * both at once. Returns (finalValue, settled); `settled = false`
    * means the deadline expired first and the value may UNDERCOUNT —
    * callers must mark such readings partial, never publish them as
    * true counts. */
  def pollQuiescent(read: () => Int, minValue: Int,
                    intervalMs: Long = 100L,
                    deadlineNanos: Long = 10000000000L,
                    stableReads: Int = 3): (Int, Boolean) = {
    val deadline = System.nanoTime() + deadlineNanos
    var streak = 0
    var last = -1
    while (streak < stableReads && System.nanoTime() < deadline) {
      Thread.sleep(intervalMs)
      val now = read()
      if (now >= minValue && now == last) streak += 1 else streak = 0
      last = now
    }
    (math.max(last, 0), streak >= stableReads)
  }
}
