package graft

/** CPU-ceiling probe: a sha256 burn at 1/2/4/8 threads. The sandbox VM's
  * deliverable parallelism DRIFTS with hypervisor tenancy (round 1 measured
  * 1→8 ≈ 8.0× linear; the next morning only 5.4 effective cores), so every
  * benchmark artifact and every scaling pair must carry the same-moment
  * ceiling to be interpretable. Used inline by [[Bench]] (JSON fields) and
  * standalone by scripts/bench_scaling.sh (one line per leg).
  *
  * The 1-worker REFERENCE rate is the probe's weak point: a single
  * throttled (or turbo-boosted) 2-second window corrupts every ratio —
  * impossible readings like effective_cores_8 = 8.98 were observed. So the
  * reference is measured THREE times, interleaved with the multi-worker
  * burns (before, between, after), and the ratios use the MEDIAN; when the
  * three slices spread more than 15% (or any burn leaves a thread alive at
  * the join deadline) the whole probe is flagged `stable=false` — an
  * unstable probe must not masquerade as a ceiling.
  *
  * Usage: runMain graft.Burn   →
  *   BURN effective_cores_2=1.98 effective_cores_4=3.71 effective_cores_8=7.12 ceiling_2to8=0.899 burn_r1_spread=0.04 burn_stable=true
  */
object Burn {

  /** (hashes/sec across `workers` threads over ~`millis` ms, all workers
    * exited within the join deadline). Workers publish their counts every
    * 4096 iterations (and once on exit), so even a thread that overstays the
    * deadline (heavy steal — exactly the case the probe exists for)
    * contributes its real progress to within ~0.5 ms of work instead of
    * reading 0 — but such a reading is still marked invalid.
    */
  private def rateChecked(workers: Int, millis: Long): (Double, Boolean) = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // counters are PADDED TWO cache lines apart (16 longs) and published in
    // 4096-iteration batches. Per-iteration publishes into adjacent slots
    // ping-pong a single cache line (a linear box read "1.5 effective cores
    // at 8 workers" for hours, 2026-08-18, while shell busy-loops scaled
    // 7.6/8); one-line (8-long) padding is NOT enough — Intel's spatial
    // prefetcher pairs 64-byte lines into 128-byte sectors, so 64-byte-apart
    // slots still false-share depending on the array's allocation alignment
    // (measured same-JVM 2026-08-18: stride-8 per-iteration eff8 = 2.4 vs
    // 7.7 for publish-once, 7.8 for stride-16, 7.7 for batched). The batch
    // removes the traffic; the two-line stride guards the residual publishes.
    val Stride = 16
    val counts = new java.util.concurrent.atomic.AtomicLongArray(workers * Stride)
    val threads = (0 until workers).map { w =>
      val t = new Thread(() => {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        // ALLOCATION-FREE loop: digest(buf) allocates a fresh 32-byte array
        // per iteration, which turns the probe into a GC benchmark — under
        // this project's forked-JVM flags (-Xmx24g -XX:+UseParallelGC) the
        // allocating variant anti-scaled to ~2.7 "effective cores" on a box
        // that shell busy-loops proved linear (measured 2026-08-18), while
        // this in-place variant reads ~7.8-8.0 steadily. digest(buf, 0, 32)
        // writes the hash into the front of the SAME buffer (and resets the
        // digest), so each iteration still hashes fresh, unfoldable input.
        val buf = new Array[Byte](64)
        buf(0) = w.toByte
        var n = 0L
        while (!stop.get()) {
          md.update(buf, 0, 64)
          md.digest(buf, 0, 32)
          n += 1
          if ((n & 4095L) == 0L) counts.lazySet(w * Stride, n)
        }
        counts.lazySet(w * Stride, n)
      })
      t.setDaemon(true)
      t.start()
      t
    }
    val t0 = System.nanoTime()
    Thread.sleep(millis)
    stop.set(true)
    threads.foreach(_.join(5000))
    val secs = (System.nanoTime() - t0) / 1e9
    val allExited = !threads.exists(_.isAlive)
    ((0 until workers).map(w => counts.get(w * Stride)).sum / secs, allExited)
  }

  def rate(workers: Int, millis: Long = 2000): Double =
    rateChecked(workers, millis)._1

  /** One probe: effective cores at 2/4/8 workers vs the median 1-worker
    * reference, plus the reference slices' relative spread and the
    * stability verdict.
    */
  final case class Probe(eff: Map[Int, Double], r1Spread: Double, stable: Boolean) {
    def ceiling2to8: Double = eff(8) / eff(2) / 4.0
  }

  /** Interleaved probe (see object doc). A discarded warm-up burn runs
    * first: on a cold JVM the first window absorbs class-loading + JIT of
    * the digest loop, under-reading the reference and inflating every
    * ratio.
    */
  def probe(): Probe = {
    rateChecked(8, 500) // discarded: JIT + class-load warm-up on ALL threads
    val (r1a, v1) = rateChecked(1, 2000)
    val (r2, v2) = rateChecked(2, 2000)
    val (r1b, v3) = rateChecked(1, 2000)
    val (r4, v4) = rateChecked(4, 2000)
    val (r8, v5) = rateChecked(8, 2000)
    val (r1c, v6) = rateChecked(1, 2000)
    val ones = Seq(r1a, r1b, r1c).sorted
    val r1 = ones(1) // median of the three interleaved reference slices
    val spread = if (r1 > 0) (ones.last - ones.head) / r1 else Double.PositiveInfinity
    val stable = spread <= 0.15 && Seq(v1, v2, v3, v4, v5, v6).forall(identity)
    Probe(Map(2 -> r2 / r1, 4 -> r4 / r1, 8 -> r8 / r1), spread, stable)
  }

  /** Sequential-write throughput probe (MB/s, fsync'd): the box's OTHER
    * drifting ceiling. The CPU burn reads clean while checkpoint-heavy
    * bench entries run 1.5-2× slow whenever the single local disk is
    * saturated or the page cache was just cycled by a multi-GB job (two
    * same-code runs 40 min apart measured dedup_incremental at 21 s and
    * 46 s under IDENTICAL stable ~8-core burns, 2026-08-18) — so the bench
    * artifact carries write MB/s next to effective_cores, making an
    * I/O-degraded window self-documenting the same way a steal window is.
    */
  def diskWriteMBs(dir: String = "/tmp", totalMb: Int = 128): Double = {
    val p = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), "graft-disk-", ".probe")
    try {
      val ch = java.nio.channels.FileChannel.open(
        p, java.nio.file.StandardOpenOption.WRITE)
      try {
        val arr = new Array[Byte](1 << 20)
        new java.util.Random(42).nextBytes(arr) // incompressible-ish
        val buf = java.nio.ByteBuffer.allocateDirect(1 << 20)
        val t0 = System.nanoTime()
        var i = 0
        while (i < totalMb) {
          buf.clear(); buf.put(arr); buf.flip()
          while (buf.hasRemaining) ch.write(buf)
          i += 1
        }
        ch.force(false) // charge the flush, not just the page-cache copy
        totalMb / ((System.nanoTime() - t0) / 1e9)
      } finally ch.close()
    } finally { java.nio.file.Files.deleteIfExists(p); () }
  }

  def main(args: Array[String]): Unit = {
    val p = probe()
    println(f"BURN effective_cores_2=${p.eff(2)}%.2f effective_cores_4=${p.eff(4)}%.2f " +
      f"effective_cores_8=${p.eff(8)}%.2f ceiling_2to8=${p.ceiling2to8}%.3f " +
      f"burn_r1_spread=${p.r1Spread}%.3f burn_stable=${p.stable} " +
      f"disk_write_mb_s=${diskWriteMBs()}%.0f")
  }
}
