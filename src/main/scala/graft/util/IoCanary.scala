package graft.util

/** RAW-I/O canary shared by Bench and ScaleSoak: 200 MB written (fsync'd)
  * + read back, returning MB moved (write+read) per second. The box shows
  * recurring degraded-I/O windows (30-40% uniform drops across all legs —
  * BENCH_NOTES.md rounds 5-9, and the round-18 archived q55 x64 soak leg
  * at 11.61 s whose clean rerun was 4.91 s) that previously took manual
  * re-runs and prose notes to adjudicate; a canary reading recorded NEXT
  * TO each measurement makes the artifact self-describing — anyone
  * reading the CSV/JSON can tell a regression from disk weather without
  * cross-referencing BENCH_NOTES.
  *
  * METRIC CONTRACT (round-20 measurement fix): [[probe]] returns the
  * SAME metric every window gate since round 17 was calibrated against —
  * write+fsync plus a buffered read of the just-written file (served
  * from the page cache, so the number is write-dominated). The round-19
  * advice asked for a read leg that sees the device, and the first fix
  * folded an O_DIRECT read INTO this metric — which silently re-baselined
  * a threshold carrying three rounds of calibration: the gate default
  * (850, ~85% of the box's known-good 1001 MB/s) became unreachable even
  * on a healthy disk (write 500 MB/s + device read 1.1 GB/s ≈ 690 on the
  * new scale), so EVERY bench run would read "degraded" and triple-run.
  * Round 20 restores the gate metric's historical definition and measures
  * the device read as its own, separately-reported number:
  * [[Reading.directReadMbps]] — an O_DIRECT (page-cache-bypassing) read of
  * the same 200 MB, exposed for the artifacts so read-side disk
  * degradation is visible, but NOT folded into a threshold that was never
  * calibrated for it. A filesystem that refuses O_DIRECT (tmpfs) reports
  * -1 there; the gate metric is unaffected.
  */
object IoCanary {

  /** One probe's readings: `mbps` is the gate-calibrated metric
    * (write+fsync + cached read, MB moved per second); `directReadMbps`
    * is the O_DIRECT device-read MB/s of the same file (-1 where O_DIRECT
    * is unsupported) — diagnostic only, recorded next to the gate metric
    * in artifacts, never compared against the gate threshold.
    */
  final case class Reading(mbps: Double, directReadMbps: Double)

  /** One probe under `dir` (the measurement's own tmp filesystem). */
  def probe(dir: java.nio.file.Path): Reading = {
    val p = dir.resolve("io_canary.bin")
    val f = p.toFile
    val buf = new Array[Byte](1 << 20)
    var i = 0
    while (i < buf.length) { buf(i) = (i * 31 + 7).toByte; i += 1 } // incompressible-ish, non-zero
    val mb = 200
    val t0 = System.nanoTime()
    val fos = new java.io.FileOutputStream(f)
    val out = new java.io.BufferedOutputStream(fos, 1 << 20)
    try {
      var j = 0
      while (j < mb) { out.write(buf); j += 1 }
      out.flush()
      fos.getFD.sync() // page-cache-proof: the write must reach the device
    } finally out.close()
    // gate-metric read: buffered, i.e. served from the page cache the
    // write just populated — the historical definition the thresholds
    // were calibrated on
    val in = new java.io.BufferedInputStream(
      new java.io.FileInputStream(f), 1 << 20)
    try { while (in.read(buf) > 0) () } finally in.close()
    val sec = (System.nanoTime() - t0) / 1e9
    // device-read diagnostic: O_DIRECT bypasses the cache (4 KiB-aligned
    // direct buffers per the O_DIRECT contract); timed separately so it
    // never shifts the gate metric
    val tD = System.nanoTime()
    val direct =
      if (readDirect(p)) mb / ((System.nanoTime() - tD) / 1e9) else -1.0
    f.delete()
    Reading(2.0 * mb / sec, direct) // gate: MB moved (write+read) per second
  }

  /** O_DIRECT read of the whole file; false where the filesystem refuses
    * (tmpfs), in which case no fallback runs — the gate metric already
    * covered the buffered read.
    */
  private def readDirect(p: java.nio.file.Path): Boolean =
    try {
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ,
        com.sun.nio.file.ExtendedOpenOption.DIRECT)
      try {
        // 1 MiB direct buffer, 4 KiB-aligned (file size 200 MiB is a
        // multiple, so every read is fully aligned)
        val bb = java.nio.ByteBuffer.allocateDirect((1 << 20) + 4096)
          .alignedSlice(4096)
        while (ch.read(bb) > 0) bb.clear()
      } finally ch.close()
      true
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException => false
    }
}
