package graft.tools

/** Host-state calibrations recorded beside a measurement: fixed CPU and
  * disk work whose wall is constant on an idle host, so contention from
  * neighbours shows in the record instead of silently stretching the
  * timed numbers. graft.Bench brackets its passes with both; CcBench and
  * CleaningBench's `resume` mode record them beside their runs.
  */
object HostCalibration {

  /** Saturating CPU calibration: 32 threads × fixed splitmix work
    * (~0.8–1.0 s idle on the 32-core host of BENCH.md; ~7 s on 4 cores;
    * ambient neighbour load inflates it). One scalar shared by every
    * bench artifact so it is comparable across them. */
  def cpuCalibrationWall(): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until 32).map { t =>
      new Thread(() => {
        var z = 0x9E3779B97F4A7C15L * (t + 1)
        var i = 0L
        while (i < 400000000L) {
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          i += 1
        }
        if (z == 42L) println(z) // defeat dead-code elimination
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Disk calibration beside the CPU one: a 512 MB fsync'd sequential
    * write under `dirPath` (~0.9–1.1 s idle per BENCH.md). Staging-disk
    * contention swings stage walls ±25% while the CPU calibration reads
    * idle (BENCH.md round 6) — this makes DISK contention visible per
    * measurement. (Read-back is deliberately not measured: it would hit
    * the page cache, not the disk.) */
  def diskCalibrationWall(dirPath: String): Double = {
    val dir = java.nio.file.Paths.get(dirPath)
    java.nio.file.Files.createDirectories(dir)
    val f = java.nio.file.Files.createTempFile(dir, "graft_diskcal", ".bin")
    try {
      val buf = java.nio.ByteBuffer.allocate(1 << 20)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        (0 until 512).foreach { _ =>
          buf.clear(); ch.write(buf)
        }
        ch.force(false)
      } finally ch.close()
      (System.nanoTime() - t0) / 1e9
    } finally java.nio.file.Files.deleteIfExists(f)
  }
}
