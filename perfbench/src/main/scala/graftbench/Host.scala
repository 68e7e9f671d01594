package graftbench

import graft.gen.TranscriptGen
import graft.kernel.Extractor
import graft.model.Turn

import java.lang.management.ManagementFactory

/** What the host did during a run, so a slow window reads as one. */
object Host {

  /** Single-thread bare-kernel microseconds per turn over Bench's
    * calibration corpus, the first 300 conversations of the default
    * seed (whatever the benchmark's seed, so the reading depends on
    * the host and the kernel only): the best of `reps`. Generated per
    * call so it never stays on the heap peak_heap_mb samples. */
  def kernelUs(reps: Int = 3): Double = {
    val calibration: Array[Turn] = (0 until 300).flatMap(c => TranscriptGen.convTurns(c)._1).toArray
    val ctr = new Extractor.Counters
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < calibration.length) {
        acc += Extractor.extract(calibration(i), ctr).n_cells
        i += 1
      }
      if (acc < 0) println(acc) // keeps the loop's result live
      (System.nanoTime() - t0) / 1e3 / calibration.length
    }.min
  }

  /** CPU time counters from /proc/stat: (steal, total). */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }
    finally src.close()
  }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)

  /** Heap in use after a full collection, in MiB: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
