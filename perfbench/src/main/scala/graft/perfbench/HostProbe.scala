package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

/** How fast the host ran while a unit ran, so that a timed figure can be
  * read at one nominal host speed.
  *
  * The bench host is a few vCPUs of a shared machine. Its speed drifts: for
  * stretches of seconds to minutes, neighbours on the same cores make every
  * instruction slower, by up to half again. A unit that lands in such a
  * stretch is slow however the program behaves, and a single unit (a cold
  * one) cannot be outvoted by a median.
  *
  * A daemon thread runs a short fixed chunk of integer hashing (the
  * arithmetic of `graft.Bench.calibWork`, copied here so that a program
  * change cannot move it) every [[PeriodMs]] and records the chunk's thread
  * CPU time. CPU time, not wall time: a chunk that waits for a vCPU behind
  * the program's own threads is not slowed, while a chunk on a core shared
  * with a busy neighbour is. The chunk touches no memory, so the program's
  * own cache traffic does not slow it either: on the bench host its CPU time
  * is the same while a unit runs as between units. [[factor]] over a unit's
  * interval is the median chunk of the interval over [[NominalMs]], the
  * chunk on the idle host. The thread takes about 4% of one vCPU.
  *
  * The program's units slow down more than the chunk does: over 20 runs of
  * each workload on the bench host, log(raw unit seconds) against
  * log(factor) had slopes 2.0–2.6 (correlation 0.91–0.98; the units share
  * caches and memory with the neighbours, the chunk only the core). So a
  * unit's expected slowdown is factor^[[Exponent]], see [[slowdown]].
  */
final class HostProbe {
  import HostProbe._

  private val mx = ManagementFactory.getThreadMXBean
  // (end nanoTime, chunk CPU ns), appended by the probe thread
  private val recorded = ArrayBuffer[(Long, Long)]()
  @volatile private var running = true
  @volatile private var blackhole = 0L

  private val thread = new Thread(() => {
    (1 to 20).foreach(_ => blackhole += work(Iters)) // JIT warm, unrecorded
    while (running) {
      val c0 = mx.getCurrentThreadCpuTime
      blackhole += work(Iters)
      val c1 = mx.getCurrentThreadCpuTime
      val now = System.nanoTime()
      recorded.synchronized(recorded += ((now, c1 - c0)))
      Thread.sleep(PeriodMs)
    }
  }, "perfbench-host-probe")
  thread.setDaemon(true)
  thread.start()

  /** The host's slowdown over a timed interval: the median chunk that
    * ended inside it, over [[NominalMs]] (1 on the idle host, 1.5 when it
    * runs half again slower). An interval too short to hold [[MinChunks]]
    * chunks is widened on both sides, [[PeriodMs]] at a time, until it does.
    * Read after [[stop]], when every chunk is in.
    */
  def factor(i: Interval): Double = {
    val step = PeriodMs * 1000000L
    var pad = 0L
    var in = Seq.empty[Double]
    while ({
      in = recorded.iterator.collect {
        case (t, ns) if t >= i.startNs - pad && t <= i.endNs + pad => ns / 1e6 }.toSeq
      in.size < MinChunks && pad < 100 * step
    }) pad += step
    Main.median(in) / NominalMs
  }

  /** How much slower than on the idle host a unit over `i` ran because of
    * the host: [[factor]] to the power [[Exponent]].
    */
  def slowdown(i: Interval): Double = math.pow(factor(i), Exponent)

  def chunks: Int = recorded.size

  def stop(): Unit = {
    running = false
    thread.join()
  }
}

object HostProbe {
  val Iters: Int = 1000000
  val PeriodMs: Long = 50
  val MinChunks: Int = 5
  /** A chunk's CPU milliseconds on the idle bench host: `graft.Bench`
    * records 0.44 s for 200M steps of the same loop there.
    */
  val NominalMs: Double = 2.2
  val Exponent: Double = 2.0

  def work(iters: Int): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      h = java.lang.Long.rotateLeft(h * 0xC2B2AE3D27D4EB4FL, 31) + 0x165667B19E3779F9L
      h ^= h >>> 29
      i += 1
    }
    h
  }
}
