package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** In-memory spans and counts of one traced run, recorded by the
  * benchmark around its calls into the program's modules and written out
  * when the run ends. Spans nest: a span opened inside another names it as
  * its parent, and every span carries the run's trace id.
  */
final class Tracer(val traceId: String) {
  import Tracer.Span
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  /** Summed seconds of every span with this name. */
  def seconds(name: String): Double = secondsSince(name, Long.MinValue)

  /** Summed seconds of the spans with this name that started at or after
    * `sinceNs` (a `System.nanoTime` reading).
    */
  def secondsSince(name: String, sinceNs: Long): Double =
    spans.iterator.filter(s => s.name == name && s.startNs >= sinceNs).map(_.seconds).sum

  def write(path: Path): Unit = {
    val t0 = spans.iterator.map(_.startNs).minOption.getOrElse(0L)
    val rows = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "dur_s" -> Json.num(s.seconds)))
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json.obj(Seq(
      "trace_id" -> Json.str(traceId),
      "spans" -> rows.mkString("[\n", ",\n", "\n]"),
      "counts" -> Json.obj(counts.map { case (k, v) => k -> Json.num(v) }))))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Job, stage and task counts from Spark's listener bus, for one unit at a
  * time: [[reset]] before the unit, [[snapshot]] after it.
  */
final class SparkCounters extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private val taskMs = ArrayBuffer[Long]()
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private var output = 0L

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; taskMs.clear(); runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; spill = 0; output = 0
  }

  def jobCount: Long = synchronized(jobs)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
  }

  /** The unit's counts, once every event it posted has been delivered. */
  def snapshot(sc: SparkContext): Seq[(String, Double)] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val storage = sc.getRDDStorageInfo.iterator.map(_.memSize).sum
    synchronized {
      val sorted = taskMs.sorted
      val skew =
        if (sorted.isEmpty) 0.0
        else sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
      Seq(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> taskMs.length.toDouble,
        "spark.task_run_s" -> runMs / 1e3,
        "spark.task_cpu_s" -> cpuNs / 1e9,
        "spark.gc_s" -> gcMs / 1e3,
        "spark.task_skew" -> skew,
        "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.output_bytes" -> output.toDouble,
        "spark.storage_mem_bytes" -> storage.toDouble)
    }
  }
}
