package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spark task counts summed over the jobs started inside one span. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def +=(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    taskMs ++= o.taskMs
  }

  /** Slowest task over the median task: the skew a stage waits on. */
  def taskMaxOverP50: Double =
    if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(Stats.median(taskMs.toSeq), 1e-3)
}

/** Spans recorded by the benchmark around its calls into each engine
  * module: name, start, end, parent, and one trace id per workload.
  * Kept in memory and written once at the end. Jobs started inside a
  * span carry its id as a local property, so the listener attributes
  * their task counts to it. A disabled tracer records nothing and
  * registers no listener: the end-to-end runs use it. */
final class Tracer(val enabled: Boolean, seed: Long) {
  import Tracer._

  private var traceId = ""
  private var paused = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val counts = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var sc: Option[SparkContext] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counts.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        val id = s.toInt
        counts.getOrElseUpdate(id, new Counts).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counts.synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counts.getOrElseUpdate(id, new Counts)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.taskMs += e.taskInfo.duration.toDouble
      }
    }
  }

  /** Attach to a (new) SparkContext; the previous one, if any, is
    * assumed stopped. */
  def attach(context: SparkContext): Unit = if (enabled) {
    context.addSparkListener(listener)
    sc = Some(context)
  }

  def detach(): Unit = sc.foreach { c => c.removeSparkListener(listener); sc = None }

  def span[T](name: String)(body: => T): T = timed(name)(body)._1

  /** A root span for one workload: its spans share the trace id. */
  def workload[T](name: String)(body: => T): T = {
    traceId = s"$name-$seed"
    span(name)(body)
  }

  /** Runs `body` as an end-to-end run would: no listener, no spans. */
  def untraced[T](body: => T): T =
    if (!enabled || paused) body
    else {
      sc.foreach(_.removeSparkListener(listener))
      paused = true
      try body
      finally { paused = false; sc.foreach(_.addSparkListener(listener)) }
    }

  /** Runs `body` inside a span; returns its value and the span id
    * (-1 when disabled). */
  def timed[T](name: String)(body: => T): (T, Int) =
    if (!enabled || paused) (body, -1)
    else {
      val id = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, traceId, name, System.nanoTime(), -1L)
      open = id :: open
      sc.foreach(_.setLocalProperty(Prop, id.toString))
      try (body, id)
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        open = open.tail
        sc.foreach(_.setLocalProperty(Prop, open.headOption.map(_.toString).orNull))
      }
    }

  def seconds(id: Int): Double = (spans(id).endNs - spans(id).startNs) / 1e9

  def idsNamed(name: String): Seq[Int] = spans.filter(_.name == name).map(_.id).toSeq

  /** The span and every span opened inside it. */
  def under(id: Int): Seq[Int] = {
    val inside = mutable.Set(id)
    spans.foreach(s => if (inside(s.parent)) inside += s.id) // parents precede children
    inside.toSeq.sorted
  }

  def name(id: Int): String = spans(id).name

  /** Task counts of the given spans' jobs (not their children's). */
  def countsOf(ids: Iterable[Int]): Counts = {
    sc.foreach(org.apache.spark.graftbench.BusShim.drain)
    val total = new Counts
    counts.synchronized(ids.foreach(id => counts.get(id).foreach(total += _)))
    total
  }

  /** Self time per span name: each span's duration minus the part of
    * it its child spans cover (children never overlap: one thread
    * opens every span), summed over spans of the same name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupMapReduce(_.name)(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9)(_ + _)
  }

  def toJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, trace: String, name: String, startNs: Long, endNs: Long)
  private val Prop = "graftbench.span"
}
