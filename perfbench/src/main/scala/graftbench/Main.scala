package graftbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --traces DIR`. Prints one info line and then,
  * last, the result line `{"correct","attempted","failed","metrics"}`.
  * `perfbench/run.py` builds the classpath and launches this. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String, traces: String)

  val Workloads: Seq[String] = Seq("durable_write", "query_mix")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("traces"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val h = new Harness(parse(argv))
    val ok = try {
      if (h.args.trace) Layers.run(h) else h.args.workload match {
        case "durable_write" => Transcripts.durableWrite(h)
        case "query_mix" => Queries.mix(h)
      }
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        false
    } finally h.close()
    if (!ok) sys.exit(1)
    h.report()
  }
}

/** Shared state of one run: the session, the op and failure counts,
  * the metrics, the tracer and the host readings. */
final class Harness(val args: Main.Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val tracer = new Tracer(args.trace, args.seed)
  private val liveHeap = mutable.ArrayBuffer.empty[Double]
  private val ticks0 = Host.cpuTicks()
  private val started = System.nanoTime()
  /** Read first, before Spark has loaded or compiled anything. */
  val hostKernelUs: Double = Host.kernelUs()

  var attempted = 0L
  var failed = 0L
  private var wrong = List.empty[String]
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  private var session: Option[SparkSession] = None
  def spark: SparkSession = session.getOrElse(sys.error("no session"))

  def dir(name: String): String = new File(args.work, name).getPath

  /** A fresh session; the previous one, if any, is stopped first.
    * The engine's own bench settings, except the scan split size: at
    * 16 MiB this corpus packs into a handful of coarse tasks whose
    * packing, not the engine, then sets the job time; at 4 MiB the tasks
    * are as fine as at the bench's corpus size. */
  def start(master: String = s"local[$cores]"): SparkSession = {
    stop()
    val parallelism = master.stripPrefix("local[").stripSuffix("]")
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s.sparkContext)
    session = Some(s)
    s
  }

  def stop(): Unit = session.foreach { s =>
    tracer.detach()
    s.stop()
    session = None
  }

  /** One closed-loop operation: counted as attempted; a throw counts as
    * failed and yields no timing, so a failure can never make a
    * workload read faster. */
  def attempt[T](what: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      Some((v, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      wrong = s"$what $detail".trim :: wrong
      System.err.println(s"[perfbench] check failed: $what $detail")
    }

  /** Runs `warm` untimed ops, then repeats `op` until `seconds` of op
    * time have passed (finishing the op under way) and at least `min`
    * ran; returns the results of the repeated ops. The warm ops are
    * there because op times keep falling for several jobs after the
    * set-up's three first calls (the JIT is still compiling). After
    * each op, untimed, a full collection: every op starts from the same
    * clean heap, and the heap left live is sampled for peak_heap_mb. */
  def loop[T](seconds: Double, min: Int, warm: Int = 0)(op: => T): Seq[T] = {
    for (_ <- 1 to warm) { op; Host.liveHeapMb() }
    val out = Vector.newBuilder[T]
    var busyNs = 0L
    var n = 0
    while (n < min || busyNs / 1e9 < seconds) {
      val t0 = System.nanoTime()
      out += op
      busyNs += System.nanoTime() - t0
      liveHeap += Host.liveHeapMb()
      n += 1
    }
    out.result()
  }

  /** setup_s: session start plus the first call, `runs` times, median.
    * `between` runs after the first session start and is excluded (the
    * inputs are generated there). */
  def setup(runs: Int)(between: => Unit)(warm: => Unit): Unit = {
    val samples = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      start()
      val sessionS = (System.nanoTime() - t0) / 1e9
      if (i == 1) between
      val t1 = System.nanoTime()
      warm
      sessionS + (System.nanoTime() - t1) / 1e9
    }
    info("setup_samples_s") = samples
    put("setup_s", Stats.median(samples), "s")
  }

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** Share of CPU time the hypervisor took from this VM so far. */
  def stealShare(): Double = Host.stealShare(ticks0, Host.cpuTicks())

  /** The end-to-end metrics every workload reports: `items` done per
    * unit of work over the median unit time, and the median op. For
    * the transcript workloads a unit is one op (a job over the
    * corpus); for query_mix it is a pass over the mix. */
  def endToEnd(items: Double, unitSeconds: Seq[Double], opSeconds: Seq[Double]): Unit = {
    check("at least one successful op", opSeconds.nonEmpty)
    put("throughput_per_s", if (unitSeconds.isEmpty) 0.0 else items / Stats.median(unitSeconds), "1/s")
    put("op_p50_s", if (opSeconds.isEmpty) 0.0 else Stats.median(opSeconds), "s")
    put("peak_heap_mb", if (liveHeap.isEmpty) Host.liveHeapMb() else liveHeap.max, "MB")
    put("ops_ok_ratio", if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted, "ratio")
    info("op_samples_s") = opSeconds
  }

  def close(): Unit =
    try stop() catch { case e: Exception => System.err.println(s"[perfbench] stop: $e") }

  def report(): Unit = {
    info("host_kernel_us") = hostKernelUs
    info("host_steal_share") = stealShare()
    info("run_s") = (System.nanoTime() - started) / 1e9
    info("cores") = cores
    if (args.trace) {
      val out = new File(args.traces, s"${args.workload}-seed${args.seed}.spans.json")
      out.getParentFile.mkdirs()
      Files.write(out.toPath, tracer.toJson.getBytes(StandardCharsets.UTF_8))
      info("spans_file") = out.getPath
    }
    if (wrong.nonEmpty) info("failed_checks") = wrong.reverse
    println(Json.obj("info" -> info))
    val m = metrics.map { case (k, (v, u)) => k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }
    println(Json.obj("correct" -> wrong.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> m))
  }
}
