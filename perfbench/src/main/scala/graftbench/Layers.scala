package graftbench

import graft.gen.TranscriptGen
import graft.kernel.Extractor
import graft.model.{FastScan, PayloadCodec, Tool, Turn}
import graft.pipeline.LineageStore
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** The traced run (`--trace 1`): one sweep that records every per-layer
  * metric, whichever workload is named, with spans from this file
  * around each call into an engine module. The workload's seed picks
  * the corpus and the query order. */
object Layers {

  /** In-process kernel sample: the seed's first conversations up to
    * this many turns. */
  val SampleTurns = 20000

  def run(h: Harness): Unit = {
    val t = h.tracer
    h.start()
    val sample = {
      val b = Vector.newBuilder[Turn]
      var n = 0
      var c = 0
      while (n < SampleTurns) { val ts = TranscriptGen.convTurns(c, h.args.seed)._1; b ++= ts; n += ts.size; c += 1 }
      b.result()
    }
    t.workload("kernel")(kernel(h, sample))
    val corpus = Transcripts.generate(h)
    t.workload("extract")(extract(h, corpus))
    t.workload("durable_write")(durable(h, corpus))
    t.workload("query_mix")(queries(h))
    h.tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (name, s) => h.info(s"self.$name.s") = s }
    for (layer <- SelfLayers) h.put(s"self.$layer.s", h.tracer.selfSeconds.getOrElse(layer, 0.0), "s")
    h.put("host.kernel_us_at_end", Host.kernelUs(), "us")
    h.put("host.steal_share", h.stealShare(), "ratio")
  }

  /** Layers whose self time is reported as a metric. */
  val SelfLayers: Seq[String] = Seq("model.decode", "kernel.extract", "pipeline.scan", "pipeline.extract",
    "pipeline.write", "pipeline.resume", "lineage.completed", "operators", "query.plan", "query.exec")

  private def timeReps(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })

  // ── graft.model and graft.kernel, no Spark ──────────────────────────

  def kernel(h: Harness, sample: Vector[Turn]): Unit = {
    val t = h.tracer
    h.put("kernel.us_per_turn", h.hostKernelUs, "us")

    val boxTurns = sample.filter(x => x.tool != Tool.HtmlMain && x.text.startsWith("{"))
    var boxes = 0L
    val decodeS = t.span("model.decode")(timeReps(3) {
      boxes = 0L
      boxTurns.foreach(x => boxes += PayloadCodec.decode(x.text).boxes.length)
    })
    h.put("model.decode_us_per_turn", decodeS * 1e6 / boxTurns.size, "us")
    h.put("model.boxes_decoded", boxes.toDouble, "count")
    val hits = boxTurns.count { x =>
      try { new FastScan(x.text).parse(); true } catch { case FastScan.Bail => false }
    }
    h.put("model.fastscan_hit_ratio", hits.toDouble / boxTurns.size, "ratio")

    for (tool <- Seq(Tool.Quick, Tool.TableSimple, Tool.TableBands, Tool.TableRects, Tool.HtmlMain)) {
      val ts = sample.filter(_.tool == tool)
      val ctr = new Extractor.Counters
      val s = t.span("kernel.extract")(timeReps(3)(ts.foreach(Extractor.extract(_, ctr))))
      h.put(s"kernel.us_per_turn.$tool", s * 1e6 / ts.size, "us")
    }

    // the kernel on one plain JVM thread per core, no Spark: the
    // ceiling the extraction job is compared with
    val threads = h.cores
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val slices = sample.grouped((sample.size + threads - 1) / threads).toSeq
      val s = t.span("kernel.extract")(timeReps(5) {
        pool.invokeAll(slices.map { sl =>
          new Callable[Long] {
            def call(): Long = { val ctr = new Extractor.Counters; sl.foreach(Extractor.extract(_, ctr)); ctr.turns }
          }
        }.asJava).asScala.foreach(_.get())
      })
      h.put("kernel.threads_turns_per_s", sample.size / s, "1/s")
    } finally pool.shutdown()
  }

  // ── graft.pipeline.ExtractPipeline ─────────────────────────────────

  def extract(h: Harness, corpus: Corpus): Unit = {
    val t = h.tracer
    h.put("kernel.cells_out", corpus.kernel.cellsOut.toDouble, "count")
    h.put("kernel.boxes_dropped", corpus.kernel.boxesDropped.toDouble, "count")
    h.put("kernel.blocks_kept", corpus.kernel.blocksKept.toDouble, "count")
    h.put("kernel.blocks_dropped", corpus.kernel.blocksDropped.toDouble, "count")

    def op(): Unit = h.attempt("extract job")(Transcripts.extractDigest(h.spark, corpus))
      .foreach { case (d, _) => Transcripts.checkDigest(h, "extract", d, corpus) }
    t.untraced(op()) // first call: code generation and JIT
    val scanS = timeReps(2)(t.span("pipeline.scan")(h.attempt("scan job")(Transcripts.scanOnly(h.spark, corpus))))
    h.put("scan.turns_per_s", corpus.turns / scanS, "1/s")

    // alternated, each first in turn: op times still drift down here
    val untracedS = Seq.newBuilder[Double]
    val tracedS = Seq.newBuilder[Double]
    for (i <- 1 to 4) {
      def plain(): Unit = untracedS += timeReps(1)(t.untraced(op()))
      def traced(): Unit = tracedS += timeReps(1)(t.span("pipeline.extract")(op()))
      if (i % 2 == 1) { plain(); traced() } else { traced(); plain() }
    }
    val plain = Stats.median(untracedS.result())
    h.put("extract.turns_per_s", corpus.turns / plain, "1/s")
    h.put("trace.overhead_ratio", Stats.median(tracedS.result()) / plain, "ratio")
    h.put("extract.overhead_ratio", h.metrics("kernel.threads_turns_per_s")._1 / (corpus.turns / plain), "ratio")
    val ids = t.idsNamed("pipeline.extract")
    val c = t.countsOf(ids)
    h.put("extract.tasks", c.tasks.toDouble / ids.size, "count")
    h.put("extract.task_max_over_p50", c.taskMaxOverP50, "ratio")
    h.put("extract.executor_cpu_ms", c.cpuNs / 1e6 / ids.size, "ms")
    h.put("extract.gc_ms", c.gcMs.toDouble / ids.size, "ms")

    // the same job on local[1]: the single-thread baseline of the
    // N-to-4N scaling gate
    h.start("local[1]")
    val oneS = timeReps(2)(t.span("pipeline.extract.local1")(t.untraced(op())))
    // (turns / plain) / (cores × turns / oneS)
    h.put("extract.scaling_eff", oneS / (h.cores * plain), "ratio")
    h.start()
  }

  // ── graft.pipeline write path ──────────────────────────────────────

  def durable(h: Harness, corpus: Corpus): Unit = {
    val t = h.tracer
    val out = h.dir("out")
    Transcripts.fresh(out)
    t.untraced(h.attempt("durable run")(Transcripts.durableRun(h.spark, corpus, out))) // first call
    Transcripts.fresh(out)
    val (done, id) = t.timed("pipeline.write")(h.attempt("durable run")(Transcripts.durableRun(h.spark, corpus, out)))
    done.foreach { case (d, _) => h.check("durable run processes every bucket", d.size == Transcripts.Buckets, s"$d") }
    val runS = t.seconds(id)
    val c = t.countsOf(Seq(id))
    h.put("write.run_s", runS, "s")
    h.put("write.turns_per_s", corpus.turns / runS, "1/s")
    h.put("write.jobs", c.jobs.toDouble, "count")
    h.put("write.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes")
    h.put("write.shuffle_read_bytes", c.shuffleReadBytes.toDouble, "bytes")
    h.put("write.spill_bytes", c.spillBytes.toDouble, "bytes")
    h.put("write.task_max_over_p50", c.taskMaxOverP50, "ratio")
    h.put("write.gc_ms", c.gcMs.toDouble, "ms")
    val files = Corpus.filesUnder(new java.io.File(out, LineageStore.DataTable))
    h.put("write.files", files.size.toDouble, "count")
    h.put("write.bytes", files.map(_.length).sum.toDouble, "bytes")
    h.put("write.stored_bytes_per_input_byte", files.map(_.length).sum.toDouble / corpus.bytes, "ratio")
    val (_, lid) = t.timed("lineage.completed")(new LineageStore(out).completedBuckets(h.spark))
    h.put("lineage.completed_buckets_s", t.seconds(lid), "s")

    val (resumeS, noopS) = Transcripts.crashResume(h, corpus, out)
    h.put("resume.quarter_s", resumeS.getOrElse(0.0), "s")
    h.put("lineage.resume_noop_s", noopS.getOrElse(0.0), "s")
    h.put("resume.input_bytes_read", t.countsOf(t.idsNamed("pipeline.resume")).inputBytes.toDouble, "bytes")
  }

  // ── graft.operators through SparkEntry.queries ─────────────────────

  def queries(h: Harness): Unit = {
    val t = h.tracer
    def traced(q: String): Digest.D = t.span(s"operators.${Queries.moduleOf(q)}") {
      val frame = Digest.queryFrame(Queries.query(h, q))
      t.span("query.plan")(frame.queryExecution.executedPlan)
      t.span("query.exec")(Digest.run(frame))
    }
    val compile0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val cold = t.span("operators")(Queries.pass(h, Queries.order(h.args.seed, 0, Queries.Mix), traced))
    h.put("query.codegen_compile_ms", (CodeGenerator.compileTime - compile0._1) / 1e6, "ms")
    h.put("query.codegen_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compile0._2).toDouble, "count")

    val (warm, warmId) = t.timed("operators")(Queries.pass(h, Queries.order(h.args.seed, 1, Queries.Mix), traced))
    Queries.checkPasses(h, Seq(cold, warm))
    val times = warm.map(_.seconds)
    h.put("query.total_s", times.sum, "s")
    h.put("query.p50_s", Stats.median(times), "s")
    val tail = Stats.tail(cold.map(_.seconds) ++ times)
    h.put("query.tail_s", tail.map(_.value).getOrElse(0.0), "s")
    tail.foreach(x => h.info("query_tail") = Map("percentile" -> x.percentile, "rank" -> x.rank, "samples" -> x.samples))
    for (m <- Queries.Modules)
      h.put(s"ops.$m.s", warm.filter(x => Queries.moduleOf(x.name) == m).map(_.seconds).sum, "s")
    val inWarm = t.under(warmId)
    val n = math.max(warm.size, 1).toDouble
    h.put("query.plan_ms", inWarm.filter(t.name(_) == "query.plan").map(t.seconds).sum * 1e3 / n, "ms")
    val c = t.countsOf(inWarm)
    h.put("query.jobs", c.jobs / n, "count")
    h.put("query.tasks", c.tasks / n, "count")
    h.put("query.shuffle_bytes", (c.shuffleWriteBytes + c.shuffleReadBytes) / n, "bytes")
    h.put("query.spill_bytes", c.spillBytes / n, "bytes")
    h.put("query.gc_ms", c.gcMs / n, "ms")

    for (q <- Queries.Leaves) {
      val r = t.span(s"q.$q")(h.attempt(s"query $q")(Queries.exhaust(h)(q)))
      h.put(s"q.$q.s", r.map(_._2).getOrElse(0.0), "s")
    }
  }
}
