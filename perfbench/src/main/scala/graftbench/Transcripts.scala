package graftbench

import graft.model.Turn
import graft.pipeline.{ExtractPipeline, LineageStore, ResumableExtract}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.util.Random

/** The transcript side: the durable_write workload, and the extract
  * and scan jobs the traced sweep also times on the same corpus (the
  * kernel work is identical, so the gap between them is the write path
  * and the lineage). */
object Transcripts {

  /** Corpus size in turns: about 350 conversations, 14 MB of parquet. */
  val CorpusTurns = 40000L
  val Buckets = 16

  def turns(spark: SparkSession, c: Corpus): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(c.dir).as[Turn]
  }

  /** scan → ExtractPipeline.extract → one digest aggregate over every
    * output row. */
  def extractDigest(spark: SparkSession, c: Corpus): Digest.D =
    Digest.ofTurns(ExtractPipeline.extract(turns(spark, c), new ExtractPipeline.Metrics(spark)).toDF)

  /** Parquet scan and `Turn` decode only: every field of every turn is
    * materialised, nothing else runs. */
  def scanOnly(spark: SparkSession, c: Corpus): Long = {
    import spark.implicits._
    turns(spark, c).mapPartitions { it =>
      var n = 0L
      it.foreach(t => n += 1 + t.text.length + t.conv_id.length + t.role.length + t.tool.length)
      Iterator(n)
    }.collect().sum
  }

  def generate(h: Harness): Corpus = {
    val c = Corpus.generate(h.spark, h.dir("corpus"), h.args.seed, CorpusTurns)
    h.info("corpus_reference_s") = c.referenceS
    h.info("corpus_write_s") = c.writeS
    h.info("corpus_convs") = c.convs
    h.info("corpus_turns") = c.turns
    h.info("corpus_bytes") = c.bytes
    c
  }

  def checkDigest(h: Harness, what: String, got: Digest.D, c: Corpus): Unit =
    h.check(s"$what digest equals the bare kernel's", got == c.reference, s"got $got want ${c.reference}")

  // ── durable_write ────────────────────────────────────────────────

  def durableRun(spark: SparkSession, c: Corpus, out: String): Set[Int] =
    ResumableExtract.run(spark, turns(spark, c), out, nBuckets = Buckets)

  def fresh(out: String): Unit = FileUtils.deleteQuietly(new File(out))

  /** What a crash between data write and lineage commit leaves: the
    * given buckets' data is on disk, their lineage rows are not. */
  def dropLineage(spark: SparkSession, out: String, buckets: Set[Int]): Unit = {
    val path = s"$out/${LineageStore.LineageTable}"
    val lineage = spark.read.parquet(path)
    val keep = lineage.filter(!col("partition_id").isin(buckets.toSeq: _*)).collect()
    val schema = lineage.schema
    fresh(path)
    spark.createDataFrame(java.util.Arrays.asList(keep: _*), schema).write.parquet(path)
  }

  /** The seeded quarter of the buckets a crash-resume leg re-runs. */
  def crashBuckets(seed: Long): Set[Int] =
    new Random(seed).shuffle((0 until Buckets).toList).take(Buckets / 4).toSet

  /** Output checks of a completed durable output directory. */
  def checkOutput(h: Harness, what: String, out: String, c: Corpus): Digest.D = {
    val spark = h.spark
    val d = Digest.ofTurns(ResumableExtract.readOutput(spark, out))
    checkDigest(h, what, d, c)
    h.check(s"$what output rows equal input turns", d.rows == c.turns, s"${d.rows} vs ${c.turns}")
    val lineage = spark.read.parquet(s"$out/${LineageStore.LineageTable}")
    val rows: Array[Row] = lineage.agg(count(lit(1)), sum(col("turns_done"))).collect()
    h.check(s"$what lineage rows equal buckets", rows(0).getLong(0) == Buckets, s"${rows(0).getLong(0)}")
    h.check(s"$what lineage turns_done sums to input turns", rows(0).getLong(1) == c.turns,
      s"${rows(0).getLong(1)} vs ${c.turns}")
    d
  }

  /** The set-up's first call is the op itself. */
  def durableWrite(h: Harness): Unit = {
    var corpus: Corpus = null
    val out = h.dir("out")
    def op(): Option[Double] = {
      fresh(out)
      h.attempt("durable run")(durableRun(h.spark, corpus, out)).map { case (done, s) =>
        h.check("durable run processes every bucket", done == (0 until Buckets).toSet, s"$done")
        s
      }
    }
    h.setup(3) { corpus = generate(h) } { op(); () }
    val times = h.loop(h.args.seconds, 2, warm = 1)(op()).flatten
    if (times.nonEmpty) crashResume(h, corpus, out)
    h.endToEnd(corpus.turns, times, times)
  }

  /** Drop a seeded quarter of the lineage rows, run again, and check
    * that exactly those buckets re-ran and the output is unchanged;
    * then a third run must find nothing to do. Returns the timed
    * resume and no-op legs. */
  def crashResume(h: Harness, c: Corpus, out: String): (Option[Double], Option[Double]) = {
    val before = checkOutput(h, "durable output", out, c)
    val drop = crashBuckets(h.args.seed)
    dropLineage(h.spark, out, drop)
    val resumed = h.tracer.span("pipeline.resume") {
      h.attempt("crash-resume leg")(durableRun(h.spark, c, out))
    }
    resumed.foreach { case (done, _) =>
      h.check("resume re-runs exactly the dropped buckets", done == drop, s"$done vs $drop")
    }
    val after = checkOutput(h, "resumed output", out, c)
    h.check("digest after resume equals digest before", after == before, s"$after vs $before")
    val noop = h.tracer.span("lineage.resume_noop") {
      h.attempt("resume no-op")(durableRun(h.spark, c, out))
    }
    noop.foreach { case (done, _) => h.check("a complete output resumes as a no-op", done.isEmpty, s"$done") }
    (resumed.map(_._2), noop.map(_._2))
  }
}
