package graftbench

import graft.SparkEntry
import graft.operators.{Dedup, Extraction, Multimodal, Relational, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.util.Random

/** query_mix: `SparkEntry.queries` over the fixed sf0.001 tables shipped in
  * `perfbench/data`, each exhausted by a digest aggregate, one at a
  * time, in a seeded order per pass. */
object Queries {

  /** Query name → the operator module whose `defs` declares it. */
  lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
    "TextAnalysis" -> TextAnalysis.defs, "Multimodal" -> Multimodal.defs,
    "Retrieval" -> Retrieval.defs, "Extraction" -> Extraction.defs,
  ).flatMap { case (m, defs) => defs.map(_._1 -> m) }.toMap

  val Modules: Seq[String] =
    Seq("Relational", "Dedup", "Similarity", "TextAnalysis", "Multimodal", "Retrieval", "Extraction")

  /** The measured mix: one query per operator module (two for
    * Relational, the largest), chosen among the cheaper ones so that
    * passes fit a run: a warm pass over all 96 takes about a minute at
    * sf0.001 on 4 cores, longer than a run may last. */
  val Mix: Seq[String] = Seq(
    "q1_agg", "j5_asof", "d1_exact_dedup", "ann_topk_cosine", "t1_langid",
    "m1_media_meta", "r2_rrf_fusion", "x_extract_turns")

  /** The heaviest leaves and the carried-over ones, timed one by one
    * in the traced run only. */
  val Leaves: Seq[String] = Seq("ann_ivfpq_topk", "d16_minhash_est", "d9_simhash_neardup",
    "d13_cluster_keepbest", "j1_best_match", "r1_bm25_topk", "m6_audio_decode", "t10_tfidf_topterms")

  def query(h: Harness, name: String): DataFrame = SparkEntry.queries(name)(h.spark, h.args.data)

  final case class Timed(name: String, seconds: Double, digest: Digest.D)

  /** One pass in the given order; a failed query is counted and left
    * out of the timings. */
  def pass(h: Harness, order: Seq[String], run: String => Digest.D): Seq[Timed] =
    order.flatMap { q =>
      h.attempt(s"query $q")(run(q)).map { case (d, s) => Timed(q, s, d) }
    }

  def exhaust(h: Harness)(q: String): Digest.D = Digest.run(Digest.queryFrame(query(h, q)))

  /** Every pass must give each query the same row count and digest. */
  def checkPasses(h: Harness, passes: Seq[Seq[Timed]]): Unit =
    passes.flatten.groupBy(_.name).foreach { case (q, runs) =>
      val ds = runs.map(_.digest).distinct
      h.check(s"query $q gives the same rows and digest in every pass", ds.size == 1, ds.mkString(" / "))
    }

  def order(seed: Long, pass: Int, qs: Seq[String]): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(qs)

  def mix(h: Harness): Unit = {
    h.setup(3)(()) { exhaust(h)("q1_agg") }
    // untimed first pass: writes each result for the oracle comparison
    // run.py makes, and pays the first-execution code generation
    val written = writeForOracle(h, Mix)
    var n = 0
    val passes = h.loop(h.args.seconds, 4) { n += 1; pass(h, order(h.args.seed, n, Mix), exhaust(h)) }
    checkPasses(h, passes)
    passes.flatten.foreach { t =>
      written.get(t.name).foreach(rows =>
        h.check(s"query ${t.name} rows equal the written result's", t.digest.rows == rows, s"${t.digest.rows} vs $rows"))
    }
    val times = passes.flatten.map(_.seconds)
    // a pass whose queries all succeeded is a unit of work
    val whole = passes.filter(_.size == Mix.size).map(_.map(_.seconds).sum)
    h.endToEnd(Mix.size, whole, times)
    h.info("passes") = passes.size
    h.info("query_median_s") = passes.flatten.groupBy(_.name).map { case (q, ts) => q -> Stats.median(ts.map(_.seconds)) }
    Stats.tail(times).foreach { t =>
      h.info("query_tail") = Map("value_s" -> t.value, "percentile" -> t.percentile, "rank" -> t.rank,
        "samples" -> t.samples)
    }
  }

  /** Writes each query's result as parquet under `work/results/<q>`
    * and the engine's oracle SQL of those queries to
    * `work/oracle_sql.json`. Returns the written row counts. */
  def writeForOracle(h: Harness, qs: Seq[String]): Map[String, Long] = {
    val root = h.dir("results")
    val rows = qs.flatMap { q =>
      h.attempt(s"query $q (result write)") {
        query(h, q).write.mode("overwrite").parquet(s"$root/$q")
        h.spark.read.parquet(s"$root/$q").count()
      }.map(r => q -> r._1)
    }.toMap
    val sql = SparkEntry.oracleSql.filter { case (q, _) => rows.contains(q) }
    Files.write(new File(h.args.work, "oracle_sql.json").toPath,
      Json.value(sql).getBytes(StandardCharsets.UTF_8))
    rows
  }
}
