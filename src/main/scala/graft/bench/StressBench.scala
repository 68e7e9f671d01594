package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-of-magnitude stress recording for the dedup / connected-
  * components / ANN family (VERDICT r4 "what's missing #5": every
  * recorded number was sf0.001-0.1; the 100×-scale story rested on
  * plan-shape arguments alone). This runs the same queries on a
  * deterministic synthetic corpus at 1× (sf0.1-sized: 5 k documents,
  * 2 k embeddings) and at `GRAFT_STRESS_MULT`× (default 10× — the
  * sf1 equivalent: 50 k documents, 20 k embeddings), and reports
  * per-query floors plus the 10×/1× time ratio — measured evidence
  * that no query in the family goes superlinear one order of
  * magnitude beyond the driver's data.
  *
  * The corpus mirrors the driver generator's statistical shape
  * (word-salad text over a small vocabulary, ~300 chars/doc, exact
  * duplicates at ~1/625, planted near-duplicates at ~1/500, isotropic
  * 64-dim embeddings) with all densities scale-invariant, so candidate
  * structure grows with the corpus the way the real tables' would.
  * Generation is per-row seeded (split-brain-free under any
  * partitioning) and runs through the normal [[graft.SparkEntry]]
  * query surface, release-registry included.
  *
  * Timing: min over `GRAFT_STRESS_CYCLES` (default 3) CYCLE-MAJOR
  * passes — each cycle times every (query, scale) pair once — the
  * interleaved-floor estimator from BENCH/BASELINE.md (this host's
  * CPU-steal windows outlast any back-to-back rep loop).
  *
  * Usage: runMain graft.bench.StressBench
  */
object StressBench {

  // ~300 tokens: wide enough that two RANDOM docs are SimHash-distant
  // (a ~30-word vocab made every doc near every other — d9 emitted
  // 688 k pairs from 5 k docs where the driver corpus yields 1 752;
  // pair structure must come from the PLANTED dups, like the real
  // tables, or the bench times quadratic output instead of the
  // operator)
  private val vocab: Array[String] = Array(
    "spark", "batch", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "query", "agg", "table",
    "key", "stream", "filter", "customer", "window", "join", "part",
    "vector", "shuffle", "broadcast", "the", "a") ++
    (0 until 272).map(i => s"tok$i")

  /** word-salad body for one document — pure function of the id */
  private def docText(id: Long): String = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 42L)
    val n = 10 + rnd.nextInt(90)
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(rnd.nextInt(vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** exact dups at 1/625 (the sf0.1 corpus has 8 dup pairs in 5 k
    * docs), planted near-dups at 1/500 — density, not count, is what
    * must stay scale-invariant */
  private def textFor(id: Long): String =
    if (id % 625 == 624) docText(id - 1)
    else if (id % 500 == 499) docText(id - 2) + " extra"
    else docText(id)

  private def writeCorpus(spark: SparkSession, dir: String,
      nDocs: Long, nVecs: Long): Unit = {
    import spark.implicits._
    spark.range(nDocs).as[Long]
      .mapPartitions(_.map { id =>
        val rnd = new java.util.Random(id * 0x5DEECE66DL + 7L)
        val text = textFor(id)
        val lang = if (rnd.nextInt(10) == 0)
          Seq("zh", "de", "fr")(rnd.nextInt(3)) else "en"
        (id, text, lang, s"src${rnd.nextInt(20)}", text.length)
      })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(nVecs).as[Long]
      .mapPartitions(_.map { id =>
        val rnd = new java.util.Random(id * 0x2545F4914F6CDD1DL + 3L)
        (id, Array.fill(64)((rnd.nextGaussian() * 0.125).toFloat))
      })
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val cycles = sys.env.getOrElse("GRAFT_STRESS_CYCLES", "3").toInt
    val mult = sys.env.getOrElse("GRAFT_STRESS_MULT", "10").toInt
    val spark = graft.LocalSpark.session()

    val work = java.nio.file.Files.createTempDirectory("graft_stress").toString
    val scales = Seq("x1" -> (5000L, 2000L),
      s"x$mult" -> (5000L * mult, 2000L * mult))
    for ((tag, (nd, nv)) <- scales) {
      writeCorpus(spark, s"$work/$tag", nd, nv)
      println(s"[stress] corpus $tag: $nd docs, $nv vecs at $work/$tag")
    }

    val queries = Seq("d2_ngram_jaccard", "d4_lsh_pairs", "d8_dup_clusters",
      "d9_simhash_neardup", "d10_repeated_passages", "d11_bloom_decontam",
      "d12_semdedup", "d13_cluster_keepbest",
      "ann_topk_cosine", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
      "ann_ivfpq_topk",
      // corpus-sized text-pipeline members: t14 explodes the corpus
      // into hashed features (the cached-feats + broadcast-ratio
      // shape), t15 collapses it to the vocab table first — both must
      // stay linear-or-better like the dedup family
      "t14_dsir_select", "t15_bpe_pairs",
      // retrieval legs (posting/probe broadcasts over a corpus-sized
      // scan), the linear URL-canonicalization hash-agg, and the
      // paragraph-instance dedup (linear window table + back-join)
      "r1_bm25_topk", "r2_rrf_fusion", "d15_url_canonical",
      "t17_paragraph_dedup",
      // estimator calibration (d2's pair chain + signature joins) and
      // the strata report (one hash-agg + one-row broadcast)
      "d16_minhash_est", "t19_mixture_report")

    def exhaust(df: DataFrame): Long = {
      val h = xxhash64(df.columns.map(c => col(c).cast("string")): _*)
      df.select(h.as("h")).agg(expr("bit_xor(h)"), count(lit(1))).head().getLong(1)
    }

    // warm-up (session machinery + codegen), untimed
    for ((tag, _) <- scales)
      exhaust(graft.SparkEntry.queries("d4_lsh_pairs")(spark, s"$work/$tag"))

    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    val rows = scala.collection.mutable.Map.empty[(String, String), Long]
    for (c <- 1 to cycles; q <- queries; (tag, _) <- scales) {
      val t0 = System.nanoTime()
      val n = exhaust(graft.SparkEntry.queries(q)(spark, s"$work/$tag"))
      val sec = (System.nanoTime() - t0) / 1e9
      val k = (q, tag)
      if (sec < best.getOrElse(k, Double.MaxValue)) best(k) = sec
      rows(k) = n
      println(f"[stress] cycle=$c $q%-22s $tag%-4s $sec%7.2f s  ($n rows)")
    }

    // d8's contraction round count at both scales (untimed): the
    // large-star/small-star loop must stay O(log n), not O(diameter)
    graft.operators.Fn.release()
    val ccRounds = scales.map { case (tag, _) =>
      val r = graft.operators.Dedup.contract(
        graft.operators.Dedup.lshCandidatePairs(spark, s"$work/$tag"))
      val rounds = r.rounds
      graft.operators.Fn.release()
      tag -> rounds
    }

    val hiTag = scales.last._1
    println(s"\n| query | t(x1) s | t($hiTag) s | ratio | rows x1 → $hiTag |")
    println("|---|---|---|---|---|")
    for (q <- queries) {
      val t1 = best((q, "x1")); val tN = best((q, hiTag))
      println(f"| $q | $t1%.2f | $tN%.2f | ${tN / t1}%.1f× " +
        s"| ${rows((q, "x1"))} → ${rows((q, hiTag))} |")
    }
    println(s"\nd8 contraction rounds: " +
      ccRounds.map { case (t, r) => s"$t=$r" }.mkString(", "))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work)): Unit
    spark.stop()
  }
}
