package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization equivalence pins: every rewrite that changed
  * an operator's INTERNAL dataflow (wide aggregates instead of
  * explodes, fused argmax aggregates, grouped pair enumeration) is
  * checked here against the formulation it replaced, re-implemented
  * inline as the reference. The driver's oracle gate already pins the
  * end-to-end outputs; these tests localize a failure to the specific
  * rewritten kernel.
  */
class OptEquivalenceSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("d3 wide MinHash signatures equal the seed-explode formulation") {
    import spark.implicits._
    // reference: the former explode-×-seeds form, inline
    val sh = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.operators.Fn.tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(graft.operators.Fn.shinglesCol(col("t"))).as("sh"))
    val ref = sh
      .select(col("doc_id"), col("sh"),
        explode(sequence(lit(0), lit(15))).as("seed"))
      .withColumn("h", graft.operators.Fn.md5Prefix32(
        concat(col("seed").cast("string"), lit(":"), col("sh"))))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(col("h")).as("minhash"))
      .as[(Long, Int, Long)].collect().toSet
    val got = SparkEntry.queries("d3_minhash_sig")(spark, sfDir)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == ref)
  }

  test("d5 wide SimHash bit sums equal the bit-explode formulation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // reference: the former per-(doc, bit) signed-sum form, inline
    val ref = docs
      .select(col("doc_id"),
        explode(array_distinct(graft.operators.Fn.tokensCol(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .withColumn("w", graft.operators.Fn.hexBit(col("h"), col("b")) * 2 - 1)
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("w")).as("sw"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("b"),
            when(col("sw") > 0, "1").otherwise("0").as("bit")))),
          x => x.getField("bit")), "").as("simhash"))
      .as[(Long, String)].collect().toSet
    val got = SparkEntry.queries("d5_simhash")(spark, sfDir)
      .as[(Long, String)].collect().toSet
    assert(got == ref)
  }

  test("d13 fused argmax picks (max quality, min doc_id) per cluster") {
    import spark.implicits._
    // randomized (cluster, doc, quality) rows incl. quality ties
    val rnd = new scala.util.Random(9)
    val rows = Seq.fill(500)(
      (rnd.nextInt(20).toLong, rnd.nextInt(10000).toLong,
        rnd.nextInt(5).toLong * 2500)).distinct
    val df = rows.toDF("cluster_id", "doc_id", "quality_x1e4")
    val M = 1L << 48
    val got = df.groupBy(col("cluster_id"))
      .agg(max(col("quality_x1e4") * M + (lit(M - 1) - col("doc_id"))).as("bk"))
      .select(col("cluster_id"), (lit(M - 1) - pmod(col("bk"), lit(M))).as("win"))
      .as[(Long, Long)].collect().toMap
    val ref = rows.groupBy(_._1).map { case (c, rs) =>
      val mq = rs.map(_._3).max
      c -> rs.filter(_._3 == mq).map(_._2).min
    }
    assert(got == ref)
  }

  test("a10 HLL gate holds at every supported scale factor (advice r5)") {
    // the oracle pins hll_ok=true; Spark's approx_count_distinct error
    // is not hard-bounded by 3·rsd, so assert the gate in-repo at each
    // sf the driver may verify on — a data-shape drift fails HERE, not
    // as a mysterious driver-side hash mismatch
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val bad = SparkEntry.queries("a10_hll_distinct")(spark, s"/root/testdata/$sf")
        .filter(!col("hll_ok")).count()
      assert(bad == 0L, s"$sf: $bad groups outside the 3·rsd HLL gate")
    }
  }

  test("grouped shingle pair counts equal the self-join pair counts (d2)") {
    import spark.implicits._
    val sh = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.operators.Fn.tokensCol(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(graft.operators.Fn.shinglesCol(col("t"))).as("sh"))
    // reference: the former self-join form, inline (no df cap — pure
    // pair-count equivalence on the raw shingle table)
    val ref = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .as[(Long, Long, Long)].collect().toSet
    val got = graft.operators.Dedup.shinglePairCounts(sh)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == ref)
  }
}
