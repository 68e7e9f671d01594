package graft

import graft.operators.Fn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Column/helper library correctness: the scalable two-level ordered
  * index and the footer-statistic row count. */
class FnSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("orderedIndex equals the global sort index (incl. duplicate keys, any partitioning)") {
    // scrambled keys with duplicates (mod collisions) across many
    // input partitions — the index must be a 0..n-1 permutation whose
    // order is a global sort by key
    val df = spark.range(10000).repartition(13).select(
      concat(lit("k"), lpad(pmod(col("id") * 2654435761L, lit(4000L))
        .cast("string"), 5, "0")).as("k"))
    val got = Fn.orderedIndex(df, col("k"), buckets = 16)
      .select(col("k"), col("idx")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.length == 10000)
    assert(got.map(_._2).sorted.toSeq == (0L until 10000L))
    val keysByIdx = got.sortBy(_._2).map(_._1).toSeq
    assert(keysByIdx == keysByIdx.sorted, "index order must be key order")
  }

  test("orderedIndex's only unpartitioned window is over the bucket counts, not data rows") {
    val df = spark.range(1000).select(col("id").cast("string").as("k"))
    val plan = Fn.orderedIndex(df, col("k"), buckets = 16)
      .queryExecution.executedPlan.toString
    // the data-row window must be partitioned (by _pid); plan therefore
    // contains a windowspec with a partition clause referencing _pid
    assert(plan.contains("_pid"))
  }

  test("rowCountStat (parquet footers) equals the scanned count") {
    for (t <- Seq("embeddings", "documents", "supplier"))
      assert(Fn.rowCountStat(spark, sfDir, t) ==
        spark.read.parquet(s"$sfDir/$t.parquet").count(), t)
  }

  test("d9 band width follows clamp(16, ceil(log2 n), 32) at every boundary") {
    import graft.operators.Dedup
    // small corpora stay at the 16-bit floor (driver sf outputs are
    // unchanged); growth adds exactly ceil(log2 n) bits; md5's 128
    // bits cap the fingerprint at 4×32
    assert(Dedup.bandBitsFor(1L) == 16)
    assert(Dedup.bandBitsFor(1000L) == 16)
    assert(Dedup.bandBitsFor(65536L) == 16)          // 2^16 exactly
    assert(Dedup.bandBitsFor(65537L) == 17)          // first widening
    assert(Dedup.bandBitsFor(1L << 20) == 20)
    assert(Dedup.bandBitsFor((1L << 20) + 1) == 21)
    assert(Dedup.bandBitsFor(1L << 32) == 32)
    assert(Dedup.bandBitsFor(Long.MaxValue) == 32)   // cap
  }

  test("d9 widened-band path finds the same deterministic twins as 16-bit bands") {
    import graft.operators.Dedup
    // a doc and its doubled-text twin share the DISTINCT token set, so
    // their SimHash is identical at ANY width — every %17 doc must pair
    // with its +1000000 twin at hamming 0 under both widths
    val dir = sfDir
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(17L)) === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    for (w <- Seq(16, 20)) {
      val twins = Dedup.simhashNeardup(spark, dir, w)
        .filter(col("doc_b") === col("doc_a") + 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(twins.keySet == expected, s"w=$w")
      assert(twins.values.forall(_ == 0L), s"w=$w twins must be hamming 0")
    }
  }

  test("colMaxStat (parquet footer column stats) equals the scanned max") {
    for ((t, c) <- Seq(("documents", "doc_id"), ("embeddings", "vec_id"),
        ("orders", "o_orderkey")))
      assert(Fn.colMaxStat(spark, sfDir, t, c) ==
        spark.read.parquet(s"$sfDir/$t.parquet")
          .agg(max(col(c))).head().getLong(0), s"$t.$c")
  }

  test("rowCountStat launches no Spark job (metadata read only)") {
    val sc = spark.sparkContext
    Thread.sleep(300) // let earlier tests' async job events drain
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    Fn.rowCountStat(spark, sfDir, "embeddings")
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "footer statistic must not run a Spark job")
  }
}
