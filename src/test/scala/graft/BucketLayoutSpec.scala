package graft

import graft.pipeline.BucketLayout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact bucket→task placement contract. The helper inverts
  * Spark's repartition hash (murmur3 seed 42) with precomputed probes;
  * this test asserts the RESULT — every row lands on the partition its
  * pid names — so a Spark release that changed HashPartitioning's
  * internals would fail here loudly instead of silently scattering the
  * durable write back to tasks × buckets files. */
class BucketLayoutSpec extends AnyFunSuite with SharedSpark {

  test("exactRepartition places every row on the partition its pid names") {
    import spark.implicits._
    for (n <- Seq(1, 7, 64, 200)) {
      val rows = spark.range(0, 10L * n).toDF("id")
        .withColumn("pid", pmod($"id", lit(n.toLong)).cast("int"))
      val misplaced = BucketLayout.exactRepartition(rows, $"pid", n)
        .withColumn("actual", spark_partition_id())
        .filter($"actual" =!= $"pid")
        .count()
      assert(misplaced === 0L, s"n=$n")
      // and the partition count is exactly n (placement, not coalesce)
      val parts = BucketLayout.exactRepartition(rows, $"pid", n)
        .rdd.getNumPartitions
      assert(parts === n)
    }
  }

  test("out-of-range pids wrap by pmod instead of dropping rows") {
    import spark.implicits._
    val rows = Seq((0, -3), (1, 67), (2, 64)).toDF("id", "pid")
    val placed = BucketLayout.exactRepartition(rows, $"pid", 64)
      .withColumn("actual", spark_partition_id())
      .select($"id", $"actual").as[(Int, Int)].collect().toMap
    assert(placed === Map(0 -> 61, 1 -> 3, 2 -> 0))
  }

  test("identityProbes covers every partition exactly once") {
    for (n <- Seq(1, 16, 1024)) {
      val probes = BucketLayout.identityProbes(n)
      val landed = probes.map { v =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        ((h % n) + n) % n
      }
      assert(landed.toSeq === (0 until n))
    }
  }
}
