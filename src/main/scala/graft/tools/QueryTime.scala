package graft.tools

import org.apache.spark.sql.functions._

/** Times SparkEntry queries with warm-up + reps in a single session
  * (host CPU fluctuates — compare mins across variants).
  * Usage: runMain graft.tools.QueryTime <name[,name…]> [sfDir] [reps]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = graft.LocalSpark.session()
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      var best = Double.MaxValue
      for (r <- 0 to reps) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val h = xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        val n = df.select(h.as("h")).agg(expr("bit_xor(h)"), count(lit(1))).head().getLong(1)
        val sec = (System.nanoTime() - t0) / 1e9
        if (r > 0 && sec < best) best = sec
        println(f"[qtime] $name rep=$r sec=$sec%.2f rows=$n" + (if (r == 0) " (warmup)" else ""))
      }
      println(f"[qtime] $name BEST=$best%.2f")
    }
    spark.stop()
  }
}
