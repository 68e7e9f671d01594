package graft

import org.apache.spark.sql.SparkSession

/** The session every Spark-backed suite shares. `Test / fork` runs all
  * suites in one JVM, so there is one SparkContext however many suites
  * ask for it; this is its single definition. A suite that changes a
  * runtime conf restores it before it finishes. */
trait SharedSpark {
  protected lazy val spark: SparkSession = SharedSpark.session
}

object SharedSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
