package graft

import org.apache.spark.sql.SparkSession

/** The local session every development main runs on (Demo, PlanSnap,
  * QueryTime, StressBench, WriteCorpus). The settings are Bench's, so
  * plans and timings taken by these tools are the shapes Bench runs:
  * `local[cpus]` with `cpus` from `SPARK_GRAFT_CPUS` (default: the
  * machine's processor count), one shuffle partition per core, AQE on,
  * UTC, no UI, and 16m splits with a 1m open cost so scans produce
  * more than one task wave.
  *
  * `graft.Main` keeps its own builder: under spark-submit the launcher
  * owns the master and the cluster-scale confs.
  */
object LocalSpark {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
