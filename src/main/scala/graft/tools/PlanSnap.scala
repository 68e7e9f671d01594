package graft.tools

/** Writes `.explain("formatted")` output for every SparkEntry query to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence an
  * optimization round commits alongside its claims. The session is
  * [[graft.LocalSpark]]'s, whose settings are Bench's, so the captured
  * plans are the shapes the bench actually runs.
  *
  * Usage: runMain graft.tools.PlanSnap [sfDir] [outDir] [suffix] [query...]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outDir = args.lift(1).getOrElse("plans/r06")
    val suffix = args.lift(2).getOrElse("before")
    val only = args.drop(3).toSet
    val spark = graft.LocalSpark.session()
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if only.isEmpty || only(name)) {
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR building $name: $e" }
      val f = new java.io.File(dir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(f.toPath,
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plansnap] $name -> $f")
    }
    spark.stop()
  }
}
