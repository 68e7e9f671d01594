package graft

import graft.functions.ArrayDot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen dot product must equal the HOF formulation
  * bit-for-bit (same left-to-right summation), handle nulls, and work
  * through both the Column API and SQL registration. */
class ArrayDotSpec extends AnyFunSuite with SharedSpark {

  private def hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("equals the HOF dot bit-for-bit on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(500)((
      Array.fill(64)(rnd.nextDouble() * 2 - 1),
      Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(ArrayDot.dot($"a", $"b").as("native"), hofDot($"a", $"b").as("hof"))
    assert(df.filter($"native" =!= $"hof").count() == 0) // exact, not approx
  }

  test("null array propagates null; empty arrays give 0") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0, 2.0)), None: Option[Array[Double]]),
      (Some(Array.empty[Double]), Some(Array.empty[Double])),
      (Some(Array(1.5, 2.0)), Some(Array(2.0, 3.0))))
      .toDF("a", "b")
      .select(ArrayDot.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(df(0).isNullAt(0))
    assert(df(1).getDouble(0) == 0.0)
    assert(df(2).getDouble(0) == 9.0)
  }

  test("different lengths: common prefix (fixed-width inputs by contract)") {
    import spark.implicits._
    val d = Seq((Array(1.0, 2.0, 3.0), Array(10.0, 10.0)))
      .toDF("a", "b").select(ArrayDot.dot($"a", $"b")).head().getDouble(0)
    assert(d == 30.0)
  }

  test("SQL registration works") {
    import spark.implicits._
    ArrayDot.register(spark)
    Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .createOrReplaceTempView("v_dot")
    assert(spark.sql("select array_dot(a, b) from v_dot").head().getDouble(0) == 11.0)
  }

  test("SparkSessionExtensions injection exposes array_dot to new sessions") {
    // `spark.sql.extensions` is a STATIC conf — in a JVM whose
    // SparkContext already exists (this test suite) it is ignored, so
    // exercise the same class through builder.withExtensions; a real
    // deployment sets the conf at spark-submit time
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      Seq((Array(1.0, 2.0), Array(3.0, 5.0))).toDF("a", "b")
        .createOrReplaceTempView("v_ext_dot")
      assert(s2.sql("select array_dot(a, b) from v_ext_dot").head().getDouble(0) == 13.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("whole-stage codegen actually covers the expression") {
    // a literal input constant-folds to LocalTableScan (which itself
    // proves interpreted eval works); a parquet scan shows the
    // expression inside a WholeStageCodegen span
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(transform(col("embedding"), x => x.cast("double")).as("e"))
    val df = emb.select(ArrayDot.dot(col("e"), col("e")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // '*' prefix marks a WholeStageCodegen stage in the short plan form
    assert("""\*\(\d+\) Project \[array_dot""".r.findFirstIn(plan).isDefined, plan)
    assert(df.agg(sum("d")).head().getDouble(0) > 0)
  }
}
