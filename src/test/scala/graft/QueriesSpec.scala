package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke guard for the driver contract: every SparkEntry query must
  * plan, execute, and produce rows on sf0.001 (cross-engine value
  * parity is enforced by the driver's DuckDB gate; this spec catches
  * in-repo regressions early). */
class QueriesSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  // j3_anti legitimately returns 0 rows at tiny scale
  private val mayBeEmpty = Set("j3_anti")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name executes" + (if (mayBeEmpty(name)) "" else " with rows")) {
      val df = fn(spark, sfDir)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry() produces rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("spark.sql surface: SQL over registered views equals the DataFrame form") {
    // the library's tables are plain relations — users can drive the
    // same logical plans through spark.sql; Catalyst produces the
    // same results (and the same physical shapes) either way
    for (t <- Seq("lineitem", "supplier", "nation", "region"))
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    val sql = spark.sql("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus""")
      .collect().map(_.toSeq).toSet
    val df = SparkEntry.queries("q1_agg")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(sql == df)
    val sqlDim = spark.sql("""
      SELECT r_name, n_name, count(*) AS n_suppliers,
             round(sum(s_acctbal), 4) AS total_bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2""").collect().map(_.toSeq).toSet
    val dfDim = SparkEntry.queries("j4_dim_chain")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(sqlDim == dfDim)
  }

  test("SqlCorpus payloads take the FastScan hot path (never Bail to jackson)") {
    import graft.operators.Extraction.SqlCorpus
    val corpora = Seq(
      SqlCorpus.turns(spark, sfDir),
      SqlCorpus.rectTurns(spark, sfDir),
      SqlCorpus.bandTurns(spark, sfDir),
      SqlCorpus.bomTurns(spark, sfDir))
    // deterministic sample: unordered limit() would let a layout
    // change silently swap which doc_id payload variants are covered
    for (c <- corpora; t <- c.orderBy("conv_id", "turn_idx").limit(150).collect()) {
      // a Bail here would silently fall back to the slower jackson
      // parse on EVERY turn of the driver-oracle corpora at scale
      val pl = new graft.model.FastScan(t.text).parse()
      assert(pl.boxes.nonEmpty, t.conv_id)
    }
  }
}
