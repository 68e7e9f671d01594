package graftbench

import graft.gen.TranscriptGen
import graft.kernel.Extractor
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val turns = {
    val ctr = new Extractor.Counters
    (0 until 40).flatMap(c => TranscriptGen.convTurns(c, 11L)._1).map(Extractor.extract(_, ctr))
  }

  test("the recombined half sums equal the wrapping sum of the hashes") {
    val hs = Seq(Long.MaxValue, Long.MaxValue, Long.MinValue, -1L, 0x123456789abcdefL, -42L)
    val hi = hs.map(_ >> 32).sum
    val lo = hs.map(_ & 0xFFFFFFFFL).sum
    assert(Digest.combine(hi, lo) == hs.sum)
  }

  test("the Spark digest equals the in-process digest of the same kernel output") {
    import spark.implicits._
    val h = new Digest.TurnHasher
    val bare = Digest.D(turns.size.toLong, turns.map(h(_)).sum)
    assert(Digest.ofTurns(turns.toDS().toDF()) == bare)
  }

  test("the digest does not depend on row order or partitioning") {
    import spark.implicits._
    val a = Digest.ofTurns(turns.toDS().toDF())
    val b = Digest.ofTurns(scala.util.Random.shuffle(turns).toDS().repartition(5).toDF())
    assert(a == b)
  }

  test("a duplicated row changes the digest; a pair of duplicates does not cancel") {
    import spark.implicits._
    val base = Digest.ofTurns(turns.toDS().toDF())
    val once = Digest.ofTurns((turns :+ turns.head).toDS().toDF())
    val twice = Digest.ofTurns((turns :+ turns.head :+ turns.head).toDS().toDF())
    assert(once.sum != base.sum)
    assert(twice.sum != base.sum)
    assert(twice.sum != once.sum)
    // the xor fold the engine's bench uses cannot see the pair
    val h = new Digest.TurnHasher
    val xor = (ts: Seq[graft.model.ExtractedTurn]) => ts.map(h(_)).reduce(_ ^ _)
    assert(xor(turns :+ turns.head :+ turns.head) == xor(turns))
  }

  test("a query digest covers every column, including maps") {
    val df = spark.sql("select id, map('k', id) as m from range(10)")
    val d = Digest.run(Digest.queryFrame(df))
    assert(d.rows == 10)
    assert(Digest.run(Digest.queryFrame(df.filter("id < 9"))).sum != d.sum)
  }
}
