package graftbench

import graft.model.ExtractedTurn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._

/** Order-independent, duplicate-sensitive output digest: the wrapping
  * sum of one xxhash64 per row. A sum and not `bit_xor`: xor cancels
  * every pair of equal rows, so a duplicated row would go unseen.
  *
  * Spark's ANSI `sum` fails on overflow, so the Spark side sums the
  * high and low 32-bit halves of each hash separately (neither sum can
  * overflow below 2^31 rows) and [[combine]] recombines them with
  * wrapping arithmetic, which equals the wrapping sum of the hashes. */
object Digest {

  final case class D(rows: Long, sum: Long) {
    override def toString: String = f"rows=$rows digest=$sum%016x"
  }

  val Zero: D = D(0L, 0L)

  /** The columns of `ExtractedTurn` the transcript checks compare. */
  val TurnColumns: Seq[String] = Seq("conv_id", "turn_idx", "extracted_text", "cells")

  def combine(hiSum: Long, loSum: Long): Long = (hiSum << 32) + loSum

  /** The single-row aggregate that exhausts `df`: every row is fully
    * computed to hash `cols`. Kept as a frame so a caller can force
    * its physical plan before executing it. */
  def frame(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val h = col("h")
    df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(shiftright(h, 32)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))))
  }

  /** Executes a [[frame]]; `collect` reuses the frame's own query
    * execution, so a plan forced beforehand is not planned twice. */
  def run(frame: DataFrame): D = {
    val r = frame.collect()(0)
    if (r.getLong(0) == 0L) Zero else D(r.getLong(0), combine(r.getLong(1), r.getLong(2)))
  }

  def ofTurns(df: DataFrame): D = run(frame(df, TurnColumns.map(col)))

  /** Any query result: every column, cast to string the way the
    * engine's own bench exhausts results (string casts also cover map
    * columns, which hash expressions reject). */
  def queryFrame(df: DataFrame): DataFrame =
    frame(df, df.columns.toSeq.map(c => col(s"`$c`").cast("string")))

  /** The same hash as [[ofTurns]], computed in this process from kernel
    * output without running a Spark job: Spark's own xxhash64
    * expression, evaluated over the encoder's row. Not thread-safe;
    * use one per thread. */
  final class TurnHasher {
    private val enc = ExpressionEncoder[ExtractedTurn]()
    private val toRow = enc.createSerializer()
    private val hash = new XxHash64(TurnColumns.map { n =>
      val i = enc.schema.fieldIndex(n)
      BoundReference(i, enc.schema(i).dataType, enc.schema(i).nullable)
    })
    def apply(t: ExtractedTurn): Long = hash.eval(toRow(t)).asInstanceOf[Long]
  }
}
