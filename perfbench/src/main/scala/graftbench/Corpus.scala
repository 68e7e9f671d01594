package graftbench

import graft.gen.TranscriptGen
import graft.kernel.Extractor
import graft.model.Turn
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The transcript corpus of one seed: the turns of conversations
  * 0, 1, 2, ... from `TranscriptGen.convTurns(c, seed)`, cut at exactly
  * the target turn count (the last conversation keeps only its first
  * turns), plus the fixed edge-case turns, written as 64 parquet files
  * like `WriteCorpus` writes but with each conversation's turns spread
  * over the files.
  *
  * A turn target and not a conversation count: 1 % of conversations
  * hold 5-10 k turns and carry most of the corpus, so a fixed count
  * would let the corpus size swing by seed.
  *
  * @param reference the digest of the bare kernel's output for these
  *        turns, computed in this process without Spark
  * @param kernel    the bare kernel's exact counters over the corpus
  */
final case class Corpus(dir: String, convs: Int, turns: Long, bytes: Long,
                        reference: Digest.D, kernel: Extractor.Counters, referenceS: Double, writeS: Double)

object Corpus {

  /** Per-conversation generation and reference work, in parallel in
    * this process, up to `targetTurns`; then Spark generates and writes
    * the same turns. */
  def generate(spark: SparkSession, dir: String, seed: Long, targetTurns: Long): Corpus = {
    val t0 = System.nanoTime()
    val threads = Runtime.getRuntime.availableProcessors
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    final case class Part(turns: Long, digest: Long, ctr: Extractor.Counters)
    val hashers = ThreadLocal.withInitial[Digest.TurnHasher](() => new Digest.TurnHasher)
    def work(turns: Iterable[Turn]): Part = {
      val hasher = hashers.get
      val ctr = new Extractor.Counters
      var d = 0L
      turns.foreach(t => d += hasher(Extractor.extract(t, ctr)))
      Part(ctr.turns, d, ctr)
    }
    val block = 64 * threads
    val parts = Vector.newBuilder[Part]
    var total = 0L
    var convs = 0
    var lastTurns = 0 // turns kept of the last conversation
    try {
      while (total < targetTurns) {
        val batch = Await.result(Future.sequence((convs until convs + block).map { c =>
          Future(work(TranscriptGen.convTurns(c, seed)._1))
        }), Duration.Inf)
        val it = batch.iterator
        while (total < targetTurns && it.hasNext) {
          val p = it.next()
          lastTurns = math.min(p.turns, targetTurns - total).toInt
          parts += (if (lastTurns < p.turns) work(TranscriptGen.convTurns(convs, seed)._1.take(lastTurns)) else p)
          total += lastTurns; convs += 1
        }
      }
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    val edge = TranscriptGen.edgeCaseTurns()
    val all = parts.result() :+ work(edge)
    val ctr = new Extractor.Counters
    all.foreach { p =>
      ctr.turns += p.ctr.turns; ctr.boxesIn += p.ctr.boxesIn
      ctr.boxesDropped += p.ctr.boxesDropped; ctr.cellsOut += p.ctr.cellsOut
      ctr.blocksKept += p.ctr.blocksKept; ctr.blocksDropped += p.ctr.blocksDropped
    }
    val reference = Digest.D(ctr.turns, all.map(_.digest).sum)

    val t1 = System.nanoTime()
    // turns hash-spread over the files rather than whole conversations
    // per file: with about six 5-10 k-turn conversations in the
    // corpus, a file holding one was a task as large as a core's share
    // of the job, and how those few tasks packed onto the cores, which
    // changes with every seed, set the job time
    val nFiles = math.max(64, spark.sparkContext.defaultParallelism * 2)
    val (last, keep) = (convs - 1, lastTurns)
    import spark.implicits._
    spark.range(convs).repartition(nFiles).as[Long]
      .mapPartitions(_.flatMap { c =>
        val ts = TranscriptGen.convTurns(c.toInt, seed)._1
        if (c == last) ts.take(keep) else ts
      })
      .union(spark.createDataset(edge))
      .repartition(nFiles, col("conv_id"), col("turn_idx"))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    Corpus(dir, convs, ctr.turns, bytesUnder(new File(dir)), reference, ctr,
      (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** Parquet bytes under a directory (data files only). */
  def bytesUnder(f: File): Long = filesUnder(f).map(_.length).sum

  def filesUnder(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(filesUnder)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
}
