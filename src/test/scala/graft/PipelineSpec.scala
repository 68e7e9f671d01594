package graft

import graft.gen.TranscriptGen
import graft.model._
import graft.oracle.Oracle
import graft.pipeline.{ExtractPipeline, ResumableExtract}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The Spark half of the per-turn-equality gate: pipeline output must
  * equal the plain-Scala oracle for every turn, independent of input
  * order and partitioning, and resume must be idempotent. */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  private lazy val corpus = TranscriptGen.corpus(nConvs = 40)

  private def oracleExtract(turn: Turn): (String, Seq[Cell]) = {
    val pl = PayloadCodec.decode(turn.text)
    turn.tool match {
      case Tool.Quick =>
        (Oracle.quickText(pl.boxes.toSeq), Oracle.simpleCells(pl.boxes.toSeq))
      case Tool.TableSimple => ("", Oracle.simpleCells(pl.boxes.toSeq))
      case Tool.TableBands  => ("", Oracle.bandCells(pl))
      case Tool.TableRects  => ("", Oracle.rectCells(pl))
      case Tool.HtmlMain    => (graft.kernel.HtmlMain.extractText(turn.text), Seq.empty)
      case _                => (turn.text, Seq.empty)
    }
  }

  test("Spark extraction equals oracle per turn; accumulators populated") {
    import spark.implicits._
    val ds = spark.createDataset(corpus.turns).repartition(7) // arbitrary split
    val metrics = new ExtractPipeline.Metrics(spark)
    val got = ExtractPipeline.extract(ds, metrics, partitions = 8)
      .collect().map(e => (e.conv_id, e.turn_idx) -> e).toMap
    assert(got.size == corpus.turns.size)
    for (turn <- corpus.turns) {
      val e = got((turn.conv_id, turn.turn_idx))
      val (expText, expCells) = oracleExtract(turn)
      assert(e.extracted_text == expText, s"${turn.conv_id}/${turn.turn_idx}")
      assert(e.cells.toSeq == expCells, s"${turn.conv_id}/${turn.turn_idx}")
    }
    assert(metrics.turns.value == corpus.turns.size)
    assert(metrics.cellsOut.value > 0 && metrics.boxesIn.value > 0)
  }

  test("input permutation and partitioning never change per-turn output") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val perm = new scala.util.Random(99).shuffle(corpus.turns)
    val a = ExtractPipeline.extract(
      spark.createDataset(corpus.turns).repartition(3), metrics)
      .collect().map(e => (e.conv_id, e.turn_idx) -> (e.extracted_text, e.cells.toSeq)).toMap
    val b = ExtractPipeline.extract(
      spark.createDataset(perm).repartition(11), metrics, partitions = 5)
      .collect().map(e => (e.conv_id, e.turn_idx) -> (e.extracted_text, e.cells.toSeq)).toMap
    assert(a == b)
  }

  // ── BOM assembly vs oracle ─────────────────────────────────────────

  private def oracleDictFor(project: String, part: String): Seq[String] = {
    val re = "(?i)/([^/]+)\\.pdf$".r
    corpus.drawings.filter(d => d.project == project && d.part_number == part)
      .flatMap(d => re.findFirstMatchIn(d.drawing_link).map(_.group(1)))
      .map(n => java.net.URLDecoder.decode(n, "UTF-8"))
      .filter(_.nonEmpty)
  }

  test("Catalyst BOM assembly equals oracle assemble+number+route per conversation") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val extracted = ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics)
    val assembled = ExtractPipeline.assembleBom(
      extracted,
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF())
    val routedRows = ExtractPipeline.routed(assembled)
      .collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("row_idx")) -> r)
      .toMap

    // oracle expectation, conversation by conversation
    val metaByConv = corpus.convMeta.map(m => m.conv_id -> m).toMap
    var convsWithRows = 0
    val expected = scala.collection.mutable.Map.empty[(String, Int), BomRow]
    for ((convId, turns) <- corpus.turns.groupBy(_.conv_id)) {
      val colCells: Map[String, Seq[Cell]] = turns
        .filter(t => t.tool == Tool.TableSimple)
        .flatMap { t =>
          val pl = PayloadCodec.decode(t.text)
          if (pl.col.nonEmpty) Some(pl.col -> Oracle.simpleCells(pl.boxes.toSeq)) else None
        }.toMap
      if (colCells.nonEmpty) {
        val meta = metaByConv(convId)
        val dict = oracleDictFor(meta.project, meta.part_number)
        val staged = Oracle.assemble(colCells, dict).map(_.copy(conv_id = convId))
        val (rows, _) = Oracle.gatedNumberAndRoute(staged, meta.last_item)
        if (rows.nonEmpty) convsWithRows += 1
        rows.foreach(r => expected((r.conv_id, r.row_idx)) = r)
      }
    }
    assert(convsWithRows > 0, "fixture must produce at least one BOM conversation")
    assert(routedRows.keySet == expected.keySet)
    for ((key, r) <- routedRows) {
      val e = expected(key)
      assert(r.getAs[Long]("item_number") == e.item_number, s"item @$key")
      assert(r.getAs[String]("row_type") == e.row_type, s"type @$key")
      assert(r.getAs[String]("matched") == e.matched, s"matched @$key")
      assert(r.getAs[String]("quantity") == e.quantity, s"qty @$key")
      assert(r.getAs[String]("description") == e.description, s"desc @$key")
      assert(r.getAs[String]("material") == e.material, s"mat @$key")
      assert(r.getAs[String]("ocr_warning") == e.ocr_warning, s"warning @$key")
    }
  }

  test("quarantine holds exactly the oracle-invalid conversations; disjoint from routed") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val assembled = ExtractPipeline.assembleBom(
      ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics),
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF()).cache()
    val routedConvs = ExtractPipeline.routed(assembled)
      .select("conv_id").distinct().as[String].collect().toSet
    val quarantinedConvs = ExtractPipeline.quarantined(assembled)
      .select("conv_id").distinct().as[String].collect().toSet
    assert(routedConvs.intersect(quarantinedConvs).isEmpty)

    val metaByConv = corpus.convMeta.map(m => m.conv_id -> m).toMap
    val expectedInvalid = scala.collection.mutable.Set.empty[String]
    for ((convId, turns) <- corpus.turns.groupBy(_.conv_id)) {
      val colCells = turns.filter(_.tool == Tool.TableSimple).flatMap { t =>
        val pl = PayloadCodec.decode(t.text)
        if (pl.col.nonEmpty) Some(pl.col -> Oracle.simpleCells(pl.boxes.toSeq)) else None
      }.toMap
      if (colCells.nonEmpty) {
        val meta = metaByConv(convId)
        val staged = Oracle.assemble(colCells, oracleDictFor(meta.project, meta.part_number))
        if (!Oracle.validate(staged)._1) expectedInvalid += convId
      }
    }
    assert(quarantinedConvs == expectedInvalid.toSet)
    assert(quarantinedConvs.nonEmpty, "fixture must exercise the quarantine path")
  }

  test("high-water marks advance to max emitted item per conversation") {
    import spark.implicits._
    val metrics = new ExtractPipeline.Metrics(spark)
    val extracted = ExtractPipeline.extract(spark.createDataset(corpus.turns), metrics)
    val assembled = ExtractPipeline.assembleBom(extracted,
      spark.createDataset(corpus.drawings).toDF(),
      spark.createDataset(corpus.convMeta).toDF())
    val routed = ExtractPipeline.routed(assembled).cache()
    val hwm = ExtractPipeline.highWaterMarks(routed,
      spark.createDataset(corpus.convMeta).toDF())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxEmitted = routed.groupBy("conv_id").agg(max("item_number"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (m <- corpus.convMeta) {
      val exp = math.max(m.last_item, maxEmitted.getOrElse(m.conv_id, 0L))
      assert(hwm(m.conv_id) == exp, m.conv_id)
    }
  }

  test("salted repartition spreads one giant conversation across all partitions") {
    import spark.implicits._
    // one conversation dominating the input — the heavy-tail case the
    // salt exists for (plain conv_id partitioning would put all 20k
    // turns in ONE task)
    val giant = (0 until 20000).map { i =>
      corpus.turns.head.copy(conv_id = "conv-giant", turn_idx = i)
    }
    val ds = spark.createDataset(giant ++ corpus.turns.take(100))
    val metrics = new ExtractPipeline.Metrics(spark)
    val perPartition = ExtractPipeline
      .extract(ds, metrics, partitions = 16)
      .toDF()
      .groupBy(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perPartition.size == 16, s"all partitions must carry work: $perPartition")
    val mean = perPartition.values.sum.toDouble / perPartition.size
    assert(perPartition.values.max < mean * 2,
      s"giant conversation must not concentrate: $perPartition")
  }

  test("C2 re-upload: latest same-label turn replaces the WHOLE column") {
    import spark.implicits._
    def et(turnIdx: Int, label: String, cells: Seq[Cell]) =
      ExtractedTurn("conv-c2", turnIdx, "tool", Tool.TableSimple, label,
        "", cells.toArray, cells.length, cells.length)
    val extracted = spark.createDataset(Seq(
      et(0, "PartNumber", Seq(Cell("DWG-100", 0.9), Cell("DWG-200", 0.9), Cell("DWG-300", 0.9))),
      et(1, "Quantity", Seq(Cell("7", 0.9), Cell("8", 0.9), Cell("9", 0.9))),
      // re-upload of Quantity at turn 5: SHORTER column, must fully
      // replace turn 1's — no stale tail cells at pos 1/2
      et(5, "Quantity", Seq(Cell("42", 0.95)))))
    val meta = Seq(("conv-c2", "projE", "partE", 0L))
      .toDF("conv_id", "project", "part_number", "last_item")
    val assembled = ExtractPipeline.assembleBom(extracted,
      spark.createDataset(corpus.drawings).toDF(), meta)
    val qtyByPos = assembled
      .select($"row_idx", $"quantity")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(qtyByPos(0) == "42")
    assert(qtyByPos(1) == "", "stale tail cell must not survive re-upload")
    assert(qtyByPos(2) == "")
  }

  test("C1 manual-match precedence: input matched column suppresses re-classification") {
    import spark.implicits._
    def et(label: String, cells: Seq[Cell]) =
      ExtractedTurn("conv-m", 0, "tool", Tool.TableSimple, label,
        "", cells.toArray, cells.length, cells.length)
    // part "DWG-100" auto-matches the dict exactly; row 1 ("ZZZ") would
    // auto-classify BO+review
    val extracted = spark.createDataset(Seq(
      et("PartNumber", Seq(Cell("DWG-100", 0.9), Cell("ZZZ", 0.9))),
      et("Quantity", Seq(Cell("1", 0.9), Cell("2", 0.9)))))
    val meta = Seq(("conv-m", "projE", "partE", 0L))
      .toDF("conv_id", "project", "part_number", "last_item")
    val manual = Seq(("conv-m", 0, "HAND-SET", "BO"))
      .toDF("conv_id", "row_idx", "matched", "row_type")
    val out = ExtractPipeline.assembleBom(extracted,
        spark.createDataset(corpus.drawings).toDF(), meta, Some(manual))
      .select($"row_idx", $"matched", $"row_type", $"needs_review", $"similarity")
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getString(2), r.getBoolean(3), r.getDouble(4))).toMap
    // row 0: manual wins over the exact auto-match; similarity still stored
    assert(out(0) == (("HAND-SET", "BO", false, 1.0)))
    // row 1: no manual row → normal auto-classification (BO + review)
    val (m1, t1, rev1, sim1) = out(1)
    assert(m1 == "ZZZ" && t1 == "BO" && rev1 && sim1 == 0.0)
  }

  test("validation summary reports missing columns in first-seen row order") {
    import spark.implicits._
    // (convA, row0) misses only Quantity; (convB, row0) misses only
    // Type — first-seen order is (Quantity, Type), NOT check order
    val assembled = Seq(
      ("convA", 0, Seq("Quantity"), false, false),
      ("convB", 0, Seq("Type"), false, true))
      .toDF("conv_id", "row_idx", "missing", "invalid_qty", "emit")
    val (_, msgs) = ExtractPipeline.validationSummary(assembled)
    assert(msgs == Seq("(Quantity, Type)"))
    // and within one row, tie-break follows the reference's fixed
    // per-row check sequence Type, Part Number, Quantity
    val oneRow = Seq(("convA", 0, Seq("Quantity", "Type"), false, false))
      .toDF("conv_id", "row_idx", "missing", "invalid_qty", "emit")
    assert(ExtractPipeline.validationSummary(oneRow)._2 == Seq("(Type, Quantity)"))
  }

  // ── resume / idempotence ───────────────────────────────────────────

  test("resumable run: crash-rewrite is idempotent; second run is a no-op") {
    import spark.implicits._
    val dirA = Files.createTempDirectory("graft_a").toString
    val dirB = Files.createTempDirectory("graft_b").toString
    val turns = spark.createDataset(corpus.turns)

    val processedA = ResumableExtract.run(spark, turns, dirA, nBuckets = 4)
    assert(processedA == Set(0, 1, 2, 3))
    val again = ResumableExtract.run(spark, turns, dirA, nBuckets = 4)
    assert(again.isEmpty, "completed run must be a no-op")

    // dirB: simulate a crash — run fully, then delete the lineage rows
    // and corrupt the data of two buckets; resume must rewrite exactly
    // those buckets and converge to dirA's content
    ResumableExtract.run(spark, turns, dirB, nBuckets = 4)
    spark.read.parquet(s"$dirB/lineage").filter(col("partition_id").isin(0, 1))
      .write.mode("overwrite").parquet(s"$dirB/lineage_tmp")
    // rewrite lineage dir with only buckets 0,1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dirB/lineage"))
    spark.read.parquet(s"$dirB/lineage_tmp").write.parquet(s"$dirB/lineage")
    // corrupt bucket 2 and 3 data (stale partial output from the "crash")
    for (b <- Seq(2, 3)) {
      val d = new java.io.File(s"$dirB/data/bucket=$b")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    val resumed = ResumableExtract.run(spark, turns, dirB, nBuckets = 4)
    assert(resumed == Set(2, 3))

    def snapshot(dir: String) =
      spark.read.parquet(s"$dir/data")
        .select("conv_id", "turn_idx", "extracted_text")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(snapshot(dirA) == snapshot(dirB))
    assert(snapshot(dirA).size == corpus.turns.size)
  }

  test("IcebergTableIO (catalog V2 writer): same resume protocol through the session catalog") {
    import spark.implicits._
    // no Iceberg jar offline — exercise the IDENTICAL code path (V2
    // writeTo: tableExists probe, partitioned create, append,
    // overwritePartitions) against the built-in session catalog with
    // parquet; on a cluster only the catalog plugin + format differ
    val io = new graft.pipeline.IcebergTableIO("spark_catalog", "default", "parquet")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq("data", "lineage")) {
      spark.sql(s"DROP TABLE IF EXISTS spark_catalog.default.$t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$t"))
    }
    try {
      val turns = spark.createDataset(corpus.turns)
      val processed = ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "cat")
      assert(processed == Set(0, 1, 2, 3))
      assert(ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "cat").isEmpty,
        "completed run must be a no-op")
      // catalog data == plain-parquet pipeline data
      val got = io.read(spark, "data")
        .select("conv_id", "turn_idx", "extracted_text")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
      assert(got.size == corpus.turns.size)
      // dynamic overwrite really is per-partition: drop bucket 2+3
      // lineage, rerun — only those partitions rewrite, content converges
      val keep = io.read(spark, "lineage").filter(col("partition_id").isin(0, 1))
      val kept = keep.collect()
      spark.sql("DROP TABLE spark_catalog.default.lineage")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/lineage"))
      io.append(spark.createDataFrame(
        spark.sparkContext.parallelize(kept.toIndexedSeq), keep.schema), "lineage")
      val resumed = ResumableExtract.run(spark, turns, io, nBuckets = 4, runId = "cat2")
      assert(resumed == Set(2, 3))
      val after = io.read(spark, "data")
        .select("conv_id", "turn_idx", "extracted_text")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
      assert(after == got)
    } finally {
      for (t <- Seq("data", "lineage"))
        spark.sql(s"DROP TABLE IF EXISTS spark_catalog.default.$t")
    }
  }

  test("lineage boxes_dropped is a per-bucket metric derived from the bucket's rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lin").toString
    val turns = spark.createDataset(corpus.turns)
    ResumableExtract.run(spark, turns, dir, nBuckets = 4)
    val lineage = spark.read.parquet(s"$dir/lineage")
      .select("partition_id", "boxes_dropped")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // ground truth: a fresh extraction run's accumulator total
    val metrics = new ExtractPipeline.Metrics(spark)
    ExtractPipeline.extract(turns, metrics).foreach((_: ExtractedTurn) => ())
    assert(lineage.values.sum == metrics.boxesDropped.value)
    assert(metrics.boxesDropped.value > 0, "corpus must exercise dropped boxes")
    // the run-global-constant bug would stamp the same value in every
    // bucket; real per-bucket counts differ
    assert(lineage.values.toSet.size > 1, s"per-bucket values must differ: $lineage")
  }

  test("default extraction shuffles ZERO bytes: the kernel runs on scan partitions") {
    // the load-bearing 100 TB property: raw turn payloads never cross
    // the network — the kernel consumes scan partitions in place, and
    // salting (partitions > 0) is an opt-in for skewed corpora. A
    // regression that slips a repartition/sort before the kernel would
    // ship the full corpus through a shuffle.
    import spark.implicits._
    val in = Files.createTempDirectory("graft_noshuffle").toString
    spark.createDataset(corpus.turns).repartition(4)
      .write.mode("overwrite").parquet(in)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val metrics = new ExtractPipeline.Metrics(spark)
      ExtractPipeline.extract(
        spark.read.parquet(in).as[Turn], metrics, partitions = 0)
        .foreach(_ => ()) // foreach: an agg would add its own exchange
      // listener events are delivered asynchronously; give the bus a beat
      val deadline = System.currentTimeMillis() + 5000
      while (metrics.turns.value < corpus.turns.size &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(500)
      assert(shuffleBytes.get() == 0,
        s"extraction shuffled ${shuffleBytes.get()} bytes — payloads crossed the wire")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
