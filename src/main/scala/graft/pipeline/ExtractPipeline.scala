package graft.pipeline

import graft.kernel.Extractor
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.util.LongAccumulator

/** The Spark-native extraction pipeline (SURVEY §3.1 lifecycle, §7
  * step 5): read → prune columns → salted repartition →
  * mapPartitions(pooled kernel) → stable (conv_id, turn_idx) ordering
  * → Catalyst-only BOM assembly (positional zip → broadcast scored
  * best-match → classification → warning/validation → numbering →
  * type routing).
  *
  * Scale design (100 TB / 10^12 turns, BASELINE.json north_rule):
  *  - per-turn extraction is embarrassingly parallel; long
  *    conversations skew `conv_id` partitions, so the extraction
  *    shuffle is salted on (conv_id, turn_idx) — NOT plain conv_id
  *    (reference analog: one request per image, no conv affinity
  *    needed during extraction).
  *  - exactly ONE object boundary: the single mapPartitions island.
  *    Everything downstream (assembly, match, classify, warn,
  *    validate, number, route) is pure Catalyst columns → whole-stage
  *    codegen, prunable, pushdown-friendly.
  *  - the dictionary is broadcast (tiny by construction, J1/J3); the
  *    per-conversation metadata join is a broadcast hash join; the
  *    only wide shuffle after extraction is the per-conversation
  *    grouping for assembly, keyed on (conv_id, pos) — bounded rows
  *    per group (spreadsheet rows, not turns).
  */
object ExtractPipeline {

  /** Accumulator bundle (A6 — accumulator-backed extraction metrics
    * mandated by BASELINE.json north_star). */
  final class Metrics(spark: SparkSession) extends Serializable {
    val turns: LongAccumulator = spark.sparkContext.longAccumulator("graft.turns")
    val boxesIn: LongAccumulator = spark.sparkContext.longAccumulator("graft.boxesIn")
    val boxesDropped: LongAccumulator = spark.sparkContext.longAccumulator("graft.boxesDropped")
    val cellsOut: LongAccumulator = spark.sparkContext.longAccumulator("graft.cellsOut")
    val blocksKept: LongAccumulator = spark.sparkContext.longAccumulator("graft.blocksKept")
    val blocksDropped: LongAccumulator = spark.sparkContext.longAccumulator("graft.blocksDropped")
    override def toString: String =
      s"turns=${turns.value} boxesIn=${boxesIn.value} boxesDropped=${boxesDropped.value} " +
        s"cellsOut=${cellsOut.value} blocksKept=${blocksKept.value} blocksDropped=${blocksDropped.value}"
  }

  /** Salt range of the extraction shuffle key: one conversation's
    * turns spread over up to this many partitions. */
  private val SaltBuckets = 64

  /** Extraction stage. `partitions <= 0` leaves the input partitioning
    * untouched (small/test inputs); otherwise salted-repartitions so
    * skewed conversations spread across the cluster. */
  def extract(
      turns: Dataset[Turn],
      metrics: Metrics,
      partitions: Int = 0): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val repartitioned =
      if (partitions <= 0) turns
      else turns.repartition(partitions,
        xxhash64($"conv_id", pmod($"turn_idx", lit(SaltBuckets))))
    repartitioned.mapPartitions { it =>
      // one pooled kernel + counter set per partition; counters flush
      // into accumulators when the partition iterator drains
      val ctr = new Extractor.Counters
      var flushed = false
      new Iterator[ExtractedTurn] {
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !flushed) {
            flushed = true
            metrics.turns.add(ctr.turns)
            metrics.boxesIn.add(ctr.boxesIn)
            metrics.boxesDropped.add(ctr.boxesDropped)
            metrics.cellsOut.add(ctr.cellsOut)
            metrics.blocksKept.add(ctr.blocksKept)
            metrics.blocksDropped.add(ctr.blocksDropped)
          }
          h
        }
        override def next(): ExtractedTurn = Extractor.extract(it.next(), ctr)
      }
    }
  }

  /** W2: the stable turn-ordering contract — cluster output by
    * conversation, ordered by turn within it. Used for the final
    * table layout; per-turn values never depend on it. */
  def stableOrder(extracted: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] = {
    import extracted.sparkSession.implicits._
    extracted.repartition(col("conv_id"))
      .sortWithinPartitions($"conv_id", $"turn_idx")
  }

  // ── Catalyst column helpers (all codegen-friendly; no UDFs) ───────

  /** P2 as a column (same Java regex as the kernel; lookaround is
    * supported by Spark's regexp_replace). */
  def fixDiameterCol(c: Column): Column =
    regexp_replace(c, "(?<=\\s)O(?=\\d)", "Ø")

  /** P8: drawing-number basename of a `…/X.pdf` URL, case-insensitive
    * (backend/main.py:600-604). */
  def drawingNumberCol(url: Column): Column =
    regexp_extract(url, "(?i)/([^/]+)\\.pdf$", 1)

  /** P9: percent-decoding (frontend decodeURIComponent analog). */
  def urlDecodeCol(c: Column): Column = url_decode(c)

  /** J1 scoring as a column expression: exact 1.0 / prefix 0.99 /
    * substring 0.85 / else 0 on upper(trim(·)) of both sides. */
  def matchScore(part: Column, child: Column): Column = {
    val p = upper(trim(part))
    val c = upper(trim(child))
    when(length(p) === 0 || length(c) === 0, 0.0)
      .when(p === c, 1.0)
      .when(c.startsWith(p), 0.99)
      .when(c.contains(p), 0.85)
      .otherwise(0.0)
  }

  /** J1 top-1 with alphabetical tie-break, fully in Catalyst:
    * `array_min` over `struct(-score, target)` — struct ordering gives
    * (score desc, target asc), exactly the reference comparator
    * (frontend/index.html:1242-1248). Returns struct(rating, target);
    * null when dict is empty/null. */
  def bestMatchCol(partText: Column, dict: Column): Column = {
    val best = array_min(transform(dict,
      d => struct((lit(0.0) - matchScore(partText, d)).as("nr"), d.as("target"))))
    when(dict.isNull.or(size(dict) === 0), lit(null))
      .otherwise(struct((lit(0.0) - best.getField("nr")).as("rating"),
        best.getField("target").as("target")))
  }

  /** C3 warning string in pure Catalyst (frontend/index.html:1271-1313).
    * Fields are struct<text,confidence,ocr>; similarity NaN ⇒ no P.
    * Built entirely from `concat_ws` (which skips NULLs natively and
    * whole-stage-codegens) rather than array+array_compact: the
    * array_compact form lowers to an interpreted lambda per row — 4×
    * slower on the 600k-row benchmark. */
  def rowWarningCol(qty: Column, desc: Column, mat: Column,
                    needsReview: Column, similarity: Column): Column = {
    def letter(f: Column, l: String): (Column, Column, Column, Column) = {
      val text = trim(f.getField("text"))
      val conf = f.getField("confidence")
      val isOcr = f.getField("ocr")
      val nonEmpty = length(text) > 0
      (when(nonEmpty && isOcr && conf > 0, lit(l)),
        when(nonEmpty && isOcr && conf === 0, lit(l)),
        when(nonEmpty && !isOcr, lit(l)),
        when(nonEmpty && conf > 0 && conf < 0.95, lit(l)))
    }
    val (oQ, eQ, mQ, wQ) = letter(qty, "Q")
    val (oD, eD, mD, wD) = letter(desc, "D")
    val (oM, eM, mM, wM) = letter(mat, "M")
    def seg(name: String, parts: Column*): Column = {
      val inner = concat_ws(",", parts: _*) // NULL parts are skipped
      when(length(inner) > 0, concat(lit(name + "("), inner, lit(")")))
    }
    concat_ws("; ",
      seg("OCR", oQ, oD, oM),
      seg("OCRedited", eQ, eD, eM),
      seg("Manual", mQ, mD, mM),
      seg("Warning", wQ, wD, wM,
        when(needsReview, lit("T")),
        when(!isnan(similarity) && similarity < 0.95, lit("P"))))
  }

  // ── BOM assembly (J2 → J1 → C1 → C3/C4 → W1 → C5/C6) ─────────────

  /** Assemble per-conversation spreadsheets from extracted column
    * turns, match against the dictionary, classify, warn, validate,
    * number and route. Everything below is Catalyst columns.
    *
    * @param extracted  output of [[extract]]
    * @param drawings   dictionary relation (project, part_number,
    *                   drawing_link); broadcast after aggregation
    * @param convMeta   (conv_id, project, part_number, last_item)
    * @param manualMatches optional (conv_id, row_idx, matched,
    *                   row_type): C1's manual-match guard
    *                   (frontend/index.html:1819-1836) — a non-empty
    *                   manual `matched` suppresses re-classification
    *                   of matched/row_type and never flags
    *                   needs_review; similarity is still computed.
    */
  def assembleBom(
      extracted: Dataset[ExtractedTurn],
      drawings: DataFrame,
      convMeta: DataFrame,
      manualMatches: Option[DataFrame] = None): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._

    // dictionary: P8 extract + P9 decode, grouped per (project, part)
    // — tiny by construction, then broadcast (J1 is NOT a shuffle join)
    val dict = drawings
      .withColumn("dn", urlDecodeCol(drawingNumberCol($"drawing_link")))
      .filter(length($"dn") > 0)
      .groupBy($"project", $"part_number")
      .agg(collect_list($"dn").as("dict"))

    val labels = Seq("PartNumber", "Quantity", "Description", "Material")

    // C2: if a conversation carries two turns with the same column
    // label (the reference's re-upload-replaces-column flow), the
    // LATEST turn replaces the WHOLE column — max_by on turn_idx in a
    // hash aggregate (a per-cell merge would keep a longer stale
    // column's tail; first() would be partition-order-dependent).
    val latestPerLabel = extracted.toDF()
      .filter($"col".isin(labels: _*))
      .groupBy($"conv_id", $"col")
      .agg(max_by($"cells", $"turn_idx").as("cells"))
    // J2 positional zip: explode each column's cells, pivot on label.
    // One shuffle keyed (conv_id, pos); group size = #labels.
    val cols = latestPerLabel
      .select($"conv_id", $"col", posexplode($"cells").as(Seq("pos", "cell")))
    val pivoted = cols.groupBy($"conv_id", $"pos")
      .pivot("col", labels)
      .agg(first("cell")) // ≤1 row per (conv, pos, label) after max_by

    def field(label: String): Column = {
      val c = col(label)
      struct(
        coalesce(c.getField("text"), lit("")).as("text"),
        coalesce(c.getField("confidence"), lit(0.0)).as("confidence"),
        c.isNotNull.as("ocr")) // padded positions: not OCR-installed
    }

    val stagedBase = pivoted
      .select($"conv_id", $"pos".as("row_idx"),
        field("PartNumber").as("part"), field("Quantity").as("qty"),
        field("Description").as("desc"), field("Material").as("mat"))
      .join(broadcast(convMeta), Seq("conv_id"), "left")
      .join(broadcast(dict), Seq("project", "part_number"), "left")

    // C1 manual-match guard input: joined on the same (conv_id,
    // row_idx) key the assembly shuffle already uses
    val staged = manualMatches match {
      case Some(mm) => stagedBase.join(
        mm.select($"conv_id", $"row_idx",
          $"matched".as("manual_matched"), $"row_type".as("manual_type")),
        Seq("conv_id", "row_idx"), "left")
      case None => stagedBase
        .withColumn("manual_matched", lit(null).cast("string"))
        .withColumn("manual_type", lit(null).cast("string"))
    }

    // J1 + C1 classification
    val partText = $"part".getField("text")
    val best = bestMatchCol(partText, $"dict")
    val attempted = length(trim(partText)) > 0 && $"dict".isNotNull && size($"dict") > 0
    val hasManual = length(coalesce($"manual_matched", lit(""))) > 0
    val classified = staged
      .withColumn("best", best)
      // similarity is stored whenever matching RAN, manual or not
      // (the reference always writes _similarityScore, :1838-1839)
      .withColumn("similarity",
        when(attempted, $"best".getField("rating")).otherwise(lit(Double.NaN)))
      .withColumn("matched",
        when(hasManual, $"manual_matched")
          .when(!attempted, lit(""))
          .when($"best".getField("rating") > 0.85, $"best".getField("target"))
          .otherwise(partText))
      .withColumn("row_type",
        when(hasManual, coalesce($"manual_type", lit("")))
          .when(!attempted, lit(""))
          .when($"best".getField("rating") > 0.85, lit("Child Part"))
          .otherwise(lit("BO")))
      .withColumn("needs_review",
        !hasManual && attempted && !($"best".getField("rating") > 0.85))
      .drop("best", "dict", "manual_matched", "manual_type")

    // C3 warning + C4 validation flags + W1 numbering + C5 skip + C6 route
    val qtyText = trim($"qty".getField("text"))
    classified
      .withColumn("ocr_warning",
        rowWarningCol($"qty", $"desc", $"mat", $"needs_review", $"similarity"))
      .withColumn("is_empty_row",
        length(trim($"row_type")) === 0 && length(qtyText) === 0 &&
          length(trim($"matched")) === 0)
      .withColumn("missing",
        when($"is_empty_row", array().cast("array<string>"))
          .otherwise(array_compact(array(
            when(length(trim($"row_type")) === 0, lit("Type")),
            when(length(trim($"matched")) === 0, lit("Part Number")),
            when(length(qtyText) === 0, lit("Quantity"))))))
      .withColumn("invalid_qty",
        !$"is_empty_row" && length($"qty".getField("text")) > 0 &&
          !qtyText.rlike("^\\d+$"))
      .withColumn("item_number", coalesce($"last_item", lit(0L)) + $"row_idx" + 1)
      .withColumn("emit",
        length(qtyText) > 0 && length(trim($"row_type")) > 0)
      // C4 is a per-conversation gate: an invalid spreadsheet blocks
      // the WHOLE submit (frontend/index.html:2305-2315 returns before
      // any write) — a conversation writes rows only when it has ≥1
      // non-empty row and zero violations
      .withColumn("conv_valid",
        (max(when(size($"missing") > 0 || $"invalid_qty", 1).otherwise(0))
          .over(Window.partitionBy($"conv_id")) === 0) &&
          (max(when(!$"is_empty_row", 1).otherwise(0))
            .over(Window.partitionBy($"conv_id")) === 1))
      .select($"conv_id", $"row_idx", $"item_number", $"conv_valid",
        $"row_type", $"matched",
        qtyText.as("quantity"),
        trim($"desc".getField("text")).as("description"),
        trim($"mat".getField("text")).as("material"),
        $"ocr_warning", $"needs_review", $"similarity",
        $"missing", $"invalid_qty", $"emit")
  }

  /** C4 gate: job-level validation summary (messages replicate the
    * reference's two-segment shape). A write should proceed only when
    * `isValid` (frontend/index.html:2304-2315). */
  def validationSummary(assembled: DataFrame): (Boolean, Seq[String]) = {
    // a validation-non-empty row always has either something missing
    // or (all three present ⇒) emit=true, so the count below equals
    // the reference's hasValidRow flag (frontend/index.html:2245-2252).
    // Missing-column names are reported in FIRST-SEEN order across
    // rows ordered by (conv_id, row_idx) — the reference's Set
    // insertion order while it iterates spreadsheet rows in order
    // (frontend/index.html:2245-2263): min row ordinal per column,
    // names sorted by it.
    // hex(conv_id) keeps the packed ordinal's lexicographic order
    // equal to the (conv_id, row_idx) tuple order for ANY conv_id
    // bytes: hex chars are order-preserving per byte and all sort
    // above the '#' separator (a raw conv_id containing ' ' or '!'
    // would otherwise sort below '#' and flip first-seen attribution)
    val ord = concat(hex(col("conv_id")), lit("#"),
      lpad(col("row_idx").cast("string"), 9, "0"))
    val row = assembled.agg(
      min(when(array_contains(col("missing"), "Type"), ord)),
      min(when(array_contains(col("missing"), "Part Number"), ord)),
      min(when(array_contains(col("missing"), "Quantity"), ord)),
      max(when(col("invalid_qty"), 1).otherwise(0)),
      count(when(size(col("missing")) > 0 || col("emit") || col("invalid_qty"), 1)))
      .head()
    val missing = Seq("Type", "Part Number", "Quantity")
      .zipWithIndex
      .flatMap { case (n, i) => Option(row.getString(i)).map(k => (k, i, n)) }
      .sortBy { case (k, i, _) => (k, i) } // ties within a row: check order
      .map(_._3)
    val anyInvalid = row.getInt(3) == 1
    val hasValidRow = row.getLong(4) > 0
    val msgs = Seq.newBuilder[String]
    if (missing.nonEmpty) msgs += s"(${missing.mkString(", ")})"
    if (anyInvalid) msgs += "Invalid Data (Quantity)"
    val m = msgs.result()
    (hasValidRow && m.isEmpty, m)
  }

  /** C4 gate + C5 + C6: conversations with violations write nothing
    * (the reference's failed submit), surviving rows route by type
    * (the dual sink). Callers write with `.partitionBy("row_type")` —
    * one append, two logical sinks (K3/K4). */
  def routed(assembled: DataFrame): DataFrame =
    assembled.filter(col("conv_valid") && col("emit"))
      .filter(col("row_type").isin("Child Part", "BO"))
      .drop("missing", "invalid_qty", "emit", "conv_valid")

  /** C4 alternative path (SURVEY §2.9): rows of conversations that
    * failed validation, with their violation flags — the quarantine
    * sink. At corpus scale silently dropping an invalid conversation
    * hides data problems; the reference surfaces them as a popup
    * (frontend/index.html:2310-2313), the engine as a table. */
  def quarantined(assembled: DataFrame): DataFrame =
    assembled.filter(!col("conv_valid"))
      .select(col("conv_id"), col("row_idx"), col("row_type"),
        col("matched"), col("quantity"), col("missing"),
        col("invalid_qty"), col("ocr_warning"))

  /** A4/K5: per-conversation new high-water mark. */
  def highWaterMarks(routedRows: DataFrame, convMeta: DataFrame): DataFrame =
    routedRows.groupBy("conv_id")
      .agg(max("item_number").as("emitted_max"))
      .join(broadcast(convMeta.select(col("conv_id"), col("last_item"))), Seq("conv_id"), "right")
      .select(col("conv_id"),
        greatest(coalesce(col("emitted_max"), lit(0L)), col("last_item")).as("last_item"))
}
