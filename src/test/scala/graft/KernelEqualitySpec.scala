package graft

import graft.gen.TranscriptGen
import graft.kernel.Extractor
import graft.model._
import graft.oracle.Oracle
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The production kernel must equal the plain-Scala oracle on every
  * turn of the synthetic corpus and on randomized payloads (SURVEY
  * §5.1/§5.3). This is the in-JVM half of the per-turn-equality gate;
  * PipelineSpec covers the Spark half. Randomized cases use seeded
  * `scala.util.Random` (deterministic, 500 payloads per property).
  */
class KernelEqualitySpec extends AnyFunSuite {

  private val ctr = new Extractor.Counters

  private def oracleCells(turn: Turn): (String, Seq[Cell]) = {
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

  test("kernel == oracle on every turn of the t1 corpus (incl. edge cases)") {
    val corpus = TranscriptGen.corpus(nConvs = 50)
    assert(corpus.turns.nonEmpty)
    var checked = 0
    for (turn <- corpus.turns) {
      val got = Extractor.extract(turn, ctr)
      val (expText, expCells) = oracleCells(turn)
      assert(got.extracted_text == expText,
        s"text mismatch at ${turn.conv_id}/${turn.turn_idx} (${turn.tool})")
      assert(got.cells.toSeq == expCells,
        s"cells mismatch at ${turn.conv_id}/${turn.turn_idx} (${turn.tool})")
      checked += 1
    }
    info(s"checked $checked turns")
  }

  test("payload codec round-trips") {
    val corpus = TranscriptGen.corpus(nConvs = 20)
    for (turn <- corpus.turns if turn.tool != Tool.HtmlMain) {
      val pl = PayloadCodec.decode(turn.text)
      val pl2 = PayloadCodec.decode(PayloadCodec.encode(pl))
      assert(pl2.boxes.toSeq == pl.boxes.toSeq)
      assert(pl2.lines.toSeq == pl.lines.toSeq)
      assert(pl2.rects.toSeq == pl.rects.toSeq)
      assert((pl2.w, pl2.h, pl2.col) == (pl.w, pl.h, pl.col))
    }
  }

  test("FastScan decode equals jackson decode on corpus and adversarial inputs") {
    val corpus = TranscriptGen.corpus(nConvs = 30)
    for (turn <- corpus.turns) {
      val a = PayloadCodec.decode(turn.text)
      val b = PayloadCodec.decodeJackson(turn.text)
      assert(a.boxes.toSeq == b.boxes.toSeq, turn.conv_id)
      assert(a.lines.toSeq == b.lines.toSeq && a.rects.toSeq == b.rects.toSeq)
      assert((a.w, a.h, a.col) == (b.w, b.h, b.col))
    }
    val adversarial = Seq(
      "", "{", "{}", "null", "[1]", "not json", "{\"boxes\":42}",
      "{\"boxes\":[]}", "{\"boxes\":[{}]}",
      "{\"boxes\":[{\"q\":[[1]],\"t\":\"x\"}]}",
      "{\"boxes\":[{\"t\":\"noquad\",\"c\":0.5}]}",
      "{\"w\":1.5,\"h\":-3}",
      "{\"unknown\":{\"nested\":[1,{\"a\":\"b\"}]},\"w\":7}",
      "{\"boxes\":[{\"q\":[[1,2],[3,4],[5,6],[7,8]],\"t\":\"esc\\n\\u00d84\\\"q\",\"c\":0.97}],\"col\":\"P\\u0041rt\"}",
      "{\"lines\":[1,2,3],\"rects\":[[1,2,3,4],[5,6]]}",
      "{\"boxes\":[{\"q\":[[1,2],[3,4],[5,6],[7,8],[9,10]],\"t\":\"extra\",\"c\":1}]}",
      "{\"w\":" + "9".repeat(20) + "}",
      "{\"c\":1e3,\"boxes\":[{\"q\":[[0.5,-2.25],[1e2,3],[4,5],[6,7]],\"t\":\"f\",\"c\":1e-3}]}",
      // leading-zero integers are invalid JSON (jackson → empty)
      "{\"w\":007}", "{\"w\":00}", "{\"h\":-012,\"w\":3}",
      "{\"boxes\":[{\"q\":[[01,2],[3,4],[5,6],[7,8]],\"t\":\"z\",\"c\":0.5}]}",
      "{\"w\":0,\"h\":0.5}", // bare zero and 0.x ARE valid
      // raw control chars inside strings are invalid JSON
      "{\"col\":\"a\nb\"}", "{\"boxes\":[{\"q\":[[1,2],[3,4],[5,6],[7,8]],\"t\":\"a\tb\",\"c\":1}]}",
      "{\"col\":\"a\\nb\tc\"}",
      // malformed true/false/null literals under unknown keys
      "{\"x\":tru}", "{\"x\":truX,\"w\":4}", "{\"x\":nul}", "{\"x\":falsy}",
      "{\"x\":true,\"w\":5}", "{\"x\":null,\"h\":6}", "{\"x\":false}",
      // trailing-dot / bare-exponent numbers: parseDouble accepts
      // "0." and "1.e5" that jackson rejects (found by 40-seed fuzz)
      "{\"boxes\":[{\"q\":[[1,2],[3,4],[5,6],[7,8]],\"t\":\"x\",\"c\":0.}]}",
      "{\"w\":1.}", "{\"w\":1.e5}", "{\"w\":1e}", "{\"w\":1e+}", "{\"w\":1.5e}",
      "{\"w\":1.5,\"h\":2}", "{\"w\":2e3}", "{\"w\":2E+3,\"h\":1.25e-2}")
    for (j <- adversarial) {
      val a = PayloadCodec.decode(j)
      val b = PayloadCodec.decodeJackson(j)
      assert(a.boxes.toSeq == b.boxes.toSeq, s"boxes for: $j")
      assert(a.lines.toSeq == b.lines.toSeq && a.rects.toSeq == b.rects.toSeq, j)
      assert((a.w, a.h, a.col) == (b.w, b.h, b.col), j)
    }
  }

  test("FastScan decimal fast path is BIT-identical to jackson across the digit boundary") {
    // the exact-division fast path (mantissa/10^f, both exact doubles)
    // claims correctly-rounded = parseDouble for ≤15 total digits;
    // sweep dense random decimals through and past that boundary and
    // compare raw bits (== would hide a -0.0 vs 0.0 divergence)
    val rnd = new Random(99L)
    def bits(p: graft.model.Payload): Seq[Long] =
      p.boxes.toSeq.flatMap(b => b.productIterator.collect {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
      })
    for (trial <- 0 until 20000) {
      val intDigits = 1 + rnd.nextInt(12)
      val fracDigits = rnd.nextInt(12)
      val sb = new StringBuilder
      if (rnd.nextBoolean()) sb.append('-')
      sb.append(1 + rnd.nextInt(9))
      for (_ <- 1 until intDigits) sb.append(rnd.nextInt(10))
      if (fracDigits > 0) {
        sb.append('.')
        for (_ <- 0 until fracDigits) sb.append(rnd.nextInt(10))
      }
      val num = sb.toString
      val json = s"""{"boxes":[{"q":[[$num,1],[2,$num],[4,5],[6,7]],"t":"x","c":$num}]}"""
      val a = PayloadCodec.decode(json)
      val b = PayloadCodec.decodeJackson(json)
      assert(bits(a) == bits(b), s"trial $trial: $num")
    }
    // explicit boundary cases: 15 vs 16 significant digits, 0.x forms
    for (num <- Seq("999999999999999", "9999999999999999", "0.999999999999999",
        "0.9999999999999999", "123456789.123456", "1234567.123456789",
        "-0.0", "0.0000001", "-123456789012345")) {
      val json = s"""{"w":1,"boxes":[{"q":[[$num,1],[2,3],[4,5],[6,7]],"t":"x","c":0.5}]}"""
      assert(bits(PayloadCodec.decode(json)) == bits(PayloadCodec.decodeJackson(json)), num)
    }
  }

  test("FastScan never throws and equals jackson on fuzzed JSON-ish bytes") {
    val alphabet =
      "{}[]\",:0123456789.eE+-qtcwh lines rects col boxes\\u00d8\n\t truefalsn"
    for (seed <- Seq(31L, 7919L, 15838L, 23757L)) {
      val rnd = new Random(seed)
      for (i <- 0 until 3000) {
        val len = rnd.nextInt(80)
        val junk = "{" + Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
        val a = PayloadCodec.decode(junk)
        val b = PayloadCodec.decodeJackson(junk)
        assert(a.boxes.toSeq == b.boxes.toSeq, s"seed $seed #$i: $junk")
        assert(a.lines.toSeq == b.lines.toSeq && a.rects.toSeq == b.rects.toSeq,
          s"seed $seed #$i: $junk")
        assert((a.w, a.h, a.col) == (b.w, b.h, b.col), s"seed $seed #$i: $junk")
      }
      // mutations of VALID payloads (truncations + single-char flips)
      val corpus = TranscriptGen.corpus(nConvs = 5, seed = seed)
      val payloads = corpus.turns.filter(_.tool != Tool.HtmlMain).map(_.text).take(50)
      for (p <- payloads; _ <- 0 until 6) {
        val mutated =
          if (rnd.nextBoolean()) p.substring(0, rnd.nextInt(p.length))
          else {
            val pos = rnd.nextInt(p.length)
            p.substring(0, pos) + alphabet(rnd.nextInt(alphabet.length)) + p.substring(pos + 1)
          }
        val a = PayloadCodec.decode(mutated)
        val b = PayloadCodec.decodeJackson(mutated)
        assert(a.boxes.toSeq == b.boxes.toSeq, s"seed $seed: ${mutated.take(120)}")
        assert((a.w, a.h, a.col) == (b.w, b.h, b.col), s"seed $seed: ${mutated.take(120)}")
      }
    }
  }

  // ── randomized payloads ──────────────────────────────────────────
  private val texts = Array(
    "", " ", "A", "O12", " O12", "bolt O1", "x  y", "Ø9", "a,b", "12", "t O2 u")

  private def randBox(rnd: Random): Box = {
    val x = rnd.nextInt(500); val y = rnd.nextInt(400)
    val w = 1 + rnd.nextInt(80); val h = 1 + rnd.nextInt(40)
    Box(x, y, x + w, y, x + w, y + h, x, y + h,
      texts(rnd.nextInt(texts.length)), rnd.nextInt(101) / 100.0)
  }

  private def randPayload(rnd: Random): Payload = {
    val boxes = Array.fill(rnd.nextInt(15))(randBox(rnd))
    val lines = Array.fill(rnd.nextInt(9))(rnd.nextInt(400))
    val rects = Array.fill(rnd.nextInt(7))(
      Rect(rnd.nextInt(500), rnd.nextInt(300), 1 + rnd.nextInt(200), 1 + rnd.nextInt(100)))
    Payload(boxes, 600, 400, lines, rects, "")
  }

  test("property: kernel == oracle on 500 random payloads, all three paths") {
    val rnd = new Random(7L)
    for (i <- 0 until 500) {
      val pl = randPayload(rnd)
      assert(Extractor.simpleCells(pl.boxes, ctr).toSeq ==
        Oracle.simpleCells(pl.boxes.toSeq), s"simple #$i")
      assert(Extractor.bandCells(pl, ctr).toSeq == Oracle.bandCells(pl), s"band #$i")
      assert(Extractor.rectCells(pl, ctr).toSeq == Oracle.rectCells(pl), s"rect #$i")
    }
  }

  test("property: G1 clusters partition sorted ys; members within thresh of first") {
    val rnd = new Random(11L)
    for (_ <- 0 until 300) {
      val ys = List.fill(rnd.nextInt(40))(rnd.nextInt(1000)).sorted
      val clusters = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[Int]]
      for (y <- ys) {
        if (clusters.isEmpty || math.abs(y - clusters.last.head) > 20)
          clusters += scala.collection.mutable.ArrayBuffer(y)
        else clusters.last += y
      }
      assert(clusters.flatten.toList == ys)
      assert(clusters.forall(c => c.forall(y => math.abs(y - c.head) <= 20)))
    }
  }

  test("property: min-conf ≤ every fragment conf; kept fragments conserved") {
    val rnd = new Random(13L)
    for (_ <- 0 until 300) {
      val pl = randPayload(rnd)
      val keptConfs = pl.boxes.filter(_.t.trim.nonEmpty).map(_.c)
      val cells = Oracle.rectCells(pl)
      cells.filter(_.text.nonEmpty).foreach { c =>
        assert(keptConfs.isEmpty || c.confidence >= keptConfs.min)
      }
      // band path: every kept fragment's text appears in some output cell
      val bandOut = Oracle.bandCells(pl).map(_.text).mkString(" ")
      pl.boxes.map(_.t.trim).filter(_.nonEmpty).foreach { t =>
        assert(bandOut.contains(t) || bandOut.contains(Oracle.fixDiameter(t)))
      }
    }
  }

  test("pathological turn beyond 2^20 boxes takes the fallback sort, equals oracle") {
    val n = (1 << 20) + 5
    val rnd = new Random(17L)
    val boxes = Array.tabulate(n) { i =>
      val y = rnd.nextInt(1000) // heavy ties: stability must hold
      Box(0, y, 10, y, 10, y + 10, 0, y + 10, s"t$i", 0.9)
    }
    val got = Extractor.simpleCells(boxes, ctr)
    val exp = Oracle.simpleCells(boxes.toSeq)
    assert(got.length == exp.length)
    var i = 0
    while (i < got.length) {
      assert(got(i) == exp(i), s"at $i")
      i += 1
    }
  }

  test("html extraction drops nav/footer link farms, keeps long paragraphs") {
    val html = "<html><body>" +
      "<nav><a href='/'>home</a> <a href='/a'>about</a></nav>" +
      // after a link-dense prev block Boilerpipe requires > 40 words
      "<p>one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty " +
      Seq.tabulate(25)(i => s"w$i").mkString(" ") + "</p>" +
      "<footer><a href='/p'>privacy</a> <a href='/t'>terms</a></footer>" +
      "</body></html>"
    val out = graft.kernel.HtmlMain.extractText(html)
    assert(out.contains("one two three"))
    assert(!out.contains("privacy"))
    assert(!out.contains("home"))
  }

  test("html entities decode; script/style content dropped") {
    val html = "<body><script>ignore me entirely</script>" +
      "<p>a &amp; b &lt;c&gt; plus words to cross the sixteen word " +
      "threshold for content classification here now</p></body>"
    val out = graft.kernel.HtmlMain.extractText(html)
    assert(out.contains("a & b <c>"))
    assert(!out.contains("ignore"))
  }

  test("mainSegment comma weighting: the 2x comma term can outscore a longer run") {
    // A: 50 words, no commas (score 50). B: 45 words + 44 attached
    // commas (score 45 + 88 = 133) — B wins ONLY via the comma term;
    // with commas stripped the same layout flips back to A.
    val runA = "<p>" + Seq.fill(50)("aa").mkString(" ") + "</p>"
    val gap = "<div>" + Seq.fill(8)("<a href='/'>x link y</a>").mkString + "</div>"
    def pick(b: String) =
      graft.kernel.HtmlMain.mainSegment(s"<body>$runA$gap$b</body>")
    val withCommas = "<p>" + Seq.fill(45)("bb").mkString(", ") + "</p>"
    assert(pick(withCommas).startsWith("bb"))
    val noCommas = "<p>" + Seq.fill(45)("bb").mkString(" ") + "</p>"
    assert(pick(noCommas).startsWith("aa"))
  }

  test("html mainSegment picks the highest-scoring contiguous run") {
    val p1 = "<p>" + Seq.fill(20)("w").mkString(" ") + "</p>"
    val big = "<p>" + Seq.fill(60)("big").mkString(" ") + ", , ,</p>"
    val linkfarm = "<div>" + Seq.fill(10)("<a href='/'>l link here</a>").mkString + "</div>"
    val html = s"<body>$p1$linkfarm$big$big</body>"
    val seg = graft.kernel.HtmlMain.mainSegment(html)
    assert(seg.startsWith("big") && seg.contains("\n"))
  }
}
