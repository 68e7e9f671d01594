package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Semantics pins for the round-3 additions that the DuckDB oracle
  * exercises only partially on the driver tables: connected-component
  * duplicate clustering (deep chains, empty input) and the as-of join
  * (inclusive match, tied timestamps, the no-prior-order null path —
  * absent from the driver data, where every event has a prior order).
  */
class ClusterAsofSpec extends AnyFunSuite with SharedSpark {

  test("bestMatch: shuffle leg ≡ broadcast leg ≡ brute force (tiers, ties, misses)") {
    import spark.implicits._
    import graft.operators.Relational
    val rnd = new scala.util.Random(42)
    // 4-letter alphabet forces real exact/prefix/contains collisions
    def rndStr(n: Int) = (1 to n).map(_ => ('A' + rnd.nextInt(4)).toChar).mkString
    val dictNames = Seq("Alpha Beta Gamma", "Beta Gamma", "gamma delta",
      "ZZ", "Beta Gamma") ++ // "ZZ": shorter than minQLen (tier-3 only);
                             // duplicate entry: tie-broken by index
      (1 to 50).map(_ => rndStr(5 + rnd.nextInt(12)))
    val qs = Seq("ALPHA BETA GAMMA", "BETA ", "GAMMA", "QQQQQ") ++
      (1 to 200).map(_ => rndStr(5 + rnd.nextInt(12))) // lengths ∈ [5,16]
    val queries = qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      .toDF("qid", "q")
    val dict = dictNames.toDF("s_name")
    def run(dictRows: Long) =
      Relational.bestMatch(queries, dict, dictRows, minQLen = 5, maxQLen = 16)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
        .toMap
    val viaBroadcast = run(dictRows = 0L)           // ≤ ceiling → broadcast leg
    val viaShuffle = run(dictRows = Long.MaxValue)  // > ceiling → shuffle leg
    // independent brute force: min (tier, alphabetical-index) per query
    def tier(q: String, cu: String): Int =
      if (cu == q) 0 else if (cu.startsWith(q)) 1
      else if (cu.contains(q)) 2 else 3
    val sortedDict = dictNames.sorted
    val expected = qs.zipWithIndex.map { case (q, i) =>
      val (t, name) = sortedDict.map(n => (tier(q, n.toUpperCase.trim), n))
        .minBy(_._1) // stable: first among equal tiers = smallest index
      i.toLong -> (q,
        if (t <= 1) name else "",
        if (t <= 1) "Child Part" else "BO",
        Seq(1.0, 0.99, 0.85, 0.0)(t))
    }.toMap
    assert(viaBroadcast.size == qs.size && viaShuffle.size == qs.size)
    assert(viaBroadcast == expected)
    assert(viaShuffle == expected)
  }

  test("connectedComponents: deep chain converges to one min-labeled cluster") {
    import spark.implicits._
    // a path graph 1-2-3-...-8 (diameter 7 forces multiple propagation
    // rounds — min-label needs O(diameter), not one hop) plus a
    // disjoint pair {100, 101} and a triangle {50, 51, 52}
    val pairs = (1L to 7L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (50L, 51L), (51L, 52L), (50L, 52L))
    val out = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(out.length == 13)
    for (d <- 1L to 8L) assert(byDoc(d)._2 == 1L && byDoc(d)._3 == 8L)
    for (d <- 50L to 52L) assert(byDoc(d)._2 == 50L && byDoc(d)._3 == 3L)
    for (d <- Seq(100L, 101L)) assert(byDoc(d)._2 == 100L && byDoc(d)._3 == 2L)
    // exactly one canonical keeper per cluster, and it is the min id
    assert(out.filter(_._4).map(_._1).toSeq == Seq(1L, 50L, 100L))
  }

  test("connectedComponents matches brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40 * trial
      val pairs = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference: plain union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- pairs) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = verts.map(v => v -> verts.filter(u => find(u) == find(v)).min)
        .toMap
      val got = graft.operators.Dedup
        .connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n, ${pairs.size} edges)")
    }
  }

  test("contraction converges in O(log n) rounds on a 200-deep path") {
    import spark.implicits._
    // a 200-vertex path has diameter 199: min-label propagation needs
    // ~200 rounds; large-star/small-star must stay logarithmic
    val pairs = (1L to 199L).map(i => (i, i + 1))
    // driverMaxEdges = 0 pins the DISTRIBUTED leg (the default-guard
    // fast path would resolve this test graph at the driver)
    val res = Dedup.contract(pairs.toDF("doc_a", "doc_b"), driverMaxEdges = 0)
    assert(res.rounds <= 12,
      s"contraction took ${res.rounds} rounds on a 200-path — not logarithmic")
    val labs = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.size == 200 && labs.values.forall(_ == 1L))
  }

  test("contraction agrees with min-label propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 2) {
      val n = 60 * trial
      val pairs = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = pairs.toDF("doc_a", "doc_b")
      val byContract = Dedup.contract(df, driverMaxEdges = 0).labels
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byMinLabel = Dedup.minLabelComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byContract == byMinLabel, s"trial $trial (n=$n)")
    }
  }

  test("driver union-find leg agrees with the distributed contraction leg") {
    import spark.implicits._
    // the size-adaptive fast path (edge set under CcDriverMaxEdges
    // collects to a driver union-find) must label identically to the
    // large-star/small-star engine on ANY graph — the two-leg
    // equivalence pin, same discipline as bestMatch's legs
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 3) {
      val n = 50 * trial
      val pairs = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = pairs.toDF("doc_a", "doc_b")
      val fast = Dedup.contract(df).labels // default guard → driver leg
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.contract(df, driverMaxEdges = 0).labels
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == dist, s"trial $trial (n=$n)")
    }
  }

  test("release() returns executor storage to baseline after a query") {
    import spark.implicits._
    // the session is shared across suites (SharedSpark), so other
    // modules' long-lived caches (e.g. the bom-assembly memo) may be
    // resident — assert the DELTA this query adds is fully released,
    // not an absolute-zero storage state
    def cachedIds: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cachedIds
    val pairs = (1L to 99L).map(i => (i, i + 1)) ++ Seq((500L, 501L))
    Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b")).count()
    assert((cachedIds -- before).nonEmpty, "query should have cached blocks")
    Dedup.release()
    // unpersist(blocking=false) is async on the block manager side —
    // poll briefly before asserting
    val deadline = System.nanoTime() + 10e9.toLong
    while ((cachedIds -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert((cachedIds -- before).isEmpty,
      s"cached blocks survived release(): ${(cachedIds -- before).mkString(", ")}")
  }

  test("connectedComponents: empty pair set yields empty output, no failure") {
    import spark.implicits._
    val out = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(out.count() == 0)
  }

  test("as-of join matches brute force on random order/event sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dir = Files.createTempDirectory("graft-asof-rnd").toString
    def ts(m: Int): Timestamp = new Timestamp(1704067200000L + m * 60000L)
    // random orders and events over 12 users and a coarse minute grid
    // (coarse so timestamp TIES actually occur)
    val orders = Seq.tabulate(80)(i =>
      (rnd.nextInt(12).toLong, ts(rnd.nextInt(50)), 1000L + i))
    val events = Seq.tabulate(120)(i =>
      (2000L + i, rnd.nextInt(12).toLong, ts(rnd.nextInt(60))))
    orders.toDF("o_custkey", "o_orderdate", "o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    events.toDF("event_id", "user_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val expected = events.map { case (eid, u, t) =>
      val elig = orders.filter(o => o._1 == u && !o._2.after(t))
      val best =
        if (elig.isEmpty) -1L
        else {
          val latest = elig.map(_._2.getTime).max
          elig.filter(_._2.getTime == latest).map(_._3).max
        }
      eid -> best
    }.toMap
    val got = SparkEntry.queries("j5_asof")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected)
    // the coarse grid really exercised the tie rule: some (user, ts)
    // carries more than one order
    assert(orders.groupBy(o => (o._1, o._2)).exists(_._2.size > 1),
      "fixture produced no tied order timestamps")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("as-of join: inclusive match, tie dedup, and the no-order null path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-asof").toString
    def ts(d: Int): Timestamp = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // user 1: orders at day 10 (key 10) and day 20 (key 30);
    // user 3: two orders at the SAME timestamp (keys 5 and 7 — the
    //         window tie-break carries the max orderkey);
    // user 2: NO orders at all (the null path → -1)
    Seq((1L, ts(10), 10L), (1L, ts(20), 30L), (3L, ts(15), 5L), (3L, ts(15), 7L))
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq(
      (101L, 1L, ts(5)),   // before every order        → -1
      (102L, 1L, ts(10)),  // equal ts: INCLUSIVE        → 10
      (103L, 1L, ts(15)),  // between                    → 10
      (104L, 1L, ts(25)),  // after both                 → 30
      (105L, 2L, ts(12)),  // user with no orders        → -1
      (106L, 3L, ts(15)))  // tied order timestamps      → 7 (max key)
      .toDF("event_id", "user_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("j5_asof")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(101L -> -1L, 102L -> 10L, 103L -> 10L,
      104L -> 30L, 105L -> -1L, 106L -> 7L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
