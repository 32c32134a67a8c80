package graft.ext

import graft.SparkSpec
import java.sql.Timestamp

/** Pins the round-13 event/stats batch on hand-computable fixtures:
  * Mann–Whitney U against the by-hand pair count, cross-correlation at
  * a planted lag, and gapped-pair sequence support on crafted sessions.
  */
class EventStatsSpec extends SparkSpec {

  private def ts(day: Int, hour: Int, min: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$min%02d:00")

  test("Mann-Whitney U == hand pair count on a crafted two-group set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mwu").toString
    // F = {1,2,3}, O = {2,3,4}: U_F = wins + half-ties
    //   F1: 0; F2: tie with O2 → 0.5; F3: beats O2, ties O3 → 1.5
    //   → U_F = 2.0, n1 = n2 = 3
    Seq((1L, "F", 1.0), (2L, "F", 2.0), (3L, "F", 3.0),
        (4L, "O", 2.0), (5L, "O", 3.0), (6L, "O", 4.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = graft.queries.OlapQueries.mannwhitneyU(spark, dir)
      .select("n1", "n2", "u", "rank_biserial")
      .as[(Long, Long, Double, Double)].collect().head
    assert(r._1 == 3 && r._2 == 3)
    assert(r._3 == 2.0, s"U was ${r._3}")
    // rank-biserial = 2U/(n1·n2) − 1 = 4/9 − 1
    assert(math.abs(r._4 - (4.0 / 9 - 1)) < 1e-6)
    // z must be negative (F values sit below O values)
    val z = graft.queries.OlapQueries.mannwhitneyU(spark, dir)
      .select("z").as[Double].collect().head
    assert(z < 0)
  }

  test("cross-correlation peaks at the planted one-day lead") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("xcorr").toString
    // views on day d with count c(d); purchases on day d+1 with the SAME
    // count → corr at lag +1 is exactly 1.0
    val counts = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3)
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      val d = i + 1
      (1 to c).map(j => (ts(d, 10, j), "view")) ++
        (1 to c).map(j => (ts(d + 1, 11, j), "purchase"))
    }
    rows.toDF("ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val byLag = EventQueries.eventsXcorr(spark, dir)
      .select("lag", "xcorr").as[(Long, Option[Double])].collect().toMap
    assert(byLag(1L).contains(1.0), s"lag-1 corr was ${byLag(1L)}")
    // the mirrored lag (purchases lead views) must NOT be perfect
    assert(!byLag(-1L).contains(1.0))
  }

  test("gapped-pair support == hand count on crafted sessions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("freq").toString
    // session 1 (user 1): A,B,C → pairs AB, AC, BC
    // session 2 (user 2): A,C   → pair AC
    // support: AC = 2/2, AB = BC = 1/2
    Seq((1L, 1L, ts(1, 10, 0), "A"), (2L, 1L, ts(1, 10, 5), "B"),
        (3L, 1L, ts(1, 10, 10), "C"),
        (4L, 2L, ts(2, 10, 0), "A"), (5L, 2L, ts(2, 10, 5), "C"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.freqSequences(spark, dir)
      .select("first_event", "then_event", "n_sessions", "support")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(("A", "C", 2L, 1.0), ("A", "B", 1L, 0.5),
      ("B", "C", 1L, 0.5)))
  }

  test("FS linkage: pattern scores match the weight table, pairs conserved") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val rows = DedupQueries.fsLinkage(spark, sf)
      .select("pattern", "n_pairs", "score", "decision")
      .as[(String, Long, Double, String)].collect()
    assert(rows.nonEmpty)
    // every pattern's score re-derives from the literal log₂(m/u) table
    val agree = Seq(1247927L, 1847996L, 3087462L, 4000000L, 2000000L)
    val disagree = Seq(-3584963L, -2906891L, -2584963L, -2247928L, -1584963L)
    rows.foreach { case (pat, _, score, dec) =>
      val micros = pat.zipWithIndex.map { case (c, i) =>
        if (c == '1') agree(i) else disagree(i)
      }.sum
      assert(score == micros / 1e6, s"pattern $pat")
      val want = if (micros >= 4000000L) "match"
        else if (micros >= 0L) "possible" else "non_match"
      assert(dec == want, s"pattern $pat")
    }
    // the histogram partitions the blocked candidate set exactly
    val nPairs = DedupQueries.minhashPairs(spark, sf).count()
    assert(rows.map(_._2).sum == nPairs)
    spark.catalog.clearCache()
  }

  test("entropy rate == hand ln-micros on a crafted transition chain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("entr").toString
    // user 1: A→B, B→A, A→B; user 2: A→C
    // transitions: (A,B)=2, (B,A)=1, (A,C)=1 → A: n_s=3, B: n_s=1
    Seq((1L, 1L, ts(1, 10, 0), "A"), (2L, 1L, ts(1, 10, 1), "B"),
        (3L, 1L, ts(1, 10, 2), "A"), (4L, 1L, ts(1, 10, 3), "B"),
        (5L, 2L, ts(1, 10, 0), "A"), (6L, 2L, ts(1, 10, 1), "C"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def lnm(v: Long) = math.floor(math.log(v.toDouble) * 1e6).toLong
    val hA = (2 * (lnm(3) - lnm(2)) + 1 * (lnm(3) - lnm(1))) / 3 / 1e6
    val cA = (2 * (lnm(3) - lnm(2)) + 1 * (lnm(3) - lnm(1))) / 4 / 1e6
    val got = EventQueries.entropyRate(spark, dir)
      .select("state", "n_s", "pi", "h_cond", "rate_contrib")
      .as[(String, Long, Double, Double, Double)].collect().toList
    assert(got == List(("A", 3L, 0.75, hA, cA), ("B", 1L, 0.25, 0.0, 0.0)),
      s"got $got want A=($hA,$cA)")
  }

  test("Wilcoxon signed-rank == hand ranks on crafted paired days") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wilcx").toString
    // diffs per day: +2, −1, +1, 0(dropped) → n=3; |1| tie pair gets
    // 2·avgrank = 3 each, |2| gets 6 → 2·W⁺ = 6 + 3 = 9 → W⁺ = 4.5
    val rows =
      (1 to 3).map(j => (ts(1, 10, j), "view")) ++ Seq((ts(1, 11), "purchase")) ++
      Seq((ts(2, 10), "view")) ++ (1 to 2).map(j => (ts(2, 11, j), "purchase")) ++
      (1 to 2).map(j => (ts(3, 10, j), "view")) ++ Seq((ts(3, 11), "purchase")) ++
      Seq((ts(4, 10), "view"), (ts(4, 11), "purchase"))
    rows.toDF("ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = EventQueries.wilcoxonSigned(spark, dir)
      .select("n", "w_plus").as[(Long, Double)].collect().head
    assert(r == ((3L, 4.5)), s"got $r")
  }

  test("DTW fold == exhaustive path search on random short series") {
    // brute force: min total |x_i − y_j| over all monotone warp paths
    def brute(xs: Seq[Long], ys: Seq[Long]): Long = {
      val memo = scala.collection.mutable.Map[(Int, Int), Long]()
      def go(i: Int, j: Int): Long = memo.getOrElseUpdate((i, j), {
        val c = math.abs(xs(i) - ys(j))
        if (i == 0 && j == 0) c
        else {
          val opts = Seq(
            if (i > 0) Some(go(i - 1, j)) else None,
            if (j > 0) Some(go(i, j - 1)) else None,
            if (i > 0 && j > 0) Some(go(i - 1, j - 1)) else None).flatten
          c + opts.min
        }
      })
      go(xs.length - 1, ys.length - 1)
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 25) {
      val xs = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(20).toLong)
      val ys = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(20).toLong)
      assert(EventQueries.dtwCost(xs, ys) == brute(xs, ys),
        s"trial $trial xs=$xs ys=$ys")
    }
    // identical series align perfectly
    val s = Seq(3L, 1L, 4L, 1L, 5L)
    assert(EventQueries.dtwCost(s, s) == 0L)
  }

  test("burst DP flags the planted spike and only the spike") {
    // 20 calm days at 5/day, 3 spike days at 50/day: λ₀ ≈ 10.9 — the
    // burst track must win exactly on the spike days once entered
    val series = ((1 to 20).map(d => (ts(d, 1), 5L)) ++
      (21 to 23).map(d => (ts(d, 1), 50L)))
      .map { case (t, n) => (new java.sql.Date(t.getTime), n) }
    val out = EventQueries.burstFold(series)
    val flags = out.map { case (_, n, _, _, burst) => (n, burst) }
    assert(flags.count { case (n, b) => n == 50L && b } == 3,
      s"spike days not all flagged: $flags")
    assert(flags.forall { case (n, b) => n == 50L || !b },
      s"calm day flagged: $flags")
    // determinism: the fold replays bit-identically
    assert(out == EventQueries.burstFold(series))
  }

  test("sequence pairs are distinct per session and capped at 12 events") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("freqcap").toString
    // one session of 20 alternating A/B events: distinct pairs must be
    // counted once, and events beyond the 12th must not contribute —
    // event 13+ are type "Z", which must appear in no pair
    val rows = (1 to 20).map { i =>
      val t = if (i <= 12) (if (i % 2 == 1) "A" else "B") else "Z"
      (i.toLong, 1L, ts(1, 10, i), t)
    }
    rows.toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.freqSequences(spark, dir)
      .select("first_event", "then_event").as[(String, String)]
      .collect().toSet
    assert(got == Set(("A", "B"), ("B", "A"), ("A", "A"), ("B", "B")))
  }
}
