package graft.ext

import graft.SparkSpec

/** The distributed unigram-LM tokenizer must (a) produce LOSSLESS
  * segmentations, (b) agree exactly with a driver-side reference
  * Viterbi under the same seeded costs and tie order, and (c) the
  * q-gram LSH linkage must reach FULL recall of the brute-force
  * Levenshtein pairs on the catalog vocabulary (deterministic: the
  * hash family is fixed, so banding either collides or it doesn't).
  */
class UnigramSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def floorLnMicros(x: Long): Long =
    math.floor(math.log(x.toDouble) * 1000000).toLong

  /** Driver-side reference: identical seeding (chars + top-40 substrings
    * of length 2..6 by (score desc, piece)), identical encoded-cell
    * Viterbi (min cost, then smallest backpointer = longest piece). */
  private def referenceSegments(words: Map[String, Long]): Map[String, List[String]] = {
    val occ = scala.collection.mutable.Map.empty[String, Long]
    for ((w, n) <- words; i <- 0 until w.length;
         l <- 1 to math.min(6, w.length - i))
      occ(w.substring(i, i + l)) = occ.getOrElse(w.substring(i, i + l), 0L) + n
    val chars = occ.filter(_._1.length == 1).toSeq
    val multi = occ.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, s) => (-s, p) }.take(40)
    val seed = chars ++ multi
    val t = seed.map(_._2).sum
    val cost = seed.map { case (p, s) =>
      p -> (floorLnMicros(t) - floorLnMicros(s)) }.toMap
    words.keys.map { w =>
      val best = Array.fill(w.length + 1)(0L)
      for (i <- 1 to w.length) {
        best(i) = (math.max(0, i - 6) until i).flatMap { j =>
          cost.get(w.substring(j, i)).map(c => (best(j) / 64 + c) * 64 + j)
        }.min
      }
      val pieces = scala.collection.mutable.ListBuffer.empty[String]
      var pos = w.length
      while (pos > 0) {
        val j = (best(pos) % 64).toInt
        w.substring(j, pos) +=: pieces
        pos = j
      }
      w -> pieces.toList
    }.toMap
  }

  private lazy val segs = TextQueries.unigramSegments(spark, dir)
    .collect().map(r => (r.getString(0), r.getLong(1),
      r.getSeq[String](2).toList))

  test("segmentations are lossless (concat of pieces == word)") {
    assert(segs.nonEmpty)
    for ((w, _, pieces) <- segs) {
      assert(pieces.mkString == w, s"lossy split of '$w': $pieces")
      assert(pieces.forall(p => p.nonEmpty && p.length <= 6))
    }
  }

  test("distributed Viterbi matches the driver-side reference exactly") {
    val words = segs.map { case (w, n, _) => (w, n) }.toMap
    val ref = referenceSegments(words)
    for ((w, _, pieces) <- segs)
      assert(pieces == ref(w), s"split mismatch for '$w'")
  }

  test("token counts: every word contributes >= 1 and <= length pieces") {
    val toks = TextQueries.unigramTokens(spark, dir).collect()
    assert(toks.nonEmpty)
    for (r <- toks) {
      val (nWords, nTokens) = (r.getLong(1), r.getLong(2))
      assert(nTokens >= nWords, s"doc ${r.getLong(0)}: fewer tokens than words")
    }
  }

  test("wordpiece: lossless greedy splits matching a reference scan") {
    val segs = TextQueries.unigramSegments(spark, dir)
      .collect().map(r => (r.getString(0), r.getSeq[String](3).toList))
    assert(segs.nonEmpty)
    // reference greedy longest-match under the same seeded vocab
    val words = TextQueries.unigramSegments(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val vocabPieces: Set[String] = {
      val occ = scala.collection.mutable.Map.empty[String, Long]
      for ((w, n) <- words; i <- 0 until w.length;
           l <- 1 to math.min(6, w.length - i))
        occ(w.substring(i, i + l)) = occ.getOrElse(w.substring(i, i + l), 0L) + n
      val chars = occ.keysIterator.filter(_.length == 1).toSet
      val multi = occ.filter(_._1.length >= 2).toSeq
        .sortBy { case (p, s) => (-s, p) }.take(40).map(_._1).toSet
      chars ++ multi
    }
    def refGreedy(w: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val l = (math.min(6, w.length - pos) to 1 by -1)
          .find(l => vocabPieces(w.substring(pos, pos + l))).get
        out += w.substring(pos, pos + l)
        pos += l
      }
      out.toList
    }
    for ((w, greedy) <- segs) {
      assert(greedy.mkString == w, s"lossy greedy split of '$w': $greedy")
      assert(greedy == refGreedy(w), s"greedy mismatch for '$w'")
    }
  }

  test("q-gram LSH linkage reaches full brute-force recall on the vocabulary") {
    import spark.implicits._
    val names = graft.Tables(spark, dir, "part")
      .select("p_name").distinct().as[String].collect()
    val brute = (for {
      a <- names; b <- names if a < b
      if levenshteinDistance(a, b) <= 2
    } yield (a, b)).toSet
    val lsh = DedupQueries.fuzzyDupPairsLsh(spark, dir)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(brute.nonEmpty)
    assert(lsh == brute,
      s"missed: ${(brute -- lsh).take(5)}; spurious: ${(lsh -- brute).take(5)}")
  }

  /** Plain two-row DP Levenshtein for the brute-force oracle. */
  private def levenshteinDistance(a: String, b: String): Int = {
    var prev = (0 to b.length).toArray
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }
}
