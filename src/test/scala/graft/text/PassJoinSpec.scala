package graft.text

import graft.SparkSpec

/** Evidence that the PassJoin-style segment banding behind
  * editDistancePairs (q103) is LOSSLESS against brute force: every pair
  * within the distance threshold — including pairs whose surviving chunk
  * is shifted by indels, and pairs sitting exactly ON the threshold —
  * survives candidate generation. The parquet fixture's planted dups are
  * all 2-substitution pairs; this spec drives the shift machinery the
  * fixture never touches.
  */
class PassJoinSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Brute-force mirror of the operator's declared semantics: the
    * withNearDups fixture union, then every same-(lang, length div 8)
    * pair with lev(40-char prefixes) <= maxDist.
    */
  private def brute(docs: Seq[(Long, String, String)], maxDist: Int): Set[(Long, Long, Long)] = {
    val all = docs ++ docs.filter(_._1 % 10 == 0)
      .map { case (id, t, l) => (id + 2000000L, "@@" + t.drop(2), l) }
    (for {
      (ia, ta, la) <- all; (ib, tb, lb) <- all
      if ia < ib && la == lb && ta.length / 8 == tb.length / 8
      d = lev(ta.take(40), tb.take(40)) if d <= maxDist
    } yield (ia, ib, d.toLong)).toSet
  }

  test("segment-banded candidates are lossless vs brute force, incl. indel shifts") {
    val rnd = new scala.util.Random(7)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val base = (1L to 40L).map(i => (i, randText(60 + rnd.nextInt(20)), "en"))
    // substitution pairs: k in-place edits, k spanning the whole 0..12 range
    val subs = base.take(13).zipWithIndex.map { case ((id, t, l), k) =>
      val chars = t.toCharArray
      (0 until k).foreach(j => chars(3 * j) = '@')
      (id + 500L, new String(chars), l)
    }
    // indel-shift pairs: delete j chars at position 5, append j at the end
    // (length preserved -> same band; every chunk after the cut shifts by j)
    val shifts = base.slice(13, 25).zipWithIndex.map { case ((id, t, l), jj) =>
      val j = 1 + jj % 6
      (id + 600L, t.take(5) + t.drop(5 + j) + ("z" * j), l)
    }
    // threshold edge: exactly 12 subs (in) and 13 subs (out)
    val on = { val c = base(30)._2.toCharArray; (0 until 12).foreach(j => c(3 * j) = '#')
      (901L, new String(c), "en") }
    val out = { val c = base(31)._2.toCharArray; (0 until 13).foreach(j => c(3 * j) = '#')
      (902L, new String(c), "en") }
    // short docs (< 40 chars) land in all-short bands -> legacy path
    val shorts = Seq((950L, "tiny doc under forty chars", "en"),
      (951L, "tiny dog under forty chars", "en"))
    val docs = base ++ subs ++ shifts ++ Seq(on, out) ++ shorts
    val df = docs.toDF("doc_id", "text", "lang")

    val got = Dedup.editDistancePairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(docs, 12)
    assert((want -- got).isEmpty, s"lost pairs: ${(want -- got).take(5)}")
    assert(got == want, s"extra pairs: ${(got -- want).take(5)}")
    // the fixture must actually exercise both families
    assert(want.exists { case (a, b, _) => b == a + 600L }, "no shift pair fired")
    assert(want.exists { case (_, _, d) => d == 12 }, "no on-threshold pair fired")
    assert(got.exists { case (a, b, _) => a == 950L && b == 951L }, "short path lost its pair")
  }
}
