package graft.text

import graft.SparkSpec

/** Laws for the representation audits: CKA = 1 on a self-aligned
  * embedding, bounded on the corpus; MMR prefers a diverse pick over a
  * near-duplicate of the first selection.
  */
class RepresentSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: Seq[(Long, Seq[Float])]) =
    rows.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")

  test("linearCka: second half identical to first half gives CKA 1") {
    val rows = (0L until 40L).map { i =>
      val h = Seq.tabulate(32)(d => ((i * 31 + d * 7) % 13).toFloat / 13f)
      (i, h ++ h)
    }
    val r = Represent.linearCka(emb(rows)).collect()(0)
    assert(math.abs(r.getAs[Double]("cka") - 1.0) < 1e-4,
      s"self-aligned CKA: ${r.getAs[Double]("cka")}")
  }

  test("linearCka on the corpus is in [0, 1]") {
    val r = Represent.linearCka(
      graft.Tables.embeddings(spark, sf("sf0.001"))).collect()(0)
    val cka = r.getAs[Double]("cka")
    assert(cka >= 0.0 && cka <= 1.0 + 1e-9, s"CKA out of range: $cka")
  }

  test("mmrSelect: round 2 skips the near-duplicate of the first pick") {
    // v0/v1 nearly identical and closest to the centroid direction;
    // v2 farther from the centroid but diverse — MMR must take v2
    // second, where pure relevance top-k would take the duplicate.
    val rows = Seq(
      0L -> (Seq.fill(32)(1.0f) ++ Seq.fill(32)(0.0f)),
      1L -> (Seq.fill(32)(0.999f) ++ Seq.fill(32)(0.001f)),
      2L -> (Seq.fill(32)(0.0f) ++ Seq.fill(32)(1.0f)))
    val picks = Represent.mmrSelect(spark, emb(rows), k = 2, lambda = 0.5)
      .collect().map(r => r.getAs[Long]("round") -> r.getAs[Long]("vec_id"))
      .toMap
    assert(picks(2L) == 2L, s"round-2 pick must be the diverse vector: $picks")
  }
}
