package graft.queries

import graft.SparkSpec

/** s17's integer pipeline pinned against a plain-Scala third
  * implementation (the WarmStartRefreshSpec discipline applied to the
  * fine level: Spark, DuckDB oracle, and this loop-written replay must
  * all agree), plus conservation, the empty-code rule, and the c13
  * composition recount. */
class PqRefreshSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  /** Full plain-Scala replay of the s17 pipeline over raw embeddings:
    * archive-train the stale per-subspace codebooks (s14's recipe),
    * assign the FULL corpus per subspace, one floored-integer-mean
    * warm-start update per (m, code) (empty codes keep their stale
    * centroid), re-assign, report per (m, code). */
  private def replay(e: Seq[(Long, Array[Double])])
      : Seq[(Int, Int, Long, Long, Long, Long, Long)] = {
    val M = Similarity.PqM; val D = Similarity.PqD; val K = Similarity.PqK
    def qv(v: Array[Double]): Array[Double] = v.map(x => math.floor(x * 64))
    def subOf(v: Array[Double], m: Int): Array[Double] = v.slice(m * D, m * D + D)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def dist(v: Array[Double], c: Array[Double]): Double =
      dot(v, v) - 2 * dot(v, c) + dot(c, c)
    def argmin(v: Array[Double], cents: Seq[(Int, Array[Double])]): (Int, Double) =
      cents.map { case (code, c) => (code, dist(v, c)) }
        .minBy { case (code, d) => (d, code) }
    def meanUpdate(assigned: Seq[(Int, Array[Double])]): Map[Int, Array[Double]] =
      assigned.groupBy(_._1).map { case (code, ms) =>
        code -> (0 until D).map { d =>
          math.floor(ms.map(_._2(d)).sum / ms.size)
        }.toArray
      }
    val q = e.map { case (id, v) => (id, qv(v)) }
    val archive = q.filter(_._1 % 10 != 7)
    (0 until M).flatMap { m =>
      val asub = archive.map { case (id, v) => (id, subOf(v, m)) }
      val seeds = asub.filter(_._1 < K).map { case (id, sv) => (id.toInt, sv) }
      val stale = meanUpdate(asub.map { case (_, sv) => (argmin(sv, seeds)._1, sv) })
        .toSeq.sortBy(_._1)
      val a = q.map { case (id, v) =>
        val sv = subOf(v, m); val (code, d) = argmin(sv, stale); (id, code, d, sv)
      }
      val upd = meanUpdate(a.map { case (_, code, _, sv) => (code, sv) })
      val refreshed = stale.map { case (code, c) => (code, upd.getOrElse(code, c)) }
      val a2 = q.map { case (id, v) =>
        val sv = subOf(v, m); val (code, d) = argmin(sv, refreshed); (id, code, d)
      }
      val bef = a.groupBy(_._2).map { case (code, ms) =>
        code -> (ms.size.toLong, ms.map(_._3).sum.toLong) }
      val aft = a2.groupBy(_._2).map { case (code, ms) =>
        code -> (ms.size.toLong, ms.map(_._3).sum.toLong) }
      stale.map { case (code, cOld) =>
        val cNew = refreshed.find(_._1 == code).get._2
        val disp = cOld.zip(cNew).map { case (x, y) => (x - y) * (x - y) }.sum.toLong
        val (nb, db) = bef.getOrElse(code, (0L, 0L))
        val (na, da) = aft.getOrElse(code, (0L, 0L))
        (m, code, nb, na, disp, db, da)
      }
    }.sortBy(r => (r._1, r._2))
  }

  private def run(dir: String): Seq[(Int, Int, Long, Long, Long, Long, Long)] =
    Similarity.s17PqRefresh.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq

  test("s17 per-(m,code) report matches the plain-Scala integer replay (sf0.001)") {
    val dir = sf()
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    assert(e.size >= 50, s"fixture too small: ${e.size}")
    val got = run(dir)
    val want = replay(e)
    assert(got == want,
      s"\n got=${got.take(4)}…\nwant=${want.take(4)}…")
    // conservation per subspace: every vector assigns exactly once in
    // both passes
    for (m <- 0 until Similarity.PqM) {
      assert(got.filter(_._1 == m).map(_._3).sum == e.size.toLong, s"m=$m before")
      assert(got.filter(_._1 == m).map(_._4).sum == e.size.toLong, s"m=$m after")
    }
    // one warm-start k-means step must not increase the total error mass
    assert(got.map(_._7).sum <= got.map(_._6).sum,
      s"refresh increased error: ${got.map(_._7).sum} > ${got.map(_._6).sum}")
    // the empty-code rule: a code receiving no vectors keeps its stale
    // centroid exactly (disp 0)
    for (r <- got if r._3 == 0)
      assert(r._5 == 0L, s"empty code moved: $r")
  }

  test("c13's pq benefit equals the recount from the s17 report") {
    val dir = sf()
    val rep = run(dir)
    val eb = rep.map(_._6).sum; val ea = rep.map(_._7).sum
    val want = 10000L * (eb - ea) / eb
    val pqRow = graft.SparkEntry.queries("c13_refresh_decision")(spark, dir)
      .collect().find(_.getString(0) == "pq").get
    assert(pqRow.getLong(2) == want,
      s"c13 pq benefit ${pqRow.getLong(2)} != s17 recount $want")
  }
}
