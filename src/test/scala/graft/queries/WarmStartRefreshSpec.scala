package graft.queries

import graft.SparkSpec

/** s15's integer pipeline pinned against a plain-Scala third
  * implementation (the IndexStalenessSpec discipline: Spark, DuckDB
  * oracle, and this loop-written replay must all agree), plus
  * conservation and a planted drift the refresh must visibly chase. */
class WarmStartRefreshSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  /** Full plain-Scala replay of the s15 pipeline over raw embeddings:
    * archive-train the stale index (s13's recipe), assign the FULL
    * corpus, one floored-integer-mean warm-start update (empty cells
    * keep their stale centroid), re-assign, report per cell. */
  private def replay(e: Seq[(Long, Array[Double])]): Seq[(Int, Long, Long, Long, Long, Long)] = {
    def qv(v: Array[Double]): Array[Double] = v.map(x => math.floor(x * 64))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def dist(v: Array[Double], c: Array[Double]): Double =
      dot(v, v) - 2 * dot(v, c) + dot(c, c)
    def argmin(v: Array[Double], cents: Seq[(Int, Array[Double])]): (Int, Double) =
      cents.map { case (lid, c) => (lid, dist(v, c)) }
        .minBy { case (lid, d) => (d, lid) }
    def meanUpdate(assigned: Seq[(Int, Array[Double])]): Map[Int, Array[Double]] =
      assigned.groupBy(_._1).map { case (lid, ms) =>
        val dims = ms.head._2.length
        lid -> (0 until dims).map { d =>
          math.floor(ms.map(_._2(d)).sum / ms.size)
        }.toArray
      }
    val q = e.map { case (id, v) => (id, qv(v)) }
    // stale index: archive-only seeds + one update (s13's training)
    val archive = q.filter(_._1 % 10 != 7)
    val seeds = archive.filter(_._1 <= 10).map { case (id, v) => (id.toInt, v) }
    val stale = meanUpdate(archive.map { case (_, v) => (argmin(v, seeds)._1, v) })
      .toSeq.sortBy(_._1)
    // full-corpus assignment under the stale index
    val m = q.map { case (id, v) => val (lid, d) = argmin(v, stale); (id, lid, d, v) }
    // warm-start update; empty cells keep the stale centroid
    val upd = meanUpdate(m.map { case (_, lid, _, v) => (lid, v) })
    val refreshed = stale.map { case (lid, c) => (lid, upd.getOrElse(lid, c)) }
    val m2 = q.map { case (id, v) => val (lid, d) = argmin(v, refreshed); (id, lid, d) }
    val bef = m.groupBy(_._2).map { case (lid, ms) =>
      lid -> (ms.size.toLong, ms.map(_._3).sum.toLong) }
    val aft = m2.groupBy(_._2).map { case (lid, ms) =>
      lid -> (ms.size.toLong, ms.map(_._3).sum.toLong) }
    stale.map { case (lid, cOld) =>
      val cNew = refreshed.find(_._1 == lid).get._2
      val disp = cOld.zip(cNew).map { case (a, b) => (a - b) * (a - b) }.sum.toLong
      val (nb, db) = bef.getOrElse(lid, (0L, 0L))
      val (na, da) = aft.getOrElse(lid, (0L, 0L))
      (lid, nb, na, disp, db, da)
    }.sortBy(_._1)
  }

  private def run(dir: String): Seq[(Int, Long, Long, Long, Long, Long)] =
    Similarity.s15WarmStartRefresh.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("s15 per-cell report matches the plain-Scala integer replay (sf0.001)") {
    val dir = sf()
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    assert(e.size >= 50, s"fixture too small: ${e.size}")
    val got = run(dir)
    val want = replay(e)
    assert(got == want, s"\n got=$got\nwant=$want")
    // conservation: every vector lands in exactly one cell, both passes
    assert(got.map(_._2).sum == e.size.toLong)
    assert(got.map(_._3).sum == e.size.toLong)
  }

  test("a planted drifted incoming slice pulls the refresh measurably") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s15-refresh").toString
    // archive (ids 0..19 minus 7, 17): tight around +e0; incoming
    // (ids 7, 17): the same direction scaled 4x — the stale index never
    // saw the drift, so the warm-start update must MOVE the receiving
    // centroid toward it (disp > 0) and the refreshed index must fit
    // the full corpus strictly better (total d_after < d_before).
    val rows = (0L until 20L).map { id =>
      val base = Array.fill(64)(0.0f)
      base(0) = if (id % 10 == 7) 4.0f else 1.0f
      base(1) = (id % 5).toFloat * 0.01f
      (id, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = run(dir)
    val e = rows.map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    assert(got == replay(e), "planted corpus must match the replay too")
    assert(got.exists(_._4 > 0L), s"no centroid moved under planted drift: $got")
    assert(got.map(_._6).sum < got.map(_._5).sum,
      s"refresh did not reduce total distance mass: $got")
  }
}
