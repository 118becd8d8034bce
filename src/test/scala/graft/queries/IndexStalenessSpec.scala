package graft.queries

import graft.SparkSpec

/** s13's integer pipeline pinned against a plain-Scala third
  * implementation (the SemDedupRecountSpec discipline: Spark, DuckDB
  * oracle, and this replay must all agree), plus conservation and a
  * planted geometry shift the statistic exists to catch. */
class IndexStalenessSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // builders in this suite register persisted intermediates via
  // Derivations.persist — reclaim them so a full-suite run over a
  // shared session doesn't accumulate cache entries (round-10 ADVICE)
  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }


  /** Full plain-Scala replay of the s13 pipeline over raw embeddings. */
  private def replay(e: Seq[(Long, Array[Double])]): Seq[(Int, Long, Long, Long, Long, Long, Long)] = {
    def qv(v: Array[Double]): Array[Double] = v.map(x => math.floor(x * 64))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val q = e.map { case (id, v) => (id, qv(v)) }
    def dist(v: Array[Double], c: Array[Double]): Double =
      dot(v, v) - 2 * dot(v, c) + dot(c, c)
    val archive = q.filter(_._1 % 10 != 7)
    val seeds = archive.filter(_._1 <= 10).map { case (id, v) => (id.toInt, v) }
    def argmin(v: Array[Double], cents: Seq[(Int, Array[Double])]): (Int, Double) =
      cents.map { case (lid, c) => (lid, dist(v, c)) }
        .minBy { case (lid, d) => (d, lid) }
    val a0 = archive.map { case (id, v) => (argmin(v, seeds)._1, v) }
    val cents = a0.groupBy(_._1).toSeq.map { case (lid, ms) =>
      val dims = ms.head._2.length
      val c = (0 until dims).map { d =>
        math.floor(ms.map(_._2(d)).sum / ms.size)
      }.toArray
      (lid, c)
    }
    val m = q.map { case (id, v) => val (lid, d) = argmin(v, cents); (id, lid, d) }
    val per = m.groupBy(_._2).toSeq.map { case (lid, ms) =>
      val (arch, inc) = ms.partition(_._1 % 10 != 7)
      (lid, arch.size.toLong, inc.size.toLong,
        arch.map(_._3).sum.toLong, inc.map(_._3).sum.toLong)
    }
    val tArch = per.map(_._2).sum
    val tInc = per.map(_._3).sum
    per.map { case (lid, na, ni, da, di) =>
      (lid, na, ni, da, di, ni * tArch - na * tInc, di * na - da * ni)
    }.sortBy(_._1)
  }

  private def run(dir: String): Seq[(Int, Long, Long, Long, Long, Long, Long)] =
    Similarity.s13IndexStaleness.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq

  test("s13 per-cell report matches the plain-Scala integer replay (sf0.001)") {
    val dir = sf()
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    assert(e.size >= 50, s"fixture too small: ${e.size}")
    val got = run(dir)
    val want = replay(e)
    assert(got == want, s"\n got=$got\nwant=$want")
    // conservation: every vector lands in exactly one cell
    assert(got.map(_._2).sum == e.count(_._1 % 10 != 7).toLong)
    assert(got.map(_._3).sum == e.count(_._1 % 10 == 7).toLong)
  }

  test("a planted far-from-index incoming slice shows a positive distance shift") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s13-stale").toString
    // archive: 18 vectors tight around +e0 (ids 0..19 minus 7, 17);
    // incoming (ids 7, 17): the SAME direction scaled 4x — the encoder
    // drifted in magnitude, every incoming vector sits far from the
    // archive-trained centroid
    val rows = (0L until 20L).map { id =>
      val base = Array.fill(64)(0.0f)
      base(0) = if (id % 10 == 7) 4.0f else 1.0f
      base(1) = (id % 5).toFloat * 0.01f // tiny deterministic spread
      (id, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = run(dir)
    val withInc = got.filter(_._3 > 0)
    assert(withInc.nonEmpty, s"no cell received the incoming slice: $got")
    withInc.foreach { row =>
      assert(row._7 > 0L, s"planted drift not flagged (dist_shift_x <= 0): $row")
    }
  }
}
