package graft.queries

import graft.SparkSpec

/** s14 invariants — the SemDedupRecountSpec discipline applied to the PQ
  * codebook staleness audit: Spark, the DuckDB oracle, and a
  * third plain-Scala integer replay must all agree, plus conservation
  * and a planted subspace-scoped drift the statistic exists to catch. */
class PqStalenessSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  private val PqM = 8; private val PqD = 8; private val PqK = 16

  /** Full plain-Scala replay of the s14 pipeline over raw embeddings. */
  private def replay(e: Seq[(Long, Array[Double])]): Seq[(Int, Long, Long, Long, Long, Long)] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def dist(v: Array[Double], c: Array[Double]): Double =
      dot(v, v) - 2 * dot(v, c) + dot(c, c)
    // quantize + subvector explode
    val sub = for {
      (id, v) <- e
      m <- 0 until PqM
    } yield (id, m, v.map(x => math.floor(x * 64)).slice(m * PqD, m * PqD + PqD))
    val asub = sub.filter(_._1 % 10 != 7)
    // archive seeds, one floored-integer-mean k-means step per subspace
    val seeds = asub.filter(_._1 < PqK)
      .map { case (id, m, sv) => (m, id.toInt, sv) }
    def argmin(m: Int, sv: Array[Double],
        cents: Seq[(Int, Int, Array[Double])]): (Int, Double) =
      cents.collect { case (cm, code, c) if cm == m => (code, dist(sv, c)) }
        .minBy { case (code, d) => (d, code) }
    val a0 = asub.map { case (id, m, sv) => (m, argmin(m, sv, seeds)._1, sv) }
    val cents1 = a0.groupBy(t => (t._1, t._2)).toSeq.map { case ((m, code), ms) =>
      val c = (0 until PqD).map { d =>
        math.floor(ms.map(_._3(d)).sum / ms.size)
      }.toArray
      (m, code, c)
    }
    // all vectors assign one-sided against the trained codebooks
    val best = sub.map { case (id, m, sv) => (id, m, argmin(m, sv, cents1)._2) }
    best.groupBy(_._2).toSeq.map { case (m, ms) =>
      val (arch, inc) = ms.partition(_._1 % 10 != 7)
      val (na, ni) = (arch.size.toLong, inc.size.toLong)
      val (ea, ei) = (arch.map(_._3).sum.toLong, inc.map(_._3).sum.toLong)
      (m, na, ni, ea, ei, ei * na - ea * ni)
    }.sortBy(_._1)
  }

  private def run(dir: String): Seq[(Int, Long, Long, Long, Long, Long)] =
    Similarity.s14PqStaleness.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("s14 per-subspace report matches the plain-Scala integer replay (sf0.001)") {
    val dir = sf()
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    assert(e.size >= 50, s"fixture too small: ${e.size}")
    val got = run(dir)
    val want = replay(e)
    assert(got == want, s"\n got=$got\nwant=$want")
    // conservation: every vector contributes to every subspace exactly once
    assert(got.size == PqM)
    got.foreach { row =>
      assert(row._2 == e.count(_._1 % 10 != 7).toLong, s"n_arch off: $row")
      assert(row._3 == e.count(_._1 % 10 == 7).toLong, s"n_inc off: $row")
    }
  }

  test("a planted single-subspace drift is flagged in THAT subspace only") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("s14-stale").toString
    // archive: vectors tight around 1.0 in every dim; incoming (ids
    // % 10 == 7): dims 8..15 (subspace m=1) scaled 5x — the encoder
    // drifted in ONE subspace, the others stay in-distribution
    val rows = (0L until 40L).map { id =>
      val v = Array.fill(64)(1.0f)
      if (id % 10 == 7) (8 until 16).foreach(d => v(d) = 5.0f)
      v(0) = 1.0f + (id % 5).toFloat * 0.01f // tiny deterministic spread
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = run(dir)
    val byM = got.map(r => r._1 -> r._6).toMap
    assert(byM(1) > 0L, s"planted subspace-1 drift not flagged: $got")
    assert(byM.filter(_._1 != 1).values.forall(v => v <= byM(1)),
      s"drifted subspace is not the maximum shift: $got")
    // the clean subspaces (2..7, identical constant dims) carry zero error
    // on both sides — their shift is exactly 0
    (2 until 8).foreach { m =>
      assert(byM(m) == 0L, s"clean subspace $m shifted: $got")
    }
  }
}
