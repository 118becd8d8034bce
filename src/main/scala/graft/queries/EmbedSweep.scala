package graft.queries

import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Knob sweep for the bucketed embedding pair source (round-10 verdict
  * #5): measures recall_bp (vs the exact ≥ 0.4 kernel) and CANDIDATE
  * volume — the cost driver — for probe ∈ {2, 3}, k-means update steps
  * ∈ {1, 2}, and the runner-up boundary gate ∈ {15, 25, 40}%, on BOTH
  * the driver corpus (near-isotropic — the regime that keeps `exact`
  * the default) and the planted-cluster fixture (the regime the
  * bucketed tier exists for).  The resulting frontier lives in
  * SCALING.md beside the growth-exponent table; the compile-time
  * defaults ([[Similarity.bucketedEmbeddingPairsOf]]) cite it.
  *
  * Usage: `runMain graft.queries.EmbedSweep [sfDir]` — prints one line
  * per (corpus, config).
  */
object EmbedSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Harness.session("4")
    graft.sentiment.GraftFunctions.register(spark)
    import spark.implicits._

    def driverCorpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .as[(Long, Array[Double], Double)]

    // deterministic planted clusters (the EmbedPairSourceSpec fixture
    // arithmetic): 20 clusters of 50 on ±axis poles with splitmix noise
    def mix(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 27; h *= 0x94D049BB133111EBL
      h ^ (h >>> 31)
    }
    def plantedCorpus = spark.createDataset((0L until 1000L).map { id =>
      val cluster = (id / 50).toInt
      val axis = cluster / 2
      val sign = if (cluster % 2 == 0) 1.0 else -1.0
      val emb = new Array[Double](64)
      emb(axis) = sign
      var i = 0
      while (i < 64) {
        emb(i) += 0.005 * (mix((id << 8) | i).toDouble / Long.MaxValue)
        i += 1
      }
      (id, emb, math.sqrt(emb.map(x => x * x).sum))
    })

    def sweep(label: String,
        corpus: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
        cells: Int, seedStride: Long): Unit = {
      val exact = Similarity.embeddingPairsOf(spark, corpus)
        .select(col("vec_a"), col("vec_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nExact = exact.count()
      // the round-11 grid, plus the round-12 "residual-aware" arm: probe
      // UNCAPPED (= cells) with the boundary gate doing all the work —
      // a vector probes every cell within `boundary`% of its best, the
      // margin-ordered policy the round-11 verdict asked to measure
      val grid =
        (for { p <- Seq(2, 3); st <- Seq(1, 2); b <- Seq(15, 25, 40) }
          yield (p, st, b)) ++
        Seq(40, 60, 100, 200).map(b => (cells, 1, b))
      for ((probe, steps, boundaryPct) <- grid) {
        val (cand, _) = Similarity.bucketedEmbeddingCandidatesOf(
          spark, corpus, cells, probe, seedStride, steps, boundaryPct)
        val candP = cand.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nCand = candP.count()
        val verified = Similarity.bucketedEmbeddingPairsOf(
          spark, corpus, cells, probe, seedStride, steps, boundaryPct)
          .select(col("vec_a"), col("vec_b"))
        val hits = verified.join(exact, Seq("vec_a", "vec_b")).count()
        val recallBp = if (nExact == 0) 10000L else hits * 10000 / nExact
        println(f"[sweep] corpus=$label%-8s probe=$probe steps=$steps " +
          f"boundary=$boundaryPct%2d%%  n_exact=$nExact%5d  candidates=$nCand%7d  " +
          f"hits=$hits%5d  recall_bp=$recallBp%5d")
        candP.unpersist(blocking = false)
        Derivations.clear()
      }
      exact.unpersist(blocking = false)
    }

    sweep("driver", driverCorpus, cells = 10, seedStride = 1L)
    sweep("planted", plantedCorpus, cells = 20, seedStride = 50L)
    spark.stop()
  }
}
