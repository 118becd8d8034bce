package graft.queries

import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Synopsis-size sweep for the d17 cross-source overlap sketch: measures
  * the estimator's per-source distinct-count and pairwise shared-count
  * error against the EXACT d16-style matrix, per k — the number a
  * deployment reads before sizing the sketch (standard error ~1/√k; the
  * sweep shows where that lands on the real corpus).  The resulting
  * table lives in SCALING.md beside the d17 entry.
  *
  * Usage: `runMain graft.queries.OverlapSweep [sfDir]` — prints one line
  * per k.
  */
object OverlapSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session("4")
    graft.sentiment.GraftFunctions.register(spark)

    // exact ground truth: per-source distinct shingle counts + pairwise
    // shared counts (d16's arithmetic, keyed for the join below)
    val ssh = TextOps.shingles(spark, dir)
      .select(col("source"), col("shingle")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = ssh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val shExact = ssh.select(col("source").as("src_a"), col("shingle"))
      .join(ssh.select(col("source").as("src_b"), col("shingle")), "shingle")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    for (k <- Seq(64, 128, 256, 512, 1024)) {
      val sk = TextOps.shingles(spark, dir)
        .select(col("source"), call_function("graft_charfold", col("shingle")).as("h"))
        .groupBy(col("source"))
        .agg(call_function("graft_kmv_mins",
          col("h"), lit(k), lit(graft.functions.CharFoldKernel.Prime)).as("mins"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = TextOps.overlapFromSketches(sk, k)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      val perSrcErr = rows.flatMap { case (a, b, ea, eb, _) =>
        Seq(math.abs(ea - nExact(a)).toDouble / nExact(a),
          math.abs(eb - nExact(b)).toDouble / nExact(b))
      }
      val shErr = rows.map { case (a, b, _, _, es) =>
        val ex = shExact.getOrElse((a, b), 0L)
        math.abs(es - ex).toDouble / math.max(ex, 1L)
      }
      println(f"[sweep] k=$k%4d  per-source rel err mean=${perSrcErr.sum / perSrcErr.size}%.4f " +
        f"max=${perSrcErr.max}%.4f  shared rel err mean=${shErr.sum / shErr.size}%.4f " +
        f"max=${shErr.max}%.4f  (${rows.length} pairs)")
      sk.unpersist(blocking = false)
    }
    ssh.unpersist(blocking = false)
    spark.stop()
  }
}
