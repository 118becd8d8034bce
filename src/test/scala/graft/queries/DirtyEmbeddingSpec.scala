package graft.queries

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The embedding family's null policy ([[Quantizer.guarded]]): a vector
  * that is null, holds a null element or is not 64 long fails the
  * action with its `vec_id` in the message.  The quantized kernels
  * return null for such a vector, so without the guard the assignment's
  * null filter (and s16's `nrm > 0` filter) dropped it silently and the
  * query answered over a smaller corpus than it was given.
  *
  * Each dirty corpus is the sf0.001 `embeddings` table with ONE vector
  * (vec_id 123, not a seed of any tier) replaced, written back as
  * parquet (`embedding array<float>`) so the null element survives the
  * round trip the way a real file would carry it.  The entry points are
  * s4 and d11 (read through `Tables.embeddings`) and the bucketed and
  * radius pair tiers (fed a `(vec_id, emb, nrm)` Dataset).  The clean
  * corpus pins each entry point's rows, so the guard provably changes
  * nothing on clean data. */
class DirtyEmbeddingSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Derivations.clear()
    super.afterAll()
  }

  private val DirtyId = 123L

  private lazy val root: java.nio.file.Path = {
    val path = java.nio.file.Files.createTempDirectory("graft-dirty-emb")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(path))
        Files.walk(path).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p): Unit)
    }))
    path
  }

  /** A dataset dir whose `embeddings` carry `dirty` as vec_id 123's vector. */
  private def dirWith(name: String, dirty: Column): String = {
    val dir = root.resolve(name).toString
    Tables.embeddings(spark, sf())
      .withColumn("embedding",
        when(col("vec_id") === DirtyId, dirty).otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val dirtyCases: Seq[(String, Column)] = Seq(
    "null vector" -> lit(null).cast("array<float>"),
    "null element" -> transform(col("embedding"),
      (x, i) => when(i === 5, lit(null).cast("float")).otherwise(x)),
    "63-long vector" -> slice(col("embedding"), 1, 63))

  private lazy val dirtyDirs: Map[String, String] = dirtyCases.map {
    case (what, dirty) => what -> dirWith(what.replace(' ', '-'), dirty)
  }.toMap

  private def corpus(dir: String) = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", Similarity.norm(col("emb")))
      .as[(Long, Array[Double], Double)]
  }

  private val entryPoints: Seq[(String, String => DataFrame)] = Seq(
    "s4" -> (dir => Similarity.s4AnnIvf.fn(spark, dir)),
    "d11" -> (dir => Similarity.d11SemanticDedup.fn(spark, dir)),
    "bucketed" -> (dir => Similarity.bucketedEmbeddingPairsOf(spark, corpus(dir))),
    "radius" -> (dir => Similarity.radiusCompleteEmbeddingPairsOf(spark, corpus(dir),
      Similarity.EmbedPairTauBp)))

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .flatMap(e => Option(e.getMessage)).toSeq

  for ((entry, run) <- entryPoints; (what, _) <- dirtyCases) {
    test(s"$entry fails naming the vec_id of a $what") {
      val e = intercept[Exception](run(dirtyDirs(what)).collect())
      assert(messages(e).exists(_.contains(s"dirty embedding at vec_id $DirtyId:")),
        s"$entry on a $what: wrong failure\n${messages(e).mkString("\n")}")
      Derivations.clear()
    }
  }

  /** (row count, SHA-256 prefix of the sorted rows) of each entry point
    * on the clean sf0.001 corpus, as the code before the guard returned
    * them. */
  private val cleanFingerprints = Map(
    "s4" -> (25L, "785f0fc22c857b2f"),
    "d11" -> (500L, "66ad3295adebafa3"),
    "bucketed" -> (63L, "defd1bd801c9c0dd"),
    "radius" -> (66L, "6ccf69d52ede6834"))

  private def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
    (rows.length.toLong, digest.take(8).map(b => f"$b%02x").mkString)
  }

  test("a clean corpus returns the same rows as before the guard") {
    val got = entryPoints.map { case (entry, run) =>
      val fp = fingerprint(run(sf()))
      Derivations.clear()
      entry -> fp
    }.toMap
    assert(got.values.forall(_._1 > 0), s"an entry point returned no rows: $got")
    assert(got == cleanFingerprints)
  }
}
