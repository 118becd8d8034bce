package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Shared derivations read a table rewritten in place afresh, with no
  * `Derivations.clear()` in between.  The dup graph and the BPE trainer
  * hold state outside Spark's cache (lineage cuts, a driver-side merge
  * table), so they key on `documents.parquet`'s file stamp.  A table
  * replaced by another writer than this session's refreshes its cached
  * plans at the next `Tables.load`, so the persisted embedding and DSIR
  * derivations do not hand back the old file's models and counts. */
class CorpusRewriteSpec extends SparkSpec {

  private val queries = Seq("d6_dup_clusters", "t20_bpe_train")

  /** Every doc id is a multiple of 20, so t20's 5% sample keeps them all. */
  private def writeCorpus(dir: String, texts: Seq[(Long, String)]): Unit = {
    val s = spark
    import s.implicits._
    texts.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def rows(dir: String, qs: Seq[String] = queries): Map[String, Seq[String]] =
    qs.map(q => q -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq).toMap

  test("d6 and t20 return a rewritten corpus's rows without clear()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    val x = "the quick brown fox jumps over the lazy dog near the river bank"
    val y = "an old grey cat sleeps under the warm kitchen table every single day"
    val z = "rain falls on the quiet town while the bells ring out at noon again"
    val w = "seven small boats drift past the harbour wall as the tide turns slowly"
    try {
      Derivations.clear()
      // dup pairs {0, 20} and {40, 60}
      writeCorpus(dir, Seq(0L -> x, 20L -> x, 40L -> y, 60L -> y))
      val before = rows(dir)
      // same dir, other words and other pairs: {0, 40} and {20, 60}
      writeCorpus(dir, Seq(0L -> z, 20L -> w, 40L -> z, 60L -> w))
      val after = rows(dir)
      Derivations.clear()
      val fresh = rows(dir)
      assert(fresh("d6_dup_clusters").size == 4, fresh)
      queries.foreach { q =>
        assert(fresh(q) != before(q), s"$q: the fixture rewrite changed nothing")
        assert(after(q) == fresh(q), s"$q returned the old corpus's rows after a rewrite: " +
          s"${after(q)} vs ${fresh(q)}")
      }
    } finally Derivations.clear()
  }

  test("s13 and c12 return the rows of tables replaced outside the session, without clear()") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite-emb").toString
    val qs = Seq("s13_index_staleness", "c12_selector_staleness")
    // each table as sf0.001 holds it, then without every third row; the
    // new files are written elsewhere and moved into place, as another
    // process's writer would, so Spark's own overwrite refresh never runs
    def replace(keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      Seq("embeddings" -> "vec_id", "documents" -> "doc_id").foreach { case (t, id) =>
        val staged = java.nio.file.Files.createTempDirectory("graft-rewrite-stage").resolve(t)
        spark.read.parquet(s"${sf()}/$t.parquet").filter(keep(org.apache.spark.sql.functions.col(id)))
          .write.parquet(staged.toString)
        val target = new java.io.File(s"$dir/$t.parquet")
        org.apache.commons.io.FileUtils.deleteDirectory(target)
        java.nio.file.Files.move(staged, target.toPath)
      }
    try {
      Derivations.clear()
      replace(_ >= 0)
      val before = rows(dir, qs)
      replace(_ % 3 =!= 0)
      val after = rows(dir, qs)
      Derivations.clear()
      val fresh = rows(dir, qs)
      qs.foreach { q =>
        assert(fresh(q) != before(q), s"$q: the fixture rewrite changed nothing")
        assert(after(q) == fresh(q), s"$q returned the old table's rows after a rewrite: " +
          s"${after(q)} vs ${fresh(q)}")
      }
    } finally Derivations.clear()
  }
}
