package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The shared dup graph and BPE trainer read a corpus rewritten in
  * place afresh: both derivations key on `documents.parquet`'s file
  * stamp, so a rewrite in the same dir — with no `Derivations.clear()`
  * in between — is a miss, never the graph or merge table of the old
  * file. */
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

  private def rows(dir: String): Map[String, Seq[String]] =
    queries.map(q => q -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq).toMap

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
}
