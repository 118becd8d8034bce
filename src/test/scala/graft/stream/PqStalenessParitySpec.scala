package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** Live/batch parity for the PQ codebook-staleness monitor — s14's
  * streaming twin ([[IndexStalenessParitySpec]]'s discipline at the
  * fine level): replaying the REAL incoming slice through
  * [[LivePqStaleness.monitor]] against the batch-trained codebooks must
  * reproduce the oracle-checked `s14_pq_staleness` report EXACTLY,
  * chunked replay and checkpointed restart included. */
class PqStalenessParitySpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    graft.queries.Derivations.clear()
    super.afterAll()
  }

  private def batchRows(dir: String): Seq[(Int, Long, Long, Long, Long, Long)] =
    graft.SparkEntry.queries("s14_pq_staleness")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq

  private def incoming(dir: String): Seq[LiveIndexStaleness.VEv] =
    graft.tables.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect()
      .map(r => LiveIndexStaleness.VEv(r.getLong(0), r.getSeq[Double](1).toArray))
      .toSeq

  private def reportRows(updates: org.apache.spark.sql.DataFrame,
      archiveStats: org.apache.spark.sql.DataFrame) =
    LivePqStaleness.reportOf(updates, archiveStats)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq

  test("replayed incoming slice == batch s14 report, per subspace (sf0.001)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = sf()
    val codebooks = graft.queries.Similarity.s14CodebookArray(spark, dir)
    val archiveStats = graft.queries.Similarity.s14ArchiveSubspaceStats(spark, dir)
    val vecs = incoming(dir)
    assert(vecs.size >= 5, s"fixture too small: ${vecs.size}")

    val input = MemoryStream[LiveIndexStaleness.VEv]
    val q = LivePqStaleness.monitor(input.toDS(), codebooks)
      .writeStream.format("memory").queryName("pq_parity")
      .outputMode(OutputMode.Append).start()
    try {
      vecs.grouped(vecs.size / 3 + 1).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
      val live = reportRows(spark.table("pq_parity").toDF(), archiveStats)
      val batch = batchRows(dir)
      assert(batch.nonEmpty, "degenerate fixture: batch report empty")
      assert(live == batch, s"report divergence:\n live=$live\n batch=$batch")
    } finally q.stop()
  }

  test("counters survive a checkpointed restart (fine level)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = sf()
    val codebooks = graft.queries.Similarity.s14CodebookArray(spark, dir)
    val archiveStats = graft.queries.Similarity.s14ArchiveSubspaceStats(spark, dir)
    val vecs = incoming(dir)
    val (first, second) = vecs.splitAt(vecs.size / 2)

    val d = restartDirs("pqstale")
    def writeChunk(name: String, chunk: Seq[LiveIndexStaleness.VEv]): Unit =
      d.writeBatch(name, chunk.map(v =>
        s"""{"vec_id": ${v.vec_id}, "emb": [${v.emb.mkString(",")}]}"""))
    def start() = {
      val vectors = spark.readStream
        .schema("vec_id LONG, emb ARRAY<DOUBLE>")
        .json(d.in).as[LiveIndexStaleness.VEv]
      LivePqStaleness.monitor(vectors, codebooks)
        .writeStream.format("json")
        .option("path", d.out).option("checkpointLocation", d.cp)
        .outputMode(OutputMode.Append).start()
    }
    writeChunk("b1.json", first)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    writeChunk("b2.json", second)
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val updates = spark.read
      .schema("m INT, rev LONG, n_inc LONG, err_inc LONG")
      .json(d.out)
    val live = reportRows(updates, archiveStats)
    val batch = batchRows(dir)
    assert(live == batch, s"restart divergence:\n live=$live\n batch=$batch")
    // every subspace saw both chunks: the rev chain advanced
    val revs = updates.groupBy(col("m"))
      .agg(org.apache.spark.sql.functions.max(col("rev")).as("r"))
      .collect().map(_.getLong(1))
    assert(revs.forall(_ >= 2L),
      "a subspace missed the post-recovery fold — fixture degenerate")
  }
}
