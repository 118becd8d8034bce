package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** Live/batch parity for the IVF staleness monitor — s13's streaming
  * twin joins the parity family (T10↔a8, T10b↔a9, T12↔a10, T13↔a13,
  * T14↔d3/d14, T15↔q21, T6↔q15): replaying the REAL incoming slice
  * (vec_id % 10 = 7) through [[LiveIndexStaleness.monitor]] against the
  * batch-trained index must reproduce the oracle-checked
  * `s13_index_staleness` report EXACTLY — per-cell counters first (the
  * state), then every cross-multiplied shift through
  * [[LiveIndexStaleness.reportOf]].  Replay is CHUNKED so the sums must
  * fold across batches, and the restart test proves the counters
  * survive a checkpoint recovery (integer sums are commutative, so like
  * the funnel's min-fold no watermark is involved — exactly-once is the
  * state store's job, which is what the restart exercises). */
class IndexStalenessParitySpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    graft.queries.Derivations.clear()
    super.afterAll()
  }

  private def batchRows(dir: String): Seq[(Int, Long, Long, Long, Long, Long, Long)] =
    graft.SparkEntry.queries("s13_index_staleness")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
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
    LiveIndexStaleness.reportOf(updates, archiveStats)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq

  test("replayed incoming slice == batch s13 report, per cell and shift (sf0.001)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = sf()
    val index = graft.queries.Similarity.s13IndexArray(spark, dir)
    val archiveStats = graft.queries.Similarity.s13ArchiveCellStats(spark, dir)
    val vecs = incoming(dir)
    assert(vecs.size >= 5, s"fixture too small: ${vecs.size} incoming vectors")

    val input = MemoryStream[LiveIndexStaleness.VEv]
    val q = LiveIndexStaleness.monitor(input.toDS(), index)
      .writeStream.format("memory").queryName("staleness_parity")
      .outputMode(OutputMode.Append).start()
    try {
      // chunked replay: per-cell sums must FOLD across batches
      vecs.grouped(vecs.size / 3 + 1).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
      val live = reportRows(spark.table("staleness_parity").toDF(), archiveStats)
      val batch = batchRows(dir)
      assert(batch.nonEmpty, "degenerate fixture: batch report empty")
      assert(live == batch,
        s"report divergence:\n live=$live\n batch=$batch")
    } finally q.stop()
  }

  test("counters survive a checkpointed restart; post-recovery vectors fold in") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val dir = sf()
    val index = graft.queries.Similarity.s13IndexArray(spark, dir)
    val archiveStats = graft.queries.Similarity.s13ArchiveCellStats(spark, dir)
    val vecs = incoming(dir)
    val (first, second) = vecs.splitAt(vecs.size / 2)

    val d = restartDirs("staleness")
    def writeChunk(name: String, chunk: Seq[LiveIndexStaleness.VEv]): Unit =
      d.writeBatch(name, chunk.map(v =>
        s"""{"vec_id": ${v.vec_id}, "emb": [${v.emb.mkString(",")}]}"""))
    def start() = {
      val vectors = spark.readStream
        .schema("vec_id LONG, emb ARRAY<DOUBLE>")
        .json(d.in).as[LiveIndexStaleness.VEv]
      LiveIndexStaleness.monitor(vectors, index)
        .writeStream.format("json")
        .option("path", d.out).option("checkpointLocation", d.cp)
        .outputMode(OutputMode.Append).start()
    }
    writeChunk("b1.json", first)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    writeChunk("b2.json", second)
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val updates = spark.read
      .schema("list_id INT, rev LONG, n_inc LONG, d_inc LONG")
      .json(d.out)
    val live = reportRows(updates, archiveStats)
    val batch = batchRows(dir)
    assert(live == batch,
      s"restart divergence:\n live=$live\n batch=$batch")
    // the rev chain advanced across the restart for any cell hit twice
    val revs = updates.groupBy(col("list_id"))
      .agg(org.apache.spark.sql.functions.max(col("rev")).as("r"))
      .collect().map(_.getLong(1))
    assert(revs.exists(_ >= 2L),
      "no cell recorded a post-recovery fold — fixture degenerate")
  }

  test("assign: exact arithmetic ties break to the lowest list_id; null embs are skipped") {
    // two centroids equidistant from the probe by construction
    val index = Array(
      (7, Array.fill(64)(0.0).updated(0, 2.0), 4.0),
      (3, Array.fill(64)(0.0).updated(0, -2.0), 4.0))
    val probe = Array.fill(64)(0.0) // dist to both: 0 - 0 + 4 = 4
    assert(LiveIndexStaleness.assign(probe, index) == ((3, 4L)),
      "tie must go to the lowest list_id (the batch min_by order)")

    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[LiveIndexStaleness.VEv]
    val q = LiveIndexStaleness.monitor(input.toDS(), index)
      .writeStream.format("memory").queryName("staleness_null")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        LiveIndexStaleness.VEv(1L, null),
        LiveIndexStaleness.VEv(2L, Array.empty[Double]),
        LiveIndexStaleness.VEv(3L, probe))
      q.processAllAvailable()
      val got = spark.table("staleness_null")
        .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
      assert(got == Seq((3, 1L)),
        s"null/empty embeddings must fold nothing: $got")
    } finally q.stop()
  }
}
