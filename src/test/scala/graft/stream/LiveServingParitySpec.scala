package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** Live/batch parity for serving through the executed index — s18's
  * streaming twin joins the parity family: streaming the REAL query
  * vectors (vec_id < 5) through [[LiveServing.serve]] against the
  * exported serving index and its posting lists must reproduce the
  * oracle-checked `s18_refreshed_serving` rows EXACTLY — ranks, round-4
  * cosines and verdict included.  Replay is CHUNKED (queries split
  * across batches) and one query is RE-SENT after its answer is
  * complete: the top-k fold must be idempotent under re-delivery
  * (same answer, later rev). */
class LiveServingParitySpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    graft.queries.Derivations.clear()
    super.afterAll()
  }

  private type Row5 = (Long, Int, Long, Double, String)

  private def batchRows(dir: String): Seq[Row5] =
    graft.SparkEntry.queries("s18_refreshed_serving")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))
      .toSeq

  test("streamed queries == batch s18 rows, chunked replay + re-sent query (sf0.001)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = sf()
    val (verdict, index) = graft.queries.Similarity.servingIndexExport(spark, dir)
    assert(index.nonEmpty)
    val postings = LiveServing.postingsOf(
      graft.tables.Tables.embeddings(spark, dir), index)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = graft.tables.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect()
      // these queries ARE corpus vectors, so each excludes itself —
      // the batch s18 convention (a synthetic request id would leave
      // the default -1 and legitimately receive any vector)
      .map(r => LiveServing.QEv(r.getLong(0), r.getSeq[Double](1).toArray,
        exclude_id = r.getLong(0)))
      .toSeq
    assert(qs.size == 5, s"fixture too small: ${qs.size} query vectors")

    val input = MemoryStream[LiveServing.QEv]
    val q = LiveServing.serve(input.toDS(), index, postings)
      .writeStream.format("memory").queryName("live_serving_parity")
      .outputMode(OutputMode.Append).start()
    try {
      // chunked: queries answer in the batch they arrive (static corpus)
      input.addData(qs.take(2): _*)
      q.processAllAvailable()
      input.addData(qs.drop(2): _*)
      q.processAllAvailable()
      // idempotence under re-delivery: same answer, later rev
      input.addData(qs.head)
      q.processAllAvailable()

      val updates = spark.table("live_serving_parity").toDF()
      val live = LiveServing.reportOf(updates, verdict)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
          r.getString(4)))
        .toSeq
      val batch = batchRows(dir)
      assert(batch.nonEmpty, "degenerate fixture: batch s18 empty")
      assert(live == batch,
        s"serving divergence:\n live=${live.take(6)}\n batch=${batch.take(6)}")

      val revs = updates.filter(col("q_id") === qs.head.q_id)
        .select("rev").collect().map(_.getLong(0)).toSeq.sorted
      assert(revs == Seq(1L, 2L),
        s"re-sent query must bump rev without changing the answer, got revs=$revs")
    } finally q.stop()

    // TTL eviction: with an immediately-eligible TTL, an answered
    // query's state is REMOVED once a later (paced, data-less) batch
    // fires the timeout — re-sending it then recomputes the same answer
    // on a FRESH rev chain (rev 1 again, not a continuation), proving
    // one-shot requests don't accumulate state forever.  The trigger is
    // PACED, and the test POLLS the sink instead of processAllAvailable:
    // a ProcessingTimeTimeout stream always constructs another batch
    // (FlatMapGroupsWithStateExec.shouldRunAnotherBatch), so noNewData
    // never latches and processAllAvailable never returns on it.
    def await(what: String)(pred: => Boolean): Unit = {
      val t0 = System.currentTimeMillis
      while (!pred && System.currentTimeMillis - t0 < 90000L) Thread.sleep(100)
      assert(pred, s"timed out waiting for $what")
    }
    val input2 = MemoryStream[LiveServing.QEv]
    val q2 = LiveServing.serve(input2.toDS(), index, postings, stateTtlMs = 1L)
      .writeStream.format("memory").queryName("live_serving_ttl")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .outputMode(OutputMode.Append).start()
    try {
      input2.addData(qs.head)
      await("the first answer")(
        spark.table("live_serving_ttl").count() >= 1)
      await("the TTL eviction")(
        q2.recentProgress.exists(_.stateOperators.exists(_.numRowsRemoved > 0)))
      input2.addData(qs.head) // fresh state: rev restarts at 1
      await("the recomputed answer")(
        spark.table("live_serving_ttl").count() >= 2)
      val ttlRows = spark.table("live_serving_ttl")
        .filter(col("q_id") === qs.head.q_id)
        .select("rev", "nn_ids", "cosines").collect()
      val ttlRevs = ttlRows.map(_.getLong(0)).toSeq
      assert(ttlRevs == Seq(1L, 1L),
        s"evicted query must restart its rev chain, got $ttlRevs")
      assert(ttlRows.map(r => (r.getSeq[Long](1), r.getSeq[Double](2))).distinct.size == 1,
        "the recomputed answer must equal the evicted one (static postings)")
    } finally q2.stop()
    postings.unpersist(blocking = false)
  }

  test("a malformed query embedding is dropped at ingest, never crash-looped (ADVICE r15)") {
    // a wrong-dimension embedding used to fire probeCells' `require`,
    // failing the task and killing the stream — and because the
    // checkpointed source replays the same event on restart, one poison
    // pill wedged the serving node permanently.  The ingest filter
    // drops null/empty/wrong-dim queries (absence is the honest answer;
    // an invented or truncated assignment would serve WRONG neighbors
    // silently) while every well-formed query keeps being answered.
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sf()
    val (_, index) = graft.queries.Similarity.servingIndexExport(spark, dir)
    val postings = LiveServing.postingsOf(
      graft.tables.Tables.embeddings(spark, dir), index)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val good = graft.tables.Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect()
      .map(r => LiveServing.QEv(r.getLong(0), r.getSeq[Double](1).toArray,
        exclude_id = r.getLong(0)))
      .head
    val dropped = spark.sparkContext.longAccumulator("graft.t22.dropped_queries")
    val input = MemoryStream[LiveServing.QEv]
    val q = LiveServing.serve(input.toDS(), index, postings,
        droppedQueries = Some(dropped))
      .writeStream.format("memory").queryName("live_serving_poison")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        LiveServing.QEv(997L, Array(1.0, 2.0)), // wrong dimension
        LiveServing.QEv(998L, null),            // null embedding
        LiveServing.QEv(999L, Array.empty),     // empty embedding
        good)
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty,
        s"poison pill killed the stream: ${q.exception}")
      val answered = spark.table("live_serving_poison")
        .select("q_id").collect().map(_.getLong(0)).toSet
      assert(answered == Set(good.q_id),
        s"expected only the well-formed query answered, got $answered")
      // the drops are observable, not silent (a producer-side dimension
      // change zeroing all traffic must be distinguishable from idle)
      assert(dropped.value == 3L,
        s"expected 3 dropped malformed queries counted, got ${dropped.value}")
    } finally {
      q.stop()
      postings.unpersist(blocking = false): Unit
    }
  }
}
