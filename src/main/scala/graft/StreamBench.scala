package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.stream._

/** Streaming throughput soak harness (round-12 verdict #3): every live
  * stage is parity-proven and restart-proven, but a 100× claim needs
  * rows/s — this main drives each stage from an over-provisioned rate
  * source for a fixed wall-clock soak and reports what the stage
  * actually sustained, plus its state footprint.
  *
  * Method: `rate` generates `SPARK_GRAFT_STREAM_BENCH_RATE` rows/s
  * (default 100k — deliberately above what most stages sustain at
  * local[4], so the STAGE is the bottleneck and the measured input
  * rate is its throughput, not the source's); each stage runs
  * `SPARK_GRAFT_STREAM_BENCH_SECS` (default 20; the committed
  * SCALING.md table uses 60) against a noop sink with its own
  * checkpoint, and the result reads off the query's progress events:
  * rows/s = Σ numInputRows / wall, state = the last batch's
  * stateOperators totals.  Event-time stages (windows, joins,
  * sessions) use the rate source's own wall-clock timestamps, so
  * watermarks advance naturally; within a short soak most windows stay
  * OPEN — the measured number is ingest+state-update throughput, which
  * is the capacity claim that matters (emission is a per-window
  * trickle).  Inputs are deterministic functions of the rate value
  * (the monitors' parity specs pin correctness; this harness prices
  * speed).
  *
  * The reference's envelope is ≤ 100 records per 30 s trigger
  * (~3.3 rec/s, `consumer/spark_streaming_job.py:117,159`) — the bar
  * every row here must clear by orders of magnitude. */
object StreamBench {

  final case class SoakResult(name: String, secs: Double, rows: Long,
      rowsPerSec: Long, stateRows: Long, stateMb: Double, batches: Int)

  /** Deterministic ~24-token text from a rate value (splitmix-style
    * mixing; ~50k-word vocabulary so shingles/buckets vary without
    * pathological collisions). */
  private def textOf(v: Long): String = {
    val sb = new StringBuilder(160)
    var i = 0
    while (i < 24) {
      var h = v * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
      sb.append('w').append(java.lang.Math.floorMod(h, 50000L))
      if (i < 23) sb.append(' ')
      i += 1
    }
    sb.toString
  }

  /** Deterministic 64-dim embedding on the same grid the stored models
    * quantize (values in [0, 1)). */
  private def embOf(v: Long): Array[Double] = {
    val out = new Array[Double](64)
    var d = 0
    while (d < 64) {
      var h = (v << 8 | d) * 0x9E3779B97F4A7C15L
      h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
      out(d) = java.lang.Math.floorMod(h, 1000000L) / 1000000.0
      d += 1
    }
    out
  }

  private def soak(spark: SparkSession, name: String, rate: Int, secs: Int,
      rowsPerBatch: Option[Int] = None)(
      build: DataFrame => Dataset[_]): SoakResult = {
    val cp = java.nio.file.Files.createTempDirectory(s"sbench-$name").toString
    // Two source modes.  Default: the plain rate source, over-provisioned
    // so the stage is the bottleneck — right for stages that keep up
    // (their batches stay small and steady).  For a stage SLOWER than any
    // reasonable source rate, the rate source's batches SNOWBALL (each
    // batch grabs the full backlog, so one giant in-flight batch spans
    // the soak and the completed-rows accounting reports the batch-size
    // ladder, not the stage — round-14 finding: the string-state T14, the
    // hashed T14 and a stateless scan-only probe all "measured" the same
    // 833 docs/s, which was 50 000 ladder rows / 60 s, not throughput).
    // rate-micro-batch pins rowsPerBatch per trigger, batches run
    // back-to-back, and rows/wall is the stage's true sustained capacity.
    val src = rowsPerBatch match {
      case Some(n) => spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", n.toLong)
        .option("numPartitions", 4)
        .load()
      case None => spark.readStream.format("rate")
        .option("rowsPerSecond", rate.toLong)
        .option("numPartitions", 4)
        .load()
    }
    // the checkpoint policy JobRunner deploys, so the soak prices the
    // deployed commit path
    val q = JobRunner.startQuery(spark, build(src).writeStream.format("noop")
      .outputMode("append")
      .option("checkpointLocation", cp), Seq(cp))
    val t0 = System.nanoTime()
    // NO processAllAvailable here: the rate source keeps producing, so
    // draining never terminates for a stage slower than the source — the
    // soak is wall-clock-bounded and the cut-off in-flight batch is an
    // (acceptable) undercount, amortized by the soak length
    try Thread.sleep(secs * 1000L) finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress
    val rows = prog.map(_.numInputRows).sum
    val lastState = prog.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.toSeq).getOrElse(Seq.empty)
    SoakResult(name, wall, rows, (rows / wall).toLong,
      lastState.map(_.numRowsTotal).sum,
      lastState.map(_.memoryUsedBytes).sum / 1e6,
      prog.length)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_SECS", "20").toInt
    // over-provision by default so the STAGE is the bottleneck; a stage
    // whose rows/s lands at ~the rate kept up (source-limited lower bound)
    val rate = sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_RATE", "200000").toInt
    implicit val spark: SparkSession = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // spark.file.transferTo=false: the mmap-based transferTo path
      // serializes wide single-JVM shuffles (SCALING.md "local[32]
      // pathology"; full rationale at Bench.runSuite)
      .config("spark.file.transferTo", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // accounting reads q.recentProgress, whose DEFAULT retention is
      // 100 events — a fast stage completes several hundred micro-batches
      // in a 60 s soak and would report only the retained tail's rows
      // divided by the full wall (round-13 review finding: five stages
      // sat exactly at batches=99)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_STATESTORE",
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // stored models the staleness/scoring twins consume (the deployment
    // loading sequence — memoized, one training pass each)
    val ivfIndex = graft.queries.Similarity.s13IndexArray(spark, sfDir)
    val pqBooks = graft.queries.Similarity.s14CodebookArray(spark, sfDir)
    val (dsirW, dsirNt, dsirNr) = graft.queries.Curation.dsirWeightExport(spark, sfDir)
    // the serving twin's loading sequence: the verdict-picked index plus
    // its static posting lists (the stored relation at scale; persisted —
    // every soak batch probes it).  LAZY: deriving the export runs the
    // full decision chain (several corpus passes), which a soak that
    // filters T22 out must not pay at startup (review r14)
    lazy val servIndex = graft.queries.Similarity.servingIndexExport(spark, sfDir)._2
    lazy val servPostings = LiveServing.postingsOf(
        graft.tables.Tables.embeddings(spark, sfDir), servIndex)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the archive-backed near-dup tier's stored band-bucket relation
    // (r15 — the T14 state-bound story): the sf corpus IS the archive,
    // the soak streams synthetic arrivals probing it one-sided.  LAZY
    // for the same filtered-soak reason as the serving exports.
    lazy val nearDupArchive = LiveNearDup.archiveRelationOf(
        graft.tables.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text")))(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val driftRef: Map[String, Seq[Long]] =
      (0 until 5).map(t => s"t$t" -> Seq.fill(256)(10L)).toMap

    def evs(src: DataFrame): Dataset[(Long, java.sql.Timestamp)] =
      src.select(col("value"), col("timestamp"))
        .as[(Long, java.sql.Timestamp)]

    val stages: Seq[(String, DataFrame => Dataset[_])] = Seq(
      "T10_trend_burst" -> ((src: DataFrame) =>
        TrendBurst.bursts(evs(src).map { case (v, ts) =>
          TrendBurst.Post("l" + (v % 20), ts) })),
      "T10b_anomaly_zscore" -> ((src: DataFrame) =>
        AnomalyZscore.anomalies(evs(src).map { case (v, ts) =>
          AnomalyZscore.Event("k" + (v % 20), ts) })),
      "T12_heavy_hitters" -> ((src: DataFrame) =>
        LiveHeavyHitters.sketch(evs(src).map { case (v, ts) =>
          LiveHeavyHitters.Event(v % 100000L, ts) })),
      "T13_drift" -> ((src: DataFrame) =>
        LiveDrift.monitor(evs(src).map { case (v, ts) =>
          LiveDrift.Event("t" + (v % 5), (v % 1000L).toDouble, ts) },
          driftRef, 0L, 999L)),
      // T14 soaks the HASHED verify tier (round 14 — sorted shingle-hash
      // arrays in bucket state, linear merge-intersection verify; the
      // byte-exact string tier stays parity-spec'd but is ~12× heavier
      // in state bytes + per-pair work); its backlog batches still pace
      // slower than scan-side stages, so it keeps a dedicated source
      // rate — see rateOf below
      "T14_near_dup_verified" -> ((src: DataFrame) =>
        LiveNearDup.verifiedPairsHashed(evs(src).map { case (v, _) =>
          LiveNearDup.DocEvent(v, textOf(v)) })),
      // T14's ARCHIVE-BACKED tier (r15 — the bounded-state deployment
      // shape): arrivals probe the STORED corpus band-bucket relation
      // stream-static (stateless), window state holds only the last
      // windowTtlMs of arrivals for new-new pairing — state is
      // window-sized, never corpus-sized (the claim this row measures).
      // Synthetic ids offset past the corpus so probe self-pairs can't
      // alias.
      "T14_archive_near_dup" -> ((src: DataFrame) =>
        LiveNearDup.verifiedPairsArchivedHashed(evs(src).map { case (v, _) =>
          LiveNearDup.DocEvent(1000000000L + v, textOf(v)) },
          nearDupArchive, windowTtlMs = 10000L)),
      // isolation probe: T14's scan side alone (no state, no shuffle) —
      // prices the per-doc banding+hashing chain the stateful stage
      // rides; not part of the committed table's stage set
      "T14_scan_only" -> ((src: DataFrame) => {
        graft.sentiment.GraftFunctions.register(spark)
        evs(src).map { case (v, _) => LiveNearDup.DocEvent(v, textOf(v)) }
          .select(col("doc_id"), graft.queries.Dedup.bandHashesFor(col("text")).as("bh"))
          .select(col("doc_id"),
            posexplode(col("bh.bands")).as(Seq("band", "bv")),
            col("bh.hashes").as("hashes"))
          .select(col("doc_id"), col("band"), col("bv"), col("hashes"))
          .as[LiveNearDup.DocHashes]
      }),
      "T6_sessionize" -> ((src: DataFrame) =>
        Sessionize.sessionize(evs(src).map { case (v, ts) =>
          Sessionize.Ev(v % 100000L, ts) })),
      "T15_funnel" -> ((src: DataFrame) =>
        LiveFunnel.monitor(evs(src).map { case (v, ts) =>
          LiveFunnel.FEv(v % 100000L, ts,
            Seq("view", "click", "purchase")((v % 3L).toInt)) })),
      "T11_stream_join" -> ((src: DataFrame) => {
        val views = evs(src).map { case (v, ts) => StreamJoin.View(v % 100000L, v, ts) }
        val clicks = spark.readStream.format("rate")
          .option("rowsPerSecond", rate.toLong).option("numPartitions", 4).load()
          .select(col("value"), col("timestamp"))
          .as[(Long, java.sql.Timestamp)]
          .map { case (v, ts) => StreamJoin.Click(v % 100000L, v, ts) }
        StreamJoin.inner(views, clicks)
      }),
      "T16_index_staleness" -> ((src: DataFrame) =>
        LiveIndexStaleness.monitor(evs(src).map { case (v, _) =>
          LiveIndexStaleness.VEv(v, embOf(v)) }, ivfIndex)),
      "T17_pq_staleness" -> ((src: DataFrame) =>
        LivePqStaleness.monitor(evs(src).map { case (v, _) =>
          LiveIndexStaleness.VEv(v, embOf(v)) }, pqBooks)),
      "T18_dsir_scorer" -> ((src: DataFrame) =>
        LiveDsirScorer.monitor(evs(src).map { case (v, _) =>
          LiveDsirScorer.DocEv(v, textOf(v), "src" + (1 + v % 5)) },
          dsirW, dsirNt, dsirNr)),
      "T19_overlap_sketch" -> ((src: DataFrame) =>
        LiveOverlapSketch.monitor(evs(src).map { case (v, _) =>
          LiveOverlapSketch.DocEv(v, textOf(v), "src" + (v % 20)) })),
      "T20_selector_staleness" -> ((src: DataFrame) =>
        LiveSelectorStaleness.monitor(evs(src).map { case (v, _) =>
          LiveSelectorStaleness.DocEv(v, textOf(v), "src" + (1 + v % 5)) })),
      // T22 serves a stream of retrieval requests against the executed
      // index's posting lists (s18's twin): per query, a stream-static
      // join over the probed cells' postings + a top-k fold — per-event
      // work is ~|corpus|·nprobe/k candidate cosines, so throughput is
      // queries/s, not rows/s, and paces like T14 (see rowsPerBatchOf)
      "T22_live_serving" -> ((src: DataFrame) =>
        LiveServing.serve(evs(src).map { case (v, _) =>
          LiveServing.QEv(v, embOf(v)) }, servIndex, servPostings)))

    // Stages slower than any sensible source rate get PACED batches
    // (rate-micro-batch, fixed rows per trigger — see the soak() source
    // modes comment): the plain rate source's snowballing backlog batches
    // made their completed-rows accounting report the batch-size ladder,
    // not throughput (round-14 finding; the scan-only probe "measured"
    // the same 833 docs/s as the full stateful stage).
    def rowsPerBatchOf(stage: String): Option[Int] = stage match {
      case "T14_near_dup_verified" | "T14_scan_only" | "T14_archive_near_dup" =>
        Some(sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_T14_BATCH", "10000").toInt)
      case "T22_live_serving" =>
        // 8k queries/batch amortizes the per-batch planning of the
        // stream-static join without starving the completed-batch
        // accounting (20k-row batches finish only ~4 times in a 60 s
        // soak and the in-flight tail vanishes from the count)
        Some(sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH_T22_BATCH", "8000").toInt)
      case _ => None
    }
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_STREAM_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = stages
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, b) =>
        val r = soak(spark, n, rate, secs, rowsPerBatchOf(n))(b)
        println(f"| ${r.name}%-24s | ${r.rowsPerSec}%,d | ${r.rows}%,d | ${r.secs}%.1f | ${r.stateRows}%,d | ${r.stateMb}%.1f | ${r.batches} |")
        r
      }
    // Locale.ROOT, not the f-interpolator: a comma-decimal default locale
    // (de_DE) would emit '0,12' and break the JSON line (ADVICE r13).
    def fmt(pat: String, v: Double): String =
      String.format(java.util.Locale.ROOT, pat, Double.box(v))
    val js = results.map(r =>
      s"""{"stage":"${r.name}","rows_per_sec":${r.rowsPerSec},"rows":${r.rows},""" +
        s""""secs":${fmt("%.1f", r.secs)},"state_rows":${r.stateRows},""" +
        s""""state_mb":${fmt("%.2f", r.stateMb)},"batches":${r.batches}}""")
      .mkString("[", ",", "]")
    println(s"""{"stream_bench":true,"rate":$rate,"secs":$secs,"sf":"$sfDir","results":$js}""")
    spark.stop()
  }
}
