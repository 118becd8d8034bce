package graft.stream

import graft.pipeline.{Enrich, PostSource, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryException,
  StreamingQueryListener, Trigger}

/** The engine's equivalent of the reference's main loop
  * (`consumer/spark_streaming_job.py:70–210`, SURVEY.md §3.1): one enriched
  * lineage fanned into two concurrent queries (console debug + JSON files,
  * T7), supervised.
  *
  * Differences from the reference, deliberate:
  *  - checkpoints are KEPT across restarts (correct exactly-once recovery);
  *    the reference's wipe-on-startup (CSJ:42–55, 71) is behind
  *    `freshStart = true`;
  *  - supervision uses a StreamingQueryListener instead of a 30 s polling
  *    loop (CSJ:166–204) — push-based progress with the same fields
  *    (batchId, numInputRows, rows/sec);
  *  - the removed windowed aggregation (T6) can be started as a third query;
  *  - live trend/burst detection (T10, `TrendBurst`) as a fourth — the
  *    tracking the reference defers to a human watching the dashboard;
  *  - live anomaly (T10b) and distribution-drift (T13) alerts as fifth
  *    and sixth queries — volume- and shape-level alarms off the same
  *    enriched lineage.
  */
object JobRunner {

  /** Which verify implementation the T14 near-dup query deploys (the
    * r15 verdict's wiring bug: the runner used to start the pre-r14
    * string tier while the measured fast/bounded tiers sat unreachable).
    * Defaults follow SCALING.md's measured policy. */
  sealed trait NearDupTier
  object NearDupTier {
    /** DEFAULT: sorted shingle-hash arrays in bucket state, linear
      * merge-intersection verify — 17× the string tier's throughput at
      * ~6× leaner state (SCALING.md T14 rows); emitted relation ≡ d3
      * (LiveNearDupParitySpec).  State grows with the corpus, so the
      * runner pairs it with the RocksDB state store (SCALING.md
      * policy: −26 % throughput buys 40× lower memory). */
    case object Hashed extends NearDupTier
    /** The byte-exact shingle-STRING tier — for deployments that want
      * the literal d3 byte-exactness contract with no h0-collision
      * caveat; ~12× heavier state + per-pair work.  Corpus-growing
      * state like Hashed, so it also defaults to RocksDB. */
    case object ByteExact extends NearDupTier
    /** ARCHIVE-BACKED (the r15 state bound): arrivals probe the STORED
      * band-bucket relation ([[LiveNearDup.archiveRelationOf]])
      * stream-static, keyed state holds only the `windowTtlMs` window —
      * state is window-sized at any corpus size, so the in-memory
      * HDFSBacked default store stays (SCALING.md: RocksDB halves its
      * throughput for memory it doesn't need).  `monitor` makes the
      * TTL-vs-archive-refresh-lag sizing contract alarmable; when left
      * None, [[JobRunner.run]] auto-constructs one stamped at
      * `constructedAtMs` (r16 verdict #4: a deployment that forgets
      * the monitor must still get the alarm).  `constructedAtMs`
      * defaults to the moment THIS tier value was built — the latest
      * instant the loaded archive can have been built, so the
      * auto-monitor's lag check errs no more optimistic than the
      * config itself; a deployment that knows the archive's real build
      * timestamp should pass its own monitor. */
    final case class ArchiveBacked(
        archive: org.apache.spark.sql.DataFrame,
        windowTtlMs: Long = 0L,
        monitor: Option[LiveNearDup.ArchiveLagMonitor] = None,
        constructedAtMs: Long = System.currentTimeMillis()) extends NearDupTier
  }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SourceInitTimeoutMs = 60000L
  private val FileSystemCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
  private val FileImplKey = "fs.file.impl"
  private val FileImplCacheKey = "fs.file.impl.disable.cache"

  /** SCALING.md's measured per-stage state-store policy, as code: the
    * standalone verified tiers hold corpus-growing state → RocksDB;
    * candidates-only and the window-bounded archive tier keep the
    * session default (in-memory HDFSBacked).  None = don't touch the
    * session conf. */
  def stateStoreProviderFor(verified: Boolean, tier: NearDupTier): Option[String] =
    (verified, tier) match {
      case (true, NearDupTier.Hashed | NearDupTier.ByteExact) => Some(RocksDbProvider)
      case _ => None
    }

  /** The checkpoint-file policy, as code: the confs a query whose
    * checkpoint and output paths are all on the local file system
    * starts under.
    *  - `spark.sql.streaming.checkpointFileManagerClass` = Spark's
    *    `FileSystem`-based manager.  Spark's default (`FileContext`)
    *    manager on a local file system without the Hadoop native
    *    library forks a `readlink` process per rename — on every
    *    offset-log, commit-log, source-log, sink-log and state-store
    *    file of every trigger.
    *  - `fs.file.impl` = [[NioLocalFileSystem]], which sets file modes
    *    without the `chmod` fork Hadoop's local file system pays on
    *    every file and `.crc` sidecar it creates, and
    *    `fs.file.impl.disable.cache` = true: Hadoop caches file systems
    *    by scheme and user, not by class, so the session's cached
    *    default `file` instance would be returned otherwise.
    * Both write the same files, `.crc` sidecars and modes included, so
    * a checkpoint restarts under either (SCALING.md "Checkpoint I/O").
    * A path without a scheme resolves against the default FS; any
    * non-`file` scheme (hdfs, s3a, …) keeps Spark's defaults, and so
    * does a manager the caller set explicitly in `hadoopConf`.  A
    * caller-set `fs.file.impl` is kept too.  Empty = don't touch the
    * session conf. */
  def checkpointManagerFor(paths: Seq[String],
      hadoopConf: org.apache.hadoop.conf.Configuration): Map[String, String] = {
    def isLocal(p: String): Boolean =
      Option(new org.apache.hadoop.fs.Path(p).toUri.getScheme)
        .orElse(Option(org.apache.hadoop.fs.FileSystem.getDefaultUri(hadoopConf).getScheme))
        .contains("file")
    def callerSet(key: String): Boolean = Option(hadoopConf.get(key)).exists(_.trim.nonEmpty)
    if (callerSet(CheckpointManagerKey) || !paths.forall(isLocal)) Map.empty
    else if (callerSet(FileImplKey)) Map(CheckpointManagerKey -> FileSystemCheckpointManager)
    else Map(CheckpointManagerKey -> FileSystemCheckpointManager,
      FileImplKey -> classOf[NioLocalFileSystem].getName,
      FileImplCacheKey -> "true")
  }

  /** Starts one query under the per-query conf policies.  The confs
    * are snapshot into the query's cloned session (and its checkpoint
    * logs, sink and state stores) at `start()`, so they are set around
    * this one start and restored in the finally: other queries, and
    * the caller's session after [[run]], keep the caller's settings.
    * Not safe against another thread starting a query on the same
    * session concurrently.  `paths` are the query's checkpoint and
    * output locations, for [[checkpointManagerFor]]. */
  private[graft] def startQuery(spark: SparkSession, writer: DataStreamWriter[_],
      paths: Seq[String], stateStoreProvider: Option[String] = None): StreamingQuery = {
    val confs = checkpointManagerFor(paths, spark.sessionState.newHadoopConf()).toSeq ++
      stateStoreProvider.map(StateStoreProviderKey -> _)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = writer.start()
      // a source's own log (`sources/N` in the checkpoint) is created on
      // the query's thread from the CALLER's session, after start()
      // returns: hold the confs until the sources exist.  A query that
      // dies initializing reports it through its own exception, as before.
      q match {
        case w: StreamingQueryWrapper =>
          try w.streamingQuery.awaitInitialization(SourceInitTimeoutMs)
          catch { case _: StreamingQueryException => () }
        case _ =>
      }
      q
    } finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }

  final case class Config(
      outputPath: String,
      checkpointPath: String,
      consoleTrigger: Trigger = Trigger.ProcessingTime("15 seconds"),
      fileTrigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      freshStart: Boolean = false,
      withConsole: Boolean = true,
      withWindowedCounts: Boolean = false,
      windowedOutputPath: Option[String] = None,
      // T10: live trend/burst detection as a fourth query off the same
      // lineage (stream/TrendBurst) — per-sentiment-label tumbling
      // windows, adjacency-guarded growth flags.
      // NOTE: these defaults (2.0× growth, ≥3 posts) deliberately differ
      // from batch a8's day-window rule (1.5× growth, ≥20 posts): a 60 s
      // live window holds ~1/1440 of a day's traffic, so a8's floors would
      // make the live detector mute and its factor trigger-happy on noise.
      // The RULE is identical (integer basis points, adjacency guard);
      // only the thresholds are window-scale-tuned. Pass 15000/20 with day
      // windows to reproduce a8 exactly — TrendBurstParitySpec does.
      withBursts: Boolean = false,
      burstWindowSec: Long = 60L,
      burstWatermark: String = "2 minutes",
      burstFactorBp: Long = 20000L,
      burstMinCount: Long = 3L,
      // T10b: live rolling z-score anomaly alerts (stream/AnomalyZscore,
      // the streaming form of batch a9) as a fifth query off the same
      // lineage — per-sentiment-label hourly volume vs the trailing
      // 24-observed-window baseline, 3σ exact integer test.  Defaults
      // ARE a9's (W=24 hourly windows, sigmaSq=9): live and batch share
      // one rule here, AnomalyParitySpec proves it.
      withAnomalies: Boolean = false,
      anomalyWindowSec: Long = 3600L,
      anomalyWatermark: String = "2 hours",
      anomalyBaseline: Int = 24,
      // T13: live distribution-drift alerts (stream/LiveDrift, the
      // streaming form of batch a13) as a sixth query off the same
      // lineage — the per-platform SENTIMENT-SCORE DISTRIBUTION measured
      // by exact integer KS against a broadcast reference profile
      // (production: the profile of a healthy baseline period).  Scores
      // ride the monitor's integer grid as score·10⁴ ∈ [−10⁴, 10⁴], so
      // bin boundaries stay integer-exact; bursts/anomalies alarm on
      // VOLUME, this alarms on SHAPE (a sentiment split whose mean and
      // volume look normal still pages here).
      withDrift: Boolean = false,
      driftReference: Map[String, Seq[Long]] = Map.empty,
      driftBins: Int = 256,
      driftWindowSec: Long = 3600L,
      driftWatermark: String = "2 hours",
      // 0 = cumulative since start (a13 parity semantics); k > 0 = the
      // trailing-k-window ring LiveDrift's docs recommend for a
      // long-lived deployment (late shifts show at full strength)
      driftRecentWindows: Int = 0,
      // T14: live near-dup detection (stream/LiveNearDup, the streaming
      // form of d3's banding+verify pipeline) as a seventh query off
      // the same lineage — reposts/copypasta surface as VERIFIED pairs
      // the moment the duplicate arrives.  Posts carry no id, so the
      // detector keys on a deterministic content hash
      // (xxhash64(user, text, timestamp) — stable across restarts, so
      // checkpoint replays stay idempotent by set membership).
      withNearDups: Boolean = false,
      nearDupMaxBucket: Int = 100000,
      // true (DEFAULT since round 16 — deployment truth: the runner
      // starts the tier SCALING.md measured): the composed verify stage
      // emits d3's VERIFIED relation live through `nearDupTier`;
      // false = candidates only (leaner state; verify runs downstream).
      // MIGRATION: the default flipped from false — changing the
      // effective stage (or tier/provider below) across a restart is a
      // STATE-FORMAT change for the near-dup query, and Spark refuses
      // the mismatched checkpoint state loudly.  An existing deployment
      // restarting on an old checkpointPath must pin its previous
      // config: deployments that ran the old DEFAULT pin
      // nearDupVerified = false; deployments that had EXPLICITLY set
      // nearDupVerified = true were running the pre-r16 string tier
      // (ShingleBucket state) and must pin nearDupTier =
      // NearDupTier.ByteExact — the new Hashed default's HashBucket
      // state schema fails their checkpoint's compatibility check.
      // Either way, a fresh checkpoint (freshStart / new path) adopts
      // the new defaults cleanly.
      nearDupVerified: Boolean = true,
      // which verify implementation deploys (NearDupTier doc): Hashed
      // (default; RocksDB store per the SCALING.md policy), ByteExact,
      // or ArchiveBacked(archive, ttl, monitor) for the window-bounded
      // deployment shape when a stored relation exists
      nearDupTier: NearDupTier = NearDupTier.Hashed)

  final case class Running(queries: Seq[StreamingQuery],
      // the ArchiveLagMonitor the near-dup query actually counts into
      // (configured or auto-constructed) — feed it to opsGauges so the
      // listener reports the alarm counters (r16 verdict #4)
      nearDupMonitor: Option[LiveNearDup.ArchiveLagMonitor] = None) {
    def awaitAny(): Unit = queries.headOption.foreach(_.awaitTermination())
    def processAllAvailable(): Unit = queries.foreach(_.processAllAvailable())
    def stopAll(): Unit = queries.foreach(_.stop())
  }

  /** Named operational gauges for [[progressListener]]: the archive-lag
    * alarm counters of a running near-dup tier, plus (optionally) a
    * serving node's [[LiveServing.serve]] droppedQueries accumulator —
    * the counters existed but nothing reported them (r16 verdict #4).
    * Accumulator values are read lazily per progress event, so one
    * listener registration tracks them for the life of the run.
    * CAVEAT (ADVICE r16): accumulators updated inside transformations
    * are at-least-once under task retries/speculation — treat nonzero
    * values as upper bounds; zero still proves the clean case. */
  def opsGauges(running: Running,
      droppedQueries: Option[org.apache.spark.util.LongAccumulator] = None)
      : Seq[(String, () => Long)] =
    running.nearDupMonitor.toSeq.flatMap(m => Seq[(String, () => Long)](
      ("window_evictions", () => m.windowEvictions.value.longValue()),
      ("lag_violations", () => m.lagViolations.value.longValue()))) ++
      droppedQueries.map(a =>
        ("dropped_queries", () => a.value.longValue()): (String, () => Long))

  /** Progress listener: push-based replacement of CSJ's polling loop.
    * `ops` gauges (see [[opsGauges]]) are appended to every progress
    * line, so the alarm counters trend in the same log a dashboard
    * tails — `lag_violations` or `dropped_queries` climbing is the
    * page. */
  def progressListener(log: String => Unit = s => System.err.println(s),
      ops: Seq[(String, () => Long)] = Nil): StreamingQueryListener =
    new StreamingQueryListener {
      private def opsStr: String =
        if (ops.isEmpty) ""
        else ops.map { case (n, g) => s"$n=${g()}" }.mkString(" ", " ", "")
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        log(s"[stream] started ${e.name} (${e.id})")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        log(s"[stream] ${e.progress.name} batch=${e.progress.batchId} " +
          s"rows=${e.progress.numInputRows} rps=${e.progress.inputRowsPerSecond}" + opsStr)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        log(s"[stream] terminated ${e.id} exception=${e.exception.getOrElse("none")}")
    }

  /** An ArchiveBacked tier selected WITHOUT a monitor gets one
    * auto-constructed here, stamped at tier-construction time (the
    * ArchiveBacked doc's optimism bound) — before this, a deployment
    * that forgot the monitor got no lag alarm at all (r16 verdict #4).
    * Applied by [[run]]; idempotent. */
  def withResolvedMonitor(spark: SparkSession, cfg: Config): Config =
    cfg.nearDupTier match {
      case ab @ NearDupTier.ArchiveBacked(_, _, None, stamp) =>
        cfg.copy(nearDupTier =
          ab.copy(monitor = Some(LiveNearDup.ArchiveLagMonitor(spark, stamp))))
      case _ => cfg
    }

  /** The monitor a (resolved) config's near-dup query counts into. */
  private def monitorOf(cfg: Config): Option[LiveNearDup.ArchiveLagMonitor] =
    cfg.nearDupTier match {
      case NearDupTier.ArchiveBacked(_, _, m, _) if cfg.withNearDups && cfg.nearDupVerified => m
      case _ => None
    }

  def run(spark: SparkSession, source: PostSource, cfg0: Config): Running = {
    // ArchiveBacked without a monitor → auto-construct (r16 verdict #4)
    val cfg = withResolvedMonitor(spark, cfg0)
    if (cfg.freshStart) {
      // reference behavior (CSJ:42–68): wipe checkpoints AND output dirs =>
      // reprocess from scratch. Output must go too — the file sink's
      // _spark_metadata commit log would otherwise hide the new run's files
      // from readers.
      Seq(cfg.checkpointPath, cfg.checkpointPath + "_windowed",
        cfg.checkpointPath + "_bursts", cfg.checkpointPath + "_anomalies",
        cfg.checkpointPath + "_drift", cfg.checkpointPath + "_neardups",
        cfg.outputPath, cfg.outputPath + "_windowed",
        cfg.outputPath + "_bursts", cfg.outputPath + "_anomalies",
        cfg.outputPath + "_drift", cfg.outputPath + "_neardups")
        .foreach(p => deleteRecursively(new java.io.File(p)))
      cfg.windowedOutputPath.foreach(p => deleteRecursively(new java.io.File(p)))
    }
    val enriched = Enrich.enrich(source.load(spark))
    def startJson(df: DataFrame, out: String, cp: String, name: String,
        stateStoreProvider: Option[String] = None): StreamingQuery =
      startQuery(spark, Sinks.jsonFiles(df, out, cp, cfg.fileTrigger, queryName = name),
        Seq(cp, out), stateStoreProvider)

    val file = startJson(enriched, cfg.outputPath, cfg.checkpointPath, "file_output")
    // the console query checkpoints under the session's checkpoint root
    // when one is set, else in a local temp dir
    val console = if (cfg.withConsole) Some(startQuery(spark,
      Sinks.console(enriched, cfg.consoleTrigger),
      spark.conf.getOption("spark.sql.streaming.checkpointLocation").toSeq)) else None
    val windowed = if (cfg.withWindowedCounts)
      Some(startJson(Sinks.windowedSentimentCounts(enriched),
        cfg.windowedOutputPath.getOrElse(cfg.outputPath + "_windowed"),
        cfg.checkpointPath + "_windowed", "windowed_output"))
    else None
    val bursts = if (cfg.withBursts) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val posts = Enrich.withEventTime(enriched)
        .select(col("sentiment_label").as("label"), col("event_ts").as("ts"))
        .as[TrendBurst.Post]
      val flags = TrendBurst.bursts(posts, windowSec = cfg.burstWindowSec,
        watermarkDelay = cfg.burstWatermark, factorBp = cfg.burstFactorBp,
        minCount = cfg.burstMinCount)(spark)
      Some(startJson(flags.toDF(), cfg.outputPath + "_bursts",
        cfg.checkpointPath + "_bursts", "burst_output"))
    } else None
    val anomalies = if (cfg.withAnomalies) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val evs = Enrich.withEventTime(enriched)
        .select(col("sentiment_label").as("key"), col("event_ts").as("ts"))
        .as[AnomalyZscore.Event]
      val flags = AnomalyZscore.anomalies(evs, windowSec = cfg.anomalyWindowSec,
        watermarkDelay = cfg.anomalyWatermark,
        baselineWindows = cfg.anomalyBaseline)(spark)
      Some(startJson(flags.toDF(), cfg.outputPath + "_anomalies",
        cfg.checkpointPath + "_anomalies", "anomaly_output"))
    } else None

    val drift = if (cfg.withDrift) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val evs = Enrich.withEventTime(enriched)
        .select(col("platform").as("event_type"),
          // widen BEFORE scaling: float·int would multiply in float and
          // a last-ulp wobble could flip a bin edge vs any double recount
          (col("sentiment_score").cast("double") * 10000).as("value"),
          col("event_ts").as("ts"))
        .as[LiveDrift.Event]
      val alerts = LiveDrift.monitor(evs, cfg.driftReference,
        fmin = -10000L, fmax = 10000L, bins = cfg.driftBins,
        windowSec = cfg.driftWindowSec, watermarkDelay = cfg.driftWatermark,
        recentWindows = cfg.driftRecentWindows)(spark)
      Some(startJson(alerts.toDF(), cfg.outputPath + "_drift",
        cfg.checkpointPath + "_drift", "drift_output"))
    } else None

    val nearDups = if (cfg.withNearDups) {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, xxhash64}
      val docEvents = enriched
        .select(xxhash64(col("user"), col("cleaned_text"), col("timestamp")).as("doc_id"),
          col("cleaned_text").as("text"))
        .as[LiveNearDup.DocEvent]
      // the state-store policy is a per-QUERY choice: startQuery sets
      // it around this one start, so the other queries stay on the
      // session default
      Some(startJson(nearDupStream(cfg, docEvents)(spark), cfg.outputPath + "_neardups",
        cfg.checkpointPath + "_neardups", "neardup_output",
        stateStoreProviderFor(cfg.nearDupVerified, cfg.nearDupTier)))
    } else None

    Running(Seq(file) ++ console ++ windowed ++ bursts ++ anomalies ++ drift ++ nearDups,
      nearDupMonitor = monitorOf(cfg))
  }

  /** The T14 stream a given config deploys — factored out of [[run]]
    * so the tier selection is unit-testable against the PLAN (the r15
    * wiring bug was invisible to output-schema tests: the string and
    * hashed tiers emit identical relations). */
  def nearDupStream(cfg: Config, docEvents: org.apache.spark.sql.Dataset[LiveNearDup.DocEvent])(
      implicit spark: SparkSession): org.apache.spark.sql.DataFrame =
    if (!cfg.nearDupVerified)
      LiveNearDup.candidates(docEvents, maxBucket = cfg.nearDupMaxBucket).toDF()
    else cfg.nearDupTier match {
      case NearDupTier.Hashed =>
        LiveNearDup.verifiedPairsHashed(docEvents, maxBucket = cfg.nearDupMaxBucket).toDF()
      case NearDupTier.ByteExact =>
        LiveNearDup.verifiedPairs(docEvents, maxBucket = cfg.nearDupMaxBucket).toDF()
      case NearDupTier.ArchiveBacked(archive, ttl, monitor, _) =>
        LiveNearDup.verifiedPairsArchivedHashed(docEvents, archive,
          maxBucket = cfg.nearDupMaxBucket, windowTtlMs = ttl, monitor = monitor).toDF()
    }

  /** freshStart's wipe.  A path that cannot be deleted fails the start,
    * naming the path: left in place, an old checkpoint would silently
    * resume, or an old `_spark_metadata` log would hide the new output.
    * `delete` is `File.delete` outside specs. */
  private[stream] def deleteRecursively(f: java.io.File,
      delete: java.io.File => Boolean = _.delete()): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively(_, delete)))
    if (!delete(f) && f.exists())
      throw new java.io.IOException(s"freshStart could not delete $f")
  }
}
