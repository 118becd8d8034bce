package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata star schema (TESTDATA.md / FIXTURES.md §2).
  *
  * Loading convention is the driver contract: one parquet file per table under
  * the sf directory passed to each query. Parquet + the vectorized reader give
  * column pruning and predicate pushdown for free — every query should show
  * `PushedFilters`/`ReadSchema` reaching these scans in `.explain("formatted")`.
  */
object Tables {
  /** The table `name` under `dir`, resolved once per session: parquet
    * schema inference runs a Spark job per read, so the inferred schema
    * is a [[graft.queries.Derivations]] entry (`table:<name>`, keyed on
    * the table's file stamp and the whole conf snapshot — the registry's
    * scaladoc says why), and every call reads with it.  Each call still
    * returns a fresh relation with fresh attribute ids, so two loads of
    * one table self-join like two plain reads. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = graft.queries.Derivations.memo(spark, dir, s"table:$name",
        fileStamp(spark, dir, name), spark.conf.getAll) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The sorted (path, length, mtime) of every leaf file of the table
    * `name` under `dir` (empty when it does not exist: the read then
    * fails as it always did, and a failed build is not memoized).  A
    * derivation built from a table keys on its stamp, so a table
    * rewritten in place is a miss. */
  private[graft] def fileStamp(spark: SparkSession, dir: String,
      name: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () }
    files.result().sorted
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** events.ts has shipped in two physical parquet forms; both load to ONE
    * logical schema — `ts: TimestampType` (microsecond precision, session-UTC):
    *
    *  - TIMESTAMP(MICROS) (current driver testdata): read natively.
    *    `inferTimestampNTZ=false` keeps the isAdjustedToUTC=false annotation
    *    on the LTZ TimestampType (session tz is UTC, so values are identical),
    *    which lets event-time range filters push straight to the parquet scan
    *    as ordinary timestamp bounds — no conversion in the plan at all.
    *  - TIMESTAMP(NANOS) (earlier testdata; real nanos sources): Spark's
    *    vectorized reader rejects it ([PARQUET_TYPE_ILLEGAL]), so read nanos
    *    as a raw long (spark.sql.legacy.parquet.nanosAsLong) and floor to
    *    micros with integral DIV (no double round-trip — 1.7e18 ns doesn't
    *    fit a double's 53-bit mantissa). Filters through this conversion
    *    can't push down on their own; [[graft.plans.NanosFilterPushdown]]
    *    re-derives them as raw-nanos scan bounds.
    *
    * DuckDB oracles use CAST(ts AS TIMESTAMP) — the same floor-to-micros
    * values either way. */
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val NtzKey   = "spark.sql.parquet.inferTimestampNTZ.enabled"

  def events(spark: SparkSession, dir: String): DataFrame = {
    // Both confs are consulted at SCHEMA INFERENCE, which `load` performs
    // eagerly on a memo miss (the memo keys on the conf snapshot, so the
    // scoped values select their own entry) — so they are set only around
    // the load and restored after
    // (per-read options are NOT honored for these keys; verified
    // empirically).  The NTZ-inference toggle is restored unconditionally:
    // leaving it off would silently retype NTZ-annotated timestamp columns
    // of every LATER parquet read in the session.  nanosAsLong stays set
    // only on the nanos branch, where the scan's execution-time footer
    // conversion still needs it — documented stickiness instead of a
    // broken read (EventsConfScopingSpec pins restore + micros execution
    // after restore).
    val saved = Seq(NanosKey, NtzKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(NanosKey, "true")
    spark.conf.set(NtzKey, "false")
    def restore(keys: Set[String]): Unit = saved.foreach {
      case (k, prev) if keys(k) => prev match {
        case Some(v) => spark.conf.set(k, v)
        case None    => spark.conf.unset(k)
      }
      case _ =>
    }
    val raw =
      try load(spark, dir, "events")
      catch { case e: Throwable => restore(Set(NanosKey, NtzKey)); throw e }
    restore(Set(NtzKey))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        restore(Set(NanosKey))
        raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  // embeddings deliberately does NOT ride spreadSmallScan: the pack's
  // corpus passes are map-only scans of small persisted relations (2k
  // rows × 64 dims at sf0.1) and the added exchange/stage per memoized
  // chain measurably REGRESSED the family (s20 7.11 → 9.73 s, d15 2.70
  // → 3.63 s QuickTime A/B r18) — per-row work is too light to buy the
  // spread's extra stage, the opposite of the shingle/span explosions.
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Scale-adaptive scan spread (guide §2.5 input skew / §2.2 partition
    * sizing): a SMALL relation often arrives as one single-row-group
    * parquet file, which no split conf can parallelize below one task —
    * so every expensive downstream derivation (shingle/span/token
    * explosions, per-vector distance math) serializes on one core while
    * the rest of the executor width idles.  When the relation is small
    * (file-listing `sizeInBytes` ≤ `spark.graft.scan.spreadBytes`,
    * default 128 MB — driver-side plan statistics, no job, the
    * adaptiveJaccardPairs idiom) it is hash-repartitioned on the given
    * UNIQUE key to the executor width: the one-off shuffle moves ≤ the
    * gate bytes once and unblocks width-parallel derivation.  A LARGE
    * relation (the 100 TB path) returns unchanged — its files split
    * natively at the scan and a corpus shuffle here would be a scale
    * bug, which is why the gate reads the data's size instead of pinning
    * either behavior.  Hash on a unique key, never round-robin: the
    * assignment is deterministic under task retries (SPARK-38388) and
    * skips round-robin's sort-before-repartition.  `spreadBytes=0`
    * disables the spread outright. */
  def spreadSmallScan(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val s = df.sparkSession
    val limit = s.conf.getOption("spark.graft.scan.spreadBytes")
      .map(_.toLong).getOrElse(128L << 20)
    val width = s.sparkContext.defaultParallelism
    if (limit > 0 && width > 1 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit)
      // explicit numPartitions: a keyed repartition WITHOUT one is
      // advisory (AQE would coalesce the sub-MB exchange straight back
      // to one partition, re-serializing the derivation this exists to
      // spread)
      df.repartition(width, key)
    else df
  }
}
