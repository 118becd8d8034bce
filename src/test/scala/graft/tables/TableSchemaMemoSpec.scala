package graft.tables

import graft.SparkSpec
import graft.queries.Derivations
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** [[Tables.load]] resolves each table once per session: the inferred
  * schema is a `Derivations` entry keyed on the table's file stamp and the
  * session's conf snapshot.  Pins: a repeat load runs no job and returns
  * the plain read's rows; a rewritten table and a flipped inference conf
  * are inferred again; two loads still self-join; `clear()` re-infers. */
class TableSchemaMemoSpec extends SparkSpec {

  private val NtzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** The ids of the jobs `body` ran, counted through a job group.  The
    * status tracker is fed asynchronously but in order, so once a later
    * sentinel job shows up, every job `body` started has too. */
  private def jobsOf[T](group: String)(body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    def inGroup[A](g: String)(f: => A): A = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val out = inGroup(group)(body)
    inGroup(s"$group-sentinel")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-sentinel").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    (out, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a second load runs no job and returns the rows of a plain read") {
    Derivations.clear()
    val (_, first) = jobsOf("table-memo-first")(Tables.load(spark, sf(), "nation"))
    assert(first.nonEmpty, "the first load inferred no schema")
    val (again, second) = jobsOf("table-memo-second")(Tables.load(spark, sf(), "nation"))
    assert(second.isEmpty, s"the repeat load ran job(s) $second")
    val plain = spark.read.parquet(s"${sf()}/nation.parquet")
    assert(again.schema == plain.schema)
    assert(sorted(again) == sorted(plain))
    assert(again.count() == 25)
  }

  test("a table rewritten with another column set is inferred again") {
    Derivations.clear()
    val dir = tempDir("graft-table-rewrite")
    spark.range(4).select(col("id").as("a"), (col("id") * 10).as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    spark.range(3).select(concat(lit("x"), col("id").cast("string")).as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.load(spark, dir, "t")
    assert(back.columns.toSeq == Seq("c"))
    assert(sorted(back) == Seq("[x0]", "[x1]", "[x2]"))
  }

  test("flipping the NTZ inference conf yields the newly inferred type") {
    Derivations.clear()
    val dir = tempDir("graft-table-ntz")
    // a TIMESTAMP(MICROS, isAdjustedToUTC=false) column written without
    // Spark's schema in the footer (a Spark-written file carries its
    // Catalyst types, which inference takes over the conf)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/ntz.parquet")).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("t", 1704848523000000L))
    finally writer.close()
    val prev = spark.conf.getOption(NtzKey)
    try {
      spark.conf.set(NtzKey, "true")
      assert(Tables.load(spark, dir, "ntz").schema("t").dataType == TimestampNTZType)
      spark.conf.set(NtzKey, "false")
      assert(Tables.load(spark, dir, "ntz").schema("t").dataType == TimestampType)
      spark.conf.set(NtzKey, "true")
      assert(Tables.load(spark, dir, "ntz").schema("t").dataType == TimestampNTZType)
    } finally prev.fold(spark.conf.unset(NtzKey))(spark.conf.set(NtzKey, _))
  }

  test("two loads of one table self-join by column reference") {
    Derivations.clear()
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b.filter(b("n_nationkey") < 5), a("n_regionkey") === b("n_regionkey"))
        .select(a("n_nationkey").as("x"), b("n_nationkey").as("y"))
    val plainPath = s"${sf()}/nation.parquet"
    val expected = sorted(selfJoin(spark.read.parquet(plainPath), spark.read.parquet(plainPath)))
    val got = selfJoin(Tables.load(spark, sf(), "nation"), Tables.load(spark, sf(), "nation"))
    assert(sorted(got) == expected)
    // the join is not the diagonal: some pairs cross two nations
    assert(got.filter(col("x") =!= col("y")).count() > 0)
  }

  test("Derivations.clear() forces inference again") {
    Derivations.clear()
    Tables.load(spark, sf(), "region")
    val (_, warm) = jobsOf("table-memo-warm")(Tables.load(spark, sf(), "region"))
    assert(warm.isEmpty)
    Derivations.clear()
    val (_, cold) = jobsOf("table-memo-cold")(Tables.load(spark, sf(), "region"))
    assert(cold.nonEmpty, "a load after clear() ran no inference job")
  }
}
