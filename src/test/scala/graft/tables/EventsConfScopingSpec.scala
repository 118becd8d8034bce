package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** [[Tables.events]] needs two parquet confs at schema-inference time; the
  * contract is that they do NOT leak into the session and retype timestamp
  * columns of OTHER parquet reads (ADVICE r6).  Three pins:
  *
  *  1. after Tables.events on micros testdata, both confs are back to their
  *     prior values (including "previously unset");
  *  2. the returned frame still EXECUTES correctly after the restore —
  *     inference is eager, so restoring must not break the lazy scan;
  *  3. an NTZ-annotated parquet file read AFTER Tables.events still infers
  *     TimestampNTZType — the exact silent-retyping hazard the advice named.
  */
class EventsConfScopingSpec extends SparkSpec {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val NtzKey   = "spark.sql.parquet.inferTimestampNTZ.enabled"

  test("micros read restores both confs and still executes after restore") {
    spark.conf.unset(NanosKey)
    spark.conf.unset(NtzKey)
    val ev = Tables.events(spark, sf())
    // getOption surfaces the DEFAULT for unset keys, so "restored to unset"
    // reads back as the default value: nanosAsLong=false, ntz-inference=true
    assert(spark.conf.getOption(NanosKey).contains("false"),
      s"$NanosKey leaked: ${spark.conf.getOption(NanosKey)}")
    assert(spark.conf.getOption(NtzKey).contains("true"),
      s"$NtzKey leaked: ${spark.conf.getOption(NtzKey)}")
    // logical schema contract unchanged...
    assert(ev.schema("ts").dataType == TimestampType)
    // ...and the scan plans + executes with the confs already restored
    assert(ev.filter(col("ts").isNotNull).count() > 0)
  }

  test("conf values set by the caller are restored verbatim") {
    spark.conf.set(NtzKey, "true")
    spark.conf.set(NanosKey, "false")
    Tables.events(spark, sf())
    assert(spark.conf.get(NtzKey) == "true")
    assert(spark.conf.get(NanosKey) == "false")
    spark.conf.unset(NtzKey)
    spark.conf.unset(NanosKey)
  }

  test("a later NTZ-annotated parquet read is not silently retyped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) — the annotation
    // inferTimestampNTZ=false would flatten to LTZ.  Written with
    // parquet-hadoop's example writer, not Spark: a Spark-written file
    // carries its Catalyst schema in the footer, and inference takes
    // that over the conf, so the read could not see a leaked toggle.
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/ntz.parquet")).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("t", 1704848523000000L))
    finally writer.close()
    Tables.events(spark, sf()) // must not leave NTZ inference disabled
    val back = spark.read.parquet(s"$dir/ntz.parquet")
    assert(back.schema("t").dataType == TimestampNTZType,
      s"NTZ column retyped to ${back.schema("t").dataType} after Tables.events")
  }
}
