package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftshim.InterpretedScope
import graft.queries.Derivations

/** `SparkEntry.queries` runs a query over small inputs interpreted
  * (`InterpretedScope`), so the DuckDB oracle, which runs at sf0.01 and
  * sf0.001, checks the interpreted `eval` of graft's native expressions.
  * This spec ties their generated code to that: every query whose
  * analyzed plan holds a `graft.*` expression returns the same rows
  * through the raw program (codegen) as on the scope's interpreted
  * session, whether or not the gate takes it.  It also pins
  * the scope itself: which queries it takes, that the caller's conf is
  * never written, and that concurrent builds on one session agree with
  * serial ones. */
class CodegenParitySpec extends SparkSpec {

  private object Plans extends AdaptiveSparkPlanHelper

  private def wholeStages(df: DataFrame): Int =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.size

  /** The graft expression classes in `plan` and its subqueries. */
  private def graftExprs(plan: LogicalPlan): Set[String] = {
    val found = Set.newBuilder[String]
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach { e =>
      if (e.getClass.getName.startsWith("graft.")) found += e.getClass.getSimpleName
    }))
    found.result()
  }

  /** Equal, with doubles and floats to 1e-9 relative (absolute below 1). */
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => close(x.toSeq, y.toSeq)
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.keySet == y.keySet && x.forall { case (k, v) => close(v, y(k.asInstanceOf[Nothing])) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  /** Rows in a canonical order (doubles rounded for the sort key only),
    * so an order the program leaves open cannot fail the comparison. */
  private def canonical(rows: Array[Row]): Seq[Row] = {
    def key(v: Any): String = v match {
      case d: Double => f"$d%.6g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(key).mkString("(", ",", ")")
      case s: scala.collection.Iterable[_] => s.map(key).mkString("[", ",", "]")
      case null => "null"
      case o => o.toString
    }
    rows.toSeq.sortBy(key)
  }

  test("the gate: every leaf size known and their sum within the limit") {
    import InterpretedScope.small
    assert(small(Seq(Some(1L), Some(2L)), 3))
    assert(small(Seq(Some(3L)), 3), "the limit itself is small")
    assert(!small(Seq(Some(1L), Some(3L)), 3))
    assert(!small(Seq(Some(0L), None), 3), "an unknown leaf keeps codegen")
    assert(!small(Seq(None), Long.MaxValue))
    assert(small(Seq(Some(0L), Some(0L)), 0), "local and one-row leaves count 0")
    assert(InterpretedScope.MaxInputBytes == (512L << 10))
  }

  /** Asserts `interpreted` and `compiled` hold the same rows. */
  private def assertSameRows(what: String, interpreted: Array[Row], compiled: Array[Row]): Unit = {
    val (i, c) = (canonical(interpreted), canonical(compiled))
    assert(i.size == c.size, s"$what: row counts differ")
    i.zip(c).foreach { case (a, b) => assert(close(a, b), s"$what: interpreted $a vs compiled $b") }
  }

  test("every query with a graft expression returns the same rows interpreted as compiled (sf0.001)") {
    val dir = sf()
    val compared = SparkEntry.programs.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // each side builds its own derivations: a persist materialized by
      // one side would otherwise hand the other side its rows
      Harness.clearCaches(spark)
      val raw = fn(spark, dir)
      val exprs = graftExprs(raw.queryExecution.analyzed)
      if (exprs.isEmpty) Nil
      else {
        // the gate keeps codegen for inputs above the limit (the embedding
        // family reads 0.58 MB at sf0.001), so the interpreted side is the
        // program's plan re-homed onto the scope's session directly
        val viaScope = InterpretedScope.rehome(raw, SparkEntry.interpreted(spark)).collect()
        Harness.clearCaches(spark)
        assertSameRows(name, viaScope, fn(spark, dir).collect())
        exprs
      }
    }.toSet
    Harness.clearCaches(spark)
    // BandHashes and BpeApplyMerges run only below lineage cuts, out of
    // the analyzed plan: the next test compares them on their own
    val native = Set("VaderCompound", "RollingFingerprint", "ArrayBigrams", "NearestCentroid",
      "CharFold", "ProbeCells", "ArrayDotProduct", "BandValues")
    assert(native.subsetOf(compared), compared)
  }

  test("the band hashes and BPE merge kernels return the same rows interpreted as compiled") {
    graft.sentiment.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "split(lower(text), ' ') AS toks",
        "slice(split(lower(text), ''), 1, 400) AS chars")
    val probes = Seq(
      "graft_band_hashes(toks)",
      "graft_bpe_apply(chars, array(named_struct('l', 't', " +
        "'r', 'h'), named_struct('l', 'e', 'r', 's'), named_struct('l', 'th', 'r', 'e')))")
    probes.foreach { e =>
      val raw = docs.selectExpr("doc_id", s"$e AS v")
      assertSameRows(e, InterpretedScope.rehome(raw, SparkEntry.interpreted(spark)).collect(),
        raw.collect())
    }
    Harness.clearCaches(spark)
  }

  test("a small query runs without whole-stage codegen; a lineage-cut query keeps it") {
    Harness.clearCaches(spark)
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf())
    q1.collect()
    assert(q1.sparkSession ne spark)
    assert(wholeStages(q1) == 0, q1.queryExecution.executedPlan.treeString)
    val raw = SparkEntry.programs("q1_pricing_summary")(spark, sf())
    raw.collect()
    assert(wholeStages(raw) > 0, "the raw program must keep codegen")
    // d6's dup graph is built through lineage cuts: a LogicalRDD leaf of
    // unknown size
    val d6 = SparkEntry.queries("d6_dup_clusters")(spark, sf())
    assert(InterpretedScope.leafBytes(d6.queryExecution.analyzed).contains(None))
    d6.collect()
    assert(d6.sparkSession eq spark)
    assert(wholeStages(d6) > 0, d6.queryExecution.executedPlan.treeString)
    // one clone per session and conf snapshot, counted by the registry
    SparkEntry.queries("q3_star_join_revenue")(spark, sf()).collect()
    assert(Derivations.report().get("scope:interpreted").map(_.builds).contains(1L))
    Harness.clearCaches(spark)
    assert(Derivations.report().get("scope:interpreted").isEmpty)
  }

  test("the caller's conf is identical before and after scoped queries") {
    val before = spark.conf.getAll
    Seq("q1_pricing_summary", "q3_star_join_revenue", "a13_binned_drift", "d6_dup_clusters")
      .foreach(q => SparkEntry.queries(q)(spark, sf()).collect())
    assert(spark.conf.getAll == before)
    assert(!spark.conf.getOption("spark.sql.codegen.factoryMode").contains("NO_CODEGEN"))
  }

  test("two threads building a13 and q3 at once get the serial rows") {
    val names = Seq("a13_binned_drift", "q3_star_join_revenue")
    def rows(q: String): Seq[Row] = SparkEntry.queries(q)(spark, sf()).collect().toSeq
    Harness.clearCaches(spark)
    val serial = names.map(q => q -> rows(q)).toMap
    (1 to 3).foreach { _ =>
      Harness.clearCaches(spark)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futures = names.map(q => q -> pool.submit(() => rows(q)))
        futures.foreach { case (q, f) => assert(f.get() == serial(q), s"$q under concurrency") }
      } finally pool.shutdown()
    }
    Harness.clearCaches(spark)
  }
}
