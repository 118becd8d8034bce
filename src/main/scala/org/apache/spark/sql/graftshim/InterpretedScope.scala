package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** A per-query execution scope: a query over small inputs runs with
  * interpreted expressions and no whole-stage codegen, without a write
  * to the caller's session conf.
  *
  * A cold dashboard pass over small tables spends more time compiling
  * generated classes than computing: 61 queries at sf0.01 compiled about
  * 770 classes with Janino, 500 of them in task threads, and Spark's
  * 100-entry codegen cache re-compiled about 170 of those.  Interpreted
  * expressions skip that cost but pay more per row, so only small inputs
  * win (SCALING.md "Codegen in a cold pass"): at sf0.1, where `documents`
  * is 0.59 MB and `embeddings` 0.80 MB, 81 queries that a 2 MiB limit
  * took summed 57.3 s interpreted against 40.8 s compiled.
  *
  * THE GATE reads the analyzed plan's leaves, including those of
  * subqueries: a file relation counts its listed `sizeInBytes` (driver
  * side, no job), a `LocalRelation` or `OneRowRelation` counts 0, and
  * any other leaf — a lineage cut's `LogicalRDD`, a streaming source —
  * is of unknown size, so the query keeps codegen.  The limit is a
  * constant, not a conf: it decides how a plan runs, never which rows
  * it returns, and no deployment has a reason to move it except a new
  * measurement.
  *
  * THE SCOPE travels with the plan: a small query's analyzed plan is
  * re-homed onto a clone of the caller's session that carries the two
  * codegen confs, so its planning runs under them and every action's
  * `SQLExecution.withSQLConfPropagated` ships them to the task threads.
  * The clone is built from the caller's conf at the time the query is
  * returned; the caller hands in how to build or reuse it (the graft
  * side keeps one per session and conf snapshot). */
object InterpretedScope {

  /** Inputs summing at most this many bytes run interpreted: 50 of the
    * 61 sf0.01 dashboard queries read at most 442 KB (the next reads
    * 563 KB, the lineitem queries 1.0–1.4 MB), and the smallest
    * heavy-family table at sf0.1, `documents`, is 595 KB. */
  val MaxInputBytes: Long = 512L << 10

  /** The gate as a pure function: every leaf's size is known and they
    * sum to at most `limit`. */
  def small(leafBytes: Seq[Option[Long]], limit: Long): Boolean =
    leafBytes.forall(_.isDefined) && leafBytes.flatten.sum <= limit

  /** The size of every leaf of `plan` and of its subqueries; `None` for
    * a leaf whose size is unknown. */
  def leafBytes(plan: LogicalPlan): Seq[Option[Long]] =
    plan.collectWithSubqueries { case l: LeafNode => l }.map {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Some(r.sizeInBytes)
        case _ => None
      }
      case _: LocalRelation | _: OneRowRelation => Some(0L)
      case _ => None
    }

  /** A clone of `s` with whole-stage codegen off and expressions
    * interpreted; `s`'s own conf is not touched. */
  def session(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val c = s.asInstanceOf[SparkSession].cloneSession()
    c.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false")
    c.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
    c
  }

  /** `df` itself, or — when its inputs are small — its analyzed plan
    * over `scoped(df.sparkSession)` (a session from [[session]]). */
  def apply(df: org.apache.spark.sql.DataFrame,
      scoped: org.apache.spark.sql.SparkSession => org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    val analyzed = df.queryExecution.analyzed
    if (analyzed.isStreaming || !small(leafBytes(analyzed), MaxInputBytes)) df
    else rehome(df, scoped(df.sparkSession))
  }

  /** `df`'s analyzed plan over `scoped`, whatever its inputs' size. */
  def rehome(df: org.apache.spark.sql.DataFrame, scoped: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    Dataset.ofRows(scoped.asInstanceOf[SparkSession], df.queryExecution.analyzed)
}
