package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.InterpretedScope
import graft.queries.{Analytics, Curation, Dedup, Derivations, Multimodal, Pipeline, Relational,
  Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are declared in packs under `graft.queries`; each pack entry is a
  * `NamedQuery` carrying both the Spark program and (where SQL-expressible)
  * the DuckDB oracle SQL. Column names are aliased identically on both sides
  * (the driver sorts columns by name before hashing values) and every query
  * is deterministically ordered with explicit tie-breakers.
  */
object SparkEntry {

  private def packs: Seq[NamedQuery] =
    Relational.all ++ Analytics.all ++ Pipeline.all ++
      TextOps.all ++ Dedup.all ++ Similarity.all ++ Multimodal.all ++
      Curation.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → pushed filter → hash agg → sort. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary.fn(spark, "/root/testdata/sf0.001")

  /** The programs as written: the plans PlanAudit and EXPLAIN.md render,
    * which are the at-scale plans (codegen on). */
  private[graft] def programs: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(q => q.name -> q.fn).toMap

  /** One entry per implemented operator from SURVEY.md §2: each program's
    * result through [[InterpretedScope]], so a query over small inputs
    * runs interpreted (the operators are the same; only the codegen
    * wrapping goes). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    programs.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => InterpretedScope(fn(s, dir), interpreted))
    }

  /** The caller's interpreted clone, one per session and conf snapshot:
    * a `Derivations` entry, so `clear()` drops it and `report()` counts
    * it as `scope:interpreted`. */
  private[graft] def interpreted(s: SparkSession): SparkSession =
    Derivations.memo(s, "", "scope:interpreted", s.conf.getAll)(InterpretedScope.session(s))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
