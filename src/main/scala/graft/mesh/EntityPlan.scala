package graft.mesh

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graft.ColumnBridge

/** Per-query binding of resolved entity plans to the relation names a
  * statement reads — the Catalyst counterpart of the reference's
  * per-request rewrite against one entity (`map_local.rs:24-36`), and of
  * DataFusion binding table providers per query context.
  *
  * The parsed statement is wrapped in an outer WITH whose relations are the
  * bound frames' analyzed plans, so Spark's own CTE substitution does the
  * scoping: every reference to a bound name (case-insensitive, inside
  * subquery expressions too) reads the frame, while a CTE the statement
  * itself defines under that name shadows it, standard SQL scoping. Nothing
  * is registered in the session catalog, so concurrent queries cannot see
  * each other's bindings, and deterministic bindings inline away in the
  * optimizer (no CTE node survives into the physical plan). */
object EntityPlan {

  /** `parsed` with each `name -> frame` binding in scope. */
  def bind(spark: SparkSession, parsed: LogicalPlan,
      bindings: Seq[(String, DataFrame)]): DataFrame =
    ColumnBridge.ofRows(spark, UnresolvedWith(parsed, bindings.map { case (n, df) =>
      (n, SubqueryAlias(n, df.queryExecution.analyzed), None)
    }))

  /** [[bind]] over the parse of `sqlText`. */
  def sql(spark: SparkSession, sqlText: String,
      bindings: Seq[(String, DataFrame)]): DataFrame =
    bind(spark, spark.sessionState.sqlParser.parsePlan(sqlText), bindings)
}
