package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.mesh.{EntityResolver, Fixtures}

/** The resolved entity views SQL-surface queries bind by name (webengine
  * path: every entity becomes an ordinary queryable table,
  * `webengine/src/register.rs:36-90`), plus their DuckDB reconstructions.
  * Cross-entity SQL then runs on Catalyst, which pushes
  * projection/filter/limit into each per-source branch — the Spark-native
  * equivalent of the reference's scan-template pushdown (SURVEY §2.5). */
object Views {
  /** DuckDB-side reconstruction of the resolved `lineitem` entity view for
    * the all-access user. */
  val lineitemOracle: String =
    """SELECT l_orderkey AS orderkey, l_partkey AS partkey, l_suppkey AS suppkey,
      |       CAST(l_linenumber AS BIGINT) AS linenumber, l_quantity AS quantity,
      |       l_extendedprice AS extendedprice, l_discount * 100 AS discount_percent,
      |       l_tax * 100 AS tax_percent, l_tax * l_extendedprice AS tax_amount,
      |       l_extendedprice / l_quantity AS unitprice, l_returnflag AS returnflag,
      |       l_linestatus AS linestatus, CAST(l_shipdate AS DATE) AS shipdate,
      |       CAST(NULL AS DATE) AS commitdate, CAST(NULL AS DATE) AS receiptdate
      |FROM lineitem""".stripMargin

  /** Same view under the default (non-admin) policy. */
  val lineitemDefaultOracle: String =
    """SELECT l_orderkey AS orderkey, l_partkey AS partkey,
      |       CAST(NULL AS BIGINT) AS suppkey,
      |       CAST(l_linenumber AS BIGINT) AS linenumber, l_quantity AS quantity,
      |       l_extendedprice AS extendedprice, l_discount * 100 AS discount_percent,
      |       l_tax * 100 AS tax_percent, l_tax * l_extendedprice AS tax_amount,
      |       l_extendedprice / l_quantity AS unitprice, l_returnflag AS returnflag,
      |       l_linestatus AS linestatus, CAST(l_shipdate AS DATE) AS shipdate,
      |       CAST(NULL AS DATE) AS commitdate, CAST(NULL AS DATE) AS receiptdate
      |FROM lineitem WHERE l_returnflag = 'N'""".stripMargin

  val customerOracle: String =
    """SELECT c_custkey AS custkey, c_name AS customername,
      |       CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal AS acctbal,
      |       c_mktsegment AS mktsegment FROM customer""".stripMargin

  val ordersOracle: String =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      |       o_orderstatus AS orderstatus, o_totalprice AS totalprice,
      |       CAST(o_orderdate AS DATE) AS orderdate,
      |       o_orderpriority AS orderpriority FROM orders""".stripMargin

  /** The names SQL-surface queries read the resolved entities under. */
  val EntityNames: Seq[String] = Seq("lineitem_entity", "customer_entity", "orders_entity")

  // resolved-entity plans memoized per (session, sf): resolution is pure
  // plan construction (5-site walk, per-branch SQL analysis, ACL probes —
  // ~100ms of driver time), and the resolved DataFrame captures its plan
  // eagerly, so one resolution serves every later query
  private val resolvedCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[DataFrame]]

  /** The lineitem/customer/orders entities (admin access) resolved from
    * `global`, in [[EntityNames]] order, with the raw physical tables
    * registered on `spark`. The returned instance is also the
    * [[PlanCache]] scope for SQL-surface plans: a re-resolution (new
    * session/sf, or an eviction) swaps it and every dependent cached plan
    * misses. */
  def resolved(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    resolvedCache.getOrElseUpdate((spark, sfDir), {
      Fixtures.registerRaw(spark, sfDir)
      resolvedCache.filterKeys(_._1 eq spark).keys.foreach(resolvedCache.remove)
      Seq("lineitem", "customer", "orders")
        .map(EntityResolver.resolve(spark, Fixtures.mesh, "global", _, Some("admin")))
    })
}
