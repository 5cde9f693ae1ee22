package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.mesh.{EntityPlan, Fixtures, MeshSession, QueryService}
import graft.queries.Views

/** Per-query entity binding: the scoping rules [[EntityPlan]] inherits from
  * Spark's CTE substitution, and the request paths that use it leaving the
  * session catalog untouched — including under concurrent requests for
  * different users and entities. */
class EntityPlanSpec extends AnyFunSuite {

  lazy val spark = TestSessions.spark
  private def sfDir = TestSessions.sfDir

  private def ints(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Number](0).longValue).toSeq.sorted

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private lazy val ent = spark.range(10).toDF("k")

  test("a CTE named like the bound entity shadows it; its body reads the binding") {
    // the shape mapRemoteRequestSql emits: a CTE named after the entity
    // whose (non-recursive) body reads the entity itself
    assert(ints(EntityPlan.sql(spark,
      "WITH ent AS (SELECT k * 10 AS k FROM ent WHERE k < 3) SELECT k FROM ent",
      Seq("ent" -> ent))) == Seq(0L, 10L, 20L))
    // a CTE that does not read the name replaces the binding outright
    assert(ints(EntityPlan.sql(spark,
      "WITH ent AS (SELECT 42 AS k) SELECT k FROM ent", Seq("ent" -> ent))) == Seq(42L))
  }

  test("bound names match case-insensitively") {
    assert(ints(EntityPlan.sql(spark, "SELECT count(*) FROM ENT", Seq("ent" -> ent))) ==
      Seq(10L))
    assert(ints(EntityPlan.sql(spark, "SELECT count(*) FROM Ent", Seq("ENT" -> ent))) ==
      Seq(10L))
  }

  test("the entity binds inside IN, EXISTS and scalar subqueries") {
    def q(sql: String) = ints(EntityPlan.sql(spark, sql, Seq("ent" -> ent)))
    assert(q("SELECT k FROM ent WHERE k IN (SELECT k + 1 FROM ent WHERE k < 3)") ==
      Seq(1L, 2L, 3L))
    assert(q("SELECT k FROM ent e WHERE EXISTS (SELECT 1 FROM ent f WHERE f.k = e.k * 2)") ==
      (0L to 4L))
    assert(q("SELECT k FROM ent WHERE k > (SELECT avg(k) FROM ent)") == (5L to 9L))
  }

  test("self-joins of a *_entity name work and leave no CTE in the optimized plan") {
    val bindings = Views.EntityNames.zip(Views.resolved(spark, sfDir))
    val joined = EntityPlan.sql(spark,
      """SELECT count(*) FROM customer_entity a
        |JOIN customer_entity b ON a.custkey = b.custkey""".stripMargin, bindings)
    assert(ints(joined) == Seq(spark.table("raw_customer").count()))
    val ctes = joined.queryExecution.optimizedPlan.collect {
      case p if p.nodeName.startsWith("WithCTE") || p.nodeName.startsWith("CTERelation") => p
    }
    assert(ctes.isEmpty, joined.queryExecution.optimizedPlan.treeString)
  }

  test("MeshSession.sql, sqlForPeer and QueryService leave the session's temp views unchanged") {
    Fixtures.registerRaw(spark, sfDir)
    val rawLineitem = spark.table("lineitem").count()
    val before = tempViews()
    val session = new MeshSession(spark, Fixtures.mesh, "global")
    // lineitem from global crosses three remote hops: the template probes
    // and remote-mapped branches bind rather than register as well
    assert(session.sql("SELECT count(*) FROM lineitem", None).collect().nonEmpty)
    assert(session.sqlForPeer("SELECT count(*) FROM customer", None, Some("na"),
      Set.empty, withProvenance = false).collect().nonEmpty)
    val svc = new QueryService(session,
      java.nio.file.Files.createTempDirectory("graft_bind_results").toString)
    val id = svc.submit("SELECT orderkey FROM lineitem WHERE orderkey < 100", Some("admin"))
    val st = svc.await(id)
    assert(st.status == QueryService.Complete, st.error.getOrElse(""))
    assert(tempViews() == before)
    // the bare raw table was never shadowed by the (ACL-scoped) entity
    assert(spark.table("lineitem").count() == rawLineitem)
  }

  test("concurrent requests for distinct users and entities each match their serial answer") {
    Fixtures.registerRaw(spark, sfDir)
    val cases: Seq[(Option[String], String)] = Seq(
      Some("admin") -> "SELECT returnflag, count(*) AS n FROM lineitem GROUP BY returnflag",
      None -> "SELECT returnflag, count(*) AS n, max(suppkey) AS s FROM lineitem GROUP BY returnflag",
      Some("admin") -> "SELECT count(*) AS n, round(sum(acctbal), 2) AS s FROM customer",
      None -> "SELECT lang, count(*) AS n FROM documents GROUP BY lang",
      Some("admin") -> "SELECT source, count(*) AS n FROM documents GROUP BY source",
      None -> "SELECT orderstatus, count(*) AS n FROM orders GROUP BY orderstatus")
    def answer(session: MeshSession, svc: QueryService,
        user: Option[String], sql: String): (Seq[String], Seq[String]) = {
      val sync = rows(session.sql(sql, user))
      val id = svc.submit(sql, user)
      val st = svc.await(id)
      assert(st.status == QueryService.Complete, st.error.getOrElse(""))
      (sync, rows(svc.results(id)))
    }
    def service(session: MeshSession) = new QueryService(session,
      java.nio.file.Files.createTempDirectory("graft_bind_concurrent").toString)
    val serialSession = new MeshSession(spark, Fixtures.mesh, "global")
    val serialSvc = service(serialSession)
    val serial = cases.map { case (u, q) => answer(serialSession, serialSvc, u, q) }
    // the restricted and admin lineitem answers differ, so a request that
    // read another request's binding would be caught
    assert(serial(0) != serial(1))

    // fresh session: every text is a plan-cache miss on its first run
    val session = new MeshSession(spark, Fixtures.mesh, "global")
    val svc = service(session)
    val threads = cases.size
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until 2 * threads).map { i =>
        val (u, q) = cases(i % threads)
        new Callable[(Int, (Seq[String], Seq[String]))] {
          def call() = (i % threads, answer(session, svc, u, q))
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get(5, TimeUnit.MINUTES)).foreach {
        case (c, got) => assert(got == serial(c), s"case $c (${cases(c)}) diverged")
      }
    } finally pool.shutdown()
  }
}
