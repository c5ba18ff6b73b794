package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `T.sql` binds the fixture tables of a dir into SQL text with no temp
  * view: every fixture reference — in CTE bodies, EXISTS, LATERAL and
  * recursive CTEs too — reads the dir's table, and nothing is looked up in
  * the session catalog. Each case runs in a child session whose temp views
  * under the fixture names are EMPTY decoys, so a reference that escaped
  * the binder and fell back to the catalog would read no rows. */
class SqlBinderSpec extends AnyFunSuite {
  private val sf = TestSpark.sf

  private def decoySession(): SparkSession = {
    val u = TestSpark.spark.newSession()
    Graft.tables.foreach(t => T.t(u, sf, t).where("false").createOrReplaceTempView(t))
    u
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def views(u: SparkSession): Set[String] =
    u.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a fixture table binds inside a CTE body, an EXISTS subquery, a " +
    "LATERAL subquery and a recursive CTE") {
    val u = decoySession()
    val before = views(u)
    def t(name: String) = T.t(u, sf, name)

    val cte = T.sql(u, sf,
      """WITH big AS (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_totalprice > 100000)
        |SELECT o_orderkey, o_custkey FROM big ORDER BY o_orderkey""".stripMargin)
    val cteWant = t("orders").where(col("o_totalprice") > 100000)
      .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    assert(rows(cteWant).nonEmpty)
    assert(rows(cte) == rows(cteWant))

    val exists = T.sql(u, sf,
      """SELECT n_nationkey FROM nation n WHERE EXISTS
        |  (SELECT 1 FROM supplier p WHERE p.s_nationkey = n.n_nationkey)
        |ORDER BY n_nationkey""".stripMargin)
    val existsWant = t("nation")
      .join(t("supplier"), col("n_nationkey") === col("s_nationkey"), "left_semi")
      .select("n_nationkey").orderBy("n_nationkey")
    assert(rows(existsWant).nonEmpty)
    assert(rows(exists) == rows(existsWant))

    val lateral = T.sql(u, sf,
      """SELECT n_nationkey, top FROM nation n, LATERAL
        |  (SELECT max(c_acctbal) AS top FROM customer c
        |   WHERE c.c_nationkey = n.n_nationkey)
        |ORDER BY n_nationkey""".stripMargin)
    val lateralWant = t("nation")
      .join(t("customer"), col("n_nationkey") === col("c_nationkey"), "left")
      .groupBy("n_nationkey").agg(max("c_acctbal").as("top")).orderBy("n_nationkey")
    assert(rows(lateral).size == t("nation").count())
    assert(rows(lateral) == rows(lateralWant))

    val recursive = T.sql(u, sf,
      """WITH RECURSIVE up(k) AS (
        |  SELECT min(r_regionkey) FROM region
        |  UNION ALL
        |  SELECT k + 1 FROM up WHERE k < 4)
        |SELECT k FROM up ORDER BY k""".stripMargin)
    val regionKeys = rows(t("region").select("r_regionkey").orderBy("r_regionkey"))
    assert(regionKeys == (0 to 4).map(Seq(_)))
    assert(rows(recursive) == regionKeys)

    assert(views(u) == before, "T.sql registered or dropped a temp view")
  }

  test("alias-qualified, table-qualified and unqualified columns resolve " +
    "against a bound table, self-joins included") {
    val u = decoySession()
    val want = rows(T.t(u, sf, "orders").where(col("o_orderkey") < 200)
      .select("o_orderkey", "o_custkey").orderBy("o_orderkey"))
    assert(want.nonEmpty)
    assert(rows(T.sql(u, sf,
      """SELECT o.o_orderkey, o_custkey FROM orders o
        |WHERE o.o_orderkey < 200 ORDER BY o.o_orderkey""".stripMargin)) == want)
    assert(rows(T.sql(u, sf,
      """SELECT orders.o_orderkey, orders.o_custkey FROM orders
        |WHERE orders.o_orderkey < 200 ORDER BY 1""".stripMargin)) == want)
    assert(rows(T.sql(u, sf,
      """SELECT a.o_orderkey, b.o_custkey FROM orders a
        |JOIN orders b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey < 200 ORDER BY 1""".stripMargin)) == want)
  }

  test("a CTE that shadows a fixture name, and an unknown relation, fail " +
    "naming the table instead of reading the session catalog") {
    val u = decoySession()
    T.t(u, sf, "region").createOrReplaceTempView("extras")
    val unknown = intercept[IllegalArgumentException](
      T.sql(u, sf, "SELECT * FROM extras"))
    assert(unknown.getMessage.contains("'extras'"), unknown.getMessage)
    val qualified = intercept[IllegalArgumentException](
      T.sql(u, sf, "SELECT * FROM default.orders"))
    assert(qualified.getMessage.contains("'default.orders'"), qualified.getMessage)
    val shadow = intercept[IllegalArgumentException](T.sql(u, sf,
      "WITH orders AS (SELECT 1 AS o_orderkey) SELECT o_orderkey FROM orders"))
    assert(shadow.getMessage.contains("'orders'"), shadow.getMessage)
  }
}
