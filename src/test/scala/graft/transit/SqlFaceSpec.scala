package graft.transit

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec

/** The SQL-text face must be row-for-row identical to the DataFrame face —
  * they are two parses of the same declarative semantics — and its table
  * names bind inside the parsed query only: per call, in the caller's
  * session, never through the catalog. */
class SqlFaceSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val otherDir = dir.replace("sf0.001", "sf0.01") // ten times larger

  private val faces: Seq[(String, TransitTables => DataFrame, TransitTables => DataFrame)] = Seq(
    ("Q1", SqlFace.q1Weekday, Queries.q1BusiestStops(_, ServiceFilter.Weekday)),
    ("Q2", SqlFace.q2Weekday, Queries.q2RouteStats(_, ServiceFilter.Weekday)),
    ("Q3", SqlFace.q3Weekday, Queries.q3TransferPoints(_, ServiceFilter.Weekday)),
    ("Q4", SqlFace.q4Weekday, Queries.q4ServiceFrequency(_, ServiceFilter.Weekday)))

  for ((q, sqlFace, dfFace) <- faces)
    test(s"spark.sql $q text equals the DataFrame $q plan") {
      val t = TransitTables.fromTpch(spark, dir)
      val sql = sqlFace(t)
      assert(sql.sparkSession eq spark, "the SQL face runs in the bundle's session")
      assert(sql.collect().toSeq == dfFace(t).collect().toSeq)
    }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("two data dirs bind in one session, interleaved, without temp views") {
    val viewsBefore = tempViews()
    val ta = TransitTables.fromTpch(spark, dir)
    val tb = TransitTables.fromTpch(spark, otherDir)
    // build both before collecting either: a session-global binding made
    // by the second build would retarget the first
    val a = SqlFace.q1Weekday(ta)
    val b = SqlFace.q1Weekday(tb)
    val rowsA = a.collect().toSeq
    val rowsB = b.collect().toSeq
    assert(rowsA == Queries.q1BusiestStops(ta, ServiceFilter.Weekday).collect().toSeq)
    assert(rowsB == Queries.q1BusiestStops(tb, ServiceFilter.Weekday).collect().toSeq)
    assert(rowsA != rowsB, "the two dirs must give different answers")
    assert(tempViews() == viewsBefore, "binding registered a temp view")
  }

  test("a listener on the caller's session sees the SQL face's execution") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = graft.SparkEntry.queries("transit_q1_sqltext")(spark, dir)
      df.collect()
      GraftBus.drain(spark.sparkContext)
      assert(seen.asScala.exists(_ eq df.queryExecution),
        "the SQL face's collect never reached the caller's listener")
    } finally spark.listenerManager.unregister(listener)
  }

  test("an unbound table name or a CTE shadowing a bound name throws") {
    val t = TransitTables.fromTpch(spark, dir)
    val tables = Map("trips" -> t.trips, "stops" -> t.stops)
    // a name only the catalog knows must not resolve there
    t.routes.createOrReplaceTempView("sqlface_catalog_only")
    try {
      for (text <- Seq(
          "SELECT * FROM sqlface_catalog_only",
          "SELECT * FROM trips WHERE EXISTS (SELECT 1 FROM sqlface_catalog_only)",
          "WITH x AS (SELECT * FROM sqlface_catalog_only) SELECT * FROM x",
          "SELECT * FROM default.trips")) {
        val ex = intercept[IllegalArgumentException](SqlFace.sql(tables, text))
        assert(ex.getMessage.contains("not bound"), text)
      }
    } finally spark.catalog.dropTempView("sqlface_catalog_only")
    val ex = intercept[IllegalArgumentException] {
      SqlFace.sql(tables, "WITH trips AS (SELECT 1 AS trip_id) SELECT * FROM trips")
    }
    assert(ex.getMessage.contains("shadows"))
    // bound names, CTE names in scope and case-insensitive matching all bind
    assert(SqlFace.sql(tables,
      "WITH s AS (SELECT stop_id FROM STOPS) SELECT count(*) FROM s JOIN trips ON false")
      .collect().head.getLong(0) == 0L)
  }
}
