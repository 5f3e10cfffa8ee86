package graft.tools

import org.apache.spark.sql.functions.{array_sort, col, lit, when}

import graft.SparkSpec
import graft.transit._

/** The compact serving layout, checked only through the public accessors
  * the listener calls: dimension values are shared within one build, the
  * timetable groups come back in the live face's order, a build is a
  * pure function of the store, and the driver's time sort is Spark's. */
class ServingCacheSpec extends SparkSpec {

  private lazy val t = GtfsFixture.tables(spark)
  private lazy val docs = Timetable.buildStopTimetables(t).cache()
  private lazy val svc = new QueryService(t)
  private lazy val cache = ServingCache.build(svc, docs)

  private val stops = Seq("A", "B", "C", "D", "E", "HUB", "NOPE")
  private val services = Seq(ServiceFilter.Weekday, ServiceFilter.Saturday,
    ServiceFilter.Sunday, ServiceFilter.WholeWeek)
  private val nullsFirst = Ordering.Option(Ordering.String)

  test("equal dimension values at two different stops are one instance") {
    val routes = stops.flatMap(s => cache.timetableRows(s).toSeq.flatten.map(s -> _._1))
    val sharedRoute = routes.groupBy(_._2).values.find(_.map(_._1).distinct.size > 1)
    assert(sharedRoute.isDefined, s"no route long name spans two stops: $routes")
    sharedRoute.get.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(a eq b, s"route $a is not shared between stops")
      assert(a.get eq b.get)
    }
    val pairs = stops.flatMap(s => cache.routesForStop(s).map(s -> _))
    val sharedPair = pairs.groupBy(_._2).values.find(_.map(_._1).distinct.size > 1)
    assert(sharedPair.isDefined, s"no (short, head) pair spans two stops: $pairs")
    sharedPair.get.map(_._2).sliding(2).foreach { case Seq((s1, h1), (s2, h2)) =>
      assert((s1 eq s2) && (h1 eq h2), s"pair ($s1, $h1) is not shared between stops")
    }
  }

  test("timetableRows come back in (route, head) nulls-first order, as the live face sorts") {
    // null out one route's long name so the nulls-first rule has work to do
    val t2 = t.copy(routes = t.routes.withColumn("route_long_name",
      when(col("route_id") === "R2", lit(null)).otherwise(col("route_long_name"))))
    val docs2 = Timetable.buildStopTimetables(t2).cache()
    val c = ServingCache.build(new QueryService(t2), docs2)
    val hub = c.timetableRows("HUB").get
    assert(hub.head._1.isEmpty && hub.exists(_._1.isDefined),
      s"HUB must serve both a null and a named route: $hub")
    stops.foreach { s =>
      val rows = c.timetableRows(s).toSeq.flatten
      val keys = rows.map(r => (r._1, r._2))
      assert(keys == keys.sorted(Ordering.Tuple2(nullsFirst, nullsFirst)), s"$s: $keys")
      val live = Timetable.getTimetable(docs2, s).collect().toSeq
        .map(r => (Option(r.getAs[String]("route_long_name")),
          Option(r.getAs[String]("trip_headsign")), r.getAs[String]("departure_times")))
      assert(rows == live, s"$s: cached $rows vs live $live")
    }
  }

  test("two builds over the same store answer every accessor identically") {
    val again = ServingCache.build(svc, docs)
    assert(again.api == cache.api && again.stopsBody == cache.stopsBody)
    stops.foreach { s =>
      assert(again.timetableRows(s) == cache.timetableRows(s), s)
      assert(again.routesForStop(s) == cache.routesForStop(s), s)
      services.foreach { f =>
        assert(again.arrivalsGrouped(s, f) == cache.arrivalsGrouped(s, f), s"$s $f")
        cache.arrivalsGrouped(s, ServiceFilter.WholeWeek).foreach { case (short, head, _, _) =>
          val shortName = short.getOrElse("")
          assert(again.arrivalsFlat(s, shortName, head, f) ==
            cache.arrivalsFlat(s, shortName, head, f), s"$s $shortName $head $f")
        }
      }
    }
    // the dictionary is per build: a rebuild holds values of its own
    val a = cache.timetableRows("HUB").get.head._1
    val b = again.timetableRows("HUB").get.head._1
    assert(a == b && !(a eq b), "a rebuild must not reuse another build's values")
  }

  test("the driver's String sort of a stop's times is Spark's array_sort: every time is ASCII HH:MM:SS") {
    // mergeTimes re-sorts collected times as Java Strings (UTF-16 order)
    // while the live faces sort with array_sort (UTF-8 binary order); the
    // two agree on the store's ASCII HH:MM:SS times
    val sf = Timetable.buildStopTimetables(TransitTables.fromTpch(spark, "/root/testdata/sf0.001"))
    val hhmmss = "[0-9]{2}:[0-9]{2}:[0-9]{2}"
    Seq("fixture" -> docs, "sf0.001" -> sf).foreach { case (name, d) =>
      val rows = d.select(col("stop_id").cast("string"),
          col("upcoming_services.departure_time"),
          array_sort(col("upcoming_services.departure_time")))
        .collect()
      assert(rows.exists(_.getSeq[String](1).size > 1), s"$name: no stop has two times")
      rows.foreach { r =>
        val times = r.getSeq[String](1)
        times.foreach(x => assert(x != null && x.matches(hhmmss), s"$name ${r.getString(0)}: $x"))
        assert(times.sorted == r.getSeq[String](2), s"$name ${r.getString(0)}")
      }
    }
  }
}
