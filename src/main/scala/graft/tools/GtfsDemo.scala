package graft.tools

import graft.sources.GtfsReader
import graft.transit._

/** Example CLI: run the transit engine over a real GTFS feed directory.
  *
  * Usage: runMain graft.tools.GtfsDemo <feedDir> [serviceId] [limit]
  *
  * This is the library's user-facing entry for actual GTFS data (the
  * driver's Verify/Bench contract uses the TPC-H derivation instead); it
  * mirrors the reference's four API endpoints + timetable lookups.
  */
object GtfsDemo {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GtfsDemo <feedDir> [serviceId] [limit]")
    val feedDir = args(0)
    val service = ServiceFilter.fromParam(args.lift(1))
    val limit = Limit.fromParam(args.lift(2))

    // serving profile: the demo answers the reference's request surface
    // over one feed, and a CSV feed dir has no parquet rows to size a grid
    val spark = graft.Session.serving()

    val t = GtfsReader.readFeed(spark, feedDir)
    println(s"== Q1 busiest stops (service=${service.sid.getOrElse("whole-week")}) ==")
    Queries.q1BusiestStops(t, service, limit).show(truncate = false)
    println("== Q2 route duration/speed ==")
    Queries.q2RouteStats(t, service, limit).show(truncate = false)
    println("== Q3 transfer points ==")
    Queries.q3TransferPoints(t, service, limit).show(truncate = false)
    println("== Q4 service frequency ==")
    Queries.q4ServiceFrequency(t, service, limit).show(truncate = false)

    val docs = Timetable.buildStopTimetables(t).cache()
    println("== stops ==")
    Timetable.getStops(docs).show(5, truncate = false)
    val firstStop = Timetable.getStops(docs).head().get(0)
    println(s"== arrivals at $firstStop ==")
    Timetable.getArrivalsGrouped(docs, firstStop, service).show(truncate = false)
    spark.stop()
  }
}
