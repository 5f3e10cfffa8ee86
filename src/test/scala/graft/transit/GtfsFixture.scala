package graft.transit

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.sources.GtfsReader

/** The FIXTURES.md §3 micro-feed: 3 routes, 6 stops, 8 trips, every SURVEY
  * §7.4 trap — >24h times (T5), HAVING>60 exclusion (T6), NOT IN SERVICE
  * (T7), null shape_dist (T8), null stop_code (B), null route_short_name
  * (R2), whole-week trichotomy (T3/T4 on services 2/3). Written as real GTFS
  * CSV so the tests also exercise the GtfsReader source end-to-end. */
object GtfsFixture {

  private def write(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content.stripMargin.trim + "\n")

  def feedDir(): String = {
    val dir = graft.Scratch.fresh("gtfs_fixture")
    write(dir, "calendar.txt",
      """service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date
        |1,1,1,1,1,1,0,0,20250101,20251231
        |2,0,0,0,0,0,1,0,20250101,20251231
        |3,0,0,0,0,0,0,1,20250101,20251231
        |9,1,1,1,1,1,1,1,20240101,20240630""")
    write(dir, "routes.txt",
      """route_id,agency_id,route_short_name,route_long_name,route_desc,route_type,route_color
        |R1,,504,KING,,0,
        |R2,,,QUEEN,,0,
        |R3,,300,NIGHT,,3,""")
    write(dir, "trips.txt",
      """trip_id,route_id,service_id,trip_headsign,direction_id,wheelchair_accessible,bikes_allowed,shape_id
        |T1,R1,1,Downtown,0,,,
        |T2,R1,1,Downtown,0,,,
        |T3,R1,2,Downtown,0,,,
        |T4,R1,3,Downtown,0,,,
        |T5,R3,1,Night Owl,0,,,
        |T6,R2,1,Beaches,0,,,
        |T7,R2,1,NOT IN SERVICE,0,,,
        |T8,R1,1,Downtown,1,,,""")
    write(dir, "stops.txt",
      """stop_id,stop_code,stop_name,stop_desc,stop_lat,stop_lon,zone_id,wheelchair_boarding
        |A,A1,Alpha,,43.1,-79.1,,
        |B,,Bravo,,43.3,-79.3,,
        |C,C1,Charlie,,43.6532985,-79.3831843,,
        |D,D1,Delta,,43.5,-79.5,,
        |E,E1,Echo,,43.9,-79.9,,
        |HUB,H1,Hub Central,,43.2,-79.2,,""")
    write(dir, "stop_times.txt",
      """trip_id,arrival_time,departure_time,stop_id,stop_sequence,stop_headsign,pickup_type,drop_off_type,shape_dist_traveled
        |T1,08:00:00,08:00:00,A,1,,,,0.0
        |T1,08:05:00,08:05:00,HUB,2,,,,2.5
        |T1,08:10:00,08:10:00,B,3,,,,5.0
        |T2,09:00:00,09:00:00,A,1,,,,0.0
        |T2,09:06:00,09:06:00,HUB,2,,,,3.0
        |T2,09:12:00,09:12:00,B,3,,,,6.0
        |T3,10:00:00,10:00:00,A,1,,,,0.0
        |T3,10:10:00,10:10:00,HUB,2,,,,5.0
        |T4,11:00:00,11:00:00,A,1,,,,0.0
        |T4,11:08:00,11:08:00,HUB,2,,,,4.0
        |T5,25:45:00,25:45:00,HUB,1,,,,0.0
        |T5,26:10:00,26:10:00,C,2,,,,10.0
        |T6,12:00:00,12:00:00,HUB,1,,,,0.0
        |T6,12:00:45,12:00:45,C,2,,,,0.5
        |T7,13:00:00,13:00:00,HUB,1,,,,0.0
        |T7,13:30:00,13:30:00,D,2,,,,3.0
        |T8,14:00:00,14:00:00,A,1,,,,
        |T8,14:20:00,14:20:00,B,2,,,,""")
    dir.toString
  }

  @volatile private var cached: Option[TransitTables] = None
  def tables(spark: SparkSession): TransitTables = synchronized {
    cached.getOrElse {
      val t = GtfsReader.readFeed(spark, feedDir())
      val c = TransitTables(t.stopTimes.cache(), t.trips.cache(), t.stops.cache(), t.routes.cache())
      cached = Some(c)
      c
    }
  }
}
