package graft.tools

/** What the listener specs share: one GET over a real socket, and the
  * GTFS fixture's request paths. */
object ServeWire {

  def get(server: HttpServe.ServingHandle, path: String): (Int, String) = {
    val conn = new java.net.URI(
      s"http://127.0.0.1:${server.port}$path").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    in.close()
    (code, body)
  }

  /** The fixture's stops plus one it does not have. */
  val stops: Seq[String] = Seq("A", "B", "C", "D", "E", "HUB", "NOPE")

  /** Routes exercising every endpoint family — the auto-gate, refresh and
    * residency faces byte-compare these across listener configurations. */
  val allRoutes: Seq[String] =
    Seq("/get_stops", "/api/q1?service_id=1&limit=20", "/api/q3?limit=all") ++
      stops.flatMap(s => Seq(s"/get_timetable?stop_id=$s",
        s"/get_routes_for_stop?stop_id=$s",
        s"/get_arrivals?stop_id=$s&service_id=2"))
}
