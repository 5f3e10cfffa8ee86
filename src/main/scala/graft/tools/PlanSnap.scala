package graft.tools

import org.apache.spark.sql.SparkSession

/** Writes `explain("formatted")` for named registered queries to
  * plans/<tag>/<query>_<suffix>.txt (local iteration + judge evidence;
  * not part of the driver contract). Runs in Bench's session profile so
  * the captured plan is the plan the bench runs.
  *
  * Usage: PlanSnap <tag> <suffix> <query...>   e.g. PlanSnap r16 before dedup_clusters
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val tag = args(0); val suffix = args(1); val queries = args.drop(2)
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.batch(sfDir)
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    // PLANSNAP_EXEC=1: run the frame through the noop sink first so the
    // captured plan is the AQE FINAL plan (runtime stage reuse, coalesced
    // reads) — the pre-execution explain cannot show ReusedExchange under
    // AQE (guide §7.2).
    val exec = sys.env.get("PLANSNAP_EXEC").contains("1")
    for (q <- queries) {
      val df = frameFor(q, spark, sfDir)
      // executes THIS QueryExecution (a noop write would wrap the frame in
      // its own, leaving df.queryExecution's plan initial forever) while
      // discarding rows executor-side — no driver collect of unlimited
      // snapshot-build frames.
      if (exec) df.queryExecution.toRdd.foreach(_ => ())
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val file = s"${q.replace(':', '_')}_$suffix.txt"
      java.nio.file.Files.write(dir.resolve(file),
        (s"== $q ($suffix, sf=$sfDir) ==\n" + txt)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plansnap] wrote plans/$tag/$file")
    }
    spark.stop()
  }

  /** Registered face by default; `snapshot_build:<q?>` resolves to the
    * frame `QueryService.buildSnapshot` writes (the read-back face's plan
    * does not change when the BUILD does, so plan evidence for build
    * optimizations must explain the build frame itself).
    * `snapshot_build_old:<q?>` reconstructs the pre-r16 four-pass build
    * (one full ordered live query per service tag, unioned) from the
    * unchanged live paths, for before/after comparison. */
  private def frameFor(q: String, spark: SparkSession, sfDir: String) = {
    import graft.transit.{Queries, QueryService, ServiceFilter, TransitTables, Limit}
    import org.apache.spark.sql.functions.lit
    def t = TransitTables.fromTpch(spark, sfDir)
    val services = Seq(ServiceFilter.Weekday, ServiceFilter.Saturday,
      ServiceFilter.Sunday, ServiceFilter.WholeWeek)
    def taggedOld(f: ServiceFilter => org.apache.spark.sql.DataFrame) =
      services.map(s => f(s).withColumn("service_id_tag",
        lit(s.sid.getOrElse("4")))).reduce(_.unionByName(_))
    q.split(":", 2) match {
      case Array("snapshot_build", name) => QueryService.snapshotFrame(t, name)
      case Array("snapshot_build_old", name) =>
        val tt = t
        name match {
          case QueryService.Q1 => taggedOld(Queries.q1BusiestStops(tt, _, Limit.All))
          case QueryService.Q2 => taggedOld(Queries.q2RouteStats(tt, _, Limit.All))
          case QueryService.Q3 => taggedOld(Queries.q3TransferPoints(tt, _, Limit.All))
          case QueryService.Q4 => taggedOld(Queries.q4ServiceFrequency(tt, _, Limit.All))
          case other => throw new IllegalArgumentException(
            s"no snapshot named $other (expected one of ${QueryService.Q1}, " +
              s"${QueryService.Q2}, ${QueryService.Q3}, ${QueryService.Q4})")
        }
      case _ => graft.SparkEntry.queries(q)(spark, sfDir)
    }
  }
}
