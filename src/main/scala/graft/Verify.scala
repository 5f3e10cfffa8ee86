package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes (local iteration
    // only), parsed as Bench's SPARK_GRAFT_ONLY; None selects every face
    val prefixes = Bench.parseOnly(args.lift(2))
    val spark = Session.batch(sfDir)
    new java.io.File(outDir).mkdirs()
    def selected(name: String) = prefixes.forall(_.exists(name.startsWith))
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in an oracle SQL text
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness. A subset run lists only its own keys, so
    // tools/check.py can judge it
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
