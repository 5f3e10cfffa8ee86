package graft

import org.apache.spark.sql.SparkSession

/** The one place an entry point or a test suite gets its SparkSession.
  * Two profiles exist because two kinds of caller do:
  *  - [[Batch]] — the board and oracle engine (`Bench`, `Verify`, the
  *    profilers, the test suites at `local[4]`): `local[cpus]`, `cpus`
  *    shuffle partitions, the data-sized AQE starting grid
  *    ([[Scale.initialShufflePartitions]]) and, once the session exists,
  *    [[Scale.tuneSessionGrid]];
  *  - [[Serving]] — resident request serving (`HttpServe`, `GtfsDemo`):
  *    a request shuffles tiny cached frames, so 4 reducers keep per-request
  *    task dispatch ~free where `cpus` would spend more time scheduling
  *    than computing, and FAIR scheduling keeps one slow request from
  *    convoying every later one behind it.
  * Both let mid-size dims broadcast (64m; on a real cluster AQE re-decides
  * per stage from runtime sizes), run in UTC and keep the UI off.
  * `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_SF_DIR` are read here and nowhere
  * else in the engine. */
object Session {
  sealed trait Profile
  case object Batch extends Profile
  case object Serving extends Profile

  /** The run's scale dir: `SPARK_GRAFT_SF_DIR`, else the sf0.1 tables. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Set-but-blank means unset (a shell passing `CPUS=""` through); any
    * other value must be a positive integer — `local[0]` or `local[abc]`
    * would otherwise fail later inside Spark with no hint of the cause. */
  private[graft] def parseCpus(value: Option[String]): Int =
    value.map(_.trim).filter(_.nonEmpty) match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** The full session conf of a profile, as a value (`sfDir` sizes the
    * batch grid; serving ignores it). */
  def confFor(profile: Profile, sfDir: String, cpus: Int): Seq[(String, String)] = {
    val common = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    profile match {
      case Batch => common ++ Seq(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
          Scale.initialShufflePartitions(sfDir, cpus).toString)
      case Serving => common ++ Seq(
        "spark.sql.shuffle.partitions" -> "4",
        "spark.scheduler.mode" -> "FAIR")
    }
  }

  /** Batch session over `sfDir` at `local[cpus]`, grid refined from its
    * parquet row counts. The entry points take the box's [[cpus]]; the
    * test suites pin 4 so their plans do not depend on the box. */
  def batch(sfDir: String, cpus: Int = Session.cpus): SparkSession = {
    val spark = build(confFor(Batch, sfDir, cpus))
    Scale.tuneSessionGrid(spark, sfDir)
    spark
  }

  def serving(): SparkSession = build(confFor(Serving, "", cpus))

  private def build(conf: Seq[(String, String)]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
