package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `batch_faces` workload: one client runs the sampled faces one at a
  * time through `fn(spark, sfDir)` plus a sink. The untimed pass writes
  * each output as parquet for the oracle check; timed runs write to the
  * noop sink.
  * Every run carries an order-independent fingerprint of its output (row
  * count + hash), observed during the same action. */
object Batch {
  type Face = (SparkSession, String) => DataFrame

  /** Prime modulus for the per-row hash, so a sum over millions of rows
    * stays far inside a long. */
  private val HashMod = 4294967291L

  /** Doubles are compared to 10 significant digits (the oracle check's
    * rule), so last-bit summation-order noise is not a wrong answer. */
  private def normalized(df: DataFrame, f: StructField): Column = {
    val c = df.col("`" + f.name.replace("`", "``") + "`")
    f.dataType match {
      case DoubleType | FloatType => format_string("%.10g", c)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.10g", x))
      case _: MapType => to_json(c)
      case _ => c
    }
  }

  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map(normalized(df, _))
    val rowHash =
      if (cols.isEmpty) lit(0L)
      else pmod(xxhash64(cols: _*), lit(HashMod))
    df.observe(obs, count(lit(1)).as("n"), coalesce(sum(rowHash), lit(0L)).as("h"))
  }

  /** Run one face. Returns the record and the wall-clock millisecond at
    * which `fn` returned (the end of its build, before the action). */
  def runFace(spark: SparkSession, data: String, name: String,
      fn: Option[Face], phase: String, sink: Option[String]): (OpRec, Double) = {
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    var builtAt = startMs
    def done(ok: Boolean, rows: Long = -1L, fp: Long = 0L, err: String = "") =
      (OpRec(phase, "face", name, startMs, (System.nanoTime() - t0) / 1e6, ok,
        rows = rows, fp = fp, err = err), builtAt)
    try {
      val f = fn.getOrElse(throw new NoSuchElementException(s"no face named $name"))
      val df = f(spark, data)
      builtAt = startMs + (System.nanoTime() - t0) / 1e6
      val obs = Observation(s"perfbench_${name}_${System.nanoTime()}")
      val w = fingerprinted(df, obs).write.mode("overwrite")
      sink match {
        case Some(path) => w.parquet(path)
        case None       => w.format("noop").save()
      }
      val m = obs.get
      done(ok = true, rows = m("n").asInstanceOf[Long], fp = m("h").asInstanceOf[Long])
    } catch {
      case NonFatal(e) => done(ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  final case class Result(recs: Seq[OpRec], windowMs: Double,
      layers: Map[String, Double])

  /** The untimed pass: every face once, written as parquet under
    * `outDir/faces` for the oracle check. It also warms the JVM. */
  def untimed(spark: SparkSession, data: String, faces: Seq[String],
      registry: Map[String, Face], outDir: String): Seq[OpRec] =
    faces.map { n =>
      val (r, _) = runFace(spark, data, n, registry.get(n), "untimed",
        Some(s"$outDir/faces/$n"))
      Out.log(f"untimed $n ${r.durMs}%.0f ms ok=${r.ok}")
      r
    }

  /** Whole timed passes over the faces, in the same order, until
    * `seconds` have been spent in timed runs: every run weighs the faces
    * alike. */
  def timed(spark: SparkSession, data: String, faces: Seq[String],
      registry: Map[String, Face], seconds: Double, trace: Option[Trace]): Result = {
    // as in graft.Bench, a collection before every timed run: eager
    // checkpoint blocks of earlier runs are released only once their RDDs
    // are collected, and each face should pay for its own garbage. The
    // window is the time spent in timed runs, without these pauses.
    val timed = Vector.newBuilder[(OpRec, Double)]
    val w0 = System.currentTimeMillis()
    var windowMs = 0.0
    var i = 0
    while (i == 0 || i % faces.size != 0 || windowMs / 1e3 < seconds) {
      val n = faces(i % faces.size)
      System.gc()
      val op = runFace(spark, data, n, registry.get(n), "timed", None)
      windowMs += op._1.durMs
      timed += op
      i += 1
    }
    val w1 = System.currentTimeMillis()
    val ops = timed.result()
    Out.log(f"batch: ${ops.size} timed runs in $windowMs%.0f ms")
    val layers = trace.map { t =>
      t.drain()
      Layers.batch(t, ops, faces, w0, w1)
    }.getOrElse(Map.empty)
    Result(ops.map(_._1), windowMs, layers)
  }
}
