package perfbench

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Failures are recorded as failures: an injected throwing face, a face
  * whose answer changes, a wrong-body response and a 5xx each come back
  * with `ok = false`, never as a timed success. */
class FailureSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def face(n: Int): Batch.Face = (s: SparkSession, _: String) =>
    s.range(n).select(col("id"), (col("id") * 0.1).as("x"))

  test("a throwing face is a failed record with its error") {
    val boom: Batch.Face = (_: SparkSession, _: String) =>
      throw new IllegalStateException("injected")
    val (r, _) = Batch.runFace(spark, "", "boom", Some(boom), "timed", None)
    assert(!r.ok)
    assert(r.err.contains("injected"))
  }

  test("a face missing from the registry is a failed record") {
    val (r, _) = Batch.runFace(spark, "", "nope", None, "timed", None)
    assert(!r.ok && r.err.contains("no face named nope"))
  }

  test("the fingerprint is stable across runs and moves with the answer") {
    val (a, _) = Batch.runFace(spark, "", "f", Some(face(100)), "timed", None)
    val (b, _) = Batch.runFace(spark, "", "f", Some(face(100)), "timed", None)
    val (c, _) = Batch.runFace(spark, "", "f", Some(face(101)), "timed", None)
    assert(a.ok && b.ok && c.ok)
    assert(a.rows == 100 && (a.rows, a.fp) == (b.rows, b.fp))
    assert((c.rows, c.fp) != (a.rows, a.fp))
    val wrong: Batch.Face = (s: SparkSession, d: String) =>
      face(100)(s, d).withColumn("x", when(col("id") === 7, lit(9.9)).otherwise(col("x")))
    val (w, _) = Batch.runFace(spark, "", "f", Some(wrong), "timed", None)
    assert(w.rows == a.rows && w.fp != a.fp)
  }

  private def stub(status: Int, body: String)(f: Int => Unit): Unit = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 8)
    server.createContext("/", ex => {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  test("a wrong-body response is a failed record") {
    stub(200, """{"items":[1]}""") { port =>
      val c = Serve.newClient()
      val good = Serve.attempt(c, port, "/api/q1", "timed", Some((200, """{"items":[1]}""".getBytes("UTF-8"))))
      val bad = Serve.attempt(c, port, "/api/q1", "timed", Some((200, """{"items":[2]}""".getBytes("UTF-8"))))
      assert(good.ok)
      assert(!bad.ok && bad.err == "body mismatch" && bad.name == "api_q1")
    }
  }

  test("a 5xx is a failed record even when it was expected") {
    stub(500, "oops") { port =>
      val r = Serve.attempt(Serve.newClient(), port, "/get_stops", "timed",
        Some((500, "oops".getBytes("UTF-8"))))
      assert(!r.ok && r.err == "status 500")
    }
  }

  test("interval union clips and merges") {
    assert(Trace.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    assert(Trace.unionMs(Nil, 0L, 10L) == 0L)
  }
}
