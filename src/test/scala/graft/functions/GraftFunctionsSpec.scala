package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** A [[GraftFunctions]] column is a plain Column over its native
  * expression: building and running one writes nothing into a session's
  * function registry, and no session function of the same name can stand
  * in for it. Each check runs in its own child session. */
class GraftFunctionsSpec extends AnyFunSuite with SparkSpec {

  /** The `prettyName` of every native expression. */
  private val graftNames = Seq(
    "graft_simhash32", "graft_minhash32", "graft_dot", "graft_token_hashes",
    "graft_shingle_set", "graft_shingle_all", "graft_pretoken_stats",
    "graft_pii_scan", "graft_pq_encode", "graft_pyround",
    "graft_bloom_contains", "graft_topk_words")

  test("building and running a graft column registers no function in the session") {
    val s = spark.newSession()
    import s.implicits._
    val r = Seq((Seq(1.5f, 2.0f), "a b c d")).toDF("v", "text")
      .select(GraftFunctions.dot(col("v"), col("v")).as("d"),
        size(GraftFunctions.shingleSet(col("text"))).as("n"))
      .head()
    assert(r.getDouble(0) == 6.25 && r.getInt(1) == 2)
    val registry = s.sessionState.functionRegistry
    val present = graftNames.filter(n => registry.functionExists(FunctionIdentifier(n)))
    assert(present.isEmpty, s"registered in the session: ${present.mkString(", ")}")
  }

  test("a session function named graft_dot does not replace the native dot product") {
    val s = spark.newSession()
    import s.implicits._
    s.udf.register("graft_dot", (_: Seq[Float], _: Seq[Float]) => -1.0)
    val df = Seq((Seq(1.5f, 2.0f), Seq(2.0f, 4.0f))).toDF("a", "b")
    // the UDF is live in this session: SQL text that names it gets it
    assert(df.selectExpr("graft_dot(a, b)").head().getDouble(0) == -1.0)
    assert(df.select(GraftFunctions.dot(col("a"), col("b"))).head().getDouble(0) == 11.0)
  }
}
