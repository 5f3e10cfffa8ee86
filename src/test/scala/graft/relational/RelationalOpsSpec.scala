package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Behavior checks for the round-4 relational additions (the oracle gate
  * proves cross-engine equality; these pin the semantics). */
class RelationalOpsSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("lateral top-per-key equals the window-rank formulation") {
    val lateral = RelationalQueries.lateralTopPerKey(spark, sf).collect()
    assert(lateral.nonEmpty)
    // reference formulation: row_number over (nation) on the joined frame
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val windowed = graft.sources.Tables.customer(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("n_name"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("n_name"), col("c_acctbal").desc, col("c_custkey"))
      .collect()
    assert(lateral.toSeq == windowed.toSeq,
      "LATERAL limit-per-key must equal window top-k")
    // every nation contributes at most 2 rows
    lateral.groupBy(_.getString(0)).foreach { case (_, rs) => assert(rs.length <= 2) }
  }

  test("gaps-islands: island arithmetic is internally consistent") {
    val rows = RelationalQueries.gapsIslands(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (days, islands, longest) =
        (r.getAs[Long]("n_active_days"), r.getAs[Long]("n_islands"),
          r.getAs[Long]("longest_streak"))
      assert(islands >= 1 && islands <= days)
      assert(longest >= 1 && longest <= days)
      // pigeonhole: islands * longest >= days requires longest >= days/islands
      assert(longest * islands >= days,
        s"user ${r.getAs[Long]("user_id")}: max streak too small for day count")
    }
  }

  test("gaps-islands: hand-built fixture splits runs exactly at gaps") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"), // gap -> new island
      (2L, "2024-02-10"), (2L, "2024-02-12"), (2L, "2024-02-14"))
      .toDF("user_id", "ds").select(col("user_id"), to_date(col("ds")).as("d"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val islands = fixture.distinct()
      .withColumn("anchor", date_sub(col("d"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor")).agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("len")).as("longest"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(islands(1L) == ((2L, 3L)), "user 1: runs {1-3},{5}")
    assert(islands(2L) == ((3L, 1L)), "user 2: alternate days never merge")
  }

  test("unpivot emits one row per (group, metric) and inverts the wide frame") {
    val long = RelationalQueries.unpivot(spark, sf).collect()
    val groups = long.map(_.getString(0)).distinct
    assert(long.length == groups.length * 3)
    val byMetric = long.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byMetric == Map("total_price" -> groups.length,
      "avg_price" -> groups.length, "n_orders" -> groups.length))
    // n_orders values match a direct count
    val direct = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    long.filter(_.getString(1) == "n_orders").foreach { r =>
      assert(r.getDouble(2) == direct(r.getString(0)))
    }
  }

  test("date spine: continuous daily coverage, gaps filled with explicit zeros") {
    val rows = RelationalQueries.dateSpine(spark, sf).collect()
    assert(rows.nonEmpty)
    val days = rows.map(_.getString(0))
    // spine is continuous: row count equals the full min..max day span
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(days.head), java.time.LocalDate.parse(days.last)) + 1
    assert(rows.length.toLong == span, s"${rows.length} rows over $span days")
    // zero-filled days exist and carry exactly (0, 0.0)
    val zeros = rows.filter(_.getAs[Long]("n_orders") == 0L)
    assert(zeros.forall(_.getAs[Double]("total_price") == 0.0))
    // totals agree with a direct aggregate (no rows lost to the join)
    val direct = graft.sources.Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == direct)
  }

  test("window share: per-group shares sum to 1, top/third prices consistent") {
    val rows = RelationalQueries.windowShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (g, rs) =>
      val shares = rs.map(_.getAs[Double]("pct_of_total"))
      assert(math.abs(shares.sum - 1.0) < 1e-3, s"$g: shares sum ${shares.sum}")
      val prices = rs.map(_.getAs[Double]("o_totalprice")).sorted(Ordering[Double].reverse)
      assert(rs.forall(_.getAs[Double]("top_price") == prices.head), s"$g top")
      val third = rs.head.getAs[Any]("third_price")
      if (prices.length >= 3) assert(third == prices(2), s"$g third")
      else assert(third == null, s"$g third should be null with <3 rows")
    }
  }

  test("try ops: garbage strings and zero denominators null out, never throw") {
    val rows = RelationalQueries.tryOps(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, parsed, divNull) = (r.getAs[Long]("n"),
        r.getAs[Long]("n_parsed"), r.getAs[Long]("n_div_null"))
      // ~1/3 of keys parse, ~1/5 of denominators are zero
      assert(parsed > 0 && parsed < n)
      assert(divNull > 0 && divNull < n)
      assert(math.abs(parsed.toDouble / n - 1.0 / 3) < 0.1)
      assert(math.abs(divNull.toDouble / n - 1.0 / 5) < 0.1)
    }
  }

  test("upsert: deletes drop, updates bump, inserts add — row accounting exact") {
    val snap = graft.sources.Tables.customer(spark, sf)
    val total = snap.count()
    val deleted = snap.filter(col("c_custkey") % 10 === 4).count()
    val inserted = snap.filter(col("c_custkey") % 100 === 7).count()
    val updated = snap.filter(col("c_custkey") % 10 === 3).count()
    val out = RelationalQueries.upsert(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_rows")).sum == total - deleted + inserted)
    assert(out.map(_.getAs[Long]("n_changed")).sum == updated + inserted)
  }

  test("scd2: intervals chain without overlap, exactly one current row per key") {
    val rows = RelationalQueries.scd2(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("custkey")).foreach { case (k, rs) =>
      val ordered = rs.sortBy(r =>
        (r.getAs[String]("valid_from"), r.getAs[Long]("version_key")))
      // exactly one open (current) interval, and it is the last one
      assert(ordered.count(_.getAs[Boolean]("is_current")) == 1, s"key $k")
      assert(ordered.last.getAs[Boolean]("is_current"), s"key $k")
      // each interval closes where the next opens (no gaps, no overlap)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[String]("valid_to") == b.getAs[String]("valid_from"),
            s"key $k: interval chain broken")
        case _ =>
      }
      ordered.init.foreach(r => assert(r.getAs[Int]("days_valid") >= 0))
    }
  }

  test("funnel: stage counts monotone non-increasing, rates consistent") {
    val r = RelationalQueries.funnel(spark, sf).collect().head
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(v >= c && c >= p, s"funnel must narrow: $v >= $c >= $p")
    assert(math.abs(r.getAs[Double]("view_to_click") - c.toDouble / v) < 1e-4)
    assert(math.abs(r.getAs[Double]("click_to_purchase") - p.toDouble / c) < 1e-4)
  }

  test("cohorts: age-0 row holds the full cohort, later ages never exceed it") {
    val rows = RelationalQueries.cohorts(spark, sf).collect()
      .groupBy(_.getAs[String]("cohort_week"))
    assert(rows.nonEmpty)
    rows.foreach { case (wk, rs) =>
      val byAge = rs.map(r => r.getAs[Long]("age_weeks") -> r.getAs[Long]("n_users")).toMap
      assert(byAge.contains(0L), s"$wk: every cohort is active in its own week")
      byAge.foreach { case (age, n) =>
        assert(age >= 0 && n <= byAge(0L), s"$wk age $age retention above cohort size")
      }
    }
  }

  test("interpolate: statuses partition the spine, lerp lies between neighbors") {
    val rows = RelationalQueries.interpolate(spark, sf).collect()
    assert(rows.length >= 720, "full hourly spine per event type")
    rows.groupBy(_.getString(0)).foreach { case (_, series) =>
      val sorted = series.sortBy(_.getAs[String]("hour"))
      var seen = Seq.empty[(String, Option[Double])]
      sorted.foreach { r =>
        val v = Option(r.getAs[java.lang.Double]("value")).map(_.toDouble)
        val st = r.getAs[String]("status")
        assert((st == "missing") == v.isEmpty, s"status/value mismatch: $st $v")
        seen :+= (st -> v)
      }
      // every interpolated value lies within [min, max] of the nearest
      // known neighbors on each side
      val known = sorted.zipWithIndex.filter(_._1.getAs[String]("status") == "known")
      for (((r, i), _) <- sorted.zipWithIndex.filter(_._1.getAs[String]("status") == "interpolated").zipWithIndex) {
        val before = known.filter(_._2 < i).lastOption
        val after = known.find(_._2 > i)
        assert(before.isDefined && after.isDefined, "interpolated needs both neighbors")
        val (lo, hi) = (math.min(before.get._1.getAs[Double]("value"),
          after.get._1.getAs[Double]("value")),
          math.max(before.get._1.getAs[Double]("value"),
            after.get._1.getAs[Double]("value")))
        val v = r.getAs[Double]("value")
        assert(v >= lo - 1e-4 && v <= hi + 1e-4, s"lerp $v outside [$lo, $hi]")
      }
    }
  }

  test("temporal join: every fact resolves to exactly one dimension version") {
    val rows = RelationalQueries.temporalJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_versions") == 1L,
      s"fact matched ${r.getAs[Long]("n_versions")} versions: $r"))
  }

  test("event transitions: rows per user = events - 1, shares sum to 1") {
    val rows = RelationalQueries.eventTransitions(spark, sf).collect()
    val totalTransitions = rows.map(_.getAs[Long]("n")).sum
    val events = graft.sources.Tables.events(spark, sf)
    val expected = events.count() - events.select("user_id").distinct().count()
    assert(totalTransitions == expected,
      s"every consecutive pair counted once: $totalTransitions != $expected")
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
    }
  }

  test("equi-depth histogram: buckets near-uniform, ranges ordered and disjoint") {
    val rows = RelationalQueries.equidepthHist(spark, sf).collect()
      .sortBy(_.getAs[Int]("bucket"))
    assert(rows.length == 10)
    val counts = rows.map(_.getAs[Long]("n_rows"))
    val total = counts.sum
    counts.foreach(c => assert(math.abs(c - total / 10.0) < total * 0.02,
      s"equi-depth bucket off uniform: $c vs ${total / 10.0}"))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"),
          "bucket ranges must not overlap")
      case _ =>
    }
  }

  test("time decay: hand-computed half-life weights; over-horizon events weigh zero") {
    import spark.implicits._
    val T = 1000000000000000000L // ts is raw parquet nanos; day = 86400e9
    val day = 86400L * 1000000000L
    val dir = graft.Scratch.fresh("decay").toString
    Seq(
      ("a", T, 2.0), ("a", T - day, 2.0),        // 2·2^0 + 2·2^-1 = 3.0
      ("b", T - 2 * day, 4.0),                   // 4·2^-2 = 1.0
      ("b", T - 70 * day, 512.0))                // past cap → weight 0, still counted
      .toDF("event_type", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    val rows = RelationalQueries.timeDecay(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows == Map("a" -> ((2L, 3.0)), "b" -> ((2L, 1.0))))
  }

  test("incremental join view: old view + delta reassembles the full view (multiset)") {
    import graft.sources.Tables
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_orderstatus"))
    val l = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val full = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"), col("l_quantity"))
    val old = o.filter(col("o_orderkey") % 50 =!= 0)
      .join(l.filter(col("l_orderkey") % 71 =!= 0), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"), col("l_quantity"))
    val delta = RelationalQueries.incrementalJoin(spark, sf)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(bag(old.unionAll(delta)) == bag(full))
  }

  test("skyline: output is exactly the non-dominated set (brute-force cross-check)") {
    val pts = graft.sources.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def dominated(a: (Long, Double, Int)) = pts.exists(b =>
      (b._2 < a._2 && b._3 >= a._3) || (b._2 <= a._2 && b._3 > a._3))
    val expected = pts.filterNot(dominated).map(_._1).toSet
    val got = RelationalQueries.skyline(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("mode: returned value is a true maximizer, smallest among ties") {
    val modes = RelationalQueries.modePerGroup(spark, sf).collect()
    val counts = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_quantity")).count().collect()
      .groupBy(_.getString(0))
    modes.foreach { r =>
      val (flag, v, c) =
        (r.getString(0), r.getDouble(1), r.getAs[Long]("mode_count"))
      val grp = counts(flag).map(x => x.getDouble(1) -> x.getLong(2)).toMap
      val maxCnt = grp.values.max
      assert(c == maxCnt, s"$flag: mode count")
      assert(grp(v) == maxCnt, s"$flag: value $v is not a maximizer")
      assert(grp.filter(_._2 == maxCnt).keys.min == v, s"$flag: tie-break")
    }
  }

  test("seasonal outliers: residuals recompute from the cell means") {
    val rows = RelationalQueries.seasonal(spark, sf).collect()
    assert(rows.length == 15)
    val cells = graft.sources.Tables.events(spark, sf)
      .select((dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("hr"), col("value"))
      .collect().groupBy(r => (r.getAs[Int]("dow"), r.getAs[Int]("hr")))
      .view.mapValues(rs => (rs.length.toLong,
        rs.map(_.getAs[Double]("value")).sum / rs.length)).toMap
    rows.foreach { r =>
      val key = (r.getAs[Int]("dow"), r.getAs[Int]("hr"))
      val (n, mu) = cells(key)
      assert(r.getAs[Long]("n_cell") == n)
      assert(math.abs(r.getAs[Double]("seasonal_mean") - mu) < 1e-3)
      assert(math.abs(r.getAs[Double]("residual") -
        (r.getAs[Double]("value") - mu)) < 1e-3)
    }
    // ranked by |residual| descending
    val absr = rows.map(_.getAs[Double]("abs_residual"))
    assert(absr.zip(absr.tail).forall { case (a, b) => a >= b })
  }

  test("expectations gate: statuses match violations, counts match direct recounts") {
    val rows = RelationalQueries.expectations(spark, sf).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("n_violations"), r.getAs[String]("status"))).toMap
    assert(rows.size == 9)
    rows.values.foreach { case (v, s) =>
      assert(if (v == 0) s == "pass" else s == "fail")
    }
    val li = graft.sources.Tables.lineitem(spark, sf)
    val direct = li.count() -
      li.select(col("l_orderkey"), col("l_linenumber")).distinct().count()
    assert(rows("unique(l_orderkey, l_linenumber)")._1 == direct)
    assert(rows("strict_max(l_quantity, 30)")._1 ==
      li.filter(col("l_quantity") > 30).count())
    // clean-data checks must pass, and both statuses must appear
    assert(rows("fk(l_orderkey -> orders.o_orderkey)")._2 == "pass")
    assert(rows("range(l_quantity, 1, 50)")._2 == "pass")
    assert(rows.values.exists(_._2 == "fail"),
      "fixture should trip the gate")
  }
}
