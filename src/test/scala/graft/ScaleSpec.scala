package graft

/** The data-sized parallelism dials: floors keep small scales on today's
  * plans, caps bound runaway inputs, and the session-geometry tuner derives
  * its knobs from ROW counts (byte stats are encoding-blind — the round-10
  * sf10 finding: 86.6 M rows pack into 274 MB of parquet, so every
  * byte-derived decision sat at its floor while stages collapsed to one
  * task). */
class ScaleSpec extends SparkSpec {

  /** A Spark-written, multi-file `orders.parquet` of 2.05 M rows in a
    * fresh temp dir (the only table there): above KnobRowsFloor (2 M)
    * while the rows-sized grid (2.05M*64*8/64MB = 15) still sits under
    * this session's deadband (4*floor=16 at the test floor of 4). */
  private def withOrdersDir(prefix: String)(f: String => Unit): Unit = {
    val dir = Scratch.fresh(prefix).toString
    try {
      spark.range(2050000L).selectExpr("id as o_orderkey",
        "cast(id % 997 as string) as o_comment")
        .write.parquet(s"$dir/orders.parquet")
      f(dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("partitionsForRows: floor at session grid, linear above, capped") {
    val floor = spark.sessionState.conf.numShufflePartitions
    // small inputs stay on the session grid — today's plans bit-for-bit
    assert(Scale.partitionsForRows(spark, 0L, 160000L) == floor)
    assert(Scale.partitionsForRows(spark, 160000L * floor, 160000L) == floor)
    // 60 M rows at 160 k/task (the sf10 document build) → 375 tasks
    assert(Scale.partitionsForRows(spark, 60000000L, 160000L) == 375)
    // a mis-stated input cannot schedule a million tasks
    assert(Scale.partitionsForRows(spark, Long.MaxValue / 4, 1L) ==
      Scale.DefaultMaxPartitions)
  }

  test("partitionsForChars: gram volume in ~1M-char tasks") {
    val floor = spark.sessionState.conf.numShufflePartitions
    assert(Scale.partitionsForChars(spark, 1L << 20) == floor)
    // the sf10 corpus (246 M chars) → ~235 gram-barrier tasks
    val sf10 = Scale.partitionsForChars(spark, 246000000L)
    assert(sf10 > 200 && sf10 < 300, sf10.toString)
  }

  test("tuneSessionGrid: small dirs keep the floor AND stock scan geometry") {
    val floor = spark.sessionState.conf.numShufflePartitions
    val stockSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val stockFactor = spark.conf.get("spark.sql.sources.fileCompressionFactor")
    val stockAdvisory =
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val grid = Scale.tuneSessionGrid(spark, "/root/testdata/sf0.001")
    assert(grid == floor, s"sf0.001 must stay on the session grid, got $grid")
    // the r12 generalized deadband: below grid activation, EVERY session
    // knob stays at stock — the small-SF board must not pay the
    // heavy-pipeline insurance premium (the r11 sf0.1 +5.7% regression)
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == stockSplit)
    assert(spark.conf.get("spark.sql.sources.fileCompressionFactor") == stockFactor)
    assert(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      == stockAdvisory)
  }

  test("grid deadband: floor until 4x, data-sized above") {
    // sub-4x grids pay the per-shuffle fan-out tax on every query for a
    // benefit that only exists once floor tasks outgrow ~4 advisory units
    assert(Scale.deadband(33, 32) == 32)
    assert(Scale.deadband(65, 32) == 32)   // the measured sf1 case
    assert(Scale.deadband(127, 32) == 32)
    assert(Scale.deadband(128, 32) == 128) // exactly 4x activates
    assert(Scale.deadband(650, 32) == 650) // the sf10 regime
  }

  test("deadband activates on the pre-clamp value, then clamps") {
    // the r11 ADVICE case: cap below 4x floor. The post-clamp form could
    // never see a value >= 4x floor and pinned the grid to the floor at
    // every data size; activation must read the RAW data-sized value.
    assert(Scale.deadbandThenClamp(650L, 32, 100) == 100)
    assert(Scale.deadbandThenClamp(5000L, 1024, 2048) == 2048)
    // below 4x floor the deadband still holds the floor
    assert(Scale.deadbandThenClamp(65L, 32, 100) == 32)
    assert(Scale.deadbandThenClamp(127L, 32, 4096) == 32)
    // at/above 4x floor with room under the cap: data-sized wins
    assert(Scale.deadbandThenClamp(128L, 32, 4096) == 128)
    assert(Scale.deadbandThenClamp(650L, 32, 4096) == 650)
  }

  test("tuneSessionGrid: >=2M rows activates the knobs under a floor grid") {
    // the r12 sf1 chain-leg lesson: gating the scan/shuffle knobs on the
    // GRID deadband alone cost +57 s at sf1 — the grid holds the floor
    // until ~17 M rows while the stock 64 MB AQE advisory already packs
    // sf1's mid-size iterative shuffles into 1-3 reduce tasks on 32 cores.
    // rows >= KnobRowsFloor must activate the knobs with the grid still
    // at the floor.
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.sources.fileCompressionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val stock = keys.map(k => k -> spark.conf.get(k))
    // 2.05 M rows — the exact regime the fix exists for: knobs on, grid
    // at the floor
    try withOrdersDir("scale_knobs") { dir =>
      val floor = spark.sessionState.conf.numShufflePartitions
      val grid = Scale.tuneSessionGrid(spark, dir)
      assert(grid == floor, s"2.05 M rows must stay under the grid deadband, got $grid")
      assert(spark.conf.get(keys.head) != stock.head._2,
        ">=2M rows must re-size the scan split despite the floor grid")
      val split = spark.conf.get(keys.head).toLong
      assert(split >= (4L << 20) && split < (128L << 20), split.toString)
      assert(spark.conf.get(keys(1)).toDouble >= 1.0)
      assert(spark.conf.get(keys(2)).toLong <= (64L << 20))
    } finally stock.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("tuneSessionGrid: a missing dir is a safe no-op at the floor") {
    val floor = spark.sessionState.conf.numShufflePartitions
    assert(Scale.tuneSessionGrid(spark, "/nonexistent/dir") == floor)
  }

  // ------------------------------------------------------------------
  // Property sweep over the PURE regime resolver (VERDICT r12 ask #1).
  // The tuning stack shipped a measured full-board regression in each of
  // the last two rounds (r11: knobs-on-too-early at sf0.1, +5.7%; r12
  // interim: knobs-off-too-late at sf1, +57 s) — both were caught by
  // 6-hour boards. These cases pin every calibrated regime and corner so
  // the next signal change fails here, in seconds.
  // ------------------------------------------------------------------

  /** The three measured calibration points (rows/bytes read off the real
    * test dirs this round): sf0.1 stock, sf1 knobs-on-grid-floored, sf10
    * knobs-on-grid-scaled. */
  private val sf01  = (893030L, 17504410L)
  private val sf1   = (8606030L, 171274781L)
  private val sf10  = (85736030L, 1687644463L)

  test("regime sweep: the three measured calibration points hold exactly") {
    // sf0.1: below both signals — floor grid, stock knobs (the r11 lesson)
    val r01 = Scale.resolveRegime(sf01._1, sf01._2, 32, 4096)
    assert(r01 == Scale.Regime(32, knobsOn = false, None, None, None))
    // sf1: rows >= 2M turns knobs ON while the grid deadband still holds
    // the floor (pre-clamp 65 < 4x32) — the exact regime the r12 fix
    // exists for
    val r1 = Scale.resolveRegime(sf1._1, sf1._2, 32, 4096)
    assert(r1.grid == 32 && r1.knobsOn)
    // 19 B/row measured: split targets 2M rows/scan task, factor makes
    // planner bytes ~in-memory rows, advisory shrinks by the same factor
    assert(r1.splitBytes.contains(38000000L))
    assert(r1.compressionFactor.contains(64.0 / 19.0))
    assert(r1.advisoryBytes.contains(19922944L))
    // sf10: both signals on — data-sized grid AND knobs
    val r10 = Scale.resolveRegime(sf10._1, sf10._2, 32, 4096)
    assert(r10.grid == 654 && r10.knobsOn)
    assert(r10.splitBytes == r1.splitBytes) // same 19 B/row encoding
  }

  test("regime sweep: knob activation boundary is exactly KnobRowsFloor") {
    val bytes = 40000000L
    assert(!Scale.resolveRegime(Scale.KnobRowsFloor - 1, bytes, 32, 4096).knobsOn)
    assert(Scale.resolveRegime(Scale.KnobRowsFloor, bytes, 32, 4096).knobsOn)
  }

  test("regime sweep: adversarial cap/floor corners keep grid activation") {
    // cap below 4x floor (the r11 ADVICE trap): activation reads the RAW
    // data-sized value, so the grid still leaves the floor and clamps
    assert(Scale.resolveRegime(sf10._1, sf10._2, 32, 100).grid == 100)
    // floor above cap/4: same property from the other side
    assert(Scale.resolveRegime(sf10._1 * 100, sf10._2 * 100, 1024, 2048).grid == 2048)
    // floor-dominates when data is small regardless of cap
    assert(Scale.resolveRegime(sf01._1, sf01._2, 1024, 2048).grid == 1024)
  }

  test("regime sweep: invariants over the full (rows, bytes, floor, cap) grid") {
    val rowsAxis = Seq(0L, 1L, 1999999L, 2000000L, 893030L, 8606030L,
      85736030L, 1000000000L)
    val bytesAxis = Seq(0L, 1L, 17504410L, 171274781L, 1687644463L, 1L << 40)
    val floorAxis = Seq(4, 32, 200, 1024)
    val capAxis = Seq(100, 4096, 2048)
    for {
      rows <- rowsAxis; bytes <- bytesAxis; floor <- floorAxis
      cap <- capAxis
      if floor <= cap // pathological floor>cap is excluded by construction
    } {
      val r = Scale.resolveRegime(rows, bytes, floor, cap)
      val ctx = s"rows=$rows bytes=$bytes floor=$floor cap=$cap"
      // grid always lands in [floor, cap], and leaves the floor only when
      // the pre-clamp value clears the deadband
      assert(r.grid >= floor && r.grid <= cap, ctx)
      val scaled = rows * 64L * Scale.MaxExpansion / Scale.BytesPerPartition
      if (scaled < Scale.GridDeadband * floor) assert(r.grid == floor, ctx)
      else assert(r.grid == math.max(floor.toLong, math.min(cap.toLong, scaled)).toInt, ctx)
      // knob activation is exactly the rows floor
      assert(r.knobsOn == (rows >= Scale.KnobRowsFloor), ctx)
      // values exist iff on AND measurable; all three together; in range
      val expectValues = r.knobsOn && rows > 0 && bytes > 0
      assert(r.splitBytes.isDefined == expectValues, ctx)
      assert(r.compressionFactor.isDefined == expectValues, ctx)
      assert(r.advisoryBytes.isDefined == expectValues, ctx)
      r.splitBytes.foreach(s => assert(s >= (4L << 20) && s <= (128L << 20), ctx))
      r.compressionFactor.foreach(f => assert(f >= 1.0 && f <= 32.0, ctx))
      r.advisoryBytes.foreach(a =>
        assert(a >= (4L << 20) && a <= Scale.BytesPerPartition, ctx))
      // advisory and factor move together: advisory ~ 64MB / factor
      for (f <- r.compressionFactor; a <- r.advisoryBytes)
        assert(a == math.max(4L << 20, (Scale.BytesPerPartition / f).toLong), ctx)
    }
  }

  test("tuneSessionGrid: knobs-off run RESTORES stock after a knobs-on run") {
    // the r12 ADVICE case: big dir then small dir in ONE session — the
    // small-dir call must put the session back on stock knobs, not keep
    // the big-dir values
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.sources.fileCompressionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val stock = keys.map(k => k -> spark.conf.get(k))
    try withOrdersDir("scale_restock") { dir =>
      Scale.tuneSessionGrid(spark, dir)
      assert(spark.conf.get(keys.head) != stock.head._2,
        "the knobs-on leg must actually move a knob for this test to bite")
      // an UNMEASURABLE dir between the two measured legs must be a full
      // no-op: a transient probe failure (or a typo'd path) must not
      // silently de-tune the knobs-on session — only a MEASURED
      // below-floor input may restore stock
      val tuned = keys.map(k => k -> spark.conf.get(k))
      Scale.tuneSessionGrid(spark, "/nonexistent/dir")
      tuned.foreach { case (k, v) =>
        assert(spark.conf.get(k) == v,
          s"$k must survive an unmeasurable-dir tune untouched")
      }
      Scale.tuneSessionGrid(spark, "/root/testdata/sf0.001")
      keys.zip(stock).foreach { case (k, (_, v)) =>
        assert(spark.conf.get(k) == v,
          s"$k must return to stock after a small-dir re-tune")
      }
    } finally stock.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ------------------------------------------------------------------
  // The row probe reads parquet footers instead of running count(): the
  // rows resolveRegime sees must not move, and tuning must run no job.
  // ------------------------------------------------------------------

  private def hadoopConf = spark.sessionState.newHadoopConf()

  /** The smallest TESTDATA.md scale. */
  private val sf = "/root/testdata/sf0.001"

  test("footerRows equals count() on every sf0.001 table") {
    graft.sources.Tables.names.foreach { n =>
      val df = if (n == "events") graft.sources.Tables.events(spark, sf)
               else spark.read.parquet(s"$sf/$n.parquet")
      assert(Scale.footerRows(s"$sf/$n.parquet", hadoopConf) == df.count(), n)
    }
  }

  test("footerRows equals count() on a Spark-written multi-file dir") {
    withOrdersDir("scale_footer") { dir =>
      val p = s"$dir/orders.parquet"
      val names = new java.io.File(p).list().toSeq
      // the dir must hold several data files AND the names Spark's file
      // index skips (_SUCCESS, .crc checksums), or the skip goes untested
      assert(names.count(_.endsWith(".parquet")) > 1, names.mkString(","))
      assert(names.contains("_SUCCESS") && names.exists(_.startsWith(".")),
        names.mkString(","))
      assert(Scale.footerRows(p, hadoopConf) == spark.read.parquet(p).count())
      assert(Scale.footerRows(p, hadoopConf) == 2050000L)
    }
  }

  test("tuneSessionGrid submits zero Spark jobs") {
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.sources.fileCompressionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val stock = keys.map(k => k -> spark.conf.get(k))
    try {
      val (_, small) = JobCount.of(spark)(Scale.tuneSessionGrid(spark, sf))
      assert(small == 0, s"sf0.001 tuning ran $small Spark jobs")
      withOrdersDir("scale_jobs") { dir =>
        val (_, big) = JobCount.of(spark)(Scale.tuneSessionGrid(spark, dir))
        assert(big == 0, s"2.05 M-row tuning ran $big Spark jobs")
      }
      // the counter itself must see jobs, or zero proves nothing
      val (_, probe) = JobCount.of(spark)(spark.range(10).count())
      assert(probe > 0)
    } finally stock.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
