package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query on
  * the run's scale dir ([[Session.sfDir]]) and prints ONE JSON line.
  *
  * Measurement notes:
  *  - `write.format("noop")` fully materializes every output row through
  *    the physical plan (a bare `count()` would let Catalyst collapse
  *    aggregates-over-limit shortcuts and skip column evaluation).
  *  - the session is [[Session.batch]] (`local[cpus]`, `cpus` shuffle
  *    partitions, data-sized grid); AQE is left on (it's the production
  *    setting the 100 TB plans rely on).
  */
object Bench {

  /** Basename of the SF dir, trailing-slash safe: `/tmp/testdata_sf10/`
    * must still name `testdata_sf10` — the raw-reverse form yielded "" on
    * a trailing slash, so neither endsWith branch matched and a full board
    * silently skipped its committed-sidecar write (the same silent-skip
    * class as the r12 empty-SPARK_GRAFT_ONLY bug). */
  private[graft] def sfName(sfDir: String): String =
    sfDir.stripSuffix("/").reverse.takeWhile(_ != '/').reverse

  /** Which files this run refreshes: subset runs (SPARK_GRAFT_ONLY) and
    * off-scale smokes land in target/ only; full sf0.1 and sf10 boards
    * each ALSO refresh their committed sidecar. Pure — the contract spec
    * sweeps it, including the trailing-slash and set-but-empty-ONLY
    * corners that each shipped a silent skip before being spec'd. */
  private[graft] def sidecarPaths(sfDir: String, subset: Boolean): Seq[String] =
    if (!subset && sfName(sfDir).endsWith("sf0.1"))
      Seq("target/bench.json", "reports/bench_full.json")
    else if (!subset && sfName(sfDir).endsWith("sf10"))
      Seq("target/bench.json", "reports/bench_sf10.json")
    else Seq("target/bench.json")

  /** SPARK_GRAFT_ONLY parse, shared by `Verify`'s subset argument:
    * set-but-EMPTY (or whitespace) must mean "no subset" — a shell
    * passing ONLY="" through is a full run. The r12 bug:
    * "".split(",") is Seq(""), which every name startsWith-matches, so
    * selection was right but the subset test said subset and the full
    * board silently skipped its committed sidecar. */
  private[graft] def parseOnly(value: Option[String]): Option[Seq[String]] =
    // per-token trim + drop-empties: "a, b" must select the b family (an
    // untrimmed " b" prefix-matches nothing) and "a,,b" must not carry an
    // interior "" token that startsWith-matches EVERY query — both are the
    // same silent-misselection class as the r12 set-but-empty bug. A value
    // whose tokens all vanish ("," or whitespace) means full run (None).
    value.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  /** Locale-independent 3-dp decimal for hand-assembled JSON: the f"%.3f"
    * interpolator formats in the JVM's default locale, and a comma-decimal
    * locale (fr_FR et al.) would write `4,321` — corrupting every sidecar
    * and contract line at once (ADVICE r15). All JSON-bound
    * doubles in this file go through here; stderr progress lines may keep
    * the interpolator (they are read by humans, not parsers). */
  private[graft] def d3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** A JSON string literal (quotes included), escaped per RFC 8259 —
    * the one escaper for hand-assembled JSON: HttpServe's responses, the
    * `failed` list here and `Verify`'s oracle SQL are arbitrary text, and
    * an unescaped quote, backslash or control character would write a
    * malformed line that every later reader fails on (ADVICE r14). */
  private[graft] def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.append('"').toString
  }

  private[graft] def sha8(line: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest((line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** The reference's published single-node bar: Q1–Q4 each < 6 s on the
    * full GTA feed (~4.3 M stop_times; BASELINE.md). The engine's nearest
    * scale is sf1 (6 M-row fact), so the sf1 board carries the contract
    * ratio mechanically (VERDICT r15 ask #6) instead of leaving the
    * arithmetic to judge prose. */
  private[graft] val BaselineBarSec = 6.0

  /** avg(q1..q4 weekday warm)/6 s on an sf1 board — the `bench_vs_baseline`
    * number. None off-scale or when any headline face is missing (a subset
    * run must not emit a ratio computed from a partial headline). */
  private[graft] def baselineRatio(sfDir: String,
      byName: Map[String, Double],
      headline: Seq[(String, String)]): Option[Double] = {
    val warms = headline.flatMap { case (_, n) => byName.get(n) }
    if (sfName(sfDir).endsWith("sf1") && warms.size == headline.size)
      Some(warms.sum / warms.size / BaselineBarSec)
    else None
  }

  /** Write the full per-query map to every path this run owns and return
    * (contractLine, fullLine). The contract line names the file actually
    * written (`full_map`) and pins it by content hash (`full_map_sha256_8`)
    * so the driver artifact VERIFIES the sidecar instead of trusting it —
    * r11 hardcoded the reports path and spuriously mismatched on subset
    * runs; r12's set-but-empty-ONLY skip was found only by inspection.
    * `baseDir` exists for the spec (a temp dir), defaults to the repo cwd.
    *
    * `results` are the faces that ran; `failed` names the faces that
    * threw. A failed face has no time to report, so it stays out of every
    * total and map and is listed under `failed` on both lines instead. */
  private[graft] def writeArtifacts(results: Seq[(String, Double, Double)],
      sfDir: String, subset: Boolean, baseDir: String = ".",
      failed: Seq[String] = Nil): (String, String) = {
    val totalWarm = results.map(_._3).sum
    val totalCold = results.map(_._2).sum
    val headline = Seq("q1" -> "transit_q1_weekday", "q2" -> "transit_q2_weekday",
      "q3" -> "transit_q3_weekday", "q4" -> "transit_q4_weekday")
    val byName = results.map(r => r._1 -> r._3).toMap
    val headMap = headline.collect { case (alias, n) if byName.contains(n) =>
      s""""$alias":${d3(byName(n))}""" }.mkString("{", ",", "}")
    val famMap = results.groupBy(_._1.takeWhile(_ != '_'))
      .toSeq.sortBy(_._1)
      .map { case (fam, rs) => s""""$fam":${d3(rs.map(_._3).sum)}""" }
      .mkString("{", ",", "}")
    val full = results.map { case (n, c, w) =>
      "\"" + n + s"""":{"cold":${d3(c)},"warm":${d3(w)}}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.map(jstr).mkString("[", ",", "]")
    // baseline-contract ratio, sf1 boards only (rides both lines: the
    // sidecar is the machine-read artifact, the contract line the archived
    // one)
    val baseJson = baselineRatio(sfDir, byName, headline).map { r =>
      s""","baseline_ratio":${d3(r)},"baseline_bar_sec":${d3(BaselineBarSec)}"""
    }.getOrElse("")
    val fullLine =
      s"""{"metric":"total_query_time","value":${d3(totalWarm)},"unit":"sec","total_cold":${d3(totalCold)}$baseJson,"sf":"$sfDir","queries":$full,"failed":$failedJson}"""
    val outs = sidecarPaths(sfDir, subset)
    for (path <- outs) {
      val out = java.nio.file.Paths.get(baseDir).resolve(path)
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val line =
      s"""{"metric":"total_query_time","value":${d3(totalWarm)},"unit":"sec","total_cold":${d3(totalCold)},"n_queries":${results.size},"queries":$headMap,"families_warm":$famMap$baseJson,"full_map":"${outs.last}","full_map_sha256_8":"${sha8(fullLine)}","sf":"$sfDir","failed":$failedJson}"""
    (line, fullLine)
  }

  /** Measurement hygiene before every timed run. A GC first: eager
    * localCheckpoint blocks from the PREVIOUS repetition are released by
    * the ContextCleaner only after their RDD is GC'd, so without it the
    * warm runs of checkpoint-bearing faces execute with storage memory
    * full of dead blocks (observed at sf10: dedup_dup_spans warm 51.6 s vs
    * cold 19.7 s — eviction/spill, not the plan; a real cluster's
    * periodic-GC cleaner does this automatically between submissions).
    * Then a sync(1): the r13 sf10 board billed transit_mongo_export 132.3 s
    * on-board vs 83.1 s solo, the delta being PRIOR faces' dirty page-cache
    * write-back competing with the face's own writes on the single local
    * disk. Draining that debt in the UNTIMED window makes each face pay
    * for its own garbage and I/O, not its predecessors'. */
  private[graft] def quiesce(): Unit = {
    System.gc()
    Thread.sleep(200) // let the async cleaner drain the reference queue
    try new ProcessBuilder("sync").start().waitFor()
    catch { case _: Throwable => () } // no sync binary: GC quiesce only
  }

  /** One face's (name, cold, warm), or `Left(name)` when any run throws:
    * the time up to a throw would count as a fast success in every total.
    * warm = MIN of two post-cold runs: a single warm pass in a shared,
    * 32-thread JVM still catches another query's GC/JIT tail often enough
    * to flag phantom regressions (r8 had three; the r9 draft flagged
    * timetable_flat at 11× whose true warm re-profile was 3.9×). The min
    * of two is the standard steady-state estimator under one-sided noise.
    * Progress goes to stderr as each face STARTS and FINISHES: a
    * multi-hour rehearsal leg must be attributable mid-flight (the sf10
    * straggler hunt needed a thread dump plus guesswork without this). */
  private[graft] def timeFace(name: String)(
      run: () => Double): Either[String, (String, Double, Double)] = {
    System.err.println(s"[bench] start $name")
    try {
      val cold = run()
      val warm = math.min(run(), run())
      System.err.println(f"[bench] done  $name cold=$cold%.3f warm=$warm%.3f")
      Right((name, cold, warm))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] FAILED $name: $e")
      Left(name)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val spark = Session.batch(sfDir)
    // Unmeasured warmup: touch every table (parquet footers, FileIndex)
    // and run one small agg+join so JIT/codegen infra reaches steady state
    // before the first measured query — otherwise several seconds of
    // one-time JVM warmup land entirely on the alphabetically-first entry.
    graft.sources.Tables.names.foreach { n =>
      // events needs its nanos-aware loader; a raw read throws on the
      // TIMESTAMP(NANOS) column and would leave that table cold
      try {
        val df = if (n == "events") graft.sources.Tables.events(spark, sfDir)
          else spark.read.parquet(s"$sfDir/$n.parquet")
        df.limit(64).count()
      } catch { case _: Throwable => () }
    }
    try {
      import org.apache.spark.sql.functions._
      val c = graft.sources.Tables.customer(spark, sfDir)
      graft.sources.Tables.orders(spark, sfDir)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Cold + warm per query (round-8 lesson: single-run times in a shared
    // JVM flagged three ~2× "regressions" that a warm re-profile cleared —
    // all were first-run JIT/codegen-compile noise, not plan changes). The
    // cold run still carries codegen compile + page-cache fill; the warm
    // run is the steady-state number regressions should be judged on.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      quiesce()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // optional subset (comma-separated name prefixes) — sf1 rehearsals and
    // local iteration; the driver's full run leaves this unset
    val only = parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    val outcomes = selected.map { case (name, fn) =>
      System.gc()
      timeFace(name)(() => runOnce(fn))
    }
    // Contract line: the driver keeps only the last ~2000 chars of stdout
    // (BENCH_r9's `tail` cut the 13 KB full-map line mid-map → parsed:
    // null), so the printed line must be COMPACT and complete inside that
    // window: headline q1–q4 warm seconds (the baseline-comparable faces),
    // per-family warm subtotals, and a sha-pinned pointer to the full
    // {query: {cold, warm}} map this run actually wrote — all assembled by
    // [[writeArtifacts]] (pure file/line logic, swept by BenchContractSpec).
    val (line, _) = writeArtifacts(outcomes.collect { case Right(r) => r },
      sfDir, subset = only.nonEmpty,
      failed = outcomes.collect { case Left(n) => n })
    // the driver json-parses the LAST line of the run's combined output
    // (BENCH_r9/r10 landed parsed:null because sbt's "[success]" epilogue —
    // now suppressed via showSuccess — and a trailing 13 KB map line got in
    // the way): stop Spark FIRST so no shutdown logging can interleave
    // after, then emit the compact contract line as the final act
    spark.stop()
    println(line)
  }
}
