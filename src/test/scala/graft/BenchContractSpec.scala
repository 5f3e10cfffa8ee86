package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact contract (VERDICT r12 ask #6): the compact stdout
  * line the driver parses must (a) be valid JSON, (b) name the full-map
  * file this run ACTUALLY wrote, and (c) pin that file by content hash.
  * Two silent-skip bugs in this logic shipped before being spec'd — r12's
  * set-but-empty SPARK_GRAFT_ONLY and the trailing-slash sfName (ADVICE
  * r12) — both found by inspection after the fact. Every corner lives
  * here now, against the extracted pure pieces ([[Bench.parseOnly]],
  * [[Bench.sidecarPaths]], [[Bench.writeArtifacts]]). */
class BenchContractSpec extends AnyFunSuite {

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  test("parseOnly: set-but-empty means full run; whitespace too; real subsets split") {
    assert(Bench.parseOnly(None).isEmpty)
    assert(Bench.parseOnly(Some("")).isEmpty)       // the r12 bug
    assert(Bench.parseOnly(Some("  ")).isEmpty)
    assert(Bench.parseOnly(Some("transit_q1")).contains(Seq("transit_q1")))
    assert(Bench.parseOnly(Some("a,b")).contains(Seq("a", "b")))
    // per-token hygiene: spaces around commas must not poison the prefix
    // match, and interior empty tokens must not select the whole registry
    assert(Bench.parseOnly(Some("a, b")).contains(Seq("a", "b")))
    assert(Bench.parseOnly(Some("a,,b")).contains(Seq("a", "b")))
    assert(Bench.parseOnly(Some(",")).isEmpty)
    assert(Bench.parseOnly(Some(" , ")).isEmpty)
  }

  test("sidecarPaths: full boards refresh committed sidecars, subsets and off-scales never") {
    assert(Bench.sidecarPaths("/root/testdata/sf0.1", subset = false) ==
      Seq("target/bench.json", "reports/bench_full.json"))
    assert(Bench.sidecarPaths("/tmp/testdata_sf10", subset = false) ==
      Seq("target/bench.json", "reports/bench_sf10.json"))
    // trailing slash (ADVICE r12): same decision as the slash-less path
    assert(Bench.sidecarPaths("/root/testdata/sf0.1/", subset = false) ==
      Bench.sidecarPaths("/root/testdata/sf0.1", subset = false))
    assert(Bench.sidecarPaths("/tmp/testdata_sf10/", subset = false) ==
      Bench.sidecarPaths("/tmp/testdata_sf10", subset = false))
    // subset runs land in target/ only, at EVERY scale
    assert(Bench.sidecarPaths("/root/testdata/sf0.1", subset = true) ==
      Seq("target/bench.json"))
    assert(Bench.sidecarPaths("/tmp/testdata_sf10", subset = true) ==
      Seq("target/bench.json"))
    // off-scale smokes (sf0.001 warmups, sf1 rehearsals) are target-only
    assert(Bench.sidecarPaths("/root/testdata/sf0.001", subset = false) ==
      Seq("target/bench.json"))
    assert(Bench.sidecarPaths("/tmp/testdata_sf1", subset = false) ==
      Seq("target/bench.json"))
  }

  test("jstr: quotes, backslashes, control and non-BMP characters parse back exactly") {
    val cases = Seq("say \"hi\"", "C:\\dir\\", "two\nlines", "tab\tsep",
      "ctl\u0001char", "rocket \uD83D\uDE80 end", "\"\\\n\t\u0001\uD83D\uDE80", "")
    for (s <- cases) {
      val lit = Bench.jstr(s)
      assert(om.readValue(lit, classOf[String]) == s, lit)
    }
    // the short escapes HttpServe's responses have always carried
    assert(Bench.jstr("a\nb\tc\rd\u0001") == "\"a\\nb\\tc\\rd\\u0001\"")
  }

  private val results = Seq(
    ("transit_q1_weekday", 1.5, 1.2), ("transit_q2_weekday", 0.9, 0.7),
    ("dedup_exact", 0.4, 0.3), ("text_tokens", 0.2, 0.2))

  test("full-board artifacts: contract line parses, names the written file, sha verifies") {
    val dir = Scratch.fresh("bench_contract")
    try {
      val (line, fullLine) = Bench.writeArtifacts(
        results, "/x/testdata/sf0.1", subset = false, baseDir = dir.toString)
      val node = om.readTree(line) // throws if the driver couldn't parse it
      assert(node.get("metric").asText == "total_query_time")
      assert(node.get("n_queries").asInt == 4)
      assert(math.abs(node.get("value").asDouble - 2.4) < 1e-9)
      assert(node.get("queries").get("q1").asDouble == 1.2)
      assert(node.get("families_warm").get("transit").asDouble == 1.9)
      // the keys the driver reads are all there, and nothing box-specific
      // rides the line: q3/q4 are absent because this board did not run them
      for (k <- Seq("value", "queries", "n_queries", "failed")) assert(node.has(k), k)
      assert(node.get("queries").get("q2").asDouble == 0.7)
      assert(!node.get("queries").has("q3") && !node.get("queries").has("q4"))
      assert(!node.has("epoch_probe"), line)
      // the named file is the one actually written, and the sha pins it
      val named = node.get("full_map").asText
      assert(named == "reports/bench_full.json")
      val written = new String(java.nio.file.Files.readAllBytes(
        dir.resolve(named)), java.nio.charset.StandardCharsets.UTF_8)
      assert(written == fullLine + "\n")
      assert(node.get("full_map_sha256_8").asText == Bench.sha8(fullLine))
      // the full map itself parses and carries every query twice-timed
      val fullNode = om.readTree(fullLine)
      assert(fullNode.get("queries").size == 4)
      assert(fullNode.get("queries").get("dedup_exact").get("warm").asDouble == 0.3)
      // target copy is byte-identical
      val target = new String(java.nio.file.Files.readAllBytes(
        dir.resolve("target/bench.json")), java.nio.charset.StandardCharsets.UTF_8)
      assert(target == written)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("subset artifacts: full_map names target/bench.json and no sidecar appears") {
    val dir = Scratch.fresh("bench_contract_sub")
    try {
      val (line, fullLine) = Bench.writeArtifacts(
        results.take(1), "/x/testdata/sf0.1", subset = true, baseDir = dir.toString)
      val node = om.readTree(line)
      // r11's bug class: the line must point at the file THIS run wrote
      assert(node.get("full_map").asText == "target/bench.json")
      assert(node.get("full_map_sha256_8").asText == Bench.sha8(fullLine))
      assert(!java.nio.file.Files.exists(dir.resolve("reports/bench_full.json")),
        "a subset run must never clobber the committed sidecar")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a throwing face is FAILED: listed on both lines, in no total or map") {
    // timeFace: any throwing run fails the face; a clean face is timed
    assert(Bench.timeFace("boom")(() => throw new IllegalStateException("x")) ==
      Left("boom"))
    val times = Iterator(1.5, 1.3, 1.2)
    assert(Bench.timeFace("transit_q1_weekday")(() => times.next()) ==
      Right(("transit_q1_weekday", 1.5, 1.2)))
    val dir = Scratch.fresh("bench_contract_failed")
    try {
      val (line, fullLine) = Bench.writeArtifacts(results, "/x/testdata/sf0.1",
        subset = false, baseDir = dir.toString, failed = Seq("dedup_boom"))
      val node = om.readTree(line)
      val full = om.readTree(fullLine)
      for (n <- Seq(node, full)) {
        assert(n.get("failed").size == 1)
        assert(n.get("failed").get(0).asText == "dedup_boom")
        assert(math.abs(n.get("value").asDouble - 2.4) < 1e-9)
        assert(math.abs(n.get("total_cold").asDouble - 3.0) < 1e-9)
      }
      assert(node.get("n_queries").asInt == 4)
      assert(node.get("families_warm").get("dedup").asDouble == 0.3)
      assert(!full.get("queries").has("dedup_boom"))
      // a clean board carries an empty list, not a missing key
      val (clean, _) = Bench.writeArtifacts(results, "/x/testdata/sf0.1",
        subset = true, baseDir = dir.toString)
      assert(om.readTree(clean).get("failed").size == 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("baseline_ratio rides sf1 boards (both lines), absent elsewhere or on partial headlines") {
    val dir = Scratch.fresh("bench_contract_base")
    try {
      // full four-face headline at sf1: avg warm (1.2+1.8+1.2+1.8)/4 = 1.5,
      // ratio = 1.5 / 6.0 = 0.25 — the mechanical bench_vs_baseline number
      val sf1Results = Seq(
        ("transit_q1_weekday", 2.0, 1.2), ("transit_q2_weekday", 2.5, 1.8),
        ("transit_q3_weekday", 2.0, 1.2), ("transit_q4_weekday", 2.5, 1.8),
        ("dedup_exact", 0.4, 0.3))
      val (line, fullLine) = Bench.writeArtifacts(
        sf1Results, "/tmp/testdata_sf1", subset = false, baseDir = dir.toString)
      assert(om.readTree(line).get("baseline_ratio").asDouble == 0.25)
      assert(om.readTree(line).get("baseline_bar_sec").asDouble == 6.0)
      assert(om.readTree(fullLine).get("baseline_ratio").asDouble == 0.25)
      // off-scale boards carry no ratio (the bar is published for the
      // reference's ~4.3M-row feed; sf1 is the nearest engine scale) —
      // and sf10/sf0.1 must not suffix-match the "sf1" check
      for (sf <- Seq("/root/testdata/sf0.1", "/tmp/testdata_sf10",
          "/root/testdata/sf0.01")) {
        val (l, f) = Bench.writeArtifacts(sf1Results, sf, subset = true,
          baseDir = dir.toString)
        assert(!om.readTree(l).has("baseline_ratio"), sf)
        assert(!om.readTree(f).has("baseline_ratio"), sf)
      }
      // a partial headline (subset run) must not emit a ratio computed
      // from fewer than all four faces
      val (pl, pf) = Bench.writeArtifacts(sf1Results.take(2),
        "/tmp/testdata_sf1", subset = true, baseDir = dir.toString)
      assert(!om.readTree(pl).has("baseline_ratio"))
      assert(!om.readTree(pf).has("baseline_ratio"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("artifacts are locale-independent (comma-decimal default locale, ADVICE r15)") {
    val dir = Scratch.fresh("bench_contract_locale")
    val prev = java.util.Locale.getDefault
    // fr_FR formats %.3f as "4,321" — before the Locale.ROOT fix that
    // corrupted every sidecar and contract line at once
    java.util.Locale.setDefault(java.util.Locale.FRANCE)
    try {
      val (line, fullLine) = Bench.writeArtifacts(
        results, "/x/testdata/sf0.1", subset = false, baseDir = dir.toString)
      assert(om.readTree(line).get("value").asDouble == 2.4)
      assert(om.readTree(fullLine).get("queries").get("dedup_exact")
        .get("warm").asDouble == 0.3)
      assert(!line.contains(",\"warm\":0,3") && !line.contains("4,321"), line)
    } finally {
      java.util.Locale.setDefault(prev)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("trailing-slash full board still writes its committed sidecar") {
    val dir = Scratch.fresh("bench_contract_slash")
    try {
      val (line, _) = Bench.writeArtifacts(
        results, "/x/testdata_sf10/", subset = false, baseDir = dir.toString)
      assert(om.readTree(line).get("full_map").asText == "reports/bench_sf10.json")
      assert(java.nio.file.Files.exists(dir.resolve("reports/bench_sf10.json")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
