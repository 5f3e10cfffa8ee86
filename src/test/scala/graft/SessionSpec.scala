package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] is the engine's one session factory: its two profiles are
  * pinned to the confs `Bench.main` and `HttpServe.main` built by hand
  * before it existed, and a source guard keeps every other file — test
  * sources included — from building a session or reading the two env
  * vars it owns, keeps system-property reads, child sessions, temp views,
  * session function registration, hand-built landing paths and direct
  * datasketches imports out of the engine, and pins the engine's whole
  * env surface to those two plus `SPARK_GRAFT_ONLY`. */
class SessionSpec extends AnyFunSuite {

  /** A dir whose only file is `bytes` long but sparse, so the data-sized
    * grid can be exercised without writing the bytes. */
  private def withSizedDir[A](bytes: Long)(f: String => A): A = {
    val dir = Scratch.fresh("session_spec")
    val raf = new java.io.RandomAccessFile(dir.resolve("t.parquet").toFile, "rw")
    try { raf.setLength(bytes); raf.close(); f(dir.toString) }
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("batch profile is Bench's conf: local[cpus], cpus reducers, data-sized grid") {
    val common = Seq(
      "spark.master" -> "local[4]",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    val grid = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    // small input: the grid holds the floor (the cpus count)
    withSizedDir(1L << 20) { dir =>
      assert(Session.confFor(Session.Batch, dir, 4).toMap ==
        (common :+ (grid -> "4")).toMap)
    }
    // 256 MB input: 256 MB x 8 / 64 MB = 32 >= 4 x floor, so data-sized
    withSizedDir(256L << 20) { dir =>
      assert(Session.confFor(Session.Batch, dir, 4).toMap ==
        (common :+ (grid -> "32")).toMap)
      assert(Scale.initialShufflePartitions(dir, 4) == 32)
    }
  }

  test("serving profile is HttpServe's conf at local[cpus]: 4 reducers, FAIR") {
    assert(Session.confFor(Session.Serving, "/any/dir", 8).toMap == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.scheduler.mode" -> "FAIR"))
    // no key is set twice (a later duplicate would silently win)
    for (p <- Seq(Session.Batch, Session.Serving)) {
      val keys = Session.confFor(p, "/any/dir", 8).map(_._1)
      assert(keys.distinct == keys, p)
    }
  }

  test("cpus: unset or blank falls back to availableProcessors") {
    val avail = Runtime.getRuntime.availableProcessors
    assert(Session.parseCpus(None) == avail)
    assert(Session.parseCpus(Some("")) == avail)
    assert(Session.parseCpus(Some("  ")) == avail)
    assert(Session.parseCpus(Some("6")) == 6)
    assert(Session.parseCpus(Some(" 12 ")) == 12)
  }

  test("cpus: 0, negative and non-numeric values are rejected with a message") {
    for (bad <- Seq("0", "-2", "abc", "4.5")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(bad),
        e.getMessage)
    }
  }

  test("source guard: only graft/Session.scala builds a session or reads CPUS/SF_DIR") {
    def sources(root: Path, floor: Int): List[Path] = {
      val s = Files.walk(root)
      val files = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        finally s.close()
      // non-vacuity: a moved source root must fail here, not pass on nothing
      assert(files.size >= floor, s"only ${files.size} sources under $root")
      files
    }
    val mainRoot = Paths.get("src/main/scala")
    val testRoot = Paths.get("src/test/scala")
    val main = sources(mainRoot, 40)
    val tests = sources(testRoot, 40)
    val owner = mainRoot.resolve("graft/Session.scala")
    assert(main.contains(owner))
    def lines(files: List[Path]) = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, s"$f:${i + 1}: ${line.trim}", line)
    val mainLines = lines(main)
    def offending(ls: List[(Path, String, String)], rules: Seq[scala.util.matching.Regex],
        exempt: Set[Path]) = ls.collect {
      case (f, at, line) if !exempt(f) && rules.exists(_.findFirstIn(line).isDefined) => at
    }
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders =
      offending(mainLines, Seq(builder, """"SPARK_GRAFT_CPUS"""".r,
        """"SPARK_GRAFT_SF_DIR"""".r), Set(owner)) ++
        offending(lines(tests), Seq(builder), Set.empty)
    assert(offenders.isEmpty,
      "session built or CPUS/SF_DIR read outside graft.Session:\n" +
        offenders.mkString("\n"))
    // no engine setting comes from a JVM system property: a ceiling or a
    // dial is a constant until a caller needs another value
    val props = offending(mainLines, Seq("""sys\.props\.get|System\.getProperty""".r), Set.empty)
    assert(props.isEmpty, "system property read under src/main:\n" + props.mkString("\n"))
    // no child session and no session-global name: SQL text binds its
    // tables inside its own parsed query (SqlFace.sql)
    val scoped = offending(mainLines, Seq("""newSession\s*\(""".r,
      """create(OrReplace|Global)?TempView""".r), Set.empty)
    assert(scoped.isEmpty,
      "child session or temp view under src/main:\n" + scoped.mkString("\n"))
    // no session function registry: a native expression is a plain Column
    // (graft.functions.GraftFunctions), so nothing registers, injects or
    // looks up a graft_* name, and no session is built with extensions
    val registry = offending(mainLines, Seq("""call_function\s*\(\s*"graft_""".r,
      """registerFunction\s*\(""".r, """injectFunction\s*\(""".r,
      """spark\.sql\.extensions""".r), Set.empty)
    assert(registry.isEmpty,
      "function registration or spark.sql.extensions under src/main:\n" +
        registry.mkString("\n"))
    // one landing policy: every path a face writes comes from graft.Scratch
    // (one per-JVM root, one sf-dir sanitizer), so no two JVMs share a path
    val scratch = mainRoot.resolve("graft/Scratch.scala")
    assert(main.contains(scratch))
    val landing = offending(mainLines, Seq("""java\.io\.tmpdir""".r, """"target/tmp""".r,
      """replaceAll\("\[\^A-Za-z0-9""".r), Set(scratch))
    assert(landing.isEmpty,
      "landing path or sf-dir sanitizer outside graft.Scratch:\n" + landing.mkString("\n"))
    // sketches come from Spark's own functions (HLL, theta, KLL); the
    // engine keeps no copy of them over datasketches-java
    val sketches = offending(mainLines, Seq("""org\.apache\.datasketches""".r), Set.empty)
    assert(sketches.isEmpty,
      "datasketches used directly under src/main:\n" + sketches.mkString("\n"))
    // the whole env surface: every env read, in any file, names one of these
    val envRead = """sys\.env|System\.getenv""".r
    val envVars = Seq("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY")
    val envSites = mainLines.filter { case (_, _, line) => envRead.findFirstIn(line).isDefined }
    // non-vacuity: Session's two reads and Bench's ONLY read are found
    assert(envSites.size >= 3, envSites.map(_._2).mkString("\n"))
    val unpinned = envSites.collect {
      case (_, at, line) if !envVars.exists(v => line.contains("\"" + v + "\"")) => at
    }
    assert(unpinned.isEmpty,
      s"env read naming none of ${envVars.mkString(", ")}:\n" + unpinned.mkString("\n"))
  }
}
