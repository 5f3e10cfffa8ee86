package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Data-sized parallelism dials — the generalization of
  * `Dedup.ccPartitions` (partitions from data volume, floored at the
  * session's cluster-size dial, capped at [[DefaultMaxPartitions]]) to
  * every heavy pipeline.
  *
  * The round-9 sf10 rehearsal showed why a FIXED
  * `spark.sql.shuffle.partitions` fails at scale: with 32 reducers over
  * 100× the tuned volume, per-task aggregation state outgrows the
  * execution-memory pool's per-task share and tasks serialize on memory
  * acquisition (thread-dump: 18 of 19 task threads parked, one runnable).
  * The engine doctrine — "size shuffle partitions so partitions fit
  * executor memory" — has to be wired, not configured by hand per run:
  *
  *  1. [[initialShufflePartitions]] sizes the SESSION's AQE starting grid
  *     (`spark.sql.adaptive.coalescePartitions.initialPartitionNum`) from
  *     the input directory's file bytes. AQE then coalesces small
  *     shuffles back down at runtime from REAL sizes — so small-SF runs
  *     keep today's plans bit-for-bit while sf10+ shuffles fan out;
  *     [[tuneSessionGrid]] then refines it from parquet row counts.
  *  2. [[partitionsForRows]] / [[partitionsForChars]] size an EXPLICIT
  *     repartition barrier from a row or char count, for object-heavy
  *     aggregations and gram explodes whose in-memory volume the file
  *     bytes under-state.
  *
  * Neither dial moves any value: partitioning never changes a registered
  * query's rows, so CORRECTNESS hashes are untouched by construction.
  */
object Scale {

  /** Post-shuffle bytes a single task should own — matches AQE's
    * advisoryPartitionSizeInBytes default (64 MB): comfortably inside an
    * executor-core's memory share even with hash-agg overhead. */
  val BytesPerPartition: Long = 64L << 20

  /** Ceiling on any data-sized partition count — the cluster-size guard
    * against a mis-stated input size scheduling a million tasks. At the
    * cap, one stage is 4096 × 64 MB = 256 GB of post-shuffle state; a
    * 100 TB corpus shuffling more than that per stage needs a larger
    * constant here, not a silent overrun. */
  val DefaultMaxPartitions = 4096

  /** Worst-case bytes a heavy pipeline shuffles per input byte — gram
    * explodes emit ~1.3 hash bytes per text byte and aggregation state
    * triples it; 8 covers every registered pipeline with slack. Used for
    * the session grid, which must be sized for the LARGEST shuffle (AQE
    * only coalesces DOWN from the initial grid, never splits UP). */
  val MaxExpansion = 8L

  private def clamp(scaled: Long, floor: Int, cap: Int): Int =
    math.max(floor.toLong, math.min(cap.toLong, scaled)).toInt

  /** The session grid stays at the floor until the data-sized value
    * exceeds this multiple of it. A raised starting grid is not free even
    * when AQE coalesces the reads back down: every map task fans its
    * output across `grid` buckets and every coalesced reduce task fetches
    * multiple map segments — a per-shuffle tax paid by EVERY query in the
    * session. The benefit (per-task state bounded by the 64 MB advisory
    * instead of corpus-share) only materializes once floor-grid tasks
    * would own several advisory units each. Measured at sf1 (per-knob
    * A/B, grid 65 vs floor 32, identical task counts and join
    * strategies): +0.3–0.7 s on every sub-second join face from the
    * grid alone, the other three tuned knobs at-or-below stock. At 4×,
    * the grid activates exactly when a floor task would exceed ~256 MB of
    * post-shuffle state — sf10 and beyond (grid ≥ 650), where the r10
    * rehearsal showed it is mandatory. */
  val GridDeadband = 4L

  /** Row-count floor for [[tuneSessionGrid]]'s scan/shuffle knobs: below
    * ~2 M total rows (≈ 2 advisory units of in-memory data at the 64 B/row
    * planning unit) NO partition geometry changes the work — every shuffle
    * coalesces to a handful of tasks either way, and re-sized knobs only
    * add scheduling churn and flip borderline broadcasts (the r11 sf0.1
    * +5.7% regression; r12 A/B −3.6 s gated). Above it, stock byte-derived
    * defaults start serializing real work even while the GRID deadband
    * still holds the floor: at sf1 (8.6 M rows, grid 66 < 4×floor) the
    * stock 64 MB AQE advisory packs every mid-size iterative shuffle into
    * 1–3 reduce tasks on 32 cores — gating these knobs on the grid alone
    * cost the r12 sf1 chain leg +57 s (383→440 s, +3.2–3.6 s on every
    * scan-heavy graph face). 2 M sits ≥2.3× from both measured points
    * (sf0.1: 0.89 M off-and-right, sf1: 8.6 M on-and-right). */
  val KnobRowsFloor = 2000000L

  private[graft] def deadband(grid: Int, floor: Int): Int =
    if (grid < GridDeadband * floor) floor else grid

  /** Deadband on the PRE-clamp scaled value, then clamp. Applying the
    * deadband after the clamp is subtly wrong on large-cluster configs:
    * whenever the cap sits below 4×floor (a low cap, or a session floor
    * above cap/4) the clamped grid can never reach 4×floor, so the
    * post-clamp deadband would pin it to the floor at EVERY data size —
    * permanently disabling the data-sized grid exactly where it is
    * mandatory. The activation decision belongs to the raw data-sized
    * value; the clamp then bounds whatever survives. */
  private[graft] def deadbandThenClamp(scaled: Long, floor: Int, cap: Int): Int =
    clamp(if (scaled < GridDeadband * floor) floor.toLong else scaled, floor, cap)

  /** Session AQE starting grid from the input directory's on-disk bytes:
    * ceil(bytes · [[MaxExpansion]] / 64 MB), floored at `floor` (the
    * core count / configured shuffle.partitions — today's behavior at
    * small SF), capped at [[DefaultMaxPartitions]]. Call at session build,
    * before a SparkSession exists — hence the raw-file walk and the
    * default cap. */
  def initialShufflePartitions(sfDir: String, floor: Int): Int =
    deadbandThenClamp(
      (dirBytes(sfDir) * MaxExpansion + BytesPerPartition - 1) / BytesPerPartition,
      floor, DefaultMaxPartitions)

  /** On-disk bytes of every regular file under `sfDir` — 0 for a missing
    * dir, and 0 (logged) when the walk fails. */
  private def dirBytes(sfDir: String): Long =
    try {
      val root = java.nio.file.Paths.get(sfDir)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[scale] byte walk failed for $sfDir: $e; counting 0 bytes")
        0L
    }

  /** Spark's file-index rule for names that are not data: `_`-prefixed
    * (`_SUCCESS`, `_metadata`) unless a partition dir (`k=v`),
    * `.`-prefixed (`.crc` checksums) and in-flight `._COPYING_` copies. */
  private def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Rows in one parquet table — a single file or a Spark-written
    * directory (partition subdirs included) — summed from the record
    * counts in its data files' footers. No Spark job runs, and the sum
    * equals `spark.read.parquet(path).count()`: the same files are
    * counted, since names Spark's file index skips are skipped here. */
  private[graft] def footerRows(path: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    import org.apache.hadoop.fs.FileStatus
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    def dataFiles(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).iterator
          .filterNot(c => hiddenName(c.getPath.getName)).flatMap(dataFiles)
      else Iterator(st)
    dataFiles(fs.getFileStatus(root)).map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Row-based dial for OBJECT-HEAVY aggregation barriers (collect_list /
    * collect_set ETL): partitions = ceil(rows / rowsPerTask). Byte
    * statistics are the wrong basis twice over for these stages — parquet
    * dictionary/RLE encoding makes file bytes under-state in-memory rows
    * ~10× (the round-10 sf10 rehearsal: 60 M lineitem rows encode to
    * 127 MB on disk, so every byte dial sat at the 32-partition floor and
    * the collect_list stage collapsed to one 95 GB task), and a collected
    * group lives as BOXED rows at ~15× its shuffled bytes. Row count is
    * the one statistic that survives both distortions. A raw parquet
    * table's count comes from [[footerRows]] (no job); a derived frame's
    * from an eager `count()` (the staging pattern — cheap next to these
    * multi-minute ETL stages). `rowsPerTask` ≈ 64 MB / boxed-row-bytes. */
  def partitionsForRows(spark: SparkSession, rows: Long, rowsPerTask: Long): Int =
    clamp((rows + rowsPerTask - 1) / rowsPerTask,
      spark.sessionState.conf.numShufflePartitions, DefaultMaxPartitions)

  /** Chars a single gram-barrier task should own: per-char shingling emits
    * ~1 gram row per char, and a gram row costs ~48 B of hash-agg state
    * (8 B key + counter + map overhead) on each side of the barrier —
    * 1 M chars ≈ 48 MB of per-task state. */
  val CharsPerTask: Long = 1L << 20

  /** Char-based dial for gram-explode barriers: `chars` is the corpus
    * total (`sum(n_chars)` — a one-column footer-statistics scan), which
    * tracks gram volume exactly where doc COUNT would miss long docs and
    * file BYTES would miss parquet encoding. */
  def partitionsForChars(spark: SparkSession, chars: Long): Int =
    partitionsForRows(spark, chars, CharsPerTask)

  /** The fully-resolved session-tuning decision for one (data, session)
    * point — every signal interaction in ONE pure value so the property
    * sweep (`ScaleSpec`) can pin the calibrated regimes without a session
    * or a temp dir. The tuning stack caused a measured full-board
    * regression in each of r11 (knobs-on-too-early at sf0.1) and r12
    * (knobs-off-too-late at sf1); any future signal change must flip a
    * spec case, not a 6-hour board. */
  final case class Regime(
      grid: Int,
      knobsOn: Boolean,
      splitBytes: Option[Long],
      compressionFactor: Option[Double],
      advisoryBytes: Option[Long])

  /** Pure regime resolver — ALL of [[tuneSessionGrid]]'s decisions from
    * its four inputs, no side effects.
    *
    * Signals, in evaluation order:
    *  1. Grid: rows × 64 B × [[MaxExpansion]] in 64 MB units, deadbanded
    *     on the PRE-clamp value ([[deadbandThenClamp]]) then clamped to
    *     [floor, cap]. Holds the floor until ~17 M rows (4× a 32 floor).
    *  2. Knobs: on at rows ≥ [[KnobRowsFloor]] — the knobs matter an
    *     order of magnitude before the grid does (r12's +57 s sf1 leg).
    *  3. Knob VALUES need a measured bytes/row, so a knobs-on regime stays
    *     value-less (and the session untouched) when bytes is 0. */
  def resolveRegime(rows: Long, bytes: Long, floor: Int, cap: Int): Regime = {
    val grid = deadbandThenClamp(
      rows * 64L * MaxExpansion / BytesPerPartition, floor, cap)
    val knobsOn = rows >= KnobRowsFloor
    if (knobsOn && bytes > 0) {
      val bytesPerRow = math.max(1L, bytes / rows)
      // split size targeting ~2 M rows per scan task: at 3 B/row the stock
      // 128 MB split hands 40 M rows to ONE scan task (the r10 sf10
      // rehearsal ran its fact scans nearly serial)
      val split = math.max(4L << 20,
        math.min(128L << 20, 2L * 1000 * 1000 * bytesPerRow))
      // planner sizeInBytes ≈ in-memory rows: keeps a 15 M-row dimension
      // from broadcasting because its dictionary-packed file squeaks under
      // the 64 MB threshold
      val factor = math.max(1.0, math.min(32.0, 64.0 / bytesPerRow.toDouble))
      // AQE's coalesce target reads COMPRESSED shuffle bytes; scale the
      // advisory down by the measured encoding factor so post-coalesce
      // tasks own ~the same in-memory volume at any entropy
      val advisory = math.max(4L << 20, (BytesPerPartition / factor).toLong)
      Regime(grid, knobsOn = true, Some(split), Some(factor), Some(advisory))
    } else Regime(grid, knobsOn, None, None, None)
  }

  /** The three runtime-settable knobs [[tuneSessionGrid]] manages, and the
    * session-conf keys their STOCK values are parked under on first call —
    * so a later call that resolves knobs-off can RESTORE stock instead of
    * leaving a previous large-dir tuning in place (the r12 ADVICE case:
    * large dir then small dir in one session kept the large-dir knobs,
    * silently violating "below the floor the session stays stock"). */
  private val KnobKeys = Seq(
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.sources.fileCompressionFactor",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes")
  private def stockKey(k: String) = s"graft.scale.stock.$k"

  /** Re-size the session's scan and shuffle geometry from parquet ROW
    * counts once a session exists (all three knobs are runtime-settable
    * SQL confs read at each query's planning). The counts are summed from
    * every table's footers ([[footerRows]]), so tuning submits no Spark
    * job. The pre-session byte walk
    * ([[initialShufflePartitions]]) is encoding-blind — dictionary/RLE
    * packs low-entropy columns 10–20× below their in-memory rows (the
    * round-10 sf10 rehearsal: 86.6 M rows in 274 MB of files, 3.2 B/row),
    * which silently breaks every byte-derived decision at exactly the
    * scale where they matter. All decisions live in [[resolveRegime]]
    * (pure — see its doc for the signal interactions and both measured
    * calibration points); this applies the regime: sets the AQE grid,
    * sets the three scan/shuffle knobs when the regime carries values,
    * restores their captured stock values on a MEASURED knobs-off input,
    * and leaves the session entirely untouched when the input is
    * unmeasurable (missing dir / failed probes → rows = 0; every failed
    * table probe is logged to stderr with its cause).
    * Floors/caps keep sf ≤ 0.1 on today's plans; results are
    * partition-independent regardless. Returns the grid. */
  def tuneSessionGrid(spark: SparkSession, sfDir: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val rows = graft.sources.Tables.names.map { n =>
      val path = s"$sfDir/$n.parquet"
      try footerRows(path, conf)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[scale] row probe failed for $n at $path: $e; counting 0 rows")
          0L
      }
    }.sum
    // UNMEASURABLE input (missing dir, or every per-table probe failed) is
    // a full session no-op — grid conf and knobs exactly as they were.
    // The knobs-off apply branch below restores stock, which is right for
    // a MEASURED below-floor dir but wrong here: a transient probe failure
    // must not silently de-tune a knobs-on session (resolveRegime's
    // value-less contract covers the knob VALUES; this covers the rest).
    if (rows == 0L) return spark.sessionState.conf.numShufflePartitions
    // park stock knob values on FIRST measured call (session-scoped,
    // survives repeated tuning calls against different dirs)
    KnobKeys.foreach { k =>
      if (spark.conf.getOption(stockKey(k)).isEmpty)
        spark.conf.set(stockKey(k), spark.conf.get(k))
    }
    val regime = resolveRegime(rows, dirBytes(sfDir),
      spark.sessionState.conf.numShufflePartitions, DefaultMaxPartitions)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      regime.grid.toString)
    (regime.splitBytes, regime.compressionFactor, regime.advisoryBytes) match {
      case (Some(split), Some(factor), Some(advisory)) =>
        spark.conf.set(KnobKeys(0), split.toString)
        spark.conf.set(KnobKeys(1), factor.toString)
        spark.conf.set(KnobKeys(2), advisory.toString)
      case _ =>
        // knobs-off: RESTORE stock, don't merely skip — a prior tuning
        // against a larger dir must not leak into this regime
        KnobKeys.foreach(k => spark.conf.set(k, spark.conf.get(stockKey(k))))
    }
    regime.grid
  }
}
