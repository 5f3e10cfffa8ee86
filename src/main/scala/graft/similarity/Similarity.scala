package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHash._
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths, same output shape (query id, rank, neighbor id, cosine):
  *  - brute: exact baseline — query set broadcast against all candidates
  *    (BroadcastNestedLoopJoin), per-query top-k via window rank. At scale
  *    the candidate side stays partitioned and never shuffles: cost is one
  *    pass over the corpus per query batch.
  *  - lsh: random-hyperplane bucket equi-join — candidates shrink by the
  *    bucket fan-out (×1/2^planes expected); the join becomes a hash join
  *    keyed on bucket. The production scale path (more planes + multi-probe
  *    over neighboring buckets); brute is its recall oracle in the spec.
  *
  * Cosine is a sequential double fold (TextHash.dot) so the DuckDB oracle
  * ranks on bit-identical values.
  */
object Similarity {

  val QuerySet = 10 // vec_id < 10 are the query vectors
  val TopK = 5

  private def ranked(scored: DataFrame): DataFrame =
    scored
      .withColumn("neighbor_rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("raw").desc, col("cid"))))
      .filter(col("neighbor_rank") <= TopK)
      .select(col("qid"), col("neighbor_rank"), col("cid"),
        round(col("raw"), 6).as("cos_sim"))
      .orderBy(col("qid"), col("neighbor_rank"))

  /** Exact top-k by brute-force cosine. Norms are precomputed per vector
    * (once per row, not once per pair): the pair loop does one dot fold. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        graft.functions.GraftFunctions.l2norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("cn"))
    ranked(broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("raw")))
  }

  /** LSH-bucketed ANN: candidates restricted to the query's hyperplane
    * bucket; norms precomputed like [[knnBrute]]. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"), graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      lshBucket(col("embedding"), 64, graft.dedup.Dedup.AnnPlanes).as("bucket"))
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("bucket"))
    ranked(q.join(c, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("raw")))
  }

  val IvfCells = 8

  /** IVF-style coarse quantization: cell = argmax_j dot(v, centroid_j)
    * over [[IvfCells]] deterministic pseudo-centroids
    * (centroid j, dim i: ((i·13 + j·29) % 15 − 7) / 10). */
  private def ivfDots(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until IvfCells).map { j =>
      aggregate(
        transform(sequence(lit(1), lit(64)),
          i => (((i * 13 + lit(j * 29)) % 15 - 7).cast("double") / 10.0) *
            element_at(v, i).cast("double")),
        lit(0.0), (s, x) => s + x)
    }: _*)

  def ivfCell(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // first index of the max dot (1-based array_position), ties → lowest j
    let(ivfDots(v))(ds => array_position(ds, array_max(ds)) - 1)

  /** The query's top-n coarse cells by centroid dot — the nprobe recall
    * dial: pick the argmax, mask its position to −1e308, repeat. Ties
    * resolve to the lowest cell index in both engines (first-match
    * array_position / list_position). Every intermediate is let-bound —
    * each is referenced twice per round, and unbound HOF subexpressions
    * re-evaluate per reference (the measured sim_ann_pq 6× trap). */
  def ivfTopN(v: org.apache.spark.sql.Column, nprobe: Int): org.apache.spark.sql.Column = {
    require(nprobe >= 1 && nprobe <= IvfCells, s"nprobe=$nprobe out of [1,$IvfCells]")
    def pick(ds: org.apache.spark.sql.Column, remaining: Int): org.apache.spark.sql.Column =
      let(ds) { d =>
        let(array_position(d, array_max(d))) { p =>
          if (remaining == 1) array(p - 1)
          else concat(
            array(p - 1),
            pick(transform(sequence(lit(1), lit(IvfCells)),
              i => when(i.cast("long") === p, lit(-1e308)).otherwise(element_at(d, i))),
              remaining - 1))
        }
      }
    pick(ivfDots(v), nprobe)
  }

  /** IVF ANN: candidates restricted to the query's coarse cell (nprobe=1;
    * production probes the top-n cells by centroid dot). Same shape as
    * [[annLsh]] — IVF partitions by data-dependent direction, LSH by
    * oblivious hyperplanes. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      ivfCell(col("embedding")).as("cell"))
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("cell"))
    ranked(q.join(c, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("raw")))
  }

  /** IVF served from a PERSISTED index — the ANN analog of the transit
    * snapshot fast path: the corpus is landed ONCE as a parquet table
    * partitioned by coarse cell (the inverted lists), and a query batch
    * probes it through a cell equi-join, so dynamic partition pruning
    * reads ONLY the probed cells' files — the index build is the paid
    * batch job, each probe touches 1/[[IvfCells]] of the data. Same
    * semantics as [[annIvf]] (lossless parquet round trip → same
    * oracle); PlanQualitySpec asserts the pruning subquery is in the
    * probe plan. At 100 TB this IS how an IVF index ships: lists are
    * files, probes are pruned scans, re-centering is a rewrite. */
  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("ivf", dir)
    val e = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      ivfCell(col("embedding")).as("cell"))
    graft.sources.Writers.snapshotParquet(e, path, Seq("cell"))
    val idx = spark.read.parquet(path)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"), col("cell").cast("long").as("cell"))
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("cell"))
    ranked(idx.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("raw")))
  }

  /** IVF with nprobe>1: every query probes its top-`nprobe` coarse cells —
    * the standard IVF recall dial (recall at nprobe n+1 ⊇ n by
    * construction; the spec asserts monotonicity through nprobe=4 against
    * [[knnBrute]]). Candidates still live in exactly one cell, so the
    * probe explode multiplies the QUERY-side rows only; the join stays a
    * cell-keyed equi-join. */
  def annIvfNprobe(spark: SparkSession, dir: String, nprobe: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      ivfCell(col("embedding")).as("cell"))
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        graft.functions.GraftFunctions.l2norm(col("embedding")).as("qn"),
        explode(ivfTopN(col("embedding"), nprobe)).as("cell"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("cell"))
    ranked(q.join(c, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("raw")))
  }

  /** Multi-probe LSH: each query additionally probes every bucket at
    * Hamming distance 1 (one hyperplane bit flipped) — the standard
    * recall/cost dial for hyperplane LSH. Probes are distinct bucket
    * values and a candidate lives in exactly one bucket, so the probe
    * explode creates no duplicate pairs; the join stays a bucket-keyed
    * equi-join with (planes+1)× the probe fan-out, NOT a wider scan. */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val planes = graft.dedup.Dedup.AnnPlanes
    val e = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      lshBucket(col("embedding"), 64, planes).as("bucket"))
    val probes = array(col("bucket") +:
      (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nrm").as("qn"), explode(probes).as("bucket"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("bucket"))
    ranked(q.join(c, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("raw")))
  }

  /** Affine int8 scalar quantization of the embedding corpus — the memory
    * side of ANN at scale (4× smaller vectors, dot products on codes).
    * Two passes, both declarative: (1) per-dimension global min/max (one
    * posexplode + tiny hash agg), collected into ONE broadcast row of
    * ranges; (2) per-vector quantize→dequantize→error via zip_with against
    * the broadcast ranges — map-only over the corpus, no shuffle. Output
    * aggregates reconstruction error per label (count, avg/max of the
    * per-vector max error, avg of the per-vector mean error), proving the
    * codes reconstruct within 1/510 of each dimension's range.
    * `floor(x + 0.5)` rather than round() so both engines use identical
    * midpoint semantics; all arithmetic in double, identical association
    * order to the DuckDB oracle. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val rng = e.select(posexplode(col("embedding"))).toDF("i", "v")
      .groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("mx")))).as("rng"))
    val perVec = e.crossJoin(broadcast(rng)).select(
      col("vec_id"), col("label"),
      zip_with(col("embedding"), col("rng"), (v, r) => {
        val vd = v.cast("double")
        val mn = r("mn").cast("double")
        val mx = r("mx").cast("double")
        val code = when(mx === mn, lit(0.0))
          .otherwise(floor((vd - mn) / (mx - mn) * 255.0 + 0.5))
        abs(vd - (mn + code / 255.0 * (mx - mn)))
      }).as("errv"))
      .select(col("label"),
        aggregate(col("errv"), lit(0.0), (a, x) => greatest(a, x)).as("max_err"),
        (aggregate(col("errv"), lit(0.0), (a, x) => a + x) /
          size(col("errv"))).as("avg_err"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("max_err")), 4).as("avg_max_err"),
        round(max(col("max_err")), 6).as("worst_err"),
        round(avg(col("avg_err")), 4).as("avg_mean_err"))
      .orderBy(col("label"))
  }

  val PqM = 8   // subspaces (64 dims = 8 sub × 8 dims)
  val PqK = 8   // codes per subspace
  val PqSub = 8 // dims per subspace
  // centroid grid scale: unit-vector components sit around ±1/√64, so the
  // {-7..7} grid is divided to span ≈ that range — a grid 8× too coarse
  // (the IVF /10) makes quantization error swamp the signal
  val PqScale = 56.0

  /** Deterministic pseudo-codebook, same family as [[ivfCell]]'s
    * centroids: centroid value for global dim i, code j. */
  private def pqCentroid(i: org.apache.spark.sql.Column, j: Int): org.apache.spark.sql.Column =
    (((i * 13 + lit(j * 29)) % 15) - 7).cast("double") / PqScale

  /** PQ encoding: per subspace, the index of the nearest centroid
    * (squared L2, ties → lowest code). The corpus keeps ONLY these M
    * small codes — at 100 TB that is the 32× memory cut that lets the
    * whole index live in executor memory. */
  def pqCodes(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(PqM - 1)), m => {
      val dists = (0 until PqK).map { j =>
        aggregate(sequence(lit(1), lit(PqSub)), lit(0.0), (s, t) => {
          val i = m * PqSub + t
          val d = element_at(v, i).cast("double") - pqCentroid(i, j)
          s + d * d
        })
      }
      let(array(dists: _*))(ds => array_position(ds, array_min(ds)) - 1)
    })

  /** Asymmetric-distance lookup table for one query: the M×K matrix of
    * ||q_sub − centroid||², flattened m-major. Computed once per query,
    * broadcast with it. */
  def pqLut(q: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(transform(sequence(lit(0), lit(PqM - 1)), m =>
      transform(sequence(lit(0), lit(PqK - 1)), j =>
        aggregate(sequence(lit(1), lit(PqSub)), lit(0.0), (s, t) => {
          val i = m * PqSub + t
          val d = element_at(q, i).cast("double") -
            (((i * 13 + j * 29) % 15) - 7).cast("double") / PqScale
          s + d * d
        }))))

  /** ADC distance: M table lookups per pair — no vector math at scan
    * time. This is the PQ trick that turns the candidate scan into pure
    * integer indexing. */
  private def pqAdc(lut: org.apache.spark.sql.Column,
      codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
      (s, m) => s + element_at(lut,
        (m * PqK + element_at(codes, m + 1) + 1).cast("int")))

  /** L2-normalize before encoding: on unit vectors ||a−b||² = 2−2·cos,
    * so ADC's squared-L2 ranking IS the cosine ranking the brute oracle
    * uses — without this, PQ would rank by a different metric entirely. */
  private def unitVec(v: org.apache.spark.sql.Column) =
    let(graft.functions.GraftFunctions.l2norm(v))(n =>
      transform(v, x => x.cast("double") / n))

  /** Product-quantization ANN: corpus compressed to M byte-codes per
    * vector, queries carry full precision + their ADC lookup table; the
    * pair scan is M table lookups. Ranked by approximate distance
    * ascending; [[knnBrute]] is the recall oracle (spec-measured). At
    * scale this composes with IVF ([[annIvf]] picks the cells, PQ scans
    * inside them); interpreted HOFs here — a native Expression is the
    * codegen path if encoding ever dominates. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // Corpus side: native codegen'd encode (PqEncodeExpr — one Java loop
    // per vector; the interpreted let(unit)(pqCodes) stays the executable
    // spec, equivalence-tested). Query side: interpreted LUT build is
    // fine — QuerySet rows, and the let-binding matters (an unbound
    // normalized array would be re-normalized at each of the M×K×dims
    // references — measured 9.6 s → sub-second at sf0.1).
    val c = e.select(col("vec_id").as("cid"),
      graft.functions.GraftFunctions.pqEncode(col("embedding")).as("codes"))
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"),
        let(unitVec(col("embedding")))(u => pqLut(u)).as("lut"))
    broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), pqAdc(col("lut"), col("codes")).as("raw"))
      .withColumn("neighbor_rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("raw").asc, col("cid"))))
      .filter(col("neighbor_rank") <= TopK)
      .select(col("qid"), col("neighbor_rank"), col("cid"),
        round(col("raw"), 6).as("adc_dist"))
      .orderBy(col("qid"), col("neighbor_rank"))
  }

  /** IVF+PQ — the production ANN composition at 100 TB: IVF cells bound
    * the candidate set (a cell-keyed equi-join, no corpus-wide scan per
    * query), PQ codes bound the memory (the scan inside a cell touches
    * M byte-codes per candidate, never the vectors). Same two structures
    * as [[annIvf]] and [[annPq]], composed. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val c = e.select(col("vec_id").as("cid"), ivfCell(col("embedding")).as("cell"),
      graft.functions.GraftFunctions.pqEncode(col("embedding")).as("codes"))
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), ivfCell(col("embedding")).as("cell"),
        let(unitVec(col("embedding")))(u => pqLut(u)).as("lut"))
    q.join(c, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), pqAdc(col("lut"), col("codes")).as("raw"))
      .withColumn("neighbor_rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("raw").asc, col("cid"))))
      .filter(col("neighbor_rank") <= TopK)
      .select(col("qid"), col("neighbor_rank"), col("cid"),
        round(col("raw"), 6).as("adc_dist"))
      .orderBy(col("qid"), col("neighbor_rank"))
  }

  val KmeansK = 8

  /** Milli-quantize a vector: each component to floor(x·1000 + 0.5) as a
    * BIGINT (the [[quantizeInt8]] midpoint rule), so every sum over it is
    * an exact integer in both engines. */
  private def quant(v: org.apache.spark.sql.Column) =
    transform(v, x => floor(x.cast("double") * 1000.0 + 0.5).cast("long"))

  /** One Lloyd (k-means) iteration, made bit-exact across engines: vectors
    * quantize to integers (floor(x·1000 + 0.5), the [[quantizeInt8]]
    * midpoint convention), distances are exact BIGINT squared-L2 sums, and
    * the argmin tie-breaks on the lower centroid id by packing (dist·100 +
    * cid) into one BIGINT min. Output per cluster: member count, the
    * updated centroid's first four coordinates (integer sums divided at the
    * end — no float summation-order noise), and the min/max member
    * distance. Seeds are the first K vectors (deterministic k-means++ would
    * ride the same plan). Plan shape: broadcast of K quantized centroids,
    * one map-only assignment pass, one K-group hash agg — the canonical
    * 100 TB clustering iteration (no shuffle of the corpus; each further
    * Lloyd round repeats the same broadcast-assign-agg pipeline). */
  def kmeansUpdate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = e.filter(col("vec_id") < KmeansK)
      .agg(array_sort(collect_list(struct(
        col("vec_id").cast("long").as("cid"), quant(col("embedding")).as("qc"))))
        .as("cents"))
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        let(quant(col("embedding")))(qv => struct(
          array_min(transform(col("cents"), c =>
            aggregate(zip_with(qv, c("qc"), (a, b) => (a - b) * (a - b)),
              lit(0L), (s, x) => s + x) * 100L + c("cid"))).as("best"),
          element_at(qv, 1).as("q1"), element_at(qv, 2).as("q2"),
          element_at(qv, 3).as("q3"), element_at(qv, 4).as("q4"))).as("r"))
      .select(col("vec_id"),
        (col("r.best") % 100L).as("cluster_id"),
        // integer DIV (repo convention): structurally the oracle's `//`
        expr("(r.best - r.best % 100) DIV 100").as("sqdist"),
        col("r.q1"), col("r.q2"), col("r.q3"), col("r.q4"))
    assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("q1")).cast("double") / 1000.0 / count(lit(1)), 4).as("c1"),
        round(sum(col("q2")).cast("double") / 1000.0 / count(lit(1)), 4).as("c2"),
        round(sum(col("q3")).cast("double") / 1000.0 / count(lit(1)), 4).as("c3"),
        round(sum(col("q4")).cast("double") / 1000.0 / count(lit(1)), 4).as("c4"),
        min(col("sqdist")).as("min_sqdist"),
        max(col("sqdist")).as("max_sqdist"))
      .orderBy(col("cluster_id"))
  }

  /** Per-label centroid outliers — the embedding-QA pass that flags likely
    * mislabeled / out-of-distribution vectors: for every label, the 3
    * members farthest from the label's mean embedding. Bit-exact
    * cross-engine via the [[kmeansUpdate]] integer trick, pushed one step
    * further: with quantized coords q and per-label sums S over n members,
    * the distance to the mean scaled by n² is Σ(n·qᵢ − Sᵢ)² — pure BIGINT
    * arithmetic, no division, no float summation order (safe while
    * n·|q| < 3·10⁸ per coordinate). Plan shape: one (label, dim) hash agg
    * for the sums (map-side partials carry three BIGINTs), the tiny
    * #labels-row centroid frame broadcast back, one map pass to score,
    * and the X39 WindowGroupLimit idiom for top-3 — the corpus never
    * shuffles its vectors. */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), quant(col("embedding")).as("q"))
    val sums = e.select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos")).agg(sum(col("qv")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x("s")).as("sums"))
    val counts = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("label")).orderBy(col("dist2").desc, col("vec_id"))
    e.join(broadcast(sums), "label").join(broadcast(counts), "label")
      .withColumn("dist2",
        aggregate(zip_with(col("q"), col("sums"),
          (a, b) => (col("n") * a - b) * (col("n") * a - b)),
          lit(0L), (s, x) => s + x))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("label"), col("vec_id"), col("dist2"), col("rank"))
      .orderBy(col("label"), col("rank"))
  }

  /** kNN label-confusion matrix — embedding-space QA for labeled corpora:
    * counts of (query label → neighbor label) over every exact top-k pair,
    * with the per-query-label share. A clean diagonal means labels are
    * separable in embedding space; hot off-diagonal cells name the label
    * pairs that blur. Rides [[knnBrute]] unchanged + two broadcast label
    * joins + one tiny (#labels²) agg; the share's window runs over the
    * aggregated frame, never the pair set. */
  def labelConfusion(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    knnBrute(spark, dir)
      .join(broadcast(labels.select(col("vec_id").as("qid"),
        col("label").as("query_label"))), "qid")
      .join(broadcast(labels.select(col("vec_id").as("cid"),
        col("label").as("neighbor_label"))), "cid")
      .groupBy(col("query_label"), col("neighbor_label"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("share", round(col("n_pairs").cast("double") /
        sum(col("n_pairs")).over(Window.partitionBy(col("query_label"))), 4))
      .orderBy(col("query_label"), col("neighbor_label"))
  }

  /** Top principal direction of the embedding cloud via TWO integer-exact
    * power iterations — the spectral health check (dominant-direction
    * collapse, whitening precursor) a representation pipeline runs over
    * its embedding table. Float power iteration accumulates order-
    * dependent sums the oracle could never hash; here components quantize
    * to milli-units ONCE (the [[kmeansUpdate]] trick) and every
    * accumulation — per-row dots, per-dim Σ x_j·(x·v), the max-|w|
    * renormalizer — is BIGINT arithmetic, order-independent on any
    * cluster. Renormalization is sign·((|w|·1000) div max|w|): integer
    * division of POSITIVE terms, identical truncation semantics in both
    * engines (signed `div` floors in one engine and truncates in the
    * other — the sign split avoids the trap). Per iteration: one map-side
    * dot pass + one dim-keyed aggregate (64 keys, partial-agg'd); the
    * 1-row normalizer broadcasts. Bounds: |q|≤600 milli, |v|≤1000, so
    * w ≤ rows·600·(64·600·1000) — BIGINT-safe far past this corpus
    * (DECIMAL(38,0) is the documented swap at 10¹² rows). */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quant(col("embedding")).as("qv"))
    def dimSums(withDot: DataFrame): DataFrame =
      withDot.select(col("dot"), posexplode(col("qv")).as(Seq("j", "x")))
        .groupBy(col("j")).agg(sum(col("x") * col("dot")).as("w"))
    def renorm(w: DataFrame): DataFrame = {
      val m = w.agg(max(abs(col("w"))).as("m"))
      w.crossJoin(broadcast(m)).select(col("j"),
        (when(col("w") < 0, -1L).otherwise(1L) *
          expr("(abs(w) * 1000) div m")).as("v"))
    }
    // iteration 1: v0 = 1000·𝟙, so the dot is 1000·Σ qv
    val d1 = q.select(col("qv"),
      (aggregate(col("qv"), lit(0L), (a, x) => a + x) * 1000L).as("dot"))
    val v1 = renorm(dimSums(d1))
    // iteration 2: fold v1 back to an ordered array, one broadcast row
    val v1arr = v1.agg(array_sort(collect_list(struct(col("j"), col("v"))))
      .as("vs"))
    val d2 = q.crossJoin(broadcast(v1arr)).select(col("qv"),
      aggregate(zip_with(col("qv"), transform(col("vs"), s => s("v")),
        (x, vj) => x * vj), lit(0L), (a, x) => a + x).as("dot"))
    val w2 = dimSums(d2)
    val v2 = renorm(w2)
    val tot = v2.agg(sum(col("v") * col("v")).as("vv"))
    w2.join(v2, Seq("j")).crossJoin(broadcast(tot))
      .select(col("j").as("dim"), col("w").as("w_exact"),
        col("v").as("v_milli"),
        round((col("v") * col("v")).cast("double") / col("vv"), 6)
          .as("loading_share"))
      .orderBy(col("dim"))
  }

  /** Calibration audit of the kNN classifier — the reliability diagram +
    * expected-calibration-error (ECE) contributions a model-eval pipeline
    * computes before trusting a classifier's confidence as a data-quality
    * gate. Confidence of a kNN vote is votes/k, so the bins are the k
    * possible vote counts: per bin we report count, empirical accuracy,
    * stated confidence, and the bin's weighted |conf − acc| ECE term
    * (their sum IS the ECE). The prediction frame aggregates to ≤k
    * metadata rows before any division happens, so the audit costs one
    * keyed aggregation over predictions however many there are; every
    * double is a ratio of exact BIGINTs in a fixed expression order, so
    * both engines agree bit-for-bit. */
  def knnCalibration(spark: SparkSession, dir: String): DataFrame = {
    val bins = knnClassify(spark, dir)
      .groupBy(col("votes"))
      .agg(count(lit(1)).as("n_preds"),
        sum(col("correct").cast("long")).as("n_correct"))
    val tot = bins.agg(sum(col("n_preds")).as("n_total"))
    bins.crossJoin(broadcast(tot))
      .select(col("votes"),
        round(col("votes").cast("double") / TopK, 6).as("confidence"),
        col("n_preds"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_preds"), 6)
          .as("accuracy"),
        round(abs(col("votes").cast("double") / TopK -
            col("n_correct").cast("double") / col("n_preds")) *
          col("n_preds") / col("n_total"), 6).as("ece_contrib"))
      .orderBy(col("votes"))
  }

  /** Embedding norm audit — the QA table a vector pipeline runs before
    * trusting cosine anywhere: per label, the L2-norm distribution
    * (count, min/max/mean) and the degenerate-vector census (‖x‖ <
    * 0.01 — near-zero vectors make cosine meaningless and blow up
    * normalization). Norms come from the sequential-fold dot (bit-equal
    * in both engines, sqrt is IEEE-correctly-rounded) and are quantized
    * to micro-units ONCE so every aggregate — including the mean — is
    * an exact BIGINT sum divided a single time. One keyed aggregate
    * over a map-side projection; nothing shuffles but (label, long). */
  def normAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"),
        floor(graft.functions.GraftFunctions.l2norm(col("embedding"))
          * 1e6 + 0.5).cast("long").as("q"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("q")).as("min_norm_u"),
        max(col("q")).as("max_norm_u"),
        sum(col("q")).as("sum_u"),
        sum(when(col("q") < 10000L, 1L).otherwise(0L)).as("n_degenerate"))
      .select(col("label"), col("n_vectors"), col("min_norm_u"),
        col("max_norm_u"),
        round(col("sum_u").cast("double") / col("n_vectors") / 1e6, 6)
          .as("mean_norm"),
        col("n_degenerate"))
      .orderBy(col("label"))

  /** Matryoshka recall curve — recall@5 of PREFIX-dimension cosine
    * rankings (dims 8/16/32/64) against the full-dim ground truth: the
    * evaluation behind truncatable-embedding serving (store one vector,
    * serve any prefix; MRL-style). Each truncation reranks with the same
    * sequential-fold cosine on the sliced array — prefix slices keep the
    * fold order, so both engines score identically — and the recall
    * census is an integer hit count divided once. The 64-dim row is the
    * built-in sanity anchor (recall 1 by construction). Cost: the query
    * batch broadcasts once per dim against the corpus — the [[annRecall]]
    * shape × |dims|, each pass cheaper than the last full-dim one. */
  def matryoshkaRecall(spark: SparkSession, dir: String,
      dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import graft.functions.GraftFunctions
    val truth = knnBrute(spark, dir).select(col("qid"), col("cid"))
      .withColumn("hit", lit(1L))
    val e = Tables.embeddings(spark, dir)
    val frames = dims.map { d =>
      val q = e.filter(col("vec_id") < QuerySet).select(
        col("vec_id").as("qid"), slice(col("embedding"), 1, d).as("qv"))
      val c = e.select(col("vec_id").as("cid"),
        slice(col("embedding"), 1, d).as("cv"))
      ranked(broadcast(q).join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          (GraftFunctions.dot(col("qv"), col("cv")) /
            (GraftFunctions.l2norm(col("qv")) *
              GraftFunctions.l2norm(col("cv")))).as("raw")))
        .select(lit(d).as("dims"), col("qid"), col("cid"))
    }
    frames.reduce(_ unionByName _)
      .join(truth, Seq("qid", "cid"), "left")
      .groupBy(col("dims"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("dims"), col("n_ranked"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_ranked"), 6)
          .as("recall_at_5"))
      .orderBy(col("dims"))
  }

  /** Per-query ANN recall@k as a QUERY (not just a spec): exact top-k
    * from [[knnBrute]] left-joined against [[annLsh]]'s answer set —
    * per query, the fraction of true neighbors the approximate index
    * found. This is the recall dashboard an ANN deployment watches; both
    * sides are existing plans, the join keys are (qid, cid) pairs. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(spark, dir).select(col("qid"), col("cid"))
    val approx = annLsh(spark, dir).select(col("qid"), col("cid"))
      .withColumn("hit", lit(1L))
    brute.join(approx, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("qid"), col("n_true"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_true"), 4).as("recall_at_k"))
      .orderBy(col("qid"))
  }

  /** Embedding drift monitor — the ML-ops check between two corpus
    * snapshots: per label, the squared distance between the old-half and
    * new-half centroids (halves = deterministic vec_id parity), reported
    * in micro-units of the 3-dp-quantized embedding space.
    *
    * The per-half sums S over n members are exact integers (one (label,
    * half) hash agg each); the centroid coordinate S_i/n is then ONE
    * IEEE-754 double division of two exact integers — bit-identical in
    * any engine — and the 64-term ordered fold of squared differences is
    * deterministic because both Spark's `aggregate` and DuckDB's
    * `list_reduce` fold sequentially in array order. The round-10 form of
    * this face cross-multiplied instead (Σ(n₂·S₁ᵢ − n₁·S₂ᵢ)², avoiding
    * the division) — integer-exact but with an output domain growing
    * ~n⁴: the first full sf10 board run overflowed its BIGINT edge cast
    * at 9.5·10¹⁸ (CAST_OVERFLOW, round-11 finding). Mean-based drift is
    * corpus-size-INDEPENDENT (bounded by 4·10⁶ per dimension · 64 dims ·
    * the 10⁶ output scale ≈ 2.6·10¹⁴ at any n) — the form that survives
    * 100 TB. Two (label, half) hash aggs + a label-keyed join of two
    * #labels-row frames. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val halves = Tables.embeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 2 === 0).as("old_half"),
        quant(col("embedding")).as("q"))
    val sums = halves
      .select(col("label"), col("old_half"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("old_half"), col("pos"))
      .agg(sum(col("qv")).as("s"))
      .groupBy(col("label"), col("old_half"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x("s")).as("sums"))
    val counts = halves.groupBy(col("label"), col("old_half"))
      .agg(count(lit(1)).as("n"))
    val side = sums.join(counts, Seq("label", "old_half"))
    val o = side.filter(col("old_half"))
      .select(col("label"), col("sums").as("s1"), col("n").as("n1"))
    val nw = side.filter(!col("old_half"))
      .select(col("label"), col("sums").as("s2"), col("n").as("n2"))
    o.join(nw, "label")
      .select(col("label"), col("n1").as("n_old"), col("n2").as("n_new"),
        floor(aggregate(zip_with(col("s1"), col("s2"), (a, b) => {
            val d = a.cast("double") / col("n1").cast("double") -
              b.cast("double") / col("n2").cast("double")
            d * d
          }),
          lit(0.0),
          (s, x) => s + x) * 1000000.0 + 0.5)
          .cast("long").as("drift_q"))
      .orderBy(col("label"))
  }

  /** kNN classification eval — predict each query vector's label by
    * majority vote over its exact top-k neighbors (ties → smallest
    * label, deterministic in both engines) and report right/wrong
    * against the declared label: the standard embedding-quality
    * evaluation. Rides [[knnBrute]] + broadcast labels; the vote is a
    * (qid, label) count + a two-level argmax. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val votes = knnBrute(spark, dir)
      .join(broadcast(labels.select(col("vec_id").as("cid"),
        col("label").as("neighbor_label"))), "cid")
      .groupBy(col("qid"), col("neighbor_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("neighbor_label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(labels.select(col("vec_id").as("qid"),
        col("label").as("true_label"))), "qid")
      .select(col("qid"), col("true_label"),
        col("neighbor_label").as("predicted_label"), col("votes"),
        (col("neighbor_label") === col("true_label")).as("correct"))
      .orderBy(col("qid"))
  }

  /** Leading dimensions covered by [[covariance]]. */
  val CovDims = 8

  /** Distributed covariance matrix over the leading [[CovDims]] embedding
    * dimensions — step 0 of PCA whitening / decorrelation over a corpus
    * of vectors. The pair products are generated per-row with nested
    * array `transform`s (36 structs per vector — map-only, NO self-join:
    * the exploded-self-join formulation shuffles corpus×dims rows, this
    * shuffles only the d(d+1)/2 partial sums). Parity is exact, not
    * approximate: elements are cast to DECIMAL(14,10) so the sums are
    * exact integers-of-scale (order-independent — float summation order
    * differs between engines, decimal summation cannot), and the final
    * covariance is evaluated in the same double expression shape on both
    * sides. */
  def covariance(spark: SparkSession, dir: String): DataFrame = {
    val d = CovDims
    val pairs = Tables.embeddings(spark, dir)
      .select(expr(s"transform(slice(embedding, 1, $d), " +
        "v -> cast(cast(v as double) as decimal(14,10)))").as("a"))
      .select(expr(
        s"""explode(flatten(transform(a, (xi, i) ->
           |  transform(slice(a, i + 1, $d - i),
           |    (xj, dj) -> named_struct(
           |      'i', i, 'j', i + dj, 'x', xi, 'y', xj))))) AS p""".stripMargin))
    pairs.groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("p.x")).as("sx"),
        sum(col("p.y")).as("sy"), sum(col("p.x") * col("p.y")).as("sxy"))
      .select(col("i"), col("j"),
        round((col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double") / col("n")) /
          col("n"), 6).as("cov"))
      .orderBy("i", "j")
  }

  /** IVF index-balance audit — per coarse cell: member count, share of
    * the corpus, and the imbalance factor (count ÷ ideal). Cell balance
    * is THE health metric of an IVF index: one hot cell turns nprobe=1
    * queries into near-brute scans, and rebalancing (re-training the
    * coarse quantizer) is triggered off exactly this report. One map
    * pass (cell assignment) + one [[IvfCells]]-group agg; the share
    * denominators ride a window over the ≤[[IvfCells]]-row frame. */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.embeddings(spark, dir)
      .select(ivfCell(col("embedding")).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .withColumn("share", round(col("n_vectors").cast("double") /
        sum(col("n_vectors")).over(wAll), 4))
      .withColumn("imbalance", round(col("n_vectors").cast("double") *
        IvfCells / sum(col("n_vectors")).over(wAll), 4))
      .orderBy("cell")
  }

  /** Negatives per query picked by [[negativeSample]]. */
  val NegK = 5

  /** Deterministic negative sampling — contrastive-training dataset
    * construction: for every query vector, [[NegK]] uniformly-"random"
    * negatives drawn from the different-label corpus. The draw is a
    * salted hash priority (reproducible across runs, retries, and
    * cluster sizes — the property shuffle-based sampling loses). Query
    * batch broadcasts to the corpus scan ([[knnBrute]]'s shape: the
    * corpus never shuffles pre-limit) and WindowGroupLimit prunes to
    * NegK per query before the final exchange. */
  def negativeSample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val q = e.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("label").as("q_label"))
    val pri = strHash(concat(lit("neg:"), col("qid").cast("string"),
      lit(":"), col("cid").cast("string")))
    val w = Window.partitionBy(col("qid")).orderBy(col("pri"), col("cid"))
    e.select(col("vec_id").as("cid"), col("label").as("neg_label"))
      .join(broadcast(q), col("neg_label") =!= col("q_label"))
      .select(col("qid"), col("q_label"), col("cid"), col("neg_label"),
        pri.as("pri"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= NegK)
      .select(col("qid"), col("neg_rank"), col("cid"), col("q_label"),
        col("neg_label"))
      .orderBy("qid", "neg_rank")
  }

  /** Within-cell cosine threshold for [[semanticDedup]] — tuned so the
    * fixture's word-salad embeddings produce real drops (max pairwise
    * cosine ≈ 0.51); a production corpus runs τ ≈ 0.95+. */
  val SemTau = 0.3

  /** Target max coarse-cell population for [[semanticDedup]]. The r9 sf1
    * rehearsal caught the fixed-[[IvfCells]] version super-linear (26× on
    * 10× data): with k fixed, cell sizes grow ∝ n and the within-cell
    * pair join Σ|cell|² grows ∝ n² — the exact failure SemDeDup's real
    * k ∝ n k-means avoids. The engine's stand-in for "k scales with the
    * corpus": refine each coarse cell with the first `used` bits of a
    * 16-plane LSH sub-bucket, where `used` is the smallest u with
    * n ≤ target·2^u — an integer threshold chain in BOTH engines (never
    * float log2: ULP drift at exact powers of two would flip the ceil),
    * computed from one 1-row COUNT broadcast, no driver-side job. */
  val SemTargetCell = 256
  private val SemSubPlanes = 16

  /** Smallest u ∈ [0,16] with nVecs ≤ [[SemTargetCell]]·2^u. */
  private def semUsedBits(nVecs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    var c = when(nVecs <= SemTargetCell.toLong, 0)
    for (u <- 1 until SemSubPlanes)
      c = c.when(nVecs <= (SemTargetCell.toLong << u), u)
    c.otherwise(SemSubPlanes)
  }

  /** Semantic (embedding-space) dedup — the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540) used on LAION/web-scale corpora: coarse-
    * cluster embeddings into the [[IvfCells]] k-means-style cells, then
    * within each cell drop every member whose cosine to a LOWER-id
    * member reaches [[SemTau]] (keep min-id — the deterministic stand-in
    * for the paper's keep-one-per-near-dup-group), and report the
    * per-cell census. This is X62's cells composed with X5's within-
    * bucket cosine: the pairwise join is keyed on the cell, so its cost
    * is Σ|cell|², bounded by the largest cell — never corpus² (at 100 TB
    * the cells come from a real k-means fit via [[kmeansUpdate]] and the
    * census aggregates map-side per cell). Approximation vs brute
    * all-pairs is cross-cell pair loss; SimilaritySpec measures that
    * recall on the fixture. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      ivfCell(col("embedding")).as("coarse"),
      graft.functions.TextHash.lshBucket(col("embedding"), 64, SemSubPlanes)
        .as("fine"))
    val nVecs = raw.agg(count(lit(1)).as("n_vecs"))
    // composite cell = coarse · 2^used + top `used` bits of the sub-bucket;
    // used = 0 at fixture scale (cell ids unchanged), grows with the corpus
    // so max cell stays ~SemTargetCell and Σ|cell|² stays ~linear. The
    // 2^x factors are powers of two — exact in double, exact after cast.
    // localCheckpoint: `e` is consumed THREE times (pair-join a-side,
    // b-side, census) and Catalyst inlines the subtree per reference — the
    // per-vector l2norm + IVF cell + 16-plane LSH hashing ran 3× (r17 job
    // profile: three ~0.7–0.85 s jobs, warm 3.0 s). Materializing the
    // narrow (vec_id, embedding, nrm, cell) frame once cuts that to one
    // hash pass (guide §1.2 double-computed subtree; the r16
    // stageEdges/shortestPaths3 precedent). The count side of the
    // crossJoin is column-pruned to a row-count scan, so the one
    // evaluation stays cheap.
    val e = raw.crossJoin(broadcast(nVecs))
      .withColumn("used", semUsedBits(col("n_vecs")))
      .withColumn("cell",
        col("coarse") * pow(lit(2.0), col("used")).cast("long") +
          floor(col("fine") / pow(lit(2.0), lit(SemSubPlanes) - col("used")))
            .cast("long"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .localCheckpoint()
    val dropped = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(
          graft.functions.GraftFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")), 6) >= SemTau)
      .select(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"))
      .distinct()
    val drops = dropped.groupBy(col("cell")).agg(count(lit(1)).as("n_dropped"))
    e.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(drops, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_survivors"))
      .orderBy(col("cell"))
  }

  val KDensity = 8

  /** kNN-density out-of-distribution scoring — each vector's score is the
    * cosine to its k-th nearest same-LSH-bucket neighbor (k=8, clamped to
    * the bucket population); the 10 lowest scores are the most isolated
    * points, the standard non-parametric curation signal (low local
    * density → mislabeled / off-distribution / junk). Complements
    * [[centroidOutliers]] (parametric, global): kNN-density catches points
    * far from everything even when the global moments look fine. Bucketing
    * makes it the scale path — pairs grow per-bucket, never corpus², the
    * same reason [[annLsh]] beats brute at 100 TB. The plane count scales
    * with the corpus ([[graft.dedup.Dedup.annPlanesFor]], one eager count
    * — the [[graft.dedup.Dedup.embeddingNearDup]] staging pattern): at a
    * FIXED plane count bucket population grows ∝ n and the candidate join
    * cost Σ|bucket|² ∝ n² — the exact quadratic the near-dup face
    * exhibited at sf1 before its planes went data-sized. Points alone in
    * their bucket score −2 (below any cosine), surfacing them first. */
  def oodKnn(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    val planes = graft.dedup.Dedup.annPlanesFor(base.count())
    // One hash pass, three consumers (q side, c side, singletons): without
    // the barrier Catalyst inlines the scan + l2norm + LSH subtree per
    // reference — the [[semanticDedup]] defect class (guide §1.2).
    val e = base.select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      lshBucket(col("embedding"), 64, planes).as("bucket"))
      .localCheckpoint()
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      col("nrm").as("qn"), col("bucket"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("bucket"))
    val pairs = q.join(c, Seq("bucket")).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("raw"))
    val kth = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("raw").desc, col("cid"))))
      .withColumn("n_nbrs",
        count(lit(1)).over(Window.partitionBy(col("qid"))))
      .filter(col("rn") === least(lit(KDensity.toLong), col("n_nbrs")))
      .select(col("qid").as("vec_id"), col("n_nbrs"), col("raw"))
      // vector-count-sized result of the bucket pair join + two windows,
      // consumed twice (the union and the singleton anti-join): barrier so
      // the quadratic-in-bucket pair pass runs once, not per reference
      .localCheckpoint()
    val singletons = e.select(col("vec_id"))
      .join(kth.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(0L).as("n_nbrs"),
        lit(null).cast("double").as("raw"))
    kth.unionByName(singletons)
      .select(col("vec_id"), col("n_nbrs"),
        round(coalesce(col("raw"), lit(-2.0)), 6).as("ood_score"))
      .orderBy(col("ood_score"), col("vec_id"))
      .limit(10)
  }

  /** Anchor set for [[tripletMining]] — vec_id < this are the anchors. */
  val TripletAnchors = 40

  /** Hard-triplet mining — metric-learning dataset construction (the
    * FaceNet / sentence-embedding fine-tune shape): for each labeled
    * anchor, the hardest positive (same label, LOWEST cosine — the pair
    * the model most struggles to pull together) and the hardest negative
    * (different label, HIGHEST cosine — the pair it most struggles to
    * push apart), plus the margin and the count of margin-0 triplet-loss
    * violations (negatives scoring above the hardest positive). One
    * broadcast of the anchor batch against a single partitioned corpus
    * pass ([[knnBrute]]'s scan shape — candidates never shuffle), then
    * per-anchor struct-min/max aggregates: cost is linear in the corpus
    * per anchor batch, the same economics a production miner runs per
    * training epoch. Ties break on candidate id in both engines (struct
    * ordering here ≡ row_number ORDER BY raw, cid in the oracle). */
  def tripletMining(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"))
    val a = e.filter(col("vec_id") < TripletAnchors)
      .select(col("vec_id").as("anchor"), col("label").as("a_label"),
        col("embedding").as("av"), col("nrm").as("an"))
    def pairs = broadcast(a).join(
        e.select(col("vec_id").as("cid"), col("label").as("c_label"),
          col("embedding").as("cv"), col("nrm").as("cn")),
        col("anchor") =!= col("cid"))
      .select(col("anchor"), col("a_label"), col("cid"), col("c_label"),
        (graft.functions.GraftFunctions.dot(col("av"), col("cv")) /
          (col("an") * col("cn"))).as("raw"))
    // scan 1: BOTH extremes in one conditional aggregate — the Q×N pair
    // frame is never materialized (at corpus scale 40·N rows would be a
    // checkpoint the pipeline can't afford; map-side partials reduce it
    // to 40 rows before anything persists)
    val ext = pairs.groupBy(col("anchor"), col("a_label").as("label"))
      .agg(
        min(when(col("c_label") === col("a_label"),
          struct(col("raw"), col("cid")))).as("p"),
        max(when(col("c_label") =!= col("a_label"),
          struct(col("raw"), (-col("cid")).as("ncid")))).as("n"))
      .select(col("anchor"), col("label"),
        col("p.cid").as("pos_id"), col("p.raw").as("pos_raw"),
        (-col("n.ncid")).as("neg_id"), col("n.raw").as("neg_raw"))
      .localCheckpoint(true)
    // scan 2: violation census against the broadcast 40-row extremes
    val viol = pairs
      .join(broadcast(ext.select(col("anchor"), col("pos_raw"))), Seq("anchor"))
      .filter(col("c_label") =!= col("a_label") && col("raw") > col("pos_raw"))
      .groupBy(col("anchor")).agg(count(lit(1)).as("n_violations"))
    ext.join(viol, Seq("anchor"), "left")
      .select(col("anchor"), col("label"), col("pos_id"),
        round(col("pos_raw"), 6).as("pos_sim"),
        col("neg_id"), round(col("neg_raw"), 6).as("neg_sim"),
        round(col("pos_raw") - col("neg_raw"), 6).as("margin"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"))
      .orderBy(col("anchor"))
  }

  /** One NN-Descent refinement round (Dong et al. 2011) — the graph-ANN
    * construction primitive behind HNSW/NSG index builds: start every
    * node from its LSH-bucket top-[[TopK]] (the [[annLsh]] graph over ALL
    * nodes), expand candidates through neighbors-of-neighbors (u→v→w),
    * exact-rerank the union, keep top-[[TopK]]. "A neighbor of my
    * neighbor is likely my neighbor" — each round the graph's recall
    * rises while per-node cost stays K² candidate fetches, never a
    * corpus scan; the spec measures the recall gain over the initial
    * bucket graph against brute truth. Output is the refined adjacency
    * for the pinned query slice (the full graph materializes the same
    * way at scale: id-keyed joins, K²-bounded candidate frames). */
  def nnDescentRound(spark: SparkSession, dir: String): DataFrame = {
    // TWO independent hash tables (disjoint hyperplane sets: the low and
    // high halves of a 2×planes bucket) stand in for NN-Descent's random
    // init — with a single table the expansion never leaves the bucket
    // (my neighbors share my bucket, and so do theirs) and the round is a
    // no-op; table-2 edges are exactly the cross-bucket bridges the
    // expansion needs. The per-table plane count scales with the corpus
    // ([[graft.dedup.Dedup.annPlanesFor]], one eager count): fixed-count
    // buckets make the per-table candidate join Σ|bucket|² ∝ n² — the
    // quadratic embeddingNearDup exhibited at sf1 before its planes went
    // data-sized. bucket2 is the HIGH half via shiftright — pure integer,
    // structurally the oracle's `//` (a float divide would go lossy past
    // ~52 bits of planes even though today's counts never reach it).
    val base = Tables.embeddings(spark, dir)
    // per-half plane count capped at 31: the DOUBLED bucket key must stay
    // inside a 64-bit shift in BOTH engines — Scala's << wraps mod 64
    // (plane 64 would silently pollute bit 0 of bucket1) while DuckDB's
    // does not, so past 63 total planes the two faces diverge. The cap
    // binds only beyond ~1.4e11 vectors, where 2^31 buckets per half
    // still satisfy the expected-bucket-size model; the oracle applies
    // the identical LEAST(planes, 31).
    val planes = math.min(graft.dedup.Dedup.annPlanesFor(base.count()), 31)
    val b2 = lshBucket(col("embedding"), 64, 2 * planes)
    val e = base.select(
      col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"),
      (b2 % (1L << planes)).as("bucket1"),
      shiftright(b2, planes).as("bucket2"))
      .localCheckpoint(true)
    def table(bucket: String): DataFrame = {
      val q = e.select(col("vec_id").as("uid"), col("embedding").as("qv"),
        col("nrm").as("qn"), col(bucket).as("b"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cn"), col(bucket).as("b"))
      q.join(c, Seq("b")).filter(col("uid") =!= col("cid"))
        .select(col("uid"), col("cid"),
          (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
            (col("qn") * col("cn"))).as("raw"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("uid")).orderBy(col("raw").desc, col("cid"))))
        .filter(col("rn") <= TopK)
        .select(col("uid"), col("cid"))
    }
    // initial graph: per-node top-K in EACH table (K²-bounded per bucket),
    // reused by both the direct candidates and the expansion join
    val init = table("bucket1").unionByName(table("bucket2")).distinct()
      .localCheckpoint(true)
    val expanded = init.as("x").join(init.as("y"),
        col("x.cid") === col("y.uid"))
      .select(col("x.uid").as("uid"), col("y.cid").as("cand"))
      .filter(col("uid") =!= col("cand"))
    val cands = init.select(col("uid"), col("cid").as("cand"))
      .unionByName(expanded).distinct()
    val uf = e.select(col("vec_id").as("uid"), col("embedding").as("uv"),
      col("nrm").as("un"))
    val cf = e.select(col("vec_id").as("cand"), col("embedding").as("fv"),
      col("nrm").as("fn"))
    ranked(cands.join(uf, Seq("uid")).join(cf, Seq("cand"))
      .filter(col("uid") < QuerySet)
      .select(col("uid").as("qid"), col("cand").as("cid"),
        (graft.functions.GraftFunctions.dot(col("uv"), col("fv")) /
          (col("un") * col("fn"))).as("raw")))
  }

  /** Pinned evaluation universe for [[densityCores]] (vec_id < this). */
  val DensityN = 400
  /** ε-ball cosine threshold and core-point degree for [[densityCores]]
    * — tuned so the word-salad fixture exhibits all three classes
    * (observed at sf0.01: 237 core / 123 border / 40 noise). */
  val DensityEps = 0.3
  val DensityMinPts = 3

  /** DBSCAN density primitives — ε-neighbor count and core/border/noise
    * classification (Ester et al. 1996) over a pinned evaluation slice:
    * core = ≥ [[DensityMinPts]] neighbors with cosine ≥ [[DensityEps]];
    * border = non-core with a core ε-neighbor; noise = the rest — the
    * curation signal separating "in a dense mode" from "isolated junk"
    * more sharply than plain kNN density ([[oodKnn]]). The pinned slice
    * is the correctness certificate (both engines enumerate its exact
    * pairs); at corpus scale the ε-ball counting rides the LSH-bucket
    * candidate join ([[annLsh]]/[[semanticDedup]]'s blocking) so pair
    * cost grows per-bucket, never corpus². */
  def densityCores(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < DensityN)
      .select(col("vec_id"), col("embedding"),
        graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"))
      .localCheckpoint(true)
    val b = e.select(col("vec_id").as("nbr"), col("embedding").as("bv"),
      col("nrm").as("bn"))
    val nbrs = e.as("a").join(broadcast(b), col("vec_id") =!= col("nbr"))
      .filter(round(
          graft.functions.GraftFunctions.dot(col("embedding"), col("bv")) /
            (col("nrm") * col("bn")), 6) >= DensityEps)
      .select(col("vec_id"), col("nbr"))
      .localCheckpoint(true)
    val counts = e.select(col("vec_id"))
      .join(nbrs.groupBy(col("vec_id")).agg(count(lit(1)).as("n_eps")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_eps"), lit(0L)).as("n_eps"))
    val cores = counts.filter(col("n_eps") >= DensityMinPts)
      .select(col("vec_id").as("core_id"))
    val nearCore = nbrs.join(broadcast(cores),
        col("nbr") === col("core_id"), "left_semi")
      .select(col("vec_id")).distinct().withColumn("near_core", lit(true))
    counts.join(nearCore, Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_eps"),
        when(col("n_eps") >= DensityMinPts, "core")
          .when(col("near_core"), "border")
          .otherwise("noise").as("cls"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ood_knn" -> oodKnn,
    "sim_triplet_mining" -> tripletMining,
    "sim_density_cores" -> densityCores,
    "sim_nndescent" -> nnDescentRound,
    "sim_knn_calibration" -> knnCalibration,
    "sim_pca_power" -> pcaPower,
    "sim_matryoshka_recall" -> ((s: SparkSession, d: String) => matryoshkaRecall(s, d)),
    "sim_norm_audit" -> normAudit,
    "sim_ann_ivf_persisted" -> annIvfPersisted,
    "dedup_semantic" -> semanticDedup,
    "sim_negative_sample" -> negativeSample,
    "sim_ivf_cell_stats" -> ivfCellStats,
    "sim_covariance" -> covariance,
    "sim_knn_classify" -> knnClassify,
    "sim_embedding_drift" -> embeddingDrift,
    "sim_label_confusion" -> labelConfusion,
    "sim_ann_recall" -> annRecall,
    "sim_centroid_outliers" -> centroidOutliers,
    "sim_kmeans_update" -> kmeansUpdate,
    // nprobe=2 pinned here for oracle parity; the dial is the 3rd param
    "sim_ann_ivf_nprobe" -> ((s: SparkSession, d: String) => annIvfNprobe(s, d)),
    "sim_knn_brute" -> knnBrute,
    "sim_ann_lsh" -> annLsh,
    "sim_ann_lsh_multiprobe" -> annLshMultiprobe,
    "sim_ann_ivf" -> annIvf,
    "sim_ann_pq" -> annPq,
    "sim_ann_ivfpq" -> annIvfPq,
    // candK=25 pinned here for oracle parity; the dial is the 3rd param
    "sim_ann_twostage" -> ((s: SparkSession, d: String) => annTwoStage(s, d)),
    "sim_quantize_int8" -> quantizeInt8)

  val TruncDims = 16 // stage-1 prefix length (Matryoshka-style)
  val CandK = 25     // candidates kept per query for the exact rerank

  /** Two-stage retrieval: stage 1 scores every pair on only the first
    * [[TruncDims]] coordinates (4× less arithmetic and — with the prefix
    * stored as its own column at scale — 4× less scan), keeps [[CandK]]
    * candidates per query; stage 2 fetches full vectors BY ID for just
    * Q×CandK rows and reranks with the exact 64-dim cosine. The pipeline's
    * semantics are the two-stage composition itself (deterministic: both
    * engines fold the identical float data in the identical order, and
    * ranks tiebreak on cid), so the oracle mirrors both stages; recall vs
    * brute force is pinned by the spec, not the oracle: monotone in
    * `candK`, and exactly brute once candK covers the corpus (the
    * recall/cost dial, like IVF's nprobe). */
  def annTwoStage(spark: SparkSession, dir: String, candK: Int = CandK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val trunc = e.select(col("vec_id"),
      slice(col("embedding"), 1, TruncDims).as("tv"))
    val q1 = trunc.filter(col("vec_id") < QuerySet)
      .select(col("vec_id").as("qid"), col("tv").as("qtv"),
        graft.functions.GraftFunctions.l2norm(col("tv")).as("qtn"))
    val c1 = trunc.select(col("vec_id").as("cid"), col("tv").as("ctv"),
      graft.functions.GraftFunctions.l2norm(col("tv")).as("ctn"))
    val cand = broadcast(q1).join(c1, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qtv"), col("ctv")) /
          (col("qtn") * col("ctn"))).as("s1"))
      .withColumn("cand_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("s1").desc, col("cid"))))
      .filter(col("cand_rank") <= candK)
      .select(col("qid"), col("cid"))
    val full = e.select(col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.l2norm(col("embedding")).as("nrm"))
    val qf = full.select(col("vec_id").as("qid"),
      col("embedding").as("qv"), col("nrm").as("qn"))
    val cf = full.select(col("vec_id").as("cid"),
      col("embedding").as("cv"), col("nrm").as("cn"))
    ranked(cand.join(broadcast(qf), Seq("qid")).join(cf, Seq("cid"))
      .select(col("qid"), col("cid"),
        (graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("raw")))
  }
}

object SimilarityOracles {
  import graft.functions.TextHashSql

  private def rankedSql(scoredCte: String): String =
    s"""$scoredCte
       |SELECT qid, neighbor_rank, cid, round(raw, 6) AS cos_sim FROM (
       |  SELECT qid, cid, raw,
       |         row_number() OVER (PARTITION BY qid ORDER BY raw DESC, cid) AS neighbor_rank
       |  FROM s)
       |WHERE neighbor_rank <= ${Similarity.TopK}
       |ORDER BY qid, neighbor_rank""".stripMargin

  val knnBrute: String = rankedSql(
    s"""WITH s AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < ${Similarity.QuerySet})""".stripMargin)

  val annLsh: String = rankedSql(
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         ${TextHashSql.lshBucket("embedding", 64, graft.dedup.Dedup.AnnPlanes)} AS bucket
       |  FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
       |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < ${Similarity.QuerySet})""".stripMargin)

  /** Per-cell centroid dot products (mirrors Similarity.ivfCell's
    * deterministic pseudo-centroids) — shared by every IVF oracle. */
  private def ivfDots: Seq[String] =
    (0 until Similarity.IvfCells).map { j =>
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), " +
        s"i -> (CAST((i*13 + ${j * 29}) % 15 - 7 AS DOUBLE) / 10.0) * " +
        s"CAST(embedding[i] AS DOUBLE))), (s, x) -> s + x)"
    }

  val annIvf: String = {
    val dots = ivfDots
    rankedSql(
      s"""WITH d AS (
         |  SELECT vec_id, embedding, [${dots.mkString(",\n    ")}] AS ds
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, embedding,
         |         list_position(ds, list_aggregate(ds, 'max')) - 1 AS cell
         |  FROM d),
         |s AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
         |  FROM e q JOIN e c ON q.cell = c.cell AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < ${Similarity.QuerySet})""".stripMargin)
  }

  val annIvfNprobe: String = {
    val dots = ivfDots
    rankedSql(
      s"""WITH d AS (
         |  SELECT vec_id, embedding, [${dots.mkString(",\n    ")}] AS ds
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, embedding,
         |         list_position(ds, list_aggregate(ds, 'max')) - 1 AS cell
         |  FROM d),
         |qm AS (
         |  SELECT vec_id, embedding,
         |         list_position(ds, list_aggregate(ds, 'max')) AS p1,
         |         list_transform(range(1, ${Similarity.IvfCells + 1}),
         |           i -> CASE WHEN i = list_position(ds, list_aggregate(ds, 'max'))
         |                     THEN -1e308 ELSE ds[i] END) AS m
         |  FROM d WHERE vec_id < ${Similarity.QuerySet}),
         |qp AS (
         |  SELECT vec_id, embedding,
         |         unnest([p1 - 1, list_position(m, list_aggregate(m, 'max')) - 1]) AS cell
         |  FROM qm),
         |s AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
         |  FROM qp q JOIN e c ON q.cell = c.cell AND q.vec_id <> c.vec_id)""".stripMargin)
  }

  val annLshMultiprobe: String = {
    val planes = graft.dedup.Dedup.AnnPlanes
    val probes = ("q.bucket" +:
      (0 until planes).map(j => s"xor(q.bucket, ${1L << j})")).mkString(", ")
    rankedSql(
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         ${TextHashSql.lshBucket("embedding", 64, planes)} AS bucket
         |  FROM embeddings),
         |p AS (
         |  SELECT q.vec_id, q.embedding, unnest([$probes]) AS probe
         |  FROM e q WHERE q.vec_id < ${Similarity.QuerySet}),
         |s AS (
         |  SELECT p.vec_id AS qid, c.vec_id AS cid,
         |         ${TextHashSql.cosine("p.embedding", "c.embedding")} AS raw
         |  FROM p JOIN e c ON p.probe = c.bucket AND p.vec_id <> c.vec_id)""".stripMargin)
  }

  /** Mirrors [[Similarity.quantizeInt8]]: same floor(x+0.5) midpoint rule,
    * same double association order; label-level averages rounded to 4 dp
    * (hash-agg summation order), exact maxima to 6. */
  val quantizeInt8: String =
    """WITH u AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |rng AS (SELECT i, min(v) AS mn, max(v) AS mx FROM u GROUP BY i),
      |q AS (
      |  SELECT u.vec_id, u.label,
      |         abs(u.v - (rng.mn +
      |           (CASE WHEN rng.mx = rng.mn THEN 0.0
      |                 ELSE floor((u.v - rng.mn) / (rng.mx - rng.mn) * 255.0 + 0.5)
      |            END) / 255.0 * (rng.mx - rng.mn))) AS err
      |  FROM u JOIN rng USING (i)),
      |pv AS (
      |  SELECT vec_id, label, max(err) AS max_err, avg(err) AS avg_err
      |  FROM q GROUP BY vec_id, label)
      |SELECT label, COUNT(*) AS n_vectors,
      |       ROUND(AVG(max_err), 4) AS avg_max_err,
      |       ROUND(MAX(max_err), 6) AS worst_err,
      |       ROUND(AVG(avg_err), 4) AS avg_mean_err
      |FROM pv
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // --- PQ oracle building blocks (mirror Similarity.pqCodes/pqLut/pqAdc
  // expression-for-expression: same fold order, same tie rules) ---

  /** squared L2 between a vector's subspace m slice and centroid (m, j) */
  private def pqSubDist(vec: String, m: String, j: String): String = {
    val S = Similarity.PqSub
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, ${S + 1}), t -> " +
      TextHashSql.let(
        s"CAST($vec[$m * $S + t] AS DOUBLE) - CAST(((($m * $S + t) * 13 + $j * 29) % 15) - 7 AS DOUBLE) / ${Similarity.PqScale}",
        "dd")(d => s"$d * $d") +
      s")), (a, b) -> a + b)"
  }

  /** L2-normalize, mirroring annPq's unitVec: same fold order as the
    * Spark side (norm once per vector via the let binding) */
  private val pqUnitExpr: String =
    TextHashSql.let(TextHashSql.l2norm("embedding"), "nn")(n =>
      s"list_transform(embedding, x -> CAST(x AS DOUBLE) / $n)")

  private val pqCodesExpr: String =
    s"list_transform(range(0, ${Similarity.PqM}), m -> " +
      TextHashSql.let(
        s"list_transform(range(0, ${Similarity.PqK}), j -> ${pqSubDist("nemb", "m", "j")})",
        "dl")(dl => s"list_position($dl, list_min($dl)) - 1") + ")"

  private val pqLutExpr: String =
    s"flatten(list_transform(range(0, ${Similarity.PqM}), m -> " +
      s"list_transform(range(0, ${Similarity.PqK}), j -> ${pqSubDist("nemb", "m", "j")})))"

  private val pqAdcExpr: String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(0, ${Similarity.PqM}), m -> " +
      s"lut[m * ${Similarity.PqK} + codes[m + 1] + 1])), (a, b) -> a + b)"

  private def pqRanked(s: String): String =
    s"""$s
       |SELECT qid, neighbor_rank, cid, round(raw, 6) AS adc_dist FROM (
       |  SELECT qid, cid, raw,
       |         row_number() OVER (PARTITION BY qid ORDER BY raw ASC, cid) AS neighbor_rank
       |  FROM s)
       |WHERE neighbor_rank <= ${Similarity.TopK}
       |ORDER BY qid, neighbor_rank""".stripMargin

  val annPq: String = pqRanked(
    s"""WITH nrm AS MATERIALIZED (
       |  SELECT vec_id, $pqUnitExpr AS nemb FROM embeddings),
       |codes AS MATERIALIZED (
       |  SELECT vec_id AS cid, $pqCodesExpr AS codes FROM nrm),
       |luts AS MATERIALIZED (
       |  SELECT vec_id AS qid, $pqLutExpr AS lut FROM nrm
       |  WHERE vec_id < ${Similarity.QuerySet}),
       |s AS (SELECT qid, cid, $pqAdcExpr AS raw FROM luts JOIN codes ON qid <> cid)""".stripMargin)

  /** IVF cell assignment (raw embedding, /10 centroids — annIvf's) + PQ
    * codes (unit-normalized), joined on cell. */
  val annIvfPq: String = {
    val dots = (0 until Similarity.IvfCells).map { j =>
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, 65), " +
        s"i -> (CAST((i*13 + ${j * 29}) % 15 - 7 AS DOUBLE) / 10.0) * " +
        s"CAST(embedding[i] AS DOUBLE))), (s, x) -> s + x)"
    }
    pqRanked(
      s"""WITH d AS (
         |  SELECT vec_id, embedding, [${dots.mkString(",\n    ")}] AS ds
         |  FROM embeddings),
         |cells AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |         list_position(ds, list_aggregate(ds, 'max')) - 1 AS cell
         |  FROM d),
         |nrm AS MATERIALIZED (
         |  SELECT vec_id, cell, $pqUnitExpr AS nemb FROM cells),
         |codes AS MATERIALIZED (
         |  SELECT vec_id AS cid, cell, $pqCodesExpr AS codes FROM nrm),
         |luts AS MATERIALIZED (
         |  SELECT vec_id AS qid, cell, $pqLutExpr AS lut FROM nrm
         |  WHERE vec_id < ${Similarity.QuerySet}),
         |s AS (SELECT qid, cid, $pqAdcExpr AS raw
         |      FROM luts JOIN codes USING (cell) WHERE qid <> cid)""".stripMargin)
  }

  val kmeansUpdate: String = {
    val k = Similarity.KmeansK
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id < $k),
       |d AS (SELECT q.vec_id, q.qv,
       |        MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(1, len(q.qv) + 1),
       |            i -> (q.qv[i] - c.qc[i]) * (q.qv[i] - c.qc[i]))),
       |          (a, b) -> a + b) * 100 + c.cid) AS best
       |      FROM q CROSS JOIN c GROUP BY q.vec_id, q.qv)
       |SELECT best % 100 AS cluster_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |       round(CAST(SUM(qv[1]) AS DOUBLE) / 1000.0 / COUNT(*), 4) AS c1,
       |       round(CAST(SUM(qv[2]) AS DOUBLE) / 1000.0 / COUNT(*), 4) AS c2,
       |       round(CAST(SUM(qv[3]) AS DOUBLE) / 1000.0 / COUNT(*), 4) AS c3,
       |       round(CAST(SUM(qv[4]) AS DOUBLE) / 1000.0 / COUNT(*), 4) AS c4,
       |       MIN((best - best % 100) // 100) AS min_sqdist,
       |       MAX((best - best % 100) // 100) AS max_sqdist
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val centroidOutliers: String =
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, label, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |d AS (SELECT label, pos, SUM(qv) AS s FROM (
       |        SELECT label, unnest(q) AS qv, unnest(range(1, len(q) + 1)) AS pos
       |        FROM q)
       |      GROUP BY label, pos),
       |sums AS (SELECT label, list(CAST(s AS BIGINT) ORDER BY pos) AS sums
       |         FROM d GROUP BY label),
       |counts AS (SELECT label, COUNT(*) AS n FROM q GROUP BY label),
       |scored AS (
       |  SELECT q.label, q.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, len(q.q) + 1),
       |        i -> (n * q.q[i] - sums[i]) * (n * q.q[i] - sums[i]))),
       |      (a, b) -> a + b) AS dist2
       |  FROM q JOIN sums USING (label) JOIN counts USING (label))
       |SELECT label, vec_id, dist2,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY label
       |         ORDER BY dist2 DESC, vec_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 3
       |ORDER BY label, rank""".stripMargin

  val labelConfusion: String =
    s"""WITH k AS (SELECT qid, cid FROM ($knnBrute)),
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT ql.label AS query_label, nl.label AS neighbor_label,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       round(CAST(COUNT(*) AS DOUBLE) /
       |         SUM(COUNT(*)) OVER (PARTITION BY ql.label), 4) AS share
       |FROM k
       |JOIN lab ql ON k.qid = ql.vec_id
       |JOIN lab nl ON k.cid = nl.vec_id
       |GROUP BY ql.label, nl.label
       |ORDER BY query_label, neighbor_label""".stripMargin

  val annRecall: String =
    s"""WITH brute AS (SELECT qid, cid FROM ($knnBrute)),
       |approx AS (SELECT qid, cid FROM ($annLsh))
       |SELECT brute.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
       |       CAST(SUM(CASE WHEN approx.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_hit,
       |       round(CAST(SUM(CASE WHEN approx.cid IS NOT NULL THEN 1 ELSE 0 END)
       |         AS DOUBLE) / COUNT(*), 4) AS recall_at_k
       |FROM brute LEFT JOIN approx
       |  ON brute.qid = approx.qid AND brute.cid = approx.cid
       |GROUP BY brute.qid
       |ORDER BY brute.qid""".stripMargin

  val embeddingDrift: String =
    s"""WITH q AS MATERIALIZED (
       |  SELECT label, vec_id % 2 = 0 AS old_half, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |d AS (SELECT label, old_half, pos, SUM(qv) AS s FROM (
       |        SELECT label, old_half, unnest(q) AS qv,
       |               unnest(range(1, len(q) + 1)) AS pos FROM q)
       |      GROUP BY label, old_half, pos),
       |sums AS (SELECT label, old_half, list(CAST(s AS BIGINT) ORDER BY pos) AS sums
       |         FROM d GROUP BY label, old_half),
       |counts AS (SELECT label, old_half, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM q GROUP BY label, old_half),
       |side AS (SELECT * FROM sums JOIN counts USING (label, old_half))
       |SELECT o.label, o.n AS n_old, w.n AS n_new,
       |       CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |         list_transform(range(1, len(o.sums) + 1),
       |           i -> (CAST(o.sums[i] AS DOUBLE) / o.n - CAST(w.sums[i] AS DOUBLE) / w.n) *
       |                (CAST(o.sums[i] AS DOUBLE) / o.n - CAST(w.sums[i] AS DOUBLE) / w.n))),
       |         (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT) AS drift_q
       |FROM (SELECT * FROM side WHERE old_half) o
       |JOIN (SELECT * FROM side WHERE NOT old_half) w ON o.label = w.label
       |ORDER BY o.label""".stripMargin

  val knnClassify: String =
    s"""WITH k AS (SELECT qid, cid FROM ($knnBrute)),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |votes AS (
       |  SELECT k.qid, nl.label AS neighbor_label,
       |         CAST(COUNT(*) AS BIGINT) AS votes
       |  FROM k JOIN lab nl ON k.cid = nl.vec_id
       |  GROUP BY k.qid, nl.label),
       |best AS (
       |  SELECT qid, neighbor_label, votes,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY votes DESC, neighbor_label) AS rn
       |  FROM votes)
       |SELECT b.qid, ql.label AS true_label,
       |       b.neighbor_label AS predicted_label, b.votes,
       |       b.neighbor_label = ql.label AS correct
       |FROM best b JOIN lab ql ON b.qid = ql.vec_id
       |WHERE b.rn = 1
       |ORDER BY b.qid""".stripMargin

  /** Mirrors [[Similarity.normAudit]]: same fold, same micro-unit
    * quantization, exact integer aggregates. */
  val normAudit: String =
    s"""WITH q AS (SELECT label,
       |  CAST(floor(${TextHashSql.l2norm("embedding")} * 1000000 + 0.5)
       |       AS BIGINT) AS q
       |  FROM embeddings)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |       MIN(q) AS min_norm_u, MAX(q) AS max_norm_u,
       |       round(CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / COUNT(*)
       |             / 1000000.0, 6) AS mean_norm,
       |       CAST(SUM(CASE WHEN q < 10000 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_degenerate
       |FROM q GROUP BY label
       |ORDER BY label""".stripMargin

  /** Mirrors [[Similarity.matryoshkaRecall]]: per-dim prefix-slice
    * rankings (same sequential-fold cosine, same tiebreak) against the
    * full-dim brute truth. */
  val matryoshkaRecall: String = {
    val blocks = Seq(8, 16, 32, 64).map { d =>
      s"""r$d AS (SELECT $d AS dims, qid, cid FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |           ${TextHashSql.cosine(s"q.embedding[1:$d]", s"c.embedding[1:$d]")} DESC,
         |           c.vec_id) AS rn
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < ${Similarity.QuerySet})
         |WHERE rn <= ${Similarity.TopK})""".stripMargin
    }
    s"""WITH truth AS (SELECT qid, cid FROM ($knnBrute)),
       |${blocks.mkString(",\n")},
       |allr AS (SELECT * FROM r8 UNION ALL SELECT * FROM r16
       |         UNION ALL SELECT * FROM r32 UNION ALL SELECT * FROM r64)
       |SELECT a.dims, CAST(COUNT(*) AS BIGINT) AS n_ranked,
       |       CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_hits,
       |       round(CAST(SUM(CASE WHEN t.qid IS NOT NULL THEN 1 ELSE 0 END)
       |                  AS DOUBLE) / COUNT(*), 6) AS recall_at_5
       |FROM allr a LEFT JOIN truth t ON t.qid = a.qid AND t.cid = a.cid
       |GROUP BY a.dims
       |ORDER BY dims""".stripMargin
  }

  /** Mirrors [[Similarity.pcaPower]]: milli-quantized components, two
    * BIGINT power iterations, sign-split positive integer division for
    * the renormalizer (`//` on positives ≡ Spark `div`). */
  val pcaPower: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |dims AS (SELECT unnest(range(0, 64)) AS j),
       |d1 AS (SELECT qv,
       |         1000 * list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
       |                            (a, b) -> a + b) AS dot
       |       FROM q),
       |x1 AS (SELECT j, CAST(SUM(qv[CAST(j + 1 AS INT)] * dot) AS BIGINT) AS w
       |       FROM d1 CROSS JOIN dims GROUP BY j),
       |m1 AS (SELECT MAX(abs(w)) AS m FROM x1),
       |v1 AS (SELECT j, (CASE WHEN w < 0 THEN -1 ELSE 1 END)
       |                 * ((abs(w) * 1000) // m) AS v
       |       FROM x1, m1),
       |d2 AS (SELECT q.qv AS qv,
       |         CAST(SUM(q.qv[CAST(v1.j + 1 AS INT)] * v1.v) AS BIGINT) AS dot
       |       FROM q CROSS JOIN v1 GROUP BY q.vec_id, q.qv),
       |x2 AS (SELECT j, CAST(SUM(qv[CAST(j + 1 AS INT)] * dot) AS BIGINT) AS w
       |       FROM d2 CROSS JOIN dims GROUP BY j),
       |m2 AS (SELECT MAX(abs(w)) AS m FROM x2),
       |v2 AS (SELECT j, (CASE WHEN w < 0 THEN -1 ELSE 1 END)
       |                 * ((abs(w) * 1000) // m) AS v
       |       FROM x2, m2),
       |tot AS (SELECT CAST(SUM(v * v) AS BIGINT) AS vv FROM v2)
       |SELECT CAST(x2.j AS INT) AS dim, x2.w AS w_exact,
       |       CAST(v2.v AS BIGINT) AS v_milli,
       |       round(CAST(v2.v * v2.v AS DOUBLE) / tot.vv, 6) AS loading_share
       |FROM x2 JOIN v2 ON v2.j = x2.j, tot
       |ORDER BY dim""".stripMargin

  /** Reliability bins over the classify predictions; every double is a
    * ratio of exact BIGINTs in the same expression order as Spark. */
  val knnCalibration: String =
    s"""WITH preds AS ($knnClassify),
       |bins AS (SELECT votes, CAST(COUNT(*) AS BIGINT) AS n_preds,
       |           CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
       |             AS n_correct
       |         FROM preds GROUP BY votes),
       |tot AS (SELECT CAST(SUM(n_preds) AS BIGINT) AS n_total FROM bins)
       |SELECT votes,
       |       round(CAST(votes AS DOUBLE) / ${Similarity.TopK}, 6) AS confidence,
       |       n_preds, n_correct,
       |       round(CAST(n_correct AS DOUBLE) / n_preds, 6) AS accuracy,
       |       round(abs(CAST(votes AS DOUBLE) / ${Similarity.TopK} -
       |               CAST(n_correct AS DOUBLE) / n_preds)
       |             * n_preds / n_total, 6) AS ece_contrib
       |FROM bins, tot
       |ORDER BY votes""".stripMargin

  /** Same exact-decimal sums, same double expression shape — DuckDB's
    * unnest+self-join formulation is its natural spelling of the pair
    * expansion; the sums it feeds are identical by decimal exactness. */
  val covariance: String =
    s"""WITH dims AS (SELECT unnest(range(${Similarity.CovDims})) AS i),
       |x AS (
       |  SELECT vec_id, i,
       |         CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(14,10)) AS v
       |  FROM embeddings, dims),
       |p AS (
       |  SELECT a.i AS i, b.i AS j, a.v AS x, b.v AS y
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i)
       |SELECT i, j,
       |       ROUND((CAST(SUM(x*y) AS DOUBLE) -
       |              CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE)
       |                / COUNT(*)) / COUNT(*), 6) AS cov
       |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin

  val ivfCellStats: String =
    s"""WITH d AS (SELECT vec_id, [${ivfDots.mkString(",\n  ")}] AS ds
       |           FROM embeddings),
       |e AS (SELECT list_position(ds, list_aggregate(ds, 'max')) - 1 AS cell
       |      FROM d),
       |g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |      FROM e GROUP BY cell)
       |SELECT cell, n_vectors,
       |       ROUND(CAST(n_vectors AS DOUBLE) / SUM(n_vectors) OVER (), 4)
       |         AS share,
       |       ROUND(CAST(n_vectors AS DOUBLE) * ${Similarity.IvfCells} /
       |             SUM(n_vectors) OVER (), 4) AS imbalance
       |FROM g ORDER BY cell""".stripMargin

  val negativeSample: String = {
    val pri = TextHashSql.strHash(
      "'neg:' || CAST(qid AS VARCHAR) || ':' || CAST(cid AS VARCHAR)")
    s"""WITH q AS (SELECT vec_id AS qid, label AS q_label FROM embeddings
       |           WHERE vec_id < ${Similarity.QuerySet}),
       |c AS (SELECT vec_id AS cid, label AS neg_label FROM embeddings),
       |j AS (
       |  SELECT qid, q_label, cid, neg_label, $pri AS pri
       |  FROM q JOIN c ON neg_label <> q_label),
       |r AS (
       |  SELECT qid, q_label, cid, neg_label,
       |         CAST(row_number() OVER (
       |           PARTITION BY qid ORDER BY pri, cid) AS BIGINT) AS neg_rank
       |  FROM j)
       |SELECT qid, neg_rank, cid, q_label, neg_label
       |FROM r WHERE neg_rank <= ${Similarity.NegK}
       |ORDER BY qid, neg_rank""".stripMargin
  }

  /** SemDeDup census: same cells, same within-cell lower-id cosine drop,
    * computed independently (set semantics instead of the engine's
    * anti-join arithmetic). */
  val semanticDedup: String = {
    val dots = ivfDots
    // smallest u with n <= target·2^u — the same integer threshold chain
    // as Similarity.semUsedBits (float log2 would ULP-drift at powers of 2)
    val usedCase = (1 until 16).map(u =>
      s"WHEN COUNT(*) <= ${Similarity.SemTargetCell.toLong << u} THEN $u")
      .mkString(" ")
    s"""WITH d AS (
       |  SELECT vec_id, embedding, [${dots.mkString(",\n    ")}] AS ds
       |  FROM embeddings),
       |nn AS (
       |  SELECT CASE WHEN COUNT(*) <= ${Similarity.SemTargetCell} THEN 0
       |         $usedCase ELSE 16 END AS used
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, embedding,
       |         (list_position(ds, list_aggregate(ds, 'max')) - 1)
       |           * CAST(pow(2, nn.used) AS BIGINT)
       |         + CAST(FLOOR(${TextHashSql.lshBucket("embedding", 64, 16)}
       |                      / pow(2, 16 - nn.used)) AS BIGINT) AS cell
       |  FROM d, nn),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id, b.cell
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(${TextHashSql.cosine("a.embedding", "b.embedding")}, 6)
       |        >= ${Similarity.SemTau}),
       |members AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
       |            FROM e GROUP BY cell),
       |drops AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_dropped
       |          FROM dropped GROUP BY cell)
       |SELECT CAST(m.cell AS BIGINT) AS cell, m.n_members,
       |       COALESCE(d.n_dropped, 0) AS n_dropped,
       |       m.n_members - COALESCE(d.n_dropped, 0) AS n_survivors
       |FROM members m LEFT JOIN drops d ON m.cell = d.cell
       |ORDER BY cell""".stripMargin
  }

  /** kNN-density OOD: same bucketed pairs, kth-rank window, −2 singleton
    * floor; cosine is the bit-identical fold; the plane count is the same
    * in-query integer search as the Spark face's annPlanesFor. */
  val oodKnn: String =
    s"""WITH np AS (${graft.dedup.DedupOracles.annPlanesCte("embeddings")}),
       |e AS (SELECT vec_id, embedding,
       |         ${TextHashSql.lshBucketDyn("embedding", 64, "(SELECT planes FROM np)")} AS bucket
       |       FROM embeddings),
       |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |        ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
       |      FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
       |r AS (SELECT qid, cid, raw,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY raw DESC, cid) AS rn,
       |        CAST(COUNT(*) OVER (PARTITION BY qid) AS BIGINT) AS n_nbrs
       |      FROM p),
       |kth AS (SELECT qid AS vec_id, n_nbrs, raw FROM r
       |        WHERE rn = LEAST(${Similarity.KDensity}, n_nbrs)),
       |s AS (SELECT vec_id, CAST(0 AS BIGINT) AS n_nbrs, CAST(NULL AS DOUBLE) AS raw
       |      FROM e WHERE vec_id NOT IN (SELECT vec_id FROM kth))
       |SELECT vec_id, n_nbrs, round(COALESCE(raw, -2.0), 6) AS ood_score
       |FROM (SELECT * FROM kth UNION ALL SELECT * FROM s)
       |ORDER BY ood_score, vec_id
       |LIMIT 10""".stripMargin

  /** Mirrors [[Similarity.tripletMining]]: the struct-min/max extremes are
    * row_number() = 1 under (raw ASC, cid) / (raw DESC, cid); the
    * violation census compares the identical fold-order doubles. */
  val tripletMining: String =
    s"""WITH p AS (
       |  SELECT q.vec_id AS anchor, q.label AS label,
       |         c.vec_id AS cid, c.label AS c_label,
       |         ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < ${Similarity.TripletAnchors}),
       |pos AS (
       |  SELECT anchor, cid AS pos_id, raw AS pos_raw FROM (
       |    SELECT anchor, cid, raw,
       |           row_number() OVER (PARTITION BY anchor ORDER BY raw, cid) AS rn
       |    FROM p WHERE c_label = label) WHERE rn = 1),
       |neg AS (
       |  SELECT anchor, cid AS neg_id, raw AS neg_raw FROM (
       |    SELECT anchor, cid, raw,
       |           row_number() OVER (PARTITION BY anchor ORDER BY raw DESC, cid) AS rn
       |    FROM p WHERE c_label <> label) WHERE rn = 1),
       |v AS (
       |  SELECT p.anchor, count(*) AS n_violations
       |  FROM p JOIN pos ON p.anchor = pos.anchor
       |  WHERE p.c_label <> p.label AND p.raw > pos.pos_raw
       |  GROUP BY p.anchor)
       |SELECT a.anchor, a.label, pos_id, round(pos_raw, 6) AS pos_sim,
       |       neg_id, round(neg_raw, 6) AS neg_sim,
       |       round(pos_raw - neg_raw, 6) AS margin,
       |       coalesce(n_violations, 0) AS n_violations
       |FROM (SELECT DISTINCT anchor, label FROM p) a
       |LEFT JOIN pos USING (anchor) LEFT JOIN neg USING (anchor)
       |LEFT JOIN v USING (anchor)
       |ORDER BY anchor""".stripMargin

  /** Mirrors [[Similarity.nnDescentRound]]: two-table (low/high-half
    * hyperplane) top-K initial graph over all nodes, neighbor-of-neighbor
    * expansion, exact rerank; the per-table plane count is the same
    * in-query integer search as the Spark face's annPlanesFor, and
    * bucket2 is integer `//` ≡ the Spark face's shiftright. */
  val nnDescent: String = rankedSql {
    // LEAST(planes, 31): same doubled-shift cap as the Spark face (see
    // nnDescentRound) — both engines must bound 2·planes under 64 bits
    val pShift = s"(CAST(1 AS BIGINT) << (SELECT LEAST(planes, 31) FROM np))"
    def tbl(bucket: String): String =
      s"""SELECT uid, cid FROM (
         |    SELECT q.vec_id AS uid, c.vec_id AS cid,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             ${TextHashSql.cosine("q.embedding", "c.embedding")} DESC,
         |             c.vec_id) AS rn
         |    FROM e q JOIN e c ON q.$bucket = c.$bucket AND q.vec_id <> c.vec_id)
         |  WHERE rn <= ${Similarity.TopK}""".stripMargin
    s"""WITH np AS (${graft.dedup.DedupOracles.annPlanesCte("embeddings")}),
       |e AS (
       |  SELECT vec_id, embedding,
       |         b2 % $pShift AS bucket1,
       |         b2 // $pShift AS bucket2
       |  FROM (SELECT vec_id, embedding,
       |          ${TextHashSql.lshBucketDyn("embedding", 64,
                    "(2 * (SELECT LEAST(planes, 31) FROM np))")} AS b2
       |        FROM embeddings)),
       |t1 AS (
       |  ${tbl("bucket1")}),
       |t2 AS (
       |  ${tbl("bucket2")}),
       |init AS (
       |  SELECT DISTINCT uid, cid FROM (
       |    SELECT uid, cid FROM t1 UNION ALL SELECT uid, cid FROM t2)),
       |cand AS (
       |  SELECT DISTINCT uid, cand FROM (
       |    SELECT uid, cid AS cand FROM init
       |    UNION ALL
       |    SELECT x.uid, y.cid AS cand FROM init x JOIN init y ON x.cid = y.uid
       |    WHERE x.uid <> y.cid)),
       |s AS (
       |  SELECT cand.uid AS qid, cand.cand AS cid,
       |         ${TextHashSql.cosine("u.embedding", "f.embedding")} AS raw
       |  FROM cand
       |  JOIN embeddings u ON u.vec_id = cand.uid
       |  JOIN embeddings f ON f.vec_id = cand.cand
       |  WHERE cand.uid < ${Similarity.QuerySet})""".stripMargin
  }

  /** Mirrors [[Similarity.densityCores]]: exact pair enumeration over the
    * pinned slice, ε-compare on the 6-dp-rounded cosine in both engines. */
  val densityCores: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id < ${Similarity.DensityN}),
       |nbrs AS (
       |  SELECT a.vec_id, b.vec_id AS nbr
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
       |  WHERE round(${TextHashSql.cosine("a.embedding", "b.embedding")}, 6)
       |        >= ${Similarity.DensityEps}),
       |counts AS (
       |  SELECT e.vec_id, coalesce(n.n_eps, 0) AS n_eps
       |  FROM e LEFT JOIN (
       |    SELECT vec_id, count(*) AS n_eps FROM nbrs GROUP BY vec_id) n
       |  USING (vec_id)),
       |cores AS (
       |  SELECT vec_id FROM counts WHERE n_eps >= ${Similarity.DensityMinPts}),
       |near_core AS (
       |  SELECT DISTINCT nbrs.vec_id FROM nbrs
       |  JOIN cores ON nbrs.nbr = cores.vec_id)
       |SELECT c.vec_id, c.n_eps,
       |       CASE WHEN c.n_eps >= ${Similarity.DensityMinPts} THEN 'core'
       |            WHEN nc.vec_id IS NOT NULL THEN 'border'
       |            ELSE 'noise' END AS cls
       |FROM counts c LEFT JOIN near_core nc ON c.vec_id = nc.vec_id
       |ORDER BY c.vec_id""".stripMargin

  val all: Map[String, String] = Map(
    "sim_ood_knn" -> oodKnn,
    "sim_triplet_mining" -> tripletMining,
    "sim_density_cores" -> densityCores,
    "sim_nndescent" -> nnDescent,
    "sim_knn_calibration" -> knnCalibration,
    "sim_pca_power" -> pcaPower,
    "sim_matryoshka_recall" -> matryoshkaRecall,
    "sim_norm_audit" -> normAudit,
    // persisted-index round trip is lossless; probe semantics = annIvf
    "sim_ann_ivf_persisted" -> annIvf,
    "dedup_semantic" -> semanticDedup,
    "sim_negative_sample" -> negativeSample,
    "sim_ivf_cell_stats" -> ivfCellStats,
    "sim_covariance" -> covariance,
    "sim_knn_classify" -> knnClassify,
    "sim_embedding_drift" -> embeddingDrift,
    "sim_label_confusion" -> labelConfusion,
    "sim_ann_recall" -> annRecall,
    "sim_centroid_outliers" -> centroidOutliers,
    "sim_kmeans_update" -> kmeansUpdate,
    "sim_ann_ivf_nprobe" -> annIvfNprobe,
    "sim_knn_brute" -> knnBrute,
    "sim_ann_lsh" -> annLsh,
    "sim_ann_lsh_multiprobe" -> annLshMultiprobe,
    "sim_ann_ivf" -> annIvf,
    "sim_ann_pq" -> annPq,
    "sim_ann_ivfpq" -> annIvfPq,
    "sim_ann_twostage" -> annTwoStage,
    "sim_quantize_int8" -> quantizeInt8)

  /** Mirrors both stages of [[Similarity.annTwoStage]]: truncated-prefix
    * candidate rank (list slice, same sequential fold), then the exact
    * full-dim cosine over the fetched candidates. (`def`, not `val` — the
    * `all` map above initializes first in declaration order.) */
  def annTwoStage: String = rankedSql(
    s"""WITH cand AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             ${TextHashSql.cosine(s"q.embedding[1:${Similarity.TruncDims}]", s"c.embedding[1:${Similarity.TruncDims}]")} DESC,
       |             c.vec_id) AS cand_rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < ${Similarity.QuerySet})
       |  WHERE cand_rank <= ${Similarity.CandK}),
       |s AS (
       |  SELECT cand.qid, cand.cid,
       |         ${TextHashSql.cosine("q.embedding", "c.embedding")} AS raw
       |  FROM cand JOIN embeddings q ON cand.qid = q.vec_id
       |            JOIN embeddings c ON cand.cid = c.vec_id)""".stripMargin)
}
