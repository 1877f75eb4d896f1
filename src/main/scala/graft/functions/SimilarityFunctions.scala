package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`/`Array[Double]`).
  *
  * Two tiers (SURVEY.md §7.2.10):
  *  - brute-force top-k: broadcast the (small) query set, codegen'd cosine
  *    against every corpus vector, per-query top-k window. Exact; scales
  *    linearly in corpus size — the correctness baseline.
  *  - LSH-bucketed: deterministic random-hyperplane sign buckets as a
  *    pre-join blocking key; candidate set shrinks ~2^planes, turning the
  *    broadcast-nested-loop into an equi-join — the 100 TB path.
  */
object SimilarityFunctions {

  /** Σ aᵢbᵢ via zip_with + aggregate (SQL-mirrorable composition form). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 where either norm is 0) — native tight-loop
    * expression ([[graft.functions.expressions.CosineSim]]); the pairwise
    * joins below evaluate this millions of times per task, where the
    * interpreted higher-order-function pipeline was the bottleneck.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.CosineSim.cosine_sim(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Unit-L2 normalization (input unchanged at zero norm): with both sides
    * normalized, inner product IS cosine — the precondition for PQ's ADC
    * inner-product tables to approximate cosine ranking.
    */
  def l2Normalize(vec: Column): Column = {
    val n = norm(vec)
    when(n === 0, vec).otherwise(transform(vec, x => x / n))
  }

  /** int8 scalar quantization with a fixed symmetric range `[-maxAbs,
    * maxAbs]` — the 100 TB storage tier for embedding columns (4× smaller
    * than float32, 8× than float64; cosine ranking degrades only
    * marginally). The fixed range keeps quantization a PER-ROW pure
    * function (no data-dependent calibration pass) and the engine-stable
    * `floor(x·s + 0.5)` rounding makes it bit-reproducible in any engine.
    * One corpus pass at write time; pairwise math then runs on small
    * integers (exact in double — products ≤ 127²·dims).
    */
  def quantize8(vec: Column, maxAbs: Double = 1.0): Column =
    // native single pass — the composed transform(greatest(least(floor)))
    // chain was an interpreted per-element lambda on the storage-tier
    // encode path; semantics identical incl. Spark's NaN-sorts-greatest
    // least/greatest ordering (see Quantize8)
    expressions.VecExpressions.quantize8(vec, maxAbs)

  /** Exact brute-force top-k neighbors for each query vector.
    *
    * `queries` is broadcast (it must be small — the typical "find neighbors
    * of these N probes" shape); corpus-side scan is embarrassingly parallel;
    * the only shuffle is the per-query top-k window, keyed by query id.
    * Self-matches (same id) are excluded.
    */
  /** Rows whose vector is USABLE: non-null with every component finite.
    * NaN/Infinity components poison cosine ranking non-portably (and
    * Spark ML's KMeans rejects them outright) — skipped everywhere, like
    * null signatures in the hash-dedup family; SQL replays mirror with
    * isnan/isinf list filters. Native codegen'd gate since r14: the
    * composed `isNotNull && !exists(...)` paid an interpreted lambda per
    * corpus row on EVERY ANN pass (the lambda-sweep audit counted it 48×
    * in crawl_refresh_e2e's plan); [[expressions.FiniteVec]] is one
    * early-exit loop with identical filter semantics (null array →
    * false), no cast, no copy for float/double/int/long arrays.
    */
  def finiteVec(vecCol: String): Column =
    expressions.VecExpressions.finite_vec(col(vecCol))

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.where(finiteVec(vecCol))
      .select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val q = queries.where(finiteVec(vecCol))
      .select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        // integer basis points: cross-engine-stable ranking/compare (see
        // SparkEntry oracle notes — round() half-boundaries differ by engine)
        floor(cosine(col("_qv"), col("_cv")) * 10000 + 0.5).cast("long").as("cosine_bp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_bp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * the shared 60-bit md5 hash mapped to [-1, 1]. Engine-independent (the
    * oracle can rebuild the exact same planes). Used only by
    * [[lshBucketComposed]]; the hot path precomputes the matrix.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    DedupFunctions.hash60(concat(lit(s"plane$plane|"), dim.cast("string")))
      .cast("double") / lit(1152921504606846975.0d) * 2.0 - 1.0

  /** Random-hyperplane LSH bucket id: one sign bit per plane, packed into a
    * long. Vectors in the same bucket are "probably close" — use as a
    * blocking key for candidate generation.
    *
    * Native expression with the plane matrix precomputed once per JVM —
    * the composed form below re-hashed every (plane, dim) pair per row
    * inside interpreted lambdas (round-1 verdict item #3). Bucket ids are
    * bit-identical between the two forms (pinned by SimilaritySpec).
    */
  def lshBucket(vec: Column, nPlanes: Int): Column =
    graft.functions.expressions.HyperplaneBucket
      .hyperplane_bucket(vec.cast("array<double>"), nPlanes)

  /** SQL-mirrorable composed formulation of [[lshBucket]] — interpreted
    * higher-order functions, kept as the oracle/parity reference only.
    */
  def lshBucketComposed(vec: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec.cast("array<double>"),
          sequence(lit(0), size(vec) - 1).cast("array<double>"),
          (x, i) => x * planeComponent(p, i)),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** A trained IVF coarse quantizer. At 100 TB this is the long-lived
    * artifact: train ONCE ([[ivfTrain]]), materialize the inverted file
    * once ([[IvfIndex.assign]] → write to storage), then serve every query
    * batch with [[ivfSearch]] against the stored assignment — never
    * retrain per query. `save(path)` / [[ivfLoad]] persist the quantizer
    * itself across drivers (tiny JSON, any Hadoop scheme — the same
    * artifact lifecycle as [[PqIndex]]).
    */
  final class IvfIndex private[functions] (
      val clusterCenters: Array[Array[Double]]) extends Serializable {

    /** Centroids as a tiny (cell, vector) frame — always broadcast-sized. */
    def centroids(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      clusterCenters.zipWithIndex
        .map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("_cell", "_centroid")
    }

    /** Assign every corpus vector to its nearest cell — ONE distributed
      * map-only pass through the native [[expressions.IvfKernel]] ranking
      * (the centroids ship inside the plan like the PQ codebooks). The
      * result is the inverted file; persist it to storage at scale.
      */
    def assign(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
      // unusable (null / non-finite) vectors skipped — see finiteVec.
      // SPHERICAL assignment: the quantizer was trained on unit vectors
      // (the served metric is cosine, which is direction-only — Euclidean
      // cells over raw vectors partition by MAGNITUDE and strand a
      // query's cosine neighbors in far cells on mixed-norm corpora, an
      // all-or-nothing recall loss found by XL fuzz), so the kernel
      // normalizes internally; `_cv` stays raw for downstream scoring
      // (cosine is scale-invariant). Ties break to the smallest cell id —
      // the same first-index rule as the trainer's own assignment step.
      val c = corpus.where(finiteVec(vecCol))
        .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_cv"))
      c.select(col("neighbor_id"), col("_cv"),
        element_at(expressions.IvfExpressions.ivf_rank_cells(
          col("_cv"), clusterCenters, 1), 1).as("_cell"))
    }

    /** Assign every vector to its `probes` nearest cells (by the same
      * squared-euclidean metric k-means partitions on, so probe 1 IS the
      * assignment cell and probe p strictly widens it) in ONE map-only
      * pass — the dedup-side analogue of query-side nProbe: a near-dup
      * pair is caught if ANY probed cell is shared, which is the recall
      * lever for cluster-partitioned dedup without changing the
      * equi-join shape (input grows ×probes, still no shuffle here).
      * The native kernel's per-row cost scales with `cells` — right for
      * the moderate cell counts dedup uses; at extreme cell counts
      * (100k+) rank via the broadcast-join + window form instead.
      */
    def assignProbes(corpus: DataFrame, idCol: String, vecCol: String,
                     probes: Int): DataFrame = {
      val c = corpus.where(finiteVec(vecCol)) // unusable vectors: no cell
        .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_cv"))
      c.withColumn("_cell",
          explode(expressions.IvfExpressions.ivf_rank_cells(
            col("_cv"), clusterCenters, probes)))
        .select(col("neighbor_id"), col("_cv"), col("_cell"))
    }

    /** Composed-builtin probe ranking, kept ONLY as the parity reference
      * for the native kernel (same normalization, same left-to-right
      * distance sums, same smallest-cell tie rule).
      */
    private[graft] def assignProbesComposed(corpus: DataFrame, idCol: String,
                                            vecCol: String, probes: Int): DataFrame = {
      val c = corpus.where(finiteVec(vecCol))
        .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_cv"))
      val ranked = array(clusterCenters.zipWithIndex.map { case (v, i) =>
        val cent = typedlit(v.toSeq)
        struct(
          aggregate(zip_with(col("_nv"), cent, (x, y) => (x - y) * (x - y)),
            lit(0.0d), (acc, x) => acc + x).as("_d2"),
          lit(i).as("_cell"))
      }: _*)
      c.withColumn("_nv", l2Normalize(col("_cv")))
        .withColumn("_probe", explode(slice(array_sort(ranked), 1, probes)))
        .select(col("neighbor_id"), col("_cv"), col("_probe._cell").as("_cell"))
    }

    /** JSON form of the quantizer. `Double.toString` round-trips every
      * finite double exactly, so save → load is bit-identical (the same
      * contract as [[PqIndex.toJson]]).
      */
    def toJson: String =
      clusterCenters.map(_.mkString("[", ",", "]"))
        .mkString("""{"centroids":[""", ",", "]}")

    /** Persist the coarse quantizer (tiny JSON — cells·dim doubles — on
      * any Hadoop scheme). With the inverted file written to parquet by
      * the caller, the whole index survives a driver restart: [[ivfLoad]]
      * + `spark.read.parquet` resume serving without retraining — the
      * operational shape at billion scale, where the quantizer is a
      * long-lived artifact and retraining per session is days of waste.
      */
    def save(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Load an IVF coarse quantizer persisted by [[IvfIndex.save]]. The
    * quantizer is pitched as a long-lived artifact, so a stale on-disk
    * form must fail with an ACTIONABLE message, not an opaque IO/JSON
    * error: the pre-r11 path persisted a Spark-ML KMeansModel DIRECTORY
    * — detected here explicitly, as is any non-JSON content.
    */
  def ivfLoad(path: String): IvfIndex = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      sys.error(s"ivfLoad: $path is a directory — this is the legacy " +
        "Spark-ML quantizer layout, which this build no longer reads. " +
        "Retrain with ivfTrain and persist via IvfIndex.save (single " +
        "JSON file), or migrate by loading the old model's clusterCenters " +
        "into new IvfIndex(...) and saving.")
    val in = fs.open(p)
    val body =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    if (!body.dropWhile(_.isWhitespace).startsWith("{"))
      sys.error(s"ivfLoad: $path does not hold IvfIndex.save JSON " +
        "(unrecognized content) — retrain with ivfTrain or migrate the " +
        "legacy quantizer, then save via IvfIndex.save")
    import graft.ingest.JVal._
    graft.ingest.JsonEventParser.mapperRead(body) match {
      case o: JObj => o.toMap.get("centroids") match {
        case Some(JArr(cents)) =>
          new IvfIndex(cents.map {
            case JArr(xs) => xs.map {
              case n: JNum => n.text.toDouble
              case other   => sys.error(s"ivfLoad: expected number, got $other")
            }.toArray
            case other => sys.error(s"ivfLoad: expected centroid array, got $other")
          }.toArray)
        case _ => sys.error(s"ivfLoad: malformed index JSON at $path")
      }
      case _ => sys.error(s"ivfLoad: malformed index JSON at $path")
    }
  }

  /** Train the IVF coarse quantizer on a bounded sample: k-means is
    * iterative (multiple full passes), so fitting on the whole corpus is
    * the one step that would NOT scale to 100 TB. A ~100k-row seeded
    * sample gives statistically identical centroids; assignment still
    * covers the full corpus in one pass.
    *
    * The bounded sample COLLECTS and fits with the same driver-local
    * seeded [[lloyd]] the PQ codebooks use: the sample is driver-sized by
    * construction (≤ maxTrainRows low-dim points), while a distributed
    * iterative fit pays one full scheduler round-trip per iteration plus
    * a multi-job init for a ≤ tens-of-MB problem — measured on the IVF
    * bench family (ivf/ivfpq/incremental/semantic_dedup, sf0.1): the
    * distributed fit's ~15 jobs were the dominant per-query cost, and the
    * local fit removed them at identical recall certificates. Two jobs
    * remain: the count and the bounded collect.
    */
  def ivfTrain(corpus: DataFrame, vecCol: String, cells: Int = 16,
               seed: Long = 42L, maxTrainRows: Long = 100000L): IvfIndex = {
    val all = corpus
      .where(finiteVec(vecCol)) // unusable vectors train nothing
      // SPHERICAL k-means: train on unit vectors. The index serves COSINE
      // queries (direction-only); Euclidean k-means over raw vectors
      // partitions mixed-magnitude corpora by NORM, stranding a query's
      // cosine neighbors in far cells — measured as all-or-nothing
      // per-query recall loss (44% total) on an XL fuzz corpus with giant
      // and tiny vectors. Unit-sphere training makes Euclidean cells
      // coincide with angular neighborhoods (standard spherical-kmeans
      // IVF practice); assign/assignProbes/ivfSearch use the same
      // normalized metric so probe-1 is exactly the assignment cell.
      .select(l2Normalize(col(vecCol).cast("array<double>")).as("_cv"))
    val n = all.count()
    val sampleDf = if (n <= maxTrainRows) all
                   else all.sample(withReplacement = false,
                          maxTrainRows.toDouble / n, seed)
    // bounded collect (≤ maxTrainRows rows) — the only driver-side data
    val sample = sampleDf.collect().map(_.getSeq[Double](0).toArray)
    // Degenerate corpora must yield a SERVABLE index, not a crash: a
    // corpus with < 2 usable vectors pads to two distinct synthetic
    // points (at most one real vector exists to assign or probe, so the
    // padded centroids never influence a result), and a corpus smaller
    // than `cells` trains one cell per point ([[lloyd]] shrinks k).
    val points =
      if (sample.length >= 2) sample
      else if (sample.length == 1)
        // the real point plus itself shifted by +1 in every coordinate
        Array(sample(0), sample(0).map(_ + 1.0))
      else Array(Array(0.0), Array(1.0))
    new IvfIndex(lloydPP(points, math.min(cells, points.length), seed))
  }

  /** Query an IVF index: each query ranks the (broadcast) centroids, keeps
    * its `nProbe` nearest cells, and equi-joins the pre-assigned inverted
    * file on cell id — no retrain, no corpus re-scan beyond the probed
    * cells. `assigned` is the output of [[IvfIndex.assign]] (typically read
    * back from storage).
    */
  def ivfSearch(assigned: DataFrame, queries: DataFrame, index: IvfIndex,
                idCol: String, vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val q = queries.where(finiteVec(vecCol)).select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    // Probe selection through the SAME native kernel the inverted file was
    // assigned with ([[IvfKernel.rankCells]]: squared Euclidean from the
    // internally unit-normalized query to each unit-trained centroid,
    // smallest-cell ties): probe 1 is then exactly the cell the query
    // itself would assign to, and probes 2..n widen it consistently — a
    // cosine ranking here would disagree with the assignment metric
    // through the ||centroid|| term. The kernel form is ONE map-only
    // codegen'd pass per query row (the centroids ship inside the plan);
    // the composed crossJoin(broadcast) + aggregate(zip_with) +
    // row_number form it replaced paid an interpreted per-(query, cell)
    // lambda AND a window exchange on the query side of every search.
    val probes = q.withColumn("_cell",
        explode(expressions.IvfExpressions.ivf_rank_cells(
          col("_qv"), index.clusterCenters, nProbe)))
      .select(col("query_id"), col("_qv"), col("_cell"))

    val scored = assigned.join(probes, Seq("_cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(cosine(col("_qv"), col("_cv")) * 10000 + 0.5).cast("long").as("cosine_bp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_bp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    * corpus vector to one centroid cell; each query probes its `nProbe`
    * nearest cells. The probe is an equi-join on the cell id — the
    * standard billion-scale ANN layout (cells ≈ √n at scale; the centroid
    * set stays tiny and broadcasts). Recall is governed by nProbe/cells.
    *
    * One-shot convenience over [[ivfTrain]] → [[IvfIndex.assign]] →
    * [[ivfSearch]]; long-lived corpora should call those directly and
    * persist the index + inverted file instead of retraining per query.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, cells: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, maxTrainRows: Long = 100000L): DataFrame = {
    val index = ivfTrain(corpus, vecCol, cells, seed, maxTrainRows)
    ivfSearch(index.assign(corpus, idCol, vecCol), queries, index,
      idCol, vecCol, k, nProbe)
  }

  /** ANN top-k via multi-probe LSH: the corpus keeps ONE bucket per vector;
    * each query probes its own bucket plus every bucket at Hamming distance
    * 1 (the standard multi-probe trick — recall of many more planes at the
    * candidate cost of a few). The join stays an equi-join on bucket id
    * (one shuffle, no cross product) — the 100 TB path; the query-side
    * explode is ×(nPlanes+1) on the SMALL side only.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 8,
              probeHamming1: Boolean = true): DataFrame = {
    val c = corpus.where(finiteVec(vecCol))
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_cv"))
      .withColumn("_bucket", lshBucket(col("_cv"), nPlanes))
    val qBase = queries.where(finiteVec(vecCol)).select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("_b0", lshBucket(col("_qv"), nPlanes))
    val probes =
      if (!probeHamming1) array(col("_b0"))
      else array(col("_b0") +:
        (0 until nPlanes).map(p => col("_b0").bitwiseXOR(lit(1L << p))): _*)
    val q = qBase.withColumn("_bucket", explode(probes)).drop("_b0")
    val scored = c.join(q, Seq("_bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id")) // probe overlap dedup
      .agg(first(col("_qv")).as("_qv"), first(col("_cv")).as("_cv"))
      .select(col("query_id"), col("neighbor_id"),
        floor(cosine(col("_qv"), col("_cv")) * 10000 + 0.5).cast("long").as("cosine_bp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_bp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // --------------------------------------------- product quantization

  /** A trained product quantizer: `m` per-subspace codebooks of `k`
    * centroids over `subDim`-dim slices. Like [[IvfIndex]] this is the
    * long-lived artifact — train once on a bounded sample, encode the
    * corpus once (codes are `m` small ints ≈ bytes — 64-dim float32
    * vectors compress 32× at m=8/k=16), then serve query batches against
    * the stored codes. The codebooks themselves are tiny (m·k·subDim
    * doubles) and ship inside the plan as literals.
    */
  final class PqIndex private[functions] (
      val subDim: Int,
      val codebooks: Array[Array[Array[Double]]]) extends Serializable {

    def m: Int = codebooks.length
    def nCodes: Int = codebooks(0).length

    /** The codebooks as a column literal: array<array<array<double>>>. */
    private def codebookLit: Column =
      array(codebooks.map(cb => array(cb.map(cent =>
        array(cent.map(lit): _*)): _*)): _*)

    private def subVec(vec: Column, i: Int): Column =
      slice(vec, i * subDim + 1, subDim)

    /** Encode every corpus vector to its `m` nearest-centroid byte codes
      * — one map-only distributed pass through the native codegen'd kernel
      * (normalization + per-subspace L2 argmin in one tight loop; the
      * codebook ships with the plan). Normalization matters: with unit
      * vectors, ADC inner product approximates cosine — unnormalized
      * corpora rank by magnitude and recall collapses.
      */
    def encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
      corpus.select(col(idCol).as("neighbor_id"),
        expressions.PqExpressions.pq_encode(
          col(vecCol).cast("array<double>"), codebooks).as("_codes"))

    /** Composed-builtin encode, kept ONLY as the bit-parity reference for
      * the native kernel (same normalization, same left-to-right sums,
      * same first-index tie-break).
      */
    def encodeComposed(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val base = corpus.select(col(idCol).as("neighbor_id"),
        l2Normalize(col(vecCol).cast("array<double>")).as("_nv"))
      val codes = array((0 until m).map { i =>
        val dists = transform(element_at(codebookLit, i + 1), cent =>
          aggregate(zip_with(subVec(col("_nv"), i), cent, (x, c) => (x - c) * (x - c)),
            lit(0.0d), (acc, x) => acc + x))
        (array_position(dists, array_min(dists)) - 1).cast("tinyint")
      }: _*)
      base.select(col("neighbor_id"), codes.as("_codes"))
    }

    /** Per-query ADC (asymmetric distance computation) lookup table:
      * `tab[i][j] = <query subvector i, codebook[i][j]>` — inner-product
      * tables, computed once per QUERY row (m·k small dots), so scoring a
      * corpus pair is `m` table lookups instead of a d-dim dot product.
      * Native kernel; normalizes internally.
      */
    private[functions] def adcTable(qv: Column): Column =
      expressions.PqExpressions.pq_adc_table(qv, codebooks)

    /** JSON form of the trained quantizer. `Double.toString` round-trips
      * every finite double exactly, so save → load is bit-identical.
      */
    def toJson: String = {
      val books = codebooks.map(cb => cb.map(cent =>
        cent.mkString("[", ",", "]")).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""{"subDim":$subDim,"codebooks":$books}"""
    }

    /** Persist the quantizer to any Hadoop scheme (file:/hdfs:/s3a:) —
      * the codebooks are tiny (m·k·subDim doubles). With the encoded code
      * table written to parquet by the caller, [[pqLoad]] +
      * `spark.read.parquet` resume serving after a driver restart with no
      * retrain and byte-identical codes.
      */
    def save(path: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      try out.write(toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Load a product quantizer persisted by [[PqIndex.save]]. */
  def pqLoad(path: String, conf: org.apache.hadoop.conf.Configuration): PqIndex = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val body =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    import graft.ingest.JVal._
    def doubles(v: JVal): Array[Double] = v match {
      case JArr(xs) => xs.map {
        case n: JNum => n.text.toDouble
        case other   => sys.error(s"pqLoad: expected number, got $other")
      }.toArray
      case other => sys.error(s"pqLoad: expected array, got $other")
    }
    graft.ingest.JsonEventParser.mapperRead(body) match {
      case o: JObj =>
        (o.toMap.get("subDim"), o.toMap.get("codebooks")) match {
          case (Some(sd: JNum), Some(JArr(books))) =>
            val cbs = books.map {
              case JArr(cents) => cents.map(doubles).toArray
              case other => sys.error(s"pqLoad: expected codebook array, got $other")
            }.toArray
            new PqIndex(sd.text.toDouble.toInt, cbs)
          case _ => sys.error(s"pqLoad: malformed index JSON at $path")
        }
      case _ => sys.error(s"pqLoad: malformed index JSON at $path")
    }
  }

  /** Driver-local Lloyd's iterations — the PQ codebook fit. The sample is
    * BOUNDED by [[pqTrain]] (≤maxTrainRows), so fitting in driver memory
    * is the right trade at any corpus size: m small k-means problems over
    * ≤100k low-dim points beat m distributed fits (each a multi-job
    * iterative program) by orders of magnitude in scheduling overhead —
    * the same sample-then-fit-locally shape production PQ trainers use.
    * Empty clusters keep their previous centroid; seeded init (distinct
    * shuffled sample points) keeps the fit deterministic.
    */
  private def lloyd(points: Array[Array[Double]], kAsked: Int, seed: Long,
                    iters: Int = 15): Array[Array[Double]] = {
    // a sample smaller than the codebook trains one centroid per point —
    // the codebook shrinks rather than the fit crashing (tiny corpora)
    val k = math.min(kAsked, points.length)
    val rnd = new java.util.Random(seed)
    val order = rnd.ints(0, points.length).distinct().limit(k).toArray
    lloydIterate(points, order.map(i => points(i).clone()), iters)
  }

  /** Seeded kmeans++ init (Arthur & Vassilvitskii, SODA'07) + the same
    * Lloyd's iterations — the IVF coarse quantizer's fit. Uniform random
    * init is fine for the PQ codebooks (tiny subspaces, k=16, recall
    * floors hold), but the full-dim cell geometry is sensitive to it:
    * random-point init measured below the ann_ivf_incremental recall
    * floor on a 250-vector training half, where the d²-proportional
    * spread recovers it (the reason Spark ML defaults to k-means‖ — this
    * is its sequential driver-local form). The d² table updates
    * incrementally (one distance per point per NEW centroid), so init is
    * one Lloyd-iteration-equivalent of work, sequential and seeded —
    * deterministic.
    */
  private def lloydPP(points: Array[Array[Double]], kAsked: Int, seed: Long,
                      iters: Int = 15): Array[Array[Double]] = {
    require(points.nonEmpty, "lloydPP: no training points")
    val k = math.min(kAsked, points.length)
    val rnd = new java.util.Random(seed)
    val n = points.length
    val dim = points(0).length
    val cents = new Array[Array[Double]](k)
    cents(0) = points(rnd.nextInt(n)).clone()
    val d2 = new Array[Double](n)
    // the per-point d² updates are embarrassingly parallel AND exact to
    // parallelize: each slot is written independently with no floating-
    // point reduction, so thread scheduling cannot change a single value
    // (unlike the Lloyd sums, which need the chunked ordered combine);
    // only the tiny sampling walk below stays sequential — it reads the
    // seeded RNG
    def updateD2(cent: Array[Double]): Unit =
      java.util.stream.IntStream.range(0, n).parallel().forEach { p =>
        var d = 0.0; var x = 0
        while (x < dim) { val t = points(p)(x) - cent(x); d += t * t; x += 1 }
        if (d < d2(p)) d2(p) = d
      }
    java.util.Arrays.fill(d2, Double.MaxValue)
    updateD2(cents(0))
    var c = 1
    while (c < k) {
      var sum = 0.0
      var p = 0
      while (p < n) { sum += d2(p); p += 1 }
      val pick =
        if (sum <= 0.0 || !java.lang.Double.isFinite(sum)) rnd.nextInt(n)
        else {
          val r = rnd.nextDouble() * sum
          var acc = 0.0; var i = 0; var chosen = n - 1
          while (i < n) {
            acc += d2(i)
            if (acc >= r) { chosen = i; i = n } else i += 1
          }
          chosen
        }
      cents(c) = points(pick).clone()
      updateD2(cents(c))
      c += 1
    }
    lloydIterate(points, cents, iters)
  }

  private def lloydIterate(points: Array[Array[Double]],
                           cents: Array[Array[Double]],
                           iters: Int): Array[Array[Double]] = {
    val k = cents.length
    val dim = points(0).length
    // Assignment + partial sums run per FIXED-SIZE CHUNK, chunks in
    // parallel across the driver's cores, partials combined in chunk-index
    // order. Determinism is the point of the chunking: float addition is
    // non-associative, so an unordered parallel sum would make the fit
    // irreproducible across runs — fixed chunk boundaries + a fixed
    // combine order give the same centroids regardless of thread
    // scheduling. A single chunk (≤ 8192 points — every PQ subspace fit
    // at bench scale) accumulates in exactly the historical sequential
    // order, so small fits stay bit-identical to the pre-parallel code;
    // the parallelism matters for the full-dim IVF fit, where a 100k-point
    // × high-cell-count assignment is the cost of the whole train.
    val chunkSize = 8192
    val nChunks = (points.length + chunkSize - 1) / chunkSize
    var it = 0
    while (it < iters) {
      val partials = new Array[(Array[Array[Double]], Array[Int])](nChunks)
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ci =>
        val lo = ci * chunkSize
        val hi = math.min(lo + chunkSize, points.length)
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Int](k)
        var p = lo
        while (p < hi) { // nearest centroid, first index on ties
          var best = 0; var bestD = Double.MaxValue; var j = 0
          while (j < k) {
            var d = 0.0; var x = 0
            while (x < dim) { val t = points(p)(x) - cents(j)(x); d += t * t; x += 1 }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          counts(best) += 1
          var x = 0
          while (x < dim) { sums(best)(x) += points(p)(x); x += 1 }
          p += 1
        }
        partials(ci) = (sums, counts)
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var ci = 0
      while (ci < nChunks) { // combine in chunk order — deterministic
        val (cs, cc) = partials(ci)
        var j = 0
        while (j < k) {
          counts(j) += cc(j)
          var x = 0
          while (x < dim) { sums(j)(x) += cs(j)(x); x += 1 }
          j += 1
        }
        ci += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) { // empty clusters keep their previous centroid
          var x = 0
          while (x < dim) { cents(j)(x) = sums(j)(x) / counts(j); x += 1 }
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  /** Train a product quantizer on a bounded seeded sample — like
    * [[ivfTrain]], the iterative k-means fits are the only steps that must
    * not see the full corpus; encoding covers it in one pass. `dim` must
    * be divisible by `m`. The bounded sample collects to the driver and
    * fits locally (see [[lloyd]]).
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8, codes: Int = 16,
              seed: Long = 42L, maxTrainRows: Long = 100000L): PqIndex = {
    // train on NORMALIZED vectors — encode/search normalize the same way
    val all = corpus.where(finiteVec(vecCol)).select(
      l2Normalize(col(vecCol).cast("array<double>")).as("_cv"))
    val n = all.count()
    val train = if (n <= maxTrainRows) all
                else all.sample(withReplacement = false, maxTrainRows.toDouble / n, seed)
    // bounded collect (≤maxTrainRows rows) — the only driver-side data
    require(codes >= 1 && codes <= 256, s"codes $codes not in 1..256 (byte codes)")
    val sample = train.collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty) {
      // empty (or all-unusable) corpus: a placeholder single-zero-code
      // codebook — nothing will ever be encoded or scored against it,
      // and the caller's search over the empty corpus stays empty
      return new PqIndex(1, Array.fill(m)(Array(Array(0.0))))
    }
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val books = (0 until m).map { i =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, i * subDim, (i + 1) * subDim))
      lloyd(sub, codes, seed + i)
    }.toArray
    new PqIndex(subDim, books)
  }

  /** ANN top-k over PQ codes: broadcast the (small) query set with its
    * per-query ADC tables, score each corpus row with `m` array lookups,
    * rank per query. Same join shape as [[bruteForceTopK]] but the corpus
    * side streams 8-byte codes instead of full vectors — at 100 TB the
    * scan is bandwidth-bound, so the 32× smaller representation IS the
    * speedup; compose with IVF cell probing to cut the candidate count.
    */
  def pqSearch(encoded: DataFrame, queries: DataFrame, index: PqIndex,
               idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.where(finiteVec(vecCol)).select(col(idCol).as("query_id"),
      index.adcTable(col(vecCol).cast("array<double>")).as("_tab"))
    // rank on the RAW ADC score — quantizing to basis points before the
    // top-k window would collapse <1e-4 score gaps into id-order ties and
    // cut true neighbors from a rerank shortlist; bp is presentation only
    val scored = encoded.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expressions.PqExpressions.pq_adc_score(col("_codes"), col("_tab"))
          .as("_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        floor(col("_score") * 10000 + 0.5).cast("long").as("score_bp"),
        col("rank"))
  }

  /** ADC shortlist → exact re-rank: take the `shortlist` best ADC scores
    * per query, fetch ONLY those vectors (equi-join on id — a point-lookup
    * join against the corpus, tiny right side per query), and re-rank by
    * exact cosine. This is how PQ deploys in practice: the compressed scan
    * bounds bandwidth, the exact pass restores recall (ADC alone ranks
    * within quantization error — on weakly-separated neighbors that is
    * the difference between ~0.2 and ~0.8 recall).
    */
  def pqSearchRerank(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
                     index: PqIndex, idCol: String, vecCol: String, k: Int,
                     shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val short = pqSearch(encoded, queries, index, idCol, vecCol, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val q = queries.where(finiteVec(vecCol)).select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val scored = short.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(cosine(col("_qv"), col("_cv")) * 10000 + 0.5).cast("long").as("cosine_bp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_bp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** One-shot convenience: train → encode → ADC shortlist → exact re-rank
    * (shortlist 8k by default). Long-lived corpora should persist the
    * index + encoded codes and call [[pqSearchRerank]] directly.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, codes: Int = 16,
             seed: Long = 42L, shortlist: Int = 0): DataFrame = {
    val index = pqTrain(corpus, vecCol, m, codes, seed)
    val sl = if (shortlist > 0) shortlist else math.max(8 * k, 32)
    pqSearchRerank(index.encode(corpus, idCol, vecCol), corpus, queries,
      index, idCol, vecCol, k, sl)
  }

  /** PCA shortlist + exact re-rank — the dimensionality-reduction tier of
    * the ANN family ([[Pca]]): project corpus and queries to `pcaK`
    * directions with one trained model, shortlist by cosine in the
    * projected space (the scan reads pcaK/dim of the bandwidth — the
    * whole point at 100 TB), then re-rank the shortlist exactly. Same
    * deployment shape as [[pqSearchRerank]]: the cheap representation
    * bounds bandwidth, the exact pass restores recall (projected-space
    * ranking alone is recall ~0.1-0.4 on weakly-anisotropic embeddings;
    * shortlist 64 + re-rank measures 0.74-0.95 here).
    */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, pcaK: Int = 24, shortlist: Int = 0,
              seed: Long = 42L): DataFrame = {
    val sl = if (shortlist > 0) shortlist else math.max(8 * k, 32)
    require(sl >= k, s"shortlist $sl < k $k")
    val model = Pca.pcaTrain(corpus, vecCol, pcaK, seed)
    val pc = corpus.select(col(idCol), model.project(col(vecCol)).as(vecCol))
    val pq = queries.select(col(idCol), model.project(col(vecCol)).as(vecCol))
    val short = bruteForceTopK(pc, pq, idCol, vecCol, sl)
      .select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val scored = short.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(cosine(col("_qv"), col("_cv")) * 10000 + 0.5).cast("long").as("cosine_bp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_bp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // ------------------------------------------------------------- IVF-PQ

  /** IVF-PQ search — the canonical billion-scale composition: the IVF
    * coarse quantizer bounds WHICH vectors each query scores (nProbe cell
    * equi-join), PQ codes bound the BANDWIDTH of scoring them (m lookups
    * per candidate), and the exact pass re-ranks only the ADC shortlist.
    * `inv` is the inverted file carrying both artifacts per row:
    * `(neighbor_id, _cell, _cv, _codes)` — [[IvfIndex.assign]] joined with
    * [[PqIndex.encode]] (see [[ivfPqTopK]]); persist it to storage at
    * scale. The exact re-rank reads `_cv` off the already-joined candidate
    * rows, so no second corpus join happens.
    */
  def ivfPqSearch(inv: DataFrame, queries: DataFrame, index: IvfIndex,
                  pq: PqIndex, idCol: String, vecCol: String, k: Int,
                  nProbe: Int = 4, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else math.max(8 * k, 32)
    require(sl >= k, s"shortlist $sl < k $k")
    // finiteVec: same query-side contract as ivfSearch (an unusable query
    // vector has no well-defined cell and returns no rows; the recall
    // certificates count queries over the finite set on both engines).
    val q = queries.where(finiteVec(vecCol)).select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"),
      pq.adcTable(col(vecCol).cast("array<double>")).as("_tab"))
    // Probe selection by the ASSIGNMENT metric through the native kernel —
    // identical to ivfSearch's probe stage. The pre-r14 form ranked cells
    // by -cosine(query, centroid): with un-normalized centroid MEANS the
    // two metrics disagree through the ||centroid|| term, so probe 1 was
    // not necessarily the query's own assignment cell — measured as the
    // reason IVF-PQ's certified recall floor (3000 bp) sat BELOW both
    // IVF-alone (5000) and PQ-alone (4000). Kernel ranking restores
    // probe-1 ≡ assignment cell, and is map-only codegen'd (no broadcast
    // cross join, no window exchange on the query side).
    val probes = q.withColumn("_cell",
        explode(expressions.IvfExpressions.ivf_rank_cells(
          col("_qv"), index.clusterCenters, nProbe)))
      .select(col("query_id"), col("_qv"), col("_tab"), col("_cell"))
    val adc = inv.join(probes, Seq("_cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("_qv"), col("_cv"),
        expressions.PqExpressions.pq_adc_score(col("_codes"), col("_tab"))
          .as("_adc"))
    val slW = Window.partitionBy(col("query_id"))
      .orderBy(col("_adc").desc, col("neighbor_id").asc)
    val scored = adc.withColumn("_sr", row_number().over(slW))
      .where(col("_sr") <= sl)
      .select(col("query_id"), col("neighbor_id"),
        floor(cosine(col("_qv"), col("_cv")) * 10000 + 0.5).cast("long").as("cosine_bp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_bp").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** One-shot IVF-PQ: train both quantizers, build the combined inverted
    * file, search. Long-lived corpora persist the inverted file and call
    * [[ivfPqSearch]] per query batch.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, cells: Int = 16, nProbe: Int = 4,
                m: Int = 8, codes: Int = 16, seed: Long = 42L,
                shortlist: Int = 0): DataFrame = {
    val ivf = ivfTrain(corpus, vecCol, cells, seed)
    val pq = pqTrain(corpus, vecCol, m, codes, seed)
    // one map-only pass builds the combined inverted file (an id join
    // against encode() would shuffle AND fan out on duplicate ids)
    val inv = withCodes(ivf.assign(corpus, idCol, vecCol), Some(pq))
    ivfPqSearch(inv, queries, ivf, pq, idCol, vecCol, k, nProbe, shortlist)
  }

  /** PQ codes computed IN the assignment pass: `_cv` is the raw vector
    * cast to array<double> — exactly encode()'s input — so the codes are
    * bit-identical with zero shuffle and no duplicate-id fan-out.
    */
  private def withCodes(assigned: DataFrame, pq: Option[PqIndex]): DataFrame =
    pq match {
      case Some(p) => assigned.withColumn("_codes",
        expressions.PqExpressions.pq_encode(
          col("_cv").cast("array<double>"), p.codebooks))
      case None => assigned
    }

  // ------------------------------------------- incremental maintenance

  /** Incremental inverted-file maintenance — the nightly-crawl shape: NEW
    * vectors are assigned against the PERSISTED spherical centroids (no
    * retrain, one map-only pass over just the increment) and appended to
    * the inverted file at `invPath`; with a [[PqIndex]] given, their PQ
    * codes are encoded with the persisted codebooks and ride the same
    * rows ([[ivfPqSearch]]'s `(neighbor_id, _cell, _cv, _codes)` layout).
    * Because assignment is a pure function of (centroids, vector), an
    * incrementally-grown inverted file is ROW-IDENTICAL to one rebuilt
    * from scratch over the union corpus — searches cannot diverge (the
    * `ann_ivf_incremental` oracle and AnnIncrementalSpec pin it). This is
    * what makes the index a long-lived artifact at 100 TB: the quantizer
    * trains once, and each crawl pays one pass over its own increment
    * instead of a full rebuild. Quantizer drift (corpus distribution
    * moving away from the trained centroids) degrades RECALL only, never
    * correctness — retrain + rebuild when the recall certificate says so.
    * Caller contract: increment ids are new (route the crawl through the
    * dedup family first); replaying an increment would duplicate rows.
    */
  def ivfAppend(index: IvfIndex, invPath: String, newCorpus: DataFrame,
                idCol: String, vecCol: String,
                pq: Option[PqIndex] = None): Unit = {
    val spark = newCorpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(invPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseIfSwapLocked(fs, invPath)
    refuseStaleQuantizer(fs, invPath, index)
    refuseStalePqCodebook(fs, invPath, pq)
    invGuard(spark, invPath, expectBatchDirs = false)
    val epoch0 = readEpoch(fs, invPath)
    // PQ codes ride the SAME map-only pass over `_cv` (no id join: a join
    // against encode() would both shuffle the increment and fan out k×k
    // on duplicate ids — the any-data hostile drill caught exactly that)
    val rows = withCodes(index.assign(newCorpus, idCol, vecCol), pq)
    rows.write.mode("append").parquet(invPath)
    // POST-validation (see ivfAppendBatch): root-level part files cannot
    // be forwarded by the swap (indistinguishable from pre-read files),
    // and a blind replay of a ROOT-LEVEL append duplicates rows when the
    // rebuild already carried the increment — so the failure instructs
    // the caller to reconcile by id, not to replay blindly.
    val epoch1 = readEpoch(fs, invPath)
    if (epoch0.isEmpty && epoch1.isEmpty) writeEpoch(fs, invPath)
    else if (epoch1 != epoch0)
      throw new IllegalStateException(
        s"ivfAppend raced a retrain/compact swap at $invPath (index epoch " +
          s"changed $epoch0 -> $epoch1 during the append): the increment " +
          "may or may not be in the published index. Verify by id " +
          "(anti-join the increment against the index) before re-appending " +
          "— a blind replay can duplicate rows. Use ivfAppendBatch for the " +
          "crash-safe, replayable layout.")
  }

  /** Effectively-once streaming variant of [[ivfAppend]] — the crawl as a
    * `foreachBatch` consumer: the increment lands under
    * `invPath/batch=<batchId>` in OVERWRITE mode, so an at-least-once
    * replay supersedes its own partial first attempt in place instead of
    * duplicating inverted-file rows (the same batch-keyed idempotence as
    * `ColumnarSink.insertBatch`). The whole inverted file must be
    * batch-keyed: build the base with `batchId = 0` and feed increments
    * at 1, 2, … — partition inference silently DROPS root-level files
    * once `batch=` dirs exist, so mixing the two shapes is refused
    * loudly here (and [[ivfAppend]] refuses the reverse). Read the index
    * back with a plain `spark.read.parquet(invPath)`; the inferred
    * `batch` directory column rides along harmlessly (searches select
    * only `neighbor_id`/`_cell`/`_cv`/`_codes`).
    */
  def ivfAppendBatch(index: IvfIndex, invPath: String, newCorpus: DataFrame,
                     idCol: String, vecCol: String, batchId: Long,
                     pq: Option[PqIndex] = None): Unit =
    ivfAppendBatchHooked(index, invPath, newCorpus, idCol, vecCol, batchId, pq)

  /** [[ivfAppendBatch]] with a test seam: `testAfterWrite` runs between
    * the batch write landing and the post-validation — the swap-race
    * window AnnIncrementalSpec injects a full retrain into.
    */
  private[graft] def ivfAppendBatchHooked(
      index: IvfIndex, invPath: String, newCorpus: DataFrame,
      idCol: String, vecCol: String, batchId: Long,
      pq: Option[PqIndex] = None,
      testAfterWrite: () => Unit = () => ()): Unit = {
    val spark = newCorpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(invPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // MECHANIZED retrain-vs-appender exclusion (the out-of-band contract
    // used to be prose): a swap in progress fails the append LOUDLY
    // before any write...
    refuseIfSwapLocked(fs, invPath)
    refuseStaleQuantizer(fs, invPath, index)
    refuseStalePqCodebook(fs, invPath, pq)
    invGuard(spark, invPath, expectBatchDirs = true)
    val epoch0 = readEpoch(fs, invPath)
    // map-only PQ encode — see ivfAppend (join fan-out on duplicate ids)
    val rows = withCodes(index.assign(newCorpus, idCol, vecCol), pq)
    rows.write.mode("overwrite").parquet(s"$invPath/batch=$batchId")
    testAfterWrite()
    // ...and a swap that began AFTER the lock pre-check (the write was
    // in flight) is detected post-write by the epoch bump: the batch may
    // sit in the retired dir (the swap forwards not-in-B0 dirs before
    // deleting it), in the published index, or nowhere — replaying the
    // increment is ALWAYS safe here because batch-keyed writes overwrite
    // their own directory. Never a silent drop: either this throw fires
    // or the batch is in the live index.
    val epoch1 = readEpoch(fs, invPath)
    if (epoch1 != epoch0)
      throw new IllegalStateException(
        s"ivfAppendBatch raced a retrain/compact swap at $invPath (index " +
          s"epoch changed $epoch0 -> $epoch1 during the append): replay " +
          s"the increment — batch=$batchId overwrites its own directory, " +
          "so the replay is idempotent.")
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$invPath/batch=$batchId")))
      throw new IllegalStateException(
        s"ivfAppendBatch: batch=$batchId vanished from $invPath after the " +
          "write (a concurrent swap or delete removed it): replay the " +
          "increment.")
    if (epoch0.isEmpty) writeEpoch(fs, invPath) // bootstrap on first append
  }

  /** Canonical location of the quantizer JSON co-located with an
    * inverted file (underscore-prefixed: parquet reads never see it).
    * [[ivfRetrain]] writes it inside the index dir so the dir swap
    * replaces quantizer and assignments ATOMICALLY — a new inverted
    * file served against the old centroids would return wrong cells.
    */
  def ivfQuantizerPath(invPath: String): String = s"$invPath/_quantizer.json"

  /** Epoch marker inside the index dir (underscore-prefixed: parquet
    * reads never see it). Appenders read it before and after their write;
    * [[ivfRetrain]]/[[ivfCompact]] publish a BUMPED epoch inside the
    * staged dir, so any append whose write overlapped a swap observes the
    * change and fails loudly instead of vanishing — the index-side
    * equivalent of the sink's commit markers.
    */
  def ivfEpochPath(invPath: String): String = s"$invPath/_graft_epoch"

  /** Canonical location of the PQ codebook co-located with an inverted
    * file (underscore-prefixed: parquet reads never see it). A PQ
    * retrain re-encodes `_codes` in the rebuild pass — codes and
    * codebook MUST publish atomically or a driver restart reconstructs
    * ADC tables that mismatch every stored code — so [[ivfRetrain]]
    * writes the fresh codebook inside the staged dir and the swap
    * publishes both; swaps that keep the codes ([[ivfCompact]], a
    * centroid-only retrain) carry an existing codebook forward.
    * Reload both artifacts after a restart via [[ivfLoadArtifacts]].
    */
  def ivfPqCodebookPath(invPath: String): String = s"$invPath/_pq.json"

  /** Driver-restart reload of everything the index dir self-describes:
    * the co-located quantizer (must exist — retrain/compact always
    * publish it) and the co-located PQ codebook when the index carries
    * codes.
    */
  def ivfLoadArtifacts(spark: org.apache.spark.sql.SparkSession,
                       invPath: String): (IvfIndex, Option[PqIndex]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pqP = new org.apache.hadoop.fs.Path(ivfPqCodebookPath(invPath))
    val pq = if (pqP.getFileSystem(conf).exists(pqP))
      Some(pqLoad(ivfPqCodebookPath(invPath), conf)) else None
    (ivfLoad(ivfQuantizerPath(invPath)), pq)
  }

  /** Swap lock SIBLING of the index dir (it must survive the dir being
    * renamed out from under it). Held for the whole retrain/compact;
    * appenders refuse while it exists. Since r14 the lock self-describes:
    * its content records the swap's uuid + acquire time, and the holder
    * HEARTBEATS the lock's mtime while the swap runs — a lock whose
    * heartbeat has been silent for [[DefaultStaleSwapLockMs]] (tunable
    * per call) is a crashed swap, and the next retrain/compact sweeps it
    * unattended instead of demanding manual deletion. A concurrently-held
    * FRESH lock still refuses.
    */
  def ivfSwapLockPath(invPath: String): String = s"$invPath.swaplock"

  /** Default silent-heartbeat age after which a swap lock is considered
    * crashed and the next retrain/compact may sweep it. The holder bumps
    * the lock mtime every ≤ staleLockMs/4 (floor 250 ms, cap 60 s) from a
    * daemon thread, so a LIVE swap — however long its fit or rebuild
    * phases run — never goes quiet for more than one heartbeat interval
    * plus scheduler noise; 30 minutes of silence means the holder JVM is
    * gone. Tune UP if drivers routinely stall longer than this while
    * alive (e.g. multi-minute full GCs), DOWN in tests; 0 disables
    * auto-heal entirely (every contention refuses until an operator
    * removes the lock). Clock skew between drivers sharing an index must
    * stay well under the threshold — trivially true at 30 min.
    */
  val DefaultStaleSwapLockMs: Long = 30L * 60 * 1000

  private def readEpoch(fs: org.apache.hadoop.fs.FileSystem,
                        invPath: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(ivfEpochPath(invPath))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeEpoch(fs: org.apache.hadoop.fs.FileSystem, invPath: String,
                         epoch: String = java.util.UUID.randomUUID().toString): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(ivfEpochPath(invPath)), true)
    try out.write(epoch.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def refuseIfSwapLocked(fs: org.apache.hadoop.fs.FileSystem,
                                 invPath: String): Unit = {
    val lock = new org.apache.hadoop.fs.Path(ivfSwapLockPath(invPath))
    if (fs.exists(lock))
      throw new IllegalStateException(
        s"a retrain/compact swap is in progress on $invPath (lock $lock): " +
          "quiesce appends until it completes. If a swap CRASHED and left " +
          "the lock behind, the next ivfRetrain/ivfCompact sweeps it " +
          "unattended once its heartbeat has been silent for staleLockMs " +
          "(default 30 min), self-heals a half-published index, and sweeps " +
          "orphaned staging dirs — or remove the lock file manually after " +
          "confirming no swap is running.")
  }

  /** An append carrying assignments from a quantizer OTHER than the one
    * co-located with the index (a retrain swapped underneath a long-lived
    * appender that never reloaded) would land rows in cells the serving
    * quantizer never probes — silently invisible to every search. The
    * persisted JSON round-trips doubles exactly, so a byte compare against
    * `index.toJson` is an exact staleness test, one tiny file read per
    * append.
    */
  private def refuseStaleQuantizer(fs: org.apache.hadoop.fs.FileSystem,
                                   invPath: String, index: IvfIndex): Unit = {
    val qp = new org.apache.hadoop.fs.Path(ivfQuantizerPath(invPath))
    if (fs.exists(qp)) {
      val in = fs.open(qp)
      val persisted =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      if (persisted != index.toJson)
        throw new IllegalStateException(
          s"append against $invPath uses a STALE quantizer (a retrain " +
            "swapped the index since this IvfIndex was loaded): reload " +
            s"via ivfLoad(ivfQuantizerPath(invPath)) and re-assign the " +
            "increment — appending old-quantizer cells would make the " +
            "rows invisible to searches.")
    }
  }

  /** Same staleness contract for the PQ codebook: codes appended under
    * a codebook OTHER than the co-located one would score garbage under
    * every ADC table built from the published codebook.
    */
  private def refuseStalePqCodebook(fs: org.apache.hadoop.fs.FileSystem,
                                    invPath: String,
                                    pq: Option[PqIndex]): Unit =
    pq.foreach { p =>
      val cb = new org.apache.hadoop.fs.Path(ivfPqCodebookPath(invPath))
      if (fs.exists(cb)) {
        val in = fs.open(cb)
        val persisted =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        if (persisted != p.toJson)
          throw new IllegalStateException(
            s"append against $invPath uses a STALE PQ codebook (a PQ " +
              "retrain swapped the index since this PqIndex was loaded): " +
              "reload both artifacts via ivfLoadArtifacts(spark, invPath) " +
              "and re-encode the increment — codes from the old codebook " +
              "would score garbage under the published ADC tables.")
      }
    }

  /** Drift-triggered retrain + rebuild — the act that closes the
    * incremental lifecycle ([[ivfTrain]] once → [[ivfAppend]]/
    * [[ivfAppendBatch]] per crawl → [[quantizationErrorBp]] monitors →
    * retrain when the error says the corpus moved): fit fresh spherical
    * centroids on a bounded sample of the FULL union corpus (read from
    * the inverted file itself — `_cv` holds the raw vectors, so no
    * source-corpus re-scan), re-assign every row in ONE map-only pass
    * through the native kernel (all other columns — PQ `_codes`
    * included — ride along unchanged; the PQ codebooks are
    * cell-independent), and atomically swap the index dir: the rebuilt
    * file stages beside the live one, the new quantizer lands INSIDE it
    * at [[ivfQuantizerPath]], and two renames publish both together.
    * Readers either see the old consistent pair or the new one.
    *
    * The retrain-vs-appender exclusion is MECHANIZED (it used to be a
    * prose contract): the whole swap holds a sibling lock file that
    * [[ivfAppend]]/[[ivfAppendBatch]] refuse on; an append already past
    * its lock pre-check is caught by the epoch bump it observes after its
    * write (replay is idempotent for batch-keyed layouts); a racing batch
    * dir that landed in the retired copy or the rename gap is re-derived
    * under the NEW quantizer and forwarded into the published index —
    * never silently dropped. Batch-keyed rebuilds preserve each row's
    * original `batch=` partition, so a post-swap streaming replay
    * overwrites its own directory instead of duplicating rows. Crash
    * recovery is mechanized too: a crash between the publish renames
    * self-heals on the next retrain (after the operator removes the
    * stale lock), and orphaned `.retired-*`/`.retrain-*` dirs are swept.
    * Appenders also verify their in-memory quantizer against the
    * co-located JSON, so a long-lived appender that missed a swap fails
    * loudly instead of writing cells no search would probe.
    * Returns the new index; serve with it (or re-load via
    * `ivfLoad(ivfQuantizerPath(invPath))` after a driver restart).
    */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, invPath: String,
                 cells: Int = 16, seed: Long = 42L,
                 maxTrainRows: Long = 100000L,
                 pq: Option[PqIndex] = None,
                 staleLockMs: Long = DefaultStaleSwapLockMs): IvfIndex = {
    val rebuilt = (union: DataFrame, next: IvfIndex) => {
      val reassigned = union.withColumn("_cell",
        element_at(expressions.IvfExpressions.ivf_rank_cells(
          col("_cv"), next.clusterCenters, 1), 1))
      // a RETRAINED PQ codebook (the corpus drifted, so the old codes
      // drifted with it) re-encodes in the same rebuild pass — the
      // `_codes` column is replaced IN PLACE (no id join: duplicate ids
      // must not fan out), everything else rides along
      pq match {
        case Some(p) => reassigned.drop("_codes").withColumn("_codes",
          expressions.PqExpressions.pq_encode(
            col("_cv").cast("array<double>"), p.codebooks))
        case None => reassigned
      }
    }
    retrainWithHooked(spark, invPath,
      ivfTrain(_, "_cv", cells, seed, maxTrainRows), rebuilt,
      pqJson = pq.map(_.toJson), staleLockMs = staleLockMs)
  }

  /** The rebuild + atomic-swap mechanics shared by [[ivfRetrain]] and
    * [[ivfCompact]]: read the live inverted file, derive the new
    * quantizer and rows, stage, publish via two renames (co-located
    * quantizer included), roll back on a failed publish.
    */
  private def retrainWith(spark: org.apache.spark.sql.SparkSession,
                          invPath: String,
                          fit: DataFrame => IvfIndex,
                          rebuild: (DataFrame, IvfIndex) => DataFrame,
                          staleLockMs: Long = DefaultStaleSwapLockMs): IvfIndex =
    retrainWithHooked(spark, invPath, fit, rebuild, staleLockMs = staleLockMs)

  /** [[retrainWith]] with test seams: `testBeforeRetire` runs after the
    * staged rebuild is complete but before the live index is retired;
    * `testBetweenRenames` runs inside the two-rename publish gap.
    * AnnIncrementalSpec injects racing appends into both windows.
    */
  private[graft] def retrainWithHooked(
      spark: org.apache.spark.sql.SparkSession,
      invPath: String,
      fit: DataFrame => IvfIndex,
      rebuild: (DataFrame, IvfIndex) => DataFrame,
      pqJson: Option[String] = None,
      staleLockMs: Long = DefaultStaleSwapLockMs,
      testBeforeRetire: () => Unit = () => (),
      testBetweenRenames: () => Unit = () => ()): IvfIndex = {
    val p = new org.apache.hadoop.fs.Path(invPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(ivfSwapLockPath(invPath))
    val uuid = java.util.UUID.randomUUID().toString
    // 1. Take the swap lock (atomic create-if-absent): appenders refuse
    // while it exists, so the only appends that can still race the swap
    // are ones already past their own lock pre-check — the epoch bump
    // catches those post-write. The lock records this swap's uuid (the
    // same one naming its staging dirs) + acquire time, and a daemon
    // heartbeat bumps its mtime while the swap runs, so a crashed swap's
    // lock goes measurably silent: on contention, a lock whose heartbeat
    // stopped > staleLockMs ago is swept HERE, unattended — the normal
    // path below then self-heals a half-published index and sweeps the
    // crashed swap's staging dirs. A fresh heartbeat still refuses.
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(
          s"""{"uuid":"$uuid","ts":${System.currentTimeMillis()}}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def healStaleLock(): Boolean = staleLockMs > 0 && {
      val st =
        try Some(fs.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None }
      st.forall { s => // vanished = holder just finished; retry the acquire
        val age = System.currentTimeMillis() - s.getModificationTime
        age > staleLockMs && {
          val info =
            try {
              val in = fs.open(lock)
              try new String(in.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)
              finally in.close()
            } catch { case _: java.io.IOException => "" }
          System.err.println(s"[graft] ivfRetrain: sweeping STALE swap " +
            s"lock $lock (heartbeat silent ${age} ms > staleLockMs " +
            s"$staleLockMs${if (info.nonEmpty) s"; crashed swap: $info" else ""})")
          fs.delete(lock, false)
          true
        }
      }
    }
    if (!tryAcquire() && !(healStaleLock() && tryAcquire()))
      throw new IllegalStateException(
        s"ivfRetrain: swap lock $lock already held with a live heartbeat " +
          "— another retrain/compact is running on this index; retry " +
          "after it completes. (A CRASHED swap's lock is swept here " +
          "automatically once its heartbeat has been silent for " +
          s"staleLockMs = $staleLockMs ms.)")
    val heartbeat = new Thread(() => {
      val interval = math.max(math.min(staleLockMs / 4, 60000L), 250L)
      try while (!Thread.currentThread().isInterrupted) {
        Thread.sleep(interval)
        // mtime bump only — content (uuid, acquire ts) stays put; a lock
        // deleted mid-bump means the swap is ending, nothing to do
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
      } catch { case _: InterruptedException => () }
    }, s"graft-swaplock-heartbeat-$uuid")
    heartbeat.setDaemon(true)
    if (staleLockMs > 0) heartbeat.start()
    try {
      // 2. Self-heal a crash BETWEEN the publish renames: the live index
      // sits stranded at <invPath>.retired-<uuid> with nothing at invPath
      // — restore it and retrain normally (the staged dir is re-derived).
      val parent = p.getParent
      def siblings(prefix: String): Array[org.apache.hadoop.fs.Path] =
        if (parent == null || !fs.exists(parent)) Array.empty
        else fs.listStatus(parent).map(_.getPath)
          .filter(_.getName.startsWith(prefix))
      if (!fs.exists(p)) {
        val stranded = siblings(s"${p.getName}.retired-")
        require(stranded.length == 1,
          s"ivfRetrain: no inverted file at $invPath and " +
            s"${stranded.length} stranded .retired-* siblings — cannot " +
            "self-heal ambiguously; restore the live index manually")
        if (!fs.rename(stranded.head, p))
          sys.error(s"ivfRetrain: could not restore the stranded index " +
            s"${stranded.head} to $invPath")
        System.err.println(s"[graft] ivfRetrain: restored stranded index " +
          s"${stranded.head} -> $invPath (crash between publish renames)")
      }
      require(fs.exists(p), s"ivfRetrain: no inverted file at $invPath")
      // 3. Orphan sweep: .retired-* (crash between publish and delete —
      // its rows are already live) and .retrain-* (crash before publish)
      // dirs from previous crashed swaps only leak disk; with the lock
      // held nothing else references them. GUARD: a .retired-* sibling is
      // only sweepable when invPath is a PUBLISHED index — i.e. carries a
      // co-located _quantizer.json, which every swap stages and publishes
      // and which no other writer ever creates. (The epoch marker does
      // NOT prove publication: a plain append BOOTSTRAPS it on a fresh
      // dir.) The hazard: after a crash between the publish renames, if
      // the stale lock was removed and an append ran before the next
      // retrain, that append RECREATED invPath from scratch (no
      // co-located quantizer exists, so the staleness checks are
      // skipped) — invPath then exists, step 2's self-heal is skipped,
      // and an unguarded sweep would permanently delete the .retired-*
      // dir holding the entire pre-crash index.
      val retiredOrphans = siblings(s"${p.getName}.retired-")
      if (retiredOrphans.nonEmpty) {
        val published =
          fs.exists(new org.apache.hadoop.fs.Path(ivfQuantizerPath(invPath)))
        if (!published)
          throw new IllegalStateException(
            s"ivfRetrain: $invPath exists but carries neither " +
              "_quantizer.json nor _graft_epoch while retired sibling(s) " +
              s"${retiredOrphans.map(_.getName).mkString(", ")} hold " +
              "a pre-crash index — an append likely recreated the dir " +
              "after a crashed swap. Reconcile manually: move the live " +
              "dir's batch= increments INTO the newest .retired-* index, " +
              "rename it back to the live path, then retrain. Sweeping " +
              "here would silently destroy the pre-crash index.")
        retiredOrphans.foreach(fs.delete(_, true))
      }
      siblings(s"${p.getName}.retrain-").foreach(fs.delete(_, true))
      // B0: a snapshot of every batch dir's committed-FILE signature
      // (part-file name + length), taken BEFORE the union read. The swap
      // later forwards (re-derives under the new quantizer + overwrites)
      // any batch dir whose signature no longer matches — see
      // penStrayBatchDirs. Signature compare, not name membership, is
      // load-bearing: dir-level B0 lost rows in BOTH directions under a
      // live concurrent appender —
      //  * a dir created (with only an uncommitted _temporary tree)
      //    before the B0 listing whose part files committed after the
      //    read's listing was "in B0" yet contributed zero rows to the
      //    rebuild: not penned, deleted with the retired dir, and the
      //    appender's post-write epoch check passed because the publish
      //    (epoch bump) came much later — a SILENT drop caught live by
      //    the swaprace stress section;
      //  * an at-least-once replay that deleted + rewrote a committed
      //    dir mid-swap reopened the same window from the other side.
      // Part files are immutable once renamed into place and rewrites
      // always change the part-file UUIDs, so signature-equal at pen
      // time ⟹ the dir never changed since B0 ⟹ the read (listed after
      // B0) carried exactly these files and the rebuild holds its rows.
      // Signature-unequal ⟹ forward: the re-derive reads the dir's FINAL
      // committed content and overwrites its own batch=N partition —
      // idempotent, so over-forwarding (a dir that changed but whose
      // rows did make the read) is safe, merely redundant work.
      val rootListing = fs.listStatus(p)
      val batchKeyed = rootListing.exists(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch="))
      def batchSig(dir: org.apache.hadoop.fs.Path): Set[(String, Long)] =
        fs.listStatus(dir)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(f => (f.getPath.getName, f.getLen)).toSet
      val b0: Map[String, Set[(String, Long)]] =
        if (!batchKeyed) Map.empty
        else rootListing.filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("batch="))
          .map(st => st.getPath.getName -> batchSig(st.getPath)).toMap
      val old = spark.read.parquet(invPath)
      // batch-keyed rebuilds PRESERVE the batch partitioning: each row is
      // rewritten under its ORIGINAL batch dir, so a streaming replay of
      // an increment whose offsets had not committed when the swap ran
      // overwrites its own batch=N dir in the new index — idempotent —
      // instead of landing a duplicate beside rows the rebuild merged.
      // (The pre-r13 design merged everything into one batch=retrain-<ts>
      // dir, leaving replay-after-retrain a documented caller hazard.)
      val union = old
      val next = fit(union)
      // staging dirs reuse the LOCK's uuid, so a crashed swap's lock
      // content names exactly the .retrain-/.retired-/.strays- siblings
      // the healer will find
      val staging = s"$invPath.retrain-$uuid"
      val stagingPath = new org.apache.hadoop.fs.Path(staging)
      val frame = rebuild(union, next)
      if (frame.isEmpty) {
        // a plan with ZERO partitions takes Spark's write-at-least-one-
        // file path, so the swapped dir stays schema-readable even when
        // the rebuild removed every row (ivfCompact of the whole corpus);
        // an empty multi-partition plan would emit no part files and the
        // published index would fail schema inference forever after. The
        // empty file keeps the dir layout (one batch= subdir) so the
        // appender's invGuard contract survives the swap; `batch` must
        // not double as a DATA column inside a batch= dir.
        val dataSchema = org.apache.spark.sql.types.StructType(
          frame.schema.filterNot(_.name == "batch"))
        val target = if (batchKeyed)
          s"$staging/batch=retrain-${System.currentTimeMillis()}" else staging
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
          .write.mode("overwrite").parquet(target)
      } else if (batchKeyed)
        frame.write.partitionBy("batch").mode("overwrite").parquet(staging)
      else frame.write.mode("overwrite").parquet(staging)
      next.save(ivfQuantizerPath(staging))
      // co-locate the PQ codebook with the codes it encodes: a fresh
      // codebook (PQ retrain re-encoded `_codes`) stages here and
      // publishes in the same swap; otherwise an existing codebook is
      // carried forward (the codes are unchanged, so it stays valid)
      val liveCodebook = new org.apache.hadoop.fs.Path(ivfPqCodebookPath(invPath))
      val stagedJson: Option[String] = pqJson.orElse {
        if (!fs.exists(liveCodebook)) None
        else {
          val in = fs.open(liveCodebook)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        }
      }
      stagedJson.foreach { j =>
        val out = fs.create(
          new org.apache.hadoop.fs.Path(ivfPqCodebookPath(staging)), true)
        try out.write(j.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      writeEpoch(fs, staging) // publish = epoch bump (appenders validate)
      testBeforeRetire()
      // Holding pen for racing appends caught mid-swap: their rows were
      // assigned under the OLD quantizer, so they cannot be moved into
      // the published index verbatim — they re-run `rebuild` (re-assign,
      // and re-encode under a retrained PQ codebook) first. A dir is a
      // stray iff its committed-file signature is not the one B0
      // recorded (new dir, files committed after the union read's
      // listing, or a replay's delete+rewrite — see the B0 comment).
      val strays = new org.apache.hadoop.fs.Path(s"$invPath.strays-$uuid")
      def penStrayBatchDirs(dir: org.apache.hadoop.fs.Path): Unit =
        if (batchKeyed && fs.exists(dir))
          fs.listStatus(dir).foreach { st =>
            val n = st.getPath.getName
            if (st.isDirectory && n.startsWith("batch=") &&
                !b0.get(n).contains(batchSig(st.getPath))) {
              if (!fs.exists(strays)) fs.mkdirs(strays)
              fs.rename(st.getPath, new org.apache.hadoop.fs.Path(strays, n))
            }
          }
      val retired = new org.apache.hadoop.fs.Path(s"$invPath.retired-$uuid")
      if (!fs.rename(p, retired))
        sys.error(s"ivfRetrain: could not retire the live index at $invPath")
      testBetweenRenames()
      // Publish. An append that recreated invPath inside the rename gap
      // has its freshly-landed batch dirs penned first (it then lands in
      // the published index below; its own post-write epoch check still
      // tells it to replay, which is idempotent for batch-keyed layouts).
      // Hadoop's local rename FALLS BACK TO A COPY INTO an existing
      // destination dir — returning true after silently nesting the
      // staged index inside it — so the destination is cleared before
      // renaming and nesting is detected + undone afterwards.
      def publishOnce(): Boolean = {
        if (fs.exists(p)) {
          penStrayBatchDirs(p)
          fs.delete(p, true) // committer leftovers only, data penned
        }
        if (!fs.rename(stagingPath, p)) false
        else {
          val nested = new org.apache.hadoop.fs.Path(p, stagingPath.getName)
          if (!fs.exists(nested)) true
          else { // copy-fallback nested us: restore staging, retry
            fs.rename(nested, stagingPath)
            false
          }
        }
      }
      if (!publishOnce() && !publishOnce()) {
        if (fs.exists(p)) { penStrayBatchDirs(p); fs.delete(p, true) }
        fs.rename(retired, p) // roll back: old index stays live
        fs.delete(strays, true)
        sys.error(s"ivfRetrain: could not publish the rebuilt index at $invPath")
      }
      // 4. Rescue appends that landed in the OLD dir after the union
      // read: any batch dir in the retired copy that B0 didn't know is a
      // racing increment the rebuild cannot contain — re-derive it under
      // the NEW quantizer and land it in the published index instead of
      // deleting it with the retired dir. (A dir in B0 needs no rescue:
      // the rebuild rewrote its rows under its own batch= partition.)
      penStrayBatchDirs(retired)
      fs.delete(retired, true)
      if (fs.exists(strays)) {
        fs.listStatus(strays).foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith("batch=")) {
            val strayRows = spark.read.parquet(st.getPath.toString)
            rebuild(strayRows, next).drop("batch")
              .write.mode("overwrite").parquet(s"$invPath/$n")
          }
        }
        fs.delete(strays, true)
      }
      next
    } finally {
      heartbeat.interrupt()
      fs.delete(lock, false)
    }
  }

  /** The monitor → act wiring as one call, for the nightly-crawl loop:
    * measure the increment's quantization error against the serving
    * centroids and retrain + rebuild + swap ONLY when it exceeds
    * `driftThresholdBp` (pick it from the base corpus's own error — an
    * increment running at, say, >2-3× base is the standard trigger).
    * Returns Some(newIndex) when it acted, None when the increment is
    * in-distribution and the old index keeps serving.
    */
  def ivfRetrainIfDrifted(spark: org.apache.spark.sql.SparkSession,
                          invPath: String, index: IvfIndex,
                          increment: DataFrame, vecCol: String,
                          driftThresholdBp: Long, cells: Int = 16,
                          seed: Long = 42L, maxTrainRows: Long = 100000L,
                          pq: Option[PqIndex] = None): Option[IvfIndex] =
    if (quantizationErrorBp(index, increment, vecCol) > driftThresholdBp)
      Some(ivfRetrain(spark, invPath, cells, seed, maxTrainRows, pq))
    else None

  /** Tombstone compaction — the REMOVED half of a crawl delta: rewrite
    * the inverted file WITHOUT the given ids (one broadcast-friendly
    * anti-join + the same atomic swap as [[ivfRetrain]]; the quantizer
    * is unchanged, so `index` is returned as-is and every surviving
    * row's cell stays put). An append-only index otherwise serves
    * vanished documents forever; running this beside the drift retrain
    * (or folding the removal into [[ivfRetrain]]'s own rebuild pass by
    * compacting first) is the recurring-crawl hygiene pass. Same
    * mechanized swap protocol as retrain (lock + epoch bump + stray
    * forwarding — see [[ivfRetrain]]); racing appends fail loudly or
    * land, never vanish.
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, invPath: String,
                 index: IvfIndex, removeIds: DataFrame,
                 idCol: String,
                 staleLockMs: Long = DefaultStaleSwapLockMs): IvfIndex = {
    val gone = removeIds.select(col(idCol).as("neighbor_id")).distinct()
    retrainWith(spark, invPath, _ => index,
      (union, _) => union.join(gone, Seq("neighbor_id"), "left_anti"),
      staleLockMs = staleLockMs)
  }

  /** Refuses mixing root-level and batch-keyed inverted-file layouts (one
    * shallow listing): partition inference drops root files once `batch=`
    * dirs exist.
    */
  private def invGuard(spark: org.apache.spark.sql.SparkSession,
                       invPath: String, expectBatchDirs: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(invPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val entries = fs.listStatus(p).filterNot(st =>
      st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
    val offending =
      if (expectBatchDirs) entries.filter(_.isFile)
      else entries.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch="))
    if (offending.nonEmpty)
      throw new IllegalStateException(
        s"inverted file at $invPath already uses the " +
          s"${if (expectBatchDirs) "root-level (ivfAppend)" else "batch-keyed (ivfAppendBatch)"} " +
          "layout — mixing layouts makes partition inference silently drop " +
          s"the root-level rows (first offender: ${offending.head.getPath})")
  }

  /** Mean squared quantization error of `df`'s vectors against the
    * index's (unit-sphere) centroids, in basis points of the unit sphere
    * (`floor(mean minDist² × 10⁴)` — integer, so comparable across runs
    * and engines). This is the RETRAIN TRIGGER for the incremental
    * lifecycle ([[ivfAppend]]/[[ivfAppendBatch]]): assignment against
    * frozen centroids stays CORRECT under distribution drift (searches
    * never lose rows — AnnIncrementalSpec pins identity), but recall
    * decays as new vectors land far from every cell; an increment whose
    * error runs well above the base corpus's own error is the signal to
    * retrain + rebuild. One map-only aggregate over the (bounded or
    * full) input — no shuffle, no collect beyond the single result row.
    */
  def quantizationErrorBp(index: IvfIndex, df: DataFrame,
                          vecCol: String): Long = {
    val r = df.where(finiteVec(vecCol))
      .select(expressions.IvfExpressions.ivf_nearest_d2(
        col(vecCol).cast("array<double>"), index.clusterCenters).as("_d2"))
      .agg(avg(col("_d2"))).head()
    if (r.isNullAt(0)) 0L else math.floor(r.getDouble(0) * 10000).toLong
  }

  // ------------------------------------------------ vector aggregation

  /** Per-group embedding centroids, QUANTIZED to integer micro-units
    * (`floor(mean·10⁶ + 0.5)`). The quantization is the determinism
    * contract: a distributed float mean depends on partition fold order
    * at the last few ulps, so raw means can never be hash-compared across
    * engines or even across runs — micro-unit integers absorb the ulp
    * noise, and cosine is scale-invariant so downstream similarity is
    * unaffected. One map-side-combinable (group, dim) aggregate; dims are
    * bounded, groups are few — the centroid table broadcasts.
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.where(finiteVec(vecCol)) // non-finite components would poison the mean
      .select(col(groupCol).as("_grp"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("_dim", "_x")))
      .groupBy(col("_grp"), col("_dim"))
      .agg(floor(avg(col("_x")) * 1000000 + 0.5).cast("long").as("_c"))
      .groupBy(col("_grp"))
      .agg(transform(array_sort(collect_list(struct(col("_dim"), col("_c")))),
        s => s.getField("_c")).as("_centroid"))
      .select(col("_grp").as(groupCol), col("_centroid").as("centroid"))

  /** Cosine of every vector against its group's centroid — the
    * embedding-space outlier signal (a vector far from its label/source
    * centroid is mislabeled or noise; gate on the score like any other
    * quality signal). Centroids broadcast; the corpus pass is map-only.
    */
  def centroidCosines(df: DataFrame, idCol: String, vecCol: String,
                      groupCol: String): DataFrame =
    df.where(finiteVec(vecCol))
      .join(broadcast(groupCentroids(df, groupCol, vecCol)), Seq(groupCol))
      .select(col(idCol), col(groupCol),
        cosine(col(vecCol).cast("array<double>"),
          col("centroid").cast("array<double>")).as("centroid_cos"))
}
