package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, same cosine kernel:
  *  - `bruteForceTopK` — exact: broadcast the (small) query set against
  *    the full corpus; correct baseline at any scale where queries ≪
  *    corpus (the corpus side streams, never shuffles);
  *  - `lshBucketed` — approximate scale path: sign-bit bucket on a fixed
  *    dimension subset; candidates only form within a bucket, so the
  *    join is an equi-join on the bucket key (shuffle on bucket, no
  *    cross product). Recall is traded for the usual LSH bound.
  *
  * The cosine kernel is built from `zip_with`/`aggregate` higher-order
  * functions — codegen'd, no UDF — accumulating in double left-to-right,
  * which makes results bit-reproducible against external engines that
  * fold the same way.
  */
object SimilarityOps {

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Null (not NaN, not an ANSI DIVIDE_BY_ZERO error) for a zero-norm
    * input: try_divide keeps the denominator single-evaluation and the
    * null sorts LAST under desc, so degenerate vectors never outrank
    * real neighbors.
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Cosine in pure float32 arithmetic: float accumulators, float sqrt
    * (double sqrt of a float rounds exactly to the float sqrt), float
    * product and divide. Bit-identical to engines that keep FLOAT[]
    * kernels in single precision (e.g. DuckDB's list_cosine_similarity),
    * which makes cross-engine verification exact instead of
    * tolerance-based. Use the double kernel (`cosine`) when quality
    * matters more than replay.
    */
  def cosineF32(a: Column, b: Column): Column = {
    def sumF(arr: Column): Column =
      aggregate(arr, lit(0.0f), (acc, v) => acc + v)
    def sqrtF(x: Column): Column = sqrt(x.cast("double")).cast("float")
    val d = sumF(zip_with(a, b, (x, y) => x * y))
    val na = sumF(transform(a, x => x * x))
    val nb = sumF(transform(b, x => x * x))
    // Spark coerces the float division to double; the cast back to float
    // recovers the single-precision quotient exactly (double carries
    // ≥ 2p+2 bits of the float, so the two-step rounding equals one
    // float division) — keeping this kernel bit-identical to
    // functions.CosineF32 and to float32 engines. try_divide: zero-norm
    // input → null, not an ANSI error (same contract as `cosine`).
    try_divide(d, sqrtF(na) * sqrtF(nb)).cast("float").cast("double")
  }

  /** Exact top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast); the corpus side is a
    * single streaming pass into the bounded-heap `TopKPerKey` operator —
    * each task keeps at most k rows per query, so the rank exchange
    * carries queries × k × partitions rows, never the corpus × queries
    * scored fan-out a `row_number` window would sort and shuffle.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("_qv"), col("_cv")), 4))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k)
      .select("query_id", "neighbor_id", "sim", "rk")
  }

  /** Per-dimension (min, max) codebook for SQ8 scalar quantization —
    * the OTHER standard vector-compression family beside PQ (ss12/
    * ss14/ss20): 4× memory vs f32 with one byte per dimension and an
    * all-integer distance kernel, no centroid training. One
    * map-side-combined agg over the exploded dims; the collect is
    * DIMS-bounded (64 here, a few thousand anywhere — the documented
    * driver-scalar class). */
  def sq8Train(corpus: DataFrame,
               vecCol: String = "embedding"): Array[(Float, Float)] =
    corpus.select(posexplode(col(vecCol)).as(Seq("_d", "_x")))
      .groupBy("_d").agg(min("_x").as("mn"), max("_x").as("mx"))
      .orderBy("_d").collect()
      .map(r => (r.getFloat(1), r.getFloat(2)))

  /** SQ8 encode expression:
    * `q_d = clamp(floor((x_d − mn_d) · 256 / (mx_d − mn_d)), 0, 255)`,
    * all arithmetic in f64 (f32→f64 widening is exact, so both engines
    * evaluate the identical IEEE tree). FLOOR, not round — half-up vs
    * half-even drift between engines is exactly the tx28 tie-bug
    * class; floor is unambiguous. A degenerate dimension (mx = mn)
    * codes 0. The codebook rides the expression as LITERAL arrays —
    * whole-stage codegen, no join, no broadcast. */
  def sq8Code(vec: Column, codebook: Array[(Float, Float)]): Column = {
    val mins = array(codebook.map(c => lit(c._1.toDouble)): _*)
    val spans = array(codebook.map(c =>
      lit(c._2.toDouble - c._1.toDouble)): _*)
    transform(vec, (x, i) => {
      val mn = element_at(mins, i + 1)
      val span = element_at(spans, i + 1)
      when(span === 0.0, lit(0)).otherwise(
        least(greatest(floor((x.cast("double") - mn) * 256.0 / span),
          lit(0.0)), lit(255.0)).cast("int"))
    })
  }

  /** Exact-integer dot product of two SQ8 code arrays — the symmetric
    * quantized distance. Bounded by 255²·dims (≈ 4.2 M at 64 dims), so
    * the long accumulator never saturates and the score is BIT-EXACT
    * on any engine, any partitioning. */
  def sq8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L),
      (acc, x) => acc + x)

  /** Brute-force top-k over SQ8 codes ([[bruteForceTopK]]'s shape:
    * corpus × broadcast queries, ranked on the bounded heap) — the
    * baseline the compressed index variants compare against, and the
    * exact-integer lane surface: scores are integers, so the oracle
    * replays them bit-for-bit with no rounding contract at all. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              codebook: Array[(Float, Float)],
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      sq8Code(col(vecCol), codebook).as("_cq"))
    val q = queries.select(col(idCol).as("query_id"),
      sq8Code(col(vecCol), codebook).as("_qq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", sq8Dot(col("_qq"), col("_cq")))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("score").desc, col("neighbor_id").asc), k)
      .select("query_id", "neighbor_id", "score", "rk")
  }

  /** Binary (sign) quantization: dim d contributes bit `d mod 64` of
    * word `d / 64` when `x_d > 0` (strict — zeros code 0 on every
    * engine, no tie rule needed). 32× memory vs f32 and the distance
    * kernel is XOR + popcount — the coarsest, fastest rung of the
    * compression ladder under PQ (ss12) and SQ8 (ss24), the standard
    * first-pass filter before a re-rank. */
  def signPack(vec: Column, dims: Int): Column = {
    val words = (dims + 63) / 64
    array((0 until words).map { w =>
      val lo = w * 64
      val hi = math.min(lo + 64, dims)
      (lo until hi).map(d =>
        when(element_at(vec, d + 1) > 0f,
          lit(1L << (d - lo))).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_))
    }: _*)
  }

  /** Hamming distance between two sign-packed code arrays:
    * Σ popcount(a_w XOR b_w) — exact small integers, engine-independent
    * by construction (the oracle replays the UNPACKED per-dimension
    * sign-disagreement count, which is the same number by definition —
    * no bit-layout contract crosses the compare). */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, x) => acc + x)

  /** Brute-force top-k by sign-code Hamming distance
    * ([[bruteForceTopK]]'s shape: corpus × broadcast queries, ranked
    * on the bounded heap, ties by neighbor id). */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  dims: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      signPack(col(vecCol), dims).as("_cb"))
    val q = queries.select(col(idCol).as("query_id"),
      signPack(col(vecCol), dims).as("_qb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hamming(col("_qb"), col("_cb")))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("hamming").asc, col("neighbor_id").asc), k)
      .select("query_id", "neighbor_id", "hamming", "rk")
  }

  /** All pairs above a similarity threshold between a broadcast query set
    * and the corpus — rank-free, so exactly reproducible.
    */
  def thresholdPairs(corpus: DataFrame, queries: DataFrame,
                     threshold: Double, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("_qv"), col("_cv")), 4))
      .filter(col("sim") >= threshold)
      .select("query_id", "neighbor_id", "sim")
  }

  /** Symmetric per-vector int8 quantization: `qscale = max|x| / 127`,
    * `q_i = round(x_i / qscale)` ∈ [-127, 127] — a 4× storage shrink
    * for ANN candidate stages (dequantize is `q_i * qscale`, max
    * per-element error qscale/2). All arithmetic is exact-IEEE double
    * (float→double widening, one correctly-rounded division) plus an
    * away-from-zero half-rounding that Spark and DuckDB share, so the
    * oracle compare is bit-exact, not tolerance-based. A zero vector
    * quantizes to zeros with qscale 0; an empty vector yields qscale
    * NULL (no max exists) with empty codes; null stays null.
    */
  def quantizeInt8(df: DataFrame, idCol: String,
                   vecCol: String = "embedding"): DataFrame = {
    // native one-pass kernel — the declarative form (kept below as the
    // executable spec, parity-pinned in ExtOpsSpec) evaluates its HOF
    // lambdas interpreted, and a downstream posexplode's inferred
    // Generate filter re-runs the whole tree ~2x more per row
    val q = graft.functions.QuantizeInt8.quantizeInt8(col(vecCol))
    df.select(col(idCol), q.getField("qscale").as("qscale"),
      q.getField("q8").as("q8"))
  }

  /** Declarative twin of [[quantizeInt8]] — the executable spec the
    * native kernel is parity-tested against (ExtOpsSpec), never the
    * production path.
    */
  private[graft] def quantizeInt8Declarative(df: DataFrame, idCol: String,
      vecCol: String = "embedding"): DataFrame = {
    val s = array_max(transform(col(vecCol), x => abs(x)))
      .cast("double") / lit(127.0)
    df.select(col(idCol), s.as("qscale"),
      when(s === 0.0, transform(col(vecCol), _ => lit(0).cast("byte")))
        .otherwise(transform(col(vecCol),
          x => round(x.cast("double") / s).cast("byte")))
        .as("q8"))
  }

  /** Sign-bit LSH bucket over the first `bits` dimensions: a compact,
    * deterministic hyperplane family (axis-aligned). Vectors only meet
    * inside their bucket.
    */
  def signBucket(vec: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(vec, i) > 0f, lit("1")).otherwise(lit("0"))): _*)

  /** NaN-guard for similarity ordering: catalyst orders NaN ABOVE every
    * real double, so a zero-norm vector (cosine 0/0 = NaN) would
    * otherwise outrank genuine neighbors. Mapping NaN → null instead
    * puts it LAST under `desc` (nulls-last), deterministically.
    */
  private def noNaN(c: Column): Column =
    nanvl(c, lit(null).cast("double"))

  /** Hash-seeded IVF centroids — the shared step 1 of [[ivfTopK]] and
    * [[IvfIndex.build]]: one keyed partial agg, dead (all-null/empty)
    * cells dropped. The seed cell is md5-derived and the means are
    * rounded to 4 decimals before the float32 cast (the [[kmeans]]
    * portability recipe), so the whole IVF pipeline — centroids,
    * assignments, probes, scores — replays exactly in an external
    * engine; seeding quality is equivalent (both are uniform hashes).
    */
  private[operators] def ivfCentroids(corpus: DataFrame, nList: Int,
                                      idCol: String, vecCol: String)
      : DataFrame =
    corpus
      .select(((conv(substring(md5(col(idCol).cast("string")), 1, 8),
          16, 10).cast("long")) % nList).cast("int").as("_cell"),
        col(vecCol))
      .groupBy("_cell")
      .agg(VectorMeanAgg.vecMean(col(vecCol)).as("_cmean"))
      .filter(col("_cmean").isNotNull)
      .select(col("_cell"),
        transform(col("_cmean"), x => round(x, 4).cast("float"))
          .as("_cvec"))

  /** Nearest-centroid assignment (shared step 2): top-1 per corpus row
    * via the heap operator; `_cell asc` tiebreak pins the winner when
    * distances tie (duplicate centroids, NaN-guarded nulls).
    */
  private[operators] def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                                   idCol: String, vecCol: String,
                                   kernel: (Column, Column) => Column)
      : DataFrame =
    graft.plans.TopK.perKey(
      corpus.crossJoin(broadcast(centroids))
        .withColumn("_d", noNaN(kernel(col(vecCol), col("_cvec")))),
      Seq(idCol), Seq(col("_d").desc, col("_cell").asc), 1)
      .select(col(idCol), col(vecCol), col("_cell"))

  /** Probe selection (shared step 3): the `nProbe` nearest cells per
    * query, same guards as [[ivfAssign]].
    */
  private[operators] def ivfProbe(queries: DataFrame, centroids: DataFrame,
                                  nProbe: Int, idCol: String, vecCol: String,
                                  kernel: (Column, Column) => Column)
      : DataFrame =
    graft.plans.TopK.perKey(
      queries
        .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
        .crossJoin(broadcast(centroids))
        .withColumn("_d", noNaN(kernel(col("_qv"), col("_cvec")))),
      Seq("query_id"), Seq(col("_d").desc, col("_cell").asc), nProbe)
      .select(col("query_id"), col("_qv"), col("_cell"))

  /** Score-and-rank (shared step 4): candidates meet on the cell id,
    * top-k per query. `probes` must carry (query_id, _qv, _cell);
    * `cells` must carry (_cid, _cv, _cell).
    */
  private[operators] def ivfScore(probes: DataFrame, cells: DataFrame,
                                  k: Int,
                                  kernel: (Column, Column) => Column)
      : DataFrame =
    graft.plans.TopK.perKey(
      probes.join(cells, Seq("_cell"))
        .filter(col("query_id") =!= col("_cid"))
        .withColumn("sim", round(noNaN(kernel(col("_qv"), col("_cv"))), 4))
        .select(col("query_id"), col("_cid").as("neighbor_id"), col("sim")),
      Seq("query_id"), Seq(col("sim").desc, col("neighbor_id").asc), k,
      rankCol = "rk")

  /** IVF-style approximate top-k: partition the corpus into `nList`
    * Voronoi cells around centroids, probe only the `nProbe` cells
    * nearest each query.
    *
    * All DataFrame ops: centroids come from a single keyed partial agg
    * ([[VectorMeanAgg]] — one double[dim] buffer per cell per partition,
    * map-side combined), cell assignment and query probing are broadcast
    * joins against the tiny centroid table, and the search join is an
    * equi-join on the cell id — the corpus is touched once, and only
    * ~nProbe/nList of candidate pairs are scored. The scale path when
    * even sign-bucket LSH scores too many pairs.
    *
    * `kernel` picks the similarity implementation, like
    * [[bucketedPairs]]: default double-precision HOF cosine (exact
    * replay), or `functions.CosineF32.cosineF32Native` for the codegen
    * float32 kernel — selection only needs the ordering, so the cheaper
    * kernel is the right default at scale.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nList: Int, nProbe: Int, idCol: String = "vec_id",
              vecCol: String = "embedding",
              kernel: (Column, Column) => Column = cosine): DataFrame = {
    // steps 1-4 are the shared helpers: centroid partial agg (no
    // posexplode fan-out), heap-based top-1 assignment (the window
    // row_number formulation exchanges AND fully sorts every
    // (vector x centroid) row; the heap keeps one row per key per
    // partition), probe selection, in-cell score + rank.
    val centroids = ivfCentroids(corpus, nList, idCol, vecCol)
    val cells = ivfAssign(corpus, centroids, idCol, vecCol, kernel)
      .select(col(idCol).as("_cid"), col(vecCol).as("_cv"), col("_cell"))
    val probes = ivfProbe(queries, centroids, nProbe, idCol, vecCol, kernel)
    ivfScore(probes, cells, k, kernel)
  }

  /** Deterministic spherical k-means (Lloyd's) over an embedding
    * column — the clustering primitive behind SemDeDup-style semantic
    * dedup and IVF codebook training. Initial clusters are md5-seeded
    * (a pure function of the id — no RNG state, identical on any
    * engine); each iteration is one per-cluster element-wise mean
    * ([[VectorMeanAgg]] — only group buffers cross the shuffle) and one
    * nearest-centroid re-assignment by cosine (broadcast cross join
    * against the k-row centroid table + the top-1 heap, `cluster asc`
    * tiebreak). Centroids are ROUNDED to 4 decimals and cast to float32
    * each round, so the whole trajectory — means, similarities,
    * argmaxes — replays exactly in an external engine (the ss6/ss1
    * portability recipe applied iteratively). A cluster that loses all
    * members simply drops out of the centroid table.
    *
    * Scale shape per iteration: one partial agg (k × dim doubles per
    * partition) + one broadcast join (k × dim floats) — the corpus
    * streams twice per iteration and never shuffles by content; `iters`
    * is small and fixed (codebook training, not convergence-chasing).
    */
  def kmeans(df: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    kmeansAssign(df, k, iters, idCol, vecCol)
      .select(col(idCol), col("cluster"))

  /** [[kmeans]] keeping the vector column on the assignment rows —
    * the form downstream cluster-blocked work ([[semanticDedup]])
    * consumes without a join back to the corpus.
    */
  def kmeansAssign(df: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    kmeansFit(df, k, iters, idCol, vecCol)._1

  /** [[kmeansAssign]] returning the trained model too: the centroid
    * table `(cluster, _cv: array<float>)` the FINAL assignment was
    * scored against — what ADC search and any later out-of-sample
    * assignment must use (a refit from the final assignment would be
    * the NEXT iteration's centroids, not the ones the codes mean).
    */
  def kmeansFit(df: DataFrame, k: Int, iters: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    var assign = df.select(col(idCol), col(vecCol), kmeansSeed(idCol, k))
    var lastCentroids: DataFrame = null
    for (_ <- 1 to iters) {
      val centroids = assign.groupBy(col("cluster"))
        .agg(VectorMeanAgg.vecMean(col(vecCol)).as("_m"))
        .filter(col("_m").isNotNull)
        .select(col("cluster").as("_c"),
          transform(col("_m"), x => round(x, 4).cast("float")).as("_cv"))
      lastCentroids = centroids
      assign = graft.plans.TopK.perKey(
        assign.drop("cluster").crossJoin(broadcast(centroids))
          .withColumn("_sim", noNaN(
            graft.functions.CosineF32.cosineF32Native(col(vecCol),
              col("_cv")))),
        Seq(idCol), Seq(col("_sim").desc, col("_c").asc), 1)
        .select(col(idCol), col(vecCol), col("_c").as("cluster"))
    }
    require(lastCentroids != null, "iters must be >= 1")
    (assign, lastCentroids.select(col("_c").as("cluster"), col("_cv")))
  }

  /** The md5 seed cluster of [[kmeans]]: a pure function of the id. */
  private def kmeansSeed(idCol: String, k: Int): Column =
    (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % k).cast("int").as("cluster")

  /** Product quantization: split each vector into `m` contiguous
    * `subDim`-wide subvectors, train a deterministic k-means codebook
    * ([[kmeans]]) independently in each subspace, and encode every
    * vector as its `m` cell ids — the classic PQ code (`m` bytes at
    * k ≤ 256 instead of `dim × 4`), the compression layer under
    * IVF-PQ ANN indexes. Same portability recipe as [[kmeans]], so
    * codes replay exactly in an external engine.
    *
    * Scale shape: the `m` subspace trainings are independent k-means
    * runs over `subDim`-wide slices (each = partial agg + broadcast
    * re-assignment per round); the final assembly is `m-1` id-keyed
    * joins of (id, cell) pairs — code-sized rows, co-partitioned on
    * the id after the first shuffle.
    */
  def productQuantize(df: DataFrame, m: Int, subDim: Int, k: Int,
                      iters: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    pqTrain(df, m, subDim, k, iters, idCol, vecCol)._1

  /** [[productQuantize]] returning BOTH halves of the index: the code
    * table and the per-subspace codebooks
    * `(subspace, cluster, _cv: array<float>)` — what [[pqAdcTopK]]
    * scores against.
    */
  def pqTrain(df: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val perSub = (0 until m).map { j =>
      val sub = df.select(col(idCol),
        slice(col(vecCol), j * subDim + 1, subDim).as(vecCol))
      val (assigned, centroids) = kmeansFit(sub, k, iters, idCol, vecCol)
      // the codebook is the centroid table the codes were assigned TO
      // (a refit from the final assignment would be iteration N+1)
      val codebook = centroids
        .select(lit(j).as("subspace"), col("cluster"), col("_cv"))
      (assigned.select(col(idCol), col("cluster").as(s"_c$j")), codebook)
    }
    val codes = perSub.map(_._1).reduce((a, b) => a.join(b, Seq(idCol)))
      .select(col(idCol),
        array((0 until m).map(j => col(s"_c$j")): _*).as("pq_code"))
    (codes, perSub.map(_._2).reduce(_ unionByName _))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries stay
    * full-precision, the corpus is represented ONLY by its codes, and
    * each candidate's score is the sum over subspaces of
    * cosine(query subvector, centroid[code_j]) — the PQ search half of
    * an IVF-PQ index. Per-kernel results are widened to double before
    * summing so the score replays bit-exactly in an external engine.
    *
    * Scale shape: the codebooks (m × k rows) broadcast twice — once
    * crossed with the queries to build each query's m × k lookup table
    * (tiny), once more nothing: the big join is codes ⋈ lookup rows on
    * the (subspace, cluster) pair after exploding each code row into
    * its m (subspace, cluster) entries — an equi-join whose build side
    * is queries × m × k rows, broadcast-able for any sane query batch.
    * The corpus vectors are never read at search time; that is the
    * point of PQ.
    */
  /** ADC score-and-rank restricted to cell-met candidates — the scoring
    * half of the IVF-PQ composition ([[IvfIndex.searchPq]]): `probes`
    * carries `(query_id, _qv, _cell)`, `codes` carries
    * `(idCol, pq_code, _cell)`; candidates meet on the cell id (each
    * query scores ONLY codes in its own probed cells), then rank by the
    * summed per-subspace lookup-table parts exactly as [[pqAdcTopK]].
    * The LUT is queries × m × kPq rows — broadcast; corpus vectors are
    * never touched.
    */
  private[operators] def adcScoreCells(queries: DataFrame,
      probes: DataFrame, codes: DataFrame, codebooks: DataFrame,
      k: Int, m: Int, subDim: Int, idCol: String, vecCol: String)
      : DataFrame = {
    val lut = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("subspace"), col("cluster"),
        (0 until m).map(j =>
          when(col("subspace") === j, noNaN(
            graft.functions.CosineF32.cosineF32Native(
              slice(col("_qv"), j * subDim + 1, subDim), col("_cv")))
            .cast("double")))
          .reduce((a, b) => coalesce(a, b)).as("_part"))
    val cand = probes.select(col("query_id"), col("_cell"))
      .join(codes, Seq("_cell"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        posexplode(col("pq_code")).as(Seq("subspace", "cluster")))
    graft.plans.TopK.perKey(
      cand.join(broadcast(lut), Seq("query_id", "subspace", "cluster"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(round(sum(col("_part")), 4).as("adc_score")),
      Seq("query_id"), Seq(col("adc_score").desc, col("neighbor_id").asc),
      k, rankCol = "rk")
  }

  /** Determinism boundary: the ADC score is a float SUM of `m`
    * per-subspace parts. At m = 2 (every gated lane) IEEE addition is
    * commutative, so the aggregate is order-invariant and the hash
    * oracle replays it exactly. At m > 2 the merge order of the
    * partial sums becomes partition-dependent in the low bits — a
    * reproducibility-gated deployment should quantize each part to
    * integer 1e-4 units before the sum (`round(round(part,4)*1e4)` as
    * long — the ss13/gr7 recipe) and divide once at the end; ranks
    * shift by <1e-4, determinism becomes unconditional.
    */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
                topK: Int, m: Int, subDim: Int,
                idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val lut = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("subspace"), col("cluster"),
        (0 until m).map(j =>
          when(col("subspace") === j, noNaN(
            graft.functions.CosineF32.cosineF32Native(
              slice(col("_qv"), j * subDim + 1, subDim), col("_cv")))
            .cast("double")))
          .reduce((a, b) => coalesce(a, b)).as("_part"))
    val exploded = codes.select(col(idCol).as("neighbor_id"),
      posexplode(col("pq_code")).as(Seq("subspace", "cluster")))
    graft.plans.TopK.perKey(
      exploded.join(broadcast(lut), Seq("subspace", "cluster"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        // every code row contributes exactly m parts (codes only ever
        // reference centroids that exist), so the sum is total
        .agg(round(sum(col("_part")), 4).as("adc_score")),
      Seq("query_id"), Seq(col("adc_score").desc, col("neighbor_id").asc),
      topK, rankCol = "rk")
  }

  /** Two-stage ANN retrieval — the production serving shape: an ADC
    * SHORTLIST of `shortlist` candidates per query over the PQ codes
    * (cheap: the corpus's raw vectors are never read, only m-byte
    * codes + a broadcast LUT), then an EXACT re-rank of just those
    * candidates on the raw vectors. At corpus size N with Q queries,
    * the exact kernel runs Q·shortlist times instead of Q·N — the
    * entire reason PQ indexes exist — while the final ordering is the
    * exact kernel's, repairing ADC's quantization-induced rank
    * inversions inside the shortlist. Determinism end-to-end: portable
    * PQ codes (md5-seeded k-means), rounded kernels, (score desc, id
    * asc) total order — the composition replays exactly in SQL.
    *
    * The query side rides a broadcast by contract (a serving batch);
    * the shortlist⋈corpus vector fetch is left unhinted — Q·shortlist
    * rows against N vectors is broadcast-able for small batches and a
    * plain equi-shuffle otherwise, exactly the call AQE should make.
    */
  def pqAdcRerank(queries: DataFrame, corpus: DataFrame,
                  codes: DataFrame, codebooks: DataFrame,
                  shortlist: Int, topK: Int, m: Int, subDim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  kernel: (Column, Column) => Column = cosine)
      : DataFrame = {
    require(topK <= shortlist,
      s"topK ($topK) must not exceed the shortlist ($shortlist)")
    val cand = pqAdcTopK(queries, codes, codebooks, shortlist, m,
        subDim, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val nv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv"))
    val scored = cand
      .join(nv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        noNaN(round(kernel(col("_qv"), col("_nv")), 4)).as("score"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("score").desc, col("neighbor_id").asc), topK,
      rankCol = "rank")
  }

  /** SemDeDup-style semantic dedup: cluster the corpus with
    * [[kmeansAssign]], form near-duplicate pairs ONLY within a cluster
    * (the cluster id is the blocking key that keeps the self-join from
    * going quadratic — the SemDeDup observation that semantic
    * duplicates share a k-means cell), and greedily drop every vector
    * with a smaller-id near-duplicate (cosine ≥ threshold) in its
    * cell. Returns the surviving rows of `df`.
    *
    * Scale shape: k-means cost (see [[kmeans]]) + one equi-join on the
    * cluster id + one broadcast-able anti join on the (small) drop
    * list. Cell sizes bound the pair count; raise k to cap them.
    *
    * Small inputs run on the driver (Multistep's rule, as the SCC
    * finish): one bounded `limit` collect reads at most
    * `DriverPath.LocalDedupMaxRows` + 1 rows with their md5 seed cluster,
    * and when the input fits, the Lloyd rounds and the pair test run
    * in driver memory with the Spark path's arithmetic — the
    * [[VectorMeanAgg]] buffer's `reduce`/`finish`, means rounded to 4
    * decimals half-up then cast to float, the shared float32 loop
    * `functions.CosineF32.cosine`, NaN as null, the re-assignment order
    * (similarity descending, nulls last, then cluster ascending) and
    * pairs `a < b` whose rounded similarity reaches `threshold`. The
    * result is `df` anti-joined with the local drop list, so no
    * checkpoint is made. The bound caps the pair loop's worst case, a
    * single cluster: n·(n−1)/2 cosines on one driver thread (PERF.md
    * "SCC and semantic dedup on the driver"). Ids must be unique,
    * non-null integers and vectors `array<float>`; any other input
    * takes the distributed path. Two sums can differ in their last
    * bits: the driver adds a cluster's vectors in row order, Spark per
    * partition and then across partitions; they agree wherever the
    * double sums are exact, and the 4-decimal round hides the rest
    * except at a rounding tie. On ragged vectors, [[VectorMeanAgg]]
    * keeps the first length a buffer sees: row order here, partition
    * order (then the heavier buffer) in Spark.
    */
  def semanticDedup(df: DataFrame, k: Int, iters: Int, threshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    semanticDedupReleasable(df, k, iters, threshold, idCol, vecCol)._1

  /** [[semanticDedup]] plus the release handle for the checkpointed
    * cluster assignment the returned plan reads lazily (the
    * [[graft.operators.TextAnalysisOps.bpeTokenizer]] pattern: without
    * it every invocation parks one corpus-sized checkpoint until the
    * ContextCleaner happens to GC it — min-of-N bench loops accumulate
    * N copies). Call the handle after the consuming action completes;
    * on the driver path it has nothing to free.
    */
  def semanticDedupReleasable(df: DataFrame, k: Int, iters: Int,
                              threshold: Double,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding")
      : (DataFrame, () => Unit) =
    semDedupReleasable(df, k, iters, threshold, idCol, vecCol)

  /** [[semanticDedupReleasable]] with the driver bound open: a negative
    * `localMaxRows` forces the distributed path. */
  private[graft] def semDedupReleasable(df: DataFrame, k: Int, iters: Int,
      threshold: Double, idCol: String, vecCol: String,
      localMaxRows: Int = DriverPath.LocalDedupMaxRows)
      : (DataFrame, () => Unit) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iters >= 1, "iters must be >= 1")
    val seeded = df.select(col(idCol), col(vecCol), kmeansSeed(idCol, k))
    val driverTypes = seeded.schema.map(_.dataType).take(2) match {
      case Seq(ByteType | ShortType | IntegerType | LongType,
               ArrayType(FloatType, _)) => true
      case _ => false
    }
    val drops =
      if (!driverTypes) None
      else DriverPath.collectAtMost(seeded, localMaxRows)
        .flatMap(semDedupLocal(_, iters, threshold))
    drops match {
      case Some(ids) =>
        val dropDf = DriverPath.frame(df.sparkSession, ids.map(Row(_)),
          StructType(Seq(seeded.schema.head)))
        (df.join(dropDf, Seq(idCol), "left_anti"), () => ())
      case None =>
        semDedupDistributed(df, k, iters, threshold, idCol, vecCol)
    }
  }

  /** The driver path of [[semanticDedup]] over collected (id, vector,
    * seed cluster) rows: the ids to drop, or None when the ids are not
    * unique and non-null (the distributed path then decides). */
  private def semDedupLocal(rows: Array[Row], iters: Int,
                            threshold: Double): Option[Array[Any]] = {
    val n = rows.length
    if (rows.exists(_.isNullAt(0))) return None
    val ids = rows.map(_.getAs[Number](0).longValue)
    if (ids.distinct.length != n) return None
    val vecs = rows.map(r =>
      if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
    val seqs = vecs.map(v =>
      if (v == null) null
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(v))
    val data: Array[ArrayData] = vecs.map(v =>
      if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v))
    // NaN stands for null, as `noNaN` maps it
    def sim(x: ArrayData, y: ArrayData): Double =
      if (x == null || y == null || x.numElements != y.numElements) Double.NaN
      else graft.functions.CosineF32.cosine(x, y)
    val cluster = rows.map(_.getInt(2))
    var alive = true // false once no centroid is left: every row drops out
    var round = 0
    while (alive && round < iters) {
      round += 1
      // ascending cluster ids, so the first best keeps a tie; each
      // buffer takes its rows in row order
      val cents = (0 until n).groupBy(cluster(_)).toSeq.sortBy(_._1)
        .flatMap { case (c, members) =>
          val b = VectorMeanAgg.zero
          members.foreach(i => VectorMeanAgg.reduce(b, seqs(i)))
          Option(VectorMeanAgg.finish(b)).map(m =>
            (c, UnsafeArrayData.fromPrimitiveArray(m.map(x =>
              DriverPath.round(x, 4).toFloat).toArray): ArrayData))
        }
      alive = cents.nonEmpty
      for (i <- 0 until n if alive) {
        var best = cents(0)._1; var bestSim = sim(data(i), cents(0)._2)
        for (j <- 1 until cents.length) {
          val s = sim(data(i), cents(j)._2)
          if (!s.isNaN && (bestSim.isNaN || s > bestSim)) {
            best = cents(j)._1; bestSim = s
          }
        }
        cluster(i) = best
      }
    }
    val drop = new Array[Boolean](n)
    if (alive) for (members <- (0 until n).groupBy(cluster(_)).values) {
      val m = members.sortBy(ids(_)).toArray
      // round(s, 4) ≤ s + 5e-5, so a similarity 1e-4 under the threshold
      // cannot reach it: the exact test runs only near the threshold
      for (j <- m.indices; i <- 0 until j if !drop(m(j))) {
        val s = sim(data(m(i)), data(m(j)))
        if (s >= threshold - 1e-4 && DriverPath.round(s, 4) >= threshold)
          drop(m(j)) = true
      }
    }
    Some((0 until n).filter(drop(_)).map(rows(_).get(0)).toArray)
  }

  /** The Spark path of [[semanticDedup]]. */
  private def semDedupDistributed(df: DataFrame, k: Int, iters: Int,
      threshold: Double, idCol: String, vecCol: String)
      : (DataFrame, () => Unit) = {
    // the assignment feeds BOTH sides of the pair self-join — cut the
    // iterative lineage once instead of replaying every Lloyd round
    // twice (same recipe as DedupOps.clusters)
    val assigned = kmeansAssign(df, k, iters, idCol, vecCol)
      .localCheckpoint()
    val l = assigned.select(col("cluster"), col(idCol).as("_a"),
      col(vecCol).as("_va"))
    val r = assigned.select(col("cluster"), col(idCol).as("_b"),
      col(vecCol).as("_vb"))
    val drops = l.join(r, Seq("cluster"))
      .filter(col("_a") < col("_b"))
      .withColumn("_sim", round(noNaN(
        graft.functions.CosineF32.cosineF32Native(col("_va"),
          col("_vb"))), 4))
      .filter(col("_sim") >= threshold)
      .select(col("_b").as(idCol)).distinct()
    (df.join(drops, Seq(idCol), "left_anti"),
      () => graft.Release(assigned))
  }

  /** Johnson–Lindenstrauss random projection: `dIn`-dim float vectors →
    * `kOut`-dim sketches against a fixed ±1 sign matrix (Achlioptas'
    * database-friendly variant — signs, not Gaussians, preserve the JL
    * distance bound with the same `O(log n / eps^2)` target dimension).
    * This is the standard pre-ANN shrink: project once, index/search the
    * short vectors, re-rank survivors on the originals.
    *
    * Determinism: the sign matrix is derived from md5 of `"seed_i_j"`
    * (first hex nibble parity), computed DRIVER-SIDE into a literal —
    * per-row work is just the fused multiply/round/sum, no hashing. Each
    * addend is quantized to an integer micro-unit (`round(x*s*1e6)`)
    * BEFORE summation, so the sum is an exact integer — order-free and
    * bit-replayable on any engine, unlike a float fold whose value
    * depends on addend order. `proj_micro` (long) is the canonical
    * surface; `proj = proj_micro / 1e6 / sqrt(kOut)` is the scaled
    * convenience view.
    *
    * Scale shape: narrow map-side projection — no shuffle, no UDF; the
    * literal sign matrix ships inside the plan (kOut*dIn ints), not as a
    * broadcast. Vectors must have exactly `dIn` elements (zip_with
    * null-pads short inputs, poisoning the sum to null — surfaced, not
    * silently wrong).
    */
  def randomProject(df: DataFrame, dIn: Int, kOut: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    seed: String = "rp"): DataFrame = {
    // native one-pass kernel — the declarative form (kept below as the
    // executable spec, parity-pinned in ExtOpsSpec) runs kOut
    // interpreted zip_with/aggregate folds per row, measured as the
    // second-heaviest query in the catalog (ss13)
    val flat = signMatrix(dIn, kOut, seed)
    df.select(col(idCol),
      graft.functions.JlProject.jlProject(col(vecCol), flat, kOut)
        .as("proj_micro"))
      .select(col(idCol), col("proj_micro"),
        transform(col("proj_micro"),
          m => m.cast("double") / lit(1e6) / lit(math.sqrt(kOut.toDouble)))
          .as("proj"))
  }

  /** Declarative twin of [[randomProject]] — the executable spec the
    * native kernel is parity-tested against (ExtOpsSpec), never the
    * production path.
    */
  private[graft] def randomProjectDeclarative(df: DataFrame, dIn: Int,
      kOut: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: String = "rp"): DataFrame = {
    val flat = signMatrix(dIn, kOut, seed)
    val micro = (0 until kOut).map { j =>
      val row = (0 until dIn).map(i => flat(j * dIn + i).toInt)
      aggregate(
        zip_with(col(vecCol), typedLit(row),
          (x, sgn) => round(x.cast("double") * sgn * lit(1e6)).cast("long")),
        lit(0L), (acc, v) => acc + v)
    }
    // two-stage select: the transform must reference the ATTRIBUTE, not
    // the aggregate expressions — CollapseProject would otherwise inline
    // the kOut folds into both outputs (the round-1 lesson)
    df.select(col(idCol), array(micro: _*).as("proj_micro"))
      .select(col(idCol), col("proj_micro"),
        transform(col("proj_micro"),
          m => m.cast("double") / lit(1e6) / lit(math.sqrt(kOut.toDouble)))
          .as("proj"))
  }

  /** The shared deterministic ±1 sign matrix (flat row-major
    * `kOut x dIn`): md5 of `"seed_i_j"`, first hex nibble parity —
    * computed driver-side into a plan literal, never per row.
    */
  private def signMatrix(dIn: Int, kOut: Int, seed: String): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val flat = new Array[Byte](kOut * dIn)
    var j = 0
    while (j < kOut) {
      var i = 0
      while (i < dIn) {
        val h = md.digest(s"${seed}_${i}_${j}".getBytes("UTF-8"))
        flat(j * dIn + i) = if (((h(0) >> 4) & 0xF) % 2 == 0) 1 else -1
        i += 1
      }
      j += 1
    }
    flat
  }

  /** Bucketed approximate similarity pairs: equi-join on the sign bucket,
    * cosine + threshold within the bucket. `kernel` selects the
    * similarity implementation (default: double-precision HOF cosine;
    * pass `functions.CosineF32.cosineF32Native` for the float32 native
    * kernel) — there is ONE bucketed-pairs implementation, shared by
    * `DedupOps.embeddingPairs`.
    */
  def lshBucketed(corpus: DataFrame, threshold: Double, bits: Int = 8,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  kernel: (Column, Column) => Column = cosine): DataFrame = {
    val b = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      signBucket(col(vecCol), bits).as("_bkt"))
    val l = b.select(col("_bkt"), col("_id").as("a"), col("_v").as("va"))
    val r = b.select(col("_bkt"), col("_id").as("b"), col("_v").as("vb"))
    l.join(r, Seq("_bkt"))
      .filter(col("a") < col("b"))
      .withColumn("sim", round(kernel(col("va"), col("vb")), 4))
      .filter(col("sim") >= threshold)
      .select("a", "b", "sim")
  }

  /** Approximate k-NN graph over the corpus: for every vector, its `k`
    * most-similar SAME-BUCKET neighbors as directed edges
    * (a, b, sim, rank) — the backbone structure of graph-based semantic
    * dedup and diversity-aware curation (SemDeDup clusters, NN-descent
    * seeds, coverage scoring all start from this graph).
    *
    * Scale shape: the pair space is blocked by the sign-bucket LSH key
    * — an equi-join on the bucket, never a cross product — and the
    * directed edges need a ≠ b (both directions), not the a < b
    * dedup-pair convention. The per-node ranking is the bounded-heap
    * `TopKPerKey`: ≤ k edges per node survive each task map-side, so
    * the bucket fan-out (|bucket|² pairs) is consumed BEFORE any
    * exchange — a `row_number` window would shuffle and sort every
    * scored pair. Both join sides derive from one bucketed projection;
    * Catalyst reuses that exchange (the dd2 self-join discipline).
    * Recall is bucket-bounded like [[lshBucketed]]: nodes get neighbors
    * from their own bucket only — raise recall by lowering `bits`
    * (bigger buckets) or unioning rotated sign-buckets, trading pair
    * volume for coverage.
    */
  def knnGraph(corpus: DataFrame, k: Int, bits: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding",
               kernel: (Column, Column) => Column = cosine): DataFrame =
    knnGraphMultiProbe(corpus, k, bits, probes = 1, idCol, vecCol, kernel)

  /** Sign-bucket over `bits` consecutive dims starting after `offset`. */
  private def signBucketAt(vec: Column, offset: Int, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(vec, offset + i) > 0f, lit("1"))
        .otherwise(lit("0"))): _*)

  /** Multi-probe [[knnGraph]]: `probes` independent sign-buckets (probe
    * p hashes dims p·bits+1 … (p+1)·bits), candidates unioned — recall
    * climbs at CONSTANT bucket size instead of paying the 2^bits pair
    * blow-up of wider buckets (measured: the bits knob alone moves
    * wall ~3.5× per 2 bits, PERF.md).
    *
    * Pair dedup across probes is the dd15 emit-once discipline, not a
    * `distinct()`: probe p emits a pair only if NO earlier probe
    * bucketed it together, as a STATIC per-branch predicate (each
    * union branch knows its p at plan time, so the condition is a
    * codegen'd conjunction over earlier bucket keys — no interpreted
    * higher-order lambda on the pair stream, no candidate-dedup
    * exchange). Each branch's fan-out is consumed map-side by the
    * shared bounded heap.
    *
    * Requires vectors of at least probes·bits dims — the probes hash
    * DISJOINT dim ranges, and a shorter vector fails ANSI `element_at`
    * loudly rather than silently padding buckets.
    */
  def knnGraphMultiProbe(corpus: DataFrame, k: Int, bits: Int = 4,
                         probes: Int = 2,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         kernel: (Column, Column) => Column = cosine)
      : DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(probes >= 1, s"probes must be >= 1: $probes")
    val b = corpus.select(
      (col(idCol).as("_id") +: col(vecCol).as("_v") +:
        (0 until probes).map(p =>
          signBucketAt(col(vecCol), p * bits, bits).as(s"_bkt$p"))): _*)
    val scored = (0 until probes).map { p =>
      val l = b.select((col(s"_bkt$p") +: col("_id").as("a") +:
        col("_v").as("va") +:
        (0 until p).map(q => col(s"_bkt$q").as(s"_la$q"))): _*)
      val r = b.select((col(s"_bkt$p") +: col("_id").as("b") +:
        col("_v").as("vb") +:
        (0 until p).map(q => col(s"_bkt$q").as(s"_lb$q"))): _*)
      val noEarlier = (0 until p)
        .map(q => col(s"_la$q") =!= col(s"_lb$q"))
        .reduceOption(_ && _).getOrElse(lit(true))
      l.join(r, Seq(s"_bkt$p"))
        .filter(col("a") =!= col("b") && noEarlier)
        // NaN guard (zero-norm vectors): catalyst ranks NaN above
        // every real double — map to null so degenerate pairs sort
        // LAST
        .withColumn("sim", noNaN(round(kernel(col("va"), col("vb")), 4)))
        .select("a", "b", "sim")
    }.reduce(_ unionByName _)
    graft.plans.TopK.perKey(scored, Seq("a"),
      Seq(col("sim").desc, col("b").asc), k, rankCol = "rank")
  }

  /** Maximal-Marginal-Relevance re-rank: from a per-query candidate
    * shortlist, greedily pick k items maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — the diversity
    * objective a dedup-minded retrieval stack wants where ss20's exact
    * re-rank optimizes pure relevance (near-identical candidates waste
    * shortlist slots; MMR spends them on coverage).
    *
    * Inputs are PREPARED frames — `cand(query_id, cand_id, simq)` and
    * `pairs(query_id, pa, pb, simab)` — with sims already rounded to
    * 4 dp. Internally those quantize to INTEGER ten-thousandths and
    * λ=0.7 becomes the exact 7/3 integer split, so scores are exact
    * integers in 1e-5 units: every greedy comparison and the emitted
    * `score_e5` are bit-identical in any engine (a float 0.7·s−0.3·m
    * lands on decimal .5 ties constantly, where HALF_UP-vs-binary
    * rounding diverges — measured before this form), and ties break on
    * cand_id: the whole trajectory is deterministic and SQL-unrollable
    * (the kcore-oracle discipline).
    * The k rounds unroll DRIVER-SIDE over shortlist-sized frames: each
    * round is one per-query bounded-heap argmax (TopKPerKey, k=1) and
    * one join against the picked item's pair row to fold
    * `maxsel ← greatest(maxsel, sim(d, picked))`. Candidates never
    * re-score against the corpus — the candidate and pair frames are
    * computed once (caller checkpoints them; at shortlist width w the
    * per-query state is w rows and w² pair rows, independent of corpus
    * size).
    */
  def mmrRerank(cand: DataFrame, pairs: DataFrame, k: Int,
                lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1 && lambdaTenths >= 0 && lambdaTenths <= 10,
      s"bad k=$k lambdaTenths=$lambdaTenths")
    val q4 = (c: Column) => round(c * 10000).cast("long")
    val p4 = pairs.select(col("query_id"), col("pa"), col("pb"),
      q4(col("simab")).as("_simab4"))
    var remaining = cand.select(col("query_id"), col("cand_id"),
      q4(col("simq")).as("_simq4"), lit(0L).as("_maxsel4"))
    var out: Option[DataFrame] = None
    for (i <- 1 to k) {
      val scoredR = remaining.withColumn("score_e5",
        lit(lambdaTenths.toLong) * col("_simq4") -
          lit((10 - lambdaTenths).toLong) * col("_maxsel4"))
      val pick = graft.plans.TopK.perKey(scoredR, Seq("query_id"),
          Seq(col("score_e5").desc, col("cand_id").asc), 1)
        .select(col("query_id"), col("cand_id").as("_sel"),
          col("score_e5"), lit(i).as("_mmr_rk"))
      out = Some(out.fold(pick)(_ unionByName pick))
      if (i < k) {
        remaining = remaining
          .join(pick.select(col("query_id"), col("_sel")), Seq("query_id"))
          .filter(col("cand_id") =!= col("_sel"))
          .join(p4,
            p4("query_id") === remaining("query_id") &&
              p4("pa") === remaining("cand_id") &&
              p4("pb") === col("_sel"), "left")
          .select(remaining("query_id"), col("cand_id"), col("_simq4"),
            greatest(col("_maxsel4"), coalesce(col("_simab4"), lit(0L)))
              .as("_maxsel4"))
      }
    }
    out.get.select(col("query_id"), col("_mmr_rk").as("rk"),
      col("_sel").as("neighbor_id"), col("score_e5"))
  }
}
