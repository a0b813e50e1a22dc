package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

/** What the operators' driver paths share. Each follows Multistep's rule
  * (Slota et al., IPDPS 2014: once the problem is small, finish it on
  * the driver): one bounded collect, and when the input fits, the
  * result is computed in driver memory with the distributed path's
  * expressions and arithmetic and returned as a local frame, so no
  * checkpoint is made and the release handle has nothing to free.
  */
private[graft] object DriverPath {

  /** The most rows `SimilarityOps.semanticDedup` clusters and pairs on
    * the driver instead of running its Spark rounds (the same rule as
    * `GraphOps.LocalFinishMaxEdges`). The pair loop's worst case is one
    * cluster holding every row, n·(n−1)/2 cosines on one thread. Why
    * 4,000: on 64-dim vectors (4 cores) that worst case took 0.69 s
    * against 0.82 s for the distributed call at k = 8 and 3.5 s at
    * k = 1; at 6,000 rows it reached the distributed k = 8 cost
    * (1.39 s both; PERF.md "SCC and semantic dedup on the driver").
    * The pair cost grows with the dimension too, so wider vectors
    * move the crossover down. */
  val LocalDedupMaxRows = 4000

  /** The most documents `DedupOps.containmentPairs` and
    * `DedupOps.lshRecallEval` read on the driver instead of running
    * their Spark plans. The driver's cost is one md5 per shingle (two
    * for `lshRecallEval`, whose MinHash bands hash every shingle again)
    * plus the pair counts of capped posting lists, on one thread; a
    * distributed call costs ~0.6–1 s of jobs even on small inputs and
    * then spreads its hashing over the executors. Why 10,000: on ~55-word
    * documents (4 cores) the driver path took at most 55 % of the
    * distributed call's time there (1.79 against 3.26 s and 0.80
    * against 2.12 s), so twice the executors would not yet beat it; it
    * still won at 20,000, by less (PERF.md "Shingle dedup on the
    * driver"). */
  val LocalShingleMaxRows = 10000

  /** The most documents `DedupOps.lshTruthCapReport` reads on the
    * driver. Its plan is one cheap aggregate, so the driver's single
    * hashing thread catches up early: why 3,000: on the same documents
    * the driver path won at 2,000 rows (0.20 against 0.24 s) and lost
    * at 5,000 (0.35 against 0.29 s), with Spark's generated classes
    * cached; uncached, as in a pass that compiles more than the cache
    * holds, the distributed call costs ~0.1 s more. */
  val LocalTruthCapMaxRows = 3000

  /** Spark's `round(x, scale)` on a double (`RoundBase`'s double case):
    * HALF_UP on the decimal form `Double.toString` gives, NaN and
    * ±Infinity unchanged. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** The rows of `df` when there are at most `bound` of them, read by
    * one `limit(bound + 1)` collect; None when there are more, or when
    * `bound` is negative (no collect then). The collect reads one
    * coalesced partition: a limit collect over several partitions runs
    * one job for the first and more for the rest, and each job costs
    * more than reading a small input in one task; a larger input costs
    * one task's read of `bound` + 1 rows before its plan runs. */
  def collectAtMost(df: DataFrame, bound: Int): Option[Array[Row]] =
    if (bound < 0) None
    else {
      val rows = df.coalesce(1).limit(bound + 1).collect()
      if (rows.length > bound) None else Some(rows)
    }

  /** `cols` resolved over a frame of `schema` as any frame resolves
    * them (implicit casts included) and bound to field positions: the
    * distributed path's own expressions, for `eval` on driver rows. */
  def bind(spark: SparkSession, schema: StructType,
           cols: Column*): Seq[Expression] =
    spark.createDataFrame(java.util.Collections.emptyList[Row], schema)
      .select(cols: _*).queryExecution.analyzed match {
        case p: Project =>
          p.projectList.map(BindReferences.bindReference(_, p.child.output))
        case other =>
          throw new IllegalStateException(s"not a projection: $other")
      }

  /** A local frame of `rows`: no job until it is read. */
  def frame(spark: SparkSession, rows: Seq[Row],
            schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
