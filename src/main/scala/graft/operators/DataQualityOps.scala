package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality verification (Deequ-style), compiled to ONE
  * aggregate pass — the round-9 dq* family.
  *
  * A 100-TB ingest can't afford a scan per constraint: every check here
  * is an aggregate EXPRESSION, so an arbitrary suite costs exactly one
  * job — map-side partials, one scalar row to the driver, then a
  * driver-side explode into the (name, metric, passed) report. That
  * single-pass compilation is the entire design: adding a constraint
  * adds a column to the agg, never a scan. (The one caveat: exact
  * `uniqueness` uses a distinct aggregate; several of them in one
  * suite multiply the scan via Expand — keep one exact uniqueness per
  * suite and use approx_count_distinct beyond, same discipline as the
  * tx5/tx14 sketch lanes.)
  *
  * Determinism discipline: every ratio metric is an exact integer
  * count divided ONCE as doubles (the ss13 "one IEEE division, no
  * round" recipe), and bound metrics are casts of integer min/max —
  * no float sums anywhere, so the report is bit-identical across
  * partitionings and engines, which is what lets the oracle gate it.
  */
object DataQualityOps {

  /** One constraint: an aggregate `metric` expression (must evaluate
    * to double) asserted to lie in [lo, hi]. */
  final case class Check(name: String, metric: Column,
                         lo: Double, hi: Double)

  private def ratio(num: Column): Column =
    num.cast("double") / count(lit(1))

  /** Fraction of non-null values in `c` must be >= `lo`. */
  def completeness(c: String, lo: Double): Check =
    Check(s"completeness($c)", ratio(count(col(c))), lo, 1.0)

  /** Fraction of DISTINCT values must be >= `lo` (1.0 = unique key).
    * This is Deequ's DISTINCTNESS (count-distinct / row-count), not its
    * "uniqueness" (fraction of values occurring exactly once) — named
    * accordingly. Null handling: `countDistinct` ignores nulls while
    * the denominator counts every row, so a column with nulls can never
    * reach 1.0 — compose with [[completeness]] when nulls are possible
    * and the intent is "non-null unique key".
    */
  def distinctness(c: String, lo: Double): Check =
    Check(s"distinctness($c)", ratio(countDistinct(col(c))), lo, 1.0)

  /** Fraction of rows whose `c` matches `regex` must be >= `lo`. */
  def matchRatio(c: String, regex: String, lo: Double): Check =
    Check(s"pattern($c)",
      ratio(count(when(col(c).rlike(regex), lit(1)))), lo, 1.0)

  /** Fraction of rows with `c` in `values` must be >= `lo`. */
  def inSetRatio(c: String, values: Seq[String], lo: Double): Check =
    Check(s"in_set($c)",
      ratio(count(when(col(c).isin(values: _*), lit(1)))), lo, 1.0)

  /** Fraction of rows satisfying an arbitrary row predicate, in
    * [lo, hi] — the generic consistency check. */
  def predicateRatio(name: String, pred: Column,
                     lo: Double, hi: Double = 1.0): Check =
    Check(name, ratio(count(when(pred, lit(1)))), lo, hi)

  def minOf(c: String, lo: Double): Check =
    Check(s"min($c)", min(col(c)).cast("double"),
      lo, Double.PositiveInfinity)

  def maxOf(c: String, hi: Double): Check =
    Check(s"max($c)", max(col(c)).cast("double"),
      Double.NegativeInfinity, hi)

  def rowCountMin(n: Long): Check =
    Check("size", count(lit(1)).cast("double"),
      n.toDouble, Double.PositiveInfinity)

  /** Evaluate the suite in a single aggregate pass. Returns one row
    * per constraint: (name, metric, passed).
    */
  def suite(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "empty constraint suite")
    val agg = df.agg(checks.head.metric.as("m0"),
      checks.tail.zipWithIndex.map { case (c, i) =>
        c.metric.as(s"m${i + 1}") }: _*)
    // metrics are attributes of the agg output here, so the struct
    // refs below are cheap attribute reads, not re-computed
    // expressions duplicated per branch (the CollapseProject lesson)
    val rows = checks.zipWithIndex.map { case (c, i) =>
      struct(lit(c.name).as("name"), col(s"m$i").as("metric"),
        (col(s"m$i") >= c.lo && col(s"m$i") <= c.hi).as("passed"))
    }
    agg.select(inline(array(rows: _*)))
  }

  /** One ROW-LEVEL constraint: a named boolean predicate, `true` = the
    * row passes. A NULL predicate result (e.g. `col >= 5` on a null)
    * counts as a VIOLATION — a quality gate must fail closed.
    */
  final case class RowCheck(name: String, pred: Column)

  def rowNotNull(c: String): RowCheck =
    RowCheck(s"not_null($c)", col(c).isNotNull)

  def rowMatches(c: String, regex: String): RowCheck =
    RowCheck(s"pattern($c)", col(c).rlike(regex))

  def rowInSet(c: String, values: Seq[String]): RowCheck =
    RowCheck(s"in_set($c)", col(c).isin(values: _*))

  def rowMin(c: String, lo: Long): RowCheck =
    RowCheck(s"min($c)", col(c) >= lo)

  def rowMax(c: String, hi: Long): RowCheck =
    RowCheck(s"max($c)", col(c) <= hi)

  def rowPredicate(name: String, pred: Column): RowCheck =
    RowCheck(name, pred)

  /** Tag every row with the names of the checks it violates
    * (`violations: array<string>`, empty = clean) plus the
    * `_quarantined` boolean. ONE narrow projection over the scan — no
    * shuffle, no second pass, codegen-friendly (a literal-name `when`
    * per check inside one `array_compact`). This is the 100-TB ingest
    * shape: write THIS frame `partitionBy("_quarantined")` and the
    * keep/quarantine split is a single job with the violation names
    * attached in-band — the [[graft.sources.Ndjson.readWithQuarantine]]
    * contract generalized from parse errors to arbitrary semantic
    * checks (bad rows are data, not logs).
    */
  def tagViolations(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    require(checks.nonEmpty, "empty row-check suite")
    require(checks.map(_.name).distinct.size == checks.size,
      "row-check names must be unique")
    df.withColumn("violations", array_compact(array(checks.map(c =>
        when(!coalesce(c.pred, lit(false)), lit(c.name))): _*)))
      .withColumn("_quarantined", size(col("violations")) > 0)
  }

  /** The two halves of [[tagViolations]] as separate frames, for
    * callers that route them to different sinks. Each half is a filter
    * over the (cheap) tagged projection; when both are consumed and
    * the source scan is expensive, prefer writing the tagged frame
    * partitioned by `_quarantined` instead (one pass, see
    * [[tagViolations]]).
    */
  final case class QuarantineSplit(keep: DataFrame, quarantine: DataFrame)

  def quarantineSplit(df: DataFrame, checks: Seq[RowCheck])
      : QuarantineSplit = {
    val t = tagViolations(df, checks)
    QuarantineSplit(
      keep = t.filter(!col("_quarantined"))
        .drop("violations", "_quarantined"),
      quarantine = t.filter(col("_quarantined")).drop("_quarantined"))
  }

  /** Per-slice ROBUST outlier flags on an integer column: the k-MAD
    * rule, |x − median| > k·MAD, with median and MAD as exact DISCRETE
    * percentiles (members of the data, the q24 max-accuracy recipe) —
    * so on an integer column the entire report is INTEGER arithmetic:
    * no mean, no variance, no IEEE op at all. That buys two things a
    * z-score can't give: 50% breakdown (the outliers themselves cannot
    * drag the fence, where mean/σ fences chase their own tail — the
    * reason robust statistics exist for dirty corpora) and bit-exact
    * replay under any partitioning.
    *
    * Two aggregate passes by construction (a median of deviations
    * needs the median first); each is one shuffle on the slice key
    * with sketch partials map-side, and both stat frames are
    * slice-cardinality-sized — broadcast back to the row stream, so
    * the corpus itself shuffles ZERO times (it is scanned three times;
    * at the scale where a re-scan outweighs the stat pass, persist the
    * (slice, value) projection first). Max-accuracy percentile_approx
    * buffers every distinct (value, count) per slice on the reducer —
    * exactness is affordable precisely because values are INTEGER
    * (bounded distinct set); for an unbounded-cardinality column,
    * lower the accuracy and accept an approximate fence (the same
    * sketch, the q24 knob). A zero-MAD slice (over
    * half the values identical) flags any deviation from the median —
    * the deterministic reading of k·MAD = 0, same convention as
    * [[graft.operators.EventOps.anomalyFlags]]'s zero-variance case.
    */
  def robustOutliers(df: DataFrame, sliceCol: String, valueCol: String,
                     k: Long = 5L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val exact = lit(Int.MaxValue)
    val med = df.groupBy(col(sliceCol))
      .agg(percentile_approx(col(valueCol), lit(0.5), exact).as("med"))
    val dev = df.join(broadcast(med), sliceCol)
      .withColumn("adev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(col(sliceCol))
      .agg(percentile_approx(col("adev"), lit(0.5), exact).as("mad"))
    dev.join(broadcast(mad), sliceCol)
      .withColumn("is_outlier", col("adev") > lit(k) * col("mad"))
      .drop("adev")
  }

  /** One foreign-key relation to verify: every non-null `fact(fkCol)`
    * must resolve in `dim(pkCol)`. Null FKs are a COMPLETENESS
    * concern, not a referential one — compose with [[completeness]]
    * when nulls matter. */
  final case class FkRelation(name: String, fact: DataFrame, fkCol: String,
                              dim: DataFrame, pkCol: String)

  /** Referential-integrity report: one row per relation —
    * (relation, n_rows, n_orphans, passed). Each relation costs one
    * job: the dim is collapsed to its DISTINCT key set (tiny relative
    * to any fact), broadcast, and LEFT-joined with a presence marker so
    * row count and orphan count come out of a single aggregate over
    * one pass of the fact — never two scans, never a fact-side
    * shuffle. `broadcastDim = false` drops the hint for dimensions
    * beyond broadcast size (the join then shuffles both sides on the
    * key — still one pass; at that size prefer a bloom pre-filter via
    * [[BloomJoin]] to bound the exchange).
    *
    * The production pattern this encodes: facts routinely land BEFORE
    * their dims (late-arriving dimensions), so RI must be a measured
    * metric with a threshold, not an assumed invariant — `passed`
    * here is the strict zero-orphans gate.
    */
  def referentialIntegrity(relations: Seq[FkRelation],
                           broadcastDim: Boolean = true): DataFrame = {
    require(relations.nonEmpty, "empty relation list")
    relations.map { r =>
      val keys0 = r.dim.select(col(r.pkCol).as(r.fkCol)).distinct()
        .withColumn("_present", lit(true))
      val keys = if (broadcastDim) broadcast(keys0) else keys0
      r.fact.select(col(r.fkCol))
        .join(keys, Seq(r.fkCol), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col(r.fkCol).isNotNull && col("_present").isNull,
            lit(1))).as("n_orphans"))
        .select(lit(r.name).as("relation"), col("n_rows"),
          col("n_orphans"), (col("n_orphans") === 0L).as("passed"))
    }.reduce(_ unionAll _)
  }

  /** True per-column uniqueness report — the metric [[distinctness]]
    * deliberately is NOT (advisor r9): uniqueness counts values
    * occurring EXACTLY once (a natural-key health check: a column can
    * be 99% distinct while almost nothing is unique), distinctness
    * counts distinct values; both ratios are over non-null values.
    * Needs per-value counts, so it cannot ride the single-aggregate
    * [[suite]] pass — instead ALL requested columns melt into one
    * (column, value) frame and share ONE scan + one keyed shuffle with
    * map-side partial counts (vs one job per column; the second
    * aggregate is column-cardinality-sized). Values compare under
    * their string canonicalization — exact for the integer/string
    * columns this is for; don't point it at floats.
    */
  def uniquenessReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns requested")
    val melted = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column"),
          col(c).cast("string").as("v"))): _*)).as("kv"))
      .select(col("kv.column").as("column"), col("kv.v").as("v"))
      .filter(col("v").isNotNull)
    melted.groupBy("column", "v").agg(count(lit(1)).as("_cnt"))
      .groupBy("column").agg(
        sum(col("_cnt")).as("n_nonnull"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("_cnt") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("uniqueness",
        col("n_unique").cast("double") / col("n_nonnull"))
      .withColumn("distinctness",
        col("n_distinct").cast("double") / col("n_nonnull"))
  }

  /** Cross-snapshot profile drift: [[graft.operators.TransformOps
    * .columnProfile]] run on two drops of the same table, joined per
    * column, with drift verdicts — the "did the new crawl silently
    * change shape" gate a pipeline runs before retraining on a fresh
    * snapshot (schema-stable drift: null-rate shifts, cardinality
    * jumps, range changes — the failures a row-level suite like dq1
    * can't see because every individual row is valid).
    *
    * Each profile is ONE scan of its snapshot (columnProfile's single
    * multi-distinct agg); the join is cols-sized. Verdicts are
    * integer-cross-multiplied (the gopherRules discipline): null-rate
    * drift compares |nulls_new·rows_old − nulls_old·rows_new|·1000
    * against maxPermille·rows_old·rows_new — no rate is ever divided,
    * so the report replays bit-exactly. Overflow bound: that triple
    * product needs rows ≤ ~10⁹ per snapshot; beyond, pre-aggregate
    * rates to a coarser integer scale first. Distinct drift is
    * relative to the OLD cardinality; range drift is a null-safe
    * min/max change (strings compare bytewise in both engines).
    * Empty-old edge: the cross-multiplied rate test is vacuous at
    * rows_old = 0 (both sides zero), but dist_old = 0 trips the
    * distinct test on ANY new value and the null-safe range test trips
    * on null→value — an appeared-from-nothing column still reads as
    * drifted.
    */
  def profileDrift(oldDf: DataFrame, newDf: DataFrame, cols: Seq[String],
                   maxPermille: Long = 50L): DataFrame = {
    require(maxPermille > 0, s"maxPermille must be positive: $maxPermille")
    def side(df: DataFrame, tag: String): DataFrame =
      TransformOps.columnProfile(df, cols).select(col("column"),
        col("n_rows").as(s"rows_$tag"), col("n_nulls").as(s"nulls_$tag"),
        col("n_distinct").as(s"dist_$tag"),
        col("min_value").as(s"min_$tag"), col("max_value").as(s"max_$tag"))
    side(oldDf, "old").join(side(newDf, "new"), "column")
      .withColumn("null_rate_drift",
        abs(col("nulls_new") * col("rows_old") -
          col("nulls_old") * col("rows_new")) * 1000L >
          lit(maxPermille) * col("rows_old") * col("rows_new"))
      .withColumn("distinct_drift",
        abs(col("dist_new") - col("dist_old")) * 1000L >
          lit(maxPermille) * col("dist_old"))
      .withColumn("range_drift",
        !(col("min_new") <=> col("min_old")) ||
          !(col("max_new") <=> col("max_old")))
      .withColumn("drifted", col("null_rate_drift") ||
        col("distinct_drift") || col("range_drift"))
  }

  /** Functional-dependency violation report: for each candidate rule
    * `determinant → dependent`, how many determinant groups exist, how
    * many of them carry MORE than one dependent value (the rule's
    * violations), how many rows sit inside violating groups, and the
    * worst group's dependent cardinality — the schema-rule discovery
    * report (does source determine language? does id determine shard?)
    * that uniqueness (dq7) can't express because the rule relates TWO
    * columns. One aggregation per candidate pair (each needs its own
    * grouping key; exact countDistinct is the point — an approximate
    * count can't say "exactly one"), results unioned into one report
    * frame. Null semantics: a NULL determinant forms its own group
    * (the rows exist and must satisfy the rule); NULL dependents are
    * ignored by countDistinct, so an all-null dependent group counts
    * distinct 0 and never violates — the SQL-standard reading.
    * Scale: each pass is a map-side-partial aggregate on the
    * determinant; the report is |pairs| rows.
    */
  def fdReport(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "empty FD candidate list")
    pairs.map { case (det, dep) =>
      df.groupBy(col(det))
        .agg(countDistinct(col(dep)).as("_n_dep"),
          count(lit(1)).as("_n_rows"))
        .agg(count(lit(1)).as("n_groups"),
          count(when(col("_n_dep") > 1, lit(1))).as("violating_groups"),
          sum(when(col("_n_dep") > 1, col("_n_rows")).otherwise(0L))
            .as("violating_rows"),
          max(col("_n_dep")).as("max_distinct_dep"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_groups"), col("violating_groups"),
          col("violating_rows"), col("max_distinct_dep"),
          (col("violating_groups") === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** k-anonymity census over a quasi-identifier column set — the
    * governance gate a training corpus with person-adjacent attributes
    * must pass before release: any quasi-identifier combination shared
    * by FEWER than k rows re-identifies its members. Reports group
    * counts, the violating census, and the rows at risk — exact
    * integers off ONE map-side-combined aggregate on the quasi key
    * (the group frame is |distinct combinations| rows, never the
    * corpus). Suppression/generalization is the caller's next step;
    * this is the measurement.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "empty quasi-identifier list")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(count(lit(1)).as("n_groups"),
        count(when(col("_n") < k, lit(1))).as("violating_groups"),
        coalesce(sum(when(col("_n") < k, col("_n"))), lit(0L))
          .as("rows_at_risk"),
        min(col("_n")).as("min_group"),
        max(col("_n")).as("max_group"))
      .select(lit(k).as("k"), col("n_groups"), col("violating_groups"),
        col("rows_at_risk"), col("min_group"), col("max_group"),
        (col("violating_groups") === 0).as("anonymous"))
  }

  /** End-to-end RECORD-LEVEL provenance audit (dq15) — the lineage
    * check the shard manifests (tx32) and snapshot diffs (tx42) leave
    * open, and the third leg of the takedown discipline (mm28/ss22
    * delete semantics): every placed record must trace back to a live,
    * transform-approved source record, every approved record must be
    * placed exactly once, and the manifest's per-shard claims must
    * match what actually landed. Inputs: the SOURCE id universe, the
    * transform's KEPT id set, the TOMBSTONED (takedown) id set, the
    * PLACEMENTS (id, shard) that were actually written, and the
    * MANIFEST's (shard, n_docs) claims.
    *
    * Returns one row per check, `(check_name, n_bad)` — zero
    * everywhere ⟺ the chain is intact:
    *  - `ghost_placements`: placement rows whose id exists in no
    *    source record (fabricated / join-bug output)
    *  - `tombstone_leaks`: placement rows carrying a tombstoned id —
    *    the takedown-compliance violation
    *  - `unplanned_placements`: placement rows whose id is in the
    *    source but NOT transform-approved (dropped records that
    *    shipped anyway)
    *  - `lost_records`: approved, non-tombstoned ids with no
    *    placement at all
    *  - `duplicate_placement_ids`: ids placed more than once
    *  - `manifest_drift_shards`: shards whose claimed n_docs ≠ the
    *    actual placement count (either side missing counts)
    *
    * Scale shape: ONE grouped pass answers the five id checks. The four
    * id inputs are tagged and unioned, grouped once by id into
    * membership flags (`s` source, `k` kept, `t` tombstoned) and a
    * placement count `p`, and one global aggregate sums them:
    * ghost = Σp where ¬s, leak = Σp where t, unplanned = Σp where
    * s ∧ ¬k, lost = #ids where k ∧ ¬t ∧ p = 0, dup = #ids where p > 1.
    * So the id inputs share one id-keyed exchange, however many checks
    * read them. A null id matches
    * nothing across inputs, as in a join: it groups per input (the
    * input tag joins the key only when the id is null), so a null-id
    * placement is a ghost, a null kept id is lost, and a null-id
    * placement group of two or more rows is a dup. Drift is the one
    * join: the manifest full-outer-joined with per-shard placement
    * counts on the shard (a duplicated manifest shard counts once per
    * row). At 100 TB the placements and source scans dominate: the
    * source shuffles once, the placements twice (on the id, and on the
    * shard for drift), each map-side combined.
    */
  def provenanceAudit(source: DataFrame, kept: DataFrame,
                      tombstones: DataFrame, placements: DataFrame,
                      manifest: DataFrame, idCol: String): DataFrame = {
    val tag = col("_tag")
    def tagged(df: DataFrame, t: Int): DataFrame =
      df.select(col(idCol), lit(t).as("_tag"))
    val perId = tagged(source, 0).unionByName(tagged(kept, 1))
      .unionByName(tagged(tombstones, 2)).unionByName(tagged(placements, 3))
      .groupBy(col(idCol), when(col(idCol).isNull, tag).as("_null_tag"))
      .agg(max(tag === 0).as("s"), max(tag === 1).as("k"),
        max(tag === 2).as("t"), count(when(tag === 3, lit(1))).as("p"))
    val (s, k, t, p) = (col("s"), col("k"), col("t"), col("p"))
    val idChecks = Seq(
      "ghost_placements" -> sum(when(!s, p)),
      "tombstone_leaks" -> sum(when(t, p)),
      "unplanned_placements" -> sum(when(s && !k, p)),
      "lost_records" -> count(when(k && !t && p === 0, lit(1))),
      "duplicate_placement_ids" -> count(when(p > 1, lit(1))))
    val sums = idChecks.map { case (n, c) => c.as(n) }
    val fold = perId.agg(sums.head, sums.tail: _*)
      .select(explode(array(idChecks.map { case (n, _) =>
        struct(lit(n).as("check_name"),
          coalesce(col(n), lit(0L)).cast("long").as("n_bad"))
      }: _*)).as("_c"))
      .select("_c.*")
    val actual = placements.groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("_actual"))
    val drift = manifest
      .select(col("shard"), col("n_docs").cast("long").as("_claimed"))
      .join(actual, Seq("shard"), "full_outer")
      .filter(coalesce(col("_claimed"), lit(0L)) =!=
        coalesce(col("_actual"), lit(0L)))
      .agg(count(lit(1)).cast("long").as("n_bad"))
      .select(lit("manifest_drift_shards").as("check_name"), col("n_bad"))
    fold.unionByName(drift)
  }

  /** Per-slice quality report: the same exact-integer metrics grouped
    * by a slice key (source, shard, date...) — how a bad shard
    * surfaces before it poisons a training mix. One shuffle on the
    * slice key, partial-aggregated map-side.
    */
  def sliceReport(df: DataFrame, sliceCol: String,
                  textCol: String, lenCol: String,
                  minRows: Long, minLen: Long): DataFrame =
    df.groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n"),
        (count(col(textCol)).cast("double") / count(lit(1)))
          .as("completeness"),
        min(col(lenCol)).as("min_len"),
        max(col(lenCol)).as("max_len"),
        (sum(col(lenCol)).cast("double") / count(lit(1)))
          .as("avg_len"))
      .withColumn("passed",
        col("n") >= minRows && col("min_len") >= minLen)
}
