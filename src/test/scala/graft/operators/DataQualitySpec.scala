package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.DataQualityOps._

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private def dirty = Seq(
    (1L, Some("aa"), 10L),
    (2L, None, 20L),
    (3L, Some("bb"), 30L),
    (3L, Some("zz"), 40L) // duplicate id, pattern-violating value
  ).toDF("id", "tag", "len")

  test("suite computes exact metrics and both passed branches") {
    val out = suite(dirty, Seq(
      rowCountMin(1),
      completeness("tag", 0.9),           // 0.75 -> fail
      distinctness("id", 1.0),              // 0.75 -> fail
      matchRatio("tag", "^[a-b]+$", 0.5), // 2/4 matches -> pass at 0.5
      minOf("len", 5.0),                  // pass
      maxOf("len", 35.0),                 // 40 -> fail
      predicateRatio("len_mod10", col("len") % 10 === 0, 1.0)
    )).as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("size") == ((4.0, true)))
    assert(out("completeness(tag)") == ((0.75, false)))
    assert(out("distinctness(id)") == ((0.75, false)))
    assert(out("pattern(tag)") == ((0.5, true)))
    assert(out("min(len)") == ((10.0, true)))
    assert(out("max(len)") == ((40.0, false)))
    assert(out("len_mod10") == ((1.0, true)))
  }

  test("the whole suite is one pass: a single leaf scan in the plan") {
    val plan = suite(dirty, Seq(
      rowCountMin(1), completeness("tag", 0.9), distinctness("id", 1.0),
      matchRatio("tag", "^[a-b]+$", 0.5), minOf("len", 5.0)
    )).queryExecution.executedPlan
    val leaves = plan.collectLeaves()
    assert(leaves.length == 1,
      s"constraint suite must not multiply scans, got:\n$plan")
  }

  test("sliceReport flags the bad slice only") {
    val df = Seq(
      ("s1", Some("x"), 100L), ("s1", Some("y"), 120L),
      ("s2", Some("x"), 10L), ("s2", None, 200L)
    ).toDF("src", "text", "len")
    val rep = sliceReport(df, "src", "text", "len",
        minRows = 2L, minLen = 50L)
      .as[(String, Long, Double, Long, Long, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(rep("s1") == (("s1", 2L, 1.0, 100L, 120L, 110.0, true)))
    assert(rep("s2") == (("s2", 2L, 0.5, 10L, 200L, 105.0, false)))
  }

  test("empty suite is rejected loudly") {
    intercept[IllegalArgumentException] {
      suite(dirty, Seq.empty)
    }
  }

  test("quarantineSplit partitions the input; violation names attach; nulls fail closed") {
    val checks = Seq(
      rowNotNull("tag"),                  // row 2 (null tag)
      rowMatches("tag", "^[a-b]+$"),      // rows 2 (null -> closed) and 4
      rowMax("len", 35L),                 // row 4
      rowMin("len", 5L))                  // nobody — zero-violation path
    val split = quarantineSplit(dirty, checks)
    val keep = split.keep.as[(Long, Option[String], Long)].collect().toSet
    assert(keep == Set((1L, Some("aa"), 10L), (3L, Some("bb"), 30L)))
    // keep schema carries no tagging residue
    assert(split.keep.columns.toSeq == Seq("id", "tag", "len"))
    val q = split.quarantine
      .select(col("id"), col("violations"))
      .as[(Long, Seq[String])].collect().toMap
    assert(q == Map(
      2L -> Seq("not_null(tag)", "pattern(tag)"), // null pred = violation
      3L -> Seq("pattern(tag)", "max(len)")))     // the duplicate id 3 row
    // zero-violation check appears nowhere
    assert(!q.values.flatten.toSet.contains("min(len)"))
    // partition: keep + quarantine = input, disjoint by construction
    assert(split.keep.count() + split.quarantine.count() == dirty.count())
  }

  test("tagViolations is one narrow projection (single leaf, no shuffle)") {
    val plan = tagViolations(dirty,
      Seq(rowNotNull("tag"), rowMax("len", 35L))).queryExecution.executedPlan
    assert(plan.collectLeaves().length == 1)
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"tagging must not shuffle:\n$plan")
  }

  test("robustOutliers: discrete median/MAD fences per slice, integer-exact") {
    // slice a (odd count): med=3, adevs {2,1,0,1,97} -> mad=1; k=2
    // fence = 2, so ONLY the 100 flags (adev 97 > 2; the 1s tie at 2)
    // slice b (even count): {1,2,3,1000} -> discrete med = lower-mid 2
    // (pins the even-n convention against DuckDB's quantile_disc);
    // adevs {1,0,1,998} -> mad = 1 (sorted {0,1,1,998}, lower-mid)
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 100L),
      ("b", 1L), ("b", 2L), ("b", 3L), ("b", 1000L))
      .toDF("slice", "v")
    val out = robustOutliers(df, "slice", "v", k = 2L)
      .select("slice", "v", "med", "mad", "is_outlier")
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      ("a", 1L, 3L, 1L, false), ("a", 2L, 3L, 1L, false),
      ("a", 3L, 3L, 1L, false), ("a", 4L, 3L, 1L, false),
      ("a", 100L, 3L, 1L, true),
      ("b", 1L, 2L, 1L, false), ("b", 2L, 2L, 1L, false),
      ("b", 3L, 2L, 1L, false), ("b", 1000L, 2L, 1L, true)))
    // zero-MAD slice: majority value identical — any deviation flags
    val z = Seq(("c", 5L), ("c", 5L), ("c", 5L), ("c", 6L)).toDF("slice", "v")
    val zo = robustOutliers(z, "slice", "v", k = 2L)
      .filter(col("is_outlier")).select("v").as[Long].collect().toSeq
    assert(zo == Seq(6L))
  }

  test("profileDrift: per-column verdicts, identical snapshots are clean") {
    val oldDf = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, Some("c"), 30L), (4L, Some("d"), 40L)).toDF("id", "tag", "v")
    // new drop: one row gone, tag nulled on another (25% null rate),
    // v range shrunk
    val newDf = Seq((1L, Some("a"), 10L), (2L, None: Option[String], 20L),
      (3L, Some("c"), 30L)).toDF("id", "tag", "v")
    val out = DataQualityOps.profileDrift(oldDf, newDf,
        Seq("id", "tag", "v"), maxPermille = 100L)
      .select("column", "null_rate_drift", "distinct_drift",
        "range_drift", "drifted")
      .as[(String, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // id: dist 4→3 = 25% > 10%; max 4→3
    assert(out("id") == ((false, true, true)))
    // tag: null rate 0→1/3 > 10%; dist 4→2 = 50%; max 'd'→'c'
    assert(out("tag") == ((true, true, true)))
    // v: no nulls; dist 4→3; max 40→30
    assert(out("v") == ((false, true, true)))
    // identical snapshots: every verdict false, including drifted
    val clean = DataQualityOps.profileDrift(oldDf, oldDf,
        Seq("id", "tag", "v"), maxPermille = 100L)
      .filter(col("drifted")).count()
    assert(clean == 0L)
  }

  test("duplicate row-check names are rejected") {
    intercept[IllegalArgumentException] {
      tagViolations(dirty, Seq(rowMin("len", 1L), rowMin("len", 2L)))
    }
  }

  test("fdReport: violated and holding rules, null determinant groups, null dependents ignored") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Some("x")), (2L, Some("a"), Some("x")), // a holds
      (3L, Some("b"), Some("y")), (4L, Some("b"), Some("z")), // b violates
      (5L, None, Some("w")),              // NULL det = its own group
      (6L, Some("c"), None), (7L, Some("c"), None) // all-null dep: 0 distinct
    ).toDF("id", "det", "dep")
    val got = DataQualityOps.fdReport(df, Seq("det" -> "dep", "id" -> "dep"))
      .as[(String, String, Long, Long, Long, Long, Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // det→dep: groups a, b, NULL, c = 4; only b violates (2 rows in it)
    assert(got(("det", "dep")) ==
      (("det", "dep", 4L, 1L, 2L, 2L, false)))
    // id→dep: one group per row, nothing violates — but the all-null
    // dep groups count distinct 0, so max_distinct_dep is 1 not 0 only
    // via the non-null groups
    assert(got(("id", "dep")) == (("id", "dep", 7L, 0L, 0L, 1L, true)))
  }

  test("uniquenessReport: uniqueness vs distinctness diverge; nulls excluded") {
    // k: perfect key. c: 3 distinct / 1 unique over 6 non-null values
    // (distinctness 0.5 while uniqueness is 0.167 — the divergence the
    // metric exists for). One null drops from every denominator.
    val df = Seq(
      (1L, Some("a")), (2L, Some("a")), (3L, Some("b")), (4L, Some("b")),
      (5L, Some("b")), (6L, Some("c")), (7L, None)
    ).toDF("k", "c")
    val out = uniquenessReport(df, Seq("k", "c"))
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("k") == (("k", 7L, 7L, 7L, 1.0, 1.0)))
    assert(out("c") == (("c", 6L, 3L, 1L, 1.0 / 6, 3.0 / 6)))
  }

  test("referentialIntegrity: orphan counts per relation, nulls exempt") {
    val fact = Seq((1L, Option(10L)), (2L, Option(20L)), (3L, Option(99L)),
      (4L, None)).toDF("id", "fk")
    val dim = Seq(10L, 20L, 30L).toDF("pk")
    val out = referentialIntegrity(Seq(
      FkRelation("ok", dim.select(col("pk").as("fk")), "fk", dim, "pk"),
      FkRelation("partial", fact, "fk", dim, "pk")))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("ok") == ((3L, 0L, true)))
    // fk=99 is the only orphan; the null fk row counts in n_rows but
    // never as an orphan
    assert(out("partial") == ((4L, 1L, false)))
  }

  test("provenanceAudit: intact chain is all-zeros; each violation class counts exactly") {
    import spark.implicits._
    val source = (1L to 20L).map(i => (i, s"t$i")).toDF("doc_id", "t")
    val kept = source.filter($"doc_id" % 4 =!= 0) // 15 ids
    val tombs = Seq(3L, 6L).toDF("doc_id")
    val clean = kept.join(tombs, Seq("doc_id"), "left_anti")
      .select($"doc_id", ($"doc_id" % 5).as("shard")) // 13 placements
    val manifest = clean.groupBy($"shard").agg(count(lit(1)).as("n_docs"))
    def audit(p: org.apache.spark.sql.DataFrame,
              m: org.apache.spark.sql.DataFrame = manifest) =
      provenanceAudit(source, kept, tombs, p, m, "doc_id")
        .as[(String, Long)].collect().toMap
    // intact chain: every check zero
    assert(audit(clean).values.forall(_ == 0L), audit(clean).toString)
    // one violation of each class, counted exactly once
    val corrupted = clean
      .filter($"doc_id" =!= 7L) // lost: 7 approved, never placed
      .unionByName(Seq((99L, 0L)).toDF("doc_id", "shard")) // ghost
      .unionByName(Seq((3L, 3L)).toDF("doc_id", "shard")) // leak
      .unionByName(Seq((4L, 4L)).toDF("doc_id", "shard")) // unplanned
      .unionByName(Seq((2L, 2L)).toDF("doc_id", "shard")) // dup: 2 is
        // already placed by `clean`, this second row doubles it
    val got = audit(corrupted)
    assert(got("ghost_placements") == 1L, got.toString)
    assert(got("tombstone_leaks") == 1L)
    assert(got("unplanned_placements") == 1L)
    assert(got("lost_records") == 1L)
    assert(got("duplicate_placement_ids") == 1L)
    assert(got("manifest_drift_shards") > 0L)
    // manifest drift both ways: a claimed-but-empty shard and an
    // unclaimed-but-placed shard each count
    val m2 = manifest.unionByName(Seq((7L, 1L)).toDF("shard", "n_docs"))
    assert(audit(clean, m2)("manifest_drift_shards") == 1L)
  }

  test("provenanceAudit: the grouped pass matches the join form on random inputs with nulls and duplicates") {
    val rnd = new scala.util.Random(15)
    // ids 0..24 with ~1 in 8 null; drawn with replacement, so every
    // input repeats ids
    def id(): Option[Long] =
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(25).toLong)
    def ids(n: Int) = Seq.fill(n)(id()).toDF("doc_id")
    for (round <- 0 until 8) {
      val source = ids(20 + rnd.nextInt(10)).withColumn("t", lit("x"))
      val kept = ids(5 + rnd.nextInt(15))
      val tombs = ids(rnd.nextInt(6))
      // shards 0..5 in placements, 2..7 claimed: 6 and 7 appear only in
      // the manifest, 0 and 1 only in the placements
      val placements = Seq.fill(rnd.nextInt(30))(
          (id(), Some(rnd.nextInt(6).toLong)))
        .toDF("doc_id", "shard")
      val manifest = (Seq.fill(3 + rnd.nextInt(5))(
          (2L + rnd.nextInt(6),
            if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(5).toLong)))
        :+ ((2L, Option.empty[Long]))) // a duplicated shard, null n_docs
        .toDF("shard", "n_docs")
      type DF = org.apache.spark.sql.DataFrame
      def run(f: (DF, DF, DF, DF, DF, String) => DF) =
        f(source, kept, tombs, placements, manifest, "doc_id")
          .as[(String, Long)].collect().toSeq.sorted
      val fold = run(provenanceAudit)
      val joins = run(ProvenanceJoinOracle.provenanceAudit)
      assert(fold.size == 6, s"round $round: $fold")
      assert(fold == joins, s"round $round")
    }
    // null ids keep join semantics: a null-id placement is a ghost and,
    // two of them, a dup; a null kept id is lost
    val nul = Seq(Option.empty[Long], None).toDF("doc_id")
    val none = Seq.empty[Option[Long]].toDF("doc_id")
    val got = provenanceAudit(Seq(Option(1L)).toDF("doc_id"),
        nul, none, nul.withColumn("shard", lit(0L)),
        Seq((0L, 2L)).toDF("shard", "n_docs"), "doc_id")
      .as[(String, Long)].collect().toMap
    assert(got == Map("ghost_placements" -> 2L, "tombstone_leaks" -> 0L,
      "unplanned_placements" -> 0L, "lost_records" -> 1L,
      "duplicate_placement_ids" -> 1L, "manifest_drift_shards" -> 0L),
      got.toString)
  }

  test("provenanceAudit: drift matches the full outer join on one-sided and null shards") {
    val source = (1L to 6L).toDF("doc_id")
    // shard 1 matches its claim, 2 is over-claimed, 3 only the
    // manifest has (claims 0 and 2), 4 only the placements have, and
    // both sides carry null shards
    val placements = Seq((Option(1L), Option(1L)), (Some(2L), Some(2L)),
      (Some(3L), Some(2L)), (Some(4L), Some(4L)), (Some(5L), None),
      (Some(6L), None)).toDF("doc_id", "shard")
    val manifest = Seq((Option(1L), Option(1L)), (Some(2L), Some(5L)),
      (Some(3L), Some(0L)), (Some(3L), Some(2L)), (None, Some(2L)),
      (None, Some(0L)), (None, None)).toDF("shard", "n_docs")
    type DF = org.apache.spark.sql.DataFrame
    def drift(f: (DF, DF, DF, DF, DF, String) => DF, p: DF, m: DF) =
      f(source, source, source.filter(lit(false)), p, m, "doc_id")
        .as[(String, Long)].collect().toMap.apply("manifest_drift_shards")
    // 2 (over-claimed) + 3's claim of 2 + 4 + the null-shard placements
    // + the null-shard claim of 2
    assert(drift(provenanceAudit, placements, manifest) == 5L)
    val cases = Seq(
      "as built" -> (placements, manifest),
      "manifest only" -> (placements.filter(lit(false)), manifest),
      "placements only" -> (placements, manifest.filter(lit(false))),
      "null shards only" -> (placements.filter($"shard".isNull),
        manifest.filter($"shard".isNull)),
      "both empty" -> (placements.filter(lit(false)),
        manifest.filter(lit(false))))
    for ((what, (p, m)) <- cases)
      assert(drift(provenanceAudit, p, m) ==
        drift(ProvenanceJoinOracle.provenanceAudit, p, m), what)
  }

  test("provenanceAudit: the five id checks read placements through one id-keyed exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val source = (1L to 40L).toDF("doc_id")
    val kept = source.filter($"doc_id" % 4 =!= 0)
    val tombs = Seq(3L, 6L).toDF("doc_id")
    val placements = kept.select($"doc_id", ($"doc_id" % 5).as("shard"))
    val manifest = placements.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"))
    val df = provenanceAudit(source, kept, tombs, placements, manifest,
      "doc_id")
    df.collect() // materialize so the adaptive plan is final
    // walk AQE wrappers and materialized query stages (leaves to a
    // plain collect); a reused exchange is a leaf, so it counts once
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val idKeyed = nodes(df.queryExecution.executedPlan).collect {
      case x: ShuffleExchangeLike => x.outputPartitioning
    }.collect {
      case h: HashPartitioning
          if h.expressions.exists(_.references.exists(_.name == "doc_id")) =>
        h
    }
    assert(idKeyed.size == 1,
      s"${idKeyed.size} id-keyed exchanges:\n${df.queryExecution.executedPlan}")
  }

  test("referentialIntegrity: the dim marker side broadcasts") {
    val fact = Seq((1L, 10L)).toDF("id", "fk")
    val dim = Seq(10L).toDF("pk")
    val df = referentialIntegrity(Seq(FkRelation("r", fact, "fk", dim, "pk")))
    df.collect()
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }
}
