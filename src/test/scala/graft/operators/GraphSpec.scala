package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** GraphOps invariants: fixed-point PageRank's bit-determinism under
  * re-partitioning (the property float ranks cannot give), mass
  * accounting, the k-core degree invariant and convergence honesty
  * (the oracle's fixed-round unroll must not be silently load-bearing),
  * LPA determinism, and triangle counts against a hand graph.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // two clique-ish communities bridged by one edge, plus a pendant
  private def handEdges = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), // K4 minus 1-4
    (4L, 5L),                                         // bridge
    (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L), (6L, 8L), // second block
    (8L, 9L)                                          // pendant
  ).toDF("a", "b")

  test("triangleCounts matches hand enumeration") {
    // triangles: (1,2,3), (2,3,4), (5,6,7), (6,7,8)
    val got = GraphOps.triangleCounts(handEdges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L,
      5L -> 1L, 6L -> 2L, 7L -> 2L, 8L -> 1L))
  }

  test("clusteringCoefficient: hand values, degree<2 zero, rational exactness") {
    // triangle (1,2,3) + pendant (3,4): deg 1=2,2=2,3=3,4=1
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.clusteringCoefficient(e)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((1L, 2L, 1.0)))
    assert(got(2L) == ((1L, 2L, 1.0)))
    assert(got(3L) == ((1L, 3L, 1.0 / 3)))   // exactly the IEEE quotient
    assert(got(4L) == ((0L, 1L, 0.0)))
  }

  test("kcore: every survivor keeps induced degree >= k; pendant and bridge peel") {
    val core = GraphOps.kcore(handEdges, k = 2, maxRounds = 8)
      .as[Long].collect().toSet
    // 9 peels (degree 1), then nothing else: every other node keeps
    // degree >= 2 inside the 2-core
    assert(core == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    val e = GraphOps.undirected(handEdges)
      .as[(Long, Long)].collect().filter(p => core(p._1) && core(p._2))
    val deg = e.groupBy(_._1).view.mapValues(_.length)
    assert(deg.values.forall(_ >= 2))
    // k=3: the bridge and pendant go, both triangles-blocks survive
    val core3 = GraphOps.kcore(handEdges, k = 3, maxRounds = 8)
      .as[Long].collect().toSet
    assert(core3.isEmpty || core3.forall(Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)))
  }

  test("bfsDistances: hand levels, multi-seed min, early stop, absent unreachable") {
    // from node 1 on the hand graph: block 1 at hops 1-2, the bridge
    // puts node 5 at 3, second block at 4-5, pendant 9 at 6
    val model = Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3,
      6L -> 4, 7L -> 4, 8L -> 5, 9L -> 6)
    val seeds1 = Seq(1L).toDF("id")
    val full = GraphOps.bfsDistances(handEdges, seeds1, maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(full == model, s"$full")
    // the hop cap truncates: nodes past it are ABSENT, not capped
    val capped = GraphOps.bfsDistances(handEdges, seeds1, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(capped == model.filter(_._2 <= 3), s"$capped")
    // multi-seed: every node settles at its MIN distance over seeds
    val multi = GraphOps.bfsDistances(handEdges,
        Seq(1L, 9L).toDF("id"), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    val model2 = model.map { case (n, d1) =>
      n -> math.min(d1, Map(9L -> 0, 8L -> 1, 6L -> 2, 7L -> 2,
        5L -> 3, 4L -> 4, 2L -> 5, 3L -> 5, 1L -> 6)(n))
    }
    assert(multi == model2, s"$multi")
    // a seed disconnected from everything reports itself at 0 only;
    // unreachable graph nodes never appear
    val iso = GraphOps.bfsDistances(handEdges,
        Seq(42L).toDF("id"), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(iso == Map(42L -> 0), s"$iso")
  }

  test("gr3's peel converges inside the oracle's fixed 8 rounds at gated scales") {
    // the lane is correct either way (converged => extra unrolled
    // peels are no-ops; unconverged => both sides do exactly 8), but
    // the DESIGN claim is that 8 is a convergence bound, not a cap
    // doing silent work — assert it on the gated inputs
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val knn = SimilarityOps.knnGraph(
        graft.Tables.embeddings(spark, sf), k = 8, bits = 4,
        kernel = graft.functions.CosineF32.cosineF32Native(_, _))
        .select(col("a"), col("b"))
      val edges = GraphOps.mutualEdges(knn)
      val r8 = GraphOps.kcore(edges, 4, 8).as[Long].collect().toSet
      val r12 = GraphOps.kcore(edges, 4, 12).as[Long].collect().toSet
      assert(r8 == r12, s"peel not converged within 8 rounds at $sf")
    }
  }

  test("kcore driver finish and forced-distributed peel agree on random graphs") {
    val rnd = new scala.util.Random(3)
    // the round-synchronous, capped peel the oracle unrolls
    def model(es: Seq[(Long, Long)], k: Int, rounds: Int): Set[Long] = {
      val und = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct
      var alive = und.map(_._1).toSet
      var r = 0
      var changed = true
      while (r < rounds && changed) {
        val deg = und.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).map { case (v, l) => v -> l.size }
        val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != alive; alive = next; r += 1
      }
      alive
    }
    def kc(es: Seq[(Long, Long)], k: Int, rounds: Int, bound: Long)
        : Set[Long] = {
      val (df, rel) = GraphOps.kcorePeelReleasable(es.toDF("a", "b"), k,
        rounds, bound)
      val got = df.as[Long].collect().toSet
      rel()
      got
    }
    // random edges (self-loops included), then some repeated and some
    // reversed: the undirected view must collapse them
    def random(n: Int, m: Int): Seq[(Long, Long)] = {
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      es ++ es.take(m / 5) ++ es.drop(m / 2).take(m / 5).map(_.swap) ++
        Seq((0L, 0L), (1L, 1L))
    }
    // K5 with a 4-node tail hanging off node 0: the 2-core peels one
    // tail node per round, so caps of 0, 1 and 2 cut it short
    val tailed = (for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)) ++
      Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val graphs = Seq(tailed, random(30, 50), random(40, 140))
    graphs.zipWithIndex.foreach { case (es, i) =>
      val maxDeg = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).distinct.groupBy(_._1)
        .values.map(_.size).max
      for ((k, rounds) <- Seq((1, 8), (2, 0), (2, 1), (2, 2), (3, 8),
          (maxDeg + 1, 8))) {
        val want = model(es, k, rounds)
        val local = kc(es, k, rounds, GraphOps.LocalFinishMaxEdges)
        val dist = kc(es, k, rounds, -1)
        assert(local == want, s"graph $i k=$k rounds=$rounds: driver finish")
        assert(dist == want, s"graph $i k=$k rounds=$rounds: distributed")
        if (k > maxDeg) assert(want.isEmpty)
      }
    }
    // the tail graph's caps really cut the peel before convergence
    assert(model(tailed, 2, 1) != model(tailed, 2, 2))
    assert(model(tailed, 2, 2) != model(tailed, 2, 8))
    val empty = Seq.empty[(Long, Long)]
    assert(kc(empty, 2, 8, GraphOps.LocalFinishMaxEdges).isEmpty)
    assert(kc(empty, 2, 8, -1).isEmpty)
  }

  test("fixed-point pagerank is bit-identical under different partitionings") {
    val knn = SimilarityOps.knnGraph(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001"), k = 5,
      bits = 4, kernel = graft.functions.CosineF32.cosineF32Native(_, _))
      .select(col("a"), col("b"))
    val a = GraphOps.pagerank(knn.repartition(7), iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toSet
    val b = GraphOps.pagerank(knn.repartition(2), iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("pagerank mass: conserved to micro-units without dangling, leaks with") {
    // close the cycle so every node has an out-edge: truncation is
    // then the ONLY loss and the total stays within micro-units of
    // SCALE (each node loses < outdeg units to `pr div outdeg` and
    // < 1 unit to the damped sum per iteration, plus N init units)
    val closed = handEdges.union(Seq((9L, 1L)).toDF("a", "b"))
    val pr = GraphOps.pagerank(closed, iters = 3)
    val n = pr.count()
    val total = pr.agg(sum("pr_fixed")).as[Long].head()
    assert(total <= GraphOps.PrScale)
    assert(total > GraphOps.PrScale - 1000L * n)
    // dangling variant (node 9 has no out-edge): its mass leaks each
    // iteration by documented design — total visibly below SCALE
    val dangling = GraphOps.pagerank(handEdges, iters = 3)
    val withDangling = dangling.agg(sum("pr_fixed")).as[Long].head()
    assert(withDangling < GraphOps.PrScale * 85L / 100L)
    // and in THAT graph node 1 has no in-edges: it sits exactly at
    // the damped base after any iteration
    val prMap = dangling.select("id", "pr_fixed").as[(Long, Long)]
      .collect().toMap
    val init = GraphOps.PrScale / n
    val base = 15L * init / 100L
    assert(prMap(1L) == base)
  }

  test("label propagation: deterministic, communities collapse to few labels") {
    val edges = handEdges
    val l1 = GraphOps.labelPropagation(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    val l2 = GraphOps.labelPropagation(
      GraphOps.undirected(edges).repartition(5), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(l1 == l2)
    // synchronous LPA can OSCILLATE on near-bipartite blocks (the K4
    // minus an edge here flip-flops {1,4} vs {2,3}) — that is a known
    // property of the synchronous schedule, and the fixed iteration
    // count is what keeps it deterministic anyway. The invariant is
    // locality: labels never escape a connected component.
    val compA = Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L) // all connected
    assert(l1.values.toSet.subsetOf(compA))
    // a clean triangle DOES collapse to its min label in one round
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val lt = GraphOps.labelPropagation(tri, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(lt.values.toSet == Set(10L))
  }

  test("personalized pagerank: mass stays in the seed neighborhood") {
    // path 1 -> 2 -> 3 plus far component 10 <-> 11; seed = {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 10L))
      .toDF("a", "b")
    val seeds = Seq(1L).toDF("id")
    val pr = GraphOps.personalizedPagerank(edges, seeds, iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toMap
    val init = GraphOps.PrScale // one seed -> all mass on it
    val base = 15L * init / 100L
    // seed holds the teleport base plus its returning cycle mass
    assert(pr(1L) >= base)
    // downstream of the seed receives damped mass
    assert(pr(2L) > 0 && pr(3L) > 0)
    // the disconnected component receives EXACTLY zero
    assert(pr(10L) == 0L && pr(11L) == 0L)
    // a seed that is not a graph node is rejected only if NO seed
    // intersects; here the intersection is {1}, so adding a phantom
    // seed must not change anything
    val pr2 = GraphOps.personalizedPagerank(edges,
      Seq(1L, 999L).toDF("id"), iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toMap
    assert(pr2 == pr)
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPagerank(edges, Seq(999L).toDF("id"))
    }
  }

  test("iterative ops release every internal checkpoint; handles free the final one") {
    // ContextCleaner may GC OTHER tests' dead checkpoints at any
    // moment, so absolute counts are racy — assert on the set of NEW
    // rdd ids this op introduces (strongly referenced, so the cleaner
    // can't touch them)
    val sc = spark.sparkContext
    def ids: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def checkOne(mk: => (org.apache.spark.sql.DataFrame, () => Unit))
        : Unit = {
      val before = ids
      val (df, release) = mk
      df.collect()
      val added = ids -- before
      assert(added.size == 1,
        s"expected exactly the final checkpoint to remain, got $added")
      release()
      assert((ids -- before).isEmpty, "release handle left storage behind")
    }
    checkOne(GraphOps.pagerankReleasable(handEdges, iters = 3))
    checkOne(GraphOps.weightedPagerankReleasable(
      handEdges.withColumn("w", lit(2L)), iters = 3))
    checkOne(GraphOps.kcoreReleasable(handEdges, 2, 8))
    checkOne(GraphOps.triangleCountsReleasable(handEdges))
    checkOne(GraphOps.labelPropagationReleasable(handEdges, iters = 3))
    checkOne(GraphOps.personalizedPagerankReleasable(
      handEdges, Seq(1L).toDF("id"), iters = 3))
  }

  test("reliable-checkpoint switch: same results, files created and reaped") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    def rddDirs(): Seq[String] = {
      val root = new java.io.File(dir)
      if (!root.exists()) Seq.empty
      else root.listFiles().toSeq.flatMap(u =>
        Option(u.listFiles()).toSeq.flatten).map(_.getName)
        .filter(_.startsWith("rdd-"))
    }
    // local-mode answers first (conf unset = default localCheckpoint)
    val (prLocalDf, prRelL) = GraphOps.pagerankReleasable(handEdges, iters = 3)
    val prLocal = prLocalDf.select("id", "pr_fixed")
      .as[(Long, Long)].collect().sorted.toSeq
    prRelL()
    val (sccLocalDf, relL) =
      GraphOps.stronglyConnectedComponentsReleasable(
        handEdges.unionByName(Seq((9L, 1L)).toDF("a", "b")),
        maxPivotRounds = 16, maxHops = 32)
    val sccLocal = sccLocalDf.as[(Long, Long)].collect().sorted.toSeq
    relL()
    spark.conf.set(graft.Ckpt.DirConf, dir)
    try {
      // the primitive itself: eager, lineage-free, file-backed, reaped
      val ck = graft.Ckpt(handEdges)
      val rdd = ck.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      assert(rdd.isCheckpointed, "Ckpt under the conf must be reliable")
      val f = rdd.getCheckpointFile.get
      assert(f.stripPrefix("file:").startsWith(dir), f)
      assert(rddDirs().nonEmpty, "no checkpoint files written")
      graft.Release(ck)
      assert(rddDirs().isEmpty, "Release left reliable checkpoint files")
      // full iterative ops: identical answers, and every superseded
      // generation's files reaped by the in-loop Release discipline
      val (prDf, prRelR) = GraphOps.pagerankReleasable(handEdges, iters = 3)
      val prRel = prDf.select("id", "pr_fixed")
        .as[(Long, Long)].collect().sorted.toSeq
      prRelR()
      assert(prRel == prLocal, "pagerank differs under reliable ckpt")
      val (sccDf, rel) = GraphOps.stronglyConnectedComponentsReleasable(
        handEdges.unionByName(Seq((9L, 1L)).toDF("a", "b")),
        maxPivotRounds = 16, maxHops = 32)
      val sccRel = sccDf.as[(Long, Long)].collect().sorted.toSeq
      assert(sccRel == sccLocal, "scc differs under reliable ckpt")
      rel()
      // the pivot rounds too, not only the serial finish
      val (sccDistDf, relD) = GraphOps.sccReleasable(
        handEdges.unionByName(Seq((9L, 1L)).toDF("a", "b")),
        maxPivotRounds = 16, maxHops = 32, localFinishMaxEdges = -1)
      assert(sccDistDf.as[(Long, Long)].collect().sorted.toSeq == sccLocal,
        "distributed scc differs under reliable ckpt")
      relD()
      assert(rddDirs().isEmpty,
        s"iterative ops left reliable checkpoint files: ${rddDirs()}")
    } finally {
      spark.conf.unset(graft.Ckpt.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("degree-ordered triangle orientation: identical count map on random and adversarial graphs") {
    val rnd = new scala.util.Random(42)
    def assertEqualCounts(edges: org.apache.spark.sql.DataFrame): Unit = {
      val idOrd = GraphOps.triangleCounts(edges)
        .as[(Long, Long)].collect().toMap
      val degOrd = GraphOps.triangleCountsDegreeOrdered(edges)
        .as[(Long, Long)].collect().toMap
      assert(degOrd == idOrd)
    }
    // seeded random multigraph-ish inputs (undirected() dedups)
    for (_ <- 1 to 3) {
      val pairs = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(p => p._1 != p._2)
      assertEqualCounts(pairs.toDF("a", "b"))
    }
    assertEqualCounts(handEdges)
    // adversarial: MIDDLE-ID hub fanned to every ring node — under id
    // order its lower-id neighbors point in and higher-id ones out, so
    // all in×out wedges route through it (the blowup shape the
    // degree-ordered variant exists for; ScaleSmoke `tri` measures it)
    val ring = (1 to 40).map(i => (i.toLong, (i % 40 + 1).toLong))
    val hub = (1 to 40).filter(_ != 20).map(i => (20L, i.toLong))
    assertEqualCounts((ring ++ hub).toDF("a", "b"))
  }

  test("weightedPagerank matches the integer model; w=1 equals unweighted bit-for-bit") {
    // small weighted digraph with real weight skew
    val wEdges = Seq(
      (1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 1L),
      (4L, 1L, 5L), (4L, 2L, 0L) // zero-weight edge must be dropped
    ).toDF("a", "b", "w")
    // driver-side integer model: same fixed-point rules, plain Scala
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L),
      (3L, 1L, 1L), (4L, 1L, 5L)) // w>0 only
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val sumw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val init = GraphOps.PrScale / nodes.size
    val base = 15L * init / 100L
    var pr = nodes.map(_ -> init).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map(e => pr(e._1) * e._3 / sumw(e._1)).sum).toMap
      pr = nodes.map(n => n -> (base + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = GraphOps.weightedPagerank(wEdges, iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toMap
    assert(got == pr)
    // node 4 is a pure source: after iter 1 it holds only teleport mass
    assert(got(4L) == base)
    // w=1 degenerates to the unweighted operator exactly
    val unw = GraphOps.pagerank(handEdges, iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toMap
    val w1 = GraphOps.weightedPagerank(
        handEdges.withColumn("w", lit(1L)), iters = 3)
      .select("id", "pr_fixed").as[(Long, Long)].collect().toMap
    assert(unw == w1)
    // the overflow-headroom bound is ENFORCED: a raw un-quantized
    // weight past MaxEdgeWeight fails with the guard's message at scan
    // time, not an ANSI overflow mid-iteration
    val huge = Seq((1L, 2L, GraphOps.MaxEdgeWeight + 1L)).toDF("a", "b", "w")
    val ex = intercept[Exception] {
      GraphOps.weightedPagerank(huge, iters = 1).collect()
    }
    def msgs(t: Throwable): String = {
      var c = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(msgs(ex).contains("quantize similarities"))
  }

  test("modularity matches the rational-arithmetic model on the hand graph") {
    // communities = the two blocks; bridge/pendant assignments chosen
    // by hand. Model: directed double-count convention, exact ints.
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 2L)
      .toDF("id", "lbl")
    val und = GraphOps.undirected(handEdges).as[(Long, Long)].collect()
    val lm = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 2L)
    val twoM = und.length.toLong
    val expected = und.groupBy(e => lm(e._1)).map { case (c, es) =>
      val dsum = es.length.toLong
      val inside2 = es.count(e => lm(e._2) == c).toLong
      val contrib = twoM * inside2 - dsum * dsum
      c -> ((dsum, inside2, contrib,
        contrib.toDouble / (twoM * twoM).toDouble))
    }
    val got = GraphOps.modularity(handEdges, labels)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == expected)
    // sanity: this near-perfect 2-community split scores well positive
    val q = got.values.map(_._3).sum.toDouble / (twoM * twoM)
    assert(q > 0.3, s"expected strongly positive modularity, got $q")
    // degenerate single community scores ZERO exactly (inside2 = dsum
    // = 2m for the one row, contrib = 2m·2m − (2m)² = 0)
    val one = GraphOps.modularity(handEdges,
        labels.select(col("id"), lit(0L).as("lbl")))
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(one.length == 1 && one.head._4 == 0L && one.head._5 == 0.0)
  }

  test("linkPrediction matches the neighbor-set model; adjacency and guard enforced") {
    // Scala model: neighbor sets → all non-adjacent u<v pairs with
    // cn >= minCommon, scored (cn, du, dv, pa, jaccard)
    def model(edges: Seq[(Long, Long)], minCommon: Long)
        : Map[(Long, Long), (Long, Long, Long, Long, Double)] = {
      val und = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
      val nbr = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val adj = und.toSet
      val ids = nbr.keys.toSeq.sorted
      (for {
        u <- ids; v <- ids if u < v && !adj((u, v))
        cn = (nbr(u) & nbr(v)).size.toLong if cn >= minCommon
      } yield {
        val (du, dv) = (nbr(u).size.toLong, nbr(v).size.toLong)
        (u, v) -> ((cn, du, dv, du * dv, cn.toDouble / (du + dv - cn).toDouble))
      }).toMap
    }
    val got = GraphOps.linkPrediction(handEdges, minCommon = 1L)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == model(handEdges.as[(Long, Long)].collect().toSeq, 1L))
    // hand spot-check: 1 and 4 are non-adjacent, share {2, 3} — the
    // K4-minus-one missing link is the top Jaccard candidate
    assert(got((1L, 4L))._1 == 2L)
    assert(got((1L, 4L))._5 == 2.0 / (2 + 3 - 2).toDouble)
    // deterministic pseudo-random graph: same model equality
    val rnd = (1 to 400).map { i =>
      val h = java.util.UUID.nameUUIDFromBytes(s"lp$i".getBytes)
        .getLeastSignificantBits.abs
      ((h % 40) + 1, ((h / 40) % 40) + 1)
    }.filter(e => e._1 != e._2)
    val gotR = GraphOps.linkPrediction(rnd.toDF("a", "b"), minCommon = 2L)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(gotR == model(rnd, 2L) && gotR.nonEmpty)
    // the degree guard fires in-column (star hub over maxDegree)
    val star = (2L to 40L).map(i => (1L, i)).toDF("a", "b")
    val ex = intercept[Exception] {
      GraphOps.linkPrediction(star, maxDegree = 8).collect()
    }
    assert(ex.getMessage.contains("over maxDegree") ||
      ex.getCause != null && ex.getCause.getMessage.contains("over maxDegree"))
  }

  test("gated lanes keep storage flat across invocations (Leases swap)") {
    // the round-9 leak: each bench/verify invocation of a *Releasable-
    // backed lane parked nothing, so the final checkpoint accumulated
    // per invocation (warmup + 3 passes ≈ 4 dead checkpoint sets per
    // lane). With Leases.swap, invocation N frees invocation N-1's
    // handle — storage after the 2nd and 3rd run must equal the 1st.
    // ContextCleaner may GC other tests' dead checkpoints mid-test, so
    // absolute counts are racy (it removes, never adds): diff against a
    // base snapshot and count only the ids THIS lane introduced.
    val sc = spark.sparkContext
    val sf = "/root/testdata/sf0.001"
    def ids: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    for (lane <- Seq("gr1_pagerank", "gr3_kcore", "gr4_triangles")) {
      val base = ids
      def run(): Int = {
        graft.queries.GraphQueries.queries(lane)(spark, sf).collect()
        (ids -- base).size
      }
      val s1 = run(); val s2 = run(); val s3 = run()
      assert(s1 == 1 && s2 == 1 && s3 == 1,
        s"$lane accumulates checkpoints across invocations: $s1 -> $s2 -> $s3")
      graft.Leases.release(lane)
      assert((ids -- base).isEmpty, s"$lane: Leases.release left storage")
    }
  }

  // iterative Tarjan (explicit stack — no JVM recursion limits)
  private def tarjan(n: Int, adj: Map[Int, Seq[Int]]): Map[Long, Long] = {
    val index = Array.fill(n)(-1); val low = Array.fill(n)(0)
    val onStack = Array.fill(n)(false)
    val stack = scala.collection.mutable.Stack[Int]()
    var counter = 0
    val comp = Array.fill(n)(-1)
    for (root <- 0 until n if index(root) < 0) {
      // work stack of (node, child-iterator position)
      val work = scala.collection.mutable.Stack[(Int, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, ci) = work.pop()
        if (ci == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack(v) = true
        }
        val kids = adj.getOrElse(v, Seq.empty)
        var advanced = false
        var i = ci
        while (i < kids.length && !advanced) {
          val w = kids(i)
          if (index(w) < 0) {
            work.push((v, i + 1)); work.push((w, 0)); advanced = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!advanced && i >= kids.length) {
          if (low(v) == index(v)) {
            var done = false
            val members = scala.collection.mutable.Buffer[Int]()
            while (!done) {
              val w = stack.pop(); onStack(w) = false
              members += w; done = w == v
            }
            val m = members.min
            members.foreach(comp(_) = m)
          }
          if (work.nonEmpty) {
            val (p, _) = work.top
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    (0 until n).map(v => v.toLong -> comp(v).toLong).toMap
  }

  test("scc matches a driver Tarjan on random digraphs; trim classes and guards behave") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val n = 30
      val rnd = new scala.util.Random(seed)
      // self-loops INCLUDED: a node whose only edges are self-loops
      // must still appear in the output as its own singleton SCC
      val es = (for (a <- 0 until n; b <- 0 until n
        if rnd.nextInt(100) < 8) yield (a.toLong, b.toLong))
      val adj = es.groupBy(_._1.toInt)
        .map { case (k, v) => k -> v.map(_._2.toInt).sorted.toSeq }
      val got = GraphOps.stronglyConnectedComponents(
          es.toDF("a", "b"), maxPivotRounds = 64, maxHops = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Tarjan over the full 0..n-1 set; the operator only emits edge
      // endpoints, so restrict the model to them
      val touched = es.flatMap(e => Seq(e._1, e._2)).toSet
      val want = tarjan(n, adj).filter { case (v, _) => touched(v) }
      assert(got == want, s"seed=$seed got=${got.toSeq.sorted.take(10)} " +
        s"want=${want.toSeq.sorted.take(10)}")
    }
    // hand graph: ring 0->1->2->0, tendril-in 3->0, tendril-out 2->4,
    // plus 5 whose ONLY edge is the self-loop 5->5 — it must surface
    // as its own singleton SCC, not silently vanish
    val hand = GraphOps.stronglyConnectedComponents(
        Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (2L, 4L), (5L, 5L))
          .toDF("a", "b"), maxPivotRounds = 4, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hand == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 5L))
    // truncated reach must FAIL LOUDLY, never split an SCC silently:
    // a 5-ring with maxHops 2
    val ringE = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("a", "b")
    // (on the forced-distributed path: the serial finish runs no reach)
    val err = intercept[Exception] {
      GraphOps.sccReleasable(ringE, maxPivotRounds = 4, maxHops = 2,
        localFinishMaxEdges = -1)._1.collect()
    }
    assert(err.getMessage.contains("maxHops"), err.getMessage)
  }

  /** The SCC model: (id -> min id of its component) over every edge
    * endpoint, from [[tarjan]] on the edge list. */
  private def sccModel(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val n = (es.flatMap(e => Seq(e._1, e._2)).max + 1).toInt
    val adj = es.groupBy(_._1.toInt)
      .map { case (k, v) => k -> v.map(_._2.toInt).sorted }
    val touched = es.flatMap(e => Seq(e._1, e._2)).toSet
    tarjan(n, adj).filter { case (v, _) => touched(v) }
  }

  private def sccOf(es: Seq[(Long, Long)], localFinishMaxEdges: Long)
      : (Map[Long, Long], Int) = {
    val (df, rel) = GraphOps.sccReleasable(es.toDF("a", "b"),
      maxPivotRounds = 64, maxHops = 64,
      localFinishMaxEdges = localFinishMaxEdges)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rel()
    (got, GraphOps.lastSccPivotRounds)
  }

  test("scc serial finish, forced-distributed path and Tarjan agree on random digraphs") {
    val rnd = new scala.util.Random(7)
    // planted bow-ties: rings of 2..6 nodes, each with in- and out-
    // tendrils, joined into a DAG of rings by one-way bridges, plus
    // self-loops sprinkled over ring and tendril nodes
    def bowties(rings: Int): Seq[(Long, Long)] = {
      var next = 0L
      val ringNodes = (0 until rings).map { _ =>
        val k = 2 + rnd.nextInt(5)
        val ns = (next until next + k).toSeq; next += k; ns
      }
      val ringE = ringNodes.flatMap(ns =>
        ns.indices.map(i => (ns(i), ns((i + 1) % ns.size))))
      val bridges = for (i <- ringNodes.indices; j <- ringNodes.indices
        if i < j && rnd.nextInt(3) == 0)
        yield (ringNodes(i).head, ringNodes(j).last)
      val tendrils = ringNodes.flatMap { ns =>
        val in = next; val out = next + 1; next += 2
        Seq((in, ns(rnd.nextInt(ns.size))), (ns(rnd.nextInt(ns.size)), out))
      }
      val loops = (0L until next).filter(_ => rnd.nextInt(5) == 0)
        .map(v => (v, v))
      ringE ++ bridges ++ tendrils ++ loops
    }
    def random(n: Int, pct: Int): Seq[(Long, Long)] =
      for (a <- 0 until n; b <- 0 until n if rnd.nextInt(100) < pct)
        yield (a.toLong, b.toLong)
    val graphs = Seq(bowties(4), bowties(7), random(30, 8), random(60, 3))
    // every graph here is far under LocalFinishMaxEdges, so the
    // "serial finish" side takes the whole-input driver route (no trim
    // round); the trim → finish route is pinned in the next test
    graphs.zipWithIndex.foreach { case (es, i) =>
      val want = sccModel(es)
      val (local, localPivots) = sccOf(es, GraphOps.LocalFinishMaxEdges)
      val (dist, distPivots) = sccOf(es, -1)
      assert(local == want, s"graph $i: serial finish differs from Tarjan")
      assert(dist == want, s"graph $i: distributed path differs from Tarjan")
      assert(localPivots == 0, s"graph $i: the finish ran $localPivots pivots")
      // several components survive the trim in every graph here
      assert(distPivots > 0, s"graph $i: the distributed path never pivoted")
    }
  }

  test("scc: every route agrees with Tarjan on graphs with duplicate edges and self-loops") {
    val rnd = new scala.util.Random(11)
    // random arcs plus a planted 5-ring fed by a 5-node tendril chain
    // (so a trim round always fires and a core survives it), self-
    // loops on some connected nodes, isolated nodes whose only edges
    // are (repeated) self-loops, and a quarter of all edges repeated
    def graph(n: Int, pct: Int): Seq[(Long, Long)] = {
      val arcs = for (a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextInt(100) < pct) yield (a.toLong, b.toLong)
      val ring = (0L until 5L).map(i => (i, (i + 1) % 5))
      val chain = (n.toLong until n + 4L).map(i => (i, i + 1)) :+
        ((n + 4L, 0L))
      val loops = (0L until n.toLong).filter(_ => rnd.nextInt(6) == 0)
        .map(v => (v, v))
      val isolated = (n + 10L until n + 13L)
        .flatMap(v => Seq.fill(1 + rnd.nextInt(2))((v, v)))
      val es = arcs ++ ring ++ chain ++ loops ++ isolated
      rnd.shuffle(es ++ es.filter(_ => rnd.nextInt(4) == 0))
    }
    // edges left at the trim fixpoint: what the finish bound is
    // compared with when the raw input is over it
    def trimmed(es: Seq[(Long, Long)]): Int = {
      var e = es.filter { case (a, b) => a != b }.distinct
      var n = -1
      while (n != e.size) {
        n = e.size
        val core = e.map(_._1).toSet intersect e.map(_._2).toSet
        e = e.filter { case (a, b) => core(a) && core(b) }
      }
      e.size
    }
    def run(es: Seq[(Long, Long)], bound: Long): (Map[Long, Long], Int, Int) = {
      val (df, rel) = GraphOps.sccReleasable(es.toDF("a", "b"),
        maxPivotRounds = 64, maxHops = 64, localFinishMaxEdges = bound)
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parts = df.queryExecution.analyzed.collectLeaves().size
      rel()
      (got, GraphOps.lastSccPivotRounds, parts)
    }
    for ((n, pct) <- Seq((25, 6), (40, 5), (60, 3))) {
      val es = graph(n, pct)
      val want = sccModel(es)
      val core = trimmed(es)
      assert(core > 0 && core < es.size, s"n=$n: core $core of ${es.size}")
      // whole input on the driver: one labelled part, no round
      val (whole, wholePivots, wholeParts) = run(es, GraphOps.LocalFinishMaxEdges)
      assert(whole == want, s"n=$n: whole-input driver route")
      assert(wholePivots == 0 && wholeParts == 1, s"n=$n: $wholeParts parts")
      // trim → finish: the trimmed core fits, the raw input does not
      val (tf, tfPivots, tfParts) = run(es, core)
      assert(tf == want, s"n=$n: trim → finish route")
      assert(tfPivots == 0 && tfParts > 1, s"n=$n: $tfPivots pivots")
      // trim → pivot → finish under a bound of 12
      val (mixed, _, _) = run(es, 12)
      assert(mixed == want, s"n=$n: bound-12 route")
      // forced distributed
      val (dist, distPivots, _) = run(es, -1)
      assert(dist == want, s"n=$n: forced-distributed route")
      assert(distPivots > 0, s"n=$n: the distributed route never pivoted")
    }
    // a null endpoint is no node, and the other end of a half-null
    // edge still is one, on every route
    val halfNull = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Some(3L), None), (None, None)).toDF("a", "b")
    for (bound <- Seq(GraphOps.LocalFinishMaxEdges, 1L, -1L)) {
      val (hn, relHn) = GraphOps.sccReleasable(halfNull, 4, 4,
        localFinishMaxEdges = bound)
      assert(hn.as[(Long, Long)].collect().sorted.toSeq ==
        Seq(1L -> 1L, 2L -> 1L, 3L -> 3L), s"bound $bound")
      relHn()
    }
  }

  test("scc mixed path: pivot rounds shrink the core, the serial finish ends the loop") {
    // three 5-rings chained 0-ring -> 5-ring -> 10-ring, plus a tendril
    // into each: 17 edges survive the trim. Round 1 pivots at 0 and
    // assigns the first ring; the 11 edges left fit a bound of 12, so
    // the finish labels the other two rings. The distributed path
    // needs a round per ring.
    val rings = (0L until 15L).map(i => (i, i - i % 5 + (i + 1) % 5))
    val es = rings ++ Seq((4L, 5L), (9L, 10L), (20L, 0L), (21L, 5L),
      (22L, 10L))
    val want = sccModel(es)
    val (mixed, mixedPivots) = sccOf(es, 12)
    val (dist, distPivots) = sccOf(es, -1)
    assert(mixed == want && dist == want)
    assert(mixedPivots == 1, s"mixed path ran $mixedPivots pivot rounds")
    assert(distPivots == 3, s"distributed path ran $distPivots pivot rounds")
  }

  test("a failing SCC or bow-tie call releases every checkpoint it made") {
    // both overlapped reaches of a 5-ring outrun maxHops = 2: the call
    // must throw with the other side's error suppressed, and leave no
    // block behind (diffed against a baseline: the ContextCleaner may
    // drop other tests' dead checkpoints meanwhile, never add)
    val sc = spark.sparkContext
    def ids: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val ringE = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("a", "b")
    val base = ids
    val err = intercept[IllegalArgumentException] {
      GraphOps.sccReleasable(ringE, maxPivotRounds = 4, maxHops = 2,
        localFinishMaxEdges = -1)
    }
    assert(err.getMessage.contains("maxHops"), err.getMessage)
    assert(err.getSuppressed.exists(_.getMessage.contains("maxHops")),
      "the second reach's error was dropped")
    assert((ids -- base).isEmpty,
      s"failed SCC left checkpoints behind: ${ids -- base}")
    // bow-tie: core ring 0-1-2, out-chain 2 -> 3 -> 4 -> 5 outruns
    // maxHops = 1 on the forward side only
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (4L, 5L)).toDF("a", "b")
    val scc = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L),
      (5L, 5L)).toDF("id", "scc")
    val base2 = ids
    val err2 = intercept[IllegalArgumentException] {
      GraphOps.bowtieClassifyReleasable(edges, scc, maxHops = 1)
    }
    assert(err2.getMessage.contains("maxHops"), err2.getMessage)
    assert((ids -- base2).isEmpty,
      s"failed bow-tie left checkpoints behind: ${ids -- base2}")
  }

  test("bowtieClassify: core pick, in/out/other regions, tie-break, disjointness") {
    import spark.implicits._
    // ring 0->1->2->0 is the core; 3 reaches it (in), 4 is reached
    // (out), 5->6 is a disconnected tendril pair (other), 7 hangs off
    // the IN node 3 (tendril-of-IN: cannot reach the core node set?
    // it CAN: 7->3->0 — so 7 is 'in' too), 8 is reached from OUT
    // (core->4->8: 'out')
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (2L, 4L),
      (5L, 6L), (7L, 3L), (4L, 8L)).toDF("a", "b")
    val scc = GraphOps.stronglyConnectedComponents(edges,
      maxPivotRounds = 8, maxHops = 8)
    val cls = GraphOps.bowtieClassify(edges, scc, maxHops = 8)
      .as[(Long, String)].collect().toMap
    assert(cls == Map(0L -> "core", 1L -> "core", 2L -> "core",
      3L -> "in", 4L -> "out", 5L -> "other", 6L -> "other",
      7L -> "in", 8L -> "out"), cls.toString)
    // size tie breaks to the smallest component id: rings {0,1} and
    // {2,3} both size 2 -> core is component 0
    val tie = Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L)).toDF("a", "b")
    val sccT = GraphOps.stronglyConnectedComponents(tie, 8, 8)
    val clsT = GraphOps.bowtieClassify(tie, sccT, maxHops = 8)
      .as[(Long, String)].collect().toMap
    assert(clsT == Map(0L -> "core", 1L -> "core",
      2L -> "other", 3L -> "other"), clsT.toString)
  }

  test("mutualEdges keeps exactly the reciprocated pairs") {
    val knn = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 2L), (2L, 3L))
      .toDF("a", "b")
    val m = GraphOps.mutualEdges(knn).as[(Long, Long)].collect().toSet
    assert(m == Set((1L, 2L), (2L, 1L), (3L, 2L), (2L, 3L)))
  }
}
