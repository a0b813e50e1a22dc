package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import graft.Ckpt.CkptOps

/** Iterative graph analytics over an edge DataFrame — the round-9
  * extension family (gr*). The reference has no graph surface; a
  * training-data pipeline does: centrality to weight sources, label
  * propagation to find communities of near-duplicate provenance,
  * cores/triangles to characterize link-farm-like density in a crawl
  * graph.
  *
  * Design choices, all scale-driven:
  *
  *  - DataFrame loops with an eager checkpoint per superseded
  *    iteration (released via [[graft.Release]]; local by default,
  *    reliable when `spark.graft.checkpoint.dir` is set — see
  *    [[graft.Ckpt]]), not GraphX: these lanes run a
  *    FIXED small iteration count where the per-iteration plan is two
  *    shuffles (join on src, aggregate on dst) — the dd6 A/B measured
  *    the DF form ahead of GraphX until ~1e8 edges, and unlike GraphX
  *    it spills instead of dying (PERF.md). Deep-iteration jobs
  *    (convergence PageRank at web scale) would flip to Pregel per
  *    that crossover; the loop body here is deliberately the same
  *    shape so the flip is mechanical.
  *
  *  - PageRank runs in FIXED-POINT integer arithmetic (`SCALE` units
  *    of 1e-12): a floating-point rank sum is association-order-
  *    dependent, so two runs of the same job on the same data can
  *    disagree in the low bits depending on partitioning and merge
  *    order — unacceptable for a reproducibility-gated pipeline (and
  *    for this repo's hash oracle). Integer sums are associative:
  *    ranks are bit-identical under ANY partitioning, AQE decision, or
  *    replay, and DuckDB replays the exact longs. The cost is a
  *    deliberate, deterministic truncation: each node's contribution
  *    is `pr div outdeg` and the damped sum is `(85 * s) div 100`, so
  *    up to outdeg + 1 units (≈1e-12 each) of mass leak per node per
  *    iteration — observability floor, not a correctness concern.
  *
  *  - Dangling nodes (no out-edges) leak their mass rather than
  *    redistribute it: redistribution needs a global scalar per
  *    iteration (a driver round-trip or a cross-join); the leaked
  *    variant is the same ranking in practice and keeps every
  *    iteration a pure two-shuffle plan. Callers who need the
  *    stochastic-matrix form can add the correction as a post-step.
  */
object GraphOps {

  val PrScale: Long = 1000000000000L // 1e12 fixed-point units
  /** Max edge weight [[weightedPagerank]] accepts: pr <= PrScale (1e12)
    * and w <= 1e6 keep pr * w <= 1e18 < 2^63 (ANSI-safe headroom). */
  val MaxEdgeWeight: Long = 1000000L

  /** Symmetrize + dedup a directed edge list: both orientations of
    * every edge, self-loops dropped. One exchange (the distinct).
    */
  def undirected(edges: DataFrame, a: String = "a", b: String = "b")
      : DataFrame = {
    val e = edges.select(col(a).as("a"), col(b).as("b"))
    e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Mutual-kNN edge set: keep (a → b) only when (b → a) is also
    * present. Unlike a fixed similarity threshold — whose graph
    * density grows with corpus size, degenerating any fixed k-core
    * parameterization — mutuality bounds degree by the kNN k at ANY
    * scale, which is what makes core decomposition over it
    * scale-stable. The result is symmetric by construction.
    */
  def mutualEdges(knn: DataFrame, a: String = "a", b: String = "b")
      : DataFrame = {
    val p = knn.select(col(a).as("a"), col(b).as("b"))
    p.intersect(p.select(col("b").as("a"), col("a").as("b")))
  }

  /** Fixed-point damped PageRank, `iters` synchronous iterations over
    * DIRECTED edges (a → b). Returns (id, pr_fixed, pr) where
    * `pr_fixed` is the exact integer rank in 1e-12 units and `pr` its
    * single-division double view (one IEEE op, no round — the ss13
    * recipe).
    *
    * Per iteration: two shuffles (join contributions on src, aggregate
    * on dst) over an edge table carrying only (a, b) longs — no
    * payload ever rides the exchange. The rank frame is checkpointed
    * each round and the superseded checkpoint released immediately
    * (the clustersDataFrame pattern), so lineage and storage stay
    * O(current iteration).
    */
  def pagerank(edges: DataFrame, iters: Int = 3,
               dampingPct: Int = 85,
               checkpointEvery: Int = 1): DataFrame =
    pagerankReleasable(edges, iters, dampingPct, checkpointEvery)._1

  /** [[pagerank]] plus a release handle for the FINAL rank checkpoint
    * (the returned frame reads it lazily, so it cannot be freed
    * inline — the clustersAutoReleasable pattern). All INTERNAL
    * checkpoints (edges, node/out-degree staging, superseded
    * iterations) are released before returning: once the last
    * iteration materializes, the output depends only on its own
    * checkpoint.
    */
  def pagerankReleasable(edges: DataFrame, iters: Int = 3,
                         dampingPct: Int = 85,
                         checkpointEvery: Int = 1)
      : (DataFrame, () => Unit) =
    // unweighted = every edge at weight 1: sumw degenerates to outdeg
    // and (pr * 1) div outdeg is bit-identical to pr div outdeg, so
    // the shared weighted core replays gr1's oracle exactly
    weightedCore(edges.select(col("a"), col("b"), lit(1L).as("w")),
      iters, dampingPct, checkpointEvery)

  /** Weight-proportional fixed-point PageRank over (a, b, w) edges:
    * node a forwards `pr * w_ab div sumw_a` to b — the similarity-
    * weighted centrality a curation pipeline wants over a kNN graph
    * where edges CARRY a similarity score (a 0.95-cosine neighbor
    * should pull more rank than a 0.2 one). Weights must be POSITIVE
    * integers (quantize a float similarity to units first — e.g.
    * `round(sim * 10000)` — the same fixed-point discipline as the
    * ranks themselves: integer products and truncating divisions are
    * associative and bit-identical under any partitioning, so the
    * oracle replays the exact longs; float weights would reintroduce
    * the merge-order sensitivity the integer encoding exists to kill).
    * Non-positive-weight edges are dropped (they carry no mass — a
    * node with only such out-edges becomes dangling and leaks, the
    * documented convention), and weights above [[MaxEdgeWeight]] fail
    * loudly via an in-column guard so the 2^63 headroom argument is
    * ENFORCED, not assumed. Same two-shuffle iteration plan as
    * [[pagerank]], with `w` riding the (long, long, long) edge table
    * and `sumw` carried on the rank frame instead of a third join.
    */
  def weightedPagerank(edges: DataFrame, iters: Int = 3,
                       dampingPct: Int = 85,
                       checkpointEvery: Int = 1): DataFrame =
    weightedPagerankReleasable(edges, iters, dampingPct, checkpointEvery)._1

  /** [[weightedPagerank]] plus the final-checkpoint release handle
    * ([[pagerankReleasable]] contract). */
  def weightedPagerankReleasable(edges: DataFrame, iters: Int = 3,
                                 dampingPct: Int = 85,
                                 checkpointEvery: Int = 1)
      : (DataFrame, () => Unit) =
    weightedCore(edges.select(col("a"), col("b"),
      col("w").cast("long").as("w")), iters, dampingPct, checkpointEvery)

  private def weightedCore(edges: DataFrame, iters: Int,
                           dampingPct: Int, checkpointEvery: Int)
      : (DataFrame, () => Unit) = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1: $checkpointEvery")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100]: $dampingPct")
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // In-column weight-bound guard (the linkPrediction maxDegree
    // idiom): the overflow argument below needs pr * w < 2^63, and with
    // pr bounded by the total mass PrScale (1e12) that holds only for
    // w <= ~9.2e6. Enforce 1e6 (product <= 1e18 < 2^63) so a caller
    // passing raw un-quantized weights fails with THIS message at scan
    // time, not an ANSI overflow five shuffles later. Evaluated once
    // per edge on the already-checkpointed frame — no extra pass.
    // null weights pass THROUGH the guard (a null predicate is
    // not-true, so without the isNull arm they'd hit raise_error with
    // a null-concat message) — the w > 0 filter below then drops them,
    // the pre-guard behavior
    val wRaw = col("w").cast("long")
    val wChecked = when(wRaw.isNull || wRaw <= MaxEdgeWeight, wRaw).otherwise(
      raise_error(concat(
        lit("weightedPagerank: edge weight "), wRaw.cast("string"),
        lit(s" exceeds $MaxEdgeWeight — quantize similarities to at" +
          " most 1e6 units (e.g. round(sim * 10000)) so fixed-point" +
          " products stay under 2^63"))))
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), wChecked.as("w"))
      .filter(col("w") > 0L)
      .iterCkpt(ser)
    // checkpoint + count fold: one job (Ckpt.counted, r19)
    val (nodes, n) = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
      .iterCkptCounted(ser)
    require(n > 0, "pagerank needs a non-empty edge set")
    val sumw = e.groupBy(col("a").as("id"))
      .agg(sum(col("w")).as("sumw"))
      .iterCkpt(ser)
    val init = PrScale / n
    val base = (100L - dampingPct) * init / 100L
    // the rank frame CARRIES the static out-weight through every
    // checkpoint: one long column per node instead of a third shuffle
    // join per iteration. Locally the edge join + checkpoint
    // materialization dominate and the smoke wall is unchanged
    // (20.1 vs 20.4 s at 2M nodes / 10M edges); the join it removes
    // is nodes-sized, which is exactly the side that grows into a
    // real exchange on a cluster. sumw 0 marks dangling nodes,
    // which contribute nothing (their mass leaks — see scaladoc).
    // Overflow headroom: pr ≤ total mass = PrScale (1e12) and the
    // guard above enforces w ≤ MaxEdgeWeight (1e6), so
    // pr * w ≤ 1e18 < 2^63 — a bound, not an assumption.
    var pr = nodes.join(sumw, Seq("id"), "left")
      .select(col("id"), coalesce(col("sumw"), lit(0L)).as("sumw"),
        lit(init).as("pr_fixed"))
      .iterCkpt(ser)
    // nodes/sumw staging is folded into the init checkpoint above —
    // free it now, not at session end
    graft.Release(nodes)
    graft.Release(sumw)
    // `checkpointEvery` trades lineage depth for job count: every=1
    // (the default) materializes each iteration — the long-chain
    // shape, O(1) lineage, superseded rounds released as you go;
    // every=iters folds a SHORT chain into one lazy multi-shuffle job
    // (measured on the PerfCompare pagerank lane: 3 iterations at 5M
    // edges run 17.6 s materialized vs 8.6 s chained — the
    // intermediate materializations were half the wall). Ranks are
    // identical either way: integer arithmetic doesn't care how many
    // jobs compute it.
    var lastCkpt = pr
    for (i <- 1 to iters) {
      // `div`, not `/`: Spark's `/` on longs is a DOUBLE division, and
      // the whole point of the fixed-point encoding is that no IEEE op
      // ever touches a rank until the final display column
      val contrib = pr.filter(col("sumw") > 0L)
        .select(col("id"), col("pr_fixed"), col("sumw"))
        .join(e, col("id") === col("a"))
        .select(col("b"), expr("(pr_fixed * w) div sumw").as("c"))
        .groupBy(col("b").as("id"))
        .agg(sum(col("c")).as("s"))
      val next = pr.select(col("id"), col("sumw"))
        .join(contrib, Seq("id"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
        .select(col("id"), col("sumw"),
          (lit(base) + expr(s"(${dampingPct.toLong} * s) div 100"))
            .as("pr_fixed"))
      if (i % checkpointEvery == 0 || i == iters) {
        val ck = next.iterCkpt(ser)
        // only now is the previous checkpoint safe to free: a LAZY
        // intermediate still reads it until this materialization
        graft.Release(lastCkpt)
        lastCkpt = ck
        pr = ck
      } else {
        pr = next
      }
    }
    graft.Release(e)
    val last = lastCkpt
    val out = last.select(col("id"), col("pr_fixed"),
      (col("pr_fixed").cast("double") / lit(PrScale.toDouble)).as("pr"))
    (out, () => graft.Release(last))
  }

  /** Personalized PageRank: rank mass teleports back to a SEED set
    * instead of uniformly — the seed-relevance expansion a curation
    * pipeline uses to grow a small trusted/curated document set into a
    * ranked neighborhood ("what else does the graph consider close to
    * what we already vetted"). Same fixed-point integer discipline as
    * [[pagerank]]: init and teleport mass are `SCALE div |seeds|` on
    * seed nodes and ZERO elsewhere, so ranks are bit-identical under
    * any partitioning and replay exactly in the oracle. Seeds outside
    * the graph's node set are ignored (they can neither receive nor
    * forward mass).
    */
  def personalizedPagerankReleasable(edges: DataFrame, seeds: DataFrame,
                                     iters: Int = 3, dampingPct: Int = 85,
                                     checkpointEvery: Int = 1)
      : (DataFrame, () => Unit) = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1: $checkpointEvery")
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .iterCkpt(ser)
    val nodes = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
    val outdeg = e.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    val seedIds = seeds.select(col(seeds.columns.head).cast("long")
      .as("id")).distinct()
    // checkpoint + count fold: one job (Ckpt.counted, r19)
    val (seedNodes, nSeeds) = nodes.join(seedIds, Seq("id"), "left_semi")
      .iterCkptCounted(ser)
    require(nSeeds > 0, "no seed intersects the graph's node set")
    val init = PrScale / nSeeds
    val base = (100L - dampingPct) * init / 100L
    var pr = nodes.join(outdeg, Seq("id"), "left")
      .join(seedNodes.withColumn("_seed", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("_seed"), lit(false)).as("is_seed"),
        when(col("_seed"), lit(init)).otherwise(lit(0L)).as("pr_fixed"))
      .iterCkpt(ser)
    graft.Release(seedNodes)
    // checkpointEvery: the weightedCore knob — every=1 materializes
    // each round (O(1) lineage, the long-chain shape); every=iters
    // folds the short chain into ONE lazy multi-shuffle job, halving
    // the driver-round job count the gr6 lane pays (the r17 driver
    // run's worst contended entries were exactly these many-tiny-job
    // iterative lanes). Ranks are identical either way — integer
    // arithmetic doesn't care how many jobs compute it.
    var lastCkpt = pr
    for (i <- 1 to iters) {
      val contrib = pr.filter(col("outdeg") > 0L && col("pr_fixed") > 0L)
        .select(col("id"), expr("pr_fixed div outdeg").as("c"))
        .join(e, col("id") === col("a"))
        .groupBy(col("b").as("id"))
        .agg(sum(col("c")).as("s"))
      val next = pr.select(col("id"), col("outdeg"), col("is_seed"))
        .join(contrib, Seq("id"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
        .select(col("id"), col("outdeg"), col("is_seed"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"(${dampingPct.toLong} * s) div 100")).as("pr_fixed"))
      if (i % checkpointEvery == 0 || i == iters) {
        val ck = next.iterCkpt(ser)
        // only now is the previous checkpoint safe to free: a LAZY
        // intermediate still reads it until this materialization
        graft.Release(lastCkpt)
        lastCkpt = ck
        pr = ck
      } else {
        pr = next
      }
    }
    graft.Release(e)
    val last = lastCkpt
    val out = last.select(col("id"), col("pr_fixed"),
      (col("pr_fixed").cast("double") / lit(PrScale.toDouble)).as("pr"))
    (out, () => graft.Release(last))
  }

  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3,
                           dampingPct: Int = 85): DataFrame =
    personalizedPagerankReleasable(edges, seeds, iters, dampingPct)._1

  /** Synchronous label propagation, `iters` rounds over UNDIRECTED
    * edges: every node adopts its neighbors' most frequent label,
    * ties to the smallest label (fully deterministic — asynchronous
    * LPA's arrival-order sensitivity is exactly what a reproducible
    * pipeline can't have). Labels start as node ids. Isolated nodes
    * don't appear (the node set is the edge endpoints). Known
    * trade-off of the synchronous schedule: near-bipartite structures
    * can oscillate between two labelings instead of converging
    * (GraphSpec demonstrates it) — the fixed iteration count keeps
    * even that case deterministic, and dense communities still
    * collapse in a round or two.
    *
    * The per-round top-1 runs on the (node, label) COUNT table —
    * vocabulary-sized, never the raw neighbor stream — via the same
    * (count desc, label asc) window the ev17 lane pins.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame =
    labelPropagationReleasable(edges, iters)._1

  /** [[labelPropagation]] plus a release handle for the final label
    * checkpoint; internal checkpoints are released before return. */
  def labelPropagationReleasable(edges: DataFrame, iters: Int = 3)
      : (DataFrame, () => Unit) = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val e = undirected(edges).iterCkpt(ser)
    var lbl = e.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .iterCkpt(ser)
    for (_ <- 1 to iters) {
      val counts = e.join(lbl.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
        .orderBy(col("cnt").desc, col("lbl").asc)
      val next = counts
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("id"), col("lbl"))
        .iterCkpt(ser)
      graft.Release(lbl)
      lbl = next
    }
    graft.Release(e)
    val last = lbl
    (last, () => graft.Release(last))
  }

  /** The most edges an iterative operator (the SCC loop, the k-core
    * peel) collects and finishes on the driver instead of running
    * another distributed round. Why 100,000: a distributed round is
    * dozens of small driver-synchronous jobs and costs seconds
    * whatever the graph's size, while at 100,000 edges the collect and
    * the serial pass cost a fraction of that (0.33 s against 4.0 s for
    * the cheapest SCC pivot round measured; PERF.md "SCC serial
    * finish", "k-core driver finish"). Above it the serial pass grows
    * linearly on one driver thread and the collect holds every edge in
    * driver memory, while a round's jobs spread over the executors. */
  private[graft] val LocalFinishMaxEdges = 100000L

  /** k-core: peel nodes of degree < k from the UNDIRECTED graph for up
    * to `maxRounds` rounds (early-stop when a round removes nothing —
    * output-invariant, since further peels would also be no-ops).
    * Returns the surviving node set. The paired oracle unrolls exactly
    * `maxRounds` peels, which equals this whenever the peel converges
    * within the bound AND when it doesn't (both sides have then done
    * exactly `maxRounds` rounds) — GraphSpec asserts convergence at
    * test scale so the cap isn't silently load-bearing. The peel is
    * therefore round-synchronous and capped — a round keeps the nodes
    * with ≥ k neighbours alive at its start — not a full core
    * decomposition.
    *
    * Each distributed round is one aggregate + one semi-join per side
    * over (a, b) longs; survivors are checkpointed and the superseded
    * frame released. A graph of at most [[LocalFinishMaxEdges]]
    * undirected edges (both directions counted) skips those rounds:
    * it is collected and peeled on the driver by the same rule and
    * the same `maxRounds` cap, and the survivors come back as one
    * checkpointed frame — each distributed round is several tiny
    * driver-synchronous jobs, which on a small graph cost more than
    * the whole serial peel (PERF.md "k-core driver finish").
    */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 8): DataFrame =
    kcoreReleasable(edges, k, maxRounds)._1

  /** [[kcore]] plus a release handle for the final survivor
    * checkpoint; internal checkpoints are released before return. */
  def kcoreReleasable(edges: DataFrame, k: Int, maxRounds: Int = 8)
      : (DataFrame, () => Unit) =
    kcorePeelReleasable(edges, k, maxRounds)

  /** [[kcoreReleasable]] with the driver-finish bound open: a negative
    * `localFinishMaxEdges` forces the distributed peel. */
  private[graft] def kcorePeelReleasable(edges: DataFrame, k: Int,
      maxRounds: Int, localFinishMaxEdges: Long = LocalFinishMaxEdges)
      : (DataFrame, () => Unit) = {
    require(k >= 1, s"k must be >= 1: $k")
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // counted, so the finish dispatch costs no job of its own
    val (e, eN) = undirected(edges).iterCkptCounted(ser)
    val last =
      if (eN <= localFinishMaxEdges) kcoreLocal(e, k, maxRounds, ser)
      else kcoreRounds(e, k, maxRounds, ser)
    graft.Release(e)
    (last, () => graft.Release(last))
  }

  /** The distributed peel over the checkpointed symmetric edges `e`. */
  private def kcoreRounds(e: DataFrame, k: Int, maxRounds: Int,
                          ser: org.apache.spark.storage.StorageLevel)
      : DataFrame = {
    // checkpoint + early-stop count fold to ONE job per round
    // (Ckpt.counted — r19, guide §2 driver-round latency)
    var (alive, aliveN) = e.select(col("a").as("id")).distinct()
      .iterCkptCounted(ser)
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      val (next, nextN) = e
        .join(alive.withColumnRenamed("id", "b"), "b")
        .join(alive.withColumnRenamed("id", "a"), "a")
        .groupBy(col("a").as("id"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("id")
        .iterCkptCounted(ser)
      stable = nextN == aliveN
      graft.Release(alive)
      alive = next
      aliveN = nextN
      round += 1
    }
    alive
  }

  /** The k-core peel of a collected symmetric edge frame `e` (a, b), on
    * the driver: round-synchronous like the distributed loop, at most
    * `maxRounds` rounds, stopping early once a round removes nothing.
    * Returns the survivors as a checkpointed `id` frame of the edge
    * frame's id type. */
  private def kcoreLocal(e: DataFrame, k: Int, maxRounds: Int,
                         level: org.apache.spark.storage.StorageLevel)
      : DataFrame = {
    val rows = e.select("a", "b").collect()
    val index = new java.util.HashMap[Any, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer[Any]()
    def dense(v: Any): Int = {
      val i = index.get(v)
      if (i != null) i
      else { index.put(v, ids.length); ids += v; ids.length - 1 }
    }
    val src = rows.map(r => dense(r.get(0)))
    val dst = rows.map(r => dense(r.get(1)))
    val n = ids.length
    val alive = Array.fill(n)(true)
    val deg = new Array[Int](n)
    var round = 0
    var removed = 1
    while (round < maxRounds && removed > 0) {
      java.util.Arrays.fill(deg, 0)
      for (i <- src.indices)
        if (alive(src(i)) && alive(dst(i))) deg(src(i)) += 1
      removed = 0
      for (v <- 0 until n)
        if (alive(v) && deg(v) < k) { alive(v) = false; removed += 1 }
      round += 1
    }
    val out = new java.util.ArrayList[Row](n)
    for (v <- 0 until n if alive(v)) out.add(Row(ids(v)))
    e.sparkSession.createDataFrame(out,
        StructType(Seq(e.schema("a").copy(name = "id"))))
      .iterCkpt(level)
  }

  /** Multi-source BFS hop distances over the undirected graph —
    * unweighted single/multi-source shortest paths, the reachability
    * primitive (blast radius of a contaminated source, provenance
    * neighborhoods, "how far is every doc from the seed set").
    * Frontier expansion: hop h joins the CURRENT frontier to the edge
    * list (one equi join — shuffle keyed by node id), anti-joins the
    * already-settled set (BFS settles a node at its FIRST reach, which
    * in unweighted graphs is its minimum hop count — no re-relaxation,
    * unlike weighted Dijkstra), and stops EARLY when a frontier
    * empties (the kcore discipline; `maxHops` is the runaway cap, not
    * the expected round count). Each round's frames are
    * localCheckpointed and the superseded generation released — state
    * is O(settled + frontier), never the lineage of h joins.
    * Output: (id, dist) for every node within `maxHops` of a seed;
    * unreachable nodes are ABSENT, not infinity — filter or outer-join
    * downstream, don't invent a sentinel.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame =
    bfsDistancesReleasable(edges, seeds, maxHops)._1

  /** [[bfsDistances]] plus a release handle for the final settled
    * checkpoint; internal checkpoints are released before return. */
  def bfsDistancesReleasable(edges: DataFrame, seeds: DataFrame,
                             maxHops: Int,
                             broadcastFrontierMax: Long = 1000000L)
      : (DataFrame, () => Unit) = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val e = undirected(edges).iterCkpt(ser)
    // UNION-OF-CHECKPOINTS accumulation (the reachFromSeedsTagged
    // pattern): each hop checkpoints ONLY its newly-reached (id, dist)
    // frontier, and the settled set is the lazy union of the per-hop
    // parts — the previous shape re-materialized the ENTIRE settled
    // set per round (a second checkpoint job copying all prior hops'
    // rows again), which is both a driver-round job the gr11 lane
    // pays per hop and O(settled) redundant storage writes per round
    // at cluster scale. One checkpoint + one count job per hop now.
    val parts = scala.collection.mutable.Buffer[DataFrame]()
    // checkpoint + early-stop count fold to ONE job per hop
    // (Ckpt.counted — r19, guide §2 driver-round latency)
    var (frontier, frontierN) = seeds.select(col("id")).distinct()
      .withColumn("dist", lit(0)).iterCkptCounted(ser)
    parts += frontier
    var settledIds = frontier.select("id"): DataFrame
    // the frontier size is already KNOWN each round (the early-stop
    // count), so the expansion join dispatches on it for free: a small
    // frontier broadcasts — the edge list is scanned map-side with NO
    // exchange, the common regime since frontiers start at |seeds| and
    // drain toward 0 — and only a genuinely wide wavefront pays the
    // shuffle join (broadcasting it would OOM the executors). The
    // geocodeAuto dispatch discipline; measured 92.5 s → (see PERF.md
    // bfs) on a 25-round 1M-node lattice where every frontier is 1000
    // rows.
    var hop = 0
    while (hop < maxHops && frontierN > 0) {
      hop += 1
      val f = frontier.select(col("id").as("a"))
      val (reached, n) = e
        .join(if (frontierN <= broadcastFrontierMax) broadcast(f) else f,
          "a")
        .select(col("b").as("id")).distinct()
        .join(settledIds, Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .iterCkptCounted(ser)
      frontierN = n
      if (frontierN == 0) {
        graft.Release(reached)
      } else {
        parts += reached
        settledIds = settledIds.unionByName(reached.select("id"))
        frontier = reached
      }
    }
    graft.Release(e)
    // Release on a union frame only frees LogicalRDD LEAVES it can see
    // eagerly — return an explicit all-parts closure (the reachFrom/
    // SCC discipline) so no generation leaks past the handle.
    val allParts = parts.toVector
    (allParts.reduce(_ unionByName _), () => allParts.foreach(graft.Release(_)))
  }

  /** Directed multi-source reachability: the settled id set reachable
    * FROM `seeds` (seeds included), plus the release handle for the
    * per-hop frontier checkpoints. One region tag (0) over
    * [[reachFromSeedsTagged]] — a single frontier loop to maintain
    * (review r17), same loud undrained-frontier `require`.
    */
  private def reachFromSeeds(e: DataFrame, seeds: DataFrame,
                             maxHops: Int,
                             broadcastFrontierMax: Long = 1000000L)
      : (DataFrame, () => Unit) = {
    val (tagged, rel) = reachFromSeedsTagged(e,
      seeds.select(col("id")).withColumn("reg", lit(0L)),
      maxHops, broadcastFrontierMax)
    (tagged.select("id"), rel)
  }

  /** REGION-TAGGED directed multi-source reachability — the multi-pivot
    * FB-trim workhorse: seeds are (id, reg) pairs over an edge frame
    * whose edges are already intra-region (weak-component seeding or
    * the FB cross-class drop guarantee this), so a wavefront can never
    * cross regions and the settled set carries each id's region along
    * for free. Same frontier loop, union-of-checkpoints accumulation,
    * frontier-size broadcast dispatch, and loud undrained-frontier
    * `require` as [[reachFromSeeds]].
    */
  private def reachFromSeedsTagged(e: DataFrame, seeds: DataFrame,
                                   maxHops: Int,
                                   broadcastFrontierMax: Long = 1000000L)
      : (DataFrame, () => Unit) = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val frontiers = scala.collection.mutable.Buffer[DataFrame]()
    // checkpoint + early-stop count fold to ONE job per hop
    // (Ckpt.counted — r19, guide §2 driver-round latency)
    var (frontier, frontierN) = seeds.select(
      col("id").cast("long").as("id"),
      col("reg").cast("long").as("reg")).distinct().iterCkptCounted(ser)
    frontiers += frontier
    var seen = frontier: DataFrame
    var hop = 0
    // a throw (the drain require, a failed job) frees the frontiers made
    // so far: no caller holds a handle to them yet
    try while (frontierN > 0) {
      hop += 1
      require(hop <= maxHops,
        s"reachFromSeedsTagged: frontier not drained after $maxHops hops" +
          " — raise maxHops (a truncated reach would silently split SCCs)")
      val f = frontier.withColumnRenamed("id", "a")
      val (reached, n) = e
        .join(if (frontierN <= broadcastFrontierMax) broadcast(f) else f,
          "a")
        .select(col("b").as("id"), col("reg")).distinct()
        .join(seen.select("id"), Seq("id"), "left_anti")
        .iterCkptCounted(ser)
      frontierN = n
      if (frontierN == 0) graft.Release(reached)
      else {
        frontiers += reached
        seen = seen.unionByName(reached)
        frontier = reached
      }
    } catch {
      case t: Throwable => frontiers.foreach(graft.Release(_)); throw t
    }
    (seen, () => frontiers.foreach(graft.Release(_)))
  }

  /** Driver-round telemetry for the last SCC run (PERF.md bookkeeping):
    * the number of multi-pivot rounds the decomposition took. */
  @volatile private[graft] var lastSccPivotRounds: Int = -1

  // dev-only phase tracer (GRAFT_SCC_TRACE=1): wall time per SCC phase,
  // for the r19 driver-round audit; zero cost when unset
  private val sccTrace = sys.env.get("GRAFT_SCC_TRACE").contains("1")
  @inline private def traced[A](name: String)(body: => A): A =
    if (!sccTrace) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[scc-trace] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** Runs `a` on a second driver thread while `b` runs on this one: two
    * independent materializations overlap, so the wall cost is the
    * slower side, not the sum. Both sides are joined whatever
    * happens, so no background job outlives its caller. A throw is
    * rethrown, with the other side's error, if any, added as
    * suppressed; each side registers what it checkpoints in the
    * caller's [[Held]], which frees the side that did materialize.
    */
  private def overlap[A, B](a: => A, b: => B): (A, B) = {
    val fa = new java.util.concurrent.FutureTask[A](() => a)
    scala.concurrent.ExecutionContext.global.execute(fa)
    val rb: Either[Throwable, B] =
      try Right(b) catch { case t: Throwable => Left(t) }
    val ra: Either[Throwable, A] = try Right(fa.get()) catch {
      case x: java.util.concurrent.ExecutionException => Left(x.getCause)
      case t: Throwable => Left(t)
    }
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case _ =>
        val errs = Seq(rb, ra).collect { case Left(t) => t }
        errs.tail.foreach(t => if (t ne errs.head) errs.head.addSuppressed(t))
        throw errs.head
    }
  }

  /** What one operator call has checkpointed, so that a throw anywhere
    * in it frees all of it (see [[held]]). [[graft.Release]] is
    * idempotent, so a frame the loop already freed is a no-op.
    * Registration is thread-safe, for [[overlap]]'s second thread. */
  private final class Held {
    private val rels =
      new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    def apply(df: DataFrame): DataFrame = {
      rels.add(() => graft.Release(df)); df
    }
    def counted(p: (DataFrame, Long)): (DataFrame, Long) = { apply(p._1); p }
    def handle(p: (DataFrame, () => Unit)): (DataFrame, () => Unit) = {
      rels.add(p._2); p
    }
    def releaseAll(): Unit = rels.forEach(_())
  }

  /** Runs an operator body; if it throws, everything it registered in
    * its [[Held]] is released before the error propagates. */
  private def held[A](body: Held => A): A = {
    val h = new Held
    try body(h) catch { case t: Throwable => h.releaseAll(); throw t }
  }

  /** Strongly connected components of a DIRECTED edge frame — the
    * web-graph dedup workhorse (mirror rings, link farms, mutually-
    * citing template families are SCCs; mere co-linking is not).
    * Output: (id, scc) for every edge endpoint, `scc` = the MIN id in
    * the component (deterministic, engine-independent).
    *
    * Algorithm: Multistep (Slota et al. 2014) — FB-Trim (forward-
    * backward reachability with trimming, the standard distributed SCC
    * decomposition, Orzan's coloring family) finished serially once
    * the remaining problem is small, driven as a DataFrame loop. The
    * raw edges are checkpointed and counted first (one job); an input
    * of at most [[LocalFinishMaxEdges]] edges is already small, so it
    * skips the loop: it is collected and labelled on the driver as in
    * step 2, and comes back as one checkpointed frame. Otherwise:
    *
    *  1. TRIM, repeatedly: a node with no in-edge or no out-edge in
    *     the REMAINING subgraph can sit in no cycle — it is a
    *     singleton SCC. One anti-join peels the whole class per
    *     round, so bow-tie tendrils (the BULK of a web graph: IN/OUT
    *     pages, dead ends) drain in a few rounds at any scale,
    *     without ever paying a reachability pass.
    *  2. FINISH, when a trim fixpoint leaves at most
    *     [[LocalFinishMaxEdges]] edges: collect them and label every
    *     remaining node with an iterative Tarjan on the driver. At the
    *     trim fixpoint every remaining node has an in- and an out-edge,
    *     and after a pivot round the edges are intra-region only (no
    *     SCC crosses regions), so the collected edges are the whole
    *     remaining problem. A trim or pivot round is several tiny
    *     driver-synchronous jobs whatever the graph's size; on a small
    *     graph the collect and the serial pass cost a fraction of one
    *     round (PERF.md "SCC serial finish", "SCC and semantic dedup
    *     on the driver").
    *  3. Otherwise PIVOT, one per REGION per round (parallel FB):
    *     regions seed as the weak components of the trimmed core and
    *     refine by the FB theorem (F\SCC / B\SCC / remainder) after
    *     each round; forward-reach ∩ backward-reach from each region's
    *     min id IS that pivot's SCC ([[reachFromSeedsTagged]] both
    *     ways on the trimmed subgraph; the frontier-size dispatch
    *     broadcasts small wavefronts). Assign, subtract, re-trim.
    *
    * Scale shape: every distributed step is an equi/anti join or a
    * distinct on id — no windows, no collects except the bounded
    * finish. Superseded generations are localCheckpointed and released
    * (the kcore discipline), so state is O(remaining + assigned), and
    * a call that throws releases what it made. Rounds: trim rounds are
    * bounded by the longest tendril CHAIN, pivot rounds by the DEPTH
    * of the FB recursion above the finish bound (disconnected families
    * all resolve in round 1 off the weak-component seeding) — both
    * guarded by loud `require`s, never silent truncation. A
    * condensation that is one long path of big SCCs inside one weak
    * component is the documented worst case (one pivot per round),
    * the same trade every published FB-trim makes.
    */
  def stronglyConnectedComponents(edges: DataFrame, maxPivotRounds: Int,
                                  maxHops: Int,
                                  maxTrimRounds: Int = 64): DataFrame =
    stronglyConnectedComponentsReleasable(edges, maxPivotRounds, maxHops,
      maxTrimRounds)._1

  /** [[stronglyConnectedComponents]] plus a release handle for the
    * final assigned checkpoint. */
  def stronglyConnectedComponentsReleasable(edges: DataFrame,
      maxPivotRounds: Int, maxHops: Int, maxTrimRounds: Int = 64)
      : (DataFrame, () => Unit) =
    sccReleasable(edges, maxPivotRounds, maxHops, maxTrimRounds)

  /** [[stronglyConnectedComponentsReleasable]] with the finish bound
    * open: a negative `localFinishMaxEdges` forces the distributed
    * path; one below the raw edge count runs trim rounds, and pivot
    * rounds too while the trimmed core stays above it, before the
    * finish. */
  private[graft] def sccReleasable(edges: DataFrame, maxPivotRounds: Int,
      maxHops: Int, maxTrimRounds: Int = 64,
      localFinishMaxEdges: Long = LocalFinishMaxEdges)
      : (DataFrame, () => Unit) = held { h =>
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // the raw edges, checkpointed once and counted (one job): the
    // dispatch needs no job of its own, and the distributed path
    // derives its edge and node sets from these blocks instead of
    // evaluating the input twice
    val (raw, rawN) = h.counted(edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).iterCkptCounted(ser))
    val out =
      if (rawN <= localFinishMaxEdges) {
        // Multistep's rule applied to the whole input: no trim round
        lastSccPivotRounds = 0
        val part = h(traced("local scc")(sccLocalPart(raw, ser)))
        (part, () => graft.Release(part))
      } else sccRounds(h, raw, maxPivotRounds, maxHops, maxTrimRounds,
        localFinishMaxEdges, ser)
    graft.Release(raw)
    out
  }

  /** The trim → pivot → finish loop of [[sccReleasable]] over the
    * checkpointed raw edges `raw`, which it releases once the working
    * edge and node sets are materialized. */
  private def sccRounds(h: Held, raw: DataFrame, maxPivotRounds: Int,
      maxHops: Int, maxTrimRounds: Int, localFinishMaxEdges: Long,
      ser: org.apache.spark.storage.StorageLevel)
      : (DataFrame, () => Unit) = {
    // self-loops are cycle-irrelevant for MULTI-node SCCs (a is always
    // in scc(a)), so the working edge set drops them to keep the trim
    // rule exact — but the NODE set must come from the raw endpoints:
    // a page whose only links are self-links (common in web graphs) is
    // still a valid singleton SCC member of the output contract.
    // A null endpoint is no node (as on the driver route): a null id
    // would survive every anti join and count as a single each round.
    // Every edge checkpoint is counted (one job either way), so the
    // finish dispatch needs no job of its own. Edges and nodes are
    // independent materializations of the raw blocks: overlapped.
    var ((e, eN), (nodes, remN)) = overlap(
      h.counted(raw.filter(col("a") =!= col("b")).distinct()
        .iterCkptCounted(ser)),
      h.counted(raw.select(col("a").as("id"))
        .unionByName(raw.select(col("b").as("id")))
        .filter(col("id").isNotNull).distinct()
        .iterCkptCounted(ser)))
    graft.Release(raw)
    // assigned components accumulate as a BUFFER of checkpointed
    // parts unioned lazily at the end — re-checkpointing the growing
    // union per round is the same O(n·rounds) rewrite reachFrom
    // avoids; each part is written once and released through the
    // handle
    val parts = scala.collection.mutable.Buffer[DataFrame]()
    // MULTI-PIVOT rounds (r16 verdict item 4): one pivot per remaining
    // REGION per round, not one per round globally — the standard
    // parallel FB-trim. Regions start as the weak components of the
    // post-trim core (one distributed CC pass, so every disconnected
    // family resolves its pivot in round 1 instead of queueing), and
    // refine by the FB theorem after each round: every SCC not
    // containing its region's pivot lies entirely within F\SCC, B\SCC,
    // or the untouched remainder, so those three classes become the
    // next round's regions (relabeled by min id — labels stay plain
    // longs at any depth) and cross-class edges are dropped. Rounds
    // now scale with the DEPTH of the FB recursion, not the COUNT of
    // non-trivial components; a condensation that is one long path of
    // big SCCs inside one weak component remains the documented
    // one-pivot-per-round worst case.
    var pivots = 0
    var regNodes: DataFrame = null // (id, reg); null until first pivot
    while (remN > 0) {
      // trim to fixpoint — 3 driver jobs per peeling round and ONE for
      // the fixpoint check, down from 5/2 (r18 verdict item 2, guide §2
      // driver-round latency): the singles checkpoint and its count
      // fold into one job (Ckpt.counted), and the remaining-node count
      // is ARITHMETIC (remN - nSingles — the peel partitions nodes
      // exactly), never a re-count job. The node/edge subtract
      // checkpoints stay one job each (each must materialize before its
      // predecessor is released — the O(current-round) state
      // discipline).
      var trimming = true
      var tr = 0
      while (trimming && remN > 0) {
        tr += 1
        require(tr <= maxTrimRounds,
          s"SCC trim did not drain in $maxTrimRounds rounds — tendril " +
            "chains deeper than the cap; raise maxTrimRounds")
        traced(s"trim round $tr") {
        val core = e.select(col("a").as("id")).distinct()
          .join(e.select(col("b").as("id")).distinct(), Seq("id"))
        val (singles, nSingles) = h.counted(
          nodes.join(core, Seq("id"), "left_anti")
            .withColumn("scc", col("id")).iterCkptCounted(ser))
        if (nSingles == 0) { trimming = false; graft.Release(singles) }
        else {
          parts += singles
          val ids = singles.select("id")
          // independent materializations off the same parents —
          // overlap them; release the parents only after BOTH
          // successors are materialized
          val ((e2, e2N), n2) = overlap(
            h.counted(e
              .join(ids.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
              .join(ids.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
              .iterCkptCounted(ser)),
            h(nodes.join(ids, Seq("id"), "left_anti").iterCkpt(ser)))
          graft.Release(nodes); graft.Release(e)
          nodes = n2; e = e2; eN = e2N
          remN = remN - nSingles
        }
        }
      }
      if (remN > 0 && eN <= localFinishMaxEdges) {
        // Multistep finish: the remaining edges are the whole remaining
        // problem (see the scaladoc), small enough to label serially
        parts += h(traced("local finish")(sccLocalPart(e, ser)))
        remN = 0
      } else if (remN > 0) {
        pivots += 1
        require(pivots <= maxPivotRounds,
          s"SCC pivot rounds exceeded $maxPivotRounds — the condensation " +
            "has deeper FB recursion than the cap; raise maxPivotRounds")
        if (regNodes == null) {
          // seed: one region per weak component of the trimmed core
          val (cc, relCc) = h.handle(traced("cc seeding")(
            DedupOps.clustersAutoReleasable(e)))
          regNodes = h(traced("regNodes ckpt")(nodes.join(
            cc.select(col("member").as("id"), col("cluster_rep").as("reg")),
            Seq("id")).iterCkpt(ser)))
          relCc()
        } else {
          // trim since last round may have removed region members
          val rn = h(regNodes.join(nodes, Seq("id")).iterCkpt(ser))
          graft.Release(regNodes); regNodes = rn
        }
        // pivot = min id per region: a 2-column aggregate, no collect.
        // pid IS its SCC's min (pid ∈ its SCC ⊆ its region, and pid is
        // the region min), preserving the output contract.
        val pvts = h(traced("pivot agg")(regNodes.groupBy(col("reg"))
          .agg(min(col("id")).as("pid")).iterCkpt(ser)))
        val seeds = pvts.select(col("pid").as("id"), col("reg"))
        // the two reaches are INDEPENDENT BFS loops over the same
        // materialized edge checkpoint — overlapped, so the wall cost
        // is max(fwd, bwd), not the sum: each loop is a chain of tiny
        // driver-synchronous frontier jobs whose tasks nowhere near
        // fill the executors, and the results are deterministic
        // regardless of interleaving (disjoint checkpoints, no shared
        // mutable state).
        val ((bwd, relB), (fwd, relF)) = overlap(
          h.handle(traced("bwd reach")(reachFromSeedsTagged(
            e.select(col("b").as("a"), col("a").as("b")), seeds, maxHops))),
          h.handle(traced("fwd reach")(
            reachFromSeedsTagged(e, seeds, maxHops))))
        val scc = h(traced("scc ckpt")(fwd.join(bwd.select("id"), Seq("id"))
          .join(pvts, Seq("reg"))
          .select(col("id"), col("pid").as("scc"))
          .iterCkpt(ser)))
        parts += scc
        // FB refinement of the remaining nodes; relabel by min id so
        // region labels never grow past a long
        val assigned = scc.select("id")
        val fOnly = fwd.join(assigned, Seq("id"), "left_anti")
          .select(col("id"), col("reg")).withColumn("k", lit(1))
        val bOnly = bwd.join(assigned, Seq("id"), "left_anti")
          .select(col("id"), col("reg")).withColumn("k", lit(2))
        val rest = regNodes
          .join(fwd.select("id"), Seq("id"), "left_anti")
          .join(bwd.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("reg")).withColumn("k", lit(3))
        val classed = fOnly.unionByName(bOnly).unionByName(rest)
        val relabel = classed.groupBy(col("reg"), col("k"))
          .agg(min(col("id")).as("nreg"))
        val regNext = h(classed.join(relabel, Seq("reg", "k"))
          .select(col("id"), col("nreg").as("reg")).iterCkpt(ser))
        relF(); relB(); graft.Release(pvts)
        // subtract assigned nodes; rebuild edges INTRA-REGION only
        // (regNext covers exactly the unassigned nodes, so the join
        // also drops assigned endpoints — no separate anti join).
        // Checkpoint + count fold: one job each (Ckpt.counted, r19);
        // node subtract and edge rebuild are independent — overlapped,
        // parents released only after both materialize
        val ((e2, e2N), (n2, n2N)) = overlap(
          h.counted(traced("pivot edge rebuild")(e
            .join(regNext.select(col("id").as("a"), col("reg").as("rega")),
              Seq("a"))
            .join(regNext.select(col("id").as("b"), col("reg").as("regb")),
              Seq("b"))
            .filter(col("rega") === col("regb"))
            .select(col("a"), col("b")).iterCkptCounted(ser))),
          h.counted(traced("pivot subtract")(
            nodes.join(assigned, Seq("id"), "left_anti")
              .iterCkptCounted(ser))))
        graft.Release(nodes); graft.Release(e); graft.Release(regNodes)
        nodes = n2; e = e2; eN = e2N; regNodes = regNext
        remN = n2N
      }
    }
    lastSccPivotRounds = pivots
    if (regNodes != null) graft.Release(regNodes)
    graft.Release(nodes); graft.Release(e)
    if (parts.isEmpty) // edgeless, on the forced-distributed path
      (raw.sparkSession.range(0)
        .select(col("id"), col("id").as("scc")), () => ())
    else {
      val kept = parts.toSeq
      (kept.reduce(_ unionByName _), () => kept.foreach(graft.Release(_)))
    }
  }

  /** The serial SCC as one checkpointed (id, scc) part: collect the
    * edges `e` and label their endpoints with [[sccMinLabels]] — the
    * whole input below the finish bound, or what the trim and pivot
    * rounds left. The labels are checkpointed, not left a local
    * relation, so a union of parts reads blocks instead of shipping
    * the rows inside every task. Duplicate edges and self-loops need
    * no care: a node whose only edges are self-loops is its own
    * component. A null endpoint is no node; the other end of a
    * half-null edge stays one, as a self-loop. */
  private def sccLocalPart(e: DataFrame,
                           level: org.apache.spark.storage.StorageLevel)
      : DataFrame = {
    val rows = e.select(coalesce(col("a"), col("b")),
      coalesce(col("b"), col("a"))).na.drop().collect()
    val (ids, scc) =
      sccMinLabels(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    val out = new java.util.ArrayList[Row](ids.length)
    for (i <- ids.indices) out.add(Row(ids(i), scc(i)))
    e.sparkSession.createDataFrame(out, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("scc", LongType, nullable = false))))
      .iterCkpt(level)
  }

  /** Strongly connected components of an edge list on the driver: an
    * iterative Tarjan (explicit call stack, so no recursion limit) over
    * a CSR adjacency. Returns every endpoint, ascending, with its
    * component's min id. Ids are densified by sort + binary search, so
    * a dense index orders like its id and a component's min index
    * names its min id. */
  private def sccMinLabels(src: Array[Long], dst: Array[Long])
      : (Array[Long], Array[Long]) = {
    val m = src.length
    val ids = {
      val all = new Array[Long](2 * m)
      System.arraycopy(src, 0, all, 0, m)
      System.arraycopy(dst, 0, all, m, m)
      java.util.Arrays.sort(all)
      var k = 0
      for (i <- all.indices)
        if (i == 0 || all(i) != all(i - 1)) { all(k) = all(i); k += 1 }
      java.util.Arrays.copyOf(all, k)
    }
    val n = ids.length
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    val off = new Array[Int](n + 1)
    s.foreach(v => off(v + 1) += 1)
    for (v <- 0 until n) off(v + 1) += off(v)
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    for (k <- 0 until m) { adj(fill(s(k))) = d(k); fill(s(k)) += 1 }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val next = new Array[Int](n) // each node's cursor into adj
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val call = new Array[Int](n)
    val label = new Array[Long](n)
    var sp = 0; var cp = 0; var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      next(v) = off(v); onStack(v) = true
      stack(sp) = v; sp += 1; call(cp) = v; cp += 1
    }
    for (root <- 0 until n if index(root) < 0) {
      visit(root)
      while (cp > 0) {
        val v = call(cp - 1)
        if (next(v) < off(v + 1)) {
          val w = adj(next(v)); next(v) += 1
          if (index(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          cp -= 1
          if (cp > 0) low(call(cp - 1)) = math.min(low(call(cp - 1)), low(v))
          if (low(v) == index(v)) {
            // v roots a component: its members sit on the stack above it
            var k = sp; var mn = Int.MaxValue
            while ({ k -= 1; mn = math.min(mn, stack(k)); stack(k) != v }) ()
            for (j <- k until sp) {
              onStack(stack(j)) = false; label(stack(j)) = ids(mn)
            }
            sp = k
          }
        }
      }
    }
    (ids, label)
  }

  /** Condensation (SCC quotient) edges: the distinct component-level
    * DAG a web-graph analysis works on once SCCs collapse — which
    * mirror families FEED which (crawl frontier ordering, dedup
    * provenance, bow-tie IN/OUT classification all read this graph,
    * which is orders of magnitude smaller than the page graph). Two
    * broadcast-able-or-shuffle equi joins of the edge list against the
    * assignment (high-cardinality id key — no skew), same-component
    * edges dropped, one distinct on the (scc_a, scc_b) pairs.
    */
  def condensationEdges(edges: DataFrame, scc: DataFrame): DataFrame = {
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    e.join(scc.select(col("id").as("a"), col("scc").as("scc_a")), Seq("a"))
      .join(scc.select(col("id").as("b"), col("scc").as("scc_b")),
        Seq("b"))
      .filter(col("scc_a") =!= col("scc_b"))
      .select(col("scc_a"), col("scc_b")).distinct()
  }

  /** Bow-tie classification (Broder et al. 2000, "Graph structure in
    * the web") over a DIRECTED graph with a standing SCC assignment:
    * the CORE is the largest component (ties to the smallest
    * component id — deterministic), IN is everything that reaches the
    * core without being in it, OUT everything the core reaches,
    * OTHER the rest (tendrils off IN/OUT, tubes, disconnected
    * regions). This is the map a crawl scheduler orders fetches by
    * and a dedup pipeline uses to bound mirror blast radius — the
    * condensation's coarsest useful summary.
    *
    * Output: (id, cls ∈ {core,in,out,other}) for every assigned node.
    * With exact (drained) reachability a non-core node can never be
    * in BOTH reach sets — a core→x→core path would put x in the core
    * component — so the in/out branches are disjoint by construction;
    * [[reachFromSeeds]]'s loud drain `require` guards the truncation
    * case that could fake it.
    *
    * Scale shape: core selection is a map-side-combined size agg into
    * a 1-row TakeOrdered (the pivot-min collect discipline); the two
    * reach passes are [[reachFromSeeds]] (frontier-size broadcast
    * dispatch, union-of-checkpoints settled set); classification is
    * two left joins on id. The result is eagerly checkpointed so the
    * reach frontiers release before return.
    */
  def bowtieClassify(edges: DataFrame, scc: DataFrame,
                     maxHops: Int): DataFrame =
    bowtieClassifyReleasable(edges, scc, maxHops)._1

  /** [[bowtieClassify]] plus the release handle for the result
    * checkpoint. */
  def bowtieClassifyReleasable(edges: DataFrame, scc: DataFrame,
      maxHops: Int): (DataFrame, () => Unit) = held { h =>
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val e = h(edges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .iterCkpt(ser))
    val top = scc.groupBy(col("scc")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("scc").asc).limit(1).collect()
    require(top.nonEmpty, "bowtieClassify: empty SCC assignment")
    val coreId = top(0).getLong(0)
    val coreNodes = h(scc.filter(col("scc") === coreId)
      .select(col("id")).iterCkpt(ser))
    // independent BFS loops over the same materialized edge checkpoint
    // — overlapped (the SCC pivot discipline): wall cost max(fwd, bwd),
    // deterministic results
    val ((bwd, relB), (fwd, relF)) = overlap(
      h.handle(reachFromSeeds(
        e.select(col("b").as("a"), col("a").as("b")), coreNodes, maxHops)),
      h.handle(reachFromSeeds(e, coreNodes, maxHops)))
    val cls = h(scc.select(col("id"), (col("scc") === coreId).as("_c"))
      .join(fwd.select(col("id"), lit(true).as("_f")), Seq("id"), "left")
      .join(bwd.select(col("id"), lit(true).as("_b")), Seq("id"), "left")
      .select(col("id"),
        when(col("_c"), "core")
          .when(col("_b").isNotNull, "in")
          .when(col("_f").isNotNull, "out")
          .otherwise("other").as("cls"))
      .iterCkpt(ser))
    relF(); relB()
    graft.Release(e); graft.Release(coreNodes)
    (cls, () => graft.Release(cls))
  }

  /** Per-node triangle counts over the UNDIRECTED graph. Edges are
    * canonically oriented low → high id so each triangle is enumerated
    * exactly once ((a,b),(b,c),(a,c) with a<b<c), then each corner
    * credited via a three-way unpivot. Id order is kept HERE so the
    * gr4 oracle is a literal replay; on hub-heavy graphs use
    * [[triangleCountsDegreeOrdered]] — same triangle set (GraphSpec
    * property-tests the equality), but the enumeration join's fan-out
    * is bounded by the lower-DEGREE endpoint instead of whichever
    * endpoint got the low id.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsReleasable(edges)._1

  /** [[triangleCounts]] plus a release handle for the canonical-edge
    * checkpoint, which the returned plan reads three times lazily and
    * therefore cannot be freed inline. */
  def triangleCountsReleasable(edges: DataFrame)
      : (DataFrame, () => Unit) = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val ce = undirected(edges).filter(col("a") < col("b"))
      .iterCkpt(ser)
    val tri = ce.as("e1")
      .join(ce.as("e2"), col("e2.a") === col("e1.b"))
      .join(ce.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val out = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tri"))
    (out, () => graft.Release(ce))
  }

  /** Local clustering coefficient per node: c(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) over the undirected graph — how close each
    * node's neighborhood is to a clique, the per-node refinement of
    * gr4's triangle counts. tri and deg are exact integers (rides
    * [[triangleCountsReleasable]] + one degree aggregate over the same
    * symmetrized edge frame); the coefficient is the repo-standard ONE
    * IEEE division (exact-int numerator 2·tri and denominator
    * deg·(deg−1), so the quotient is bit-identical in any engine).
    * Degree-0/1 nodes report 0.0 (no wedge exists), not null — absence
    * of structure is data. Same scale envelope as the triangle count
    * it composes: use the degree-ordered orientation's guidance for
    * hub-heavy graphs.
    */
  def clusteringCoefficientReleasable(edges: DataFrame)
      : (DataFrame, () => Unit) = {
    val (tri, rel) = triangleCountsReleasable(edges)
    val deg = undirected(edges).groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
    val out = deg.join(tri, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        col("deg"))
      .withColumn("coeff",
        when(col("deg") >= 2,
          (col("n_tri") * 2.0) / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
    (out, rel)
  }

  def clusteringCoefficient(edges: DataFrame): DataFrame =
    clusteringCoefficientReleasable(edges)._1

  /** [[triangleCounts]] with DEGREE-ORDERED canonical orientation —
    * the scale-safe form. Orienting u → v iff (deg(u), u) < (deg(v),
    * v) is a total order over nodes, so each triangle is still
    * enumerated exactly once (its corners sort x < y < z and the three
    * edges all point up); the wedge join `e1.b = e2.a` now fans out
    * only through a node's HIGHER-degree neighbors, so any node's
    * oriented out-degree is O(√E) regardless of its raw degree (the
    * classic arboricity bound) — a 10M-degree hub contributes ~nothing
    * instead of 10M² wedges. Under id order the same hub keeps its
    * full fan-out whenever it happens to hold a low id, which is the
    * measured blowup (ScaleSmoke `tri`: hub-heavy graph, id-ordered
    * wedge count ~d²/2 vs degree-ordered ~0). Costs two extra
    * node-keyed joins to attach degrees — noise next to the wedge join
    * it bounds.
    */
  def triangleCountsDegreeOrdered(edges: DataFrame): DataFrame =
    triangleCountsDegreeOrderedReleasable(edges)._1

  /** [[triangleCountsDegreeOrdered]] plus the canonical-edge release
    * handle ([[triangleCountsReleasable]] contract). */
  def triangleCountsDegreeOrderedReleasable(edges: DataFrame)
      : (DataFrame, () => Unit) = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val und = undirected(edges).iterCkpt(ser)
    val deg = und.groupBy(col("a").as("_n")).agg(count(lit(1)).as("_d"))
    val ce = und
      .join(deg.select(col("_n").as("a"), col("_d").as("_da")), Seq("a"))
      .join(deg.select(col("_n").as("b"), col("_d").as("_db")), Seq("b"))
      .filter(col("_da") < col("_db") ||
        (col("_da") === col("_db") && col("a") < col("b")))
      .select("a", "b")
      .iterCkpt(ser)
    graft.Release(und)
    val tri = ce.as("e1")
      .join(ce.as("e2"), col("e2.a") === col("e1.b"))
      .join(ce.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val out = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tri"))
    (out, () => graft.Release(ce))
  }

  /** Newman modularity of a community assignment over the UNDIRECTED
    * graph — the quality score for [[labelPropagation]]'s output (did
    * LPA find real structure, or noise?). Q = Σ_c [e_c/m −
    * (d_c/2m)²]; everything here stays in the directed-double-count
    * convention so it is INTEGER until the final display column:
    * per community, `dsum` = Σ degrees (= directed rows whose source
    * is in c), `inside2` = 2·e_c (directed rows with both ends in c),
    * and the exact numerator `contrib` = 2m·inside2 − dsum² — Q equals
    * Σ contrib / (2m)², and `q_share` is each community's term as ONE
    * IEEE division of exact longs (the ss13 recipe: bit-identical in
    * any engine). Integer sums are associative, so the whole report is
    * partition-invariant and oracle-replayable — a float-accumulated
    * modularity would not be.
    *
    * Unlabeled endpoints drop their edges (inner join) — with labels
    * derived from the same edge set, coverage is total. Two shuffles:
    * the label attach (node-keyed) and the per-community aggregate.
    * Overflow bound: dsum² needs dsum < 3·10⁹ per community — beyond
    * that (a single community holding 3B+ edge-endpoints), rescale
    * first. The one-row total rides a broadcast cross join, not a
    * driver action.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = undirected(edges)
    val la = labels.select(col("id").as("a"), col("lbl").as("la"))
    val lb = labels.select(col("id").as("b"), col("lbl").as("lb"))
    val tagged = e.join(la, Seq("a")).join(lb, Seq("b"))
    val tot = tagged.agg(count(lit(1)).as("two_m"))
    val contrib = col("two_m") * col("inside2") - col("dsum") * col("dsum")
    tagged.groupBy(col("la").as("lbl"))
      .agg(count(lit(1)).as("dsum"),
        count(when(col("la") === col("lb"), lit(1))).as("inside2"))
      .crossJoin(broadcast(tot))
      .select(col("lbl"), col("dsum"), col("inside2"),
        contrib.as("contrib"),
        (contrib.cast("double") /
          (col("two_m") * col("two_m")).cast("double")).as("q_share"))
  }

  /** Degree histogram of the UNDIRECTED graph: (degree, n_nodes). */
  def degreeHistogram(edges: DataFrame): DataFrame =
    undirected(edges)
      .groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
      .groupBy("deg")
      .agg(count(lit(1)).as("n_nodes"))

  /** Link prediction over the UNDIRECTED graph: for every NON-adjacent
    * pair (u < v) sharing at least `minCommon` common neighbors, the
    * three classic structural scores — `cn` (common-neighbor count),
    * `pa` (preferential attachment, du·dv) and `jaccard`
    * (cn / (du + dv − cn)) — the "which near-duplicate/provenance link
    * did the kNN build miss" query over a document graph. Scores
    * needing a float SUM (Adamic–Adar's Σ 1/log deg) are deliberately
    * absent: a merge-order-dependent accumulation can't be
    * reproducibility-gated (the PageRank rationale); cn and pa are
    * exact integers and jaccard is ONE IEEE division of exact longs
    * (the ss13 recipe), so the whole report replays bit-identically.
    *
    * Scale shape — the dd12/tx38 posting-list pattern, not a
    * neighborhood self-join: candidate pairs form MAP-SIDE from each
    * wedge center's sorted neighbor list (posexplode + slice → u < v
    * by construction), so the only exchanges are the degree attach,
    * the per-center list aggregate, and the (u, v) count — wedge
    * fan-out is d²/2 per center, bounded by `maxDegree` with the
    * in-column raise_error guard (a bare assertion projection would be
    * pruned unevaluated). Both endpoint degrees RIDE the neighbor
    * structs from the edge-side join, so no post-count degree join
    * exists — (u → du) is functionally dependent, grouping on it is
    * free. On a degree-bounded graph (mutual-kNN: deg ≤ k) every term
    * is O(k²·nodes). The final anti join against the edge set keeps
    * only MISSING links — one orientation suffices since u < v and
    * the edge set is symmetric.
    */
  def linkPrediction(edges: DataFrame, minCommon: Long = 1L,
                     maxDegree: Int = 256): DataFrame = {
    val e = undirected(edges)
    val deg = e.groupBy(col("a").as("b")).agg(count(lit(1)).as("db"))
    val ed = e.join(deg, Seq("b"))
    val ns = sort_array(collect_list(struct(col("b"), col("db"))))
    val guarded = when(size(ns) <= maxDegree, ns).otherwise(raise_error(
      concat(lit("linkPrediction: a node has degree "),
        size(ns).cast("string"),
        lit(s", over maxDegree=$maxDegree — wedge expansion is d^2 per" +
          " center; bound the graph (mutual-kNN) or raise maxDegree" +
          " deliberately"))))
    val pairs = ed.groupBy(col("a"))
      .agg(guarded.as("ns"))
      .select(posexplode(col("ns")).as(Seq("i", "x")), col("ns"))
      .select(col("x"), explode(
        slice(col("ns"), col("i") + 2, size(col("ns")))).as("y"))
      .groupBy(col("x.b").as("u"), col("y.b").as("v"),
        col("x.db").as("du"), col("y.db").as("dv"))
      .agg(count(lit(1)).as("cn"))
    pairs.filter(col("cn") >= minCommon)
      .join(e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        (col("du") * col("dv")).as("pa"),
        (col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")).cast("double")).as("jaccard"))
  }
}
