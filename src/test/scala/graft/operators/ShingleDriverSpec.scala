package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The shingle operators' driver paths (`ShingleDriver`) against their
  * distributed plans, forced with a negative bound: equal rows and an
  * equal schema, nullability included, on the lane inputs, seeded
  * corpora and the edges (caps reached exactly, short and null texts,
  * empty input, the bound itself, ids that must fall back).
  */
class ShingleDriverSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val bound = DriverPath.LocalShingleMaxRows

  /** Whether `df` was computed on the driver: a local frame. */
  private def local(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Runs `op` at `localMax` and forced distributed; asserts equal rows
    * and schema and that the path taken is `driver`. */
  private def parity(what: String, driver: Boolean, localMax: Int = bound)(
      op: Int => (DataFrame, () => Unit)): Seq[String] = {
    val (l, relL) = op(localMax)
    val (d, relD) = op(-1)
    try {
      assert(local(l) == driver, s"$what: driver path expected: $driver")
      assert(!local(d), s"$what: the forced path ran on the driver")
      assert(l.schema == d.schema,
        s"$what: schema\n${l.schema.treeString}\n${d.schema.treeString}")
      val (lr, dr) = (rows(l), rows(d))
      assert(lr == dr, s"$what: driver-only ${lr.diff(dr).take(5)}, " +
        s"distributed-only ${dr.diff(lr).take(5)}")
      lr
    } finally { relL(); relD() }
  }

  /** All three operators on `docs` (id column `doc_id`, text `text`). */
  private def all(what: String, docs: DataFrame, driver: Boolean,
                  k: Int = 3, maxDf: Int = 20, maxTruthDf: Int = 10,
                  samplePct: Int = 100, threshold: Double = 0.5,
                  theta: Double = 0.2,
                  localMax: Int = bound): Seq[Seq[String]] = Seq(
    parity(s"$what containment", driver, localMax)(b =>
      (DedupOps.containmentPairsBounded(docs, "doc_id", "text", k,
        threshold, maxDf, b), () => ())),
    parity(s"$what recall", driver, localMax)(b =>
      DedupOps.lshRecallEvalBounded(docs, "doc_id", "text", k, 16, 4,
        theta, samplePct, maxTruthDf, b)),
    parity(s"$what truth cap", driver, localMax)(b =>
      (DedupOps.lshTruthCapReportBounded(docs, "doc_id", "text", k,
        maxTruthDf, b), () => ())))

  /** The dd12 and dd18/dd19 lane inputs, built as the lanes build them. */
  private def laneInputs(): (DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val excerpts = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 20000).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 20), " ").as("text"))
    val w = split(col("text"), " ")
    val halves = docs.select((col("doc_id") + 10000000L).as("doc_id"),
      array_join(slice(w, lit(1), (size(w) / 2).cast("int")), " ")
        .as("text"))
    (docs.unionByName(excerpts), docs.unionByName(halves))
  }

  /** `n` documents over a small vocabulary, so grams repeat across
    * documents; every fifth is a near copy of an earlier one. */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 20).map(i => s"w$i")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) texts += {
      if (i % 5 == 4 && i > 0) {
        val src = texts(rnd.nextInt(i)).split(" ")
        src.updated(rnd.nextInt(src.length), "x").mkString(" ")
      } else Seq.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(20)))
        .mkString(" ")
    }
    // ids spread out, so the sample bucket picks some and not others
    texts.zipWithIndex.map { case (t, i) => (i * 7919L + seed, t) }.toSeq
  }

  test("the dd12, dd18 and dd19 operators on their sf0.001 lane inputs: driver path = distributed path") {
    val (containIn, recallIn) = laneInputs()
    val c = parity("dd12", driver = true)(b =>
      (DedupOps.containmentPairsBounded(containIn, "doc_id", "text",
        k = 3, threshold = 0.8, maxDf = 20, b), () => ()))
    assert(c.size >= 50, s"${c.size} containment rows") // the excerpts
    val r = parity("dd18", driver = true)(b =>
      DedupOps.lshRecallEvalBounded(recallIn, "doc_id", "text", 3, 16, 4,
        0.3, 10, 10, b))
    assert(r.nonEmpty)
    parity("dd19", driver = true)(b =>
      (DedupOps.lshTruthCapReportBounded(recallIn, "doc_id", "text", 3,
        10, b), () => ()))
    // the lanes themselves take the driver path
    for (lane <- Seq("dd12_containment", "dd18_lsh_recall",
        "dd19_truth_cap"))
      assert(local(SparkEntry.queries(lane)(spark, sf)), lane)
    graft.Leases.release("dd18_lsh_recall")
  }

  test("seeded random corpora: driver path = distributed path, int and long ids, sampled and capped") {
    for (seed <- Seq(3, 17, 41)) {
      val docs = corpus(seed, 60).toDF("doc_id", "text")
      all(s"seed $seed", docs, driver = true, k = 2, maxDf = 6,
        maxTruthDf = 3, samplePct = 40, threshold = 0.3, theta = 0.1)
        .foreach(r => assert(r.nonEmpty, s"seed $seed: an empty result"))
      // int ids read from parquet are nullable: the schema follows
      val dir = java.nio.file.Files.createTempDirectory("shingle-driver")
      try {
        docs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
          .write.mode("overwrite").parquet(dir.toString)
        all(s"seed $seed int ids", spark.read.parquet(dir.toString),
          driver = true, k = 1, maxDf = 8, maxTruthDf = 8, samplePct = 60,
          threshold = 0.6, theta = 0.3)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("a gram in exactly maxDf / maxTruthDf documents stays, one more drops it") {
    // "a b" is in docs 1–3 and "c d" in docs 1–4: at cap 3 the first
    // stays in the universe and the second is dropped (and reported)
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "a b c d g"),
      (4L, "z c d y"), (5L, "e f g h")).toDF("doc_id", "text")
    val Seq(contain, recall, cap) = all("cap", docs, driver = true, k = 2,
      maxDf = 3, maxTruthDf = 3, threshold = 0.1, theta = 0.05)
    assert(contain.exists(_.startsWith("[1,2,")), contain.toString)
    assert(recall.exists(_.startsWith("[1,2,")), recall.toString)
    assert(cap.size == 1 && cap.head.endsWith(",4,6]"), cap.toString)
  }

  test("texts shorter than k, a null text and empty input") {
    val docs = Seq((1L, Some("a b c d")), (2L, Some("a b")), (3L, None),
      (4L, Some("")), (5L, Some("a b c d")), (6L, Some("a  b c")))
      .toDF("doc_id", "text")
    all("short", docs, driver = true, maxTruthDf = 1, threshold = 0.1,
      theta = 0.1)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    all("empty", empty, driver = true).foreach(r => assert(r.isEmpty))
  }

  test("an input of exactly the bound runs on the driver, one more row runs the plan") {
    val docs = corpus(5, 12).toDF("doc_id", "text")
    all("at the bound", docs, driver = true, localMax = 12, k = 2)
    all("over the bound", docs, driver = false, localMax = 11, k = 2)
  }

  test("null or repeated ids fall back to the distributed plan") {
    val base = corpus(9, 10)
    val nullId = (base.map { case (i, t) => (Option(i), t) } :+
      ((Option.empty[Long], base.head._2))).toDF("doc_id", "text")
    all("null id", nullId, driver = false, k = 2)
    val repeated = (base :+ ((base.head._1, base(1)._2)))
      .toDF("doc_id", "text")
    all("repeated id", repeated, driver = false, k = 2)
  }

  test("the dd18 lane on sf0.001 runs at most 2 Spark jobs before its result is consumed") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val groups = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(e.jobId)
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.put(_, e.jobId))
      }
    }
    // job ids are handed out in submission order: the jobs between two
    // marker jobs are the ones the lane call submitted
    def marker(group: String): Int = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!groups.containsKey(group)) {
        assert(System.nanoTime() < deadline, s"no start event for $group")
        Thread.sleep(20)
      }
      groups.get(group)
    }
    sc.addSparkListener(listener)
    try {
      val from = marker("dd18-from")
      val out = SparkEntry.queries("dd18_lsh_recall")(spark, sf)
      val to = marker("dd18-to")
      val n = jobs.toArray.count { case j: Int => j > from && j < to }
      assert(n <= 2, s"the dd18 lane ran $n jobs before its result was read")
      assert(local(out))
      assert(out.count() > 0)
    } finally {
      sc.removeSparkListener(listener)
      graft.Leases.release("dd18_lsh_recall")
    }
  }

  test("DriverPath.round is Spark's round(x, 4)") {
    val xs = Seq(0.00005, 0.00015, 0.00025, 1.00005, 2.50005, 0.12345,
      0.99995, -0.00005, -0.12345, -2.50005, -0.99995, 1.0E-5, 5.0E-5,
      -5.0E-5, 1.2345E-7, 1.0E20, -3.0E-10, 0.0, -0.0, 1.0 / 3, 2.0 / 3,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue) ++ {
      val rnd = new scala.util.Random(4)
      Seq.fill(200)((rnd.nextInt(2000000) - 1000000) / 1e6 + 5e-5)
    }
    val spark4 = xs.toDF("x").select(round(col("x"), 4)).as[Double]
      .collect().toSeq
    xs.zip(spark4).foreach { case (x, s) =>
      val d = DriverPath.round(x, 4)
      assert(d.equals(s), s"round($x, 4): driver $d, Spark $s")
    }
  }
}
