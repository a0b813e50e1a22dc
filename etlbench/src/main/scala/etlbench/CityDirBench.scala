package etlbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.CityDirectories
import graft.geocode.Geocoder
import graft.model.{GeoAddress, LineRecord, PageRecord}
import graft.operators.{CityDirOps, TransformOps}
import graft.parse.EntryParser
import graft.sources.{Hocr, HocrArchive, Manifest}
import Main._

/** The paper's four-step ETL (parse, geocode, transform, NDJSON sink) over
  * a generated corpus, run as one operation: manifest page in, tagged-union
  * NDJSON out. Every execution's output is read back and checked against
  * the generator's books.
  */
final class CityDirBench(a: Args, shape: CityDirCorpus.Shape) {

  private var spark: SparkSession = _
  private var corpus: CityDirCorpus.Corpus = _
  private var dimPath: String = _

  private def dimension: Dataset[GeoAddress] = {
    val s = spark
    import s.implicits._
    s.read.parquet(dimPath).as[GeoAddress]
  }

  /** Start a session and write the corpus and its dimension. */
  private def setup(round: Int): Double = time {
    Option(spark).foreach(_.stop())
    spark = session(a, a.cores)
    val dir = a.work.resolve(s"corpus-$round")
    CityDirBench.delete(a.work.resolve(s"corpus-${round - 1}"))
    CityDirBench.delete(dir)
    corpus = CityDirCorpus.write(dir, a.seed, shape, a.cores)
    dimPath = dir.resolve("dimension").toString
    val s = spark
    import s.implicits._
    s.createDataset(corpus.dimension).coalesce(1).write.parquet(dimPath)
  }._2

  /** The timed operation, as the engine's own entry point composes it. */
  private def pipeline(out: String): Unit = {
    val manifest = Manifest.load(spark,
      Files.readString(Paths.get(corpus.manifestPath)))
    val dim = dimension
    val lines = CityDirectories.parse(spark, manifest, corpus.archiveDir,
      corpus.minYear, corpus.maxYear, EntryParser.standaloneStreetsFrom(dim))
    val geocoded = CityDirectories.geocode(spark, lines, dim)
    CityDirectories.writeUnion(CityDirectories.transform(geocoded), out)
  }

  /** Read the sink back and hold it to the books. Returns whether every
    * invariant holds, and an order-independent digest of the records.
    * Record counts are checked every time; unique ids, pages and relation
    * targets only when `full`, since an output whose digest matches a
    * fully checked one is the same output.
    */
  private def check(out: String, full: Boolean): (Boolean, String) = {
    val e = corpus.expected
    val recs = spark.read.text(out)
    val err = get_json_object(col("value"), "$.error")
    def n(c: org.apache.spark.sql.Column) = count(when(c, lit(1)))
    val r = recs.agg(
      n(col("type") === "object"), n(col("type") === "relation"),
      n(col("type") === "log" && err.startsWith("Address not found: ")),
      n(col("type") === "log" && err === "Coult not create ID"),
      count(lit(1)),
      bit_xor(xxhash64(col("type"), col("value"))),
      sum(hash(col("type"), col("value")).cast("long"))).head()
    val Seq(objects, relations, missLogs, idLogs, total) =
      (0 until 5).map(r.getLong)
    val dg = f"$total:${r.getLong(5)}%016x:${Option(r.get(6)).getOrElse(0L)}"
    val counts = Seq(objects, relations, missLogs, idLogs,
      total - objects - relations - missLogs - idLogs)
    val wantCounts = Seq(e.objects, e.relations, e.missLogs, e.idLogs, 0L)
    if (!full) {
      if (counts != wantCounts) note(s"check: (objects, relations, miss " +
        s"logs, id logs, other records) = $counts, expected $wantCounts")
      return (counts == wantCounts, dg)
    }
    val objs = recs.filter(col("type") === "object").select(
      get_json_object(col("value"), "$.id").as("id"),
      get_json_object(col("value"), "$.data.volumeUuid").as("v"),
      get_json_object(col("value"), "$.data.pageNum").as("p"))
    val o = objs.agg(countDistinct(col("id")), countDistinct(col("v"), col("p")))
      .head()
    val strays = recs.filter(col("type") === "relation")
      .select(get_json_object(col("value"), "$.to").as("to"))
      .join(broadcast(spark.read.parquet(dimPath).select(col("addressId")
        .as("to"))), Seq("to"), "left_anti").count()
    val got = counts ++ Seq(o.getLong(0), o.getLong(1), strays)
    val want = wantCounts ++ Seq(e.objects, e.bodyPages - e.pagesFailed, 0L)
    if (got != want) note(s"check: (objects, relations, miss logs, id logs, " +
      s"other records, distinct ids, pages, unknown targets) = $got, " +
      s"expected $want")
    (got == want, dg)
  }

  private var reference: Option[String] = None
  private var matched = 0L

  /** One checked execution of `op` writing to `out`; its time if it
    * passed. The first execution's digest becomes the reference every
    * later output must match; the last output is checked in full.
    */
  private def execute(report: Report, what: String, out: String)(
      op: => Double): Option[Double] =
    report.attempt(what) {
      val t = op
      val ((ok, dg), tc) = time(check(out, full = false))
      note(f"$what: $t%.3f s, check $tc%.3f s")
      if (reference.isEmpty) {
        reference = Some(dg)
        note(s"output digest $dg")
      }
      val same = ok && reference.contains(dg)
      if (same) matched += 1
      (t, same)
    }

  def run(report: Report): Unit = {
    val out = a.work.resolve("out").toString
    def fused(what: String) = execute(report, what, out)(time(pipeline(out))._2)
    // the cold execution directly follows the first set-up in a fresh JVM
    val first = setup(1)
    note(s"expected ${corpus.expected}")
    val cold = fused("cold")
    report.metric("cold_s", cold.getOrElse(0.0), "s")
    report.heapCheckpoint()
    // JIT compilation is still settling over the first two warm executions
    (1 to 2).foreach(i => fused(s"warm-up $i"))
    if (a.trace) traced(report, out, fused)
    else {
      val t0 = System.nanoTime()
      val warm = mutable.ArrayBuffer.empty[Double]
      var i = 0
      while ((System.nanoTime() - t0) / 1e9 < a.seconds || i < 3) {
        i += 1
        warm ++= fused(s"warm $i")
      }
      note(s"warm ${warm.map(w => f"$w%.3f").mkString(" ")} s")
      report.metric("wall_s", medianOf(warm.toSeq), "s")
      report.heapCheckpoint()
    }
    // every execution that matched the reference digest produced this
    // output, so they all fail if it does not hold in full
    if (!check(out, full = true)._1) report.failed += matched
    reference.foreach(d => report.extra("digest") = jsonString(d))
    if (!a.trace) moreSetups(report, first, setup)
  }

  /** Per-layer run: untraced and traced fused executions, then each step
    * alone on its materialized input, then the fused pipeline on one core.
    */
  private def traced(report: Report, out: String,
                     fused: String => Option[Double]): Unit = {
    val e = corpus.expected
    val untraced = medianOf((1 to 2).flatMap(i => fused(s"warm $i")))
    val c = new SparkCollector
    spark.sparkContext.addSparkListener(c)
    def tracedFused(name: String) = execute(report, name, out)(
      c.span(spark.sparkContext, name)(pipeline(out))._2)
    tracedFused("fused1")
    val t = tracedFused("fused2").getOrElse(0.0)
    val f = c.stats(spark.sparkContext, "fused2")
    report.metric("trace.fused_s", t, "s")
    report.metric("trace.overhead_ratio", t / untraced, "ratio")
    report.metric("pipeline.lines_per_s", e.bodyLines / untraced, "1/s")
    report.metric("scan.reads_per_archive",
      f.archiveBytes.toDouble / e.corpusBytes, "ratio")
    report.metric("spark.jobs", f.jobs, "count")
    report.metric("spark.stages", f.stages, "count")
    report.metric("spark.tasks", f.tasks.toDouble, "count")
    report.metric("spark.shuffle_write_bytes", f.shuffleWriteBytes.toDouble, "B")
    report.metric("spark.spill_bytes", f.spillBytes.toDouble, "B")
    report.metric("spark.gc_s", f.gcS, "s")
    report.metric("spark.task_skew", f.taskSkew, "ratio")
    report.metric("spark.core_util", f.runS / (t * a.cores), "ratio")

    // the first pass plans and compiles each step; the second, reported
    // pass runs on warm plans
    stepwise(report, c, a.work.resolve("out-steps").toString, "warm-up.")
    stepwise(report, c, a.work.resolve("out-steps").toString, "")

    spark.stop()
    spark = session(a, 1)
    val one = fused("one core").getOrElse(0.0)
    report.metric("scaling.speedup_1_to_n", one / untraced, "ratio")
  }

  /** Each step alone on its materialized input; spans are named with
    * `tag` so that passes do not mix.
    */
  private def stepwise(report: Report, c: SparkCollector, out: String,
                       tag: String): Unit = {
    val sc = spark.sparkContext
    val e = corpus.expected
    def step[A](name: String)(body: => A): A = {
      val (v, t) = c.span(sc, tag + name)(body)
      report.metric(s"$name.s", t, "s")
      v
    }
    // materialize a step's output, untimed, as the next step's input
    def keep[A](ds: Dataset[A]): Dataset[A] = { ds.persist().count(); ds }

    report.attempt("steps") {
      val inRange = step("manifest") {
        val m = Manifest.load(spark,
          Files.readString(Paths.get(corpus.manifestPath)))
        keep(m.filter(CityDirOps.yearInterval(col("yearMin"), col("yearMax"),
          corpus.minYear, corpus.maxYear)))
      }
      step("scan")(digest(
        HocrArchive.readPages(spark, corpus.archiveDir, inRange).toDF()))
      val pages = keep(HocrArchive.readPages(spark, corpus.archiveDir, inRange))

      val acc = Seq.fill(4)(sc.longAccumulator)
      step("detect")(digest(CityDirBench.detect(pages, Some(acc)).toDF()))
      val lines = keep(CityDirBench.detect(pages, None))
      val Seq(detected, failed, allLines, inColumn) = acc.map(_.value.longValue)

      val dim = dimension
      def parsed(standalone: Set[String]) = lines.toDF()
        .withColumn("text", CityDirOps.collapseDots(col("text")))
        .withColumn("parsed", EntryParser.parseEntry(col("text"), standalone))
      step("parse")(digest(parsed(EntryParser.standaloneStreetsFrom(dim))))
      val parsedLines = keep(parsed(EntryParser.standaloneStreetsFrom(dim)))

      val (index, tIndex) = c.span(sc, tag + "geocode.index")(
        Geocoder.buildIndex(spark, dim))
      report.metric("geocode.index_build_s", tIndex, "s")
      step("geocode")(digest(Geocoder.geocode(parsedLines, index)))
      val geocoded = keep(Geocoder.geocode(parsedLines, index))

      step("transform")(digest(TransformOps.taggedUnion(geocoded)))
      val records = keep(TransformOps.taggedUnion(geocoded))
      step("sink")(CityDirectories.writeUnion(records, out))

      val scan = c.stats(sc, tag + "scan")
      report.metric("scan.archives_read", scan.archiveRecords.toDouble, "count")
      report.metric("scan.bytes_read", scan.archiveBytes.toDouble, "B")
      report.metric("scan.useful_byte_ratio",
        e.selectedBytes.toDouble / math.max(1L, scan.archiveBytes), "ratio")
      report.metric("detect.pages", detected.toDouble, "count")
      report.metric("detect.pages_failed", failed.toDouble, "count")
      report.metric("detect.in_column_ratio",
        inColumn.toDouble / math.max(1L, allLines), "ratio")
      val p = parsedLines.agg(count(lit(1)),
        sum(size(col("parsed.locations")))).head()
      report.metric("parse.lines", p.getLong(0).toDouble, "count")
      report.metric("parse.locations", p.getLong(1).toDouble, "count")
      val g = geocoded.select(explode(col("geocoded")).as("g"))
        .agg(count(lit(1)), count(when(col("g.found"), lit(1)))).head()
      report.metric("geocode.lookups", g.getLong(0).toDouble, "count")
      report.metric("geocode.hit_ratio",
        g.getLong(1).toDouble / math.max(1L, g.getLong(0)), "ratio")
      val kinds = records.groupBy("type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("object", "relation", "log").foreach { k =>
        report.metric(s"transform.records.$k", kinds.getOrElse(k, 0L).toDouble,
          "count")
      }
      val files = CityDirBench.files(Paths.get(out))
        .filter(_.getFileName.toString.startsWith("part-"))
      report.metric("sink.files", files.size.toDouble, "count")
      report.metric("sink.bytes_written", files.map(Files.size).sum.toDouble, "B")

      Seq(inRange, pages, lines, parsedLines, geocoded, records)
        .foreach(_.unpersist())
      val pagesOk = detected + failed == e.bodyPages && failed == e.pagesFailed &&
        inColumn == e.inColumnLines && scan.archiveRecords == e.archives
      if (!pagesOk) note(s"steps: (pages read, failed, in-column lines, " +
        s"archives read) = ${(detected + failed, failed, inColumn,
          scan.archiveRecords)}, expected ${(e.bodyPages, e.pagesFailed,
          e.inColumnLines, e.archives)}")
      val (ok, dg) = check(out, full = true)
      ((), ok && pagesOk && reference.contains(dg))
    }
  }
}

object CityDirBench {

  /** `cd_full`: every volume in the year range. */
  val fullShape: CityDirCorpus.Shape = CityDirCorpus.Shape(
    volumes = 32, bodyPages = 12, linesPerPage = 100)

  /** Column detection and line explode, as the parse step runs them, with
    * optional counters: pages detected, pages failed, lines on detected
    * pages, and lines kept (in a column).
    */
  def detect(pages: Dataset[PageRecord],
             acc: Option[Seq[LongAccumulator]]): Dataset[LineRecord] = {
    val s = pages.sparkSession
    import s.implicits._
    pages.flatMap { p =>
      val found = Hocr.detectPage(p.hocr, p.columnCount)
      val kept = found.toSeq.flatten.filter(_.columnIndex.isDefined)
      acc.foreach { case Seq(detected, failed, all, inColumn) =>
        if (found.isDefined) detected.add(1) else failed.add(1)
        all.add(found.map(_.size.toLong).getOrElse(0L))
        inColumn.add(kept.size.toLong)
      }
      kept.map(l => LineRecord(p.uuid, p.yearMin, p.yearMax, p.imageId,
        p.pageUuid, p.pageNum, l.bbox, l.text))
    }
  }

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
}
