package graft.operators

import graft.{CityDirectories, SparkSpec}
import graft.fixtures.CityDirFixture
import graft.geocode.GeocodeExpr
import graft.model.{GeoProperties, GeoRef, GeoResult, Geocoded, Geometry,
  Location, ParsedEntry}
import graft.parse.ParseEntryExpr
import graft.sources.Manifest
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform,
  LambdaFunction, ScalaUDF, StructsToJson}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec,
  InputAdapter, QueryExecution, SortExec, SparkPlan, UnionExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One geocoded line as the `transform` step receives it. */
final case class GeocodedLine(
    uuid: String,
    yearMin: Int,
    yearMax: Int,
    pageUuid: String,
    pageNum: Int,
    bbox: Seq[Int],
    text: String,
    parsed: ParsedEntry,
    geocoded: Option[Seq[Geocoded]])

class TransformOpsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("tagged union reads its input once: one archive scan, no Union") {
    val dir = Files.createTempDirectory("graft-fixture").toString
    CityDirFixture.ensure(dir)
    val manifest = Manifest.load(spark,
      Files.readString(Paths.get(dir, "manifest.html")))
    // uncached on purpose: a union of branches would re-run this whole
    // chain, scan included, once per branch
    val geocoded = CityDirectories.geocode(spark,
      CityDirectories.parse(spark, manifest, dir),
      spark.createDataset(CityDirFixture.dimension))
    val union = CityDirectories.transform(geocoded)
    assert(union.count() == 24 + 20 + 8)
    union.collect()
    val plan = union.queryExecution.executedPlan
    val scans = collect(plan) {
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => s
    }
    assert(scans.size == 1, plan)
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, plan)
  }

  test("write plan: one codegen stage into the V2 sink, no sort") {
    val dir = Files.createTempDirectory("graft-fixture").toString
    CityDirFixture.ensure(dir)
    val manifest = Manifest.load(spark,
      Files.readString(Paths.get(dir, "manifest.html")))
    val union = CityDirectories.transform(CityDirectories.geocode(spark,
      CityDirectories.parse(spark, manifest, dir),
      spark.createDataset(CityDirFixture.dimension)))
    // the write's own executed plan, as the session reports it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def writePlan = plans.asScala.find(p =>
      collect(p) { case w: V2TableWriteExec => w }.nonEmpty)
    try {
      CityDirectories.writeUnion(union,
        Files.createTempDirectory("graft-sink").resolve("out").toString)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writePlan.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val plan = writePlan.getOrElse(fail("no write plan reported"))

    // a stage's own operators: its tree down to the input adapters
    def stageNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(stageNodes)
    })
    val generate = collect(plan) { case g: GenerateExec => g }
    assert(generate.size == 1, plan)
    val stage = collect(plan) { case w: WholeStageCodegenExec => w }
      .filter(w => stageNodes(w.child).exists(_ eq generate.head))
    assert(stage.size == 1, s"Generate is not whole-stage codegen'd:\n$plan")
    val fused = stageNodes(stage.head.child)
    val fusedExprs = fused.flatMap(_.expressions)
    assert(fusedExprs.exists(_.exists(_.isInstanceOf[ParseEntryExpr])), plan)
    assert(fusedExprs.exists(_.exists(_.isInstanceOf[GeocodeExpr])), plan)

    // the sink neither sorts nor goes through to_json
    assert(collect(plan) { case s: SortExec => s }.isEmpty, plan)
    val interpreted = collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case e @ (_: ScalaUDF | _: ArrayTransform | _: ArrayFilter |
                  _: LambdaFunction | _: StructsToJson) => e.nodeName
      })
    assert(interpreted.isEmpty, plan)
    val scans = collect(plan) {
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => s
    }
    assert(scans.size == 1, plan)
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, plan)

    // a method past the limit makes the stage fall back to interpreted
    // execution when it runs, with the plan unchanged
    val (_, source) = stage.head.doCodeGen()
    val (_, stats) = CodeGenerator.compile(source)
    val limit = spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
    assert(stats.maxMethodCodeSize <= limit,
      s"largest method ${stats.maxMethodCodeSize} B > $limit B")
  }

  // hand-built input: the lines the fixture and the generated corpus never
  // produce, since both mint every id
  private val page = "page-1"
  private def geo(id: String, x: Double) = Geocoded(found = true,
    Some(GeoResult(GeoProperties(GeoRef(id, s"$id name"),
      GeoRef(s"$id-st", s"$id street")), Geometry("Point", Seq(Seq(x, 40.0))))),
    None)
  private def miss(value: String) =
    Geocoded(found = false, None, Some(s"Address not found: $value"))
  private def line(pageNum: Int, bbox: Seq[Int], text: String,
                   locations: Seq[String], geocoded: Option[Seq[Geocoded]]) =
    GeocodedLine("vol-1", 1850, 1851, page, pageNum, bbox, text,
      ParsedEntry(Seq(s"$text subject"), Seq("grocer"),
        locations.map(Location(_))), geocoded)

  private val input = Seq(
    line(0, Seq(1, 2, 3, 4), "no page", Seq("1 A st"),
      Some(Seq(geo("a1", -74.0)))),
    line(7, Seq.empty, "no bbox", Seq("1 A st"), Some(Seq(geo("a1", -74.0)))),
    line(2, Seq(10, 20, 30, 40), "all found", Seq("1 A st", "2 B st"),
      Some(Seq(geo("a1", -74.0), geo("a2", -73.0)))),
    line(2, Seq(10, 60, 30, 80), "all missed", Seq("8 X st", "9 Y st"),
      Some(Seq(miss("8 X st"), miss("9 Y st")))),
    line(3, Seq(5, 6, 7, 8), "mixed", Seq("8 X st", "2 B st"),
      Some(Seq(miss("8 X st"), geo("a2", -73.0)))),
    line(3, Seq(9, 9, 9, 9), "null geocoded", Seq("1 A st"), None))

  private def address(id: String) =
    Row(id, s"$id name", s"$id street", s"$id-st")
  private def point(x: Double) = Row("Point", Seq(Seq(x, 40.0)))
  private def obj(id: String, pageNum: Int, bbox: Seq[Int], text: String,
                  locations: Seq[String], addresses: Seq[String],
                  geometry: Row) =
    Row("object", id, "st:Person", s"$text subject", 1850, 1851,
      Row("vol-1", page, pageNum, bbox, text, "grocer",
        locations.map(Row(_)), Option(addresses).map(_.map(address)).orNull),
      geometry, null, null, null, null, null)
  private def rel(from: String, to: String) =
    Row("relation", null, null, null, null, null, null, null, to, from,
      "st:in", null, null)
  private def log(id: String, error: String, text: String) =
    Row("log", id, null, null, null, null, null, null, null, null, null,
      error, text)

  test("tagged union: every line kind, written out record by record") {
    val union = TransformOps.taggedUnion(input.toDS().toDF())
    assert(union.columns.toSeq == TransformOps.unionColumns)
    val expected = Seq(
      log(null, "Coult not create ID", "no page"),
      log(null, "Coult not create ID", "no bbox"),
      obj("1850-1851.2.10-20-30-40", 2, Seq(10, 20, 30, 40), "all found",
        Seq("1 A st", "2 B st"), Seq("a1", "a2"),
        Row("MultiPoint", Seq(Seq(-74.0, 40.0), Seq(-73.0, 40.0)))),
      rel("1850-1851.2.10-20-30-40", "a1"),
      rel("1850-1851.2.10-20-30-40", "a2"),
      obj("1850-1851.2.10-60-30-80", 2, Seq(10, 60, 30, 80), "all missed",
        Seq("8 X st", "9 Y st"), Seq.empty, null),
      log("1850-1851.2.10-60-30-80", "Address not found: 8 X st", null),
      log("1850-1851.2.10-60-30-80", "Address not found: 9 Y st", null),
      obj("1850-1851.3.5-6-7-8", 3, Seq(5, 6, 7, 8), "mixed",
        Seq("8 X st", "2 B st"), Seq("a2"), point(-73.0)),
      rel("1850-1851.3.5-6-7-8", "a2"),
      log("1850-1851.3.5-6-7-8", "Address not found: 8 X st", null),
      obj("1850-1851.3.9-9-9-9", 3, Seq(9, 9, 9, 9), "null geocoded",
        Seq("1 A st"), null, null))
    val actual = union.collect().toSeq
    // Row equality and hashing are structural, nested rows and arrays too
    def counts(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts(actual) == counts(expected),
      s"\nactual:\n${actual.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
  }
}
