package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CityDirOpsSpec extends SparkSpec {
  import spark.implicits._

  test("yearNorm: split year uses +1 rule; plain year duplicates") {
    val df = Seq("1850/51", "1899/00", "1851", "junk", null)
      .toDF("y").select(CityDirOps.yearNorm(col("y")).as("n"))
    assert(df.collect().toSeq.map(r => Option(r.getStruct(0)).map(s => (s.getInt(0), s.getInt(1)))) ==
      Seq(Some((1850, 1851)), Some((1899, 1900)), Some((1851, 1851)), None, None))
  }

  test("mintId: year part, bbox join, null guards") {
    val df = Seq(
      (1850, 1851, 25, Seq(10, 20, 30, 40)),
      (1851, 1851, 7, Seq(1, 2, 3, 4))
    ).toDF("yearMin", "yearMax", "pageNum", "bbox")
      .select(CityDirOps.mintId(col("yearMin"), col("yearMax"),
        col("pageNum"), col("bbox")).as("id"))
    assert(df.as[String].collect().toSeq ==
      Seq("1850-1851.25.10-20-30-40", "1851.7.1-2-3-4"))
  }

  test("mintId: missing/zero pieces yield null (JS truthiness)") {
    val rows = Seq(
      (0, 0, 25, Seq(1, 2, 3, 4)),       // year 0
      (1850, 1850, 0, Seq(1, 2, 3, 4)),  // pageNum 0
      (1850, 1850, 25, Seq.empty[Int])   // empty bbox
    ).toDF("yearMin", "yearMax", "pageNum", "bbox")
      .select(CityDirOps.mintId(col("yearMin"), col("yearMax"),
        col("pageNum"), col("bbox")).as("id"))
      .collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("collapseDots and trimToNull") {
    val df = Seq("a...b....c", "  x  ", "   ")
      .toDF("t")
      .select(CityDirOps.collapseDots(col("t")).as("dots"),
              CityDirOps.trimToNull(col("t")).as("tn"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "a.b.c")
    assert(rows(1).getString(1) == "x")
    assert(rows(2).isNullAt(1))
  }

  test("multiPoint: 0 → null, 1 → unchanged, n → MultiPoint") {
    // the record builder's kernel, on Catalyst values of the normalized
    // geometry type; results read back as rows
    val geometryType = StructType(Seq(StructField("type", StringType),
      StructField("coordinates", ArrayType(ArrayType(DoubleType, false)))))
    def geometry(kind: String, points: Seq[Seq[Double]]): InternalRow =
      CatalystTypeConverters.createToCatalystConverter(geometryType)(
        Row(kind, points)).asInstanceOf[InternalRow]
    val toRow = CatalystTypeConverters.createToScalaConverter(geometryType)
    val geoms = Seq(
      Array.empty[InternalRow],
      Array(geometry("Point", Seq(Seq(1.0, 2.0)))),
      Array(geometry("Point", Seq(Seq(1.0, 2.0))),
        geometry("Point", Seq(Seq(3.0, 4.0))))
    ).map(gs => Row(toRow(TaggedRecords.multiPoint(gs))))
    assert(geoms(0).isNullAt(0))
    val single = geoms(1).getStruct(0)
    assert(single.getString(0) == "Point")
    val multi = geoms(2).getStruct(0)
    assert(multi.getString(0) == "MultiPoint")
    assert(multi.getSeq[Seq[Double]](1) == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("yearInterval containment and pageInRange") {
    val df = Seq((1850, 1851), (1848, 1849), (1852, 1853)).toDF("mn", "mx")
    assert(df.filter(CityDirOps.yearInterval(col("mn"), col("mx"),
      Some(1850), Some(1853))).count() == 2)
    assert(df.filter(CityDirOps.yearInterval(col("mn"), col("mx"),
      None, None)).count() == 3)
    val pages = Seq((1, 2, 8), (5, 2, 8), (9, 2, 8)).toDF("p", "s", "e")
    assert(pages.filter(CityDirOps.pageInRange(col("p"), col("s"), col("e")))
      .count() == 1)
  }
}
