package graft.sources

import graft.SparkSpec
import graft.model.DirectoryMeta
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** `HocrArchive.readPages` over the fixture archives with hand-built
  * manifests: the manifest lookup keeps an inner join's semantics, and
  * the scan plans no join and no broadcast.
  */
class HocrArchiveSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/tmp/graft-hocr-archive-fixture"
  graft.fixtures.CityDirFixture.ensure(dir)

  // fixture archives: vol-a-0001 holds pages 1, 2, 3, 9; vol-b-0002
  // holds pages 2, 4
  private val manifest = Seq(
    DirectoryMeta("vol-a-0001", 1850, 1851, 2, 3, 2),
    // the same volume again, with other years, bounds and columns
    DirectoryMeta("vol-a-0001", 1860, 1860, 3, 9, 3),
    // a row whose archive does not exist
    DirectoryMeta("vol-z-9999", 1850, 1850, 1, 9, 2))
  // vol-b-0002 has an archive but no row

  private def pages =
    HocrArchive.readPages(spark, dir, spark.createDataset(manifest))

  test("readPages: inner-join semantics over a hand-built manifest") {
    val got = pages.collect().toSeq
      .map(p => (p.uuid, p.yearMin, p.yearMax, p.startPage, p.endPage,
        p.columnCount, p.pageNum))
      .sorted
    // page 3 is in both rows' ranges, so it is read once per row
    assert(got == Seq(
      ("vol-a-0001", 1850, 1851, 2, 3, 2, 2),
      ("vol-a-0001", 1850, 1851, 2, 3, 2, 3),
      ("vol-a-0001", 1860, 1860, 3, 9, 3, 3),
      ("vol-a-0001", 1860, 1860, 3, 9, 3, 9)))
    assert(pages.collect().forall(_.hocr.contains("ocr_line")))
  }

  test("readPages plans no join and no broadcast exchange") {
    val df = pages.toDF()
    df.collect() // materialize so the adaptive plan is final
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    val plan = nodes(df.queryExecution.executedPlan)
    val text = df.queryExecution.executedPlan.toString
    assert(!plan.exists(_.isInstanceOf[BaseJoinExec]), text)
    assert(!plan.exists(_.isInstanceOf[BroadcastExchangeLike]), text)
    assert(text.contains("binaryFile"), text)
  }
}
