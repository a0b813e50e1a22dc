package graft.sources

import java.io.ByteArrayInputStream
import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{DirectoryMeta, PageRecord}

/** Volume-archive source: `<uuid>.tar.gz` files of hOCR pages → one
  * `PageRecord` per page (reference `readCityDirectory`,
  * city-directories.js:17-70).
  *
  * Spark-first design:
  *  - `spark.read.format("binaryFile")` distributes one archive per task —
  *    at 100 TB the unit of parallelism is the volume (tens of thousands
  *    of archives spread over executors), no driver involvement;
  *  - the manifest is collected on the driver into a uuid → rows map
  *    that rides the archive `flatMap`'s closure. The lookup doubles as
  *    the reference's source-availability filter (city-directories.js:196,
  *    SURVEY.md O-24), with an inner join's semantics: a manifest row
  *    with no archive, or an archive not in the manifest, produces no
  *    pages, and an archive listed twice is read once per row, each row
  *    with its own page range. Not a `broadcast` join: a manifest is one
  *    row per volume, and the join cost every run a driver-side
  *    broadcast stage (with its adaptive re-plan) before the scan could
  *    start;
  *  - the `startPage..endPage` body filter (city-directories.js:200) is
  *    pushed INTO the tar loop: non-matching entries are skipped before
  *    their bytes are slurped. The reference extracts whole volumes and
  *    filters afterwards — SURVEY.md §4 flags this as its missed pushdown.
  */
object HocrArchive {

  /** Filename scheme `<uuid>.tar.gz` (city-directories.js:72-74). */
  def archivePath(baseDir: String, uuid: String): String =
    s"$baseDir/$uuid.tar.gz"

  /** Entry name tail `<pageNum>.<imageId>.<pageUuid>.processed.hocr`
    * (city-directories.js:28-36).
    */
  private[sources] def parseEntryName(name: String): Option[(Int, String, String)] = {
    if (!name.endsWith(".hocr")) return None
    val tail = name.substring(name.lastIndexOf('/') + 1)
    val parts = tail.split('.')
    if (parts.length < 3) return None
    parts(0).toIntOption.map(pageNum => (pageNum, parts(1), parts(2)))
  }

  /** Scan all volume archives under `archiveDir` that appear in `manifest`,
    * emitting body pages only. `manifest` is collected here, once.
    */
  def readPages(spark: SparkSession, archiveDir: String,
                manifest: Dataset[DirectoryMeta]): Dataset[PageRecord] = {
    import spark.implicits._
    // pathGlobFilter rather than a glob in the path: same file set, but
    // the path stays a real directory (no FileStreamSink metadata-probe
    // warning, and partition discovery short-circuits cleanly)
    val archives: DataFrame = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar.gz")
      .load(archiveDir)
      .select(
        regexp_extract(col("path"), "([^/]+)\\.tar\\.gz$", 1).as("uuid"),
        col("content"))
    // availability filter (O-24) + metadata denormalization
    val rows: Map[String, Seq[DirectoryMeta]] =
      manifest.collect().toSeq.groupBy(_.uuid)
    archives.as[(String, Array[Byte])].flatMap { case (uuid, bytes) =>
      rows.getOrElse(uuid, Nil).flatMap { m =>
        readArchive(bytes, m.startPage, m.endPage).map {
          case (pageNum, imageId, pageUuid, hocr) =>
            PageRecord(uuid, m.yearMin, m.yearMax, m.startPage, m.endPage,
              m.columnCount, pageNum, imageId, pageUuid, hocr)
        }
      }
    }
  }

  /** Iterate one tar.gz, slurping only `.hocr` entries whose pageNum is in
    * `[startPage, endPage]` (pushed-down body filter). Materializes the
    * matching entries of one volume — bounded by volume size, independent
    * of corpus size.
    */
  def readArchive(bytes: Array[Byte], startPage: Int, endPage: Int)
      : Seq[(Int, String, String, String)] = {
    val tar = new TarArchiveInputStream(
      new GzipCompressorInputStream(new ByteArrayInputStream(bytes)))
    try {
      Iterator.continually(tar.getNextEntry).takeWhile(_ != null)
        .filter(e => !e.isDirectory)
        .flatMap { e =>
          parseEntryName(e.getName) match {
            case Some((pageNum, imageId, pageUuid))
                if pageNum >= startPage && pageNum <= endPage =>
              val hocr = new String(tar.readAllBytes(),
                java.nio.charset.StandardCharsets.UTF_8)
              Some((pageNum, imageId, pageUuid, hocr))
            case _ => None // non-hOCR entry or out-of-range page: not slurped
          }
        }.toVector
    } finally tar.close()
  }
}
