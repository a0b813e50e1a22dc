package etlbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import graft.model.{GeoAddress, Geometry}

/** Seeded generator of a city-directory corpus: `<uuid>.tar.gz` archives of
  * word-level hOCR pages, the manifest page that lists them, and a geocoder
  * dimension that knows only part of the addresses.
  *
  * The generator keeps its own books while it writes, so every count the
  * pipeline must reproduce (pages read, objects, relations, miss logs) is
  * known exactly without running the engine. The entry grammar is kept
  * unambiguous under the parser's rules: every address starts with a house
  * number (optionally behind an `h` home marker), and no name or occupation
  * word is a street designator. Column geometry keeps every column break
  * wider than the detector's 40 px tolerance and every continuation indent
  * deeper than it.
  *
  * The same seed gives byte-identical files; each volume draws from its own
  * random stream, so the output does not depend on thread scheduling.
  */
object CityDirCorpus {

  /** `volumes` archives, each with `bodyPages` body pages of `linesPerPage`
    * OCR lines.
    */
  final case class Shape(volumes: Int, bodyPages: Int, linesPerPage: Int)

  /** What the pipeline must produce on this corpus. Page and line counts
    * cover the volumes the year range and the manifest select.
    */
  final case class Expected(
      archives: Int,
      corpusBytes: Long,
      selectedArchives: Int,
      selectedBytes: Long,
      bodyPages: Long,
      pagesFailed: Long,
      bodyLines: Long,
      inColumnLines: Long,
      objects: Long,
      idLogs: Long,
      relations: Long,
      missLogs: Long) {
    def +(o: Expected): Expected = Expected(
      archives + o.archives, corpusBytes + o.corpusBytes,
      selectedArchives + o.selectedArchives, selectedBytes + o.selectedBytes,
      bodyPages + o.bodyPages, pagesFailed + o.pagesFailed,
      bodyLines + o.bodyLines, inColumnLines + o.inColumnLines,
      objects + o.objects, idLogs + o.idLogs, relations + o.relations,
      missLogs + o.missLogs)
  }
  val noneExpected: Expected = Expected(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  final case class Corpus(
      archiveDir: String,
      manifestPath: String,
      dimension: Seq[GeoAddress],
      minYear: Option[Int],
      maxYear: Option[Int],
      expected: Expected)

  /** One generated OCR line and what the pipeline should make of it. */
  final case class Line(x0: Int, y0: Int, text: String, entry: Option[Entry]) {
    def x1: Int = x0 + 10 * text.length
    def y1: Int = y0 + 30
  }

  /** An entry line's intended parse: the subject, the occupation, each
    * address as printed with its geocoder key, and whether the dimension
    * knows that key.
    */
  final case class Entry(subject: String, occupation: Option[String],
                         addresses: Seq[(String, String, Boolean)])

  /** `columns` > 0 for a page whose columns detect; 0 for a page laid out
    * as one block that detection must reject.
    */
  final case class Page(num: Int, columns: Int, lines: Seq[Line])

  final case class Volume(index: Int, uuid: String, yearMin: Int,
                          yearMax: Int, startPage: Int, endPage: Int,
                          columnCount: Int, listed: Boolean,
                          pages: Seq[Page]) {
    def yearText: String =
      if (yearMax == yearMin) s"$yearMin" else f"$yearMin/${yearMax % 100}%02d"
  }

  val baseYear = 1786
  private val pitch = 34
  private val pageWidth = 2400

  private val designators: Seq[(String, String)] = Seq(
    "st" -> "street", "av" -> "avenue", "pl" -> "place", "la" -> "lane",
    "ct" -> "court", "sq" -> "square", "rd" -> "road")
  private val directions: Seq[(String, String)] = Seq(
    "W" -> "west", "E" -> "east", "N" -> "north", "S" -> "south")
  private val forenames = Seq("John", "Wm.", "Jas.", "Geo.", "Mary", "Ann",
    "Thos.", "Chas.", "Eliza", "Henry", "Patrick", "Margaret", "Peter",
    "Michael", "Sarah", "Jacob", "Catharine", "Edw.", "Saml.", "Hannah")
  private val occupations = Seq("carpenter", "grocer", "milliner", "porter",
    "clerk", "tailor", "shoemaker", "cartman", "baker", "merchant",
    "teacher", "laborer", "painter", "mason", "smith", "cooper", "printer",
    "butcher", "druggist", "widow", "boarding house", "dry goods",
    "physician", "segar maker", "stone cutter")
  private val syllables = Seq("mar", "low", "ben", "ton", "ash", "ford",
    "hal", "sey", "wick", "rid", "ley", "ton", "bur", "ham", "kel", "vin",
    "dor", "set", "gar", "ner", "pem", "bro", "ke", "tal", "bot", "fen",
    "wil", "lis", "cor", "nel", "mer", "rit", "van", "dam", "hol", "ter")
  // words the parser or the address normalizer treat specially: a name
  // made of one of these would make the grammar ambiguous
  private val reserved: Set[String] = Set("st", "street", "av", "ave",
    "avenue", "bway", "broadway", "pl", "place", "rd", "road", "la", "lane",
    "ct", "court", "sq", "square", "row", "alley", "bowery", "blvd",
    "boulevard", "ter", "terrace", "dr", "drive", "pk", "park", "slip",
    "wharf", "pier", "mkt", "market", "w", "e", "n", "s", "h", "r")

  private def word(r: Random, parts: Int): String = {
    var w = ""
    while (w.length < 4 || reserved.contains(w))
      w = Seq.fill(parts)(syllables(r.nextInt(syllables.size))).mkString
    w.capitalize
  }

  /** One street of the address pool: printed form and geocoder key form. */
  private final case class Street(id: Int, printed: String, key: String,
                                  name: String)

  private final case class Pool(streets: IndexedSeq[Street],
                                numbers: Int, known: (Int, Int) => Boolean)

  private def pool(seed: Long): Pool = {
    val r = new Random(seed ^ 0x5eedL)
    // distinct keys: two streets sharing a key would be one address to
    // the geocoder but two to the books
    val byKey = scala.collection.mutable.LinkedHashMap.empty[String, Street]
    while (byKey.size < 240) {
      val base = word(r, 2)
      val (abbr, full) = designators(r.nextInt(designators.size))
      val dir = if (r.nextInt(5) == 0) Some(directions(r.nextInt(4))) else None
      val spelled = if (r.nextInt(5) == 0) full else abbr
      val printed = (dir.map(_._1).toSeq :+ base :+ spelled).mkString(" ")
      val key = (dir.map(_._2).toSeq :+ base.toLowerCase :+ full).mkString(" ")
      val name = (dir.map(_._2.capitalize).toSeq :+ base :+ full.capitalize)
        .mkString(" ")
      if (!byKey.contains(key)) byKey(key) = Street(byKey.size, printed, key, name)
    }
    val streets = byKey.values.toIndexedSeq
    // about 70% of (street, number) pairs are in the dimension; the draw
    // is a pure function of the pair so books and dimension agree
    val salt = r.nextLong()
    Pool(streets, 60, (s, n) =>
      new Random(salt ^ (s.toLong << 20) ^ n.toLong).nextInt(10) < 7)
  }

  /** The geocoder dimension: every known pair of the address pool. */
  def dimension(seed: Long): Seq[GeoAddress] = {
    val p = pool(seed)
    for {
      st <- p.streets
      n <- 1 to p.numbers if p.known(st.id, n)
    } yield GeoAddress(f"addr-${st.id}%03d-$n%03d", s"$n ${st.name}",
      f"street-${st.id}%03d", st.name, s"$n ${st.key}",
      Geometry("Point", Seq(Seq(-74.02 + st.id * 1e-4 + n * 1e-6,
        40.70 + st.id * 1e-4))))
  }

  private def entry(r: Random, p: Pool): Entry = {
    val subject = s"${word(r, 2)} ${forenames(r.nextInt(forenames.size))}"
    val occupation =
      if (r.nextInt(100) < 85) Some(occupations(r.nextInt(occupations.size)))
      else None
    val nAddr = if (r.nextInt(100) < 70) 1 else 2
    val addresses = (0 until nAddr).map { i =>
      val st = p.streets(r.nextInt(p.streets.size))
      val n = 1 + r.nextInt(p.numbers)
      val home = if (i == 1 && r.nextInt(2) == 0) "h " else ""
      (s"$home$n ${st.printed}", s"$n ${st.key}", p.known(st.id, n))
    }
    Entry(subject, occupation, addresses)
  }

  /** Printed line text: OCR dot runs after the name or an address. */
  private def entryText(r: Random, e: Entry): String = {
    def dots = "." * (2 + r.nextInt(3))
    val name = if (r.nextInt(100) < 30) e.subject + dots else e.subject
    val addrs = e.addresses.map(a => if (r.nextInt(100) < 10) a._1 + dots else a._1)
    (Seq(name) ++ e.occupation ++ addrs).mkString(", ")
  }

  private def page(r: Random, p: Pool, num: Int, columns: Int,
                   lines: Int, detectable: Boolean): Page = {
    if (!detectable) {
      // one block flush left: every gap is under the tolerance, so the
      // detector cannot find `columns` columns and drops the page
      val ls = (0 until lines).map { row =>
        Line(100 + r.nextInt(13), 150 + row * pitch,
          s"${word(r, 2)} ${word(r, 1)} ${word(r, 2)}", None)
      }
      return Page(num, 0, ls)
    }
    val colWidth = (pageWidth - 200) / columns
    val perCol = (lines + columns - 1) / columns
    val ls = (0 until lines).map { i =>
      val c = i / perCol
      val row = i % perCol
      val left = 100 + c * colWidth
      val y = 150 + row * pitch
      // an indented continuation line now and then (never first in a
      // column, so every column keeps its left edge)
      if (row > 0 && r.nextInt(10) == 0)
        Line(left + 180 + r.nextInt(60), y,
          s"${occupations(r.nextInt(occupations.size))} ${word(r, 2)}", None)
      else {
        val e = entry(r, p)
        Line(left + r.nextInt(13), y, entryText(r, e), Some(e))
      }
    }
    Page(num, columns, ls)
  }

  /** Volume `i` of the corpus, drawn from its own random stream. */
  def volume(seed: Long, i: Int, shape: Shape): Volume = {
    val p = pool(seed)
    val r = new Random(seed * 1000003L + i)
    val uuid = new java.util.UUID(r.nextLong(), r.nextLong()).toString
    // the layout depends on the volume's position only, so every seed
    // gives the pipeline the same amount of work; the seed varies content
    val yearMin = baseYear + i
    val split = i % 6 == 1 // "1850/51"-style volume
    val columns = if (i % 5 < 3) 2 else 3
    val startPage = 3 + i % 4
    val endPage = startPage + shape.bodyPages - 1
    // one volume in four has a page laid out as one block
    val failedPage =
      if (i % 4 == 2) startPage + r.nextInt(shape.bodyPages) else -1
    // front and back matter outside the body range: archived, never read
    val pages = (1 to endPage + 2).map { n =>
      page(r, p, n, columns, shape.linesPerPage, detectable = n != failedPage)
    }
    // the last volume lost a manifest cell: archived but never joined
    Volume(i, uuid, yearMin, if (split) yearMin + 1 else yearMin, startPage,
      endPage, columns, listed = i != shape.volumes - 1, pages)
  }

  /** The year range the pipeline is asked for: every volume's years, so
    * the year filter runs and keeps every listed volume.
    */
  def yearRange(shape: Shape): (Option[Int], Option[Int]) =
    (Some(baseYear), Some(baseYear + shape.volumes))

  /** Books of one volume, given the bytes of its archive. */
  def expected(v: Volume, archiveBytes: Long, shape: Shape): Expected = {
    val (lo, hi) = yearRange(shape)
    val selected = v.listed && lo.forall(v.yearMin >= _) &&
      hi.forall(v.yearMax <= _)
    val base = noneExpected.copy(archives = 1, corpusBytes = archiveBytes)
    if (!selected) return base
    val body = v.pages.filter(p => p.num >= v.startPage && p.num <= v.endPage)
    val detected = body.filter(_.columns > 0)
    val entries = detected.flatMap(_.lines.flatMap(_.entry))
    val addrs = entries.flatMap(_.addresses)
    base.copy(
      selectedArchives = 1,
      selectedBytes = archiveBytes,
      bodyPages = body.size,
      pagesFailed = body.size - detected.size,
      bodyLines = body.map(_.lines.size.toLong).sum,
      inColumnLines = entries.size,
      objects = entries.size,
      relations = addrs.count(_._3),
      missLogs = addrs.count(!_._3))
  }

  def hocr(v: Volume, p: Page): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<html xmlns=\"http://www.w3.org/1999/xhtml\"><body>\n")
    sb.append(s"<div class='ocr_page' id='page_${p.num}' title='bbox 0 0 " +
      s"$pageWidth 3800; ppageno ${p.num}'>\n")
    var w = 0
    p.lines.zipWithIndex.foreach { case (l, i) =>
      sb.append(s" <p class='ocr_par' id='par_${p.num}_$i'>")
      sb.append(s"<span class='ocr_line' id='line_${p.num}_$i' title='bbox " +
        s"${l.x0} ${l.y0} ${l.x1} ${l.y1}; baseline 0 -6; x_size 30'>")
      var x = l.x0
      l.text.split(' ').foreach { t =>
        w += 1
        sb.append(s"<span class='ocrx_word' id='word_${p.num}_$w' title='bbox " +
          s"$x ${l.y0} ${x + 10 * t.length} ${l.y1}; x_wconf 9${w % 10}'>")
          .append(t).append("</span> ")
        x += 10 * (t.length + 1)
      }
      sb.append("</span></p>\n")
    }
    sb.append("</div>\n</body></html>\n")
    sb.toString
  }

  private def writeArchive(path: Path, v: Volume): Long = {
    val out = new TarArchiveOutputStream(new GzipCompressorOutputStream(
      new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)))
    def put(name: String, content: String): Unit = {
      val bytes = content.getBytes(StandardCharsets.UTF_8)
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length.toLong)
      e.setModTime(0L) // byte-identical archives for the same seed
      out.putArchiveEntry(e)
      out.write(bytes)
      out.closeArchiveEntry()
    }
    try {
      put(s"${v.uuid}/meta.json", s"""{"uuid":"${v.uuid}"}""")
      v.pages.foreach { p =>
        put(s"${v.uuid}/${p.num}.img${p.num}x${v.index}.pg${v.index}p${p.num}" +
          ".processed.hocr", hocr(v, p))
      }
    } finally out.close()
    Files.size(path)
  }

  private def manifestHtml(vs: Seq[Volume]): String = {
    def row(uuid: String, year: String, sp: Int, ep: Int, cc: String) =
      s"<tr><td>$uuid</td><td>$year</td><td>$sp</td><td>$ep</td><td>$cc</td></tr>"
    // unlisted volumes keep their archive but lose a required cell, and
    // one listed volume has no archive: both drop out of the join
    val rows = vs.map { v =>
      row(v.uuid, v.yearText, v.startPage, v.endPage,
        if (v.listed) v.columnCount.toString else "")
    } :+ row("missing-archive", s"$baseYear", 1, 9, "2")
    s"""<html><body><table>
       |<thead><tr><th>uuid</th><th>year</th><th>startPage</th><th>endPage</th><th>columnCount</th></tr></thead>
       |<tbody>
       |${rows.mkString("\n")}
       |</tbody></table></body></html>
       |""".stripMargin
  }

  /** Write the corpus under `dir` with `threads` writers and return where
    * it is and what the pipeline must make of it.
    */
  def write(dir: Path, seed: Long, shape: Shape, threads: Int): Corpus = {
    val archives = dir.resolve("archives")
    Files.createDirectories(archives)
    val pool = Executors.newFixedThreadPool(threads)
    val done = try {
      pool.invokeAll((0 until shape.volumes).map { i =>
        new Callable[(Volume, Expected)] {
          def call(): (Volume, Expected) = {
            val v = volume(seed, i, shape)
            val bytes = writeArchive(archives.resolve(s"${v.uuid}.tar.gz"), v)
            // keep only the books: the page texts are on disk now
            (v.copy(pages = Nil), expected(v, bytes, shape))
          }
        }
      }.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    val manifest = dir.resolve("manifest.html")
    Files.writeString(manifest, manifestHtml(done.map(_._1)))
    val (lo, hi) = yearRange(shape)
    Corpus(archives.toString, manifest.toString, dimension(seed), lo, hi,
      done.map(_._2).foldLeft(noneExpected)(_ + _))
  }
}
