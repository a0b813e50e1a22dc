package etlbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.geocode.Geocoder
import graft.parse.EntryParser
import graft.sources.Hocr

/** The generator's books must agree with what the engine's own page,
  * entry and address rules make of the generated text.
  */
class CityDirCorpusSpec extends AnyFunSuite {

  private val shape = CityDirCorpus.Shape(volumes = 8, bodyPages = 4,
    linesPerPage = 60)

  test("the same seed writes byte-identical archives and the same books") {
    def write() = {
      val dir = Files.createTempDirectory("corpus")
      val c = CityDirCorpus.write(dir, 7L, shape, threads = 2)
      val files = CityDirBench.files(dir).sortBy(_.getFileName.toString)
      try (c.expected, files.map(f => f.getFileName.toString ->
        Files.readAllBytes(f).toSeq))
      finally CityDirBench.delete(dir)
    }
    assert(write() == write())
  }

  test("detection keeps exactly the entry lines of each body page") {
    for (i <- 0 until shape.volumes) {
      val v = CityDirCorpus.volume(7L, i, shape)
      for (p <- v.pages) {
        val got = Hocr.detectPage(CityDirCorpus.hocr(v, p), v.columnCount)
        if (p.columns == 0) assert(got.isEmpty, s"page ${p.num} of volume $i")
        else {
          val kept = got.get.filter(_.columnIndex.isDefined).map(_.text)
          assert(kept == p.lines.filter(_.entry.isDefined).map(_.text))
        }
      }
    }
  }

  test("entries parse and geocode as the books say") {
    val known = CityDirCorpus.dimension(7L).map(_.normalizedKey)
    assert(known.distinct.size == known.size, "dimension keys are unique")
    val keys = known.toSet
    val entries = (0 until shape.volumes)
      .flatMap(i => CityDirCorpus.volume(7L, i, shape).pages)
      .flatMap(_.lines).filter(_.entry.isDefined)
    assert(entries.nonEmpty)
    entries.foreach { l =>
      val e = l.entry.get
      val p = EntryParser.parse(l.text.replaceAll("\\.+", "."))
      assert(p.subjects.map(_.stripSuffix(".")) == Seq(e.subject.stripSuffix(".")))
      assert(p.occupations == e.occupation.toSeq)
      assert(p.locations.map(x => Geocoder.normalizeAddress(x.value)) ==
        e.addresses.map(_._2))
      e.addresses.foreach { case (_, key, found) =>
        assert(keys.contains(key) == found, key)
      }
    }
  }

  test("the year range keeps every listed volume") {
    val vs = (0 until shape.volumes).map(CityDirCorpus.volume(7L, _, shape))
    val selected = vs.filter(v => CityDirCorpus.expected(v, 1L, shape)
      .selectedArchives == 1)
    assert(selected == vs.filter(_.listed))
    assert(selected.size == shape.volumes - 1)
  }
}
