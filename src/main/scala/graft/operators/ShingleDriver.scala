package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinhashTextBandsGenerate, ShingleGenerate}

/** The driver paths of `DedupOps`' shingle operators
  * (`containmentPairs`, `lshRecallEval`, `lshTruthCapReport`). Each
  * reads the input's `(id, text)` pairs with one bounded collect
  * ([[DriverPath.collectAtMost]]) and, when they fit and the ids are
  * unique and non-null integers, computes the operator's result in
  * driver memory as a local frame with the distributed plan's schema.
  *
  * The values come from the distributed plan's own code: shingles and
  * MinHash band hashes from `eval` on its generators
  * ([[graft.functions.ShingleGenerate]],
  * [[graft.functions.MinhashTextBandsGenerate]]), gram digests and the
  * sample bucket from the same `Column` expressions bound to the
  * collected rows ([[DriverPath.bind]]), and `round(·, 4)` as Spark
  * rounds a double ([[DriverPath.round]]). The counts follow the plan's
  * rows: a posting list holds one entry per (document, gram) row, so
  * even two shingles whose digests collide count as the plan counts
  * them.
  */
private[operators] object ShingleDriver {

  /** Collected documents: `ids` as longs for comparisons, `idVals` as
    * collected (the output's id values), `texts` as raw UTF-8 (null for
    * a null text). */
  final class Docs(val spark: SparkSession, val idField: StructField,
                   val idVals: Array[Any], val ids: Array[Long],
                   val texts: Array[UTF8String]) {
    def n: Int = ids.length
  }

  /** The `(id, text)` rows of `df` when it has at most `bound` of them
    * with unique non-null integral ids and a string text; None sends
    * the caller to its distributed plan. The text is collected as its
    * bytes, so a shingle hashes exactly the bytes the plan hashes. */
  def collect(df: DataFrame, idCol: String, textCol: String,
              bound: Int): Option[Docs] = {
    val idField = df.schema(idCol)
    val usable = (idField.dataType, df.schema(textCol).dataType) match {
      case (ByteType | ShortType | IntegerType | LongType, _: StringType) =>
        true
      case _ => false
    }
    if (!usable) return None
    DriverPath.collectAtMost(df.select(col(idCol),
        col(textCol).cast("binary")), bound).flatMap { rows =>
      if (rows.exists(_.isNullAt(0))) None
      else {
        val ids = rows.map(_.getAs[Number](0).longValue)
        if (ids.distinct.length != ids.length) None
        else Some(new Docs(df.sparkSession, idField, rows.map(_.get(0)),
          ids, rows.map(r =>
            if (r.isNullAt(1)) null
            else UTF8String.fromBytes(r.getAs[Array[Byte]](1)))))
      }
    }
  }

  /** The distinct word k-shingles of a text, from the generator. */
  private def shingler(k: Int): UTF8String => Iterator[UTF8String] = {
    val gen = ShingleGenerate(BoundReference(0, StringType, nullable = true),
      k, distinct = true)
    t => gen.eval(new GenericInternalRow(Array[Any](t))).iterator
      .map(_.getUTF8String(0))
  }

  /** A one-column `Column` expression evaluated on single values. */
  private def unary(spark: SparkSession, field: StructField,
                    c: Column): Any => Any = {
    val e: Expression = DriverPath.bind(spark, StructType(Seq(field)), c).head
    val row = new GenericInternalRow(1)
    v => { row.update(0, v); e.eval(row) }
  }

  private val gramField = StructField("_s", StringType, nullable = false)

  /** A growable list of ints. */
  private final class Ints {
    var at = new Array[Int](4)
    var size = 0
    def +=(x: Int): Unit = {
      if (size == at.length) at = java.util.Arrays.copyOf(at, size * 2)
      at(size) = x
      size += 1
    }
  }

  /** Per gram key, the documents (row indices) of its (document, gram)
    * rows: the plan's grouping of the shingle rows by `key`. */
  private def postings[K](d: Docs, k: Int,
                          key: UTF8String => K): java.util.HashMap[K, Ints] = {
    val shingles = shingler(k)
    val out = new java.util.HashMap[K, Ints]()
    for (i <- 0 until d.n if d.texts(i) != null; s <- shingles(d.texts(i)))
      out.computeIfAbsent(key(s), _ => new Ints) += i
    out
  }

  /** The posting lists of at most `cap` entries, and per document the
    * indices of those lists holding it (once per entry). */
  private def capped(d: Docs, all: java.util.HashMap[_, Ints],
                     cap: Int): (Array[Ints], Array[Ints]) = {
    val lists = all.values.iterator.asScala.filter(_.size <= cap).toArray
    val byDoc = Array.fill(d.n)(new Ints)
    for (j <- lists.indices; e <- 0 until lists(j).size)
      byDoc(lists(j).at(e)) += j
    (lists, byDoc)
  }

  /** For document `a`, every other document sharing one of its lists,
    * with the count of (list entry of `a`, list entry of `b`) pairs:
    * the plan's pair rows grouped by (a, b). `cnt` is all zeros on entry
    * and on exit. */
  private def sharedWith(a: Int, lists: Array[Ints], mine: Ints,
                         cnt: Array[Long])(emit: (Int, Long) => Unit): Unit = {
    val touched = new Ints
    for (m <- 0 until mine.size) {
      val l = lists(mine.at(m))
      for (e <- 0 until l.size) {
        val b = l.at(e)
        if (b != a) {
          if (cnt(b) == 0) touched += b
          cnt(b) += 1
        }
      }
    }
    for (t <- 0 until touched.size) {
      val b = touched.at(t)
      emit(b, cnt(b))
      cnt(b) = 0
    }
  }

  /** `containmentPairs` on the driver: shingle posting lists of at most
    * `maxDf` documents, the per-document count of shingles in them,
    * and the shared count of every ordered pair within a list. */
  def containmentPairs(d: Docs, k: Int, threshold: Double,
                       maxDf: Int): DataFrame = {
    val (lists, byDoc) = capped(d, postings(d, k, s => s), maxDf)
    val cnt = new Array[Long](d.n)
    val rows = mutable.ArrayBuffer.empty[Row]
    for (a <- 0 until d.n) sharedWith(a, lists, byDoc(a), cnt) { (b, n) =>
      val c = DriverPath.round(n.toDouble / byDoc(a).size, 4)
      if (c >= threshold) rows += Row(d.idVals(a), d.idVals(b), n, c)
    }
    val id = d.idField.dataType
    DriverPath.frame(d.spark, rows.toSeq, StructType(Seq(
      StructField("a", id, nullable = false),
      StructField("b", id, nullable = false),
      StructField("n_shared", LongType, nullable = false),
      StructField("containment", DoubleType, nullable = true))))
  }

  /** `lshRecallEvalReleasable` on the driver: per-gram df over md5-keyed
    * grams, capped sizes, intersections of the sampled probes, the
    * `theta` filter, then whether the pair is a MinHash-LSH candidate:
    * whether the two documents share a band hash in some band, the
    * plan's band self-join. `gramKey` and `bucket` are the plan's
    * expressions. */
  def lshRecallEval(d: Docs, shingleK: Int, numPerm: Int, bands: Int,
                    theta: Double, samplePct: Int, maxTruthDf: Int,
                    gramKey: Column => Column,
                    bucket: Column => Column): DataFrame = {
    val keyOf = unary(d.spark, gramField, gramKey(col("_s")))
    val grams = postings(d, shingleK,
      s => java.nio.ByteBuffer.wrap(keyOf(s).asInstanceOf[Array[Byte]]))
    val (kept, byDoc) = capped(d, grams, maxTruthDf)
    val nc = new Array[Long](d.n) // the doc's grams over the cap
    for (l <- grams.values.iterator.asScala if l.size > maxTruthDf;
         e <- 0 until l.size)
      nc(l.at(e)) += 1
    val field = d.idField.copy(name = "_id", nullable = false)
    val bucketOf = unary(d.spark, field, bucket(col("_id")))
    val byBand = bandHashes(d, shingleK, numPerm, bands)
    def caught(a: Int, b: Int): Boolean =
      byBand(a) != null && byBand(b) != null &&
        (0 until bands).exists(p => byBand(a)(p) == byBand(b)(p))
    val cnt = new Array[Long](d.n)
    val rows = mutable.ArrayBuffer.empty[Row]
    for (a <- 0 until d.n
         if byDoc(a).size > 0 &&
           bucketOf(d.idVals(a)).asInstanceOf[Long] < samplePct)
      sharedWith(a, kept, byDoc(a), cnt) { (b, i) =>
        val j = DriverPath.round(
          i.toDouble / (byDoc(a).size.toLong + byDoc(b).size - i), 4)
        if (j >= theta)
          rows += Row(d.idVals(a), d.idVals(b), j, caught(a, b), nc(a), nc(b))
      }
    val id = d.idField.dataType
    val idNull = d.idField.nullable
    DriverPath.frame(d.spark, rows.toSeq, StructType(Seq(
      StructField("a", id, idNull), StructField("b", id, idNull),
      StructField("jaccard", DoubleType, nullable = true),
      StructField("caught", BooleanType, nullable = false),
      StructField("a_capped", LongType, nullable = true),
      StructField("b_capped", LongType, nullable = true))))
  }

  /** Each document's LSH band hashes by band, from the band generator;
    * null for a document it emits no rows for (a null text, fewer than
    * k words). */
  private def bandHashes(d: Docs, k: Int, numPerm: Int,
                         bands: Int): Array[Array[UTF8String]] = {
    val gen = MinhashTextBandsGenerate(
      BoundReference(0, StringType, nullable = true), k, numPerm, bands)
    d.texts.map { t =>
      val rows = if (t == null) Nil
        else gen.eval(new GenericInternalRow(Array[Any](t))).iterator.toSeq
      if (rows.isEmpty) null
      else {
        val out = new Array[UTF8String](bands)
        rows.foreach(r => out(r.getInt(0)) = r.getUTF8String(1))
        out
      }
    }
  }

  /** `lshTruthCapReport` on the driver: per-gram df over the plan's
    * hex digest (`gramHex`), the grams over `maxTruthDf`, and their
    * pair mass. */
  def lshTruthCapReport(d: Docs, shingleK: Int, maxTruthDf: Int,
                        gramHex: Column => Column): DataFrame = {
    val hexOf = unary(d.spark, gramField, gramHex(col("_s")))
    val rows = postings(d, shingleK, s => hexOf(s).asInstanceOf[UTF8String])
      .asScala.iterator.collect { case (g, l) if l.size > maxTruthDf =>
        val df = l.size.toLong
        Row(g.toString, df, df * (df - 1) / 2)
      }.toSeq
    DriverPath.frame(d.spark, rows, StructType(Seq(
      StructField("gram_digest", StringType, nullable = false),
      StructField("df", LongType, nullable = false),
      StructField("pair_mass", LongType, nullable = true))))
  }
}
