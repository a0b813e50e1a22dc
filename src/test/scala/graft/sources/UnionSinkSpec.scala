package graft.sources

import graft.{CityDirectories, SparkJsonUnionOracle, SparkSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._

/** The union sink against Spark's JSON writer ([[SparkJsonUnionOracle]]),
  * byte for byte, on hand-built rows that hold every escape, malformed
  * UTF-8, number form and null the encoder must get right; and its
  * commit: a failed write keeps the old output, and only committed task
  * attempts' files reach the new one.
  */
class UnionSinkSpec extends SparkSpec {

  private def list(p: NioPath): Seq[NioPath] =
    if (!Files.exists(p)) Nil
    else Files.list(p).iterator().asScala.toSeq.sortBy(_.toString)

  /** Every file under `out`, by path relative to it, with its bytes as
    * text that equals another only if the bytes do; part files keyed by
    * kind directory and part number, since their names hold the write's
    * id. */
  private def tree(out: NioPath): Map[String, String] = {
    val s = Files.walk(out)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val rel = out.relativize(f).toString
        .replaceAll("""(part-\d{5})-[0-9a-f-]{36}""", "$1")
      rel -> new String(Files.readAllBytes(f), ISO_8859_1)
    }.toMap
    finally s.close()
  }

  private def writtenBoth(df: DataFrame): (Map[String, String], Map[String, String]) = {
    val dir = Files.createTempDirectory("graft-union-sink")
    CityDirectories.writeUnion(df, dir.resolve("sink").toString)
    SparkJsonUnionOracle.writeUnion(df, dir.resolve("spark").toString)
    // checksum files differ with the data; the data is compared directly
    def data(m: Map[String, String]) = m.filter { case (k, _) =>
      !k.split('/').last.startsWith(".") }
    (data(tree(dir.resolve("sink"))), data(tree(dir.resolve("spark"))))
  }

  private val control = (0 until 0x20).map(_.toChar).mkString + "\u007f"

  private val strings = Seq(control, "\"", "\\", "/", "a\"b\\c/d", "",
    "été", "東京", "😀 𝐀",
    "tab\there\nnewline\r\n", "  \u0085 ", "x" * 300)

  // malformed UTF-8 (as bytes, cast to string without validation)
  private val malformed: Seq[Array[Int]] = Seq(
    Array(0x80), Array(0x61, 0xBF, 0x62), Array(0xC0, 0x80),
    Array(0xC1, 0xBF), Array(0xE0, 0x80, 0x80), Array(0xF0, 0x80, 0x80, 0x80),
    Array(0xED, 0xA0, 0x80), Array(0xED, 0xBF, 0xBF),
    Array(0xE2, 0x82), Array(0xF0, 0x9F, 0x98), Array(0xE2, 0x82, 0x61),
    Array(0xF4, 0x90, 0x80, 0x80), Array(0xF5, 0x80), Array(0xFF),
    Array(0x22, 0xC3, 0xA9, 0x80, 0x0A, 0x5C), Array(0xC3),
    Array(0xF0, 0x9F, 0x98, 0x80, 0xE0, 0xA0), Array(0xEF, 0xBF, 0xBF))

  // byte strings from pieces that meet eight-byte windows at every offset:
  // ASCII, each escape, well-formed multi-byte sequences and malformed ones
  private val pieces: IndexedSeq[Array[Int]] = ((0x00 to 0x20) ++
    Seq(0x22, 0x2F, 0x5C, 0x7F, 0x41, 0x7A, 0x30)).map(Array(_)) ++ Seq(
    Array(0xC3, 0xA9), Array(0xE6, 0x9D, 0xB1), Array(0xF0, 0x9F, 0x98, 0x80),
    Array(0xEF, 0xBF, 0xBF), Array(0x80), Array(0xC0, 0xAF),
    Array(0xED, 0xA0, 0x80), Array(0xF5), Array(0xE2, 0x82))
  private def fuzz(rnd: scala.util.Random): Array[Byte] = {
    val ascii = rnd.nextInt(3) > 0 // mostly plain text, as real strings are
    Array.fill(rnd.nextInt(40)) {
      if (ascii && rnd.nextInt(10) > 0) Array(0x61 + rnd.nextInt(26))
      else pieces(rnd.nextInt(pieces.size))
    }.flatten.map(_.toByte)
  }

  private val doubles = Seq(-0.0, 0.0, 1e-7, 1e21, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, 40.711600000000004,
    0.1, 1.0, -74.0104, Double.MinPositiveValue, Double.MaxValue, 1e7, 1e-3)

  private val point = StructType(Seq(StructField("x", DoubleType),
    StructField("label", StringType)))
  private val schema = StructType(Seq(
    StructField("type", StringType),
    StructField("s", StringType),
    StructField("bytes", BinaryType),
    StructField("fuzz", BinaryType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("strings", ArrayType(StringType)),
    StructField("points", ArrayType(point)),
    StructField("nested", StructType(Seq(
      StructField("inner", point), StructField("ints", ArrayType(IntegerType)),
      StructField("empty", StructType(Seq(StructField("z", StringType))))))),
    StructField("geometry", StructType(Seq(StructField("type", StringType),
      StructField("coordinates", ArrayType(ArrayType(DoubleType))))))))

  private def rows(): Seq[Row] = {
    val kinds = Seq("object", "relation", "log")
    val geometries = Seq(
      Row("Point", Seq(Seq(-74.0104, 40.7069))),
      Row("Point", null), Row("Point", Seq(null)),
      Row("Point", Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))),
      Row("MultiPoint", Seq(Seq(-74.01, 40.7), null, Seq(Double.NaN, -0.0))),
      Row("MultiPoint", null), Row(null, Seq(Seq(5.0, 6.0))), Row(null, null),
      Row("point", Seq(Seq(1.0, 1.0))), Row("Po\"int", Seq()), null)
    val rnd = new scala.util.Random(42)
    (0 until 600).map { k =>
      def at[A](xs: Seq[A]) = xs(k % xs.size)
      def sometimesNull[A](v: A) = if (k % 7 == 3) null else v
      Row(
        at(kinds),
        sometimesNull(at(strings)),
        at(malformed).map(_.toByte),
        fuzz(rnd),
        Seq(Int.MinValue, Int.MaxValue, 0, -1, k * 7919)(k % 5),
        sometimesNull(at(doubles)),
        if (k % 5 == 0) null else if (k % 5 == 1) Seq() else
          Seq(at(strings), null, "\u0000"),
        if (k % 4 == 0) null else if (k % 4 == 1) Seq() else
          Seq(Row(at(doubles), null), null, Row(null, at(strings))),
        if (k % 6 == 0) null else Row(
          if (k % 6 == 1) null else Row(at(doubles), at(strings)),
          if (k % 6 == 2) null else Seq(1, null, Int.MinValue),
          if (k % 6 == 3) null else Row(null)),
        at(geometries))
    }
  }

  /** The hand-built rows in three partitions, byte columns as strings. */
  private def frame(): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows(), 3), schema)
      .withColumn("bytes", col("bytes").cast(StringType))
      .withColumn("fuzz", col("fuzz").cast(StringType))

  test("encoder parity: escapes, malformed UTF-8, numbers and nulls as Spark's JSON writer writes them") {
    val (sink, oracle) = writtenBoth(frame())
    assert(sink.keySet.exists(_.startsWith("type=log/part-00002")), sink.keySet)
    assert(sink.keySet == oracle.keySet)
    sink.keySet.toSeq.sorted.foreach(k => assert(sink(k) == oracle(k), k))
    // the malformed sequences took the slow path and came out as U+FFFD
    assert(sink.values.exists(_.getBytes(ISO_8859_1).containsSlice(
      "\uFFFD".getBytes(UTF_8))))
  }

  test("encoder parity with null fields written (ignoreNullFields off)") {
    val key = "spark.sql.jsonGenerator.ignoreNullFields"
    spark.conf.set(key, "false")
    try {
      val (sink, oracle) = writtenBoth(frame())
      assert(sink == oracle)
      assert(sink.values.exists(_.contains("\"s\":null")))
    } finally spark.conf.unset(key)
  }

  test("kind directories: escaped, empty and null kinds as Spark names them") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("a/b=c%", "x"), Row("", "y"), Row(null, "z"), Row("a/b=c%", "w"),
      Row("log", null)), 2),
      StructType(Seq(StructField("type", StringType), StructField("s", StringType))))
    val (sink, oracle) = writtenBoth(df)
    assert(sink == oracle)
    assert(sink.keySet.exists(_.startsWith("type=__HIVE_DEFAULT_PARTITION__/")))
  }

  private def union(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, k) =>
      (Seq("object", "relation", "log")(k % 3), t, k) }
      .toDF("type", "text", "n").repartition(3, col("n"))
  }

  test("a task that fails mid-write leaves the old output and no staging directory") {
    val parent = Files.createTempDirectory("graft-union-fail")
    val out = parent.resolve("out")
    CityDirectories.writeUnion(union((0 until 90).map(k => s"old $k")), out.toString)
    val before = tree(out)
    assert(before.keySet.count(_.contains("/part-")) > 3)
    // every task writes rows before the injected row fails its task
    val failing = union((0 until 300).map(k => s"new $k"))
      .withColumn("text", when(col("n") === 250,
        raise_error(lit("injected write failure")).cast(StringType))
        .otherwise(col("text")))
    val e = intercept[Exception](CityDirectories.writeUnion(failing, out.toString))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected write failure")), e)
    assert(tree(out) == before)
    assert(list(parent) == Seq(out))
  }

  test("an overwrite replaces the whole old output, kinds it no longer has included") {
    val parent = Files.createTempDirectory("graft-union-replace")
    val out = parent.resolve("out")
    CityDirectories.writeUnion(union((0 until 30).map(k => s"old $k")), out.toString)
    import spark.implicits._
    CityDirectories.writeUnion(Seq(("object", "new", 1)).toDF("type", "text", "n"),
      out.toString)
    val after = tree(out).filter { case (k, _) => !k.split('/').last.startsWith(".") }
    assert(after.keySet == Set("_SUCCESS", "type=object/part-00000.c000.json"))
    assert(after("type=object/part-00000.c000.json") == "{\"text\":\"new\",\"n\":1}\n")
    assert(list(parent) == Seq(out))
  }

  test("only files of committed attempts reach the output") {
    val parent = Files.createTempDirectory("graft-union-attempts")
    val target = new Path(parent.resolve("out").toUri)
    val staging = new Path(parent.resolve(".out-q.staging").toUri)
    val layout = UnionLayout(StructType(Seq(StructField("type", StringType),
      StructField("text", StringType))), ignoreNullFields = true)
    val batch = new UnionBatchWrite(target, staging, "q", layout, new Configuration())
    val factory = batch.createBatchWriterFactory(null)
    def row(kind: String, text: String) =
      InternalRow(UTF8String.fromString(kind), UTF8String.fromString(text))
    def attempt(partition: Int, taskId: Long, tag: String) = {
      val w = factory.createWriter(partition, taskId)
      Seq("object", "log", "object").foreach(k => w.write(row(k, s"$tag $k")))
      w
    }
    // partition 0: one attempt fails, one is lost with its files in place
    // and one commits; partition 1 commits once
    val failed = attempt(0, 1, "failed")
    failed.abort(); failed.close()
    attempt(0, 2, "lost")
    val committed = Seq(attempt(0, 3, "kept"), attempt(1, 4, "kept"))
      .map { w => val m = w.commit(); w.close(); m }
    batch.commit(committed.toArray)

    val out = parent.resolve("out")
    val data = tree(out).filter { case (k, _) => !k.split('/').last.startsWith(".") }
    assert(data.keySet == Set("_SUCCESS",
      "type=object/part-00000-q.c000.json", "type=log/part-00000-q.c000.json",
      "type=object/part-00001-q.c000.json", "type=log/part-00001-q.c000.json"))
    assert(data("type=object/part-00000-q.c000.json") ==
      "{\"text\":\"kept object\"}\n{\"text\":\"kept object\"}\n")
    assert(!data.values.exists(v => v.contains("failed") || v.contains("lost")))
    assert(list(parent) == Seq(out))
  }

  test("an append or a column type the union does not have fails before anything is written") {
    import spark.implicits._
    val parent = Files.createTempDirectory("graft-union-refused")
    val out = parent.resolve("out").toString
    intercept[IllegalArgumentException](Seq(("log", "x")).toDF("type", "text")
      .write.format(classOf[UnionSink].getName).mode("append").save(out))
    intercept[IllegalArgumentException](CityDirectories.writeUnion(
      Seq(("log", true)).toDF("type", "flag"), out))
    intercept[IllegalArgumentException](CityDirectories.writeUnion(
      Seq(("log", "x")).toDF("kind", "text"), out))
    assert(list(parent).isEmpty)
  }
}
