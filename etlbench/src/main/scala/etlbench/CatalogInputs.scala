package etlbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-ins for the four tables the `catalog_iter` lanes read
  * (`documents`, `embeddings`, `orders`, `lineitem`), with the engine's
  * test-table schemas, written as `<dir>/<name>.parquet` directories so the
  * lanes read them through their usual table loader.
  *
  * Every value is a pure function of (seed, row id), computed by Spark
  * expressions, so the same seed writes the same rows. Shapes follow the
  * roles the lanes give them: document text draws from a small vocabulary
  * with about one document in twenty a marked copy of an earlier one;
  * embeddings are unit vectors scattered around ten labelled centres, far
  * from the 0.95 similarity the dedup lane uses as its threshold; line items
  * reference orders uniformly.
  */
object CatalogInputs {

  final case class Size(documents: Long, embeddings: Long, orders: Long,
                        lineitems: Long)

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")

  private val dim = 64

  /** Uniform draw in [0, 1) keyed by the seed, a per-column salt and `keys`. */
  private def u(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((Seq(lit(seed), lit(salt)) ++ keys): _*), lit(1L << 30))
      .cast("double") / (1L << 30).toDouble

  private def pick(seed: Long, salt: Int, choices: Seq[String],
                   keys: Column*): Column =
    element_at(typedLit(choices),
      (floor(u(seed, salt, keys: _*) * choices.size) + 1).cast("int"))

  private def text(seed: Long, id: Column): Column = {
    val len = (lit(10) + floor(u(seed, 1, id) * 90)).cast("int")
    array_join(transform(sequence(lit(1), len),
      i => pick(seed, 2, vocab, id, i)), " ")
  }

  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val copy = id > 0 && u(seed, 3, id) < 0.05
    val source = floor(u(seed, 4, id) * id).cast("long")
    spark.range(n).select(
      id.as("doc_id"),
      when(copy, concat(text(seed, source), lit(" dup")))
        .otherwise(text(seed, id)).as("text"),
      pick(seed, 5, Seq("en", "en", "en", "zh", "de", "fr", "es"), id)
        .as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val label = floor(u(seed, 6, id) * 10).cast("int")
    val raw = transform(sequence(lit(0), lit(dim - 1)), d =>
      (u(seed, 7, label, d) * 2 - 1) + (u(seed, 8, id, d) * 2 - 1))
    spark.range(n).select(id.as("vec_id"), raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id.as("o_orderkey"),
      floor(u(seed, 9, id) * 1000).cast("long").as("o_custkey"),
      pick(seed, 10, Seq("P", "O", "F"), id).as("o_orderstatus"),
      round(u(seed, 11, id) * 500000, 2).as("o_totalprice"),
      timestamp_seconds(lit(852076800L) + floor(u(seed, 12, id) * 1800) * 86400)
        .as("o_orderdate"),
      pick(seed, 13, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), id).as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, seed: Long, n: Long,
               orders: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      floor(u(seed, 14, id) * orders).cast("long").as("l_orderkey"),
      floor(u(seed, 15, id) * 2000).cast("long").as("l_partkey"),
      floor(u(seed, 16, id) * 100).cast("long").as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 17, id) * 50) + 1).as("l_quantity"),
      round(u(seed, 18, id) * 100000, 2).as("l_extendedprice"),
      round(floor(u(seed, 19, id) * 11) / 100, 2).as("l_discount"),
      round(floor(u(seed, 20, id) * 9) / 100, 2).as("l_tax"),
      pick(seed, 21, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(seed, 22, Seq("O", "F"), id).as("l_linestatus"),
      timestamp_seconds(lit(852076800L) + floor(u(seed, 23, id) * 1900) * 86400)
        .as("l_shipdate"))
  }

  /** Write all four tables under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, size: Size): Unit =
    Seq(
      "documents" -> documents(spark, seed, size.documents),
      "embeddings" -> embeddings(spark, seed, size.embeddings),
      "orders" -> orders(spark, seed, size.orders),
      "lineitem" -> lineitem(spark, seed, size.lineitems, size.orders)
    ).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
