package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's `transform` step (city-directories.js:338-451): each
  * geocoded line fans out into a tagged union of
  *   object   — the person node (city-directories.js:410-429)
  *   relation — one `st:in` edge per found address (:395-399, :438-441)
  *   log      — id-minting failures (:356-364) and geocode misses (:401-404)
  *
  * One pass over the input (SURVEY.md O-31/O-40): each line becomes an
  * array of records, every record a struct of all `unionColumns`, and one
  * `inline` generator turns the array into rows. A line with a minted id
  * yields its object, its relations and its miss logs; a line without one
  * yields its id log. Not a `unionByName` of one `select` per kind: the
  * input is uncached, so a union re-runs its whole lineage (archive scan,
  * column detection, parse and geocode) once per branch. No UDFs and no
  * shuffle. Write side: `partitionBy("type")` gives the reference's
  * per-kind outputs in one pass.
  *
  * Input columns: uuid, yearMin, yearMax, pageUuid, pageNum, bbox, text,
  * parsed (struct), geocoded (array<struct<found,result,error>>).
  */
object TransformOps {

  /** Schema contract of the union (FIXTURES.md A6): discriminator `type`
    * plus the per-kind nullable payload columns.
    */
  val unionColumns: Seq[String] = Seq(
    "type", "id", "objType", "name", "validSince", "validUntil",
    "data", "geometry", "to", "from", "relType", "error", "text")

  /** The `data` payload contract — the JSON Schema of
    * city-directories.dataset.json:47-131 declares exactly these keys
    * with `additionalProperties: false`.
    */
  val dataContractFields: Seq[String] = Seq(
    "volumeUuid", "pageUuid", "pageNum", "bbox", "text",
    "occupation", "locations", "geocoded")

  /** Enforce the output contract (SURVEY.md §1.2: "schema strictness —
    * additionalProperties:false means output columns must be exact"):
    * the union must carry exactly `unionColumns` and the object payload
    * exactly `dataContractFields`, in order. Fails fast at plan time,
    * before any data is written.
    */
  def enforceContract(union: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cols = union.schema.fieldNames.toSeq
    require(cols.sorted == unionColumns.sorted,
      s"union columns ${cols.sorted} != contract ${unionColumns.sorted}")
    val dataType = union.schema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(dataType.fieldNames.toSeq == dataContractFields,
      s"data payload ${dataType.fieldNames.toSeq} != contract $dataContractFields")
    union.select(unionColumns.map(col): _*)
  }

  def taggedUnion(lines: DataFrame): DataFrame = {
    // per-line arrays are bound once as columns: the `inline` generator
    // is not whole-stage codegen'd, so an expression it repeats is
    // evaluated once per repetition
    val withId = lines
      .withColumn("_id", CityDirOps.mintId(
        col("yearMin"), col("yearMax"), col("pageNum"), col("bbox")))
      .withColumn("_found", filter(col("geocoded"), g => g.getField("found")))
      // address projection (city-directories.js:384-391), shared by the
      // object payload and the relations
      .withColumn("_addresses", transform(col("_found"), g => struct(
        g.getField("result").getField("properties").getField("address")
          .getField("id").as("id"),
        g.getField("result").getField("properties").getField("address")
          .getField("name").as("name"),
        g.getField("result").getField("properties").getField("street")
          .getField("name").as("street"),
        g.getField("result").getField("properties").getField("street")
          .getField("id").as("streetId"))))
      // found geometries, which `multiPoint` reads up to five times
      .withColumn("_geometries", transform(col("_found"),
        g => g.getField("result").getField("geometry")))

    // object record (city-directories.js:410-429); validSince/validUntil
    // are the year union's min/max (:416-417)
    val objectFields = Map(
      "type" -> lit("object"),
      "id" -> col("_id"),
      "objType" -> lit("st:Person"),
      "name" -> CityDirOps.firstElement(col("parsed.subjects")),
      "validSince" -> col("yearMin"),
      "validUntil" -> col("yearMax"),
      "data" -> struct(
        col("uuid").as("volumeUuid"),
        col("pageUuid"),
        col("pageNum"),
        col("bbox"),
        col("text"),
        CityDirOps.firstElement(col("parsed.occupations")).as("occupation"),
        col("parsed.locations").as("locations"),
        col("_addresses").as("geocoded")),
      "geometry" -> CityDirOps.multiPoint(col("_geometries")))
    // every kind is a struct of all `unionColumns`, so the kinds share one
    // array type; a column a kind does not carry is a null of the column's
    // type (the object's where it carries the column, else a string)
    val nullOf = withId.select(unionColumns.map(c =>
        objectFields.getOrElse(c, lit(null).cast("string")).as(c)): _*)
      .schema.fields.map(f => f.name -> lit(null).cast(f.dataType)).toMap
    def record(fields: (String, Column)*): Column = {
      val given = fields.toMap
      struct(unionColumns.map(c => given.getOrElse(c, nullOf(c)).as(c)): _*)
    }

    // edge records: one per found address (city-directories.js:395-399)
    val relations = transform(col("_addresses"), a => record(
      "type" -> lit("relation"),
      "to" -> a.getField("id"),
      "from" -> col("_id"),
      "relType" -> lit("st:in")))
    // log records: geocode misses (city-directories.js:401-404) …
    val missLogs = transform(
      filter(col("geocoded"), g => !g.getField("found")), m => record(
        "type" -> lit("log"),
        "id" -> col("_id"),
        "error" -> m.getField("error")))
    // … and id-minting failures (city-directories.js:356-364; message
    // string kept verbatim, typo included)
    val idLog = record(
      "type" -> lit("log"),
      "error" -> lit("Coult not create ID"),
      "text" -> col("text"))

    // a null `geocoded` still yields its object record: concat would turn
    // the whole array null, so empty the missing relations and misses
    val records = when(col("_id").isNotNull, concat(
        array(record(objectFields.toSeq: _*)),
        coalesce(relations, array()),
        coalesce(missLogs, array())))
      .otherwise(array(idLog))
    withId.select(inline(records))
  }

  /** Upsert (merge) without a table format: the updated rows win on
    * key collision, unmatched current rows survive — `updates ∪
    * (current ⟕̸ updates)` as one anti join. This is the
    * overwrite-partition merge a parquet-only pipeline runs for
    * dimension refreshes; the anti join is an equi-join on the key
    * (broadcast-able when updates are small — the common case), and no
    * row is compared more than once.
    *
    * PRECONDITION (as for SQL MERGE): `updates` must be unique and
    * non-null on `keyCols` — duplicate update keys all pass through the
    * union (emitting a dimension with duplicated keys), and null-keyed
    * updates accumulate on every refresh since an anti join never
    * matches null. Dedupe upstream (e.g. `DedupOps.dedupExact`) when
    * the source can't guarantee it.
    */
  def upsert(current: DataFrame, updates: DataFrame,
             keyCols: Seq[String]): DataFrame =
    updates.unionByName(
      current.join(updates.select(keyCols.map(col): _*),
        keyCols, "left_anti"))

  /** Equi-width histogram of a numeric column: `nBins` equal-width
    * buckets between the column's observed min and max (closed on the
    * right edge — the max lands in the last bin). Companion to
    * [[columnProfile]] for the distribution-shape half of profiling.
    *
    * Scale shape: one scalar min/max aggregate broadcast-crossed into a
    * second single-pass binning aggregate — two scans, zero driver
    * logic, output is `nBins` rows. The bin expression is plain double
    * arithmetic `(x-mn)*nBins/(mx-mn)` evaluated identically by any
    * IEEE engine, so the oracle replays bit-exactly. A degenerate
    * column (min = max) collapses to bin 0 rather than dividing by
    * zero.
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be positive, got $nBins")
    val mm = df.agg(min(col(valueCol)).cast("double").as("_mn"),
      max(col(valueCol)).cast("double").as("_mx"))
    df.select(col(valueCol).cast("double").as("_x"))
      .filter(col("_x").isNotNull)
      .crossJoin(broadcast(mm))
      .select(
        when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(
            floor((col("_x") - col("_mn")) * nBins / (col("_mx") - col("_mn"))),
            lit(nBins - 1))).cast("int").as("bin"),
        col("_x"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("_x")), 4).as("lo"),
        round(max(col("_x")), 4).as("hi"))
  }

  /** One-pass long-form column profile: per column, row/null/exact-
    * distinct counts and min/max (cast to string for a uniform output
    * schema) — the stats sweep a pipeline runs before trusting a new
    * drop of data. ONE scan: all columns' aggregates ride a single
    * `agg` (the multi-distinct rewrites to one Expand), then the wide
    * row unpivots client-side via stack. Profile string/integer
    * columns; float formatting differs across engines, so cast those
    * upstream if cross-engine comparison matters.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__cnt"),
      countDistinct(col(c)).as(s"${c}__dist"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    // the stack() call is assembled as SQL text, so escape what the
    // parser would see: quotes in the label literal, backticks in the
    // quoted identifiers
    def lbl(c: String) = c.replace("\\", "\\\\").replace("'", "\\'")
    def id(c: String) = c.replace("`", "``")
    val stackArgs = cols.map(c =>
      s"'${lbl(c)}', `${id(c)}__cnt`, `${id(c)}__dist`, " +
        s"`${id(c)}__min`, `${id(c)}__max`")
      .mkString(", ")
    wide.select(col("__rows"), expr(
        s"stack(${cols.size}, $stackArgs) AS " +
          "(column, __cnt, n_distinct, min_value, max_value)"))
      .select(col("column"), col("__rows").as("n_rows"),
        (col("__rows") - col("__cnt")).as("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }
}
