package graft.operators

import graft.geocode.Geocoder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  * column detection, parse and geocode) once per branch.
  *
  * The array is built by one native expression ([[TaggedRecordsExpr]],
  * `tagged_records`), not by `transform`/`filter` lambdas, which Spark
  * evaluates outside whole-stage codegen: with no lambda and no UDF in
  * it, the `inline` generator runs in the same codegen stage as the
  * parse and geocode steps before it. No shuffle. Write side:
  * `CityDirectories.writeUnion` gives the reference's per-kind outputs
  * in the same pass, each task writing its rows as they come, one file
  * per kind, with no sort.
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

  /** The id (O-18) and the first subject and occupation (O-20) keep their
    * column definitions in [[CityDirOps]] and codegen as children of the
    * record builder; the records themselves are built by its kernel,
    * [[TaggedRecords.records]].
    */
  def taggedUnion(lines: DataFrame): DataFrame =
    lines.select(inline(ColumnBridge.column(TaggedRecordsExpr(Seq(
      CityDirOps.mintId(
        col("yearMin"), col("yearMax"), col("pageNum"), col("bbox")),
      CityDirOps.firstElement(col("parsed.subjects")),
      col("yearMin"), col("yearMax"), col("uuid"), col("pageUuid"),
      col("pageNum"), col("bbox"), col("text"),
      CityDirOps.firstElement(col("parsed.occupations")),
      col("parsed.locations"), col("geocoded"))
      .map(ColumnBridge.expression)))))

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

/** Kernel of [[TaggedRecordsExpr]]: one line's union records as Spark
  * internal rows. The inputs arrive in the order of the ordinals below,
  * each as its Catalyst value (null for SQL NULL, primitives boxed); the
  * records reuse the input values, since each is written out before the
  * next line is read.
  */
object TaggedRecords {

  // input ordinals: the expression's children, in this order
  private[operators] val Id = 0
  private[operators] val Name = 1
  private[operators] val YearMin = 2
  private[operators] val YearMax = 3
  private[operators] val Uuid = 4
  private[operators] val PageUuid = 5
  private[operators] val PageNum = 6
  private[operators] val Bbox = 7
  private[operators] val Text = 8
  private[operators] val Occupation = 9
  private[operators] val Locations = 10
  private[operators] val Geocoded = 11
  private[operators] val Inputs = 12

  /** Record field ordinals, in `TransformOps.unionColumns` order. */
  private object R {
    val Type = 0; val Id = 1; val ObjType = 2; val Name = 3
    val ValidSince = 4; val ValidUntil = 5; val Data = 6; val Geometry = 7
    val To = 8; val From = 9; val RelType = 10; val Error = 11; val Text = 12
    val Fields = 13
  }

  private val ObjectKind = UTF8String.fromString("object")
  private val Person = UTF8String.fromString("st:Person")
  private val RelationKind = UTF8String.fromString("relation")
  private val In = UTF8String.fromString("st:in")
  private val LogKind = UTF8String.fromString("log")
  // city-directories.js:356-364, typo included
  private val NoId = UTF8String.fromString("Coult not create ID")
  private val MultiPointType = UTF8String.fromString("MultiPoint")

  /** A record's fields, every one null but the kind. */
  private def record(kind: UTF8String): Array[Any] = {
    val r = new Array[Any](R.Fields)
    r(R.Type) = kind
    r
  }

  def records(in: Array[Any]): ArrayData = {
    val id = in(Id)
    if (id == null) {
      val log = record(LogKind)
      log(R.Error) = NoId
      log(R.Text) = in(Text)
      return new GenericArrayData(Array[Any](new GenericInternalRow(log)))
    }
    // found and missed entries, in order; a null entry or a null `found`
    // is neither (the `filter` predicates' null semantics)
    val geocoded = in(Geocoded).asInstanceOf[ArrayData]
    val n = if (geocoded == null) 0 else geocoded.numElements()
    val entries = new Array[InternalRow](n)
    var found = 0
    var missed = 0
    var i = 0
    while (i < n) {
      if (!geocoded.isNullAt(i)) {
        val g = geocoded.getStruct(i, 3)
        entries(i) = g
        if (!g.isNullAt(0)) { if (g.getBoolean(0)) found += 1 else missed += 1 }
      }
      i += 1
    }
    // the object first, then one relation per found entry, then one log
    // per missed entry
    val out = new Array[Any](1 + found + missed)
    val addresses = new Array[Any](found)
    val geometries = new Array[InternalRow](found)
    var f = 0
    var m = 1 + found
    i = 0
    while (i < n) {
      val g = entries(i)
      if (g != null && !g.isNullAt(0)) {
        if (g.getBoolean(0)) {
          val result = if (g.isNullAt(1)) null else g.getStruct(1, 2)
          val address = addressOf(result)
          addresses(f) = address
          geometries(f) = if (result == null || result.isNullAt(1)) null
            else result.getStruct(1, 2)
          // edge record (city-directories.js:395-399)
          val rel = record(RelationKind)
          rel(R.To) = address.getUTF8String(0)
          rel(R.From) = id
          rel(R.RelType) = In
          out(1 + f) = new GenericInternalRow(rel)
          f += 1
        } else {
          // miss log (city-directories.js:401-404)
          val log = record(LogKind)
          log(R.Id) = id
          log(R.Error) = if (g.isNullAt(2)) null else g.getUTF8String(2)
          out(m) = new GenericInternalRow(log)
          m += 1
        }
      }
      i += 1
    }
    // object record (city-directories.js:410-429); validSince/validUntil
    // are the year union's min/max (:416-417)
    val obj = record(ObjectKind)
    obj(R.Id) = id
    obj(R.ObjType) = Person
    obj(R.Name) = in(Name)
    obj(R.ValidSince) = in(YearMin)
    obj(R.ValidUntil) = in(YearMax)
    obj(R.Data) = new GenericInternalRow(Array[Any](in(Uuid), in(PageUuid),
      in(PageNum), in(Bbox), in(Text), in(Occupation), in(Locations),
      if (geocoded == null) null else new GenericArrayData(addresses)))
    obj(R.Geometry) = if (geocoded == null) null else multiPoint(geometries)
    out(0) = new GenericInternalRow(obj)
    new GenericArrayData(out)
  }

  /** The address projection of a found entry's result
    * (city-directories.js:384-391): struct(id, name, street, streetId). */
  private def addressOf(result: InternalRow): InternalRow = {
    val props = if (result == null || result.isNullAt(0)) null
      else result.getStruct(0, 2)
    def ref(i: Int) = if (props == null || props.isNullAt(i)) null
      else props.getStruct(i, 2)
    def str(r: InternalRow, i: Int) = if (r == null || r.isNullAt(i)) null
      else r.getUTF8String(i)
    val (addr, street) = (ref(0), ref(1))
    new GenericInternalRow(Array[Any](
      str(addr, 0), str(addr, 1), str(street, 1), str(street, 0)))
  }

  /** O-35: `makeMultiPoint` (city-directories.js:325-336) over the found
    * geometries, in the normalized representation (coordinates always
    * array<array<double>>; a Point has one outer element): none → null,
    * one → that geometry unchanged, several → a MultiPoint of all their
    * points, whose coordinates are null if any geometry or its
    * coordinates are.
    */
  private[graft] def multiPoint(geometries: Array[InternalRow]): InternalRow =
    geometries.length match {
      case 0 => null
      case 1 => geometries(0)
      case _ =>
        val parts = geometries.map(g =>
          if (g == null || g.isNullAt(1)) null else g.getArray(1))
        val coordinates =
          if (parts.contains(null)) null
          else {
            val points = new Array[Any](parts.map(_.numElements()).sum)
            var k = 0
            parts.foreach { p =>
              var j = 0
              while (j < p.numElements()) {
                points(k) = if (p.isNullAt(j)) null else p.getArray(j)
                j += 1
                k += 1
              }
            }
            new GenericArrayData(points)
          }
        new GenericInternalRow(Array[Any](MultiPointType, coordinates))
    }
}

/** The `transform` step's record builder, `tagged_records(…)`: per line,
  * the array of union records (see [[TransformOps]]), from the inputs
  * [[TaggedRecords]] lists. One static kernel call inside whole-stage
  * codegen, so the `inline` over it is codegen'd too.
  *
  * The record type follows the inputs: the pass-through columns (name,
  * years, text, the `data` payload) keep their input types, the geometry
  * keeps the `geocoded` entries' geometry type, and every field but
  * `type` is nullable, as each kind leaves the others' columns null.
  */
case class TaggedRecordsExpr(children: Seq[Expression]) extends Expression {
  import TaggedRecords._

  // the kernel reads `geocoded` by ordinal, so its shape must be the
  // geocoder's; an input frame may still differ in nullability
  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(children(Geocoded).dataType,
        Geocoder.geocodedType, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("tagged_records expects geocoded " +
      s"${Geocoder.geocodedType.simpleString}, got " +
      children(Geocoded).dataType.simpleString)

  override lazy val dataType: DataType = {
    def pass(field: String, input: Int) =
      StructField(field, children(input).dataType, children(input).nullable)
    val geometry = children(Geocoded).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("result").dataType
      .asInstanceOf[StructType]("geometry").dataType.asInstanceOf[StructType]
    val address = StructType(Seq("id", "name", "street", "streetId")
      .map(StructField(_, StringType)))
    val data = StructType(Seq(
      pass("volumeUuid", Uuid), pass("pageUuid", PageUuid),
      pass("pageNum", PageNum), pass("bbox", Bbox), pass("text", Text),
      pass("occupation", Occupation), pass("locations", Locations),
      StructField("geocoded", ArrayType(address, containsNull = false))))
    ArrayType(StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("id", StringType), StructField("objType", StringType),
      StructField("name", children(Name).dataType),
      StructField("validSince", children(YearMin).dataType),
      StructField("validUntil", children(YearMax).dataType),
      StructField("data", data),
      StructField("geometry",
        StructType(geometry.fields.map(_.copy(nullable = true)))),
      StructField("to", StringType), StructField("from", StringType),
      StructField("relType", StringType), StructField("error", StringType),
      StructField("text", children(Text).dataType))), containsNull = false)
  }

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    records(children.map(_.eval(input)).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = ctx.freshName("in")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val v = c.genCode(ctx)
      val boxed =
        if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${v.value})"
        else v.value.toString
      code"""
        ${v.code}
        $in[$i] = ${v.isNull} ? null : $boxed;"""
    }
    ev.copy(code = code"""
      Object[] $in = new Object[$Inputs];
      ${fill.foldLeft(EmptyBlock: Block)(_ + _)}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.operators.TaggedRecords.records($in);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TaggedRecordsExpr = copy(children = c)

  override def prettyName: String = "tagged_records"
}
