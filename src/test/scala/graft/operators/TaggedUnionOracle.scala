package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The lambda form of [[TransformOps.taggedUnion]], as it stood before
  * the native `tagged_records` expression replaced it: the found array,
  * the addresses and the geometries bound as columns by `filter` and
  * `transform`, each record a `struct` of all `unionColumns`, and one
  * `inline` over the concatenated arrays. The reference the parity spec
  * compares the expression against.
  */
object TaggedUnionOracle {
  import TransformOps.unionColumns

  /** `makeMultiPoint` (city-directories.js:325-336) over the normalized
    * geometry representation: 0 geometries → null, 1 → the geometry
    * unchanged, n → MultiPoint of all coordinates.
    */
  def multiPoint(geometries: Column): Column =
    when(geometries.isNull || size(geometries) === 0, lit(null))
      .when(size(geometries) === 1, element_at(geometries, 1))
      .otherwise(
        struct(
          lit("MultiPoint").as("type"),
          flatten(transform(geometries, g => g.getField("coordinates")))
            .as("coordinates")))

  def taggedUnion(lines: DataFrame): DataFrame = {
    val withId = lines
      .withColumn("_id", CityDirOps.mintId(
        col("yearMin"), col("yearMax"), col("pageNum"), col("bbox")))
      .withColumn("_found", filter(col("geocoded"), g => g.getField("found")))
      .withColumn("_addresses", transform(col("_found"), g => struct(
        g.getField("result").getField("properties").getField("address")
          .getField("id").as("id"),
        g.getField("result").getField("properties").getField("address")
          .getField("name").as("name"),
        g.getField("result").getField("properties").getField("street")
          .getField("name").as("street"),
        g.getField("result").getField("properties").getField("street")
          .getField("id").as("streetId"))))
      .withColumn("_geometries", transform(col("_found"),
        g => g.getField("result").getField("geometry")))

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
      "geometry" -> multiPoint(col("_geometries")))
    val nullOf = withId.select(unionColumns.map(c =>
        objectFields.getOrElse(c, lit(null).cast("string")).as(c)): _*)
      .schema.fields.map(f => f.name -> lit(null).cast(f.dataType)).toMap
    def record(fields: (String, Column)*): Column = {
      val given = fields.toMap
      struct(unionColumns.map(c => given.getOrElse(c, nullOf(c)).as(c)): _*)
    }

    val relations = transform(col("_addresses"), a => record(
      "type" -> lit("relation"),
      "to" -> a.getField("id"),
      "from" -> col("_id"),
      "relType" -> lit("st:in")))
    val missLogs = transform(
      filter(col("geocoded"), g => !g.getField("found")), m => record(
        "type" -> lit("log"),
        "id" -> col("_id"),
        "error" -> m.getField("error")))
    val idLog = record(
      "type" -> lit("log"),
      "error" -> lit("Coult not create ID"),
      "text" -> col("text"))

    val records = when(col("_id").isNotNull, concat(
        array(record(objectFields.toSeq: _*)),
        coalesce(relations, array()),
        coalesce(missLogs, array())))
      .otherwise(array(idLog))
    withId.select(inline(records))
  }
}
