package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The union sink's definition: Spark's own JSON writer, partitioned by
  * record kind, with `geometry` turned into GeoJSON text first. This was
  * `CityDirectories.writeUnion` before [[graft.sources.UnionSink]]; it
  * stays as the oracle the sink's bytes are compared with.
  */
object SparkJsonUnionOracle {

  def writeUnion(df: DataFrame, path: String): Unit =
    (if (df.columns.contains("geometry"))
      df.withColumn("geometry", geometryJson(col("geometry")))
    else df).write.mode("overwrite").partitionBy("type").json(path)

  /** Normalized geometry → exact GeoJSON text: Point coordinates unwrap
    * back to a flat pair (see model.Geometry).
    */
  def geometryJson(g: Column): Column =
    when(g.isNull, lit(null).cast("string"))
      .when(g.getField("type") === "Point",
        to_json(struct(
          g.getField("type").as("type"),
          element_at(g.getField("coordinates"), 1).as("coordinates"))))
      .otherwise(to_json(g))
}
