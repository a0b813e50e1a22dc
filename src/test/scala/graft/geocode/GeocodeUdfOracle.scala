package graft.geocode

import graft.model.Geocoded
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The UDF form of [[Geocoder.geocode]], as it stood before the native
  * `geocode` expression replaced it: a typed `Seq[Geocoded]` UDF over
  * `transform(locations, l -> l.value)`, probing the index through
  * [[GeoIndex.get]]. The reference the parity spec compares the
  * expression against.
  */
object GeocodeUdfOracle {

  private lazy val geocodedType: DataType =
    ScalaReflection.schemaFor[Seq[Geocoded]].dataType

  def geocode(df: DataFrame, index: Broadcast[GeoIndex],
              locationsCol: String = "parsed.locations"): DataFrame = {
    val lookup = udf(new UDF1[Seq[String], Seq[Geocoded]] {
      def call(locations: Seq[String]): Seq[Geocoded] =
        if (locations == null) Seq.empty
        else locations.map { value =>
          index.value.get(Geocoder.normalizeAddress(value)) match {
            case Some(r) => Geocoded(found = true, Some(r), None)
            case None => Geocoded(found = false, None,
              Some(s"Address not found: $value"))
          }
        }
    }, geocodedType)
    df.withColumn("geocoded",
      lookup(expr(s"transform($locationsCol, l -> l.value)")))
  }
}
