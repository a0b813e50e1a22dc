package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The join form of [[DataQualityOps.provenanceAudit]], as it stood
  * before the grouped pass replaced it: each of the six checks is its
  * own anti or semi join or aggregate, and the six single-row counts
  * union at the end. The reference the parity spec compares the fold
  * against; join semantics define what a null id counts as.
  */
object ProvenanceJoinOracle {

  def provenanceAudit(source: DataFrame, kept: DataFrame,
                      tombstones: DataFrame, placements: DataFrame,
                      manifest: DataFrame, idCol: String): DataFrame = {
    val s = source.select(col(idCol)).distinct()
    val k = kept.select(col(idCol)).distinct()
    val ts = tombstones.select(col(idCol)).distinct()
    val p = placements.select(col(idCol), col("shard"))
    def cnt(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_bad"))
        .select(lit(name).as("check_name"), col("n_bad"))
    val ghost = cnt(p.join(s, Seq(idCol), "left_anti"),
      "ghost_placements")
    val leak = cnt(p.join(ts, Seq(idCol), "left_semi"),
      "tombstone_leaks")
    val unplanned = cnt(p.join(s, Seq(idCol), "left_semi")
      .join(k, Seq(idCol), "left_anti"), "unplanned_placements")
    val lost = cnt(k.join(ts, Seq(idCol), "left_anti")
      .join(p.select(col(idCol)).distinct(), Seq(idCol), "left_anti"),
      "lost_records")
    val dup = cnt(p.groupBy(col(idCol))
      .agg(count(lit(1)).as("_c")).filter(col("_c") > 1),
      "duplicate_placement_ids")
    val actual = p.groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("_actual"))
    val drift = cnt(manifest
      .select(col("shard"), col("n_docs").cast("long").as("_claimed"))
      .join(actual, Seq("shard"), "full_outer")
      .filter(coalesce(col("_claimed"), lit(0L)) =!=
        coalesce(col("_actual"), lit(0L))), "manifest_drift_shards")
    ghost.unionByName(leak).unionByName(unplanned).unionByName(lost)
      .unionByName(dup).unionByName(drift)
  }
}
