package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The array-function chain that built the fields map before
  * [[FieldsToMap]], kept verbatim as the differential oracle for it. Spark
  * runs `transform`, `filter` and `exists` interpreted (`CodegenFallback`). */
object FieldsMapOracle {

  /** O10 + O11: ARRAY<STRUCT<name,newValue,_>> (+ composite-PK map) → one
    * MAP<STRING,STRING>, duplicate names resolved latest-wins and PK keys
    * winning over field entries — exactly `HashMap::extend` semantics in the
    * reference (`src/main.rs:291-297`, `src/loader.rs:143-149`).
    *
    * Pure SQL array ops (no UDF): an entry survives iff no later entry has
    * the same name. Field lists are tiny (one row's columns), so the O(n²)
    * scan is cheaper than any shuffle-based alternative.
    */
  def fieldsToMap(fields: Column, compositePk: Column): Column = {
    val fieldEntries = transform(fields,
      f => struct(f.getField("name").as("k"), f.getField("newValue").as("v")))
    val pkEntries = transform(map_entries(coalesce(compositePk, map())),
      e => struct(e.getField("key").as("k"), e.getField("value").as("v")))
    val all = concat(fieldEntries, pkEntries)
    val deduped = filter(all, (e, i) =>
      !exists(slice(all, i + lit(2), size(all) - i - lit(1)),
        later => later.getField("k") === e.getField("k")))
    map_from_entries(deduped)
  }
}
