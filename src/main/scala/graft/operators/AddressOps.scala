package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Address formatting + classification
  * (FormatAndClassifyAddress / id_underspecified_addresses,
  * dataflow_utils.py:415-448 + :962-1000). Golden cases:
  * tests/test_dataflow_utils.py:73-116,167-219.
  *
  * Pure decision-tree logic → expressed entirely as Catalyst `when`
  * chains (codegen'd, no UDF).
  */
object AddressOps {

  /** Classify address specificity ∈
    * {Precise, Intersection, Underspecified, Coordinates Only, Missing}
    * and emit a concatenated single-line `input_address`
    * (`pii_input_address` when `containsPii`).
    *
    * Decision tree (reference :978-998):
    *  - street name present:
    *      street num numeric          → Precise,    "num name, city"
    *      street num empty + cross st → Intersection, "name and cross, city"
    *      else                        → Underspecified, "num name, city"
    *  - else lat,long ≠ 0            → Coordinates Only, NULL address
    *  - else                         → Missing, NULL address
    */
  def formatAndClassifyAddress(
      df: DataFrame,
      streetNum: String, streetName: String, crossStreet: String,
      city: String, lat: String, long: String,
      containsPii: Boolean): DataFrame = {
    val inputName = if (containsPii) "pii_input_address" else "input_address"
    val sNum   = coalesce(col(streetNum).cast(StringType), lit(""))
    val sName  = col(streetName).cast(StringType)
    val sCross = coalesce(col(crossStreet).cast(StringType), lit(""))
    val sCity  = coalesce(col(city).cast(StringType), lit(""))
    // try_cast: under ANSI mode (Spark 4 default) a malformed string
    // coordinate would otherwise throw instead of degrading to
    // 0.0/'Missing' — same rule as ColumnOps.changeTypes
    val latC   = coalesce(col(lat).try_cast(DoubleType), lit(0.0))
    val longC  = coalesce(col(long).try_cast(DoubleType), lit(0.0))

    val hasName   = sName.isNotNull && sName =!= ""
    val numericNo = sNum.rlike("^[0-9]+$")
    val lineAddr  = concat(sNum, lit(" "), sName, lit(", "), sCity)
    val crossAddr = concat(sName, lit(" and "), sCross, lit(", "), sCity)

    val addrType =
      when(hasName,
        when(numericNo, lit("Precise"))
          .when(sNum === "" && sCross =!= "", lit("Intersection"))
          .otherwise(lit("Underspecified")))
        .when(latC =!= 0.0 && longC =!= 0.0, lit("Coordinates Only"))
        .otherwise(lit("Missing"))

    val addr =
      when(hasName,
        when(numericNo, lineAddr)
          .when(sNum === "" && sCross =!= "", crossAddr)
          .otherwise(lineAddr))
        .otherwise(lit(null).cast(StringType))

    df.withColumns(ListMap(lat -> latC, long -> longC, "address_type" -> addrType,
      inputName -> addr))
  }

  /** Geocode against an offline lookup table (replaces
    * GoogleMapsGeocodeAddress, dataflow_utils.py:482-511 — the network
    * call becomes a broadcast join against fixture data; non-matching
    * rows become address_type='Unmappable' when already classified).
    */
  def geocodeFromLookup(
      df: DataFrame, lookup: DataFrame,
      addressCol: String = "input_address"): DataFrame = {
    val lk = broadcast(lookup.select(
      col("address").as("__ga"),
      col("formatted_address").as("google_formatted_address"),
      col("lat").as("google_lat"),
      col("long").as("google_long")))
    df.join(lk, lower(col(addressCol)) === lower(col("__ga")), "left")
      .withColumn("address_type",
        when(col("address_type").isin("Precise", "Intersection", "Underspecified")
          && col("google_formatted_address").isNull, lit("Unmappable"))
          .otherwise(col("address_type")))
      .drop("__ga")
  }
}
