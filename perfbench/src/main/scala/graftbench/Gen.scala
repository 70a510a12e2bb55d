package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seeded generators. Every input a workload hands graft comes from here,
  * so the same seed gives the same tables, commits and query parameters.
  */
object Gen {

  /** `rows` TPC-H `lineitem`-shaped rows in `slices` partitions (4 lines per order), partition
    * column `ship_year` (1992-1998). Column values are hashes of the row
    * id and the seed; `l_orderkey` rises with the row id, so a sorted
    * write gives files with narrow key ranges.
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Long,
      slices: Int = 4): DataFrame = {
    val id = col("id")
    def h(salt: Int) = pmod(xxhash64(id, lit(seed), lit(salt)), lit(Long.MaxValue))
    val flags = array(lit("A"), lit("N"), lit("R"))
    val modes = array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP",
      "TRUCK").map(lit): _*)
    val shipdate = date_add(lit(java.sql.Date.valueOf("1992-01-02")),
      (h(1) % 2526).cast("int"))
    spark.range(0, rows, 1, slices).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (h(2) % 200000 + 1).as("l_partkey"),
      (h(3) % 10000 + 1).as("l_suppkey"),
      (h(4) % 50 + 1).as("l_quantity"),
      ((h(5) % 9000000 + 90000) / 100).cast(DecimalType(12, 2))
        .as("l_extendedprice"),
      ((h(6) % 11) / 100).cast(DecimalType(4, 2)).as("l_discount"),
      element_at(flags, (h(7) % 3 + 1).cast("int")).as("l_returnflag"),
      shipdate.as("l_shipdate"),
      element_at(modes, (h(8) % 7 + 1).cast("int")).as("l_shipmode"),
      sha1(h(9).cast("string")).substr(lit(1), (h(10) % 30 + 10).cast("int"))
        .as("l_comment"),
      year(shipdate).as("ship_year"))
  }

  val Years: IndexedSeq[Int] = 1992 to 1998
}
