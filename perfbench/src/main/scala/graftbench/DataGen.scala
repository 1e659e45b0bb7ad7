package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the inputs the engine's queries read: the
  * TPC-H-like star schema plus `events`, `documents` and `embeddings`,
  * with the column names, types and value domains of the engine's test
  * tables. Every value is a hash of (seed, column salt, row id), so one
  * seed always yields byte-identical tables and the engine sees only
  * these generated files. Row counts scale like the test tables:
  * `sf` 0.01 gives 60k lineitem rows. */
object DataGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val P = 1000000007L
  // 1995-01-01T00:00:00Z and 2024-01-01T00:00:00Z in epoch seconds
  private val Epoch1995 = 788918400L
  private val Epoch2024 = 1704067200L
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Vocab = Seq("a", "the", "data", "spark", "table", "row", "column",
    "key", "value", "part", "order", "line", "customer", "query", "scan", "join",
    "hash", "sort", "merge", "agg", "group", "window", "stream", "batch", "filter",
    "fast", "slow", "big", "small", "vector", "dup")

  final case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
                         lineitem: Long, events: Long, users: Long,
                         documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000),
      n(15000), math.max(500L, n(50000)), math.max(500L, n(20000)))
  }

  /** Uniform [0, 1) from (seed, salt, key). */
  def u(seed: Long, salt: Int, key: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(P)).cast("double") / P.toDouble

  private def below(seed: Long, salt: Int, n: Long): Column =
    floor(u(seed, salt) * n).cast("long")

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(seed, salt) * values.size) + 1).cast("int"))

  private def money(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(u(seed, salt) * (hi - lo) + lo, 2)

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long,
             firstKey: Long = 0L): DataFrame =
    spark.range(firstKey, firstKey + n, 1, 1).select(
      col("id").as("o_orderkey"),
      below(seed, 1, customers).as("o_custkey"),
      pick(seed, 2, Seq("O", "F", "P")).as("o_orderstatus"),
      money(seed, 3, 1000.0, 500000.0).as("o_totalprice"),
      timestamp_seconds(lit(Epoch1995) + floor(u(seed, 4) * 2404) * 86400).as("o_orderdate"),
      pick(seed, 5, Priorities).as("o_orderpriority"))

  private def table(spark: SparkSession, name: String, seed: Long, z: Sizes): DataFrame = {
    def range(n: Long) = spark.range(0, n, 1, 1)
    name match {
      case "region" =>
        spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
          .zipWithIndex.map { case (r, i) => (i, r) }).toDF("r_regionkey", "r_name")
      case "nation" =>
        spark.createDataFrame((0 until 25).map(i => (i, s"NATION_$i", i % 5)))
          .toDF("n_nationkey", "n_name", "n_regionkey")
      case "customer" => range(z.customer).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        below(seed, 11, 25).cast("int").as("c_nationkey"),
        money(seed, 12, -999.99, 9999.99).as("c_acctbal"),
        pick(seed, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment"))
      case "supplier" => range(z.supplier).select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        below(seed, 21, 25).cast("int").as("s_nationkey"),
        money(seed, 22, -999.99, 9999.99).as("s_acctbal"))
      case "part" => range(z.part).select(
        col("id").as("p_partkey"),
        concat_ws(" ", pick(seed, 31, Seq("small", "red", "blue", "green", "large", "shiny")),
          pick(seed, 32, Seq("ring", "widget", "bolt", "gear", "valve", "spring"))).as("p_name"),
        concat(lit("Brand#"), (below(seed, 33, 25) + 1).cast("string")).as("p_brand"),
        pick(seed, 34, Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")).as("p_type"),
        (below(seed, 35, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0, 2).as("p_retailprice"))
      case "orders" => orders(spark, seed, z.orders, z.customer)
      case "lineitem" =>
        val partkey = below(seed, 43, z.part)
        val qty = (below(seed, 45, 50) + 1).cast("double")
        range(z.lineitem).select(
          below(seed, 41, z.orders).as("l_orderkey"),
          partkey.as("l_partkey"),
          below(seed, 44, z.supplier).as("l_suppkey"),
          (below(seed, 42, 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900.0) + pmod(partkey, lit(1000L)) / 10.0), 2).as("l_extendedprice"),
          (below(seed, 46, 11) / 100.0).as("l_discount"),
          (below(seed, 47, 9) / 100.0).as("l_tax"),
          pick(seed, 48, Seq("A", "N", "R")).as("l_returnflag"),
          pick(seed, 49, Seq("F", "O")).as("l_linestatus"),
          timestamp_seconds(lit(Epoch1995 + 86400) + floor(u(seed, 50) * 2498) * 86400)
            .as("l_shipdate"))
      case "events" => range(z.events).select(
        col("id").as("event_id"),
        timestamp_micros((lit(Epoch2024) + col("id") * 259) * 1000000L +
          floor(u(seed, 51) * 250000000L)).as("ts"),
        below(seed, 52, z.users).as("user_id"),
        pick(seed, 53, Seq("signup", "purchase", "error", "view", "click")).as("event_type"),
        money(seed, 54, 0.01, 490.02).as("value"),
        format_string("{\"k\": %d}", below(seed, 55, 100)).as("props"))
      case "documents" =>
        // ~15% of documents copy an earlier one plus a trailing "dup"
        // token, so the dedup operators have near-duplicates to find
        val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
        range(z.documents)
          .withColumn("src", when(u(seed, 61) < 0.15 && col("id") > 3,
            col("id") - 1 - below(seed, 62, 3)).otherwise(col("id")))
          .withColumn("ntok", (floor(u(seed, 63, col("src")) * 93) + 8).cast("int"))
          .selectExpr("id AS doc_id",
            s"""concat_ws(' ', transform(sequence(1, ntok), i ->
               |  element_at($vocab, cast(pmod(xxhash64(${seed}L, 64, src, i), ${Vocab.size}) + 1 AS INT)))
               |) || IF(src = id, '', ' dup') AS text""".stripMargin,
            s"element_at(array('en','en','en','zh','de','fr','es'), " +
              s"cast(pmod(xxhash64(${seed}L, 65, id), 7) + 1 AS INT)) AS lang",
            "concat('src', cast(id % 20 AS STRING)) AS source")
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        range(z.embeddings)
          .withColumn("label", below(seed, 71, 10).cast("int"))
          .selectExpr("id AS vec_id", "label",
            s"""transform(sequence(0, 63), i ->
               |  pmod(xxhash64(${seed}L, 72, label, i), ${P}L) / ${P}D - 0.5 +
               |  0.6 * (pmod(xxhash64(${seed}L, 73, id, i), ${P}L) / ${P}D - 0.5)) AS raw""".stripMargin)
          .selectExpr("vec_id",
            "transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) AS FLOAT)) AS embedding",
            "label")
    }
  }

  /** Write `names` as `<dir>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
            names: Seq[String] = Tables): Unit = {
    val z = sizes(sf)
    names.foreach(t =>
      table(spark, t, seed, z).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }
}
