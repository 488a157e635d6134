package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Schema'd loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Parity note: the reference reads its corpus through an `Inputer`
  * (key list + per-key fetch, /root/reference/inputer.go:11). Here the
  * corpus is columnar parquet and the "inputer" is Spark's vectorized
  * parquet source — filters and projections push down to the scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The schema Spark infers for each table, so a read starts no
    * schema-inference job. `events` has none: its `ts` dtype varies
    * by generator version ([[normalizeTs]]). */
  val schemas: Map[String, String] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val reader = spark.read
    schemas.get(name).fold(reader)(reader.schema).parquet(s"$sfDir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Normalize the events `ts` column to a first-class TimestampType
    * (for window/watermark use) regardless of how the parquet surfaced
    * it. The generator has shipped `ts` as TIMESTAMP(NANOS) (loads as
    * raw Long under [[Driver.session]]'s legacy flag → truncate to µs, the same
    * truncation DuckDB applies) and as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (loads as TIMESTAMP_NTZ under Spark 4's
    * NTZ inference → reinterpret in the session TZ, which every graft
    * session pins to UTC so the rendered instants match the oracle's
    * naive timestamps bit-for-bit). Branching on the *loaded* dtype
    * keeps one loader correct across generator/image versions. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other =>
      throw new IllegalStateException(s"unsupported events.ts dtype: $other")
  }

  /** A NANOS `ts` loads only on a session built like [[Driver.session]]. */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
