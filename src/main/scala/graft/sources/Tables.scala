package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness tables.
  *
  * Each table is `<name>.parquet` under the scale-factor dir: a single
  * file, or a directory of part files (perfbench writes 4). Readers are
  * plain `spark.read.parquet` so Catalyst keeps full pushdown/pruning
  * freedom — no eager caching, no schema forcing (the files carry
  * their schema).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Schema-adaptive events reader. Generator versions have stored `ts`
    * as TIMESTAMP(NANOS) (which Spark's vectorized parquet reader
    * rejects — readable only via `nanosAsLong` as int64) and as plain
    * TIMESTAMP(MICROS). Branch on the type `ts` actually loads as:
    * LongType means the nanos fallback kicked in, so truncate
    * nanos→micros (the same truncation DuckDB applies casting
    * TIMESTAMP_NS to TIMESTAMP, keeping oracle comparisons aligned);
    * any timestamp type passes through untouched.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** CSV reader with explicit schema — general source support; the
    * reference ingests CSV/Excel exports (README.md "Batch
    * Processing" → unified CSV). Excel itself is out of scope (no
    * such jar in the pinned env); CSV is the interchange format.
    */
  def csv(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).option("header", "true").csv(path)

  /** JSON-lines reader with explicit schema (product_codes.json-style
    * side inputs in the reference).
    */
  def json(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).json(path)

  /** ORC reader — second columnar format with full predicate pushdown
    * and column pruning, for interop with ORC-based warehouses.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
