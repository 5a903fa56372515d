package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver's parquet tables (`TESTDATA.md`).
  *
  * All engine code loads inputs through here so that format quirks are
  * handled exactly once. The one that matters: `events.parquet` stores `ts`
  * as parquet TIMESTAMP(NANOS), which Spark 4.1.2 rejects by default
  * ([PARQUET_TYPE_ILLEGAL]). We read it as raw nanos via
  * `spark.sql.legacy.parquet.nanosAsLong` and floor-divide to micros —
  * the same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP,
  * so oracle comparisons agree (SURVEY.md §0/§7.4).
  *
  * At 100 TB these single files become partitioned directories; nothing
  * here assumes a single file (`spark.read.parquet` takes dirs as-is).
  */
object Tables {

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** The columns and types [[events]] returns, for code that needs the
    * schema without reading the log (a streaming store's empty read). */
  val EventsSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** Event log with `ts` normalized to TimestampType (micros, UTC).
    *
    * The driver has shipped `ts` in two physical forms across rounds:
    * TIMESTAMP(NANOS) (rounds 1-7; read as raw nanos via the legacy conf,
    * then `ts div 1000` — INTEGER division: a double division would lose
    * sub-microsecond bits, nanos ~1.7e18 > 2^53) and TIMESTAMP(MICROS)
    * (round 8+; arrives as TIMESTAMP_NTZ, cast to TimestampType — an
    * identity on the wall-clock under the UTC session timezone). Both
    * normalize to the same micros value, so downstream queries and the
    * DuckDB oracle (`CAST(ts AS TIMESTAMP)`) are unaffected by which
    * vintage of the testdata is on disk. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    val norm = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", norm)
  }
}
