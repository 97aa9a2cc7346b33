package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * Every [[SparkEntry.registry]] plan takes an `sfDir` like
  * `/root/testdata/sf0.01` and read one parquet file per table. At cluster
  * scale the same call reads a partitioned directory — nothing here assumes
  * single-file layout.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  /** o_orderdate has shipped as both TIMESTAMP and (newer drops)
    * TIMESTAMP_NTZ — same normalization as events.ts, so `unix_micros`
    * consumers (RFM recency, SCD2 versions) analyze under either
    * encoding. Date-part functions are value-identical across the cast
    * (session tz pinned UTC).
    */
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** The events table carries TIMESTAMP(NANOS) parquet timestamps, which
    * Spark's vectorized reader rejects; read nanos as long (legacy conf)
    * and convert to a microsecond TimestampType column (integer DIV —
    * epoch-ns exceeds double precision).
    *
    * DAY-BUCKET CONTRACT (every `unix_micros(ts) DIV 86400000000` site
    * and its oracle `epoch_us(ts) // 86400000000` twin): both Spark's
    * `DIV` and this container's DuckDB `//` TRUNCATE toward zero on
    * integers (verified: `(-7) // 2 = -3`), so the engines agree on
    * any timestamp — but truncation folds the day fractions on either
    * side of 1970-01-01 into bucket 0. Cross-engine hashes are safe;
    * the bucket SEMANTICS assume post-epoch event time. If pre-1970
    * event data ever matters, switch BOTH sides to a pmod-floor form
    * in one commit — changing only one engine flips every day-bucket
    * hash.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }

  /** Normalize the `ts` column to microsecond TimestampType regardless of
    * how the parquet writer encoded it: nanos-as-long (legacy conf read),
    * TIMESTAMP_NTZ (tz-naive micros — the session tz is pinned to UTC, so a
    * cast preserves every value), or already TimestampType (no-op).
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(colName, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$colName DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(colName, org.apache.spark.sql.functions.col(colName)
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Local SparkSession for tests / tools. 32 shuffle partitions to match the
    * local[32] harness; on a real cluster callers configure their own session
    * (AQE coalesces shuffle partitions either way).
    */
  def localSession(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
  }
}
