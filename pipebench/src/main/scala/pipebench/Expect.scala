package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The correctness oracle: plain Spark SQL over the generated parquet,
  * written here and never through the engine. */
object Expect {
  val ProdCols = Seq("ticker", "date", "open", "high", "low", "close",
    "volume", "vwap", "event_ts", "transactions")
  val CumCols = Seq("ticker", "date", "last_7_days_open", "last_7_days_high",
    "last_7_days_low", "last_7_days_close", "last_7_days_volume",
    "avg_7_day_volume", "volatility_7_day")

  /** The production table the fetch days `days` should leave: per fetch
    * day, only bars stamped with that day, first bar per (ticker, date) by
    * `event_ts`, cast to the production DDL. */
  def production(spark: SparkSession, rawDir: String, days: Seq[String],
      rawSchema: StructType): DataFrame = {
    spark.read.schema(rawSchema.add("ds", StringType)).parquet(rawDir)
      .where(col("ds").cast("string").isin(days: _*) &&
        col("date").cast("string") === col("ds").cast("string"))
      .createOrReplaceTempView("expect_raw")
    spark.sql("""
      SELECT ticker, date,
             CAST(open AS DECIMAL(10,2)) AS open, CAST(high AS DECIMAL(10,2)) AS high,
             CAST(low AS DECIMAL(10,2)) AS low, CAST(close AS DECIMAL(10,2)) AS close,
             volume, CAST(vwap AS DECIMAL(10,2)) AS vwap, event_ts, transactions
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker, date
                                         ORDER BY event_ts) AS rn
            FROM expect_raw)
      WHERE rn = 1""")
  }

  /** The 7-row trailing metrics of every production row. Every ticker has
    * a bar on every generated day, so the last 7 rows are the reference's
    * 8-calendar-day range. */
  def cumulative(spark: SparkSession, prod: DataFrame): DataFrame = {
    prod.createOrReplaceTempView("expect_prod")
    spark.sql("""
      SELECT ticker, date,
             ARRAY_AGG(open) OVER w AS last_7_days_open,
             ARRAY_AGG(high) OVER w AS last_7_days_high,
             ARRAY_AGG(low) OVER w AS last_7_days_low,
             ARRAY_AGG(close) OVER w AS last_7_days_close,
             ARRAY_AGG(volume) OVER w AS last_7_days_volume,
             CAST(AVG(volume) OVER w AS DECIMAL(15,2)) AS avg_7_day_volume,
             CAST(COALESCE(STDDEV(close) OVER w, 0) AS DECIMAL(10,4)) AS volatility_7_day
      FROM expect_prod
      WINDOW w AS (PARTITION BY ticker ORDER BY date
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""")
  }

  /** Per-ticker row count and volume total: what the view must hold. */
  def tickerVolume(prod: DataFrame): DataFrame =
    prod.groupBy("ticker").agg(count(lit(1)).as("n_days"),
      sum("volume").as("total_volume"))

  /** Row count and an order-free hash total of `cols`, each rendered as a
    * string first, so the two sides need only agree on values. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val rendered = cols.map { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          array_join(col(c).cast("array<string>"), ",", "null")
        case _ => coalesce(col(c).cast("string"), lit("null"))
      }
    }
    val r = df.select(xxhash64(rendered: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")).cast("string"))
      .head()
    (r.getLong(0), String.valueOf(r.getString(1)))
  }
}
