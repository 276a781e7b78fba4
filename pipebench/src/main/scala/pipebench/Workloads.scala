package pipebench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.SqlLifecycle
import graft.pipeline.{Pipeline, PipelineConfig}

/** One fetch day's injected DQ violations, as `gen.py` recorded them. */
final case class DayLabel(ds: String, tickers: Int, offWhitelist: Int,
    nullOhlc: Int, badOhlc: Int, nonposVolume: Int, wrongDate: Int,
    wrongDateOffWhitelist: Int)

/** One planned read and the answer the generated bars imply. */
final case class PlannedRead(kind: String, ticker: String, day: Int,
    chunk: Int, nDays: Int, volume: Long, close: String, nRows: Long,
    avg7DayVolume: Seq[String])

final case class Input(dir: String, seed: Long,
    days: IndexedSeq[DayLabel], whitelist: Seq[String], historyDays: Int,
    historyChunk: Int, warmupDays: Int, reads: IndexedSeq[Seq[PlannedRead]])

object Input {
  def load(dir: String): Input = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "labels.json")))
    val p = j \ "params"
    val days = (j \ "days").children.map { d =>
      DayLabel((d \ "ds").extract[String], (d \ "tickers").extract[Int],
        (d \ "off_whitelist").extract[Int], (d \ "null_ohlc").extract[Int],
        (d \ "bad_ohlc").extract[Int], (d \ "nonpos_volume").extract[Int],
        (d \ "wrong_date").extract[Int],
        (d \ "wrong_date_off_whitelist").extract[Int])
    }.toIndexedSeq
    val reads = (j \ "reads").children.map(_.children.map { r =>
      PlannedRead((r \ "kind").extract[String], (r \ "ticker").extract[String],
        (r \ "day").extractOpt[Int].getOrElse(-1),
        (r \ "chunk").extractOpt[Int].getOrElse(-1),
        (r \ "n_days").extractOpt[Int].getOrElse(-1),
        (r \ "volume").extractOpt[Long].getOrElse(-1L),
        (r \ "close").extractOpt[String].getOrElse(""),
        (r \ "n_rows").extractOpt[Long].getOrElse(-1L),
        (r \ "avg_7_day_volume").extractOpt[Seq[String]].getOrElse(Nil))
    }).toIndexedSeq
    Input(dir, (j \ "seed").extract[Long],
      days, (j \ "whitelist").extract[Seq[String]],
      (p \ "history_days").extract[Int], (p \ "history_chunk").extract[Int],
      (p \ "warmup_days").extract[Int], reads)
  }
}

/** What one day of a workload did: the read latencies inside it (the rest
  * of the day is its commit), the calls made and how many were wrong. */
final case class DayOut(readsMs: Seq[Double], ops: Int, failed: Int)

/** A workload drives the engine only through its public entry points:
  * `Pipeline.runDay` and `SqlLifecycle.execute` / `query`. */
abstract class Workload(val spark: SparkSession, val spans: Spans, val in: Input) {
  /** Program-side set-up in a fresh table root. */
  def setup(root: String): Unit
  /** Day `i` of the loop; day 0 is the cold day. */
  def day(i: Int): DayOut
  def loopDays: Int
  /** Change one stored value through the engine, so the gate must fail. */
  def corrupt(lastDay: Int): Unit
  /** End-of-run checks against the oracle, after days 0..lastDay. */
  def finalChecks(lastDay: Int): Seq[(String, Boolean)]
  /** Fetch days whose raw input the run consumed, after days 0..lastDay. */
  def inputDays(lastDay: Int): Seq[String]

  val RawSchema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("date", DateType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType), StructField("vwap", DoubleType),
    StructField("event_ts", LongType), StructField("transactions", IntegerType)))

  def rawDir: String = s"${in.dir}/raw"
  def rawDay(ds: String): DataFrame =
    spark.read.schema(RawSchema).parquet(s"$rawDir/ds=$ds")

  /** The report the six checks must give for a day: counts follow from
    * the injected violations; `dateFiltered` says whether wrong-date rows
    * were dropped before staging. */
  def expectedDq(l: DayLabel, dateFiltered: Boolean): Map[String, Long] = Map(
    "Missing stocks check" -> l.tickers.toLong,
    "Null values check" -> l.nullOhlc.toLong,
    "Invalid OHLC relationship check" -> l.badOhlc.toLong,
    "Invalid volume check" -> l.nonposVolume.toLong,
    "Date consistency check" -> (if (dateFiltered) 0L else l.wrongDate.toLong),
    "Invalid ticker check" -> (l.offWhitelist.toLong +
      (if (dateFiltered) 0L else l.wrongDateOffWhitelist.toLong)))

  def dqMatches(rows: Array[Row], l: DayLabel, dateFiltered: Boolean): Boolean =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      expectedDq(l, dateFiltered)

  protected def sameTable(name: String, got: DataFrame, want: DataFrame,
      cols: Seq[String]): (String, Boolean) =
    name -> (Expect.checksum(got.select(cols.map(col): _*), cols) ==
      Expect.checksum(want.select(cols.map(col): _*), cols))
}

/** The reference DAG as the Scala API runs it, on plain tables. */
final class DagDaily(spark: SparkSession, spans: Spans, in: Input)
    extends Workload(spark, spans, in) {
  private var pipe: Pipeline = _

  def setup(root: String): Unit =
    pipe = new Pipeline(spark, PipelineConfig(
      productionPath = s"$root/production", cumulativePath = s"$root/cumulative"))

  def loopDays: Int = in.days.size

  def day(i: Int): DayOut = {
    val l = in.days(i)
    val res = spans.timed("pipeline.day") {
      pipe.runDay(LocalDate.parse(l.ds), _ => rawDay(l.ds))
    }
    val (rows, fetch) = spans("dq.fetch")(res.dqReport.collect())
    DayOut(Seq(fetch.dur * 1000), 2, if (dqMatches(rows, l, true)) 0 else 1)
  }

  def corrupt(lastDay: Int): Unit = {
    val ds = in.days(lastDay).ds
    pipe.runDay(LocalDate.parse(ds), _ => rawDay(ds).withColumn("close",
      when(col("ticker") === "AAPL", col("close") + 1).otherwise(col("close"))))
    ()
  }

  def inputDays(lastDay: Int): Seq[String] = in.days.take(lastDay + 1).map(_.ds)

  def finalChecks(lastDay: Int): Seq[(String, Boolean)] = {
    val prod = Expect.production(spark, rawDir, inputDays(lastDay), RawSchema).cache()
    try Seq(
      sameTable("production", pipe.production, prod, Expect.ProdCols),
      sameTable("cumulative", pipe.cumulative, Expect.cumulative(spark, prod),
        Expect.CumCols))
    finally prod.unpersist()
  }
}

/** Shared DDL and the reference's statement texts for the SQL door. */
abstract class DoorWorkload(spark: SparkSession, spans: Spans, in: Input)
    extends Workload(spark, spans, in) {
  protected var life: SqlLifecycle = _
  val Prod = "jakebuto.daily_stock_prices"
  val Cum = "jakebuto.daily_stock_prices_cumulative"
  val BarCols = """
      ticker STRING, date DATE,
      open DECIMAL(10, 2), high DECIMAL(10, 2), low DECIMAL(10, 2),
      close DECIMAL(10, 2), volume BIGINT, vwap DECIMAL(10, 2),
      event_ts BIGINT, transactions INTEGER,
      insertion_timestamp TIMESTAMP"""

  /** One door call, in a span named after its verb. */
  protected def door(verb: String, sql: String): Option[DataFrame] =
    spans.timed(s"door.$verb")(life.execute(sql))

  protected def createTables(root: String): Unit = {
    life = new SqlLifecycle(spark, root)
    door("create", "CREATE SCHEMA IF NOT EXISTS jakebuto")
    door("create", s"""
      CREATE TABLE IF NOT EXISTS $Prod ($BarCols)
      USING ICEBERG PARTITIONED BY (date)
      COMMENT 'Production table for MAANG stock prices'""")
    door("create", s"""
      CREATE TABLE IF NOT EXISTS $Cum (
        ticker STRING, date DATE,
        last_7_days_open ARRAY<DECIMAL(10, 2)>,
        last_7_days_high ARRAY<DECIMAL(10, 2)>,
        last_7_days_low ARRAY<DECIMAL(10, 2)>,
        last_7_days_close ARRAY<DECIMAL(10, 2)>,
        last_7_days_volume ARRAY<BIGINT>,
        avg_7_day_volume DECIMAL(15, 2),
        volatility_7_day DECIMAL(10, 4),
        updated_at TIMESTAMP)
      USING ICEBERG PARTITIONED BY (date)
      COMMENT '7-day rolling window metrics for MAANG stocks'""")
  }

  /** The reference's rolling-window statement; `onlyDs` keeps one day. */
  protected def cumulateSql(onlyDs: Option[String]): String = {
    val range = onlyDs.map(ds =>
      s"WHERE date >= DATE '$ds' - INTERVAL 7 DAYS AND date <= DATE '$ds'")
      .getOrElse("")
    s"""
      INSERT INTO $Cum
      WITH daily_prices AS (
          SELECT ticker, date, open, high, low, close, volume
          FROM $Prod
          $range
      ),
      rolling_windows AS (
          SELECT ticker, date,
              ARRAY_AGG(open) OVER w as last_7_days_open,
              ARRAY_AGG(high) OVER w as last_7_days_high,
              ARRAY_AGG(low) OVER w as last_7_days_low,
              ARRAY_AGG(close) OVER w as last_7_days_close,
              ARRAY_AGG(volume) OVER w as last_7_days_volume,
              AVG(volume) OVER w as avg_7_day_volume,
              STDDEV(close) OVER w as volatility_7_day
          FROM daily_prices
          WINDOW w AS (
              PARTITION BY ticker ORDER BY date
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      )
      SELECT ticker, date,
          last_7_days_open, last_7_days_high, last_7_days_low,
          last_7_days_close, last_7_days_volume, avg_7_day_volume,
          COALESCE(volatility_7_day, 0) as volatility_7_day,
          CURRENT_TIMESTAMP
      FROM rolling_windows
      ${onlyDs.map(ds => s"WHERE date = DATE '$ds'").getOrElse("")}"""
  }

  protected def registerRaw(view: String, days: Seq[String]): Unit =
    spans.timed("input.register") {
      spark.read.schema(RawSchema).parquet(days.map(d => s"$rawDir/ds=$d"): _*)
        .createOrReplaceTempView(view)
    }

  def corrupt(lastDay: Int): Unit = {
    life.execute(s"UPDATE $Prod SET close = close + 1 " +
      s"WHERE ticker = 'AAPL' AND date = DATE '${in.days(lastDay).ds}'")
    ()
  }
}

/** The reference's raw statement texts through the SQL door, on versioned
  * tables, over wide days. */
final class SqlBackfill(spark: SparkSession, spans: Spans, in: Input)
    extends DoorWorkload(spark, spans, in) {

  def setup(root: String): Unit = createTables(root)
  def loopDays: Int = in.days.size
  def inputDays(lastDay: Int): Seq[String] = in.days.take(lastDay + 1).map(_.ds)

  private def dqSql(stg: String, ds: String): String = {
    val wl = in.whitelist.map(t => s"'$t'").mkString(", ")
    def check(name: String, actual: String, expected: Int, where: String) =
      s"""SELECT '$name' AS check_name, $actual AS actual_count,
                 $expected AS expected_count,
                 CASE WHEN $actual = $expected THEN 'PASS' ELSE 'FAIL' END AS status
          FROM $stg $where"""
    Seq(
      check("Missing stocks check", "COUNT(DISTINCT ticker)", in.whitelist.size, ""),
      check("Null values check", "COUNT(*)", 0,
        "WHERE open IS NULL OR high IS NULL OR low IS NULL OR close IS NULL"),
      check("Invalid OHLC relationship check", "COUNT(*)", 0,
        "WHERE high < low OR open > high OR open < low OR close > high OR close < low"),
      check("Invalid volume check", "COUNT(*)", 0, "WHERE volume <= 0"),
      check("Date consistency check", "COUNT(*)", 0, s"WHERE date != DATE '$ds'"),
      check("Invalid ticker check", "COUNT(*)", 0, s"WHERE ticker NOT IN ($wl)")
    ).mkString("\nUNION ALL\n")
  }

  def day(i: Int): DayOut = {
    val l = in.days(i)
    val ds = l.ds
    val stg = s"jakebuto.daily_stock_prices_stg_${ds.replace("-", "")}"
    registerRaw("raw_day", Seq(ds))
    door("create", s"""
      CREATE OR REPLACE TABLE $stg ($BarCols)
      USING ICEBERG
      COMMENT 'Staging table for $ds - will be dropped after load'""")
    // the fetch keeps the first bar per ticker and day (reference break)
    door("insert", s"""
      INSERT INTO $stg
      (ticker, date, open, high, low, close, volume, vwap,
       event_ts, transactions, insertion_timestamp)
      SELECT ticker, date, open, high, low, close, volume, vwap,
             event_ts, transactions, CURRENT_TIMESTAMP
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker, date
                                         ORDER BY event_ts) AS rn
            FROM raw_day)
      WHERE rn = 1""")
    val (rows, sel) = spans("door.select")(life.execute(dqSql(stg, ds)).get.collect())
    door("delete", s"DELETE FROM $Prod WHERE date = DATE '$ds'")
    door("insert", s"INSERT INTO $Prod SELECT * FROM $stg WHERE date = DATE('$ds')")
    door("drop", s"DROP TABLE IF EXISTS $stg")
    door("delete", s"DELETE FROM $Cum WHERE date = DATE '$ds'")
    door("insert", cumulateSql(Some(ds)))
    DayOut(Seq(sel.dur * 1000), 8, if (dqMatches(rows, l, false)) 0 else 1)
  }

  def finalChecks(lastDay: Int): Seq[(String, Boolean)] = {
    val prod = Expect.production(spark, rawDir, inputDays(lastDay), RawSchema).cache()
    try Seq(
      sameTable("production", life.table(Prod), prod, Expect.ProdCols),
      sameTable("cumulative", life.table(Cum), Expect.cumulative(spark, prod),
        Expect.CumCols))
    finally prod.unpersist()
  }
}

/** Analyst reads beside daily commits, over a versioned history. */
final class HistoryServe(spark: SparkSession, spans: Spans, in: Input)
    extends DoorWorkload(spark, spans, in) {
  val View = "jakebuto.ticker_volume"
  private val h = in.historyDays
  private val chunk = in.historyChunk
  private var chunkVersion = IndexedSeq.empty[Long]

  def loopDays: Int = in.days.size - h
  private def ds(i: Int): String = in.days(h + i).ds
  def inputDays(lastDay: Int): Seq[String] = in.days.take(h + lastDay + 1).map(_.ds)

  def setup(root: String): Unit = {
    createTables(root)
    for (c <- 0 until h / chunk) {
      registerRaw("history_chunk", in.days.slice(c * chunk, (c + 1) * chunk).map(_.ds))
      door("insert", s"""
        INSERT INTO $Prod
        SELECT ticker, date, open, high, low, close, volume, vwap, event_ts,
               transactions, CURRENT_TIMESTAMP FROM history_chunk""")
    }
    door("insert", cumulateSql(None))
    door("create", s"CREATE MATERIALIZED VIEW $View AS SELECT ticker, " +
      s"count(*) AS n_days, sum(volume) AS total_volume FROM $Prod GROUP BY ticker")
    val versions = spans.timed("door.select") {
      life.query(s"SELECT version, n_partitions FROM $Prod.history").collect()
    }.map(r => r.getLong(0) -> r.getInt(1))
    chunkVersion = (1 to h / chunk).map { c =>
      versions.filter(_._2 == c * chunk).map(_._1).min
    }
  }

  def day(i: Int): DayOut = {
    registerRaw("raw_day", Seq(ds(i)))
    door("delete", s"DELETE FROM $Prod WHERE date = DATE '${ds(i)}'")
    door("insert", s"""
      INSERT INTO $Prod
      SELECT ticker, date, open, high, low, close, volume, vwap, event_ts,
             transactions, CURRENT_TIMESTAMP
      FROM raw_day WHERE date = DATE '${ds(i)}'""")
    door("refresh", s"REFRESH MATERIALIZED VIEW $View")
    val results = in.reads(i).map { r =>
      val t = r.ticker
      r.kind match {
        case "point" =>
          read(r.kind, s"SELECT close, volume FROM $Prod WHERE ticker = '$t' " +
            s"AND date = DATE '${in.days(r.day).ds}'") { rows =>
            rows.length == 1 && rows(0).getDecimal(0).compareTo(
              new java.math.BigDecimal(r.close)) == 0 && rows(0).getLong(1) == r.volume
          }
        case "range" =>
          read(r.kind, s"SELECT date, avg_7_day_volume FROM $Cum WHERE ticker = '$t' " +
            s"AND date BETWEEN DATE '${in.days(r.day).ds}' " +
            s"AND DATE '${in.days(r.day + 9).ds}' ORDER BY date") { rows =>
            rows.map(_.getDecimal(1)).toSeq.map(_.stripTrailingZeros) ==
              r.avg7DayVolume.map(new java.math.BigDecimal(_).stripTrailingZeros)
          }
        case "version" =>
          read(r.kind, s"SELECT count(*) AS n, sum(volume) AS v FROM $Prod " +
            s"VERSION AS OF ${chunkVersion(r.chunk)} WHERE ticker = '$t'") { rows =>
            rows.length == 1 && rows(0).getLong(0) == r.nDays &&
              rows(0).getLong(1) == r.volume
          }
        case "history" =>
          read(r.kind, s"SELECT n_partitions FROM $Prod.history " +
            s"WHERE version = ${chunkVersion(r.chunk)}") { rows =>
            rows.length == 1 && rows(0).getInt(0) == r.nDays
          }
        case "partitions" =>
          read(r.kind, s"SELECT n_rows FROM $Prod.partitions " +
            s"WHERE CAST(date AS STRING) = '${in.days(r.day).ds}'") { rows =>
            rows.length == 1 && rows(0).getLong(0) == r.nRows
          }
        case "mview" =>
          read(r.kind, s"SELECT n_days, total_volume FROM $View WHERE ticker = '$t'") { rows =>
            rows.length == 1 && rows(0).getLong(0) == r.nDays &&
              rows(0).getLong(1) == r.volume
          }
      }
    }
    DayOut(results.map(_._2 * 1000), 3 + results.size, results.count(!_._1))
  }

  private def read(kind: String, sql: String)(check: Array[Row] => Boolean): (Boolean, Double) = {
    val (rows, s) = spans(s"read.$kind") {
      spans.timed("door.select")(life.query(sql).collect())
    }
    (scala.util.Try(check(rows)).getOrElse(false), s.dur)
  }

  def finalChecks(lastDay: Int): Seq[(String, Boolean)] = {
    val prod = Expect.production(spark, rawDir, inputDays(lastDay), RawSchema).cache()
    val hist = Expect.production(spark, rawDir, in.days.take(h).map(_.ds), RawSchema)
    try Seq(
      sameTable("production", life.table(Prod), prod, Expect.ProdCols),
      sameTable("cumulative", life.table(Cum), Expect.cumulative(spark, hist),
        Expect.CumCols),
      sameTable("view", life.query(s"SELECT ticker, n_days, total_volume FROM $View"),
        Expect.tickerVolume(prod), Seq("ticker", "n_days", "total_volume")))
    finally prod.unpersist()
  }
}
