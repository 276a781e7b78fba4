package pipebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark runner: one JVM, Spark `local[nproc]`, one closed-loop
  * client. `run.py` builds it, generates the inputs and launches it:
  *
  *   pipebench.Main --workload W --input DIR --work DIR --seconds S
  *     --trace 0|1 --launched-ms T [--corrupt 1]
  *
  * It prints one line `PIPEBENCH_RESULT {json}` and exits nonzero when an
  * operation failed or returned a wrong answer. */
object Main {
  private val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - opt("launched-ms").toLong) / 1000.0
    if (trace) {
      val fs = new org.apache.hadoop.fs.Path("file:///")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFs], s"file: scheme is served by ${fs.getClass}")
    }

    val in = Input.load(opt("input"))
    val spans = new Spans(s"$workload-${in.seed}-${if (trace) "traced" else "plain"}")
    val wl: Workload = workload match {
      case "dag_daily" => new DagDaily(spark, spans, in)
      case "sql_backfill" => new SqlBackfill(spark, spans, in)
      case "history_serve" => new HistoryServe(spark, spans, in)
    }

    def freshRoot(k: Int): String = {
      val r = work.resolve(s"tables-$k")
      deleteTree(r)
      r.toString
    }
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    /** Run `body`; a throw counts as one failed operation. */
    def guarded[T](what: String)(body: => T): Option[T] =
      try Some(body) catch {
        case e: Throwable =>
          attempted += 1
          failed += 1
          errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          None
      }
    def setup(k: Int): Option[Double] =
      guarded(s"setup $k")(spans("setup")(wl.setup(freshRoot(k)))._2.dur)
    def runDay(i: Int): Option[(Span, DayOut)] =
      guarded(s"day $i")(spans("day")(wl.day(i))).map { case (out, s) =>
        attempted += out.ops
        failed += out.failed
        if (out.failed > 0) errors += s"day $i: ${out.failed} wrong answers"
        s -> out
      }

    val setups = mutable.ArrayBuffer.empty[Double]
    setups ++= setup(0)
    val tablesRoot = work.resolve("tables-0")
    val cold = if (setups.isEmpty) None else runDay(0)
    // untimed warm-up days: JIT compilation is still settling for some
    // days after the cold one, and the warm metrics are about steady state
    var lastDay = if (cold.isDefined) 0 else -1
    while (lastDay >= 0 && lastDay < in.warmupDays) {
      lastDay = if (runDay(lastDay + 1).isDefined) lastDay + 1 else -1
    }
    // storage is measured after a fixed number of days: the cumulative
    // table's arrays fill up over the first week, so bytes per input byte
    // at run end would depend on how many days the loop reached
    val inputBytes = wl.inputDays(math.max(lastDay, 0))
      .map(d => treeBytes(Paths.get(wl.rawDir, s"ds=$d"))).sum
    val storedBytes = treeBytes(tablesRoot)
    val calibBefore = calibrate(spark)

    // warm loop; a traced run traces every other day, so the days between
    // give the untraced figure the tracing overhead is measured against
    val events = if (trace) Some(new SparkEvents(spark)) else None
    val warm = mutable.ArrayBuffer.empty[(Span, DayOut)]
    var fsBytes = (0L, 0L)
    val warmupDays = lastDay
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = lastDay + 1
    while (lastDay >= 0 && i < wl.loopDays && elapsed < seconds) {
      val traced = trace && (i - warmupDays) % 2 == 0
      spans.traced = traced
      if (traced) {
        events.foreach(_.attach())
        CountingLocalFs.on = true
      }
      val b0 = FsBytes.now()
      val r = runDay(i)
      if (traced) {
        val b1 = FsBytes.now()
        fsBytes = (fsBytes._1 + b1._1 - b0._1, fsBytes._2 + b1._2 - b0._2)
        CountingLocalFs.on = false
        events.foreach(_.detach())
      }
      spans.traced = false
      r match {
        case Some(d) => warm += d; lastDay = i; i += 1
        case None => i = wl.loopDays
      }
    }
    val loopS = elapsed
    val calibAfter = calibrate(spark)

    val tCheck = System.nanoTime()
    if (opt.get("corrupt").contains("1") && lastDay >= 0)
      guarded("corrupt")(wl.corrupt(lastDay))
    if (lastDay >= 0) guarded("final checks")(wl.finalChecks(lastDay)).getOrElse(Nil)
      .foreach { case (name, ok) =>
        attempted += 1
        if (!ok) { failed += 1; errors += s"final check $name: mismatch" }
      }
    val checkS = (System.nanoTime() - tCheck) / 1e9

    val table = if (trace) TableStats(tablesRoot) else Map.empty[String, Double]

    // further set-ups in fresh roots, so set-up time is a median too
    (1 until SetupRepeats).foreach(k => setups ++= setup(k))
    (1 until SetupRepeats).foreach(k => deleteTree(work.resolve(s"tables-$k")))

    val untracedWarm = warm.toSeq.filterNot(_._1.traced)
    val reads = untracedWarm.flatMap(_._2.readsMs)
    val days = untracedWarm.map(_._1.dur)
    val commits = untracedWarm.map { case (s, o) => s.dur - o.readsMs.sum / 1000 }
    val untracedLoopS = if (trace) untracedWarm.map(_._1.dur).sum else loopS
    val (dayTailP, dayTail) = Stats.tail(days)
    val (readTailP, readTail) = Stats.tail(reads)

    val endToEnd: Seq[(String, Double, String)] = if (cold.isEmpty || days.isEmpty) Nil else Seq(
      ("setup_s", sessionS + Stats.median(setups.toSeq), "s"),
      ("cold_day_s", cold.get._1.dur, "s"),
      ("day_s.p50", Stats.median(days), "s"),
      ("day_s.tail", dayTail, "s"),
      ("days_per_min", days.size / untracedLoopS * 60, "1/min"),
      ("read_ms.p50", Stats.median(reads), "ms"),
      ("read_ms.tail", readTail, "ms"),
      ("reads_per_s", reads.size / untracedLoopS, "1/s"),
      ("commit_s.p50", Stats.median(commits), "s"),
      ("stored_bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val perLayer: Seq[(String, Double, String)] =
      if (!trace || warm.isEmpty) Nil
      else Layers(warm.toSeq, spans, events.get, fsBytes, table,
        byReads = workload == "history_serve")

    val metrics = if (trace) perLayer else endToEnd
    val info = Seq(
      "workload" -> workload, "seed" -> in.seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> cores, "spark_cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
      "session_s" -> sessionS, "setups_s" -> setups.toSeq,
      "check_s" -> checkS, "loop_s" -> loopS,
      "warmup_days" -> warmupDays, "warm_days" -> days.size, "days_s" -> warm.toSeq.map(_._1.dur),
      "day_tail_pct" -> dayTailP, "reads" -> reads.size,
      "read_tail_pct" -> readTailP, "traced_days" -> warm.count(_._1.traced),
      "input_bytes" -> inputBytes, "stored_bytes" -> storedBytes,
      "errors" -> errors.toSeq)
    val correct = failed == 0 && metrics.nonEmpty
    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })),
      "info" -> Json.Raw(Json.obj(info))))
    if (trace) Files.write(work.resolve("spans.jsonl"), spans.toJsonLines.asJava)
    spark.stop()
    println("PIPEBENCH_RESULT " + result)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** `graft.Bench`'s contention probe, repeated here because Bench keeps it
    * private: a fixed 4M-row range + hash aggregate, median of 5. */
  private def calibrate(spark: SparkSession): Double = {
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, 8)
        .selectExpr("xxhash64(id) % 1024 as b", "id")
        .groupBy("b").agg(org.apache.spark.sql.functions.sum("id"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    times.sorted.apply(times.size / 2)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100 * (s.size - 1)
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    * it, as (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.0, 95.0, 90.0, 75.0).find(p => xs.size * (1 - p / 100) >= 10)
      .getOrElse(50.0)
    (p, pct(xs, p))
  }
}

object Json {
  final case class Raw(s: String)

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}
