package pipebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the runner made. Times are epoch milliseconds with sub-ms
  * digits, so they line up with Spark's event times. */
final case class Span(id: Int, name: String, parent: Int, start: Double,
    end: Double, traced: Boolean) {
  def dur: Double = (end - start) / 1000.0
}

/** Spans around every call the runner makes. They double as the runner's
  * stopwatch, so untraced runs record them too; only a traced run attaches
  * the Spark listeners and the filesystem counters, and only on the days
  * `traced` is set for. Spans stay in memory until the run ends. */
final class Spans(val runId: String) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var traced = false

  def apply[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = now
    try {
      val r = body
      val s = Span(id, name, parent, t0, now, traced)
      all += s
      (r, s)
    } finally stack = stack.tail
  }

  def timed[T](name: String)(body: => T): T = apply(name)(body)._1

  def toJsonLines: Seq[String] = all.toSeq.sortBy(_.id).map { s =>
    Json.obj(Seq("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end,
      "traced" -> s.traced))
  }
}

/** Spark-side events of traced days: jobs, stages, tasks and the Catalyst
  * phases of every executed query. */
final class SparkEvents(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
      module: String)
  final class StageAgg {
    var tasks = 0L; var taskMs = 0L; var useful = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  final case class Phase(name: String, start: Long, end: Long)

  val jobs = mutable.Map.empty[Int, Job]
  val stagesDone = mutable.Set.empty[Int]
  val stageAgg = mutable.Map.empty[Int, StageAgg]
  val phases = new ConcurrentLinkedQueue[Phase]()
  @volatile var queries = 0L
  private val execModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execModule(s.executionId) = Modules.fromStack(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    val module = execId.flatMap(execModule.get)
      .filter(_ != Modules.Other).getOrElse(Modules.fromSite(site))
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, e.stageIds, module)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesDone += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
        m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
      if (records > 0) a.useful += 1
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    queries += 1
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    Modules.classic(spark).listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    Modules.classic(spark).listenerManager.unregister(this)
  }
}

/** Which module triggered a job: the first engine (or runner) source file
  * on the call site Spark recorded for it. */
object Modules {
  val Other = "other"
  val Runner = "runner"
  val Names: Seq[String] = Seq("pipeline", "ingest", "quality", "exchange",
    "rolling", "sqllifecycle", "versionedpartitioned", "versioned", "mview",
    "incrementalagg", "scanprune", "statsagg", Runner, Other)
  private val RunnerFiles = Set("main", "workloads", "expect", "trace", "layers")
  private val FrameRe = """(?m)^\s*(graft|pipebench)\.[\w.$]+\((\w+)\.scala:\d+\)""".r
  private val SiteRe = """ at (\w+)\.scala:\d+""".r

  private def module(file: String): String = {
    val f = file.toLowerCase
    if (RunnerFiles(f)) Runner else if (Names.contains(f)) f else Other
  }

  def fromStack(details: String): String =
    FrameRe.findFirstMatchIn(Option(details).getOrElse(""))
      .map(m => module(m.group(2))).getOrElse(Other)

  def fromSite(site: String): String =
    SiteRe.findFirstMatchIn(site).map(m => module(m.group(1))).getOrElse(Other)

  def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}

/** Hadoop's own byte counters for the `file:` scheme. */
object FsBytes {
  def now(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

object Intervals {
  /** Length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
