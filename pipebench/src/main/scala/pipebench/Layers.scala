package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, per traced day unless the unit says
  * otherwise. Every name here is listed in BENCHMARK.json. */
object Layers {
  val SpanNames: Seq[String] = Seq("day", "pipeline.day", "dq.fetch",
    "input.register", "door.create", "door.insert", "door.delete", "door.drop",
    "door.select", "door.refresh", "read.point", "read.range", "read.version",
    "read.history", "read.partitions", "read.mview")

  /** `byReads`: measure the tracing overhead on read latency, not day
    * wall time (`history_serve`, whose days are mostly reads). */
  def apply(warm: Seq[(Span, DayOut)], spans: Spans, ev: SparkEvents,
      fsBytes: (Long, Long), table: Map[String, Double],
      byReads: Boolean): Seq[(String, Double, String)] = {
    val days = warm.filter(_._1.traced)
    val n = math.max(days.size, 1).toDouble
    val traced = spans.all.filter(_.traced).toSeq
    val jobIv = ev.jobs.values.map(j => (j.start.toDouble, j.end.toDouble)).toSeq
    val phases = ev.phases.asScala.toSeq
    val phaseIv = phases.map(p => (p.start.toDouble, p.end.toDouble))
    def sec(ms: Double) = ms / 1000.0

    val doors = traced.filter(_.name.startsWith("door."))
    val doorSelf = doors.map(s => s.dur - sec(Intervals.covered(jobIv ++ phaseIv, s.start, s.end)))
    def phaseS(name: String) = sec(phases.filter(_.name == name).map(p => (p.end - p.start).toDouble).sum)

    // a stage listed by several jobs (a reused shuffle) counts for the first
    val stageJob = ev.jobs.values.toSeq.sortBy(_.id)
      .flatMap(j => j.stages.map(_ -> j)).reverse.toMap
    val aggs = ev.stageAgg.toSeq
    val tasks = aggs.map(_._2.tasks).sum
    val jobWall = days.map { case (d, _) => sec(Intervals.covered(jobIv, d.start, d.end)) }

    val children = traced.groupBy(_.parent)
    def selfS(s: Span) = s.dur - sec(Intervals.covered(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))

    def p50(sel: Seq[(Span, DayOut)]) =
      if (byReads) Stats.median(sel.flatMap(_._2.readsMs))
      else Stats.median(sel.map(_._1.dur))
    val overhead = p50(days) / p50(warm.filterNot(_._1.traced)) - 1

    val fs = CountingLocalFs.snapshot()
    Seq(
      ("door.statements", doors.size / n, "count/day"),
      ("door.s", doors.map(_.dur).sum / n, "s/day"),
      ("door.self_s", doorSelf.sum / n, "s/day"),
      ("catalyst.queries", ev.queries / n, "count/day"),
      ("catalyst.analysis_s", phaseS("analysis") / n, "s/day"),
      ("catalyst.optimization_s", phaseS("optimization") / n, "s/day"),
      ("catalyst.planning_s", phaseS("planning") / n, "s/day"),
      ("exec.jobs", ev.jobs.size / n, "count/day"),
      ("exec.stages", ev.stagesDone.size / n, "count/day"),
      ("exec.tasks", tasks / n, "count/day"),
      ("exec.task_s", sec(aggs.map(_._2.taskMs).sum.toDouble) / n, "s/day"),
      ("exec.job_wall_s", jobWall.sum / n, "s/day"),
      ("exec.driver_gap_s", days.map(_._1.dur).zip(jobWall).map { case (a, b) => a - b }.sum / n, "s/day"),
      ("exec.useful_task_ratio", if (tasks == 0) 0.0 else aggs.map(_._2.useful).sum.toDouble / tasks, "ratio"),
      ("exec.shuffle_bytes", aggs.map(_._2.shuffleBytes).sum / n, "B/day"),
      ("exec.spill_bytes", aggs.map(_._2.spillBytes).sum / n, "B/day")
    ) ++ Modules.Names.flatMap { m =>
      val js = ev.jobs.values.filter(_.module == m).map(_.id).toSet
      val ms = aggs.filter { case (st, _) => stageJob.get(st).exists(j => js(j.id)) }
        .map(_._2.taskMs).sum
      Seq((s"$m.jobs", js.size / n, "count/day"), (s"$m.task_s", sec(ms.toDouble) / n, "s/day"))
    } ++ Seq("fs.creates", "fs.renames", "fs.deletes", "fs.lists", "fs.status_calls",
      "fs.opens", "fs.meta_opens").map(k => (k, fs(k) / n, "count/day")) ++ Seq(
      ("fs.bytes_read", fsBytes._1 / n, "B/day"),
      ("fs.bytes_written", fsBytes._2 / n, "B/day"),
      ("table.versions", table("table.versions"), "count"),
      ("table.data_files", table("table.data_files"), "count"),
      ("table.files_per_partition", table("table.files_per_partition"), "ratio"),
      ("table.meta_bytes", table("table.meta_bytes"), "B")
    ) ++ SpanNames.map { name =>
      (s"span.$name.s", traced.filter(_.name == name).map(selfS).sum / n, "s/day")
    } ++ Seq(
      ("trace.overhead", overhead, "ratio"),
      ("trace.ops", days.map(_._2.ops).sum / n, "count/day"),
      ("trace.days", days.size.toDouble, "count"))
  }
}

/** A listing of the table roots at run end. */
object TableStats {
  private val CommitRe = """_v\d+.*\.commit""".r

  def apply(root: Path): Map[String, Double] = {
    val files =
      if (!Files.exists(root)) Seq.empty[Path]
      else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
      }
    def rel(p: Path) = root.relativize(p).toString
    val data = files.filter(p => p.getFileName.toString.endsWith(".parquet") &&
      !rel(p).split('/').exists(_.startsWith("_")))
    val parts = data.map(_.getParent).filter(_.getFileName.toString.contains("=")).distinct
    val meta = files.filterNot(data.contains).filterNot(_.getFileName.toString.endsWith(".crc"))
    Map(
      "table.versions" -> files.count(p => CommitRe.matches(p.getFileName.toString)).toDouble,
      "table.data_files" -> data.size.toDouble,
      "table.files_per_partition" -> (if (parts.isEmpty) 0.0 else data.size.toDouble / parts.size),
      "table.meta_bytes" -> meta.map(Files.size).sum.toDouble)
  }
}
