package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path,
  RemoteIterator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SnapshotCache, SqlLifecycle, Versioned, VersionedPartitioned}

/** The `file:` filesystem, counting directory listings of snapshot dirs
  * (any path with a `/snap-` component) under `CountingFs.root`. */
class CountingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.note(f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingFs.note(f); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    CountingFs.note(f); super.listStatusIterator(f)
  }
}

object CountingFs {
  @volatile var root: Option[String] = None
  val snapLists = new AtomicLong()
  def note(f: Path): Unit = root.foreach { r =>
    val p = f.toUri.getPath
    if (p.startsWith(r) && p.contains("/snap-")) snapLists.incrementAndGet()
  }
}

/** The per-session cache of resolved committed-snapshot relations:
  * in-place rewrites read back fresh, statement occurrences keep their
  * own relation instances, sessions never share entries, deletion
  * evicts, and a warm door read lists no snapshot dir. */
class SnapshotCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fsRelations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r }

  private def barsDoor(root: String, view: String): SqlLifecycle = {
    val life = new SqlLifecycle(spark, root)
    life.execute("CREATE SCHEMA s")
    life.execute("""
      CREATE TABLE s.bars (date DATE, id BIGINT, px DOUBLE)
      USING ICEBERG PARTITIONED BY (date)""")
    (1 to 100).map(i => (java.sql.Date.valueOf(f"2024-03-${i % 10 + 1}%02d"),
        i.toLong, i * 1.5))
      .toDF("date", "id", "px").createOrReplaceTempView(view)
    life.execute(s"INSERT INTO s.bars SELECT * FROM $view")
    life
  }

  test("ANALYZE rewrites of _analyze/v<N> read back the new stats") {
    val root = freshRoot("graft_sc_analyze_")
    val life = barsDoor(root, "sc_analyze_src")
    val dir = java.nio.file.Paths.get(root, "s", "bars").toString
    def stats(): Map[String, Long] =
      VersionedPartitioned.columnStats(spark, dir)
        .select("col_name", "n_rows").as[(String, Long)].collect().toMap
    life.execute("ANALYZE TABLE s.bars COMPUTE STATISTICS FOR COLUMNS id")
    assert(stats() == Map("id" -> 100L))
    // a second ANALYZE at the same version overwrites v1 in place
    life.execute("ANALYZE TABLE s.bars COMPUTE STATISTICS FOR COLUMNS id, px")
    assert(stats() == Map("id" -> 100L, "px" -> 100L))
    // DROP + CREATE restarts versions at 1: v1 is written again
    life.execute("DROP TABLE s.bars")
    life.execute("""
      CREATE TABLE s.bars (date DATE, id BIGINT, px DOUBLE)
      USING ICEBERG PARTITIONED BY (date)""")
    life.execute("INSERT INTO s.bars SELECT * FROM sc_analyze_src WHERE id <= 30")
    life.execute("ANALYZE TABLE s.bars COMPUTE STATISTICS FOR COLUMNS px")
    assert(VersionedPartitioned.currentVersion(spark, dir).contains(1L))
    assert(stats() == Map("px" -> 30L))
  }

  test("warm cache: a repeated self-join narrows each occurrence on its " +
      "own relation instance") {
    val root = freshRoot("graft_sc_selfjoin_")
    val life = barsDoor(root, "sc_selfjoin_src")
    def partDirs(files: Array[String]): Seq[String] =
      files.toSeq.flatMap(_.split("/").find(_.startsWith("date="))).distinct.sorted
    val runs = (1 to 2).map { _ =>
      val joined = life.query("""
        SELECT a.id FROM s.bars a
        JOIN s.bars b ON a.id = b.id
        WHERE a.date = DATE '2024-03-05'""")
      assert(joined.count() == 10)
      val rels = fsRelations(joined)
      val sides = rels.map(r => partDirs(r.location.inputFiles))
      assert(sides.exists(_ == Seq("date=2024-03-05")), s"sides: $sides")
      assert(sides.exists(_.size == 10), s"sides: $sides")
      rels
    }
    assert(SnapshotCache.heldUnder(spark, root) > 0)
    val all = runs.flatten
    assert(all.size >= 4)
    for (i <- all.indices; j <- all.indices if i < j)
      assert(!(all(i) eq all(j)), s"occurrences $i and $j share a relation")
  }

  test("entries are per session; vacuum evicts and time travel to a " +
      "vacuumed version still fails") {
    val root = freshRoot("graft_sc_session_") + "/t"
    (1 to 3).foreach { v =>
      VersionedPartitioned.promote(
        (1 to 20).map(i => (i.toLong, s"p${i % 2}", v)).toDF("id", "p", "v"),
        root, "p")
    }
    val a = VersionedPartitioned.read(spark, root)
    assert(a.count() == 20)
    val other = spark.newSession()
    assert(SnapshotCache.heldUnder(spark, root) > 0)
    assert(SnapshotCache.heldUnder(other, root) == 0)
    val b = VersionedPartitioned.read(other, root)
    assert(b.count() == 20)
    val (ra, rb) = (fsRelations(a), fsRelations(b))
    assert(rb.nonEmpty && rb.forall(_.sparkSession eq other))
    assert(rb.forall(x => ra.forall(y => !(x.location eq y.location))))
    // warm every version, then retire all but the newest
    (1L to 3L).foreach(v =>
      assert(VersionedPartitioned.readAt(spark, root, v).count() == 20))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snaps() = fs.listStatus(rootPath).map(_.getPath)
      .filter(_.getName.startsWith("snap-")).toSet
    val before = snaps()
    assert(VersionedPartitioned.vacuum(spark, root, keepLast = 1) == 2)
    val gone = before -- snaps()
    assert(gone.size == 2)
    gone.foreach { d =>
      assert(SnapshotCache.heldUnder(spark, d.toString) == 0, s"$d")
      assert(SnapshotCache.heldUnder(other, d.toString) == 0, s"$d")
    }
    intercept[IllegalArgumentException](
      VersionedPartitioned.readAt(spark, root, 1L))
    assert(VersionedPartitioned.readAt(spark, root, 3L)
      .where($"v" === 3).count() == 20)
    // the flat format evicts the same way
    val flat = freshRoot("graft_sc_flat_") + "/t"
    (1 to 2).foreach(v =>
      Versioned.commit((1 to 5).map(i => (i.toLong, v)).toDF("id", "v"), flat))
    (1L to 2L).foreach(v => assert(Versioned.readAt(spark, flat, v).count() == 5))
    val oldSnap = Versioned.history(spark, flat).head._2
    assert(SnapshotCache.heldUnder(spark, s"$flat/$oldSnap") > 0)
    assert(Versioned.vacuum(spark, flat, keepLast = 1) == 1)
    assert(SnapshotCache.heldUnder(spark, s"$flat/$oldSnap") == 0)
    intercept[IllegalArgumentException](Versioned.readAt(spark, flat, 1L))
  }

  test("a second door read of an unchanged table lists no snapshot dir") {
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(hc.get(k)))
    hc.set("fs.file.impl", classOf[CountingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try {
      val root = freshRoot("graft_sc_lists_")
      val life = barsDoor(root, "sc_lists_src")
      life.execute("INSERT INTO s.bars SELECT date_add(date, 10), id, px " +
        "FROM sc_lists_src")
      val reads = Seq(
        "SELECT * FROM s.bars WHERE id < 50",
        "SELECT count(*) FROM s.bars WHERE date = DATE '2024-03-12'",
        "SELECT * FROM s.bars FOR SYSTEM_VERSION AS OF 1 WHERE px > 10")
      def listed(): Long = {
        CountingFs.snapLists.set(0)
        reads.foreach(q => life.query(q).collect())
        CountingFs.snapLists.get()
      }
      CountingFs.root = Some(new Path(root).toUri.getPath)
      SnapshotCache.evictUnder(new Path(root))
      assert(listed() > 0, "a cold read lists its snapshot dirs")
      assert(listed() == 0, "a warm read lists none")
    } finally {
      CountingFs.root = None
      saved.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    }
  }
}
