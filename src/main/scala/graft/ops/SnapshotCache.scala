package graft.ops

import java.lang.ref.SoftReference

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/**
 * Per-session cache of resolved parquet relations for COMMITTED,
 * write-once directories — the snapshot dirs, `_stats` sidecars and
 * delete sidecars of both table formats, plus immutable inputs. A
 * committed snapshot never changes, so what a `spark.read.parquet` of it
 * resolves (DataSource lookup, Hadoop-conf copies, the leaf listing,
 * footer schema inference) is the same answer every time; this pays it
 * once per session instead of once per read.
 *
 *  - What: the resolved `HadoopFsRelation` (listed file index + schema),
 *    keyed by `(base, exact path list)` — a pruned read of some files of
 *    a snapshot is its own entry. A schema per `base` rides alongside,
 *    so a new path list under a known base still skips inference; the
 *    writer seeds it (`seedSchema`) so even the first read of a fresh
 *    snapshot skips the footer job.
 *  - Returns: `Versioned.readImmutable` hands out a COPY of the cached
 *    relation per call. The copy shares the listed index (nothing is
 *    listed or inferred again) but is a new instance, because the SQL
 *    door maps optimized-plan leaves back to statement occurrences by
 *    relation identity — two occurrences must never share one.
 *  - Scope: entries belong to one `SparkSession` (a relation carries
 *    its session's conf), held by a weak key so no other session is
 *    ever served them. Relations are held SOFTLY: each references its
 *    own session, and a strong value would pin the weak key forever.
 *  - Bound: at most `MaxEntries` relations and `MaxEntries` schemas
 *    per session, least recently used evicted first.
 *  - Eviction: whoever deletes a directory (`vacuum`, DROP TABLE, DROP
 *    MATERIALIZED VIEW, an abandoned empty snapshot) does it through
 *    `deleteDir`, which drops every session's entries at or below it.
 *  - Qualifying dirs: only directories that are final before anyone can
 *    read them through this path. A dir rewritten in place would be
 *    served its old listing; a dir whose content a writer changes must
 *    call `evictUnder` after the write (ANALYZE's `_analyze/v<N>`), and
 *    mutable table dirs go through `Versioned.readMutableDir` instead.
 */
private[graft] object SnapshotCache {

  /** Relations (and, separately, schemas) one session keeps. */
  private val MaxEntries = 256

  private final class Lru[K, V]
      extends java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > MaxEntries
  }

  private final class Entries {
    val schemas = new Lru[String, StructType]
    val relations =
      new Lru[(String, Seq[String]), SoftReference[HadoopFsRelation]]
  }

  // every access holds this map's monitor (all operations are O(1)
  // except the rare eviction sweep)
  private val sessions = new java.util.WeakHashMap[SparkSession, Entries]()

  private def entries(spark: SparkSession): Entries =
    sessions.computeIfAbsent(spark, _ => new Entries)

  /** The relation resolved earlier in this session, if still held. */
  def relation(spark: SparkSession, base: String,
      paths: Seq[String]): Option[HadoopFsRelation] =
    sessions.synchronized {
      Option(entries(spark).relations.get((base, paths)))
        .flatMap(r => Option(r.get))
    }

  /** The schema known for `base` in this session (seeded or inferred). */
  def schema(spark: SparkSession, base: String): Option[StructType] =
    sessions.synchronized { Option(entries(spark).schemas.get(base)) }

  /** Write-time seed; a schema already known for `base` is kept. */
  def seedSchema(spark: SparkSession, base: String, schema: StructType): Unit =
    sessions.synchronized {
      entries(spark).schemas.putIfAbsent(base, schema)
      ()
    }

  /** Remember what `df` (a fresh parquet read of `paths`) resolved. A
    * frame whose plan is not a bare file relation stays uncached. */
  def remember(spark: SparkSession, base: String, paths: Seq[String],
      df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
        sessions.synchronized {
          val e = entries(spark)
          e.schemas.putIfAbsent(base, df.schema)
          e.relations.put((base, paths), new SoftReference(rel))
          ()
        }
      case _ =>
    }

  /** Delete `dir` recursively and forget every resolution under it —
    * the way every deleter of a snapshot, sidecar or table dir removes
    * it. */
  def deleteDir(fs: FileSystem, dir: HPath): Unit = {
    fs.delete(dir, true)
    evictUnder(dir)
  }

  /** Drop every session's entries whose base is `dir` or lies under it
    * — called by whoever deletes or rewrites `dir`. Scheme and
    * authority are ignored (listings return qualified paths, callers
    * key by plain ones); over-matching only costs a re-resolution. */
  def evictUnder(dir: HPath): Unit = {
    val d = plain(dir)
    sessions.synchronized {
      sessions.values.forEach { e =>
        e.schemas.keySet.removeIf(b => under(b, d))
        e.relations.keySet.removeIf(k => under(k._1, d))
      }
    }
  }

  /** Entries this session holds for bases at or under `dir` (specs). */
  private[graft] def heldUnder(spark: SparkSession, dir: String): Int = {
    val d = plain(new HPath(dir))
    sessions.synchronized {
      Option(sessions.get(spark)).fold(0) { e =>
        e.schemas.keySet.asScala.count(under(_, d)) +
          e.relations.keySet.asScala.count(k => under(k._1, d))
      }
    }
  }

  private def plain(p: HPath): String = p.toUri.getPath.stripSuffix("/")

  private def under(base: String, dir: String): Boolean = {
    val b = plain(new HPath(base))
    b == dir || b.startsWith(dir + "/")
  }
}
