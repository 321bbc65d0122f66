package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one store for values derived once per Spark session and reused by
  * later queries in it: pinned graph edges, checkpointed pair / run /
  * qrels tables, trained models, cached input tables.
  *
  * Lifetime rule, shared by every entry:
  *  - an entry is keyed by (session, site, key) — the site names the
  *    memo, the key is whatever the value is a function of (data dir,
  *    kind, `k`, a canonicalized plan, a file stamp); sessions are
  *    identified by id, so the store never holds a session as a key;
  *  - the first caller builds the value, inside its own timed region
  *    ("first consumer pays"); concurrent callers wait for that one build,
  *    and later callers read it. A build that throws is not kept: the
  *    exception reaches the caller and the next call builds again;
  *  - nothing crosses JVMs and nothing is keyed on data contents;
  *  - [[releaseAll]] drops every entry and frees the storage each value
  *    holds: persisted frames are unpersisted, and `localCheckpoint`
  *    frames release the checkpointed RDD under their `LogicalRDD` (the
  *    frame's own `.rdd` is a fresh conversion RDD, so unpersisting it
  *    frees nothing). Release errors propagate.
  *
  * Each entry is one cell built under its own lock, so a build may call
  * other memo entries (the directed graph pins read the symmetric edge
  * pin; the PRF run reads the PRF query memo) without re-entering a map
  * update. Builds, hits and build seconds are counted per key for the
  * bench record. */
object SessionMemo {

  final case class Stats(builds: Long, hits: Long, buildSeconds: Double) {
    def +(o: Stats): Stats = Stats(builds + o.builds, hits + o.hits, buildSeconds + o.buildSeconds)
    def -(o: Stats): Stats = Stats(builds - o.builds, hits - o.hits, buildSeconds - o.buildSeconds)
  }

  /** One entry; its first build runs under the cell's own lock. */
  private final class Cell { @volatile var value: Option[Any] = None }

  private val sessionIds = new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private var lastSessionId = 0L
  private val cells = new ConcurrentHashMap[(Long, String, Any), Cell]()
  private val counts = new ConcurrentHashMap[String, Stats]()

  private def sessionId(spark: SparkSession): Long = sessionIds.synchronized {
    sessionIds.computeIfAbsent(spark, _ => { lastSessionId += 1; lastSessionId })
  }

  /** The memoized value of `build` for (`spark`, `site`, `key`): `site`
    * names the memo, `key` is what its value is a function of. */
  def apply[T](spark: SparkSession, site: String, key: Any)(build: => T): T = {
    val cell = cells.computeIfAbsent((sessionId(spark), site, key), _ => new Cell)
    val t0 = System.nanoTime()
    var built = false
    val v = cell.value.getOrElse(cell.synchronized {
      cell.value.getOrElse { val v = build; cell.value = Some(v); built = true; v }
    })
    counts.merge(s"$site:${label(key)}",
      if (built) Stats(1, 0, (System.nanoTime() - t0) / 1e9) else Stats(0, 1, 0), _ + _)
    v.asInstanceOf[T]
  }

  /** The one-entry form of [[apply]]: (`spark`, `site`) keeps only the
    * entry of the latest `key`. A call with another key first drops the
    * entry it replaces and frees what that holds. For values derived from
    * a store's current version, which is never asked for again once the
    * store has moved on. */
  def latest[T](spark: SparkSession, site: String, key: Any)(build: => T): T = {
    val sid = sessionId(spark)
    cells.keySet.asScala.foreach {
      case k @ (`sid`, `site`, other) if other != key => Option(cells.remove(k)).flatMap(_.value).foreach(free)
      case _ =>
    }
    apply(spark, site, key)(build)
  }

  /** The value already built for (`spark`, `site`, `key`), counted as a
    * hit; None, and nothing counted or built, if there is none. */
  def get[T](spark: SparkSession, site: String, key: Any): Option[T] = {
    val v = Option(cells.get((sessionId(spark), site, key))).flatMap(_.value)
    v.foreach(_ => counts.merge(s"$site:${label(key)}", Stats(0, 1, 0), _ + _))
    v.map(_.asInstanceOf[T])
  }

  /** Plans print as their hash; tuples element-wise. */
  private def label(key: Any): String = key match {
    case p: LogicalPlan => f"plan#${p.hashCode}%08x"
    case t: Product if t.productPrefix.startsWith("Tuple") =>
      t.productIterator.map(label).mkString(",")
    case k => k.toString
  }

  /** Drop every entry of every session and free what each value holds;
    * the next caller of a key rebuilds it. */
  def releaseAll(): Unit = cells.keySet.asScala.foreach { k =>
    Option(cells.remove(k)).flatMap(_.value).foreach(free)
  }

  private def free(value: Any): Unit = value match {
    case df: Dataset[_] =>
      if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = true)
      df.queryExecution.analyzed match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = true)
        case _ =>
      }
    case _ =>
  }

  /** Builds, hits and build seconds per key since the JVM started. */
  def stats: Map[String, Stats] = counts.asScala.toMap
}
