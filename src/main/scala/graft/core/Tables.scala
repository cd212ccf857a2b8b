package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). All loaders are plain parquet scans so
  * Catalyst predicate pushdown / column pruning apply end-to-end.
  *
  * Each loader resolves its table once per session and hands back the
  * same DataFrame on later calls. Resolving a parquet path lists it,
  * reads a footer and runs a one-task Spark job for schema inference;
  * a program of many short queries over a few fixed tables would
  * otherwise pay that on every query build.
  *
  *  - '''What is cached''': the resolved DataFrame each loader returns
  *    (for [[events]], after its `ts`/`ts_ns` normalisation), keyed by
  *    session and path. No data: scans still read the files, and
  *    Spark's `CacheManager` (`persist`, `clearCache`) is not involved.
  *  - '''When an entry is invalidated''': every call first stats the
  *    path with Hadoop's `FileSystem` (a driver-side call that starts
  *    no job). When the length or modification time of any file under
  *    it differs from what was resolved, the table is resolved again;
  *    when the path is gone, the call fails as an uncached read would.
  *  - '''When it is released''': all of a `SparkContext`'s entries are
  *    dropped at its application end, and at most [[MaxSessions]]
  *    sessions hold entries at once (least recently used go first), so
  *    discarded `newSession()`s of a live context are released too.
  *
  * Concurrent first reads of one table resolve it once; the others
  * wait for that result.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Sessions whose resolved tables are held at once. */
  private[graft] val MaxSessions = 8

  /** (path, length, modification time) of every file of a table. */
  private type Stamp = Seq[(String, Long, Long)]

  /** One table of one session. `stamp` is None while nothing is
    * resolved, or when the table was resolved with its path missing. */
  private final class Slot {
    var stamp: Option[Stamp] = None
    var df: DataFrame = _
  }

  // access-ordered, so the eldest entry is the least recently used
  private val bySession =
    new java.util.LinkedHashMap[SparkSession, ConcurrentHashMap[String, Slot]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, ConcurrentHashMap[String, Slot]]): Boolean =
        size > MaxSessions
    }
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  private def slot(spark: SparkSession, p: String): Slot = {
    val tables = bySession.synchronized {
      bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Slot]())
    }
    releaseAtEnd(spark.sparkContext)
    tables.computeIfAbsent(p, _ => new Slot)
  }

  private def releaseAtEnd(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        bySession.synchronized { bySession.keySet.removeIf(_.sparkContext eq sc) }
        watched.remove(sc)
      }
    })

  /** Number of sessions holding resolved tables. */
  private[graft] def sessionsHeld: Int = bySession.synchronized(bySession.size)

  /** The files of the table at `p` as they are now; None when `p` does
    * not exist. */
  private def stamp(spark: SparkSession, p: String): Option[Stamp] = {
    val root = new Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def of(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)
    try {
      val st = fs.getFileStatus(root)
      if (st.isFile) Some(Seq(of(st)))
      else {
        val it = fs.listFiles(root, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) b += of(it.next())
        Some(b.result())
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def read(spark: SparkSession, dir: String, name: String,
                   finish: DataFrame => DataFrame = identity): DataFrame = {
    GraftSession.configure(spark)
    val p = path(dir, name)
    val s = slot(spark, p)
    s.synchronized {
      val now = stamp(spark, p)
      if (s.df == null || now.isEmpty || now != s.stamp) {
        s.df = finish(spark.read.parquet(p))
        s.stamp = now
      }
      s.df
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** events.parquet has shipped with two physical types for `ts`
    * across driver generations: TIMESTAMP(NANOS) (read as a
    * nanosecond-epoch long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and TIMESTAMP(MICROS)
    * (read as TimestampNTZ). Either way the loader exposes the same
    * two columns: the exact integer `ts_ns` (lossless, matches
    * DuckDB's `epoch_ns(ts)` — every oracle-checked query keys on it)
    * and a microsecond TimestampType `ts` for Spark's native window
    * functions. The session timezone is pinned UTC, so the NTZ→TZ
    * cast relabels the same microsecond value.
    */
  def events(s: SparkSession, d: String): DataFrame = read(s, d, "events", { raw =>
    val cooked = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
    cooked.select("event_id", "ts_ns", "user_id", "event_type", "value",
      "props", "ts")
  })
}
