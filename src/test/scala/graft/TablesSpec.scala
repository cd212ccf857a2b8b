package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}

import graft.core.Tables

/** The per-session table cache of [[Tables]]: a second read of a table
  * starts no Spark job, a rewritten or deleted file is seen on the next
  * read, and sessions never share a resolved table. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(): String =
    Files.createTempDirectory("tables-spec").toString

  /** Writes `df` as the single parquet file `dir/name.parquet`, the
    * layout of the driver-generated tables. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("tables-spec-part").resolve("t").toString
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(Path.of(tmp)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Path.of(Tables.path(dir, name)),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def lineitemRows(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, i.toLong * 10, i * 1.5)).toDF(
      "l_orderkey", "l_partkey", "l_quantity")

  private def eventRows(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, new java.sql.Timestamp(i * 1000L), i.toLong % 3,
      "view", i * 0.5, "{}")).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")

  /** Spark jobs `body` starts on this thread. Listener events arrive
    * asynchronously but in order, so the count is read once a marker
    * job run after `body` has been seen. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "listener never saw the marker job")
      seen.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a second read of a table on the same session starts no Spark job") {
    val d = fixtureDir()
    writeFile(lineitemRows(5), d, "lineitem")
    writeFile(eventRows(5), d, "events")
    assert(jobsDuring(Tables.lineitem(spark, d)) == 1) // schema inference
    assert(jobsDuring(Tables.events(spark, d)) == 1)
    assert(jobsDuring { Tables.lineitem(spark, d); Tables.events(spark, d) } == 0)
    assert(Tables.lineitem(spark, d) eq Tables.lineitem(spark, d))
    assert(Tables.events(spark, d).columns.toSeq ==
      Seq("event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"))
  }

  test("a rewritten table file is resolved again on the next read") {
    val d = fixtureDir()
    writeFile(lineitemRows(3), d, "lineitem")
    assert(Tables.lineitem(spark, d).count() == 3)
    writeFile(lineitemRows(7), d, "lineitem") // new length and mtime
    assert(Tables.lineitem(spark, d).count() == 7)
    // same bytes, new modification time: resolved again
    val f = new java.io.File(Tables.path(d, "lineitem"))
    assert(f.setLastModified(f.lastModified() - 60000))
    assert(jobsDuring(Tables.lineitem(spark, d)) == 1)
    assert(Tables.lineitem(spark, d).count() == 7)
    // a table written by Spark is a directory: its files are checked
    lineitemRows(2).write.parquet(Tables.path(d, "orders"))
    assert(Tables.orders(spark, d).count() == 2)
    lineitemRows(4).write.mode("overwrite").parquet(Tables.path(d, "orders"))
    assert(Tables.orders(spark, d).count() == 4)
  }

  test("a new session gets its own relation") {
    val d = fixtureDir()
    writeFile(lineitemRows(4), d, "lineitem")
    val mine = Tables.lineitem(spark, d)
    val other = spark.newSession()
    val theirs = Tables.lineitem(other, d)
    assert(!(theirs eq mine))
    assert(theirs.sparkSession eq other)
    assert(Tables.lineitem(other, d) eq theirs)
    assert(Tables.lineitem(spark, d) eq mine)
    assert(theirs.count() == 4)
  }

  test("discarded sessions are released once more than MaxSessions hold tables") {
    val d = fixtureDir()
    writeFile(lineitemRows(2), d, "lineitem")
    (1 to Tables.MaxSessions + 3).foreach(_ => Tables.lineitem(spark.newSession(), d))
    assert(Tables.sessionsHeld <= Tables.MaxSessions)
  }

  test("four threads' concurrent first reads all succeed and share one relation") {
    val d = fixtureDir()
    writeFile(lineitemRows(6), d, "lineitem")
    writeFile(eventRows(6), d, "events")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val reads = (1 to 4).map { _ =>
        pool.submit(() => (Tables.lineitem(spark, d), Tables.events(spark, d)))
      }.map(_.get(120, TimeUnit.SECONDS))
      assert(reads.map(_._1).forall(_ eq reads.head._1))
      assert(reads.map(_._2).forall(_ eq reads.head._2))
      assert(reads.head._1.count() == 6)
      assert(reads.head._2.count() == 6)
    } finally pool.shutdown()
  }

  test("a deleted table file fails the next read instead of reusing its plan") {
    val d = fixtureDir()
    writeFile(lineitemRows(3), d, "lineitem")
    assert(Tables.lineitem(spark, d).count() == 3)
    Files.delete(Path.of(Tables.path(d, "lineitem")))
    val e = intercept[AnalysisException](Tables.lineitem(spark, d))
    assert(e.getMessage.contains("lineitem.parquet"))
    // a file put back is read again
    writeFile(lineitemRows(2), d, "lineitem")
    assert(Tables.lineitem(spark, d).count() == 2)
  }
}
