package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem,
  FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.streaming.{LocalCheckpointFileManager, Stateful}
import graft.streaming.Models._

/** The engine's streaming checkpoint file manager
  * ([[LocalCheckpointFileManager]], registered by GraftSession):
  * fork-free commits on `file:` paths, state compatible with Spark's
  * default manager both ways, Hadoop's checksums still verified, and
  * Spark's default manager on every other scheme.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._
  import CheckpointSpec._

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** The fraud detector (flag state per account) on `in`, committing to
    * `ckpt`, its alerts collected on the driver. */
  private def startFraud(in: MemoryStream[Transaction], ckpt: JPath,
                         out: ConcurrentLinkedQueue[FraudAlert]): StreamingQuery =
    Stateful.fraudDetector(in.toDS(), flagTtlMs = None).writeStream
      .option("checkpointLocation", ckpt.toUri.toString)
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: Dataset[FraudAlert], _: Long) =>
        b.collect().foreach(out.add); ()
      }.start()

  /** Runs `body` with the checkpoint manager conf set to `cls` (None:
    * Spark's default), restoring the session's value after. */
  private def withManager[T](cls: Option[String])(body: => T): T = {
    val key = LocalCheckpointFileManager.ConfKey
    val saved = spark.conf.getOption(key)
    cls.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val engineManager = Some(classOf[LocalCheckpointFileManager].getName)

  test("GraftSession registers the engine checkpoint manager") {
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
      classOf[LocalCheckpointFileManager].getName)
  }

  test("stateful micro-batches commit to a file: checkpoint without forking") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Transaction]
    val out = new ConcurrentLinkedQueue[FraudAlert]
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = startFraud(in, tempDir("ckpt_nofork"), out)
    try {
      // small -> flag, large -> alert, then a second account: three
      // batches, each committing offsets, commits and state deltas
      Seq(Transaction(7L, 0.5, 0), Transaction(7L, 900.0, 1),
        Transaction(8L, 0.2, 2)).foreach { t =>
        in.addData(t)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      rec.stop()
    }
    val dump = Files.createTempFile("ckpt_nofork", ".jfr")
    rec.dump(dump)
    rec.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command"))
    Files.delete(dump)
    assert(out.asScala.toSeq == Seq(FraudAlert(7L, 1)))
    assert(forks.isEmpty, s"${forks.size} subprocesses, e.g. ${forks.take(5)}")
  }

  test("state written by either manager restores under the other") {
    implicit val sqlCtx = spark.sqlContext
    for ((first, second) <- Seq(None -> engineManager, engineManager -> None)) {
      val ckpt = tempDir("ckpt_compat")
      val in = MemoryStream[Transaction]
      val out = new ConcurrentLinkedQueue[FraudAlert]
      def run(cls: Option[String], t: Transaction): Unit =
        withManager(cls) {
          val q = startFraud(in, ckpt, out)
          try { in.addData(t); q.processAllAvailable() } finally q.stop()
        }
      // the flag lives only in the state store across the restart
      run(first, Transaction(7L, 0.5, 0))
      run(second, Transaction(7L, 900.0, 1))
      assert(out.asScala.toSeq == Seq(FraudAlert(7L, 1)),
        s"${first.isDefined} -> ${second.isDefined}: ${out.asScala}")
    }
  }

  test("a corrupted state delta fails the restart with a ChecksumException") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("ckpt_corrupt")
    val in = MemoryStream[Transaction]
    val out = new ConcurrentLinkedQueue[FraudAlert]
    val q1 = startFraud(in, ckpt, out)
    try {
      in.addData((0 until 200).map(i => Transaction(i.toLong, 0.5, i.toLong)))
      q1.processAllAvailable()
    } finally q1.stop()
    val deltas = Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".delta")).toSeq
    assert(deltas.nonEmpty, "no state delta committed")
    assert(deltas.forall(d =>
      Files.exists(d.resolveSibling(s".${d.getFileName}.crc"))),
      "a delta lacks its .crc sidecar")
    val victim = deltas.maxBy(Files.size(_))
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(victim, bytes)

    val q2 = startFraud(in, ckpt, out)
    val err = intercept[Exception] {
      try { in.addData(Transaction(1L, 900.0, 500)); q2.processAllAvailable() }
      finally q2.stop()
    }
    assert(causes(err).exists(_.isInstanceOf[ChecksumException]),
      s"no ChecksumException in the cause chain: ${causes(err).toList}")
  }

  test("file: commits keep the atomic no-overwrite contract, .crc and modes") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = tempDir("ckpt_contract")
    val engine = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    assert(engine.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(engine.isLocal)
    val stockConf = new Configuration(conf)
    stockConf.unset(LocalCheckpointFileManager.ConfKey)
    val stock = CheckpointFileManager.create(new Path(dir.toUri), stockConf)

    def write(fm: CheckpointFileManager, name: String, overwrite: Boolean): Unit = {
      val s = fm.createAtomic(new Path(dir.resolve(name).toUri), overwrite)
      s.write(name.getBytes("UTF-8"))
      s.close()
    }
    write(engine, "a", overwrite = false)
    write(stock, "b", overwrite = false)
    for ((fm, n) <- Seq(engine -> "a", stock -> "b")) {
      val ex = intercept[FileAlreadyExistsException](write(fm, n, overwrite = false))
      assert(ex.getMessage.contains(s"/$n"))
    }
    write(engine, "a", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("a")), "UTF-8") == "a")

    // the same files, sidecars and modes as the stock manager; both
    // leave the rejected commit's temp file (and its .crc) behind
    val names = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.filterNot(_.contains(".tmp")).toSet ==
      Set("a", "b", ".a.crc", ".b.crc"))
    def temps(n: String) = names.count(x => x.startsWith(s".$n.") &&
      x.endsWith(".tmp") || x.startsWith(s"..$n.") && x.endsWith(".tmp.crc"))
    assert(temps("a") == temps("b"), names)
    engine.mkdirs(new Path(dir.resolve("sub/dir").toUri))
    stock.mkdirs(new Path(dir.resolve("sub2/dir").toUri))
    for ((a, b) <- Seq("a" -> "b", ".a.crc" -> ".b.crc", "sub/dir" -> "sub2/dir"))
      assert(Files.getPosixFilePermissions(dir.resolve(a)) ==
        Files.getPosixFilePermissions(dir.resolve(b)), a)
    val root = new Path(dir.toUri)
    assert(engine.list(root).map(_.getPath.getName).toSet ==
      stock.list(root).map(_.getPath.getName).toSet)
  }

  test("non-file schemes get Spark's default checkpoint manager") {
    val dir = tempDir("ckpt_scheme")
    val path = new Path(s"$MockScheme://$dir/ckpt")
    val conf = new Configuration()
    conf.set(s"fs.$MockScheme.impl", classOf[MockSchemeFileSystem].getName)
    conf.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)

    // no AbstractFileSystem for the scheme: Spark falls back to the
    // FileSystem-based manager over the scheme's own FileSystem
    val fsBased = new LocalCheckpointFileManager(path, conf)
    assert(fsBased.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val before = mockRenames.get()
    val s = fsBased.createAtomic(new Path(path, "x"), overwriteIfPossible = false)
    s.write(1)
    s.close()
    // committed through the scheme's own filesystem
    assert(mockRenames.get() > before)
    assert(Files.exists(dir.resolve("ckpt/x")))

    // with one registered, Spark's first choice: the FileContext one
    conf.set(s"fs.AbstractFileSystem.$MockScheme.impl",
      classOf[MockSchemeFs].getName)
    val fcBased = new LocalCheckpointFileManager(path, conf)
    assert(fcBased.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
    conf.unset(LocalCheckpointFileManager.ConfKey)
    assert(fcBased.underlying.getClass ==
      CheckpointFileManager.create(path, conf).getClass)
  }
}

object CheckpointSpec {
  val MockScheme = "graftmock"

  def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(50)

  /** A non-`file` scheme over the local disk (raw, no checksums) that
    * counts its renames. */
  class MockSchemeFileSystem extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$MockScheme:///")
    override def getScheme: String = MockScheme
    override def rename(src: Path, dst: Path): Boolean = {
      mockRenames.incrementAndGet()
      super.rename(src, dst)
    }
  }

  val mockRenames = new java.util.concurrent.atomic.AtomicInteger

  /** The same scheme as a FileContext filesystem. */
  class MockSchemeFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new MockSchemeFileSystem, conf,
        MockScheme, false)
}
