package graft.core

import org.apache.spark.sql.SparkSession
import graft.streaming.LocalCheckpointFileManager

/** Session factory for the graft engine.
  *
  * Local-mode defaults are tuned for the test harness (local[32],
  * 32 shuffle partitions); on a real cluster the same builder is used
  * with `master` unset and shuffle partitions sized to ~2-3x total
  * cores (or left to AQE coalescing, which is enabled here).
  *
  * [[configure]] also registers [[LocalCheckpointFileManager]] as the
  * streaming checkpoint file manager. Each micro-batch of a stateful
  * stream commits several small files (offset log, commit log, one
  * state delta per partition); through Spark's default manager every
  * one of them on a `file:` path cost two to four forked processes
  * (`readlink` per rename, `chmod` per create), which set the
  * per-batch floor of the streaming programs. The registered manager
  * writes the same files, checksums and modes without forking. Paths
  * on any other scheme (HDFS, object stores) get exactly the manager
  * Spark would have chosen, so their behavior is unchanged.
  */
object GraftSession {

  /** Apply engine-required SQL confs to an existing session (used when
    * the driver harness owns the builder, e.g. Verify/Bench). Safe to
    * call repeatedly; all confs are runtime-settable.
    */
  def configure(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // The driver-generated events.parquet carries TIMESTAMP(NANOS),
    // which Spark's parquet reader rejects by default; read as raw
    // nanosecond longs and convert explicitly (core.Tables.events).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    // Driver testdata generations have flipped between TIMESTAMP(NANOS)
    // and TIMESTAMP(MICROS) parquet annotations; read every micros
    // timestamp as TimestampType (not NTZ) so literal comparisons and
    // window functions type-check identically across generations. With
    // the session timezone pinned UTC this relabels the same value.
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Runtime re-planning: partition coalescing + skew-join splitting.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Round-13 measurement (Profile13 minpart, OPTIMIZATION_r13.md):
    // AQE's byte-based coalescing merges CPU-heavy but byte-light
    // post-shuffle stages below the core count — a 1.3M-row pair set
    // is ~20 MB, so the default 1 MB floor coalesces the per-pair
    // jaccard/containment walks to a fraction of local[32] (q29
    // 3.8 s -> 1.7-2.0 s with a smaller floor; q66/q128 similar).
    // 128k keeps local parallelism at the core count for these
    // stages while staying invisible at production scale, where
    // post-shuffle partitions are far above 1 MB either way — the
    // floor only matters in the small-bytes/heavy-CPU regime.
    // Env-overridable for cluster deployments that want the default.
    c.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "128k"))
    // fork-free streaming checkpoint commits on `file:` paths; other
    // schemes keep Spark's default manager (see the object scaladoc)
    c.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    spark
  }

  def build(appName: String = "graft",
            master: Option[String] = Some(s"local[$defaultCpus]"),
            shufflePartitions: Int = defaultCpus): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    val spark = b
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }

  /** `SPARK_GRAFT_CPUS`: the core count of a local master and its
    * shuffle partitions; the processor count when unset or blank. */
  def defaultCpus: Int = cpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpus(raw: Option[String]): Int =
    envKnob("SPARK_GRAFT_CPUS", raw, Runtime.getRuntime.availableProcessors(),
      1, Int.MaxValue).toInt

  /** The value of the integer env knob `name`: `default` when unset or
    * blank, an IllegalArgumentException naming the knob when it is not
    * an integer in [min, max]. */
  private[graft] def envKnob(name: String, raw: Option[String], default: Long,
                             min: Long, max: Long): Long =
    raw.map(_.trim).filter(_.nonEmpty) match {
      case None => default
      case Some(v) => v.toLongOption.filter(x => x >= min && x <= max).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be an integer in [$min, $max], got '$v'"))
    }
}
