package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for every declared driver query into
  * one file per query — the round-13 optimization evidence trail
  * (`plans/r13/<query>_<tag>.txt`). The plan is captured AFTER an
  * execution so AQE's final plan (coalesced reads, runtime join
  * rewrites) is what lands in the file, matching what the bench
  * actually ran.
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> <tag> [sfDir] [q ...]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sf = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val only = args.drop(3).toSet
    Files.createDirectories(Paths.get(outDir))
    val cpus = graft.core.GraftSession.defaultCpus
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if only.isEmpty || only(name)) {
      try {
        val df = fn(spark, sf)
        df.write.format("noop").mode("overwrite").save() // finalize AQE
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          formatted.getBytes("UTF-8"))
        println(s"dumped $name")
      } catch {
        // NonFatal only: an OOM/fatal error must kill the tool, not
        // print FAILED and continue in an undefined JVM state
        case scala.util.control.NonFatal(e) =>
          println(s"FAILED $name: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
