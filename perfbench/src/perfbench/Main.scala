package perfbench

import org.apache.spark.sql.SparkSession
import graft.GraftSession

final case class Result(metrics: Map[String, Double], attempted: Int, failed: Int,
    info: Map[String, Any])

/** What every workload gets: the session, the seed, a private scratch
  * directory, where to write spans, and the session's start-up time. */
final case class Harness(spark: SparkSession, seed: Long, runDir: String,
    tracePath: java.nio.file.Path, sessionS: Double)

object Harness {
  /** Workload set-up is repeated this often and its median reported. */
  final val SetupRepeats = 3

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** CPU time of every thread of this JVM so far. */
  def cpuSeconds: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadavg: Double =
    java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
}

/** Runs one workload once and prints one result line, prefixed
  * `PERFBENCH `, that `run.py` turns into the benchmark's output.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <tracePath>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, runDir, tracePath) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val loadStart = Harness.loadavg
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val h = Harness(spark, seed.toLong, runDir, java.nio.file.Paths.get(tracePath), sessionS)
    val traced = trace == "1"
    val r = try workload match {
      case "cdc_updates" => Cdc.run(h, Cdc.updates, seconds.toInt, traced)
      case "curation_chains" => Curation.run(h, traced)
      case "write_corpus" => Curation.writeCorpus(spark, h.seed, runDir)
        Result(Map.empty, 0, 0, Map("data" -> s"$runDir/documents.parquet",
          "oracle" -> Curation.queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val loadEnd = Harness.loadavg
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> r.attempted, "failed" -> r.failed, "metrics" -> r.metrics,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "contended" -> (loadStart > cpus.toDouble * 0.15), "cpus" -> cpus.toInt) ++ r.info.toSeq))
  }
}
