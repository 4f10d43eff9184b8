package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds; `parent` is the
  * id of the span that caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
    attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val all = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(parent: Long, name: String, startMs: Long, endMs: Long,
      attrs: Map[String, Any] = Map.empty): Span = {
    val s = Span(nextId(), parent, name, startMs, endMs, attrs)
    all.add(s); s
  }
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.asScala.toSeq.sortBy(s => (s.startMs, s.id)).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

final case class StageRec(stageId: Int, numTasks: Int, runTimeMs: Long,
    shuffleWriteBytes: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, outputRecords: Long, readsSource: Boolean, readsFiles: Boolean)

final class JobRec(val jobId: Int, val startMs: Long, val site: String,
    val description: String, val batchId: Option[Long], val scopes: Seq[String]) {
  @volatile var endMs: Long = -1L
  @volatile var succeeded: Boolean = false
  @volatile var cancelled: Boolean = false
  val stages = new ConcurrentLinkedQueue[StageRec]()
}

/** Records every Spark job and completed stage from the listener bus.
  * Event times come from the events themselves, so the bus's delivery
  * lag does not move them. A stage "reads the source" when one of its
  * RDDs was produced by a micro-batch scan of the in-memory stream, and
  * "reads files" when one was produced by a parquet scan. */
final class JobRecorder extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val ended = new java.util.concurrent.atomic.AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val last = e.stageInfos.sortBy(-_.stageId).headOption
    val site = last.map(_.name).getOrElse("?")
    val scopes = last.toSeq.flatMap(_.rddInfos.flatMap(_.scope.map(_.name)))
    val j = new JobRec(e.jobId, e.time, site, prop("spark.job.description").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong), scopes)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      val m = si.taskMetrics
      val scopes = si.rddInfos.flatMap(_.scope.map(_.name))
      val source = scopes.exists(_.contains("MicroBatchScan"))
      if (si.completionTime.isDefined && si.failureReason.isEmpty && m != null)
        j.stages.add(StageRec(si.stageId, si.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten, source, scopes.exists(_.startsWith("Scan parquet"))))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      e.jobResult match {
        case JobSucceeded => j.succeeded = true
        case f: JobFailed => j.cancelled =
          Option(f.exception.getMessage).exists(_.toLowerCase.contains("cancel"))
        case _ =>
      }
    }
    ended.incrementAndGet()
  }

  /** Wait (bounded) until every started job has been seen to end and the
    * bus has been quiet for a moment, so counts are complete. */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < deadline &&
        (ended.get != jobs.size || last != ended.get)) {
      last = ended.get
      Thread.sleep(100)
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def clear(): Unit = { jobs.clear(); stageJob.clear(); ended.set(0) }
}
