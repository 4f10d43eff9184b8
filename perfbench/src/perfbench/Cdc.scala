package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sinks.UpsertWriter
import graft.streaming.{BusPipeline, Observability}

/** One `addData` call of the generator: the envelopes `[from, until)`
  * of the plan, due to be offered at `scheduledMs` and offered at `atMs`
  * under stream offset `offset`. */
final case class Chunk(offset: Long, from: Int, until: Int, scheduledMs: Long, atMs: Long)

/** One committed micro-batch, from its progress event. */
final case class Batch(id: Long, startMs: Long, commitMs: Long, fromOffset: Long,
    toOffset: Long, rows: Long, triggerMs: Long, addBatchMs: Long)

object Batch {
  def of(p: StreamingQueryProgress): Option[Batch] =
    p.sources.headOption.filter(_ => p.numInputRows > 0).map { s =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trigger = d.getOrElse("triggerExecution", 0L)
      Batch(p.batchId, start, start + trigger,
        Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L), s.endOffset.trim.toLong,
        p.numInputRows, trigger, d.getOrElse("addBatch", 0L))
    }
}

/** The CDC upsert workload: a seeded generator on its own thread
  * offers Debezium envelopes to an in-memory stream on a wall-clock
  * schedule (open loop), and `BusPipeline.run` with the default
  * micro-batch trigger parses, precombines and upserts them. */
object Cdc {

  /** A small fleet updated over and over: each batch collapses heavily
    * under precombine and the table stays small. */
  val updates: CdcSpec = CdcSpec(keys = 3000, routes = 40, ratePerS = 1000,
    lateShare = 0.05, redeliveryShare = 0.02, deleteShare = 0.01,
    malformedShare = 0.01)

  /** The generator offers one burst per tick: every envelope that fell
    * due during the tick. A tick is longer than a micro-batch of one
    * burst takes, so each burst is committed by a batch of its own and
    * its commit latency is the pipeline's cost, not queueing behind
    * the previous batch. */
  final val BurstMs = 4000

  /** Write every initial key's image through the program's own transform
    * and upsert, so the measured batches merge against a full table. */
  def preseed(spark: SparkSession, spec: CdcSpec, table: String, originMs: Long): Unit = {
    val wire = spark.range(0, spec.keys, 1, spark.sparkContext.defaultParallelism)
      .map((k: java.lang.Long) => Row.envelope("null",
        Row.of(spec, k.intValue, CdcGen.PreseedMs, originMs).json, "c",
        originMs + CdcGen.PreseedMs))(Encoders.STRING)
    UpsertWriter.upsert(BusPipeline.transform(wire.toDF("value")), table)
  }

  def newStream(spark: SparkSession): MemoryStream[String] =
    MemoryStream[String](spark, spark.sparkContext.defaultParallelism)(Encoders.STRING)

  /** Offer the plan on the wall clock from `originMs`: at the end of
    * each tick, one chunk of every envelope due during it. Never slows
    * down for the pipeline: a late tick is offered as soon as it can be. */
  def offer(plan: Plan, stream: MemoryStream[String], originMs: Long,
      wire: Int => String): mutable.ArrayBuffer[Chunk] = {
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    var i = 0
    var tick = 0L
    while (i < plan.size) {
      tick += 1
      val wake = originMs + tick * BurstMs
      val sleep = wake - System.currentTimeMillis()
      if (sleep > 0) Thread.sleep(sleep)
      var j = i
      while (j < plan.size && plan.dueMs(j) < tick * BurstMs) j += 1
      if (j > i) {
        val off = stream.addData((i until j).map(wire)).json().trim.toLong
        chunks += Chunk(off, i, j, wake, System.currentTimeMillis())
        i = j
      }
    }
    chunks
  }

  /** The measured window; `startS` is the query's start-up and warm-up,
    * which count as set-up, and `cpuS` the process's CPU time from the
    * lead burst's commit to the drain. */
  final case class Window(chunks: Seq[Chunk], batches: Seq[Batch], originMs: Long,
      drained: Boolean, startS: Double, cpuS: Double)

  /** Warm-up bursts committed closed loop before the measured window. */
  final val WarmBatches = 3

  /** Run the measured window. Start the pipeline and warm it up closed
    * loop: [[WarmBatches]] bursts of `warm`, each offered once the one
    * before has committed. `warm` has the plan's mix but only envelopes
    * older than the pre-seed ([[CdcGen.warmPlan]]), so it changes
    * neither the table nor the reference. The first batch after a
    * closed-loop run is about a second slower than the steady ones, so
    * one more burst of `warm` leads the schedule: it is offered at the
    * window's origin, a tick before the plan's first burst, and the
    * window's CPU time is counted from its commit. Then the plan is
    * offered on its schedule from a thread of its own, and the stream
    * drains (bounded wait). */
  def measure(spark: SparkSession, spec: CdcSpec, warm: Plan, plan: Plan, table: String,
      checkpoint: String, preseedOriginMs: Long, drainLimitMs: Long): Window = {
    val t0 = System.currentTimeMillis()
    val stream = newStream(spark)
    val q: StreamingQuery = BusPipeline.run(stream.toDF(), table, checkpoint, trigger = None)
    def committed = q.recentProgress.flatMap(Batch.of).map(_.toOffset).maxOption.getOrElse(-1L)
    def await(offset: Long, deadline: Long): Unit = {
      while (committed < offset && q.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      q.exception.foreach(e => throw e)
    }
    def offerWarm(b: Int): Long = {
      val burst = warm.dueMs.indices.filter(i => warm.dueMs(i) / BurstMs == b)
      stream.addData(burst.map(Row.wire(spec, warm, _, preseedOriginMs))).json().trim.toLong
    }
    try {
      (0 until WarmBatches).foreach { b =>
        await(offerWarm(b), System.currentTimeMillis() + drainLimitMs)
      }
      val origin = System.currentTimeMillis()
      val leadEnd = offerWarm(WarmBatches)
      val gen = new java.util.concurrent.atomic.AtomicReference[Seq[Chunk]]()
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try gen.set(offer(plan, stream, origin, i => Row.wire(spec, plan, i, origin)).toSeq)
        catch { case e: Throwable => failure.set(e) }, "perfbench-generator")
      t.start()
      await(leadEnd, origin + BurstMs)
      val cpu0 = Harness.cpuSeconds
      t.join()
      Option(failure.get).foreach(e => throw e)
      val chunks = gen.get
      val last = chunks.last.offset
      await(last, System.currentTimeMillis() + drainLimitMs)
      val cpuS = Harness.cpuSeconds - cpu0
      val batches = q.recentProgress.toSeq.flatMap(Batch.of)
        .filter(_.toOffset > leadEnd).sortBy(_.toOffset)
      Window(chunks, batches, origin, committed >= last, (origin - t0) / 1e3, cpuS)
    } finally q.stop()
  }

  /** The batch that committed chunk `c`, if any. */
  private def committing(w: Window, c: Chunk): Option[Batch] =
    w.batches.find(b => b.fromOffset < c.offset && c.offset <= b.toOffset)

  /** Envelopes a batch carried, from the generator's record. The
    * progress event's `numInputRows` counts every scan of the source, so
    * it is a multiple of this when the batch is read more than once. */
  private def envelopes(w: Window, b: Batch): Int =
    w.chunks.filter(c => b.fromOffset < c.offset && c.offset <= b.toOffset)
      .map(c => c.until - c.from).sum

  /** Per-envelope freshness: the committing batch's end minus the time
    * the envelope was due. Envelopes of uncommitted chunks are absent. */
  def freshness(plan: Plan, w: Window): Array[Double] = {
    val out = mutable.ArrayBuilder.make[Double]
    w.chunks.foreach { c =>
      committing(w, c).foreach { b =>
        (c.from until c.until).foreach(i => out += (b.commitMs - (w.originMs + plan.dueMs(i))).toDouble)
      }
    }
    out.result()
  }

  /** Per chunk: the committing batch's end minus the time the chunk was
    * offered. This is what the pipeline's speed sets. */
  def commitLatency(w: Window): Array[Double] =
    w.chunks.flatMap(c => committing(w, c).map(b => (b.commitMs - c.atMs).toDouble)).toArray

  /** Envelopes offered but not yet committed, at each batch's commit. */
  def backlogMax(w: Window): Long = {
    val ends = w.chunks.map(c => c.offset -> c.until).toMap
    w.batches.map { b =>
      val offered = w.chunks.filter(_.atMs <= b.commitMs).map(_.until).maxOption.getOrElse(0)
      offered - ends.getOrElse(b.toOffset, 0)
    }.maxOption.getOrElse(0).toLong
  }

  /** Compare the table with the plain-Scala LWW reference. Returns the
    * number of keys whose stored row is missing, extra or different. */
  def mismatches(spark: SparkSession, spec: CdcSpec, plan: Plan, table: String,
      preseedOriginMs: Long, originMs: Long): Int = {
    val want = CdcGen.lww(spec.keys, plan)
    val got = UpsertWriter.readTable(spark, table).collect()
    var bad = 0
    val seen = mutable.HashSet.empty[Int]
    got.foreach { r =>
      val k = r.getAs[Int]("record_id")
      if (!seen.add(k)) bad += 1
      else want.get(k) match {
        case None => bad += 1
        case Some(ev) =>
          val e = Row.of(spec, k, ev, if (ev == CdcGen.PreseedMs) preseedOriginMs else originMs)
          val same = r.getAs[Int]("id") == e.id && r.getAs[Int]("routeId") == e.routeId &&
            r.getAs[String]("directionId") == e.directionId &&
            r.getAs[Int]("predictable") == e.predictable &&
            r.getAs[Int]("secsSinceReport") == e.secsSinceReport &&
            r.getAs[Int]("kph") == e.kph && r.getAs[Int]("heading") == e.heading &&
            r.getAs[Double]("lat") == e.lat.toDouble && r.getAs[Double]("lon") == e.lon.toDouble &&
            Option(r.getAs[Any]("leadingVehicleId")).map(_.asInstanceOf[Int]) == e.leadingVehicleId &&
            r.getAs[java.sql.Timestamp]("event_time").getTime == e.eventTime
          if (!same) bad += 1
      }
    }
    bad + want.keySet.count(k => !seen.contains(k))
  }

  def tableFiles(table: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(table)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(java.nio.file.Files.size).sum)
  }

  /** The workload end to end. `trace` attaches the listeners and returns
    * the per-layer metrics instead of the end-to-end ones. */
  def run(h: Harness, spec: CdcSpec, seconds: Int, trace: Boolean): Result = {
    val spark = h.spark
    val dir = h.runDir
    val plan = CdcGen.plan(spec, h.seed, seconds * 1000)
    val origin = System.currentTimeMillis()
    val setups = (1 to Harness.SetupRepeats).map { r =>
      val t0 = System.nanoTime()
      preseed(spark, spec, s"$dir/table$r", origin)
      (System.nanoTime() - t0) / 1e9
    }
    val table = s"$dir/table${Harness.SetupRepeats}"

    val jobs = new JobRecorder
    val recorder = if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      Some(Observability.attach(spark))
    } else None
    val gc0 = Harness.gcSeconds
    val warm = CdcGen.warmPlan(spec, h.seed, (WarmBatches + 1) * BurstMs)
    val w = try measure(spark, spec, warm, plan, table, s"$dir/cp", origin, drainLimitMs = 60000L)
    finally recorder.foreach(spark.streams.removeListener)
    val gcS = Harness.gcSeconds - gc0
    val rssMb = Harness.peakRssMb
    if (trace) jobs.quiesce()
    val fresh = freshness(plan, w).sorted
    val latency = commitLatency(w)
    val lastCommit = w.batches.map(_.commitMs).maxOption.getOrElse(w.originMs)
    val committed = fresh.length
    val passS = (lastCommit - w.originMs) / 1e3
    val setupS = h.sessionS + Stats.median(setups) + w.startS
    val e2e = Map(
      "freshness_p50_ms" -> Stats.percentile(fresh, 50),
      "freshness_p99_ms" -> Stats.percentile(fresh, 99),
      "cpu_ms_per_1k_rows" -> w.cpuS * 1e6 / math.max(1, committed),
      "ingest_rows_per_s" -> committed / passS,
      "pass_wall_s" -> passS,
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb)

    val bad = mismatches(spark, spec, plan, table, origin, w.originMs)
    val failed = (plan.size - committed) + bad
    val info = Map[String, Any]("envelopes" -> plan.size, "committed" -> committed,
      "mismatched_keys" -> bad, "batches" -> w.batches.size, "drained" -> w.drained,
      "freshness_samples" -> committed,
      "freshness_highest_supported_pct" -> Stats.highestSupported(committed).getOrElse(-1.0),
      "commit_latency_ms" -> latency.toSeq,
      "batch_envelopes_rows_trigger_ms" ->
        w.batches.map(b => Seq(envelopes(w, b), b.rows, b.triggerMs)),
      "generator_lag_ms_max" -> w.chunks.map(c => c.atMs - c.scheduledMs).max,
      "setup_repeats_s" -> setups, "query_start_s" -> w.startS)

    val metrics = if (!trace) e2e else {
      // the streaming layer's numbers come from Observability's recorder;
      // its events reach the listener bus after the batch commits
      val rec = recorder.get
      def recorded = rec.progress.asScala.toSeq.map(_.progress).flatMap(Batch.of)
        .filter(b => w.batches.exists(_.id == b.id)).sortBy(_.toOffset)
      val deadline = System.currentTimeMillis() + 10000
      while (recorded.size < w.batches.size && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val spans = new Spans
      val layer = layerMetrics(plan, w.copy(batches = recorded), jobs.all, table, spans)
      spans.write(h.tracePath)
      layer ++ e2e.collect { case (k, v) if k != "setup_s" => s"traced.$k" -> v } +
        ("jvm.gc_s" -> gcS)
    }
    Result(metrics, attempted = plan.size, failed = failed, info = info)
  }

  val roles: Seq[String] = Seq("is_empty", "source_scan", "merge", "listing", "schema", "write")

  /** What an upsert job does. Every job of a streaming query carries the
    * query's start call site, so the role comes from the job description
    * and the operators of the job's last stage instead. */
  def role(j: JobRec): String =
    if (j.description.startsWith("Listing leaf files")) "listing"
    else if (j.scopes.contains("CollectLimit")) "is_empty"
    else if (j.scopes.contains("WriteFiles")) "write"
    else if (j.scopes.contains("MicroBatchScan")) "source_scan"
    else if (j.scopes.forall(s => s == "mapPartitions" || s == "parallelize")) "schema"
    else "merge"

  /** The graft.streaming, graft.pipeline and graft.sinks metrics from the
    * progress events and the job recorder, with one span per micro-batch,
    * upsert and job. */
  def layerMetrics(plan: Plan, w: Window, jobs: Seq[JobRec], table: String,
      spans: Spans): Map[String, Double] = {
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val byBatch = jobs.filter(_.endMs >= 0).groupBy(_.batchId.getOrElse(-1L))
    val perBatch = w.batches.map { b =>
      val js = byBatch.getOrElse(b.id, Nil)
      val bs = spans.add(0, "micro-batch", b.startMs, b.commitMs,
        Map("batch_id" -> b.id, "envelopes" -> envelopes(w, b), "source_rows" -> b.rows))
      // the progress event gives only addBatch's length: the upsert span
      // sits midway between the batch's planning and its offset commit
      val upEnd = b.commitMs - math.max(0L, b.triggerMs - b.addBatchMs) / 2
      val up = spans.add(bs.id, "upsert", upEnd - b.addBatchMs, upEnd)
      js.foreach(j => spans.add(up.id, j.site, j.startMs, j.endMs,
        Map("job_id" -> j.jobId, "role" -> role(j), "description" -> j.description)))
      val stages = js.flatMap(_.stages.asScala)
      val covered = Stats.unionLength(js.map(j => (j.startMs, j.endMs)))
      (b, js, stages, math.max(0L, b.addBatchMs - covered))
    }
    val sourceStages = perBatch.flatMap(_._3).filter(_.readsSource)
    val rowsWritten = perBatch.map(_._3.map(_.outputRecords).sum.toDouble)
    val (files, bytes) = tableFiles(table)
    val jobMs = perBatch.flatMap(_._2).groupBy(role)
      .map { case (r, js) => r -> p50(js.map(j => (j.endMs - j.startMs).toDouble)) }
    Map(
      "streaming.batches" -> w.batches.size.toDouble,
      "streaming.rows_per_batch_p50" -> p50(w.batches.map(envelopes(w, _).toDouble)),
      "streaming.trigger_ms_p50" -> p50(w.batches.map(_.triggerMs.toDouble)),
      "streaming.engine_overhead_ms_p50" ->
        p50(w.batches.map(b => (b.triggerMs - b.addBatchMs).toDouble)),
      "streaming.backlog_max_rows" -> backlogMax(w).toDouble,
      "streaming.generator_lag_ms_max" -> w.chunks.map(c => (c.atMs - c.scheduledMs).toDouble).max,
      "pipeline.source_partitions" -> p50(sourceStages.map(_.numTasks.toDouble)),
      "pipeline.parse_passes_per_batch" ->
        p50(perBatch.map(_._2.count(_.stages.asScala.exists(_.readsSource)).toDouble)),
      "sinks.upsert_ms_p50" -> p50(w.batches.map(_.addBatchMs.toDouble)),
      "sinks.jobs_per_batch" -> p50(perBatch.map(_._2.size.toDouble)),
      "sinks.driver_gap_ms_p50" -> p50(perBatch.map(_._4.toDouble)),
      "sinks.shuffle_bytes_per_batch" -> p50(perBatch.map(_._3.map(_.shuffleWriteBytes).sum.toDouble)),
      "sinks.merge_rows_read_per_batch" -> p50(perBatch.map(_._3
        .filter(s => s.readsFiles && !s.readsSource).map(_.inputRecords).sum.toDouble)),
      "sinks.rows_written_per_batch" -> p50(rowsWritten),
      "sinks.write_amplification" ->
        rowsWritten.sum / math.max(1, w.batches.map(envelopes(w, _)).sum),
      "sinks.bytes_written_per_batch" -> p50(perBatch.map(_._3.map(_.outputBytes).sum.toDouble)),
      "sinks.table_files_end" -> files.toDouble,
      "sinks.table_bytes_end" -> bytes.toDouble) ++
      roles.map(r => s"sinks.job_ms_p50.$r" -> jobMs.getOrElse(r, 0.0))
  }
}
