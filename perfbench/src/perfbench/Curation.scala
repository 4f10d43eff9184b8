package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The eager curation chains: one pass that runs the four queries below
  * one after another through the same timed action `graft.Bench` uses,
  * over a generated corpus with the measured shape of the sf0.1
  * `documents` test table. */
object Curation {

  val queries: Seq[String] = Seq("q58_neardup_clusters", "q105_incremental_clusters",
    "q161_dsir_resample", "q169_resample_release")

  /** As many documents as the sf0.1 `documents` table. */
  final val Docs = 5000

  /** The corpus is the same for every run, so its oracle answers can be
    * recorded once (perfbench/oracle.json); the run's seed only shuffles
    * the order its rows are stored in. */
  final val CorpusSeed = 20260417L

  private val vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  private val langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  /** Rows (doc_id, text, lang, source, n_chars) with the properties
    * measured on the sf0.1 `documents` table: 10 to 100 words drawn
    * uniformly from its 30-word vocabulary, its language shares, 20
    * sources round-robin, and one document in twenty rewritten as
    * another's text plus " dup" (near-duplicates, chains of them, and a
    * few exact duplicates). */
  def corpus(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val rnd = new java.util.SplittableRandom(seed)
    val text = Array.tabulate(n) { _ =>
      Array.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val lang = Array.tabulate(n) { _ =>
      var u = rnd.nextInt(100)
      langs.find { case (_, w) => u -= w; u < 0 }.get._1
    }
    (0 until n).foreach { i =>
      if (rnd.nextInt(20) == 0) text(i) = text(rnd.nextInt(n)) + " dup"
    }
    (0 until n).map(i => (i.toLong, text(i), lang(i), s"src${i % 20}", text(i).length.toLong))
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def writeCorpus(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new scala.util.Random(seed)
    val rows = rnd.shuffle(corpus(CorpusSeed, Docs))
      .map { case (a, b, c, d, e) => org.apache.spark.sql.Row(a, b, c, d, e) }
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  final case class QueryRun(name: String, buildMs: Long, actionMs: Long, doneAtMs: Long,
      df: Option[DataFrame], error: Option[String], spanId: Long) {
    def startMs: Long = doneAtMs - buildMs - actionMs
  }
  final case class Pass(startMs: Long, endMs: Long, runs: Seq[QueryRun], spanId: Long) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  /** One pass: each query is built (eager chains run here) and then
    * materialized by `queryExecution.toRdd.count()`. A query that
    * throws is recorded and the pass goes on. */
  def pass(spark: SparkSession, dataDir: String, spans: Option[Spans]): Pass = {
    val start = System.currentTimeMillis()
    val passSpan = spans.map(_.nextId()).getOrElse(0L)
    val runs = queries.map { name =>
      val t0 = System.currentTimeMillis()
      var t1 = t0
      val (df, error) =
        try {
          val df = SparkEntry.queries(name)(spark, dataDir)
          t1 = System.currentTimeMillis()
          df.queryExecution.toRdd.count()
          (Some(df), None)
        } catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val t2 = System.currentTimeMillis()
      val spanId = spans.map { s =>
        val q = s.add(passSpan, name, t0, t2)
        s.add(q.id, "build", t0, t1)
        s.add(q.id, "action", t1, t2)
        q.id
      }.getOrElse(0L)
      QueryRun(name, t1 - t0, t2 - t1, t2, df, error, spanId)
    }
    val end = System.currentTimeMillis()
    spans.foreach(_.all.add(Span(passSpan, 0, "pass", start, end)))
    Pass(start, end, runs, passSpan)
  }

  /** Outside the timed window: write each result for the oracle
    * comparison. Returns the queries whose result could not be written;
    * a query that threw has no result and is not counted again. */
  def keep(p: Pass, outDir: String): Seq[String] =
    p.runs.filter { r =>
      r.df.exists { df =>
        try { df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${r.name}"); false }
        catch { case _: Throwable => true }
      }
    }.map(_.name)

  def run(h: Harness, trace: Boolean): Result = {
    val spark = h.spark
    val dir = h.runDir
    val setups = (1 to Harness.SetupRepeats).map { r =>
      val t0 = System.nanoTime()
      writeCorpus(spark, h.seed, s"$dir/data$r")
      (System.nanoTime() - t0) / 1e9
    }
    val data = s"$dir/data${Harness.SetupRepeats}"
    val setupS = h.sessionS + Stats.median(setups)

    val jobs = new JobRecorder
    val spans = if (trace) Some(new Spans) else None
    if (trace) spark.sparkContext.addSparkListener(jobs)
    // exactly one pass, whatever its length: the JVM's first run of these
    // queries, so it includes loading and compiling their code, as a
    // one-shot curation job does
    val (g, cpu0) = (Harness.gcSeconds, Harness.cpuSeconds)
    val p = pass(spark, data, spans)
    val (gcS, cpuS) = (Harness.gcSeconds - g, Harness.cpuSeconds - cpu0)
    val rssMb = Harness.peakRssMb
    if (trace) {
      jobs.quiesce()
      spark.sparkContext.removeSparkListener(jobs)
    }
    spans.foreach { s =>
      jobs.all.foreach { j =>
        val parent = p.runs.find(r => j.startMs >= r.startMs && j.startMs <= r.doneAtMs)
          .fold(p.spanId)(_.spanId)
        s.add(parent, j.site, j.startMs, j.endMs,
          Map("job_id" -> j.jobId, "description" -> j.description))
      }
    }
    val unwritten = keep(p, s"$dir/out")
    val threw = p.runs.filter(_.error.isDefined).map(_.name)

    // the pass is one batch job: its results are fresh once all four are
    val e2e = Map(
      "freshness_p50_ms" -> p.wallS * 1000,
      "freshness_p99_ms" -> p.wallS * 1000,
      "cpu_ms_per_1k_rows" -> cpuS * 1e6 / (Docs * queries.size),
      "ingest_rows_per_s" -> Docs * queries.size / p.wallS,
      "pass_wall_s" -> p.wallS,
      "setup_s" -> setupS,
      "peak_rss_mb" -> rssMb)
    val info = Map[String, Any]("docs" -> Docs,
      "queries_s" -> p.runs.map(r => r.name -> (r.buildMs + r.actionMs) / 1e3).toMap,
      "errors" -> p.runs.flatMap(_.error), "setup_repeats_s" -> setups,
      "check" -> Map("data" -> s"$data/documents.parquet", "out" -> s"$dir/out",
        "queries" -> queries.filterNot((threw ++ unwritten).contains)))

    val metrics = if (!trace) e2e else {
      val layer = layerMetrics(h, p, jobs.all)
      spans.foreach(_.write(h.tracePath))
      layer ++ e2e.collect { case (k, v) if k != "setup_s" => s"traced.$k" -> v } +
        ("jvm.gc_s" -> gcS)
    }
    Result(metrics, attempted = queries.size, failed = threw.size + unwritten.size, info = info)
  }

  /** The graft.operators, graft.queries and graft.sources metrics of
    * the pass. */
  def layerMetrics(h: Harness, p: Pass, all: Seq[JobRec]): Map[String, Double] = {
    val slots = h.spark.sparkContext.defaultParallelism
    val js = all.filter(_.endMs >= 0)
    def within(j: JobRec, from: Long, to: Long) = j.startMs >= from && j.startMs <= to
    val wallMs = (p.endMs - p.startMs).toDouble
    val perQuery = p.runs.flatMap { r =>
      Seq(s"queries.${r.name}.wall_s" -> (r.buildMs + r.actionMs) / 1e3,
        s"queries.${r.name}.jobs" -> js.count(j => within(j, r.startMs, r.doneAtMs)).toDouble)
    }
    val stages = js.flatMap(_.stages.asScala)
    val materialize = js.filter(_.description.startsWith("materialize @"))
    Map(
      "operators.construction_s" -> p.runs.map(_.buildMs).sum / 1e3,
      "operators.action_s" -> p.runs.map(_.actionMs).sum / 1e3,
      "operators.jobs" -> js.size.toDouble,
      "operators.stages" -> stages.size.toDouble,
      "operators.tasks" -> stages.map(_.numTasks).sum.toDouble,
      "operators.eager_jobs" ->
        js.count(j => p.runs.exists(r => within(j, r.startMs, r.startMs + r.buildMs))).toDouble,
      "operators.materialize_jobs" -> materialize.size.toDouble,
      "operators.materialize_s" -> materialize.map(j => j.endMs - j.startMs).sum / 1e3,
      "operators.idle_gap_s" -> (wallMs - Stats.unionLength(js.map(j => (j.startMs, j.endMs)))) / 1e3,
      "operators.slot_utilization" -> stages.map(_.runTimeMs).sum / (wallMs * slots),
      "operators.single_task_stage_share" ->
        (if (stages.isEmpty) 0.0 else stages.count(_.numTasks == 1).toDouble / stages.size),
      "operators.max_concurrent_jobs" -> Stats.maxOverlap(js.map(j => (j.startMs, j.endMs))).toDouble,
      "operators.cancelled_jobs" -> js.count(_.cancelled).toDouble,
      "operators.useful_job_ratio" -> (if (js.isEmpty) 0.0 else js.count(_.succeeded).toDouble / js.size),
      "operators.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "sources.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "catalyst.plan_ms" -> p.runs.flatMap(_.df).map { df =>
        df.queryExecution.tracker.phases.values.map(s => s.endTimeMs - s.startTimeMs).sum
      }.sum.toDouble) ++ perQuery
  }
}
