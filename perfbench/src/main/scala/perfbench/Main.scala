package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark main: one JVM, one Spark `local[cores]` session, one
  * closed-loop client (each operation starts when the previous one has
  * finished).
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  *   [recordDigests]
  *
  * Set-up (session start, input generation three times, warm-up) is
  * timed apart from the passes. The raw samples go to `outJson`; `run.py`
  * turns them into metrics.
  */
object Main {

  val SetupReps = 3
  val MinPasses = 3
  val TracedPairs = 2

  /** The query workload's fixed subset: three of the suite's most
    * job-heavy queries plus every 41st query of the sorted suite, so
    * several query families are represented.
    */
  def suiteQueries: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    val heavy = Seq("q04_top_nations", "q74_incremental_cosine_neardup", "q89_ccnet_pipeline")
    (heavy ++ all.indices.collect { case i if i % 41 == 0 => all(i) }).distinct
  }

  /** CPU-bound cohort: queries whose task CPU exceeds their wall time. */
  val cohort: Seq[String] = Seq("q145_jaccard_histogram", "q27_neardup_minhash",
    "q67_incremental_neardup", "q67b_incremental_neardup_xxh64",
    "q127_containment_pairs", "q128_lsh_recall_audit", "q100_dsir_weights",
    "q51_simhash_banded")

  private def expectedDigests(path: String): Map[String, (Long, String)] = {
    val f = new File(path)
    if (!f.exists()) return Map.empty
    val re = "\"([^\"]+)\": \\{\"rows\": (-?\\d+), \"digest\": \"([^\"]*)\"\\}".r
    re.findAllMatchIn(Files.readString(f.toPath))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, out) = args.take(6)
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val traced = trace == "1"
    val record = args.lift(6)
    val benchDir = sys.props.getOrElse("perfbench.dir", "perfbench")
    val cores = spark.sparkContext.defaultParallelism

    // Sizes give passes of about `passS` seconds on a 4-core host; a run
    // makes max(MinPasses, seconds / passS) passes, so the operation count
    // of a run is fixed by `seconds`.
    val (wl: Workload, passS) = workload match {
      case "ingest" => (new Ingest(
        new EtlPipeline(spark, work, seed.toLong, urls = 300, batch = 100),
        new StreamIngest(spark, work, seed.toLong, corpusDocs = 300, files = 4, rows = 160,
          perPass = 2)), 11.0)
      case "query_suite" => (new QuerySuite(spark, work, seed.toLong, Seq(
        QueryGroup("suite", suiteQueries, sf = 0.005, replicas = 1, graft.Tables.names.toSet,
          expectedDigests(s"$benchDir/expected/suite.json")),
        QueryGroup("cohort", cohort, sf = 0.008, replicas = 3, Set("documents"),
          expectedDigests(s"$benchDir/expected/cohort.json"))), record), 10.0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val passes = math.max(MinPasses, math.round(seconds.toDouble / passS).toInt)

    val genS = mutable.ArrayBuffer.empty[Double]
    var fixtures = Map.empty[String, String]
    for (rep <- 0 until SetupReps) {
      val g0 = System.nanoTime()
      val d = wl.generate(rep)
      genS += (System.nanoTime() - g0) / 1e9
      if (rep > 0 && d != fixtures) throw new IllegalStateException(
        "input generation is not deterministic: fixture digests differ between repetitions")
      fixtures = d
    }
    // The warm-up also measures the largest live heap an operation leaves
    // behind; the forced collections this takes stay out of the passes.
    val ctx0 = new Ctx(spark, None)
    ctx0.measureHeap = true
    val w0 = System.nanoTime()
    val warm = wl.warmup(ctx0)
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx0.measureHeap = false

    var checks = warm.checks
    val failures = mutable.ArrayBuffer.empty[String] ++= warm.failures

    def pass(ctx: Ctx, i: Int): Map[String, Any] = {
      ctx.tracer.foreach(_.reset())
      val p = wl.pass(ctx, i)
      val (traceLayer, traceSeries) = ctx.tracer.map(layerOf(_, p, cores))
        .getOrElse((Map.empty[String, Double], Map.empty[String, Seq[Double]]))
      val v = p.verify()
      checks += v.checks
      failures ++= v.failures
      Map("wall_s" -> p.wallS, "ops" -> p.ops, "failed_ops" -> p.failedOps,
        "records" -> p.records, "records_s" -> p.recordsS, "rows" -> p.rows,
        "rows_s" -> p.rowsS, "aggregate_s" -> p.aggregateS,
        "layer" -> (p.layer ++ v.layer ++ traceLayer +
          ("cache.entries_left" -> p.cacheEntriesLeft.toDouble)),
        "series" -> (p.series ++ traceSeries))
    }

    // An untraced run times `passes` passes. A traced run makes
    // `TracedPairs` traced passes, each followed by an untraced one, so
    // that the tracing overhead is read against passes equally far from
    // the warm-up.
    val tracer = Option.when(traced)(new Tracer(spark))
    val untraced = if (traced) Nil else (0 until passes).map(pass(ctx0, _))
    val pairs = tracer.toSeq.flatMap { t =>
      val ctx = new Ctx(spark, Some(t))
      (0 until TracedPairs).map { k =>
        t.attach()
        val tp = pass(ctx, 2 * k)
        t.detach()
        (tp, pass(ctx0, 2 * k + 1))
      }
    }
    val peakRssMb = Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

    val rt = Runtime.getRuntime
    val raw = Map(
      "workload" -> workload, "seed" -> seed.toLong,
      "host" -> Map("cores" -> cores, "available_processors" -> rt.availableProcessors(),
        "heap_max_mb" -> rt.maxMemory / 1048576, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.vm.version"))),
      "fixtures" -> fixtures,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS.toSeq, "warmup_s" -> warmS),
      "untraced" -> untraced, "traced" -> pairs.map(_._1), "paired_untraced" -> pairs.map(_._2),
      "spans" -> tracer.toSeq.flatMap(_.spans).map(sp => Map("id" -> sp.id, "name" -> sp.name,
        "op" -> sp.op, "parent" -> sp.parent, "start_s" -> (sp.startNs - t0) / 1e9,
        "end_s" -> (sp.endNs - t0) / 1e9)),
      "checks" -> checks, "failures" -> failures.toSeq, "peak_heap_mb" -> ctx0.peakHeapMb,
      "peak_rss_mb" -> peakRssMb)
    Files.writeString(new File(out).toPath,
      org.json4s.jackson.Serialization.write(raw)(org.json4s.DefaultFormats))
    spark.stop()
  }

  /** Per-layer values of one traced pass, from the tracer's counters. */
  private def layerOf(t: Tracer, p: PassResult, cores: Int)
      : (Map[String, Double], Map[String, Seq[Double]]) = {
    t.drain()
    val (all, tot, progress) = t.synchronized((t.byOp.toMap, t.total, t.progress.toSeq))
    val batches = all.filter(_._1.startsWith("batch-")).values
    val agg = all.get("agg")
    val prog = progress.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = prog.map(q => Option(q.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0))
    val trig = dur("triggerExecution")
    val add = dur("addBatch")
    // Streaming triggers become spans under the drain that ran them;
    // addBatch follows the phases that precede it in a micro-batch.
    val drainSpan = t.spans.lastOption.filter(_.name == "streaming.drain").map(_.id).getOrElse(-1)
    prog.foreach { q =>
      def ms(k: String) = Option(q.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(q.timestamp).toEpochMilli
      val id = t.addSpan("streaming.batch", s"b${q.batchId}", drainSpan, start,
        ms("triggerExecution"))
      val before = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").map(ms).sum
      t.addSpan("streaming.add_batch", s"b${q.batchId}", id, start + before, ms("addBatch"))
    }
    (Map(
      "spark.jobs" -> tot.jobs.toDouble,
      "spark.stages" -> tot.stages.toDouble,
      "spark.tasks" -> tot.tasks.toDouble,
      "spark.tasks_per_stage" -> tot.tasks.toDouble / math.max(1, tot.stages),
      "spark.scheduler_delay_s" -> tot.schedulerDelayMs / 1e3,
      "spark.driver_gap_s" -> (p.wallS - tot.taskRunMs / 1e3 / cores),
      "spark.task_run_s" -> tot.taskRunMs / 1e3,
      "spark.task_cpu_s" -> tot.taskCpuNs / 1e9,
      "spark.gc_s" -> tot.gcMs / 1e3,
      "spark.shuffle_read_bytes" -> tot.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> tot.shuffleWrite.toDouble,
      "spark.spill_bytes" -> tot.spill.toDouble,
      "queries.build_jobs" -> tot.buildJobs.toDouble,
      "plan.analysis_s" -> t.analysisMs / 1e3,
      "plan.optimization_s" -> t.optimizationMs / 1e3,
      "plan.planning_s" -> t.planningMs / 1e3,
      "pipeline.jobs_per_batch" ->
        (if (batches.isEmpty) 0.0 else batches.map(_.jobs).sum.toDouble / batches.size),
      "agg.jobs" -> agg.map(_.jobs.toDouble).getOrElse(0.0),
      "agg.task_s" -> agg.map(_.taskRunMs / 1e3).getOrElse(0.0),
      "streaming.batches" -> prog.size.toDouble),
      Map("streaming.batch_s" -> trig, "streaming.add_batch_s" -> add,
        "streaming.overhead_s" -> trig.zip(add).map { case (a, b) => a - b }))
  }
}
