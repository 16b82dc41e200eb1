package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.types._

import graft.enrich.{Enricher, SyntheticFetcher}
import graft.pipeline.Pipelines

/** One timed pass. `wallS` sums the timed calls only (the benchmark's own
  * bookkeeping between calls is excluded) and `ops` are its operations'
  * latencies in seconds. `records` are input records consumed in
  * `recordsS` seconds of calls, `rows` rows written or returned in
  * `rowsS` seconds. `layer` holds the workload's own per-layer values and
  * `series` per-layer samples (one per operation) whose median run.py
  * reports. `verify` runs the correctness oracle on the pass's outputs,
  * after the pass's trace counters have been read, and returns the checks
  * made, the failures and any per-layer values the oracle measures.
  */
final case class PassResult(wallS: Double, ops: Seq[Double], failedOps: Int,
    records: Long, recordsS: Double, rows: Long, rowsS: Double, aggregateS: Double,
    cacheEntriesLeft: Int, layer: Map[String, Double], series: Map[String, Seq[Double]],
    verify: () => Verdict)

final case class Verdict(checks: Int, failures: Seq[String],
    layer: Map[String, Double] = Map.empty)

/** What a workload call needs: the session, the tracer when the pass is
  * traced, and the Spark local properties that attribute jobs to
  * operations.
  */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {

  /** Run `body` as the `phase` of operation `op`; returns its result and
    * wall seconds.
    */
  def call[T](span: String, op: String, phase: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.phase", phase)
    val t0 = System.nanoTime()
    val r = tracer match {
      case Some(t) => t.span(span, op)(body)
      case None => body
    }
    val s = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty("perfbench.op", null)
    sc.setLocalProperty("perfbench.phase", null)
    (r, s)
  }

  private lazy val cachedData = {
    val f = spark.sharedState.cacheManager.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }

  private def cached: Seq[CachedData] =
    cachedData.get(spark.sharedState.cacheManager).asInstanceOf[Seq[CachedData]]

  /** While set, `releaseCache` first collects the heap and raises
    * `peakHeapMb` to the live heap the operation left behind.
    */
  var measureHeap = false
  var peakHeapMb = 0.0

  /** Count what an operation left cached, then release it, outside any
    * timed call. The release blocks until the cached blocks are gone, so
    * that none of them is still held when the next operation runs or has
    * its heap read.
    */
  def releaseCache(): Int = {
    if (measureHeap) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      System.gc()
      val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
    }
    val entries = cached
    entries.foreach(cd => spark.sharedState.cacheManager.uncacheQuery(
      spark.asInstanceOf[ClassicSession], cd.plan, cascade = false, blocking = true))
    entries.size
  }
}

trait Workload {
  /** Generate this workload's inputs for set-up repetition `rep` and make
    * them the current inputs; returns a digest per generated fixture.
    */
  def generate(rep: Int): Map[String, String]
  /** Warm the JVM and Spark on the current inputs, outside timing, and
    * run any correctness oracle that needs a run of its own.
    */
  def warmup(ctx: Ctx): Verdict
  def pass(ctx: Ctx, i: Int): PassResult
}

object Files2 {
  def rm(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
  }

  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val d = new File(to).toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** (files, bytes) of data files under `dir`, skipping checksum and
    * marker files.
    */
  def census(dir: String, suffix: String = ""): (Int, Long) = {
    val f = new File(dir)
    if (!f.exists()) return (0, 0L)
    val fs = Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") && n.endsWith(suffix)
      }.toSeq
    (fs.size, fs.map(Files.size).sum)
  }
}

/** The paper's processor → aggregator pipeline: the URL list goes through
  * `Pipelines.processor` batch by batch (one operation per batch) with
  * the deterministic `SyntheticFetcher`, then `Pipelines.aggregator`
  * summarises the shard tree.
  */
final class EtlPipeline(spark: SparkSession, work: String, seed: Long,
    urls: Int, batch: Int) extends Workload {
  private var urlList = ""
  private val config = Enricher.Config(backoffMs = 1)

  private def urlsOf(n: Int, tag: String): Seq[String] =
    (0 until n).map(i => s"https://media.example/$tag/$seed/${Gen.mix(seed * 31 + i) >>> 1}")

  private def writeList(path: String, us: Seq[String]): String = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(new File(path).toPath,
      us.map(u => s"""{"url": "$u"}""").mkString("[\n", ",\n", "\n]\n"))
    Digest.md5(us.iterator)
  }

  def generate(rep: Int): Map[String, String] = {
    val dir = s"$work/gen-$rep"
    Files2.rm(dir)
    urlList = s"$dir/urls.json"
    Map("urls" -> writeList(urlList, urlsOf(urls, "m")))
  }

  /** Dead letters and failed attempts derived from the URLs alone, by
    * `SyntheticFetcher`'s rule: md5 starting "00" fails every attempt,
    * md5 ending "f" fails the first attempt only.
    */
  private lazy val expected: (Long, Long) = {
    val hs = urlsOf(urls, "m").map { u =>
      java.security.MessageDigest.getInstance("MD5").digest(u.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val dead = hs.count(_.startsWith("00")).toLong
    val retried = hs.count(h => !h.startsWith("00") && h.endsWith("f")).toLong
    (dead, dead * config.maxAttempts + retried)
  }

  def warmup(ctx: Ctx): Verdict = {
    val dir = s"$work/warm"
    Files2.rm(dir)
    val list = s"$dir/urls.json"
    writeList(list, urlsOf(batch, "w"))
    Pipelines.processor(spark, list, s"$dir/out",
      () => new SyntheticFetcher(), maxRecords = batch, cursorPath = s"$dir/cursor.txt",
      numPartitions = 1, enrichConfig = config)
    ctx.releaseCache()
    Pipelines.aggregator(spark, s"$dir/out/shards", s"$dir/agg")
    ctx.releaseCache()
    Files2.rm(dir)
    Verdict(0, Nil)
  }

  def pass(ctx: Ctx, i: Int): PassResult = {
    val out = s"$work/pass-$i"
    Files2.rm(out)
    val ops = Seq.newBuilder[Double]
    var cursor = graft.pipeline.Cursor.read(s"$out/cursor.txt")
    var k = 0
    var cacheLeft = 0
    while (cursor.hasMore && cursor.totalProcessed < urls) {
      val (c, s) = ctx.call("pipeline.batch", s"batch-$k", "batch") {
        Pipelines.processor(spark, urlList, out, () => new SyntheticFetcher(),
          maxRecords = batch, cursorPath = s"$out/cursor.txt", totalTarget = urls,
          numPartitions = 1, enrichConfig = config)
      }
      cacheLeft += ctx.releaseCache()
      cursor = c
      ops += s
      k += 1
    }
    val batches = ops.result()
    val shardFiles = Files2.census(s"$out/shards", ".parquet")._1
    val (stats, aggS) = ctx.call("agg.aggregator", "agg", "agg") {
      Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    }
    cacheLeft += ctx.releaseCache()
    val (files, bytes) = Files2.census(out)
    val loopS = batches.sum
    val dead = cursor.skippedCount
    val produced = cursor.totalProcessed - dead
    val layer = Map(
      "pipeline.batches" -> batches.size.toDouble,
      "enrich.records" -> produced.toDouble,
      "enrich.failed_attempts" -> cursor.errorCount.toDouble,
      "enrich.dead" -> dead.toDouble,
      "enrich.useful_ratio" -> produced.toDouble / (produced + cursor.errorCount),
      "io.files_written" -> files.toDouble,
      "io.bytes_written" -> bytes.toDouble,
      "agg.files_listed" -> shardFiles.toDouble)
    val (expDead, expFailed) = expected
    PassResult(loopS + aggS, batches, 0, cursor.totalProcessed, loopS, produced, loopS,
      aggS, cacheLeft, layer, Map("pipeline.batch_s" -> batches), () => {
        val bad = Seq(
          Option.when(cursor.totalProcessed != urls)(
            s"consumed ${cursor.totalProcessed} of $urls urls"),
          Option.when(dead != expDead)(s"dead letters $dead, expected $expDead"),
          Option.when(cursor.errorCount != expFailed)(
            s"failed attempts ${cursor.errorCount}, expected $expFailed"),
          Option.when(stats.totalRecords != urls - expDead)(
            s"aggregator total_records ${stats.totalRecords}, expected ${urls - expDead}"))
          .flatten
        Files2.rm(out)
        Verdict(4, bad)
      })
  }
}

/** A set of queries that read the same generated tables: the ten query
  * tables named in `tables` at scale `sf`, documents in `replicas`
  * replicas. `expected` maps each query to its recorded row count and
  * digest.
  */
final case class QueryGroup(name: String, queries: Seq[String], sf: Double, replicas: Int,
    tables: Set[String], expected: Map[String, (Long, String)])

/** Queries from `SparkEntry.queries`, each built and run to the `noop`
  * sink, in a seed-shuffled order over all groups. The tables come from a
  * fixed table seed, so one recorded digest per query serves every run
  * seed; the warm-up computes each query's row count and digest and
  * checks them against that record, or writes them to
  * `<record>/<group>.json`.
  */
final class QuerySuite(spark: SparkSession, work: String, seed: Long,
    groups: Seq[QueryGroup], record: Option[String]) extends Workload {
  import QuerySuite.TableSeed
  private var tables = ""
  private val groupOf = groups.flatMap(g => g.queries.map(_ -> g)).toMap
  private val order = new scala.util.Random(seed).shuffle(groupOf.keys.toSeq.sorted)
  private val rowsOf = scala.collection.mutable.HashMap.empty[String, Long]

  private def dir(n: String) = s"$tables/${groupOf(n).name}"

  def generate(rep: Int): Map[String, String] = {
    tables = s"$work/gen-$rep"
    Files2.rm(tables)
    groups.flatMap { g =>
      Gen.tables(spark, TableSeed, g.sf, s"$tables/${g.name}", g.replicas, g.tables)
        .map { case (t, d) => s"${g.name}.$t" -> d }
    }.toMap
  }

  /** The warm-up is the correctness oracle: every query runs once on the
    * workload's tables, and its row count and digest are compared with
    * the record. It runs the queries in name order, not in the seed's
    * order, so that the heap each one leaves behind does not depend on
    * the seed.
    */
  def warmup(ctx: Ctx): Verdict = {
    val got = order.sorted.map { n =>
      val r = try Digest.of(graft.SparkEntry.queries(n)(spark, dir(n)))
        catch { case scala.util.control.NonFatal(e) => (-1L, s"error: $e") }
      ctx.releaseCache()
      n -> r
    }.toMap
    val fails = order.flatMap { n =>
      val (rows, digest) = got(n)
      rowsOf(n) = math.max(rows, 0L)
      groupOf(n).expected.get(n) match {
        case Some(e) if e == (rows, digest) => None
        case Some(e) => Some(s"$n: rows/digest ($rows, $digest), expected $e")
        case None if record.isEmpty => Some(s"$n: no recorded digest")
        case None => None
      }
    }
    record.foreach { path =>
      for (g <- groups) {
        val body = g.queries.sorted.map { n =>
          val (r, d) = got(n)
          s"""  "$n": {"rows": $r, "digest": "$d"}"""
        }.mkString("{\n", ",\n", "\n}\n")
        Files.writeString(new File(s"$path/${g.name}.json").toPath, body)
      }
    }
    Verdict(order.size, fails)
  }

  def pass(ctx: Ctx, i: Int): PassResult = {
    var failed = 0
    var cacheLeft = 0
    var buildS = 0.0
    var runS = 0.0
    val ops = order.map { n =>
      val (df, b) = ctx.call("queries.build", n, "build") {
        try Some(graft.SparkEntry.queries(n)(spark, dir(n)))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      val (ok, r) = ctx.call("queries.run", n, "run") {
        df.exists { d =>
          try { d.write.format("noop").mode("overwrite").save(); true }
          catch { case scala.util.control.NonFatal(_) => false }
        }
      }
      if (!ok) failed += 1
      cacheLeft += ctx.releaseCache()
      buildS += b; runS += r
      b + r
    }
    val wall = ops.sum
    val groupS = groups.map { g =>
      s"queries.${g.name}_s" -> order.zip(ops).collect { case (n, s) if groupOf(n) == g => s }.sum
    }
    PassResult(wall, ops, failed, ops.size, wall, order.map(rowsOf.getOrElse(_, 0L)).sum, wall,
      0.0, cacheLeft, Map("queries.build_s" -> buildS, "queries.run_s" -> runS) ++ groupS,
      Map.empty, () => Verdict(0, Nil))
  }
}

object QuerySuite {
  val TableSeed = 20261017L
}

/** `EventStreams.ingestNearDupKeyed` draining `perPass` seeded small
  * files (one micro-batch each) into a copy of a pre-seeded corpus and key
  * table; pass i drains files i·perPass … i·perPass + perPass − 1, mod
  * `files`. Half the streamed rows re-send a corpus
  * document verbatim under a new id (the gate must reject them), half
  * rename every token of a distinct corpus document (the gate must admit
  * them).
  */
final class StreamIngest(spark: SparkSession, work: String, seed: Long,
    corpusDocs: Int, files: Int, rows: Int, perPass: Int) extends Workload {
  private var gen = ""
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  require(rows / 2 <= corpusDocs, "more renamed rows than corpus documents")
  require(rows % files == 0, "files of unequal size")

  /** Corpus texts over a 5000-token vocabulary, so that distinct
    * documents share few tokens and only the planted re-sends are near
    * duplicates.
    */
  private lazy val corpus: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(Gen.mix(seed ^ 0x5EED))
    IndexedSeq.fill(corpusDocs)(Array.fill(10 + r.nextInt(91))(s"t${r.nextInt(5000)}").mkString(" "))
  }

  private def corpusRows: Seq[Row] = corpus.indices.map(i => Row(i.toLong, corpus(i)))

  /** Streamed rows: (id, text, admitted), grouped by the file they go to.
    * Rows are ordered by a hash of (seed, id) and cut into files of equal
    * size, so every pass drains the same number of rows.
    */
  private lazy val stream: Map[Int, IndexedSeq[(Long, String, Boolean)]] = {
    val perm = new scala.util.Random(seed).shuffle((0 until corpusDocs).toIndexedSeq)
    (0 until rows).map { j =>
      val id = 10000000000L + j
      if (j % 2 == 1) (id, corpus(perm(j / 2)).split(' ').map(_ + "_n").mkString(" "), true)
      else (id, corpus(java.lang.Math.floorMod(Gen.mix(seed + j), corpusDocs.toLong).toInt), false)
    }.sortBy(r => Gen.mix(seed * 0x9E3779B97F4A7C15L + r._1)).zipWithIndex
      .groupMap(_._2 * files / rows)(_._1)
  }

  private def fileRows(k: Int) = stream.getOrElse(k, IndexedSeq.empty)

  /** Writes `parts(k)` as file `in-000k.parquet` of `dir`. */
  private def writeFiles(parts: IndexedSeq[Seq[Row]], dir: String): Unit = {
    val rdd = spark.sparkContext.parallelize(parts.indices, parts.size)
      .mapPartitionsWithIndex((k, _) => parts(k).iterator)
    spark.createDataFrame(rdd, schema).write.parquet(dir)
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, k) => f.renameTo(new File(dir, f"in-$k%04d.parquet")) }
    new File(dir).listFiles().filter(f => !f.getName.startsWith("in-")).foreach(_.delete())
  }

  def generate(rep: Int): Map[String, String] = {
    gen = s"$work/stream-gen-$rep"
    Files2.rm(gen)
    val byFile = corpusRows.groupBy(r => Gen.fileOf(seed, r.getLong(0), 4))
    writeFiles((0 until 4).map(byFile.getOrElse(_, Nil)), s"$gen/corpus")
    graft.ops.Dedup.corpusBandKeys(spark.read.parquet(s"$gen/corpus"), "doc_id", "text",
      numHashes = 16, bands = 4).write.parquet(s"$gen/keys")
    writeFiles((0 until files).map(k => fileRows(k).map(s => Row(s._1, s._2))), s"$gen/in")
    Map("corpus" -> Digest.md5(corpusRows.iterator.map(_.toString)),
      "stream" -> Digest.md5((0 until files).iterator.flatMap(fileRows).map(_.toString)))
  }

  /** Fresh corpus, keys and input for a drain of files `ks` under `dir`. */
  private def stage(dir: String, ks: Seq[Int]): Unit = {
    Files2.rm(dir)
    Files2.copyTree(s"$gen/corpus", s"$dir/corpus")
    Files2.copyTree(s"$gen/keys", s"$dir/keys")
    new File(s"$dir/in").mkdirs()
    for (k <- ks) Files.copy(new File(f"$gen/in/in-$k%04d.parquet").toPath,
      new File(f"$dir/in/in-$k%04d.parquet").toPath)
  }

  private def run(dir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = graft.streaming.EventStreams.ingestNearDupKeyed(spark, schema, s"$dir/in",
      s"$dir/corpus", s"$dir/keys", s"$dir/chk", "doc_id", "text",
      threshold = 0.95, numHashes = 16, bands = 4, maxFilesPerTrigger = 1)
    q.awaitTermination()
    q
  }

  def warmup(ctx: Ctx): Verdict = {
    val dir = s"$work/stream-warm"
    stage(dir, Seq(0))
    run(dir)
    ctx.releaseCache()
    Files2.rm(dir)
    Verdict(0, Nil)
  }

  def pass(ctx: Ctx, i: Int): PassResult = {
    val dir = s"$work/stream-$i"
    val ks = (0 until perPass).map(j => (i * perPass + j) % files)
    stage(dir, ks)
    val (f0, b0) = Files2.census(s"$dir/corpus")
    val (k0, kb0) = Files2.census(s"$dir/keys")
    val (q, drainS) = ctx.call("streaming.drain", "drain", "stream") { run(dir) }
    val cacheLeft = ctx.releaseCache()
    val ops = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble / 1000)
    val (f1, b1) = Files2.census(s"$dir/corpus")
    val (k1, kb1) = Files2.census(s"$dir/keys")
    val streamed = ks.map(fileRows(_).size).sum.toLong
    val layer = Map(
      "io.files_written" -> (f1 + k1 - f0 - k0).toDouble,
      "io.bytes_written" -> (b1 + kb1 - b0 - kb0).toDouble)
    PassResult(drainS, ops, 0, streamed, drainS, streamed, drainS, 0.0, cacheLeft, layer,
      Map.empty, () => {
      val got = Digest.of(spark.read.parquet(s"$dir/corpus").select("doc_id", "text"))
      val admittedRows = ks.flatMap(fileRows).filter(_._3).map(s => Row(s._1, s._2))
      val want = Digest.of(spark.createDataFrame((corpusRows ++ admittedRows).asJava, schema))
      val admitted = got._1 - corpusDocs
      Files2.rm(dir)
      Verdict(3, Seq(
        Option.when(ops.size != perPass)(s"${ops.size} micro-batches for $perPass files"),
        Option.when(admitted != admittedRows.size)(
          s"admitted $admitted, expected ${admittedRows.size}"),
        Option.when(got != want)(s"corpus digest $got, expected $want")).flatten,
        Map("streaming.admitted_ratio" -> admitted.toDouble / streamed))
    })
  }
}

/** The write path: a pass runs the processor batches and the aggregator
  * of `etl`, then drains `stream`'s files for the pass through the
  * streaming ingest gate. Records are the URLs the processor consumed, rows the rows
  * the stream drained.
  */
final class Ingest(etl: EtlPipeline, stream: StreamIngest) extends Workload {
  def generate(rep: Int): Map[String, String] = etl.generate(rep) ++ stream.generate(rep)

  def warmup(ctx: Ctx): Verdict = {
    val (a, b) = (etl.warmup(ctx), stream.warmup(ctx))
    Verdict(a.checks + b.checks, a.failures ++ b.failures)
  }

  def pass(ctx: Ctx, i: Int): PassResult = {
    val e = etl.pass(ctx, i)
    val s = stream.pass(ctx, i)
    val layer = (e.layer.keySet ++ s.layer.keySet).map { k =>
      k -> (e.layer.getOrElse(k, 0.0) + s.layer.getOrElse(k, 0.0)) }.toMap
    PassResult(e.wallS + s.wallS, e.ops ++ s.ops, e.failedOps + s.failedOps,
      e.records, e.recordsS, s.rows, s.rowsS, e.aggregateS,
      e.cacheEntriesLeft + s.cacheEntriesLeft, layer, e.series ++ s.series, () => {
        val (a, b) = (e.verify(), s.verify())
        Verdict(a.checks + b.checks, a.failures ++ b.failures, a.layer ++ b.layer)
      })
  }
}
