package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.filters.FilterRegistry
import graft.schema.AlertSchemas
import graft.streaming.StreamPipeline
import graft.streaming.StreamPipeline.{Notifier, ParquetTopicNotifier}

/** In-process half of the benchmark: times the program's public entry
  * points (`StreamPipeline.run` with its `Notifier` seam,
  * `FilterRegistry.applyFilter`, `SparkEntry.queries`) on inputs that
  * `run.py` generated, and writes raw results for `run.py` to check and
  * print.
  *
  *   --workload night-replay|query-suite --seconds S
  *   --trace 0|1 --work DIR --out FILE [--cores N]
  *   [--exclude a,b,prefix.*] [--pure a,b] [--queries q=Module=w,...]
  *   [--data DIR]
  */
object PerfBench {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
    def list(k: String): Seq[String] =
      m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def cores: Int = get("cores", "4").toInt
  }

  private val result = scala.collection.mutable.LinkedHashMap[String, Any]()
  private val errors = scala.collection.mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    result("session_s") = (Clock.nowMs - t0) / 1000
    val trace = a.get("trace", "0") == "1"
    try a("workload") match {
      case "night-replay" => new Night(spark, a, trace).run()
      case "query-suite" => new Queries(spark, a, trace).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case NonFatal(e) =>
        errors += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        failed += 1
        attempted = math.max(attempted, failed)
    }
    result("attempted") = attempted
    result("failed") = failed
    result("errors") = errors.toSeq
    Files.writeString(Paths.get(a("out")), Json.obj(result.toSeq))
    spark.stop()
  }

  // ---- shared helpers -------------------------------------------------

  def filterNames(prefix: String, exclude: Seq[String]): Seq[String] = {
    def excluded(n: String) = exclude.exists { e =>
      if (e.endsWith("*")) n.startsWith(e.dropRight(1)) else n == e
    }
    FilterRegistry.all.keys.toSeq
      .filter(n => n.startsWith(prefix) && !excluded(n)).sorted
  }

  def parquetFiles(dir: String, prefix: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  def fresh(path: String): String = {
    val f = new File(path)
    if (f.exists()) deleteTree(f)
    f.mkdirs()
    f.getPath
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirStats(dir: File): (Long, Long) = {
    val files = Files.walk(dir.toPath).iterator().asScala
      .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .toSeq
    (files.map(_.length).sum, files.size.toLong)
  }

  def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Batch pass counts of `filters` over `files` through the public
    * `applyFilter` — the reference for filters numpy does not mirror.
    */
  def batchCounts(spark: SparkSession, files: Seq[String],
      filters: Seq[String]): Map[String, Long] = {
    val df = spark.read.parquet(files: _*)
    attempted += filters.size
    // the counts are independent, untimed jobs: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = filters.map(n => n -> pool.submit(
        new java.util.concurrent.Callable[Long] {
          def call(): Long = FilterRegistry.applyFilter(df, n).count()
        }))
      jobs.flatMap { case (n, job) =>
        try Some(n -> job.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            fail(s"batch applyFilter $n", e.getCause); None
        }
      }.toMap
    } finally pool.shutdown()
  }

  /** Persistent RDDs and cached plans, for the leak check. */
  def storageState(spark: SparkSession): (Int, Boolean) =
    (leftRdds(spark, Set.empty).size, cacheEmpty(spark))

  def cacheEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Persistent RDDs beyond `before` that stay reachable. RDDs that
    * nothing references any more (a `localCheckpoint` the caller
    * dropped) are Spark's ContextCleaner's to release, so while any are
    * listed, a few collections let it run: what remains is still
    * reachable, which is a leak.
    */
  def leftRdds(spark: SparkSession, before: Set[Int]): Set[Int] = {
    def left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    var tries = 0
    while (left.nonEmpty && tries < 5) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    left
  }

  def recordLeak(spark: SparkSession, baseline: (Int, Boolean)): Unit = {
    val after = storageState(spark)
    result("persistent_rdds_baseline") = baseline._1
    result("persistent_rdds_after") = after._1
    result("cache_empty_after") = after._2
    result("leak_free") = after._1 <= baseline._1 && (after._2 || !baseline._2)
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    report(what, e)
  }

  def report(what: String, e: Throwable): Unit =
    errors += s"$what: ${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").take(300)}"

  /** Delivers to `inner`, and records a `notify` that throws instead of
    * letting it end the stream: the failure counts against its batch,
    * while the batch's other topics are still delivered and timed.
    */
  class GuardedNotifier(inner: Notifier) extends Notifier {
    private val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Throwable)]()

    def notify(filterName: String, batchId: Long, passing: DataFrame): Unit =
      try inner.notify(filterName, batchId, passing)
      catch { case NonFatal(e) => failures.add((batchId, filterName, e)) }

    /** One failed attempt per batch with a failed delivery, one message
      * per failing filter.
      */
    def record(what: String): Unit = {
      val fs = failures.asScala.toSeq
      failed += fs.map(_._1).distinct.size
      fs.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (f, xs) =>
        report(s"$what: notify $f failed in ${xs.size} batches", xs.head._3)
      }
    }
  }

  /** Times the workload's warm-up. One round only: a second costs a
    * replay batch or a suite pass, which the run budget does not hold.
    * `body` returns the milliseconds it spent on checks, which are not
    * set-up.
    */
  def setup(body: => Double): Unit = {
    val t = Clock.nowMs
    val checkMs = body
    result("setup_s") = (Clock.nowMs - t - checkMs) / 1000
  }

  /** A traced run's measured window: an untraced, a traced and another
    * untraced segment of `seconds / 3` each, so that drift over the run
    * (JIT, caches, the host) falls on both sides of the traced one.
    * Returns (both untraced segments, the traced one).
    */
  def interleaved[A](seconds: Double, tracer: Tracer)(
      segment: (Double, Option[Tracer]) => Seq[A]): (Seq[A], Seq[A]) = {
    val before = segment(seconds / 3, None)
    val traced = segment(seconds / 3, Some(tracer))
    val after = segment(seconds / 3, None)
    (before ++ after, traced)
  }

  /** Engine-layer metrics of a traced window, per unit of work. */
  def engineLayers(t: Tracer, units: Double, batches: Double,
      queries: Double, cores: Int): Map[String, Double] = {
    val u = math.max(units, 1.0)
    val run = t.sum("executor.run_ms")
    Map(
      "plan.analysis_ms" -> t.sum("plan.analysis_ms") / u,
      "plan.optimization_ms" -> t.sum("plan.optimization_ms") / u,
      "plan.planning_ms" -> t.sum("plan.planning_ms") / u,
      "codegen.compile_ms" -> t.sum("codegen.compile_ms") / u,
      "codegen.classes" -> t.sum("codegen.classes") / u,
      "scheduler.jobs" -> t.jobCount / u,
      "scheduler.stages" -> t.stages / u,
      "scheduler.tasks" -> t.tasks / u,
      "scheduler.jobs_per_batch" -> t.jobCount / batches,
      "scheduler.jobs_per_query" -> t.jobCount / queries,
      "driver.gap_ms" -> t.driverGapMs / u,
      "executor.run_ms" -> run / u,
      "executor.cpu_ms" -> t.sum("executor.cpu_ms") / u,
      "executor.gc_ms" -> t.sum("executor.gc_ms") / u,
      "executor.busy_ratio" -> run / math.max(1.0, t.wallMs * cores),
      "shuffle.write_bytes" -> t.sum("shuffle.write_bytes") / u,
      "shuffle.read_bytes" -> t.sum("shuffle.read_bytes") / u,
      "shuffle.fetch_wait_ms" -> t.sum("shuffle.fetch_wait_ms") / u,
      "spill.bytes" -> t.sum("spill.bytes") / u,
      "io.input_bytes" -> t.sum("io.input_bytes") / u,
      "storage.cached_bytes_peak" -> t.cachedPeak.toDouble)
  }

  /** Streaming-layer metrics from the listener's progress events and
    * the timing notifier's spans.
    */
  def streamingLayers(t: Tracer): Map[String, Double] = {
    val ps = t.progress.asScala.toSeq.map(_.progress)
    val notes = t.spans.asScala.toSeq.filter(_.layer == "notify")
    val byBatch = notes.groupBy(_.cause)
    val addBatch = ps.map(p => p.batchId.toString -> durMs(p, "addBatch")).toMap
    val overhead = addBatch.toSeq.map { case (b, ms) =>
      ms - byBatch.getOrElse(b, Nil).map(s => s.endMs - s.startMs).sum
    }
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.alerts_per_batch_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)),
      "streaming.add_batch_ms_p50" -> Stats.median(ps.map(durMs(_, "addBatch"))),
      "streaming.planning_ms_p50" -> Stats.median(ps.map(durMs(_, "queryPlanning"))),
      "streaming.offsets_ms_p50" -> Stats.median(ps.map(p =>
        durMs(p, "latestOffset") + durMs(p, "getBatch") + durMs(p, "walCommit"))),
      "streaming.commit_ms_p50" -> Stats.median(ps.map(durMs(_, "commitOffsets"))),
      "streaming.notify_calls_per_batch" ->
        (if (byBatch.isEmpty) 0.0 else notes.size.toDouble / byBatch.size),
      "streaming.notify_ms_p50" -> Stats.median(notes.map(s => s.endMs - s.startMs)),
      "streaming.batch_overhead_ms_p50" -> Stats.median(overhead))
  }

  /** Records per-layer metrics. A value that could not be measured
    * (NaN, or a per-batch figure of a workload without batches) is left
    * out, and `run.py` reports it.
    */
  def layers(m: Map[String, Double]): Unit = {
    val prev = result.getOrElse("layers", Map.empty[String, Double])
      .asInstanceOf[Map[String, Double]]
    result("layers") = prev ++ m.filter { case (_, v) => !v.isNaN && !v.isInfinite }
  }

  /** `filters.plan_ms`: Σ over filters of building `applyFilter`'s plan
    * on one batch, median of three rounds.
    */
  def planMs(spark: SparkSession, file: String, filters: Seq[String]): Double = {
    val df = spark.read.parquet(file)
    Stats.median((1 to 3).map { _ =>
      val t = Clock.nowMs
      filters.foreach(n => FilterRegistry.applyFilter(df, n))
      Clock.nowMs - t
    })
  }

  // ---- night-replay: closed-loop AvailableNow replays -----------------

  class Night(spark: SparkSession, a: Args, trace: Boolean) {
    private val work = a("work")
    private val nightDir = s"$work/inputs/night"
    private val inputs = parquetFiles(nightDir, "alerts-")
    private val warm = parquetFiles(s"$work/inputs/warm", "alerts-").head

    def run(): Unit = {
      val schema = AlertSchemas.fromSample(spark, warm.getPath)
      val filters = filterNames("ztf.", a.list("exclude"))
      result("filters") = filters
      setup {
        val dir = fresh(s"$work/warm/in")
        Files.copy(warm.toPath, Paths.get(dir, warm.getName))
        val guard = new GuardedNotifier(
          new ParquetTopicNotifier(fresh(s"$work/warm/out")))
        val q = StreamPipeline.run(
          StreamPipeline.readParquetStream(spark, dir, schema), filters,
          guard, Trigger.AvailableNow(), Some(fresh(s"$work/warm/ckpt")))
        finish(q, "warm-up replay")
        guard.record("warm-up replay")
        0.0
      }
      val baseline = storageState(spark)
      val seconds = a("seconds").toDouble
      val reference = {
        val pure = a.list("pure").toSet
        batchCounts(spark, inputs.map(_.getPath), filters.filterNot(pure))
      }
      if (!trace) {
        val reps = replays(0, seconds, schema, filters, None)
        result("metrics") = e2e(reps)
        result("replays") = reps.map(_.check)
      } else {
        val tracer = new Tracer(spark)
        var k = 0
        val (plain, traced) = interleaved(seconds, tracer) { (s, t) =>
          val reps = replays(k, s, schema, filters, t)
          k += 1000
          reps
        }
        result("replays") = (plain ++ traced).map(_.check)
        val batches = traced.map(_.batches.size).sum.toDouble
        val notes = tracer.spans.asScala.toSeq.filter(_.layer == "notify")
        val (bytes, nfiles) = dirStats(new File(traced.last.out))
        val lastBatches = math.max(1, traced.last.batches.size)
        val complete = traced.filterNot(_.aborted)
        layers(streamingLayers(tracer) ++
          engineLayers(tracer, batches, batches, 0, a.cores) ++ Map(
            "trace_overhead_ratio" ->
              e2e(traced)("latency_p50_s") / e2e(plain)("latency_p50_s"),
            "filters.count" -> filters.size.toDouble,
            "filters.plan_ms" -> planMs(spark, warm.getPath, filters),
            "filters.pass_ratio" -> complete.lastOption.fold(Double.NaN)(r =>
              r.check("topic_counts").asInstanceOf[Map[String, Long]]
                .values.sum.toDouble /
                math.max(1.0, r.alerts.toDouble * filters.size)),
            "sink.write_ms" -> notes.map(s => s.endMs - s.startMs).sum /
              math.max(1.0, batches),
            "sink.output_bytes" -> bytes.toDouble / lastBatches,
            "sink.output_files" -> nfiles.toDouble / lastBatches))
        tracer.writeSpans(s"$work/trace-night-replay.jsonl")
      }
      result("batch_counts") = reference
      recordLeak(spark, baseline)
    }

    /** Waits for an `AvailableNow` query; a micro-batch that throws ends
      * it and counts as one failed attempt. True if it aborted.
      */
    private def finish(q: StreamingQuery, what: String): Boolean = {
      val aborted =
        try { q.awaitTermination(); false }
        catch { case NonFatal(e) => fail(what, e); true }
      attempted += progressOf(q).size + (if (aborted) 1 else 0)
      aborted
    }

    final case class Replay(wallS: Double, alerts: Long,
        batches: Seq[Double], out: String, aborted: Boolean,
        check: Map[String, Any])

    private def e2e(reps: Seq[Replay]): Map[String, Double] = {
      val b = reps.flatMap(_.batches)
      Map(
        "latency_p50_s" -> Stats.quantile(b, 0.5),
        "latency_p90_s" -> Stats.quantile(b, 0.9),
        "throughput_per_s" -> reps.map(_.alerts).sum / reps.map(_.wallS).sum)
    }

    private def replays(k0: Int, seconds: Double, schema: StructType,
        filters: Seq[String], tracer: Option[Tracer]): Seq[Replay] = {
      val t0 = Clock.nowMs
      tracer.foreach(_.start())
      val out = scala.collection.mutable.ArrayBuffer[Replay]()
      var k = k0
      // replays while the next one is expected to end inside the window
      while (out.isEmpty ||
        Clock.nowMs - t0 + out.last.wallS * 1000 <= seconds * 1000) {
        val dir = fresh(s"$work/night-$k/out")
        val ckpt = fresh(s"$work/night-$k/ckpt")
        val guard = new GuardedNotifier(new ParquetTopicNotifier(dir))
        val notifier =
          tracer.fold[Notifier](guard)(t => new TimingNotifier(guard, t.spans))
        val s = Clock.nowMs
        val q = StreamPipeline.run(
          StreamPipeline.readParquetStream(spark, nightDir, schema, 1),
          filters, notifier, Trigger.AvailableNow(), Some(ckpt))
        val aborted = finish(q, s"night replay $k")
        guard.record(s"night replay $k")
        val wall = (Clock.nowMs - s) / 1000
        val ps = progressOf(q)
        // an aborted replay has already failed; its partial topics are
        // not compared
        val counts = if (aborted) Map.empty[String, Long]
          else spark.read.parquet(dir).groupBy("topic").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        out += Replay(wall, ps.map(_.numInputRows).sum,
          ps.map(durMs(_, "triggerExecution") / 1000), dir, aborted,
          Map("files" -> inputs.map(_.getName), "aborted" -> aborted,
            "topic_counts" -> filters.map(n =>
              n -> counts.getOrElse(n.replace('.', '-'), 0L)).toMap))
        if (k > k0) deleteTree(new File(s"$work/night-${k - 1}"))
        k += 1
      }
      tracer.foreach(_.stop())
      out.toSeq
    }
  }

  // ---- query-suite: SparkEntry queries into the noop sink -------------

  class Queries(spark: SparkSession, a: Args, trace: Boolean) {
    private val work = a("work")
    private val data = a("data")
    // name -> (defining module, weight: the queries of the full suite
    // that this one stands for)
    private val named = a.list("queries").map { s =>
      val Array(q, m, w) = s.split("=", 3); q -> (m, w.toDouble)
    }

    private val leaks =
      scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()

    def run(): Unit = {
      val resultsDir = fresh(s"$work/results")
      var ok = named
      // set-up: a cold pass that keeps every query's rows for the oracle
      // comparison and checks what each leaves cached, then a warm pass
      setup {
        var checkMs = 0.0
        ok = named.filter { case (q, _) =>
          val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
          val ran =
            try {
              SparkEntry.queries(q)(spark, data).write
                .parquet(s"$resultsDir/$q")
              true
            } catch { case NonFatal(e) => fail(q, e); false }
          val c = Clock.nowMs
          if (ran) leakCheck(q, before)
          checkMs += Clock.nowMs - c
          ran
        }
        val w = Clock.nowMs
        passes(1, ok, None)
        warmMs = Clock.nowMs - w
        checkMs
      }
      attempted += named.size
      result("leaks") = leaks.toMap
      Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"),
        Json.obj(named.map { case (q, _) => q -> SparkEntry.oracleSql(q) }))
      val baseline = storageState(spark)
      val seconds = a("seconds").toDouble
      if (!trace) {
        val ps = passes(fitting(seconds), ok, None)
        result("metrics") = e2e(ps)
        result("query_s") = perQuery(ps)
        result("passes") = ps.size
      } else {
        val tracer = new Tracer(spark)
        val (plain, traced) =
          interleaved(seconds, tracer)((s, t) => passes(fitting(s), ok, t))
        val n = traced.size.toDouble
        val pq = perQuery(traced)
        val modules = ok.groupBy(_._2._1).map { case (m, qs) =>
          s"suite.${m}_s" -> qs.map { case (q, (_, w)) => pq(q) * w }.sum }
        layers(engineLayers(tracer, n, 0, n * ok.size, a.cores) ++ modules ++ Map(
          "trace_overhead_ratio" -> e2e(traced)("suite_s") / e2e(plain)("suite_s"),
          "query.build_ms" -> traced.map(_.values.map(_._1).sum).sum / n * 1000,
          "query.execute_ms" -> traced.map(_.values.map(_._2).sum).sum / n * 1000,
          "query.geomean_ms" -> Stats.geomean(pq.values.toSeq) * 1000,
          "storage.leaking_queries" -> leaks.size.toDouble))
        tracer.writeSpans(s"$work/trace-query-suite.jsonl")
      }
      recordLeak(spark, baseline)
    }

    /** What one query leaves behind once its result is written, read
      * before the harness clears anything: cached plans, and persistent
      * RDDs outside the cache that stay reachable. Both are leaks in a
      * long-lived session. They are reported, not counted as failed
      * operations (the query's output is still checked). The leftovers
      * are then released so that they do not carry over.
      */
    private def leakCheck(q: String, before: Set[Int]): Unit = {
      val cached = !cacheEmpty(spark)
      spark.catalog.clearCache()
      val rdds = leftRdds(spark, before)
      if (cached || rdds.nonEmpty) leaks(q) = Map(
        "cached_plans" -> cached, "persistent_rdds" -> rdds.size)
      rdds.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true)))
    }

    /** One pass = Map(query -> (build s, execute s)). */
    private type Pass = Map[String, (Double, Double)]

    private var warmMs = 0.0

    /** How many passes, at the warm pass's pace, fill `seconds` (at
      * least one). Fixed before the window, so that one run does not
      * measure one pass and the next two because a pass took a little
      * longer.
      */
    private def fitting(seconds: Double): Int =
      math.max(1, math.round(seconds * 1000 / warmMs).toInt)

    private def passes(n: Int, qs: Seq[(String, (String, Double))],
        tracer: Option[Tracer]): Seq[Pass] = {
      tracer.foreach(_.start())
      val out = (1 to n).map { _ =>
        qs.map { case (q, _) =>
          val s = Clock.nowMs
          val df = SparkEntry.queries(q)(spark, data)
          val b = Clock.nowMs
          df.write.format("noop").mode("overwrite").save()
          val e = Clock.nowMs
          // leaks were checked in the cold pass; clear so none carry over
          spark.catalog.clearCache()
          q -> ((b - s) / 1000, (e - b) / 1000)
        }.toMap
      }
      tracer.foreach(_.stop())
      out
    }

    private def perQuery(ps: Seq[Pass]): Map[String, Double] =
      ps.head.keys.map(q =>
        q -> Stats.median(ps.map(p => p(q)._1 + p(q)._2))).toMap

    /** Weighted by how many queries of the full suite each one stands
      * for, so that the figures estimate the full suite.
      */
    private def e2e(ps: Seq[Pass]): Map[String, Double] = {
      val pq = perQuery(ps)
      val tw = named.filter(n => pq.contains(n._1)).map { case (q, (_, w)) =>
        (pq(q), w) }
      val suite = tw.map { case (t, w) => t * w }.sum
      Map(
        "latency_p50_s" -> Stats.weightedQuantile(tw, 0.5),
        "latency_p90_s" -> Stats.weightedQuantile(tw, 0.9),
        "throughput_per_s" -> tw.map(_._2).sum / suite,
        "suite_s" -> suite)
    }
  }
}
