package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The benchmark's JVM side: set up a workload once, run its closed loop
  * for the requested seconds, check every job, and write the run artifact
  * (and, traced, the spans).
  *
  *   java -cp <classpath> graftbench.Main --workload <name> --seconds <n>
  *     --trace <0|1> --data <dir> --gen-s <input generation seconds>
  *     --expect <dir> --work <dir> --out <artifact.json> --spans <spans.json>
  *
  * The setup is what a user pays in a fresh JVM: JVM start and session
  * start, loading and caching the inputs, and the workload's fixed count of
  * checked warm-up jobs; the inputs are generated before the JVM starts.
  * The session then runs the loop, every job of which is measured.
  * Traced runs interleave untraced and traced jobs, so the tracing
  * overhead is measured in the same run.
  */
object Main {
  private val MB = 1024.0 * 1024.0
  // a traced run measures whole U T T U blocks of untraced and traced jobs
  private val TracedBlock = 4
  // jobs an untraced loop measures at least
  private val MinJobs = 5

  final case class Args(workload: String, seed: String, seconds: Double, trace: Boolean,
                        data: String, genS: Double, expect: String, work: String,
                        out: String, spans: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), m.getOrElse("seed", ""), need("seconds").toDouble, need("trace") == "1",
      need("data"), need("gen-s").toDouble,
      need("expect"), need("work"), need("out"), m.getOrElse("spans", ""))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  private def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One measured job: what the loop and the trace know about it. */
  final case class JobRun(seconds: Double, out: JobOut, traced: Boolean,
                          rounds: Seq[Double], cachePeakMb: Double, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload(a.workload)
    val cache = new CacheTracker
    val spans = new Spans
    val loadAvgStart = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // ---------------------------------------------------------------- setup
    // one setup in this fresh JVM: JVM and session start, corpus cache,
    // then the warm-up jobs; setup_s adds the input generation before it
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (spark, sessionS) = secondsOf(session(a.work))
    spark.sparkContext.addSparkListener(cache)
    val (_, cacheS) = secondsOf(w.load(spark, a.data, a.expect, a.work))
    val setup = ListMap("session_s" -> (jvmS + sessionS), "corpus_cache_s" -> cacheS)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // a fixed count, not a fixed time, so a slower warm-up shows in setup_s
    // and every run's loop starts at the same point of the JIT's warm-up
    val warm = (1 to w.warmJobs).map { k =>
      val ctx = new JobCtx(-k)
      val (out, s) = secondsOf(runJob(w, spark, ctx))
      finishJob(w, spark, ctx, baseline)
      (out, s)
    }
    val warmS = warm.map(_._2).sum

    // ----------------------------------------------------------- closed loop
    val tracer = new TraceListener
    val jobs = mutable.ArrayBuffer[JobRun]()
    val loopStart = System.nanoTime()
    while (jobs.size < (if (a.trace) TracedBlock else MinJobs) ||
           (a.trace && jobs.size % TracedBlock != 0) ||
           (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      val i = jobs.size
      // untraced, traced, traced, untraced, ...: a warm-up trend over the
      // jobs then biases neither side of trace.overhead_ratio
      val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
      val ctx = new JobCtx(i)
      if (traced) { tracer.take(); spark.sparkContext.addSparkListener(tracer) }
      org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
      cache.resetPeak()
      val gc0 = GcClock.seconds()
      val t0 = Clock.ms()
      val (out, s) = secondsOf(runJob(w, spark, ctx))
      val t1 = Clock.ms()
      val gcS = GcClock.seconds() - gc0
      org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          spark.sparkContext.removeSparkListener(tracer)
          traceJob(i, t0, t1, gcS, ctx, out, tracer.take(), spans)
        }
      jobs += JobRun(s, out, traced, ctx.roundSeconds, cache.peakBytes / MB, layers)
      finishJob(w, spark, ctx, baseline)
    }

    // --------------------------------------------------------------- report
    val timed = jobs.filterNot(_.traced).toSeq
    val rounds = jobs.flatMap(_.rounds).toSeq
    val e2e = ListMap(
      "setup_s" -> metric(a.genS + setup.values.sum + warmS, "s", 1),
      "job_s" -> metric(Stats.median(timed.map(_.seconds)), "s", timed.size),
      "pages_per_s" -> metric(Stats.median(timed.map(j => j.out.pages / j.seconds)), "1/s", timed.size),
      "cache_peak_mb" -> metric(Stats.median(timed.map(_.cachePeakMb)), "MB", timed.size))

    // traced runs: the pipeline operators once over the workload's
    // documents, outside the loop, with the tracer attached
    val pipeline =
      if (!a.trace) None
      else {
        val ctx = new JobCtx(jobs.size)
        tracer.take()
        spark.sparkContext.addSparkListener(tracer)
        val gc0 = GcClock.seconds()
        val t0 = Clock.ms()
        val out = w.probePipeline(spark, ctx)
        val t1 = Clock.ms()
        org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        out.map(o => (o, traceJob(ctx.index, t0, t1, GcClock.seconds() - gc0, ctx, o, tracer.take(), spans)))
      }

    val (perLayer, traceExtras) =
      if (!a.trace) (ListMap.empty, ListMap.empty)
      else layerMetrics(w, spark, jobs.toSeq, setup, a.genS, warmS, rounds, spans, pipeline.map(_._2))

    val attempted = jobs.size + warm.size + pipeline.size
    val failed = jobs.count(!_.out.ok) + warm.count(!_._1.ok) + pipeline.count(!_._1.ok)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val artifact = ListMap(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "run_seconds" -> a.seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load_avg_start" -> loadAvgStart,
      "jvm" -> ListMap(
        "version" -> System.getProperty("java.version"),
        "vm" -> System.getProperty("java.vm.name"),
        "flags" -> rt.getInputArguments.toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")),
        "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq
          .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / MB),
      "spark" -> ListMap("version" -> spark.version, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled")),
      "docs_per_job" -> w.docs,
      "attempted" -> attempted, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / attempted,
      "page_error_ratio" -> ratio(timed.map(_.out.errorPages).sum, timed.map(_.out.pages).sum),
      "failures" -> (warm.map(_._1.why) ++ jobs.map(_.out.why) ++ pipeline.map(_._1.why)).filter(_ != ""),
      "input_gen_s" -> a.genS,
      "setup" -> setup,
      "warmup" -> warm.map { case (o, s) => ListMap("s" -> s, "ok" -> o.ok) },
      "round_s" -> ListMap("p50" -> Stats.percentile(rounds, 0.5), "p90" -> Stats.percentile(rounds, 0.9),
        "n" -> rounds.size),
      "jobs" -> jobs.map(j => ListMap("s" -> j.seconds, "ok" -> j.out.ok, "traced" -> j.traced,
        "pages" -> j.out.pages, "error_pages" -> j.out.errorPages, "rounds" -> (j.rounds.size + 1),
        "cache_peak_mb" -> j.cachePeakMb, "layers" -> ListMap(j.layers.toSeq.sortBy(_._1): _*))),
      "end_to_end" -> e2e,
      "per_layer" -> perLayer,
      "trace" -> traceExtras)
    write(a.out, Json.write(artifact))
    if (a.trace && a.spans.nonEmpty)
      write(a.spans, Json.write(spans.all.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "job" -> s.job, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    spark.stop()
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def metric(v: Double, unit: String, n: Int): ListMap[String, Any] =
    ListMap("value" -> v, "unit" -> unit, "n" -> n)

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))

  /** A job that throws counts as failed, with the exception as the reason. */
  private def runJob(w: Workload, spark: SparkSession, ctx: JobCtx): JobOut =
    try w.run(spark, ctx)
    catch { case e: Exception => JobOut(ok = false, s"${e.getClass.getName}: ${e.getMessage}", 0L, 0L) }

  /** Untimed: drop everything the job left cached or on disk, so every job
    * starts from the same state. That includes the heap: without a full
    * collection here the old generation fills with each job's promoted
    * garbage, and Spark's ContextCleaner (driven by weak references) only
    * frees a job's shuffles, broadcasts and accumulators once a full
    * collection finds them. Job times then fall by a fifth at whichever job
    * first triggers one, tens of seconds into a run.
    */
  private def finishJob(w: Workload, spark: SparkSession, ctx: JobCtx, keep: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
    w.cleanup(ctx)
    System.gc()
  }

  /** A Spark job runs FrontierStore work when its call stack passes through
    * the store or the crawler's commit task.
    */
  private def isStore(callSite: String): Boolean =
    callSite.contains("graft.engine.FrontierStore") ||
      "graft\\.engine\\.Crawler\\$\\$anon\\$\\d+\\.run".r.findFirstIn(callSite).isDefined

  /** Spark jobs per call site (innermost frames), over all traced jobs. */
  private val sites = mutable.Map[String, Int]().withDefaultValue(0)

  /** Per-layer numbers of one traced job, and its spans. */
  private def traceJob(i: Int, t0: Double, t1: Double, gcS: Double, ctx: JobCtx, out: JobOut,
                       rec: (Seq[JobRec], Seq[Int], Seq[TaskRec]), spans: Spans): Map[String, Double] = {
    val (sparkJobs, stages, tasks) = rec
    val root = spans.add(0, "job", i, t0, t1)
    val phaseIds = ctx.phases.toSeq.map { case (name, a, b) => (spans.add(root, name, i, a, b), a, b) }
    def parentAt(t: Double): Int = phaseIds.find { case (_, a, b) => t >= a && t <= b }.map(_._1).getOrElse(root)
    // round spans run from one callback to the next (the last to its phase end)
    val roundIds = phaseIds.flatMap { case (pid, a, b) =>
      val cbs = ctx.rounds.filter(t => t >= a && t <= b).toSeq
      cbs.zip(cbs.drop(1) :+ b).map { case (x, y) => (spans.add(pid, "round", i, x, y), x, y) }
    }
    def innermost(t: Double): Int =
      roundIds.find { case (_, a, b) => t >= a && t <= b }.map(_._1).getOrElse(parentAt(t))
    sparkJobs.foreach { j =>
      spans.add(innermost(j.startMs), if (isStore(j.callSite)) "spark.store_job" else "spark.job", i, j.startMs, j.endMs)
      sites(j.callSite.linesIterator.take(3).mkString(" <- ")) += 1
    }

    val rounds = math.max(1, ctx.rounds.size)
    val storeJobs = sparkJobs.filter(j => isStore(j.callSite))
    val storeStages = storeJobs.flatMap(_.stages).toSet
    val byStage = tasks.groupBy(_.stage)
    val heaviest = if (byStage.isEmpty) Nil else byStage.values.maxBy(_.map(_.runMs).sum)
    val durs = heaviest.map(_.durMs.toDouble)
    val wall = (t1 - t0) / 1e3
    val anyCover = Intervals.covered(sparkJobs.map(j => (j.startMs, j.endMs)), t0, t1) / 1e3
    val storeCover = Intervals.covered(storeJobs.map(j => (j.startMs, j.endMs)), t0, t1) / 1e3
    def phase(name: String): (Double, Double) =
      ctx.phases.find(_._1 == name) match {
        case Some((_, a, b)) => ((b - a) / 1e3, sparkJobs.count(j => j.startMs >= a && j.startMs <= b).toDouble)
        case None => (0.0, 0.0)
      }
    val (dedupS, dedupJ) = phase("pipeline.dedup")
    val (rankS, rankJ) = phase("pipeline.pagerank")
    val (crawlS, crawlJ) = phase("pipeline.rank_crawl")
    Map(
      "wall_s" -> wall,
      "rounds" -> rounds.toDouble,
      "pages" -> out.pages.toDouble,
      "engine.jobs_per_round" -> sparkJobs.size.toDouble / rounds,
      "engine.stages_per_round" -> stages.size.toDouble / rounds,
      "engine.tasks_per_round" -> tasks.size.toDouble / rounds,
      "engine.driver_gap_s" -> (wall - anyCover),
      "engine.executor_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "engine.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "engine.gc_s" -> gcS,
      "engine.shuffle_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "engine.scan_rows_per_page" -> ratio(tasks.map(_.recordsRead).sum.toDouble, out.pages.toDouble),
      "engine.task_skew" -> (if (durs.isEmpty) 0.0 else ratio(durs.max, math.max(1.0, Stats.median(durs)))),
      "store.commit_jobs_per_round" -> storeJobs.size.toDouble / rounds,
      "store.commit_s" -> storeCover,
      "store.bytes_written_mb" -> tasks.filter(t => storeStages.contains(t.stage)).map(_.outBytes).sum / MB,
      "wall.store_jobs_s" -> storeCover,
      "wall.other_jobs_s" -> (anyCover - storeCover),
      "pipeline.dedup_s" -> dedupS, "pipeline.dedup_jobs" -> dedupJ,
      "pipeline.pagerank_s" -> rankS, "pipeline.pagerank_jobs" -> rankJ,
      "pipeline.rank_crawl_s" -> crawlS, "pipeline.rank_crawl_jobs" -> crawlJ)
  }

  /** The per_layer metrics of a traced run, plus the breakdowns behind
    * them (self time per span name, wall split of a job).
    */
  private def layerMetrics(w: Workload, spark: SparkSession, jobs: Seq[JobRun],
                           setup: ListMap[String, Double], genS: Double, warmS: Double,
                           rounds: Seq[Double],
                           spans: Spans, pipeline: Option[Map[String, Double]])
      : (ListMap[String, ListMap[String, Any]], ListMap[String, Any]) = {
    val traced = jobs.filter(_.traced)
    val plain = jobs.filterNot(_.traced)
    val n = traced.size
    def med(k: String): Double = Stats.median(traced.map(_.layers(k)))
    val probe = PageLayers.measure(w.probePages(spark))
    val pageErrorRatio = ratio(jobs.map(_.out.errorPages).sum, jobs.map(_.out.pages).sum)
    // allocation is reported absent, not 0, where the JVM cannot count it
    val alloc =
      if (!AllocCounter.available) Nil
      else Seq(
        "html.parse_kb_alloc_per_page" -> metric(probe.parse.allocBytes / 1024.0, "KB", probe.pages),
        "extract.kb_alloc_per_page" -> metric(probe.extract.allocBytes / 1024.0, "KB", probe.pages))
    val fromJobs = Seq("engine.jobs_per_round" -> "count", "engine.stages_per_round" -> "count",
      "engine.tasks_per_round" -> "count", "engine.driver_gap_s" -> "s", "engine.executor_run_s" -> "s",
      "engine.executor_cpu_s" -> "s", "engine.gc_s" -> "s", "engine.shuffle_mb" -> "MB",
      "engine.scan_rows_per_page" -> "count", "engine.task_skew" -> "ratio",
      "store.commit_jobs_per_round" -> "count", "store.commit_s" -> "s", "store.bytes_written_mb" -> "MB")
      .map { case (k, u) => k -> metric(med(k), u, n) }
    // 0 (n = 0) on a workload without pipeline operators
    val pipe = Seq("pipeline.dedup_s" -> "s", "pipeline.dedup_jobs" -> "count", "pipeline.pagerank_s" -> "s",
      "pipeline.pagerank_jobs" -> "count", "pipeline.rank_crawl_s" -> "s", "pipeline.rank_crawl_jobs" -> "count")
      .map { case (k, u) => k -> metric(pipeline.map(_(k)).getOrElse(0.0), u, pipeline.size) }
    // single-threaded page-layer time of a whole job, as a share of its
    // executor CPU time (CPU, not run time: both sides then exclude time
    // the tasks spent descheduled on a busy host)
    val pageUs = probe.parse.us + probe.css.us + probe.xpath.us + probe.extract.us
    val pageShare = ratio(pageUs * med("pages") / 1e6, med("engine.executor_cpu_s"))
    val metrics = ListMap((Seq(
      "html.parse_us_per_page" -> metric(probe.parse.us, "us", probe.pages),
      "css.select_us_per_page" -> metric(probe.css.us, "us", probe.pages),
      "xpath.select_us_per_page" -> metric(probe.xpath.us, "us", probe.pages),
      "extract.item_us_per_page" -> metric(probe.extract.us, "us", probe.pages),
      "extract.page_error_ratio" -> metric(pageErrorRatio, "ratio", jobs.size)) ++ alloc ++ fromJobs ++ pipe ++ Seq(
      "engine.round_s_p50" -> metric(Stats.percentile(rounds, 0.5), "s", rounds.size),
      "engine.round_s_p90" -> metric(Stats.percentile(rounds, 0.9), "s", rounds.size),
      "setup.session_s" -> metric(setup("session_s"), "s", 1),
      "setup.input_gen_s" -> metric(genS, "s", 1),
      "setup.corpus_cache_s" -> metric(setup("corpus_cache_s"), "s", 1),
      "setup.warmup_s" -> metric(warmS, "s", 1),
      "trace.overhead_ratio" -> metric(
        ratio(Stats.median(traced.map(_.seconds)), Stats.median(plain.map(_.seconds))), "ratio", n),
      "trace.page_work_share" -> metric(pageShare, "ratio", n))): _*)
    val extras = ListMap(
      "self_s_per_job" -> ListMap(spans.selfSecondsPerJob.toSeq.sortBy(_._1): _*),
      "wall_split_s" -> ListMap("job" -> med("wall_s"), "driver_gap" -> med("engine.driver_gap_s"),
        "store_jobs" -> med("wall.store_jobs_s"), "other_jobs" -> med("wall.other_jobs_s")),
      "spark_jobs_by_call_site" -> ListMap(sites.toSeq.sortBy(-_._2): _*),
      "page_probe" -> ListMap("pages" -> probe.pages, "errors" -> probe.errors,
        "alloc_measured" -> AllocCounter.available))
    (metrics, extras)
  }
}
