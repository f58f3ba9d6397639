package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession, GraftSqlBridge}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.{CrawlQueries, PipelineQueries}
import graft.corpus.Fixtures
import graft.engine.{Crawler, Politeness}
import graft.extract.{Job, JsProperty}

/** What one closed-loop job observed about itself. */
final class JobCtx(val index: Int) {
  /** Round callback times (epoch ms). */
  val rounds = mutable.ArrayBuffer[Double]()
  /** Named phases of the job: (name, start ms, end ms). */
  val phases = mutable.ArrayBuffer[(String, Double, Double)]()

  def phase[A](name: String)(f: => A): A = {
    val t0 = Clock.ms()
    try f finally phases += ((name, t0, Clock.ms()))
  }

  /** Round callback for Crawler.run: stamps the time, never touches the
    * round's DataFrame, never aborts.
    */
  val callback: Option[(Int, DataFrame) => Boolean] =
    Some((_: Int, _: DataFrame) => { rounds += Clock.ms(); false })

  /** Wall time between consecutive round callbacks of the same crawl. */
  def roundSeconds: Seq[Double] =
    phases.toSeq.flatMap { case (_, a, b) =>
      val in = rounds.filter(t => t >= a && t <= b)
      in.zip(in.drop(1)).map { case (x, y) => (y - x) / 1e3 }
    }
}

final case class JobOut(ok: Boolean, why: String, pages: Long, errorPages: Long)

/** A page for the single-threaded page-layer probe, with the job whose
  * selectors the workload runs on it.
  */
final case class ProbePage(url: String, html: Array[Byte], job: Job)

/** One benchmark workload: loads its generated inputs, then runs one
  * closed-loop job at a time and checks its output.
  */
abstract class Workload {
  /** Checked warm-up jobs in the setup (part of setup_s), over which the
    * JIT compiles much of the hot code.
    */
  def warmJobs: Int
  /** Input documents behind one job. */
  def docs: Long
  /** Read and cache the inputs; compute the expected digests. */
  def load(spark: SparkSession, data: String, expect: String, work: String): Unit
  /** Run one job, including its result action and output check. */
  def run(spark: SparkSession, ctx: JobCtx): JobOut
  /** Drop per-job leftovers (on-disk state); untimed. */
  def cleanup(ctx: JobCtx): Unit = ()
  /** A deterministic sample of the pages this workload's jobs fetch. */
  def probePages(spark: SparkSession): Seq[ProbePage]
  /** Traced runs only: the pipeline operators over this workload's
    * documents, outside the closed loop (None: the workload has none).
    */
  def probePipeline(spark: SparkSession, ctx: JobCtx): Option[JobOut] = None
}

object Workload {
  def apply(name: String): Workload = name match {
    case "crawl_wide" => new CrawlWide
    case "crawl_deep" => new CrawlDeep
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (crawl_wide, crawl_deep)")
  }

  val ListFields = Seq("title", "link", "date_s", "snip")
  val CmtFields = Seq("content", "ctime")

  /** The seed frame Crawler.crawl builds for a small seed list. */
  def seedFrame(spark: SparkSession, seeds: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    seeds.toDF("seed_id", "url").coalesce(1)
      .withColumn("page_no", lit(1)).withColumn("cursor", lit(0))
  }

  def mismatch(what: String, got: Any, want: Any): String = s"$what: got $got, expected $want"

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def docsOf(spark: SparkSession, data: String, n: Int): Seq[Fixtures.Doc] = {
    import spark.implicits._
    spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text", "lang")
      .orderBy("doc_id").limit(n).as[Fixtures.Doc].collect().toSeq
  }
}

/** Full-breadth CSS list and XPath comment crawls over large boilerplate
  * pages, default in-memory crawler: per-page parse/select/extract work
  * dominates.
  */
final class CrawlWide extends Workload {
  import Workload._
  val warmJobs = 2
  private var corpus: DataFrame = _
  private var expected: Digest = _
  private var nDocs = 0L
  private var data = ""

  def docs: Long = nDocs

  def load(spark: SparkSession, data: String, expect: String, work: String): Unit = {
    this.data = data
    val pages = spark.read.parquet(s"$data/pages.parquet")
    // spread over the cores and cache as rows, as the fixture corpus is
    corpus = GraftSqlBridge.lazyCache(
      pages.repartition(spark.sparkContext.defaultParallelism, col("url")))
    val nPages = corpus.count()
    nDocs = nPages / 6
    expected = Check.planted(spark.read.parquet(s"$data/expected.parquet"))
  }

  private def seeds(family: String): Seq[(String, String)] =
    (0L until nDocs).map(d => (s"d$d", s"http://w${d % 50}.test/d$d/$family/p1.html"))

  def run(spark: SparkSession, ctx: JobCtx): JobOut = {
    val crawler = new Crawler(spark, corpus)
    val list = ctx.phase("crawl.list") {
      crawler.run(CrawlQueries.listJob, seedFrame(spark, seeds("list")),
        scroll = false, mode = JsProperty, callback = ctx.callback)
    }
    val cmt = ctx.phase("crawl.cmt") {
      crawler.run(CrawlQueries.cmtJob, seedFrame(spark, seeds("cmt")),
        scroll = false, mode = JsProperty, callback = ctx.callback)
    }
    val (got, pages, errors) = ctx.phase("result") {
      Check.crawl(Check.crawlRows(list, "list", ListFields)
        .unionByName(Check.crawlRows(cmt, "cmt", CmtFields)))
    }
    val why =
      if (got != expected) mismatch("items", got, expected)
      else if (pages != nDocs * 6) mismatch("pages", pages, nDocs * 6)
      else ""
    JobOut(why.isEmpty, why, pages, errors)
  }

  def probePages(spark: SparkSession): Seq[ProbePage] =
    spark.read.parquet(s"$data/pages.parquet")
      .filter(pmod(xxhash64(col("url")), lit(10)) === 0)
      .select("url", "html").orderBy("url").collect().toSeq
      .map { r =>
        val url = r.getString(0)
        ProbePage(url, r.getAs[Array[Byte]](1),
          if (url.contains("/cmt/")) CrawlQueries.cmtJob else CrawlQueries.listJob)
      }
}

/** Prioritized list crawl over the fixture corpus in small batches, with
  * politeness (virtual pacing) and a durable frontier store: per-round
  * engine work dominates.
  */
final class CrawlDeep extends Workload {
  import Workload._
  // its driver-side round code (planning, scheduling, store commits) warms
  // up over more jobs than crawl_wide's, and over more still on a busy host
  val warmJobs = 5
  /** Frontier rows fetched per round. */
  val BatchLimit = 9L
  private var corpus: DataFrame = _
  private var expected: Digest = _
  private var nDocs = 0L
  private var data = ""
  private var work = ""
  private var expect = ""

  def docs: Long = nDocs

  def load(spark: SparkSession, data: String, expect: String, work: String): Unit = {
    this.data = data
    this.work = work
    this.expect = expect
    corpus = Fixtures.corpus(spark, data) // cached and counted inside
    nDocs = spark.read.parquet(s"$data/documents.parquet").count()
    expected = Check.planted(spark.read.parquet(s"$expect/expected.parquet"))
  }

  private def storeDir(ctx: JobCtx): String = s"$work/frontier-${ctx.index}"

  def run(spark: SparkSession, ctx: JobCtx): JobOut = {
    deleteTree(storeDir(ctx))
    val crawler = new Crawler(spark, corpus, Crawler.Config(
      politeness = Politeness.Config(delayMinMs = 100, delayMaxMs = 300),
      batchLimit = Some(BatchLimit),
      maxRounds = Int.MaxValue,
      checkpointDir = Some(storeDir(ctx))))
    // the seed frame Crawler.crawlPrioritized builds, with CrawlQueries'
    // doc_id % 10 priorities
    val seeds = spark.read.parquet(s"$data/documents.parquet")
      .select(concat(lit("d"), col("doc_id")).as("seed_id"),
        concat(Fixtures.baseCol(col("doc_id")), lit("/list/p1.html")).as("url"),
        coalesce((col("doc_id") % 10).cast("int"), lit(Int.MaxValue)).as("priority"))
      .withColumn("page_no", lit(1)).withColumn("cursor", lit(0))
    val res = ctx.phase("crawl.list") {
      crawler.run(CrawlQueries.listJob, seeds, scroll = false, mode = JsProperty,
        callback = ctx.callback)
    }
    val (got, pages, errors) = ctx.phase("result") {
      Check.crawl(Check.crawlRows(res, "list", ListFields))
    }
    val why =
      if (got != expected) mismatch("items", got, expected)
      else if (pages != nDocs * 3) mismatch("pages", pages, nDocs * 3)
      else ""
    JobOut(why.isEmpty, why, pages, errors)
  }

  override def cleanup(ctx: JobCtx): Unit = deleteTree(storeDir(ctx))

  def probePages(spark: SparkSession): Seq[ProbePage] =
    docsOf(spark, data, 50).flatMap(Fixtures.pagesForDoc).filter(_.url.contains("/list/"))
      .map(p => ProbePage(p.url, p.html, CrawlQueries.listJob))

  override def probePipeline(spark: SparkSession, ctx: JobCtx): Option[JobOut] =
    Some(Pipeline.run(spark, data, expect, ctx))
}

/** The training-data pipeline over a workload's documents: near-duplicate
  * clusters, host PageRank, then the rank-guided crawl, each checked
  * against the repo's DuckDB oracle.
  */
object Pipeline {
  val Queries = Seq("dedup_clusters", "pagerank_hosts", "crawl_rank_prioritized")

  def run(spark: SparkSession, data: String, expect: String, ctx: JobCtx): JobOut = {
    val want = Queries.map { q =>
      val (cols, d, _) = Check.table(spark.read.parquet(s"$expect/oracle_$q.parquet"))
      q -> (cols, d)
    }.toMap
    val dedup = ctx.phase("pipeline.dedup") {
      Check.table(PipelineQueries.dedupClusters(spark, data))
    }
    val rank = ctx.phase("pipeline.pagerank") {
      Check.table(CrawlQueries.pagerankHosts(spark, data))
    }
    val crawl = ctx.phase("pipeline.rank_crawl") {
      Check.table(CrawlQueries.crawlRankPrioritized(spark, data), Seq(count_distinct(col("doc_id"))))
    }
    val why = Queries.zip(Seq(dedup, rank, crawl)).collect {
      case (q, (cols, d, _)) if (cols, d) != want(q) => Workload.mismatch(q, (cols, d), want(q))
    }.mkString("; ")
    // pages fetched: the hub crawl behind pagerank_hosts runs twice (once on
    // its own, once inside crawl_rank_prioritized), one hub page per
    // document; then one page per document of the top-ranked hosts
    val nDocs = spark.read.parquet(s"$data/documents.parquet").count()
    JobOut(why.isEmpty, why, 2 * nDocs + crawl._3.getLong(3), 0L)
  }
}
