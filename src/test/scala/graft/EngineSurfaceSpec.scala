package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Fixtures
import graft.engine.{Crawler, Sinks, UserAgents}

class EngineSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("engine-surface-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docs = Seq(
    Fixtures.Doc(0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    Fixtures.Doc(7L, "one two three four five six seven eight nine ten eleven", "en"),
    Fixtures.Doc(50L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed", "zh"),
    Fixtures.Doc(51L, "north south east west up down left right front back side", "en")
  )

  lazy val corpus = {
    val s = spark
    import s.implicits._
    docs.flatMap(Fixtures.pagesForDoc).toDF()
  }

  def seeds: Seq[(String, String)] =
    docs.map(d => (s"d${d.doc_id}", s"${Fixtures.base(d.doc_id)}/list/p1.html"))

  test("robots crawl-delay paces the crawl end-to-end (per-host gap floor)") {
    val s = spark
    import s.implicits._
    // same fixture corpus, but each host's robots.txt declares Crawl-delay
    val corpusD = docs.flatMap(Fixtures.pagesForDoc).map { p =>
      if (p.url.endsWith("/robots.txt"))
        p.copy(html = "User-agent: *\nDisallow: /blocked/\nCrawl-delay: 1\n".getBytes("UTF-8"))
      else p
    }.toDF()
    val out = new Crawler(spark, corpusD, Crawler.Config(respectRobots = true))
      .crawl(CrawlQueries.listJob, seeds)
      .select(col("url"), col("host"), col("page_no"), col("scheduled_ms"))
      .collect()
    // fixture robots.txt exists for hosts of docs < 50 (h0 via d0, h7 via
    // d7); h0 serves TWO seeds (d0, d50) → second same-round request waits
    // 1000 ms; h1 (d51) has no robots.txt → no delay
    for (pageNo <- 1 to 3) {
      val round = out.filter(_.getInt(2) == pageNo)
      def sched(h: String) = round.filter(_.getString(1) == h)
        .map(r => (r.getString(0), r.getLong(3))).distinct.map(_._2).sorted.toSeq
      assert(sched("h0.test") == Seq(0L, 1000L), s"h0 round $pageNo")
      assert(sched("h7.test") == Seq(0L), s"h7 round $pageNo")
      assert(sched("h1.test") == Seq(0L), s"h1 round $pageNo")
    }
  }

  test("sitemap-discovered seeds fetch exactly the listed pages and extract their items") {
    val sm = graft.engine.Sitemaps.discover(corpus).collect()
    assert(sm.length == docs.length * 3)
    val seeds = sm.map(r => (s"s${r.getString(0)}#${r.getInt(1)}", r.getString(2))).toSeq
    // frontier seeded straight from the sitemap: no pagination needed
    val noPag = CrawlQueries.listJob.copy(paginator = graft.extract.Selector(), limit = 0)
    val out = new Crawler(spark, corpus).crawl(noPag, seeds)
      .filter(col("item").isNotNull)
    val urls = out.select("url").distinct().collect().map(_.getString(0)).toSet
    assert(urls == seeds.map(_._2).toSet)
    val titles = out.select("item.title").collect().map(_.getString(0))
    assert(titles.length == seeds.size * 4)
    assert(titles.forall(_.matches("Doc \\d+ item \\d-\\d")))
  }

  test("pagerank-primed priority frontier crawls top-ranked hosts in round one") {
    val s = spark
    import s.implicits._
    val many = (0L until 12L).map(d => Fixtures.Doc(d, "alpha beta gamma delta epsilon", "en"))
    val corpus12 = many.flatMap(Fixtures.pagesForDoc).toDF()
    // host graph: every host links to h0 and itself -> h0 is the top rank
    val edges = (0L until 12L).flatMap { d =>
      Seq((Fixtures.host(d), Fixtures.host(0L), 1L), (Fixtures.host(d), Fixtures.host(d), 1L))
    }.toDF("src_host", "dst_host", "n_links")
    val ranks = graft.pipeline.LinkGraph.pagerank(edges).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val prio = ranks.sortBy(r => (-r._2, r._1)).zipWithIndex
      .map { case ((h, _), i) => (h, i) }.toMap
    assert(prio(Fixtures.host(0L)) == 0, "hub host tops the rank order")
    val seedDf = many.map { doc =>
      (s"d${doc.doc_id}", s"${Fixtures.base(doc.doc_id)}/list/p1.html",
        prio(Fixtures.host(doc.doc_id)))
    }.toDF("seed_id", "url", "priority")
    val out = new Crawler(spark, corpus12,
      Crawler.Config(batchLimit = Some(3), maxRounds = 1))
      .crawlPrioritized(CrawlQueries.listJob, seedDf)
    val crawled = out.select("seed_id").distinct().collect().map(_.getString(0)).toSet
    val top3 = many.map(d => (s"d${d.doc_id}", prio(Fixtures.host(d.doc_id))))
      .sortBy(_._2).take(3).map(_._1).toSet
    assert(crawled == top3,
      s"round one must fetch exactly the top-priority slice: got $crawled want $top3")
  }

  test("robots-declared sitemaps resolve at ANY path: plain urlset, odd-named index, url variants deduped") {
    val s = spark
    import s.implicits._
    val ts = new java.sql.Timestamp(1704067200000L)
    def page(url: String, body: String) = (url, ts, body.getBytes("UTF-8"), "", "en")
    val corpus = Seq(
      // host a: plain urlset at a NON-convention path, declared by robots
      // served under BOTH http and https (variant dedup)
      page("http://a.test/robots.txt",
        "User-agent: *\nSitemap: http://a.test/deep/my-map.xml\n"),
      page("https://a.test/robots.txt",
        "User-agent: *\nSitemap: http://a.test/deep/my-map.xml\n"),
      page("http://a.test/deep/my-map.xml",
        "<urlset><url><loc>http://a.test/p1.html</loc><lastmod>2024-01-01</lastmod></url>" +
          "<url><loc>http://a.test/p2.html</loc><lastmod>2024-01-02</lastmod></url></urlset>"),
      // host b: an INDEX at a non-convention name whose member sitemap is
      // also at a non-convention path
      page("http://b.test/robots.txt",
        "User-agent: *\nSitemap: http://b.test/idx-of-maps.xml\n"),
      page("http://b.test/idx-of-maps.xml",
        "<sitemapindex><sitemap><loc>http://b.test/maps/part-a.xml</loc></sitemap></sitemapindex>"),
      page("http://b.test/maps/part-a.xml",
        "<urlset><url><loc>http://b.test/q1.html</loc><lastmod>2024-02-01</lastmod></url></urlset>"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val out = graft.engine.Sitemaps.discoverFromRobots(corpus)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(4))).toSet
    assert(out == Set(
      // http variant wins (min robots_url), plain urlset gets sitemap_pos 0
      ("http://a.test/robots.txt", "http://a.test/deep/my-map.xml", 0, "http://a.test/p1.html"),
      ("http://a.test/robots.txt", "http://a.test/deep/my-map.xml", 0, "http://a.test/p2.html"),
      ("http://b.test/robots.txt", "http://b.test/idx-of-maps.xml", 0, "http://b.test/q1.html")),
      s"got: $out")
  }

  test("recrawl due-set feeds the priority frontier: stalest urls fetched first") {
    val s = spark
    import s.implicits._
    val many = (0L until 6L).map(d => Fixtures.Doc(d, "alpha beta gamma delta epsilon", "en"))
    val corpus6 = many.flatMap(Fixtures.pagesForDoc).toDF()
    // history: doc d's list p1 last crawled d hours ago, all with a 1 h
    // change period -> all due, staleness strictly increases with d
    val nowMs = 1704067200000L + 720L * 3600000L
    val history = many.map { doc =>
      (s"${Fixtures.base(doc.doc_id)}/list/p1.html",
        nowMs - (doc.doc_id + 1) * 3600000L, 3600000L)
    }.toDF("url", "last_crawl_ms", "change_period_ms")
    val due = graft.engine.Recrawl.due(history, nowMs)
    // the scaladoc's contract: negated staleness IS the frontier priority
    val seedDf = due.select(
      regexp_extract(col("url"), "/d(\\d+)/", 1).as("seed_id"),
      col("url"), (-col("staleness_ppt")).cast("int").as("priority"))
    val out = new Crawler(spark, corpus6,
      Crawler.Config(batchLimit = Some(2), maxRounds = 1))
      .crawlPrioritized(CrawlQueries.listJob, seedDf)
    val crawled = out.select("seed_id").distinct().collect().map(_.getString(0)).toSet
    assert(crawled == Set("4", "5"),
      s"round one must fetch the two STALEST urls (docs 4,5): got $crawled")
  }

  test("crawlPrioritized composes with StartPageBtn (priority survives the L7 rewrite)") {
    val s = spark
    import s.implicits._
    import graft.extract.{Job, Selector}
    val pages = Seq(
      ("http://pb.test/home1.html", """<html><body><div class="entry"><a href="list1.html">go</a></div></body></html>"""),
      ("http://pb.test/list1.html", """<html><body><ul id="l"><li>one</li></ul></body></html>"""),
      ("http://pb.test/home2.html", """<html><body><div class="entry"><a href="list2.html">go</a></div></body></html>"""),
      ("http://pb.test/list2.html", """<html><body><ul id="l"><li>two</li></ul></body></html>""")
    ).map { case (u, h) => (u, new java.sql.Timestamp(0L), h.getBytes("UTF-8"), "", "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    val job = Job(link = "",
      cssSelector = Selector(scope = "#l > li", attrs = Some(Map("t" -> Selector()))),
      startPageBtn = Selector(css = "div.entry a", attr = "href"))
    val seedDf = Seq(("s1", "http://pb.test/home1.html", 1), ("s2", "http://pb.test/home2.html", 0))
      .toDF("seed_id", "url", "priority")
    val out = new Crawler(spark, pages, Crawler.Config(batchLimit = Some(1), maxRounds = 1))
      .crawlPrioritized(job, seedDf)
    val items = out.filter(col("item").isNotNull).select("seed_id", "item.t").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // only the priority-0 seed crawls in round one, via its rewritten entry url
    assert(items.toSeq == Seq(("s2", "two")))
  }

  test("batch-limited priority frontier crawls everything over more rounds") {
    val full = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.title").collect().map(_.toString).sorted
    val limited = new Crawler(spark, corpus,
      Crawler.Config(batchLimit = Some(3), maxRounds = 64))
      .crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "page_no", "pos", "item.title").collect().map(_.toString).sorted
    assert(limited.toSeq == full.toSeq)
  }

  test("cuckoo+bloom sketch prefilter agrees with the exact anti-join and prunes") {
    val plain = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title").collect().map(_.toString).sorted
    // force both sketches on from the first round; the list family has
    // repeat successors (the same p2/p3 urls discovered each round per
    // seed), so the prefilter has both prune and pass-through traffic
    val cr = new Crawler(spark, corpus,
      Crawler.Config(urlSeenThreshold = 0L))
    val sketched = cr.crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title").collect().map(_.toString).sorted
    assert(sketched.toSeq == plain.toSeq) // agreement: sketches lose nothing
    assert(cr.prefilterSkipped.value > 0,
      "prefilter must prove some successors new and skip the anti-join for them")
  }

  test("robots dim is one row per host even when robots.txt has url variants") {
    val s = spark
    import s.implicits._
    // a host publishing robots.txt under BOTH http and https must not
    // multiply frontier rows through the robots left joins (the
    // no-url-fetched-twice invariant); the deterministic winner is the
    // min robots url — http sorts before https, so the permissive http
    // rules below apply and the restrictive https variant is ignored
    val extra = Fixtures.Page(s"https://${Fixtures.host(0)}/robots.txt",
      new java.sql.Timestamp(0L),
      "User-agent: *\nDisallow: /list/\nCrawl-delay: 9\n".getBytes("UTF-8"), "", "en")
    val corpusDup = (docs.flatMap(Fixtures.pagesForDoc) :+ extra).toDF()
    val plain = new Crawler(spark, corpus, Crawler.Config(respectRobots = true))
      .crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title")
      .collect().map(_.toString).sorted
    val dup = new Crawler(spark, corpusDup, Crawler.Config(respectRobots = true))
      .crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title")
      .collect().map(_.toString).sorted
    assert(dup.toSeq == plain.toSeq,
      "duplicated robots url variants must not change or multiply the crawl output")
  }

  test("ip geolocation helper: QueryIP parity + broadcast enrichment (S12)") {
    import graft.engine.IpGeo
    val s = spark
    import s.implicits._
    val geo = Seq(
      ("120.220.220.95", "success", "China", "CN", "SD", "Shandong", "Jinan",
        "", 36.67d, 117.02d, "Asia/Shanghai", "China Mobile", "CMCC", "AS9808"))
      .toDF(IpGeo.columns: _*)
    assert(!IpGeo.queryIp(geo, ""))                    // lib/ip.go:16-19 empty ip
    assert(IpGeo.queryIp(geo, "120.220.220.95"))       // lib/ip_test.go:5-7
    assert(!IpGeo.queryIp(geo, "10.0.0.1"))            // lookup miss
    val crawl = Seq(("http://a.test/", "120.220.220.95"), ("http://b.test/", "10.0.0.1"))
      .toDF("url", "ip")
    val enriched = IpGeo.enrich(crawl, col("ip"), geo)
    assert(enriched.count() == 2) // left join keeps misses
    val hit = enriched.filter(col("ip") === "120.220.220.95").head
    assert(hit.getString(hit.fieldIndex("geo_city")) == "Jinan")
  }

  test("deterministic per-url UA assignment from the pool") {
    val out = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
      .select("url", "ua").distinct().collect()
    assert(out.forall(r => UserAgents.pool.contains(r.getString(1))))
    // same url always gets the same ua
    val again = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
      .select("url", "ua").distinct().collect()
    assert(out.map(r => r.getString(0) -> r.getString(1)).toMap ==
      again.map(r => r.getString(0) -> r.getString(1)).toMap)
  }

  test("download sink writes one file per url") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dl").toString
    Sinks.downloadFiles(corpus.limit(10), tmp)
    val files = new java.io.File(tmp).listFiles()
    assert(files.length == 10)
    assert(files.forall(_.length() > 0))
  }

  test("debug sink dumps html + items per page partitioned by page_no") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dbg").toString
    val crawled = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
    Sinks.debugDump(crawled, corpus, tmp)
    val back = spark.read.parquet(tmp)
    assert(back.count() == 4 * 3 * 4) // seeds x pages x items
    assert(back.filter(col("html").isNull).count() == 0)
  }

  test("Flat: arrays_zip semantics match lib.Flat row pivot") {
    val s = spark
    import s.implicits._
    val df = Seq((1, Seq("a", "b", "c"), Seq("x", "y", "z"))).toDF("id", "k", "v")
    val out = graft.extract.Flat.flat(df, Seq("k", "v")).collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1, "a", "x"), (1, "b", "y"), (1, "c", "z")))
    // ragged: shorter list yields null beyond its end
    val ragged = Seq((1, Seq("a", "b"), Seq("x"))).toDF("id", "k", "v")
    val out2 = graft.extract.Flat.flat(ragged, Seq("k", "v")).collect()
    assert(out2.length == 2 && out2(1).isNullAt(2))
  }

  test("frontier snapshot is partitioned by host_bucket and resumable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fstore").toString
    val c = new Crawler(spark, corpus, Crawler.Config(maxRounds = 1, checkpointDir = Some(tmp)))
    c.crawl(CrawlQueries.listJob, seeds).count()
    val dirs = new java.io.File(s"$tmp/data/round=1/frontier").listFiles()
    assert(dirs.exists(f => f.isDirectory && f.getName.startsWith("host_bucket=")))
    val store = new graft.engine.FrontierStore(tmp)(spark)
    val snap = store.loadLatest().get
    assert(snap.round == 1)
    assert(snap.frontier.columns.contains("priority"))
  }

  test("resume with sketches on: cuckoo backfills from snapshot seen, output complete") {
    val full = new Crawler(spark, corpus).crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title").collect().map(_.toString).sorted
    // crash after round 1, then resume with bloom+cuckoo forced on: the
    // sketch must prime from the SNAPSHOT's seen set (not just new rounds)
    // or resumed crawls would re-fetch round-1 urls
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-sketch").toString
    val cfg = Crawler.Config(checkpointDir = Some(tmp), urlSeenThreshold = 0L)
    new Crawler(spark, corpus, cfg.copy(maxRounds = 1)).crawl(CrawlQueries.listJob, seeds).count()
    val resumedRows = new Crawler(spark, corpus, cfg)
      .crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title").collect().map(_.toString).sorted
    // resumed run emits rounds 2..n only; union with round 1's rows
    val round1 = new graft.engine.FrontierStore(tmp)(spark).loadLatest()
    assert(round1.exists(_.round >= 1))
    val firstRun = new Crawler(spark, corpus, cfg.copy(maxRounds = 1, checkpointDir = None))
      .crawl(CrawlQueries.listJob, seeds)
      .filter(col("item").isNotNull)
      .select("seed_id", "url", "page_no", "pos", "item.title").collect().map(_.toString)
    assert((resumedRows ++ firstRun).sorted.toSeq == full.toSeq,
      "resumed crawl + round-1 rows must equal the uninterrupted crawl (no re-fetch, no loss)")
  }

  test("frontier store round-trips through an explicit file: Hadoop URI") {
    // the store must resolve its dir through the Hadoop FileSystem API
    // (HDFS/S3-style checkpointing), not java.nio — an explicit `file:`
    // URI exercises the scheme-resolution path a bare local path skips
    val tmp = "file:" + java.nio.file.Files.createTempDirectory("graft-fstore-uri").toString
    val c = new Crawler(spark, corpus, Crawler.Config(maxRounds = 1, checkpointDir = Some(tmp)))
    c.crawl(CrawlQueries.listJob, seeds).count()
    val store = new graft.engine.FrontierStore(tmp)(spark)
    assert(store.manifestRounds() == Seq(1))
    val snap = store.loadLatest().get
    assert(snap.round == 1)
    assert(snap.frontier.count() > 0 && snap.seen.count() > 0)
    // second commit overwrite-renames latest.json atomically via FileContext
    store.commit(2, snap.frontier, snap.seen, Seq("rows" -> snap.seen.count()))
    assert(store.loadLatest().get.round == 2)
    assert(store.manifestRounds() == Seq(1, 2))
  }
}
