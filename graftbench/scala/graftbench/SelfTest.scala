package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The output check must accept the right answer and reject a perturbed
  * one: a changed field, a dropped row, a duplicated row, rows swapped
  * between positions, a renamed column. The cache tracker behind
  * cache_peak_mb must give identical jobs the same peak. Exits non-zero if
  * any check misses.
  *
  *   java -cp <classpath> graftbench.SelfTest <work dir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    import spark.implicits._
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    // crawl output in the shape Check.crawlRows reads: one row per item
    val item = (1 to 3).flatMap(d => (1 to 2).flatMap(p => (0 until 3).map(i =>
      (s"d$d", s"http://w$d.test/d$d/list/p$p.html", p, i, s"t$d-$p-$i", s"2024-0$p-0$i"))))
    def crawlOutput(rows: Seq[(String, String, Int, Int, String, String)]): DataFrame =
      rows.toDF("seed_id", "url", "page_no", "pos", "title", "date_s")
        .select(col("seed_id"), col("url"), col("page_no"), col("pos"),
          struct(col("title"), col("date_s")).as("item"), lit(null).cast("string").as("error"))
    val planted = Check.planted(item.map { case (s, _, p, i, t, d) =>
      ("list", s.drop(1).toLong, p.toLong, i.toLong, t + Check.Sep + d)
    }.toDF(Check.CrawlKey: _*))
    def crawlDigest(rows: Seq[(String, String, Int, Int, String, String)]) =
      Check.crawl(Check.crawlRows(crawlOutput(rows), "list", Seq("title", "date_s")))._1

    expect("crawl: exact output accepted", crawlDigest(item) == planted)
    expect("crawl: reordered output accepted", crawlDigest(item.reverse) == planted)
    expect("crawl: changed field rejected",
      crawlDigest(item.updated(4, item(4).copy(_5 = item(4)._5 + "x"))) != planted)
    expect("crawl: dropped row rejected", crawlDigest(item.tail) != planted)
    expect("crawl: duplicated row rejected", crawlDigest(item :+ item.head) != planted)
    expect("crawl: swapped positions rejected",
      crawlDigest(item.updated(0, item(0).copy(_4 = item(1)._4)).updated(1, item(1).copy(_4 = item(0)._4)))
        != planted)
    val (pages, errors) = {
      val (_, p, e) = Check.crawl(Check.crawlRows(crawlOutput(item), "list", Seq("title", "date_s")))
      (p, e)
    }
    expect("crawl: pages and error pages counted", pages == 6 && errors == 0)

    // oracle tables: digest over all columns in name order
    val table = Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)).toDF("doc_id", "cluster_id", "keep")
    val want = Check.table(table)
    def same(df: DataFrame) = { val g = Check.table(df); (g._1, g._2) == (want._1, want._2) }
    expect("table: same rows, other column order accepted", same(table.select("keep", "doc_id", "cluster_id")))
    expect("table: changed value rejected", !same(table.withColumn("keep", col("doc_id") =!= 3)))
    expect("table: dropped row rejected", !same(table.filter(col("doc_id") > 1)))
    expect("table: renamed column rejected", !same(table.withColumnRenamed("keep", "kept")))

    // cache_peak_mb: two identical jobs back to back, each caching an RDD
    // and unpersisting it at its end, read the same peak, and what they
    // cached is no longer counted afterwards
    val cache = new CacheTracker
    spark.sparkContext.addSparkListener(cache)
    def cachingJob(): Long = {
      org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
      cache.resetPeak()
      val rdd = spark.sparkContext.parallelize(1 to 20000, 4).map(i => s"row $i").cache()
      rdd.count()
      rdd.unpersist(blocking = true)
      org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
      cache.peakBytes
    }
    val before = cache.totalBytes
    val (first, second) = (cachingJob(), cachingJob())
    expect(s"cache: a caching job has a peak ($first bytes)", first > 0)
    expect(s"cache: identical jobs give the same peak ($first, $second bytes)", first == second)
    expect("cache: unpersisted blocks are no longer counted", cache.totalBytes == before)

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
