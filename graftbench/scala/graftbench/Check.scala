package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a result table: row count, XOR and sum of
  * 64-bit row hashes (the sum catches a row that appears twice, which XOR
  * alone would cancel out).
  */
final case class Digest(rows: Long, xor: Long, sum: Long)

/** Output checks. Every digest is computed inside the same aggregation that
  * is the job's result action, and compared with the digest of what the
  * generator planted (or of the repo's DuckDB oracle output).
  */
object Check {
  val Sep = "\u001f"
  private val NullMark = "\u0000"

  /** Hash of one row: the columns cast to string, nulls marked, joined. */
  def rowHash(cols: Seq[Column]): Column =
    xxhash64(concat_ws(Sep, cols.map(c => coalesce(c.cast("string"), lit(NullMark))): _*))

  /** The three digest aggregates over the rows where `keep` holds. */
  def digestAggs(h: Column, keep: Column = lit(true)): Seq[Column] = Seq(
    count(when(keep, lit(1))),
    coalesce(bit_xor(when(keep, h)), lit(0L)),
    coalesce(sum(when(keep, h.bitwiseAND(lit(0xffffffffL)))), lit(0L)))

  def digestAt(r: Row, i: Int): Digest = Digest(r.getLong(i), r.getLong(i + 1), r.getLong(i + 2))

  /** Digest of a whole table (columns in name order) plus `extra`
    * aggregates, in ONE action. Returns (sorted column names, digest, row
    * holding the extra aggregates at positions 3..).
    */
  def table(df: DataFrame, extra: Seq[Column] = Nil): (Seq[String], Digest, Row) = {
    val names = df.columns.toSeq.sorted
    val aggs = digestAggs(rowHash(names.map(c => col(s"`$c`")))) ++ extra
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (names, digestAt(r, 0), r)
  }

  /** Canonical crawl rows: (crawl, doc_id, page_no, pos, payload) with the
    * item fields joined in `fields` order, plus what page accounting needs.
    * Seeds are named "d<doc_id>".
    */
  def crawlRows(res: DataFrame, crawl: String, fields: Seq[String]): DataFrame =
    res.select(
      lit(crawl).as("crawl"),
      expr("cast(substring(seed_id, 2) as long)").as("doc_id"),
      col("page_no").cast("long").as("page_no"),
      col("pos").cast("long").as("pos"),
      concat_ws(Sep, fields.map(f => coalesce(col(s"item.$f"), lit(NullMark))): _*).as("payload"),
      col("item").isNotNull.as("is_item"),
      col("url"), col("error"))

  val CrawlKey: Seq[String] = Seq("crawl", "doc_id", "page_no", "pos", "payload")

  /** ONE action over canonical crawl rows: (item digest, pages fetched,
    * pages whose row carries an error).
    */
  def crawl(rows: DataFrame): (Digest, Long, Long) = {
    val aggs = digestAggs(rowHash(CrawlKey.map(col)), col("is_item")) ++ Seq(
      count_distinct(col("url")),
      coalesce(count_distinct(when(col("error").isNotNull, col("url"))), lit(0L)))
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    (digestAt(r, 0), r.getLong(3), r.getLong(4))
  }

  /** Digest of planted crawl items, (crawl, doc_id, page_no, pos, payload). */
  def planted(expected: DataFrame): Digest = {
    val aggs = digestAggs(rowHash(CrawlKey.map(col)))
    digestAt(expected.agg(aggs.head, aggs.tail: _*).head(), 0)
  }
}
