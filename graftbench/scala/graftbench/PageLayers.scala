package graftbench

import graft.css.Css
import graft.extract.{Extractor, Job, JsProperty, Selector}
import graft.html.HElem
import graft.xpath.XPath

/** Single-threaded timing of the per-page layers over a sample of a
  * workload's own pages, calling each layer's public functions:
  *
  *   html     Extractor.parseDocument (bytes -> tree)
  *   css      the Css.selectAll/selectFirst calls the job's CSS selector
  *            tree and paginator make on a parsed page
  *   xpath    the XPath.find calls of the job's XPath selector tree and
  *            paginator
  *   extract  Extractor.extractPage on a parsed page, minus the css and
  *            xpath time above (its self time: item build, text, attrs)
  *
  * Each layer is one pass over the sample, repeated until it has run for
  * long enough; the median pass is reported per page.
  */
object PageLayers {
  final case class Pass(us: Double, allocBytes: Long)
  final case class Result(pages: Int, parse: Pass, css: Pass, xpath: Pass, extract: Pass, errors: Int)

  private val MinPasses = 5
  private val MinSeconds = 0.3

  /** Repeat `pass` until MinPasses and MinSeconds; median time and alloc. */
  private def timed(pass: () => Unit): Pass = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val allocs = scala.collection.mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    while (times.size < MinPasses || (System.nanoTime() - start) / 1e9 < MinSeconds) {
      val a0 = AllocCounter.bytes()
      val t0 = System.nanoTime()
      pass()
      times += (System.nanoTime() - t0) / 1e3
      allocs += (AllocCounter.bytes() - a0).toDouble
    }
    Pass(Stats.median(times.toSeq), Stats.median(allocs.toSeq).toLong)
  }

  /** CSS selection of `sel` under `ctx`, as Extractor.populate walks it. */
  private def cssSelect(ctx: HElem, sel: Selector): Unit = {
    val scope = if (sel.scope.isEmpty && ctx.tag == "#document") "html" else sel.scope
    val nodes = if (scope.nonEmpty) Css.selectAll(ctx, scope) else Vector(ctx)
    sel.attrs.foreach(m => nodes.foreach(n => m.values.foreach(sub => cssSelect(n, sub))))
    if (sel.attrs.isEmpty && sel.css.nonEmpty)
      nodes.foreach(n => if (sel.attr.isEmpty) Css.selectAll(n, sel.css) else Css.selectFirst(n, sel.css))
  }

  /** XPath selection of `sel` under `ctx`, as Extractor.populateX walks it. */
  private def xpathSelect(ctx: HElem, sel: Selector): Unit = {
    val nodes =
      if (sel.xpathScope.nonEmpty) XPath.find(ctx, sel.xpathScope).collect { case e: HElem => e }
      else Vector(ctx)
    sel.attrs.foreach(m => nodes.foreach(n => m.values.foreach(sub => xpathSelect(n, sub))))
    if (sel.attrs.isEmpty && sel.xpath.nonEmpty)
      nodes.foreach(n => XPath.find(n, graft.xpath.XPathAttr.stripAttr(sel.xpath)))
  }

  private def select(doc: HElem, job: Job, xpath: Boolean): Unit = {
    val p = job.resolvedPaginator(1)
    if (job.cssSelector.isXpath == xpath) {
      if (xpath) xpathSelect(doc, job.cssSelector) else cssSelect(doc, job.cssSelector)
    }
    if (xpath && p.xpath.nonEmpty) XPath.find(doc, graft.xpath.XPathAttr.stripAttr(p.xpath))
    if (!xpath && p.css.nonEmpty) Css.selectFirst(doc, p.css)
  }

  def measure(pages: Seq[ProbePage]): Result = {
    val docs = pages.map(p => Extractor.parseDocument(p.html))
    var errors = 0
    pages.zip(docs).foreach { case (p, d) =>
      try Extractor.extractPage(d, p.job, 1, p.url, JsProperty)
      catch { case _: Exception => errors += 1 }
    }
    val parse = timed(() => pages.foreach(p => Extractor.parseDocument(p.html)))
    val css = timed(() => pages.zip(docs).foreach { case (p, d) => select(d, p.job, xpath = false) })
    val xpath = timed(() => pages.zip(docs).foreach { case (p, d) => select(d, p.job, xpath = true) })
    val extract = timed(() => pages.zip(docs).foreach { case (p, d) =>
      try Extractor.extractPage(d, p.job, 1, p.url, JsProperty)
      catch { case _: Exception => () }
    })
    val n = pages.size.toDouble
    def perPage(x: Pass) = Pass(x.us / n, (x.allocBytes / n).toLong)
    val self = Pass(math.max(0.0, extract.us - css.us - xpath.us),
      math.max(0L, extract.allocBytes - css.allocBytes - xpath.allocBytes))
    Result(pages.size, perPage(parse), perPage(css), perPage(xpath), perPage(self), errors)
  }
}
