package graft.perfbench

import java.nio.charset.StandardCharsets

import graft.core._

/** Single-threaded replay of the per-document extraction pipeline through
  * the public functions of `graft.core`, in `Extract.extractPages` order.
  * A timing replay measures each call's time (and keeps one span per call);
  * an allocation replay measures the bytes the calling thread allocated in
  * each call. They are separate so neither probe inflates the other. The
  * replay must reproduce `Extract.extractDocument` exactly; the caller
  * checks that.
  */
final class CoreReplay(countAlloc: Boolean) {
  import CoreReplay._

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** Per layer: nanoseconds (timing replay) or bytes (allocation replay). */
  val cost = new Array[Long](Layers.length)
  /** Pipeline time, excluding the standalone parse probe. */
  var pipelineNs = 0L
  var docs = 0L
  /** (layer, start, end) of every timed call, flattened. */
  private var calls = new Array[Long](3 * 4096)
  private var nCalls = 0

  private def now(): Long =
    if (countAlloc) threads.getCurrentThreadAllocatedBytes else System.nanoTime()

  private def timed[T](layer: Int)(body: => T): T = {
    val c0 = now()
    val r = body
    val c1 = now()
    cost(layer) += c1 - c0
    if (!countAlloc) {
      if (3 * nCalls + 3 > calls.length) calls = java.util.Arrays.copyOf(calls, 2 * calls.length)
      calls(3 * nCalls) = layer
      calls(3 * nCalls + 1) = c0
      calls(3 * nCalls + 2) = c1
      nCalls += 1
    }
    r
  }

  /** Records one span per timed call as a child of the tracer's current span. */
  def recordSpans(tracer: Tracer): Unit =
    (0 until nCalls).foreach { i =>
      tracer.record(SpanNames(calls(3 * i).toInt), calls(3 * i + 1), calls(3 * i + 2))
    }

  def replay(url: String, html: Array[Byte]): Extract.ExtractedDoc = {
    docs += 1
    val t0 = System.nanoTime()
    var probeNs = 0L
    try {
      if (html == null || html.isEmpty) return failed(url, "empty_doc")
      if (html.length > Extract.MaxBytes) return failed(url, "oversize")
      val text = timed(Parse)(new String(html, StandardCharsets.UTF_8))
      // layoutDocument parses internally and its per-page layout is private,
      // so parse is timed on its own and layout is the remainder
      val parse0 = cost(Parse)
      val p0 = System.nanoTime()
      timed(Parse)(HtmlFront.parseDom(text))
      probeNs = System.nanoTime() - p0
      val laidOut = timed(Layout)(HtmlFront.layoutDocument(text))
      cost(Layout) -= cost(Parse) - parse0
      var nLines = 0
      val pages = laidOut.zipWithIndex.map { case (p, pageId) =>
        val boxes = timed(NmsL)(Nms.nms(p.boxes))
        val nativeLines = timed(TokenizeL)(Tokenize.parseTextLines(p.spans))
        val needOcr = timed(Ocr)(
          Assign.pageNeedsOcr(boxes.filter(_.isTextBlock), nativeLines))
        val lines = if (needOcr && p.ocrLines.nonEmpty) p.ocrLines else nativeLines
        nLines += lines.length
        val elements = timed(AssignL)(Assign.buildPageElements(boxes, lines, pageId))
        StructuredPage(pageId, HtmlFront.PageWidth, HtmlFront.PageHeight,
          needOcr, elements)
      }
      // document assembly: flatten in page order, then title k-means
      val allElements: Vector[Element] =
        timed(TitlesL)(pages.iterator.flatMap(_.elements).toVector)
      val titleLevel = timed(TitlesL) {
        val titles = allElements.filter(e =>
          e.kind == ElementType.Title || e.kind == ElementType.Subtitle)
        Titles.titleLevelsKmeans(titles, Titles.TitleBuckets, Extract.docSeed(url))
      }
      val blocks = timed(BlocksL)(Blocks.mergeElementsIntoBlocks(allElements, titleLevel))
      Extract.ExtractedDoc(
        url = url,
        extractedText = timed(RText)(Render.toText(blocks)),
        markdown = timed(RMarkdown)(Render.toMarkdown(blocks, None)),
        html = timed(RHtml)(Render.toHtml(blocks, Render.sanitizeDocName(url), None)),
        blocksJson = timed(RJson)(Render.blocksToJson(blocks)),
        nPages = pages.length,
        nBlocks = blocks.length,
        nElements = allElements.length,
        nLines = nLines,
        needOcrPages = pages.count(_.needOcr),
        parseStatus = "ok",
        errorClass = "")
    } catch {
      case _: HtmlFront.ParseException => failed(url, "parse_error")
      case scala.util.control.NonFatal(_) => failed(url, "exception")
    } finally pipelineNs += System.nanoTime() - t0 - probeNs
  }
}

object CoreReplay {
  val Layers: Vector[String] = Vector(
    "front.parse", "front.layout", "nms", "tokenize", "ocr_decision", "assign",
    "titles", "blocks", "render.text", "render.markdown", "render.html",
    "render.json")
  private val SpanNames = Layers.map("core." + _)
  private val Parse = 0
  private val Layout = 1
  private val NmsL = 2
  private val TokenizeL = 3
  private val Ocr = 4
  private val AssignL = 5
  private val TitlesL = 6
  private val BlocksL = 7
  private val RText = 8
  private val RMarkdown = 9
  private val RHtml = 10
  private val RJson = 11

  /** Extract's failure row (its constructor is private to Extract). */
  private def failed(url: String, errorClass: String): Extract.ExtractedDoc =
    Extract.ExtractedDoc(url, "", "", "", "[]", 0, 0, 0, 0, 0, "error", errorClass)
}
