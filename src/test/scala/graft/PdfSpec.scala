package graft

import graft.catalog.VectorCatalog
import graft.embed.DeterministicEmbedder
import graft.ingest.{PdfParser, PdfText, Readers}
import graft.rag.Ingest
import graft.util.TempDirs

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

/** The dependency-free PDF extractor (SURVEY §2 S2): fixture PDFs are
  * built IN-TEST (correct xref, FlateDecode streams via the JDK
  * Deflater) and driven through every layer — PdfText directly, the
  * binaryFile page-explode reader, and the full Ingest.run round-trip.
  */
class PdfSpec extends GraftSpec {

  private def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val df = new java.util.zip.Deflater()
    df.setInput(raw); df.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!df.finished()) out.write(buf, 0, df.deflate(buf))
    df.end()
    out.toByteArray
  }

  /** A complete single-font PDF: catalog → pages → one page + one
    * content stream per entry, correct xref offsets, optional
    * FlateDecode. `contents` are raw content-stream bodies so tests can
    * exercise arbitrary operators.
    */
  private def buildPdf(contents: Seq[String], compress: Boolean): Array[Byte] = {
    val n    = contents.size
    val font = 3 + 2 * n
    val objs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    objs += 1 -> b("<< /Type /Catalog /Pages 2 0 R >>")
    objs += 2 -> b(s"<< /Type /Pages /Kids [${
      (0 until n).map(i => s"${3 + i} 0 R").mkString(" ")}] /Count $n >>")
    for (i <- 0 until n)
      objs += (3 + i) -> b(s"<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $font 0 R >> >> " +
        s"/Contents ${3 + n + i} 0 R >>")
    for (i <- 0 until n) {
      val raw    = b(contents(i))
      val data   = if (compress) deflate(raw) else raw
      val filter = if (compress) " /Filter /FlateDecode" else ""
      objs += (3 + n + i) ->
        (b(s"<< /Length ${data.length}$filter >>\nstream\n") ++
          data ++ b("\nendstream"))
    }
    objs += font -> b("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val out     = new java.io.ByteArrayOutputStream()
    val offsets = new Array[Int](objs.size + 1)
    out.write(b("%PDF-1.4\n"))
    objs.sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size()
      out.write(b(s"$num 0 obj\n")); out.write(body); out.write(b("\nendobj\n"))
    }
    val xrefAt = out.size()
    out.write(b(s"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n"))
    (1 to objs.size).foreach(i => out.write(b(f"${offsets(i)}%010d 00000 n \n")))
    out.write(b(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n"))
    out.toByteArray
  }

  private def pageContent(text: String): String =
    s"BT /F1 12 Tf 72 720 Td ($text) Tj ET"

  test("two-page FlateDecode PDF extracts one string per page, in order") {
    val pdf = buildPdf(Seq(
      pageContent("Hello PDF page one"),
      pageContent("Second page content here")), compress = true)
    assert(PdfText.extractPages(pdf) ==
      Seq("Hello PDF page one", "Second page content here"))
    // uncompressed variant extracts identically
    val plain = buildPdf(Seq(
      pageContent("Hello PDF page one"),
      pageContent("Second page content here")), compress = false)
    assert(PdfText.extractPages(plain) == PdfText.extractPages(pdf))
  }

  test("text operators: TJ kerning arrays, hex strings, escapes, line breaks") {
    val content =
      """BT /F1 12 Tf
        |(A\(b\)\\c) Tj
        |[ (ker) -120 (ned) ] TJ
        |<48 69> Tj
        |T* (line two) Tj
        |0 -14 Td
        |(line three) '
        |(\101\102) Tj
        |ET""".stripMargin
    val pdf = buildPdf(Seq(content), compress = true)
    assert(PdfText.extractPages(pdf) ==
      Seq("A(b)\\ckernedHi\nline two\nline threeAB"))
  }

  /** A PDF with BOTH a simple font (/F1) and a Type0/CID font (/F2)
    * whose explicit ToUnicode CMap exercises bfchar singles, an
    * increment-dst bfrange, and an array-dst bfrange.
    */
  private def buildType0Pdf(content: String): Array[Byte] = {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <0048>
        |<0002> <0065>
        |endbfchar
        |2 beginbfrange
        |<0010> <0013> <006C>
        |<0020> <0021> [<0057> <0064>]
        |endbfrange
        |endcmap""".stripMargin
    val cmapData = deflate(b(cmap))
    val raw      = b(content)
    val objs = Seq(
      1 -> b("<< /Type /Catalog /Pages 2 0 R >>"),
      2 -> b("<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      3 -> b("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> /Contents 4 0 R >>"),
      4 -> (b(s"<< /Length ${raw.length} >>\nstream\n") ++ raw ++ b("\nendstream")),
      5 -> b("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
      6 -> b("<< /Type /Font /Subtype /Type0 /BaseFont /Fake " +
        "/Encoding /Identity-H /ToUnicode 7 0 R >>"),
      7 -> (b(s"<< /Length ${cmapData.length} /Filter /FlateDecode >>\nstream\n") ++
        cmapData ++ b("\nendstream")))
    val out     = new java.io.ByteArrayOutputStream()
    val offsets = new Array[Int](objs.size + 1)
    out.write(b("%PDF-1.4\n"))
    objs.foreach { case (num, body) =>
      offsets(num) = out.size()
      out.write(b(s"$num 0 obj\n")); out.write(body); out.write(b("\nendobj\n"))
    }
    out.write(b(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\n%%EOF\n"))
    out.toByteArray
  }

  test("Type0/CID font: bfchar, bfrange increment + array dst, hex strings decode") {
    // H e l l o  = 0001 0002 0010 0010 0013 through the CMap
    val pdf = buildType0Pdf(
      "BT /F2 12 Tf 72 720 Td <00010002001000100013> Tj ET")
    assert(PdfText.extractPages(pdf) == Seq("Hello"))
    // array-dst range: 0020 -> W, 0021 -> d
    val pdf2 = buildType0Pdf("BT /F2 12 Tf <00200021> Tj ET")
    assert(PdfText.extractPages(pdf2) == Seq("Wd"))
  }

  test("Tf switches between simple and composite fonts mid-page") {
    val pdf = buildType0Pdf(
      "BT /F1 12 Tf (plain ) Tj /F2 12 Tf <00010002001000100013> Tj " +
        "/F1 12 Tf ( tail) Tj ET")
    assert(PdfText.extractPages(pdf) == Seq("plain Hello tail"))
  }

  test("Type0 literal strings also map through the CMap; unmapped CIDs drop") {
    // literal string bytes \x00\x01 \x00\x02 = He; \x0E\x0E unmapped -> dropped
    val pdf = buildType0Pdf(
      "BT /F2 12 Tf (\\000\\001\\000\\002\\016\\016) Tj ET")
    assert(PdfText.extractPages(pdf) == Seq("He"))
  }

  test("identity CMap parses to one UNEXPANDED range (no 65536-entry map)") {
    val cm = PdfText.parseCMap(
      "1 begincodespacerange <0000> <FFFF> endcodespacerange " +
        "1 beginbfrange <0000> <FFFF> <0000> endbfrange", isType0 = true)
    assert(cm.codeBytes == 2)
    assert(cm.chars.isEmpty)
    assert(cm.ranges == IndexedSeq((0, 0xFFFF, "\u0000")))
    assert(cm.decode("\u0000H\u0000i") == "Hi")
  }

  test("PdfWriter round-trips arbitrary unicode text through the CID path") {
    val texts = Seq(
      "ASCII with (parens) and \\backslash and <angles>",
      "Unicode: café 日本語 — naïve αβγ",
      "emoji via surrogate pair: 😀 end")
    val pdf = graft.ingest.PdfWriter.typ0Pdf(texts)
    assert(PdfText.extractPages(pdf) == texts)
  }

  test("PDF 1.5 compressed object streams (ObjStm) expose catalog/page/font dicts") {
    // the modern-generator layout: every document dict lives INSIDE one
    // FlateDecode ObjStm; only the content stream is a direct object
    val bodies = Seq(
      10 -> "<< /Type /Catalog /Pages 11 0 R >>",
      11 -> "<< /Type /Pages /Kids [12 0 R] /Count 1 >>",
      12 -> ("<< /Type /Page /Parent 11 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 13 0 R >> >> /Contents 2 0 R >>"),
      13 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    val texts   = bodies.map(_._2)
    val offs    = texts.scanLeft(0)((a, t) => a + t.length + 1).init
    val header  = bodies.map(_._1).zip(offs)
      .map { case (n, o) => s"$n $o" }.mkString(" ")
    val first   = header.length + 1
    val stmData = deflate(b(header + "\n" + texts.mkString("\n")))
    val content = b("BT /F1 12 Tf (Inside objstm) Tj ET")
    val objs = Seq(
      1 -> (b(s"<< /Type /ObjStm /N ${bodies.size} /First $first " +
        s"/Length ${stmData.length} /Filter /FlateDecode >>\nstream\n") ++
        stmData ++ b("\nendstream")),
      2 -> (b(s"<< /Length ${content.length} >>\nstream\n") ++ content ++
        b("\nendstream")))
    val out = new java.io.ByteArrayOutputStream()
    out.write(b("%PDF-1.5\n"))
    objs.foreach { case (num, body) =>
      out.write(b(s"$num 0 obj\n")); out.write(body); out.write(b("\nendobj\n"))
    }
    out.write(b("trailer\n<< /Size 3 /Root 10 0 R >>\n%%EOF\n"))
    assert(PdfText.extractPages(out.toByteArray) == Seq("Inside objstm"))
    // damaged trailer (no findable /Root): the document-order fallback
    // must still see the /Type /Page dict INSIDE the container
    val noRoot = new String(out.toByteArray, ISO_8859_1)
      .replace("/Root 10 0 R", "").getBytes(ISO_8859_1)
    assert(PdfText.extractPages(noRoot) == Seq("Inside objstm"))
  }

  test("garbage and unsupported inputs degrade to the stub pseudo-page per file") {
    val junk = b("this is not a pdf at all")
    assert(new PdfParser().pages(junk) == Seq(s"[pdf-stub ${junk.length} bytes]"))
  }

  test("binaryFile reader explodes PDF pages as rows (S2)") {
    val dir = Paths.get(TempDirs.scratch("graft-pdf-dir"))
    Files.write(dir.resolve("report.pdf"), buildPdf(Seq(
      pageContent("Revenue grew forty percent in the third quarter"),
      pageContent("Gross margin expanded to sixty eight percent")),
      compress = true))
    val rows = Readers.pdfDirectory(spark, dir.toString).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("text")).toSet ==
      Set("Revenue grew forty percent in the third quarter",
        "Gross margin expanded to sixty eight percent"))
    assert(rows.forall(_.getAs[String]("source").endsWith("report.pdf")))
  }

  test("Ingest.run round-trips a mixed txt+pdf corpus into the index") {
    val dir = Paths.get(TempDirs.scratch("graft-pdf-ingest"))
    Files.writeString(dir.resolve("notes.txt"),
      "Plain text document about vector databases and retrieval")
    Files.write(dir.resolve("filing.pdf"), buildPdf(Seq(
      pageContent("The annual filing reports strong cash flow"),
      pageContent("Liquidity remains robust across segments")),
      compress = true))
    val catalog = new VectorCatalog(spark,
      TempDirs.scratch("graft-pdf-cat"))
    val index = Ingest.run(spark, catalog, dir.toString, "pdfmix",
      new DeterministicEmbedder(64))
    val rows = index.read.select("text", "source").collect()
    val pdfTexts = rows.filter(_.getAs[String]("source").endsWith(".pdf"))
      .map(_.getAs[String]("text"))
    assert(pdfTexts.toSet ==
      Set("The annual filing reports strong cash flow",
        "Liquidity remains robust across segments"),
      s"pdf chunks: ${pdfTexts.mkString(" | ")}")
    assert(rows.exists(r => r.getAs[String]("source").endsWith(".txt") &&
      r.getAs[String]("text").contains("vector databases")))
  }
}
