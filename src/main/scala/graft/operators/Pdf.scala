package graft.operators

import java.io.{ByteArrayOutputStream, StringWriter}

import graft.Tables._
import org.apache.pdfbox.pdmodel.{PDDocument, PDPage, PDPageContentStream}
import org.apache.pdfbox.pdmodel.common.PDRectangle
import org.apache.pdfbox.pdmodel.encryption.{AccessPermission, StandardProtectionPolicy}
import org.apache.pdfbox.pdmodel.font.PDType1Font
import org.apache.pdfbox.rendering.PDFRenderer
import org.apache.pdfbox.text.PDFTextStripper
import org.apache.pdfbox.tools.PDFText2HTML
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real document transforms (SURVEY.md §2 O12–O14) on the same PDFBox the
  * reference vendors (`projectAdler/lib/pdfbox-2.0.19.jar` — public Apache
  * jars, copied into `lib/`, no reference code involved).
  *
  * Semantics mirror `Workers.java:111-221` (`convertPDF`):
  *  - load the document; any load failure becomes the in-band
  *    `Error: PDF file not found - <exception class>` row (Workers.java:205-211);
  *  - an encrypted document short-circuits to `Error: File is Encrypted`
  *    (Workers.java:130,189-191) — synthesized here with a real
  *    empty-user-password `StandardProtectionPolicy`, so `PDDocument.load`
  *    succeeds and `isEncrypted` is genuinely true, the reference's exact path;
  *  - `ToText` extracts PAGE 1 ONLY via `PDFTextStripper` (Workers.java:131-148);
  *  - `ToHTML` renders page 1 via `PDFText2HTML` (Workers.java:162-184);
  *  - `ToImage` rasterizes page 1 to PNG via `PDFRenderer` (Workers.java:150-160);
  *  - an unknown operation becomes `Error: Unsupported operation: <op>`
  *    (Workers.java:185-187).
  *
  * Scale: each document converts independently — a narrow per-row map, no
  * shuffle; PDFBox's font/codec caches are JVM-static so executor reuse
  * amortizes init across tasks exactly like the reference's long-lived
  * workers. The UDFs are registered through the plain `spark.udf.register`
  * surface (SURVEY.md §2.2 UDF row) — the one place a scalar UDF is the
  * right tool: a third-party imperative codec with no builtin equivalent.
  *
  * Oracle strategy: PDFs are synthesized in-engine with a deterministic
  * ASCII payload (`doc <id> <md5(text)>`), so the DuckDB oracle predicts
  * every output of the real extraction round-trip purely from the parquet
  * columns.
  */
object PdfOps extends Serializable {

  // PDFRenderer needs AWT; force headless before any java.awt class loads.
  System.setProperty("java.awt.headless", "true")
  // ImageIO streams default to a temp FILE per encode — keep them in memory.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic in-engine PDF source: one page-1 text line. `corrupt`
    * yields bytes that fail `PDDocument.load` (the reference's fetch-failure
    * path); `encrypted` applies a real empty-user-password encryption. */
  def synthPdf(payload: String, encrypted: Boolean, corrupt: Boolean): Array[Byte] = {
    if (corrupt) return "%PDF-not-really-a-document".getBytes("UTF-8")
    val doc = new PDDocument()
    try {
      val page = new PDPage(new PDRectangle(200, 100))
      doc.addPage(page)
      val cs = new PDPageContentStream(doc, page)
      cs.beginText()
      cs.setFont(PDType1Font.HELVETICA, 6)
      cs.newLineAtOffset(10, 50)
      cs.showText(payload)
      cs.endText()
      cs.close()
      if (encrypted) {
        // Empty user password: loads without credentials, isEncrypted=true —
        // the exact branch Workers.java:130 takes on its encrypted corpus.
        val spp = new StandardProtectionPolicy("owner", "", new AccessPermission())
        spp.setEncryptionKeyLength(128)
        doc.protect(spp)
      }
      val bos = new ByteArrayOutputStream()
      doc.save(bos)
      bos.toByteArray
    } finally doc.close()
  }

  private def withDoc[A](bytes: Array[Byte])(f: PDDocument => A): Either[String, A] = {
    var doc: PDDocument = null
    try {
      doc = PDDocument.load(bytes)
      if (doc.isEncrypted) Left("Error: File is Encrypted")
      else Right(f(doc))
    } catch {
      case e: Exception => Left("Error: PDF file not found - " + e.getClass.getName)
    } finally if (doc != null) doc.close()
  }

  /** Page-1 text (Workers.java ToText). Errors in-band, never thrown. */
  def toText(bytes: Array[Byte]): String =
    withDoc(bytes) { doc =>
      val ts = new PDFTextStripper()
      ts.setStartPage(1)
      ts.setEndPage(1)
      ts.getText(doc)
    }.fold(identity, identity)

  /** Page-1 HTML document (Workers.java ToHTML) — the full artifact. */
  def toHtml(bytes: Array[Byte]): String =
    withDoc(bytes) { doc =>
      val h = new PDFText2HTML()
      h.setStartPage(1)
      h.setEndPage(1)
      val sw = new StringWriter()
      h.writeText(doc, sw)
      sw.toString
    }.fold(identity, identity)

  /** Page-1 PNG raster (Workers.java ToImage); null marks the error row
    * (the error string travels in the dispatcher's output column). */
  def toImagePng(bytes: Array[Byte]): Array[Byte] =
    withDoc(bytes) { doc =>
      val img = new PDFRenderer(doc).renderImage(0)
      val bos = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }.fold(_ => null, identity)

  /** The reference's whole `convertPDF` dispatch as one function: outputs
    * are normalized descriptors a SQL oracle can predict (text/html reduce
    * to the payload, image to dims + the fixed PNG signature). */
  def convert(bytes: Array[Byte], op: String): String =
    withDoc(bytes) { doc =>
      op match {
        case "ToText" =>
          val ts = new PDFTextStripper()
          ts.setStartPage(1)
          ts.setEndPage(1)
          "text:" + ts.getText(doc).trim
        case "ToHTML" =>
          val h = new PDFText2HTML()
          h.setStartPage(1)
          h.setEndPage(1)
          val sw = new StringWriter()
          h.writeText(doc, sw)
          "html:" + sw.toString.replaceAll("(?s)<[^>]*>", "").trim
        case "ToImage" =>
          val img = new PDFRenderer(doc).renderImage(0)
          val bos = new ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val sig = bos.toByteArray.take(8).map("%02x".format(_)).mkString
          s"png:${img.getWidth}x${img.getHeight}:$sig"
        case other => "Error: Unsupported operation: " + other
      }
    }.fold(identity, identity)
}

object Pdf {

  /** Plain scalar-UDF registration surface (SURVEY.md §2.2): the artifact
    * transforms + the reference-dispatch, usable from `spark.sql`. */
  def registerUdfs(s: SparkSession): Unit = {
    import graft.functions.Registration.ensureUdf
    ensureUdf(s, "synth_pdf", udf((p: String, e: Boolean, c: Boolean) => PdfOps.synthPdf(p, e, c)))
    ensureUdf(s, "pdf_to_text", udf((b: Array[Byte]) => PdfOps.toText(b)))
    ensureUdf(s, "pdf_to_html", udf((b: Array[Byte]) => PdfOps.toHtml(b)))
    ensureUdf(s, "pdf_to_image", udf((b: Array[Byte]) => PdfOps.toImagePng(b)))
    ensureUdf(s, "pdf_convert", udf((b: Array[Byte], op: String) => PdfOps.convert(b, op)))
  }

  /** O12–O14 for real: synthesize → convert via PDFBox → error taxonomy.
    * Sampled at doc_id % 5 == 0; the op selector (doc_id % 7) % 4 is
    * decorrelated from both the sample stride and the source cycle (% 20),
    * so every operation hits encrypted AND plain docs at every SF;
    * doc_id % 70 == 0 plays the unfetchable blob. */
  def pdfTransforms(s: SparkSession, d: String): DataFrame = {
    registerUdfs(s)
    // widen: PDF synth + PDFBox convert per row is the scan stage's CPU
    graft.Tables.widen(
      documents(s, d).filter(col("doc_id") % 5 === 0))
      .select(
        col("doc_id"),
        element_at(
          array(lit("ToText"), lit("ToHTML"), lit("ToImage"), lit("ToPdfA")),
          (col("doc_id") % 7 % 4 + 1).cast("int")).as("operation"),
        concat(lit("doc "), col("doc_id"), lit(" "), md5(col("text"))).as("payload"),
        (col("source") === "src0").as("encrypted"),
        (col("doc_id") % 70 === 0).as("corrupt"))
      .withColumn("output",
        call_udf("pdf_convert",
          call_udf("synth_pdf", col("payload"), col("encrypted"), col("corrupt")),
          col("operation")))
      .withColumn("is_error", col("output").startsWith("Error:"))
      .select(col("doc_id"), col("operation"), col("output"), col("is_error"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pdf_transforms" -> (pdfTransforms _)
  )

  val oracle: Map[String, String] = Map(
    "q_pdf_transforms" ->
      """WITH sample AS (
        |  SELECT doc_id,
        |    ['ToText','ToHTML','ToImage','ToPdfA'][CAST(doc_id % 7 % 4 AS INT) + 1] AS operation,
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' ' || md5(text) AS payload,
        |    (source = 'src0') AS encrypted,
        |    (doc_id % 70 = 0) AS corrupt
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, operation,
        |  CASE
        |    WHEN corrupt THEN 'Error: PDF file not found - java.io.IOException'
        |    WHEN encrypted THEN 'Error: File is Encrypted'
        |    WHEN operation = 'ToText' THEN 'text:' || payload
        |    WHEN operation = 'ToHTML' THEN 'html:' || payload
        |    WHEN operation = 'ToImage' THEN 'png:200x100:89504e470d0a1a0a'
        |    ELSE 'Error: Unsupported operation: ' || operation
        |  END AS output,
        |  CASE
        |    WHEN corrupt OR encrypted OR operation NOT IN ('ToText','ToHTML','ToImage')
        |    THEN TRUE ELSE FALSE END AS is_error
        |FROM sample ORDER BY doc_id""".stripMargin
  )
}
