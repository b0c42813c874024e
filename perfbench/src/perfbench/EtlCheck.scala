package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.tools.RunEtl

/** Reads back the five entity CSVs an `ExtractJob.run` wrote and checks
  * them against the generator's expectation: header row equal to
  * `RunEtl.defaultConfig`, rows equal (in document order) to the
  * expected rows, every child code prefixed by its parent code, and the
  * run's reported counts equal to the expected counts.
  */
object EtlCheck {

  final case class Outcome(errors: Seq[String], hash: String)

  /** Files holding one entity's rows, in row order. */
  private def entityFiles(out: Path, suffix: String, singleFile: Boolean): Seq[Path] =
    if (singleFile) Seq(out.resolve(s"${Ops.OutputName}.$suffix.csv"))
    else {
      val dir = out.resolve(s"${Ops.OutputName}.$suffix.csv.d")
      scala.util.Using.resource(Files.list(dir)) { s =>
        s.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") && n.endsWith(".csv")
          }.toSeq.sortBy(_.getFileName.toString)
      }
    }

  /** RFC 4180 parse of one file (quoted fields, `""` escapes, CRLF). */
  private def parseCsv(text: String): IndexedSeq[IndexedSeq[String]] = {
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    var row = IndexedSeq.newBuilder[String]
    val field = new java.lang.StringBuilder
    var inQuotes = false
    var i = 0
    var rowStarted = false
    def endField(): Unit = { row += field.toString; field.setLength(0) }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') {
            field.append('"'); i += 1
          } else inQuotes = false
        } else field.append(c)
      } else c match {
        case '"' => inQuotes = true; rowStarted = true
        case ',' => endField(); rowStarted = true
        case '\r' if i + 1 < text.length && text.charAt(i + 1) == '\n' =>
          endField(); rows += row.result(); row = IndexedSeq.newBuilder
          rowStarted = false; i += 1
        case other => field.append(other); rowStarted = true
      }
      i += 1
    }
    if (rowStarted || field.length > 0) { endField(); rows += row.result() }
    rows.result()
  }

  def verify(
      out: Path,
      singleFile: Boolean,
      corpus: CellGen.Corpus,
      reported: Map[String, Long]): Outcome = {
    val errors = Seq.newBuilder[String]
    val md = MessageDigest.getInstance("SHA-256")
    val config = RunEtl.defaultConfig
    for (entity <- CellGen.Entities) {
      val cfg = config.data(entity)
      val headers = cfg.outputHeaders.toIndexedSeq
      val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
      val files = entityFiles(out, cfg.filenameSuffix, singleFile)
      if (files.isEmpty) errors += s"$entity: no output file"
      for (f <- files) {
        val parsed = parseCsv(new String(Files.readAllBytes(f), UTF_8))
        if (parsed.isEmpty || parsed.head != headers)
          errors += s"$entity: header ${parsed.headOption.getOrElse(Nil)} " +
            s"in ${f.getFileName}, expected $headers"
        rows ++= parsed.drop(1)
      }
      val got = rows.result()
      val want = corpus.expected(entity)
      md.update(entity.getBytes(UTF_8))
      got.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes(UTF_8)))
      if (reported.get(entity) != Some(want.length.toLong))
        errors += s"$entity: job reported ${reported.get(entity)} rows, " +
          s"generator expects ${want.length}"
      if (got.length != want.length)
        errors += s"$entity: ${got.length} rows written, expected ${want.length}"
      val firstDiff = got.zip(want).indexWhere { case (g, w) => g != w }
      if (firstDiff >= 0)
        errors += s"$entity: row $firstDiff is ${show(got(firstDiff))}, " +
          s"expected ${show(want(firstDiff))}"
      if (entity != "province" && entity != "island") {
        val orphan = got.find(r => r.length < 2 || !r(0).startsWith(r(1)))
        orphan.foreach(r => errors += s"$entity: code ${show(r)} " +
          "does not start with its parent code")
      }
      if (entity == "island") {
        val orphan = got.find(r => r(1).nonEmpty && !r(0).startsWith(r(1)))
        orphan.foreach(r => errors += s"island: code ${show(r)} " +
          "does not start with its regency code")
      }
    }
    Outcome(errors.result(),
      md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  private def show(r: IndexedSeq[String]): String =
    r.map(f => "\"" + f.flatMap {
      case c if c < ' ' || c == '\u00A0' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\"").mkString("[", ",", "]")
}
