package graft.sinks

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.util.{Broadcasts, Par}
import org.apache.spark.sql.DataFrame

/** K2 — Excel workbook sink (src/sinks/excel/index.ts:9-69) written as
  * a minimal OOXML .xlsx directly through java.util.zip — no external
  * spreadsheet dependency (zero-egress build).
  *
  * Reference semantics preserved: sheet per table with sheet names
  * SORTED; header row from the first row's column names, bold on a grey
  * (FFE0E0E0) solid fill; null → ''; minimum column width 15; empty
  * tables still get an (empty) sheet.
  *
  * Driver-side by design: derived tables are dimension-sized (≪10⁶
  * rows), and a sheet holds at most `MaxRows` data rows. The 100 TB
  * path is the parquet/JSONL sinks; Excel is a human hand-off format.
  */
object ExcelSink {

  /** Data rows one sheet can hold: the format's 1,048,576 rows less
    * the header row. */
  val MaxRows = 1048575

  /** Write one sheet per table; returns each sheet's data-row count,
    * keyed by table name (the rows were collected for the sheet
    * anyway, so callers never re-run a table to count it).
    *
    * `checks` (e.g. integrity checks) and the sheet collects run side
    * by side; the workbook is opened only once all of them succeeded,
    * and a failing check wins over a failing collect (checks first in
    * `Par.map`'s input order). A table with more than `MaxRows` rows
    * fails the write: no sheet is silently cut. */
  def write(tables: Map[String, DataFrame], outputPath: String,
            checks: Seq[() => Unit] = Nil): Map[String, Long] = {
    val names = tables.keys.toSeq.sorted
    val actions: Seq[() => Option[SheetData]] = checks.map(c => () => { c(); None }) ++
      names.zipWithIndex.map { case (name, i) => () => Some(collectSheet(name, i + 1, tables(name))) }
    val sheets = Par.map(actions)(_()).flatten
    val parent = new java.io.File(outputPath).getParentFile
    if (parent != null) parent.mkdirs()
    val zip = new ZipOutputStream(new FileOutputStream(outputPath))
    try {
      put(zip, "[Content_Types].xml", contentTypes(sheets))
      put(zip, "_rels/.rels", rootRels)
      put(zip, "xl/workbook.xml", workbookXml(sheets))
      put(zip, "xl/_rels/workbook.xml.rels", workbookRels(sheets))
      put(zip, "xl/styles.xml", stylesXml)
      sheets.foreach(s => put(zip, s"xl/worksheets/sheet${s.index}.xml", sheetXml(s)))
    } finally zip.close()
    sheets.map(s => s.name -> s.rows.length.toLong).toMap
  }

  private case class SheetData(name: String, index: Int, cols: Seq[String],
                               rows: Seq[Seq[Option[Any]]])

  /** Collects at most one row past the limit, so an oversized table
    * fails without being collected whole. */
  private def collectSheet(name: String, index: Int, df: DataFrame): SheetData = {
    val rows = Broadcasts.collect(df.limit(MaxRows + 1))
    if (rows.length > MaxRows)
      throw new IllegalStateException(
        s"Table $name has more than $MaxRows data rows, the limit of one Excel sheet")
    val cols = df.columns.toSeq
    SheetData(name, index, cols, rows.toSeq.map(r => cols.indices.map(j => Option(r.get(j)))))
  }

  private def put(zip: ZipOutputStream, path: String, content: String): Unit = {
    zip.putNextEntry(new ZipEntry(path))
    zip.write(content.getBytes("UTF-8"))
    zip.closeEntry()
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** A, B, …, Z, AA, AB, … */
  def colLetter(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) {
      val r = (n - 1) % 26
      sb.insert(0, ('A' + r).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  private def cellXml(ref: String, v: Option[Any], styleId: Int): String = {
    val s = if (styleId > 0) s""" s="$styleId"""" else ""
    v match {
      case None => s"""<c r="$ref"$s t="inlineStr"><is><t></t></is></c>"""
      case Some(n: Number) => s"""<c r="$ref"$s><v>$n</v></c>"""
      case Some(b: Boolean) => s"""<c r="$ref"$s t="b"><v>${if (b) 1 else 0}</v></c>"""
      case Some(x) =>
        s"""<c r="$ref"$s t="inlineStr"><is><t xml:space="preserve">${esc(x.toString)}</t></is></c>"""
    }
  }

  private def sheetXml(s: SheetData): String = {
    val colsXml =
      if (s.cols.isEmpty) ""
      else s.cols.indices.map(i =>
        s"""<col min="${i + 1}" max="${i + 1}" width="15" customWidth="1"/>""")
        .mkString("<cols>", "", "</cols>")
    val header =
      if (s.cols.isEmpty) """<row r="1"/>"""
      else s.cols.zipWithIndex.map { case (c, i) =>
        cellXml(s"${colLetter(i)}1", Some(c), styleId = 1)
      }.mkString(s"""<row r="1">""", "", "</row>")
    val data = s.rows.zipWithIndex.map { case (r, ri) =>
      r.zipWithIndex.map { case (v, ci) =>
        cellXml(s"${colLetter(ci)}${ri + 2}", v, styleId = 0)
      }.mkString(s"""<row r="${ri + 2}">""", "", "</row>")
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
       |$colsXml<sheetData>$header$data</sheetData></worksheet>""".stripMargin
  }

  /** Style 1 = bold font on solid FFE0E0E0 fill (the reference's header
    * style, excel/index.ts:38-44). */
  private val stylesXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<fonts count="2"><font/><font><b/></font></fonts>
      |<fills count="3"><fill><patternFill patternType="none"/></fill>
      |<fill><patternFill patternType="gray125"/></fill>
      |<fill><patternFill patternType="solid"><fgColor rgb="FFE0E0E0"/></patternFill></fill></fills>
      |<borders count="1"><border/></borders>
      |<cellStyleXfs count="1"><xf/></cellStyleXfs>
      |<cellXfs count="2"><xf xfId="0"/><xf xfId="0" fontId="1" fillId="2" applyFont="1" applyFill="1"/></cellXfs>
      |</styleSheet>""".stripMargin

  private def contentTypes(sheets: Seq[SheetData]): String = {
    val overrides = sheets.map(s =>
      s"""<Override PartName="/xl/worksheets/sheet${s.index}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
       |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
       |<Default Extension="xml" ContentType="application/xml"/>
       |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
       |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
       |$overrides</Types>""".stripMargin
  }

  private val rootRels: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin

  private def workbookXml(sheets: Seq[SheetData]): String = {
    val entries = sheets.map(s =>
      s"""<sheet name="${esc(s.name)}" sheetId="${s.index}" r:id="rIdS${s.index}"/>""").mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
       | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
       |<sheets>$entries</sheets></workbook>""".stripMargin
  }

  private def workbookRels(sheets: Seq[SheetData]): String = {
    val entries = sheets.map(s =>
      s"""<Relationship Id="rIdS${s.index}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${s.index}.xml"/>""")
      .mkString
    val styles = """<Relationship Id="rIdStyles" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>"""
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
       |$entries$styles</Relationships>""".stripMargin
  }
}
