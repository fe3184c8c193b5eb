package graft.parse

import java.util.regex.Pattern
import graft.text.{Dictionaries => D, RuText}
import graft.text.RuText.pyStrip

/** One classified table row emitted by the grid parser.
  *
  * `kind`:
  *  - "okrug"    — okrug header; `okrugText` is the new context (never null)
  *  - "gubernia" — gubernia header; `gubText` null when extraction failed
  *                 (reference :573 — header row skipped but NO context reset)
  *  - "header"   — 1901 section-header separator (skipped, no effect)
  *  - "data"     — data row with rowspan-resolved `cells`
  *
  * `gubFromCell` — 1901-layout gubernia carried in data-cell 0 (T3,
  * reference :661-671); non-null only when that row resets the context.
  */
final case class GridRow(
    file: String,
    fileIdx: Int,
    year: Int,
    rowIdx: Int,
    kind: String,
    okrugText: String,
    gubText: String,
    cells: Seq[String],
    gubFromCell: String)

/** HTML grid scan + stateful table-shape resolution (SURVEY.md S1-S4, S3,
  * T1, T3, T4, T7; populate_db_ru_v1.py:503-675). Pure per-file function:
  * one file's whole text → ordered classified rows with rowspan resolved —
  * downstream, graft.etl.FileResolver folds the dense grid in row order.
  * Runs inside a flatMap; a file is never split across tasks (its
  * sequential state — rowspan counters + header offsets — is file-scoped
  * by design).
  */
object HtmlGrid {

  private val citationPat = Pattern.compile("\\[\\*.*?\\]")
  private val intPat = Pattern.compile("[+-]?\\d+")
  private val specialHeaderClasses =
    Set("section-header", "district-header", "governorate-header", "okrug-header", "oblast-header")

  private def std(s: String): String = RuText.standardizeText(s)

  /** Python int(str) for rowspan values: trimmed optional-sign digits. */
  private def pyInt(s: String): Option[Int] = {
    val t = pyStrip(s)
    if (intPat.matcher(t).matches()) try Some(t.toInt) catch { case _: NumberFormatException => None }
    else None
  }

  def parseFile(fileName: String, fileIdx: Int, year: Int, content: String): Vector[GridRow] = {
    val doc = MiniDom.parse(content)
    val table = doc.find("table").getOrElse(return Vector.empty)
    val tbody = table.find("tbody")
    val rows = tbody match {
      case Some(tb) => tb.findAll("tr", recursive = false)
      case None     => table.findAll("tr", recursive = false)
    }
    if (rows.isEmpty) return Vector.empty

    // S3: header-offset detection (:528-552). Quirk kept bug-for-bug: the
    // thead <tr> count is skipped from the TBODY row list, so each file's
    // first body header row is consumed here and its context is lost
    // (hence the golden "Неизвестно" okrug at every file start).
    val headerRowsCount =
      table.find("thead").map(_.findAll("tr", recursive = false).length).getOrElse(0)
    var offset = 0
    var scanning = true
    var i = 0
    while (scanning && i < rows.length) {
      if (i >= headerRowsCount) {
        val row = rows(i)
        val th = row.findAll("th", recursive = false)
        val td = row.findAll("td", recursive = false)
        if (th.nonEmpty) offset = i + 1 - headerRowsCount
        else if (td.nonEmpty) {
          val colspanHeader = td.length == 1 && td.head.attr("colspan").exists(_.nonEmpty)
          val special = row.classes.exists(specialHeaderClasses.contains) || colspanHeader
          if (special) offset = i + 1 - headerRowsCount else scanning = false
        } else scanning = false
      }
      i += 1
    }
    val startRowIndex = headerRowsCount + offset

    // T4 rowspan state (module globals :31-35, reset per file :524-525).
    var rsPersContent: String = null
    var rsPersCounter = 0
    var rsLocText: String = null
    var rsLocCounter = 0

    val expectedCols = if (year == 1901) 4 else 6
    val locIdx = if (year == 1901) 2 else 4
    val persIdx = if (year == 1901) 3 else 5

    val out = Vector.newBuilder[GridRow]
    for ((row, rowIdx) <- rows.drop(startRowIndex).zipWithIndex) {
      val rawCells = row.findAll("td", recursive = false)
      val firstCellTextRaw = rawCells.headOption.map(_.getText(strip = true)).getOrElse("")
      val headerTextForStd = pyStrip(citationPat.matcher(firstCellTextRaw).replaceAll(""))
      val headerStd = std(headerTextForStd)
      val classes = row.classes
      val firstRawCellIsColspan =
        rawCells.length == 1 && rawCells.head.attr("colspan").exists(_.nonEmpty)

      // T1: header-row classification (:557-584).
      def mk(kind: String, okrug: String = null, gub: String = null) =
        GridRow(fileName, fileIdx, year, rowIdx, kind, okrug, gub, Nil, null)

      val okrugHit = classes.contains("okrug-header") || classes.contains("district-header") ||
        (headerStd != null &&
          (headerStd.contains(D.litOkrugJer) || headerStd.contains(D.litOkrugA)) &&
          firstRawCellIsColspan)
      val gubHit = !okrugHit && (classes.contains("gubernia-header") || classes.contains("oblast-header") ||
        (headerStd != null &&
          (headerStd.contains(D.litGuberniya) || headerStd.contains(D.litOblast)) &&
          firstRawCellIsColspan))

      var headerRow: GridRow = null
      if (okrugHit)
        headerRow = mk("okrug", okrug = if (headerStd != null) headerStd else "Неизвестно")
      else if (gubHit) {
        // Python: std.replace(...)×3 then .strip().rstrip('.') (:571).
        val cleaned = {
          val t = pyStrip(headerStd match {
            case null => ""
            case h => h.replace(D.litGuberniya, "").replace(D.litOblast, "").replace(D.litGubDot, "")
          })
          t.reverse.dropWhile(_ == '.').reverse
        }
        headerRow = mk("gubernia", gub = if (cleaned.nonEmpty) cleaned else null)
      } else if (year == 1901 && classes.contains("section-header")) {
        if (headerStd != null && headerStd.contains(D.litOkrugJer))
          headerRow = mk("okrug", okrug = headerStd)
        else if (headerStd != null && headerStd.contains(D.litGuberniya)) {
          val t = pyStrip(headerStd.replace(D.litGuberniya, ""))
          val cleaned = t.reverse.dropWhile(_ == '.').reverse
          headerRow = mk("gubernia", gub = if (cleaned.nonEmpty) cleaned else null)
        } else headerRow = mk("header")
      }

      if (headerRow != null) out += headerRow
      else {
        // T4: effective-cell materialization with rowspan fill (:585-635).
        // Quirk kept: a virtual (rowspan) cell does NOT consume a raw cell,
        // so remaining raw cells shift left into later schema columns.
        val effective = new Array[String](expectedCols)
        var rawPtr = 0
        for (colIdx <- 0 until expectedCols) {
          var content: String = null
          var useRaw = true
          if (colIdx == persIdx && rsPersCounter > 0 && rsPersContent != null) {
            content = rsPersContent; useRaw = false
          } else if (colIdx == locIdx && rsLocCounter > 0 && rsLocText != null) {
            content = rsLocText; useRaw = false
          }
          if (useRaw) {
            if (rawPtr < rawCells.length) {
              val cell = rawCells(rawPtr)
              content = if (colIdx == persIdx) cell.decodeContents else cell.getText(strip = true)
              cell.attr("rowspan").foreach { rs =>
                pyInt(rs).foreach { span =>
                  if (span > 1) {
                    if (colIdx == persIdx) { rsPersContent = content; rsPersCounter = span }
                    else if (colIdx == locIdx) { rsLocText = content; rsLocCounter = span }
                  }
                }
              }
              rawPtr += 1
            } else content = ""
          }
          effective(colIdx) = content
        }
        if (rsPersCounter > 0) rsPersCounter -= 1
        if (rsLocCounter > 0) rsLocCounter -= 1
        if (rsPersCounter == 0) rsPersContent = null
        if (rsLocCounter == 0) rsLocText = null

        // T7: note/footnote row skip (:643-651), applied AFTER rowspan
        // resolution so counters above already ticked for skipped rows.
        val first = if (effective(0) == null) "" else effective(0)
        val firstLower = first.toLowerCase(java.util.Locale.ROOT)
        val longProseSkip = rawCells.length == 1 &&
          !first.exists(c => !"1234) ".contains(c) && Character.isDigit(c)) &&
          first.length > 30 &&
          !firstLower.contains(D.litUchastok) && !firstLower.contains(D.litInspector)
        val noteSkip = first.startsWith("*") || first.startsWith(")") || first.startsWith("1)") ||
          firstLower.contains(D.litPrimechanie) ||
          firstLower.contains(D.litPenza) || firstLower.contains(D.litChernomor) ||
          longProseSkip

        if (!noteSkip) {
          // T3: 1901 gubernia-in-data-cell detection (:661-669).
          var gubFromCell: String = null
          if (year == 1901) {
            val cand = pyStrip(first)
            if (cand.nonEmpty) {
              val candStd = std(cand)
              if (candStd != null &&
                  (candStd.contains(D.litGuberniya) || candStd.contains(D.litOblast)))
                gubFromCell = pyStrip(candStd.replace(D.litGuberniya, "").replace(D.litOblast, ""))
            }
          }
          out += GridRow(fileName, fileIdx, year, rowIdx, "data", null, null,
            effective.toVector, gubFromCell)
        }
      }
    }
    out.result()
  }
}
