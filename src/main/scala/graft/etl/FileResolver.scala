package graft.etl

import scala.collection.mutable

import graft.parse.{GridRow, MiniDom, ParsedAssignment, Personnel}
import graft.text.RuText
import graft.text.RuText.{pyStrip, stripChars}

/** Stages T2, T5, T6, T8/T9, P1 and E5 as one in-order pass over one
  * file's grid rows (populate_db_ru_v1.py:520-755). The reference walks each
  * roster top to bottom with a handful of "current" values — okrug,
  * gubernia, last city, last personnel record, senior cache — and so does
  * this fold. Pure: it runs in the task that parsed the file.
  *
  * Segments: an okrug header, a gubernia header with a name, or a 1901
  * gubernia-in-cell-0 row starts one. The personnel ditto memory and the
  * senior cache live for one segment; the city ditto and the as-of senior
  * lookup span the whole file.
  *
  * E5 works at canonical-name level (InspectorID equality ⇔ canonical-name
  * equality). Its senior cache is defined over emitted rows: a resolved
  * special row can itself become the cache source for later rows.
  *
  * Each output row carries its final E1–E4 keys, computed here once: the
  * standardized rank, profession and education, the canonical name of a
  * named row, the E3 location key and the location names stored with it.
  * It also carries `seq`, its number among the file's emitted rows, from
  * which the fact's AssignmentID follows without a global sort.
  */
object FileResolver {

  private def appendNote(notes: String, add: String): String =
    RuText.lstripChars((if (notes == null) "" else notes) + add, "; ")

  private def orUnknown(s: String): String = if (s == null) "Неизвестно" else s

  // E3 stored names (:240-245): stripped, empty as NULL.
  private def pyStripOrNull(s: String): String =
    if (s == null || s.isEmpty) null else { val t = pyStrip(s); if (t.isEmpty) null else t }

  /** T6 ditto memory: a record a later `»` cell may repeat (:754 after the
    * :748 skip — named, non-vacancy, non-special, canonicalizable). */
  private def rememberable(r: ParsedAssignment): Boolean =
    r.name != null && !r.isVacancy && r.specialRole == null &&
      RuText.canonicalInspectorName(r.name) != null

  def resolveFile(grid: Vector[GridRow]): Iterator[AsgResolved] = {
    var okrug, gub, lastCity, seniorCache: String = null
    var dittoMemory: ParsedAssignment = null
    // (okrug, gub) → last emitted senior-role row with an inspector:
    // (inspectorKey, stdRank, stdProf, stdEdu) — the as-of lookup target.
    val lastSenior = mutable.HashMap[(String, String), (String, String, String, String)]()
    var emittedSoFar = 0 // rows come out in (rowIdx, ord) order

    grid.iterator.flatMap { g =>
      // T2: okrug fill; okrug headers reset gubernia to "Неизвестно" (:567);
      // a gubernia header whose name failed extraction changes nothing (:573).
      val gubVal = if (g.kind == "gubernia") g.gubText else g.gubFromCell
      if (g.kind == "okrug") { okrug = g.okrugText; gub = null }
      if (gubVal != null) gub = gubVal
      if (g.kind == "okrug" || gubVal != null) { dittoMemory = null; seniorCache = null }

      val cells = g.cells
      val (descIdx, locIdx, persIdx) = if (g.year == 1901) (1, 2, 3) else (0, 4, 5)
      // T5: location ditto over the file's data rows (:677-681); std strips
      // internally (:39).
      val ownCity = if (g.kind == "data") RuText.standardizeText(cells(locIdx)) else null
      if (ownCity != null && ownCity != "»") lastCity = ownCity

      // :680 — a data row with no city and no earlier one is dropped before
      // its personnel cell is read.
      if (g.kind != "data" || lastCity == null) Nil
      else {
        // T6: personnel parse + ditto (:700-706). The ditto check is
        // standardize_text(html.unescape(cell).strip()) (:701); a ditto
        // repeats the last rememberable record of a strictly earlier row in
        // the segment. An unparseable or empty cell, or a ditto with no
        // memory, yields no records and so drops the row (:708).
        val persHtml = cells(persIdx)
        val dittoKey = RuText.standardizeText(pyStrip(MiniDom.unescapeEntities(persHtml)))
        val records: Seq[ParsedAssignment] =
          if (dittoKey == null) Nil
          else if (dittoKey == "»") Option(dittoMemory).toList
          else {
            val parsed = Personnel.parse(persHtml)
            parsed.reverseIterator.find(rememberable).foreach(dittoMemory = _)
            parsed
          }
        val (rowOkrug, rowGub) = (orUnknown(okrug), orUnknown(gub))
        // PersonnelRawString (:767): html.unescape(cell.strip()).
        val persRaw = MiniDom.unescapeEntities(pyStrip(persHtml))
        // T8 role (:683-698) and T9 stats (:656-659, 6-column years only).
        val (role, uchId, uchDesc) = RoleClassifier.classify(pyStrip(cells(descIdx)))
        def stat(i: Int): Integer = if (g.year == 1901) null else RuText.cleanNumber(cells(i))
        val (estCount, workCount, boilCount) = (stat(1), stat(2), stat(3))
        // E3 location key, standardized with the city stripped of " .,:;"
        // (:221-235), and the names a new location stores.
        val cityKey = RuText.standardizeText(lastCity)
        val locKeyCity = if (cityKey == null) null else stripChars(cityKey, " .,:;")
        val locKeyGub = RuText.standardizeText(rowGub)
        val locKeyOkrug = RuText.standardizeText(rowOkrug)
        // The city name a new location stores is `cityStd` (= `lastCity`):
        // a standardizeText result is already stripped and never empty.
        val (locGub, locOkrug) = (pyStripOrNull(rowGub), pyStripOrNull(rowOkrug))

        // P1 explode, then E5 per record in cell order (:724-744).
        records.zipWithIndex.map { case (r, ord) =>
          var inspKey: String = null
          var rankK = r.rankAbbr
          var profK = r.profAbbr
          var eduK = r.eduAbbr
          var notes = r.notes
          var emit = true

          if (!r.isVacancy && (r.name != null || r.specialRole != null)) {
            if (r.specialRole == "старший инспектор") {
              if (seniorCache != null) inspKey = seniorCache // cache hit: no backfill (:726-728)
              else lastSenior.get((rowOkrug, rowGub)) match {
                case Some((k, rk, pk, ek)) => // DB as-of hit: backfill (:730-741)
                  inspKey = k
                  if (rk != null) rankK = rk
                  if (pk != null) profK = pk
                  if (ek != null) eduK = ek
                case None =>
                  notes = appendNote(notes, "; Обслуж. ст.инсп.(ID не найден)")
              }
            } else if (r.name != null) {
              inspKey = RuText.canonicalInspectorName(r.name)
            }
            // :748 — named non-special non-vacancy rows that failed resolution
            // are skipped entirely.
            if (inspKey == null && !r.isVacancy && r.specialRole == null && r.name != null)
              emit = false
          }

          // E1/E2 keys (:757-762), after any backfill; the cache keeps them.
          val stdRank = RuText.standardizeText(rankK)
          val stdProf = RuText.standardizeText(profK)
          val stdEdu = RuText.standardizeText(eduK)
          if (emit && role == "Старший инспектор" && inspKey != null) {
            seniorCache = inspKey // :751-752
            lastSenior((rowOkrug, rowGub)) = (inspKey, stdRank, stdProf, stdEdu)
          }
          // Only emitted named rows create Inspectors entries (:745-746).
          val canonName = if (emit && r.specialRole == null && !r.isVacancy) inspKey else null
          if (emit) emittedSoFar += 1
          AsgResolved(
            g.file, g.year, g.rowIdx, ord,
            rowOkrug, rowGub, role, uchId, uchDesc, lastCity, persRaw,
            inspKey, canonName, stdRank, stdProf, stdEdu,
            locKeyCity, locKeyGub, locKeyOkrug, locGub, locOkrug,
            r.startDateRaw, r.endDateRaw, r.isVacancy, r.isActing, notes, r.specialRole,
            estCount, workCount, boilCount, emit, emittedSoFar)
        }
      }
    }
  }
}
