"""Seeded generator of fabricYYYY.html rosters shaped like the paper's corpus.

Every structural variant the ETL handles is produced: the 4-column 1901
layout with class-tagged 4-cell headers and `"` ditto marks, the 6-column
layouts with single-colspan okrug/gubernia headers (1902 `no-data` dashes,
1910 classes and HTML comments, 1913 `role-section` / `dotted-line` /
`citation-mark` / `footnote-ref` noise and `oblast-section` headers),
personnel and location rowspans, `»` ditto marks, senior back-references,
candidate rows, note rows, a footnote block after the table and
dot-thousands statistics.

Personnel cells are drawn unaltered from the reference-parsed cases file.
The same seed always gives the same bytes. `generate` returns the manifest:
every placed case cell with its expected records, plus file, row and byte
counts.
"""
import json
import os
import random

REFERENCE_YEARS = [1901, 1902, 1903, 1904, 1905, 1906, 1907, 1909, 1910, 1912, 1913]

OKRUGS = ["Московскій", "С.-Петербургскій", "Варшавскій", "Кіевскій", "Харьковскій",
          "Казанскій", "Владимірскій", "Рижскій", "Виленскій", "Воронежскій"]
GUBERNIAS = ["Московская", "Тверская", "Ярославская", "Калужская", "Тульская", "Рязанская",
             "Смоленская", "Новгородская", "Псковская", "Петроковская", "Радомская",
             "Кіевская", "Подольская", "Волынская", "Херсонская", "Казанская",
             "Симбирская", "Пензенская", "Владимірская", "Костромская", "Нижегородская",
             "Лифляндская", "Курляндская", "Эстляндская", "Виленская", "Гродненская",
             "Воронежская", "Тамбовская", "Орловская", "Курская"]
CITIES = ["Москва.", "С.-Петербургъ.", "Варшава.", "Кіевъ.", "Харьковъ.", "Казань.",
          "Владиміръ.", "Рига.", "Вильна.", "Воронежъ.", "Тверь.", "Ярославль.", "Тула.",
          "Калуга.", "Рязань.", "Смоленскъ.", "Новгородъ.", "Псковъ.", "Лодзь.", "Радомъ.",
          "Житоміръ.", "Одесса.", "Симбирскъ.", "Пенза.", "Кострома.", "Нижній-Новгородъ.",
          "Иваново-Вознесенскъ.", "Шуя.", "Серпуховъ.", "Богородскъ.", "Орелъ.", "Курскъ.",
          "Гродна.", "Ревель.", "Митава.", "Тамбовъ.", "Вышній-Волочекъ.", "Коломна."]
SENIOR_DESC = "Старшій фабричный инспекторъ."
CANDIDATE_DESC = "Кандидатъ на должность фабричнаго инспектора."
ASSISTANT_DESC = "Помощникъ старшаго инспектора."
NOTE_TEXTS = ["*) Примѣчаніе: участокъ временно вакантенъ.",
              "1) Примѣчаніе: данныя за первое полугодіе.",
              "*) Въ участокъ входятъ также уѣзды сосѣдней губерніи."]
# Layout styles by the reference year they imitate.
STYLES = {1901: "1901", 1902: "1902", 1903: "1902", 1904: "1902", 1905: "1902",
          1906: "1902", 1907: "1910", 1909: "1910", 1910: "1910", 1912: "1913", 1913: "1913"}


def load_cases(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


class _File:
    def __init__(self, rng, year, style, cases, target_rows):
        self.rng, self.year, self.style = rng, year, style
        self.cols = 4 if year == 1901 else 6
        self.cases = cases
        self.target = target_rows
        self.lines, self.placed, self.rows = [], [], 0

    # -- cells -----------------------------------------------------------
    def person(self):
        case = self.cases[self.rng.randrange(len(self.cases))]
        self.placed.append(case)
        return case["input"]

    def stat(self):
        r = self.rng.random()
        if r < 0.15:
            return '<td class="no-data">—</td>' if self.style == "1902" else "<td>—</td>"
        n = self.rng.randrange(1, 9000)
        if n >= 1000 and r < 0.55:
            s = f"{n // 1000}.{n % 1000:03d}"
        elif n >= 1000 and r < 0.7:
            s = f"{n // 1000},{n % 1000:03d}"
        elif n >= 1000 and r < 0.8:
            s = f"{n // 1000} {n % 1000:03d}"
        else:
            s = str(n)
        return f"<td>{s}</td>"

    def desc(self, text):
        if self.style == "1913" and self.rng.random() < 0.3:
            text += '<span class="dotted-line">. . . . .</span>'
        if self.style == "1913" and self.rng.random() < 0.05:
            text += '<span class="footnote-ref">*</span>'
        return text

    # -- rows ------------------------------------------------------------
    def tr(self, html, cls=None):
        attr = f' class="{cls}"' if cls else ""
        self.lines.append(f"<tr{attr}>{html}</tr>")
        self.rows += 1

    def header(self, text, kind):
        if self.cols == 4:
            self.tr(f"<td>{text}</td><td></td><td></td><td></td>", f"{kind}-header")
        else:
            cls = {"okrug": "okrug-header", "gubernia": "gubernia-header"}[kind]
            if self.style == "1902" and kind == "okrug":
                cls = "district-header"
            elif self.style == "1913" and kind == "gubernia" and self.rng.random() < 0.2:
                cls, text = "oblast-header", text.replace("губернія", "область")
            wrapped = text.replace(" ", "<br>", 1) if self.style == "1913" and self.rng.random() < 0.3 else text
            self.tr(f'<td colspan="6">{wrapped}</td>', cls)

    def data_row(self, desc, state, cls=None):
        """One data row; `state` carries the active rowspans of this file."""
        rng = self.rng
        cells = []
        if self.cols == 4:
            cells.append("<td></td>")
        cells.append(f"<td>{self.desc(desc)}</td>")
        if self.cols == 6:
            cells += [self.stat(), self.stat(), self.stat()]
        if state["loc"] > 0:
            state["loc"] -= 1
        else:
            r = rng.random()
            ditto = '"' if self.cols == 4 else "»"
            if r < 0.2 and state["had_city"]:
                if self.style == "1913":
                    ditto = '<span class="citation-mark">»</span>'
                cells.append(f'<td class="ditto">{ditto}</td>' if self.style == "1910" else f"<td>{ditto}</td>")
            elif r < 0.25:
                span = rng.randrange(2, 4)
                state["loc"] = span - 1
                cells.append(f'<td rowspan="{span}">{rng.choice(CITIES)}</td>')
                state["had_city"] = True
            else:
                cells.append(f"<td>{rng.choice(CITIES)}</td>")
                state["had_city"] = True
        if state["pers"] > 0:
            state["pers"] -= 1
        else:
            r = rng.random()
            if r < 0.08 and state["had_person"]:
                cells.append("<td>»</td>")
            elif r < 0.11:
                cells.append('<td class="empty">—</td>' if self.style == "1910" else "<td>(Нетъ данныхъ)</td>")
            elif r < 0.16:
                cells.append(f'<td rowspan="2">{self.person()}</td>')
                state["pers"] = 1
                state["had_person"] = True
            else:
                cells.append(f"<td>{self.person()}</td>")
                state["had_person"] = True
        self.tr("".join(cells), cls)

    def build(self, okrugs, gubernias):
        rng = self.rng
        th = "".join(f"<th>{h}</th>" for h in (
            ["Губернія", "Должность", "Мѣстопребываніе", "Личный составъ"] if self.cols == 4 else
            ["Участки", "Заведеній", "Рабочихъ", "Котловъ", "Мѣстопребываніе", "Личный составъ"]))
        self.lines.append(f"<thead><tr>{th}</tr></thead>")
        self.lines.append("<tbody>")
        self.header(f"{okrugs[0]} фабричный округъ.", "okrug")  # consumed by the header-offset scan
        state = {"loc": 0, "pers": 0, "had_city": False, "had_person": False}
        per_okrug = max(1, len(gubernias) // len(okrugs))
        gi = 0
        while self.rows < self.target:
            okrug = okrugs[gi // per_okrug % len(okrugs)]
            if gi % per_okrug == 0:
                if self.style == "1910":
                    self.lines.append(f"<!-- {okrug} округъ -->")
                self.header(f"{okrug} фабричный округъ.", "okrug")
                state.update(loc=0, pers=0)
            self.header(f"{gubernias[gi % len(gubernias)]} губернія.", "gubernia")
            state.update(loc=0, pers=0)
            gi += 1
            if rng.random() < 0.9:
                self.data_row(SENIOR_DESC, state, "senior-inspector" if self.style == "1910" else None)
            if self.style == "1913" and rng.random() < 0.3:
                self.data_row(ASSISTANT_DESC, state, "role-section")
            n_uch = rng.randrange(3, 14)
            for u in range(1, n_uch + 1):
                if self.rows >= self.target and state["loc"] == 0 and state["pers"] == 0:
                    break
                r = rng.random()
                if r < 0.05:
                    self.data_row(CANDIDATE_DESC, state, "candidate")
                elif r < 0.07 and state["loc"] == 0 and state["pers"] == 0:
                    self.tr(f'<td colspan="{self.cols}">{rng.choice(NOTE_TEXTS)}</td>', "note")
                elif r < 0.09:
                    self.data_row("Вся губернія составляетъ одинъ участокъ.", state)
                else:
                    label = f"{u}-й участокъ." if rng.random() < 0.3 else f"{u} участокъ."
                    self.data_row(label, state)
        self.lines.append("</tbody>")


def generate(out_dir, seed, rows_per_file, cases):
    """Write the 11 files of the reference year list to `out_dir`; return
    the manifest dict."""
    os.makedirs(out_dir, exist_ok=True)
    placed, rows, size = [], 0, 0
    for year in REFERENCE_YEARS:
        rng = random.Random(f"{seed}/0/{year}")
        okrugs = rng.sample(OKRUGS, rng.randrange(2, 4))
        gubernias = rng.sample(GUBERNIAS, rng.randrange(6, 12))
        f = _File(rng, year, STYLES[year], cases, rows_per_file)
        f.build(okrugs, gubernias)
        notes = "".join(f"<p>{t}</p>" for t in NOTE_TEXTS[:2])
        html = ("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
                f"<title>Личный составъ фабричной инспекціи на {year} годъ</title></head>\n<body>\n"
                f"<h1>Фабричная инспекція. {year}</h1>\n<table>\n" + "\n".join(f.lines) +
                f"\n</table>\n<div class=\"footnotes\">{notes}</div>\n</body></html>\n")
        data = html.encode("utf-8")
        with open(os.path.join(out_dir, f"fabric{year}.html"), "wb") as fh:
            fh.write(data)
        placed += f.placed
        rows += f.rows
        size += len(data)
    return {"files": len(REFERENCE_YEARS), "rows": rows, "bytes": size, "cells": placed}
