#!/usr/bin/env python3
"""Artifact-derived status numbers for README's Status section (r15
verdict ask #7: the hand-written counts drifted from the measured test
reports — derive them from artifacts instead).

Reads:
  - target/test-reports/*.xml   (scalatest JUnit XML: suites, tests)
  - the sbt test log            (canceled tests by name: the JUnit XML
                                 lists `assume`-canceled tests as passes)
  - CORRECTNESS_r{N}.json       (newest: registered/hash-green/no_oracle)
  - bench_full_sf0.1_r{N}.json  (newest: headline + extended totals)

Usage: python3 tools/status_counts.py [SBT_LOG]   (from the repo root)

SBT_LOG defaults to the newest of sbt's own test-task logs under
target/streams; pass a saved console log of a test run instead when that
run was not the last one.

Exits 1 when a test canceled although its input is present: a plan pin
(HeadlinePlanSpec, ExtendedPlanSpec) while the spec's `SfDir` holds
lineitem.parquet, a plan invariant (PlanInvariantSpec) while its `SfDir`
holds documents.parquet, or a real-corpus golden (GoldenEtlSpec, JdbcSinkSpec)
while the spec's `corpus` directory exists. Each input path is read from
the spec's source, so the gate follows the spec.
"""
import glob
import json
import os
import re
import sys
import xml.etree.ElementTree as ET

SBT_LOGS = ["target/streams/test/test/_global/streams/out",
            "target/streams/test/testOnly/_global/streams/out"]

# suite -> (Scala val in the suite's source holding its input path,
#           file inside that path the suite needs; None = the dir itself)
INPUT_GATED = {
    "HeadlinePlanSpec": ("SfDir", "lineitem.parquet"),
    "ExtendedPlanSpec": ("SfDir", "lineitem.parquet"),
    "PlanInvariantSpec": ("SfDir", "documents.parquet"),
    "GoldenEtlSpec": ("corpus", None),
    "JdbcSinkSpec": ("corpus", None),
}


def newest(pattern):
    def roundno(p):
        m = re.search(r"r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1
    paths = glob.glob(pattern)
    return max(paths, key=roundno) if paths else None


def canceled_tests(log_path):
    """(suite, test, reason) of every canceled test in an sbt test log,
    and the log's last `Tests:` summary line."""
    suite, canceled, summary = None, [], None
    lines = [re.sub(r"^\[\w+\] ?", "", l.rstrip("\n"))
             for l in open(log_path, encoding="utf-8", errors="replace")]
    for i, line in enumerate(lines):
        m = re.match(r"^(\w+):$", line)
        if m:
            suite = m.group(1)
        m = re.match(r"^- (.*) !!! CANCELED !!!$", line)
        if m:
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            reason = nxt.strip() if nxt.startswith("  ") else ""
            canceled.append((suite, m.group(1), reason))
        if line.startswith("Tests: succeeded"):
            summary = line
    return canceled, summary


def gated_input(suite):
    """The input path whose presence makes a cancel in `suite` a failure,
    or None for suites without one."""
    if suite not in INPUT_GATED:
        return None
    name, inside = INPUT_GATED[suite]
    src = open(f"src/test/scala/graft/{suite}.scala", encoding="utf-8").read()
    m = re.search(rf'private val {name} = "([^"]*)"', src)
    if not m:
        sys.exit(f"{suite}.scala: no `private val {name}` input path")
    return os.path.join(m.group(1), inside) if inside else m.group(1)


def main():
    unexpected = []
    xmls = glob.glob("target/test-reports/*.xml")
    suites = tests = failures = errors = 0
    for p in xmls:
        root = ET.parse(p).getroot()
        nodes = [root] if root.tag == "testsuite" else root.findall("testsuite")
        for s in nodes:
            suites += 1
            tests += int(s.get("tests", 0))
            failures += int(s.get("failures", 0))
            errors += int(s.get("errors", 0))
    print(f"tests: {tests} across {suites} suites "
          f"({failures} failures, {errors} errors)")

    logs = sys.argv[1:] or [p for p in SBT_LOGS if os.path.exists(p)]
    if logs:
        log = max(logs, key=os.path.getmtime)
        canceled, summary = canceled_tests(log)
        print(f"{log}: {summary or 'no Tests: summary line'}")
        print(f"canceled: {len(canceled)} (the JUnit XML counts them as passes)")
        for suite, test, reason in canceled:
            print(f"  {suite}: {test} -- {reason}")
            path = gated_input(suite)
            if path and os.path.exists(path):
                unexpected.append(f"{suite}: {test} (input {path} is present)")

    cpath = newest("CORRECTNESS_r*.json")
    if cpath:
        c = json.load(open(cpath))
        n = len(c)
        green = sum(1 for v in c.values() if v.get("hash_match") is True)
        no_oracle = sorted(k for k, v in c.items()
                           if v.get("err") == "no_oracle")
        bad = sorted(k for k, v in c.items()
                     if v.get("err") not in (None, "no_oracle")
                     or v.get("hash_match") is False
                     or v.get("rows_match") is False)
        print(f"{os.path.basename(cpath)}: {n} queries, {green} hash-green, "
              f"{len(no_oracle)} no_oracle ({', '.join(no_oracle)})")
        if bad:
            print(f"  FAILING: {', '.join(bad)}")

    bpath = newest("bench_full_sf0.1_r*.json")
    if bpath:
        b = json.load(open(bpath))
        ext = b.get("extended", {})
        n_ext = len(ext)
        print(f"{os.path.basename(bpath)}: headline {b.get('value')}s warm / "
              f"{b.get('total_cold')}s cold; extended {b.get('extended_total')}s "
              f"across {n_ext} queries; errors {b.get('errors')}; "
              f"loadavg_pre {b.get('loadavg_pre')}")
        for g in b.get("ext_groups", []):
            if "sec" in g:
                print(f"  group {g['tag']}: n={g['n']} {g['sec']}s "
                      f"(cold {g['sec_cold']}s)")

    spath = newest("CORRECTNESS_sf0.1_r*.json")
    if spath:
        c = json.load(open(spath))
        green = sum(1 for v in c.values() if v.get("hash_match") is True)
        print(f"{os.path.basename(spath)}: {len(c)} bench-scale queries, "
              f"{green} hash-green")

    if unexpected:
        print(f"FAIL: {len(unexpected)} canceled with their input present:")
        for u in unexpected:
            print(f"  {u}")
        sys.exit(1)


if __name__ == "__main__":
    main()
