#!/usr/bin/env python3
"""Benchmark of the engine: the paper's HTML → star-schema ETL and the
star / top-k query mix, run closed loop from one JVM with one client thread.

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness into .bench_build/ (perfbench/build.sh); inputs are generated from
the seed under .bench_build/inputs/ (etl_reference); query_mix reads the
frozen sf0.01 tables bundled in perfbench/data/. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (the
traced run also writes its spans as JSON lines next to its outputs).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

BUILD = os.path.join(ROOT, ".bench_build")
CASES = os.path.join(ROOT, "tools", "golden", "personnel_cases.jsonl")
DIGESTS = os.path.join(HERE, "digests.json")
TABLES = os.path.join(HERE, "data", "sf0.01")
DEADLINE_S = 175
WORKLOADS = ["etl_reference", "query_mix"]
ETL_ROWS_PER_FILE = 400

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s_per_op", "s"), ("live_mb", "MB")]
ENGINE_LAYERS = [
    ("op.p50_s", "s"), ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"), ("executor.busy_ratio", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("memory.peak_exec_mb", "MB"), ("storage.cached_blocks", "count"), ("driver.result_mb", "MB"),
    ("driver.outside_jobs_s", "s"),
    ("session.build_s", "s"), ("session.warm_s", "s"), ("trace.overhead_s", "s"), ("warm.residue_s", "s")]
ETL_LAYERS = [
    ("etl.rows_per_s", "1/s"), ("etl.grid_s", "s"), ("etl.resolve_self_s", "s"), ("etl.tables_self_s", "s"),
    ("etl.sink_self_s", "s"), ("ops.sequence_by_s", "s"), ("scheduler.op_shapes", "count"),
    ("parse.grid_rows_per_s", "1/s"), ("parse.personnel_cells_per_s", "1/s"),
    ("text.standardize_per_s", "1/s"), ("text.canon_name_per_s", "1/s")]
MIX_LAYERS = [("query.star_pass_s", "s"), ("query.topk_pass_s", "s"), ("quality.ann_recall_at_1", "ratio")]
STAR = [
    "q01_pricing_summary", "q02_filter_projection", "q03_broadcast_join_agg", "q04_shuffle_join_agg",
    "q05_semi_join", "q06_anti_join", "q07_conditional_null", "q08_distinct_pairs", "q09_surrogate_rank",
    "q10_rollup_region", "q11_cube_segments", "q12_window_running", "q13_topk_parts", "q14_set_ops",
    "q15_explode_words", "q16_string_funcs", "q17_date_parts", "q18_pivot_status", "q19_nullsafe_join",
    "q20_range_join", "q21_asof_join", "q22_event_hourly", "q23_sessionize", "q24_json_extract",
    "q25_star_join", "d01_dedup_exact", "d02_token_stats", "d03_word_freq", "d04_quality_score",
    "d05_lang_source"]
TOPK = ["d07_cosine_topk", "d17_ivf_ann"]
PER_LAYER = ENGINE_LAYERS + ETL_LAYERS + MIX_LAYERS + [(f"query.{q}.p50_s", "s") for q in STAR + TOPK]

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def cpus():
    return len(os.sched_getaffinity(0))


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def spark_home():
    """SPARK_HOME, or the installation whose bin/ holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found; set SPARK_HOME")
    os.environ["SPARK_HOME"] = home
    return home


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the engine sources (src/main/scala) are missing; run from the repository root")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD], cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed with code {r.returncode}")


def make_inputs(workload, seed):
    """Return (input dir, facts about the inputs). etl_reference generates
    the seed's corpus once; query_mix reads the bundled tables, whatever the
    seed, after checking them against their checksums."""
    if workload == "query_mix":
        import pyarrow.parquet as pq
        with open(TABLES + ".sha256") as f:
            for line in f:
                want, name = line.split()
                with open(os.path.join(TABLES, name), "rb") as t:
                    if hashlib.sha256(t.read()).hexdigest() != want:
                        sys.exit(f"perfbench: {name} differs from its checksum")
        return TABLES, {t.removesuffix(".parquet"): pq.read_metadata(os.path.join(TABLES, t)).num_rows
                        for t in sorted(os.listdir(TABLES))}
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}")
    facts_path = d + ".json"
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    import corpus
    m = corpus.generate(d, seed, ETL_ROWS_PER_FILE, corpus.load_cases(CASES))
    with open(d + ".cells.tsv", "w", encoding="utf-8") as f:
        for c in m["cells"]:
            f.write(cell_line(c) + "\n")
    facts = {"files": m["files"], "table_rows": m["rows"], "bytes": m["bytes"], "cells": len(m["cells"])}
    with open(facts_path, "w") as f:
        json.dump(facts, f)
    return d, facts


def cell_line(case):
    def s(v):
        return "\\N" if v is None else v
    fields = [case["input"], str(len(case["output"]))]
    for r in case["output"]:
        fields += [s(r["name"]), s(r["rank_abbr"]), s(r["prof_abbr"]), s(r["edu_abbr"]),
                   s(r["start_date_raw"]), s(r["end_date_raw"]), "1" if r["is_vacancy"] else "0",
                   "1" if r["is_acting"] else "0", s(r["notes"]), s(r["special_role"])]
    assert not any("\t" in x or "\n" in x for x in fields)
    return "\t".join(fields)


def run_jvm(workload, seconds, trace, inputs, work, started):
    result = os.path.join(work, "result.json")
    classpath = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap size, so that collections come at the same points from
    # run to run. -XX:-UsePerfData: no hsperfdata file in the system temp
    # directory.
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.PerfBench",
              f"workload={workload}", f"seconds={seconds}", f"trace={1 if trace else 0}",
              f"input={inputs}", f"work={work}", f"cells={inputs}.cells.tsv", f"result={result}"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: the run did not finish in time; see {work}/jvm.log")
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        sys.exit(f"perfbench: the JVM exited with code {p.returncode}")
    with open(result) as f:
        return json.load(f)


# ---- output checks ------------------------------------------------------------

def check_digests(workload, seed, r):
    """Every op's table digest must equal the one stored for the seed (and
    each other, when the seed has none stored; the stamp's `digest` is the
    value to store for a new seed). Returns the failed op count."""
    with open(DIGESTS) as f:
        table = json.load(f)
    stored = table.get(workload, {}).get(str(seed))
    bad = 0
    first = next((d for d in r["digests"] if d), None)
    for i, d in enumerate(r["digests"]):
        want = stored or first
        if d is not None and d != want:
            r["errors"].append(f"op {i}: table digest {d[:12]} != expected {want[:12]}")
            bad += 1
    r["digest"] = first
    r["digest_stored"] = stored is not None
    return bad


def _canon(tbl):
    cols = sorted(tbl.schema.names)
    rows = []
    for rec in tbl.select(cols).to_pylist():
        row = []
        for c in cols:
            v = rec[c]
            if isinstance(v, float):
                row.append("NaN" if math.isnan(v) else repr(v))
            else:
                row.append("\0NULL" if v is None else str(v))
        rows.append(tuple(row))
    rows.sort()
    types = {f.name: ("timestamp" if str(f.type).startswith("timestamp") else str(f.type)) for f in tbl.schema}
    return cols, types, hashlib.sha256(repr(rows).encode()).hexdigest(), len(rows)


def check_oracles(inputs, work, r):
    """Cross-check every warm-up result that has oracle SQL against DuckDB
    (d17's oracle is its recorded sf0.01 output). Returns the names that
    failed."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    failed, checked = [], 0
    for name in r["queries"]:
        if name in r["warm_failed"]:
            failed.append(name)
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')").arrow()
        g = _canon(got)
        sql = r["oracle_sql"].get(name)
        if sql is None:
            continue
        e = _canon(con.execute(sql).arrow())
        checked += 1
        if g[0] != e[0] or g[1] != e[1] or g[2] != e[2]:
            failed.append(name)
            r["errors"].append(f"{name}: result differs from the DuckDB oracle "
                               f"({g[3]} rows vs {e[3]} rows; types {g[1] == e[1]})")
    r["oracle_checked"] = checked
    return failed


def median(xs):
    xs = [x for x in xs if x is not None and not (isinstance(x, float) and math.isnan(x))]
    return statistics.median(xs) if xs else float("nan")


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spark_home()

    build()
    load_before = loadavg()
    inputs, facts = make_inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ticks_before = cpu_ticks()
    r = run_jvm(a.workload, a.seconds, a.trace == 1, inputs, work, started)

    failed = r["failed"]
    ops = [t for t in r["op_s"] if t is not None]
    if a.workload == "etl_reference":
        failed += check_digests(a.workload, a.seed, r)
        per_pass = ops
    else:
        bad = check_oracles(inputs, work, r)
        n_pass = len(r["star_pass_s"])
        failed += len(bad) * n_pass
        per_pass = [s + k for s, k in zip(r["star_pass_s"], r["topk_pass_s"])]
    attempted = r["attempted"]
    failed = min(failed, attempted)
    n_ops = max(1, len(r["op_s"]))

    setup = r["jvm_to_main_s"] + r["session_build_s"] + r["warm_s"]
    if a.trace == 0:
        values = {"setup_s": setup, "pass_s": median(per_pass),
                  "cpu_s_per_op": r["cpu_s"] / n_ops, "live_mb": r["live_mb"]}
        units = dict(END_TO_END)
    else:
        values = dict(r["layers"])
        values["op.p50_s"] = median(ops)
        values["session.build_s"] = r["session_build_s"]
        values["session.warm_s"] = r["warm_s"]
        if a.workload == "etl_reference":
            values["etl.rows_per_s"] = facts["table_rows"] * len(ops) / sum(ops)
        else:
            values["query.star_pass_s"] = median(r["star_pass_s"])
            values["query.topk_pass_s"] = median(r["topk_pass_s"])
            values["quality.ann_recall_at_1"] = r["ann_recall_at_1"]
        units = dict(PER_LAYER)
        # Layers a workload never reaches read 0 (e.g. the ETL stage split on query_mix).
        values = {k: values.get(k, 0.0) for k in units}
    metrics = {k: {"value": (None if isinstance(v, float) and math.isnan(v) else v), "unit": units[k]}
               for k, v in values.items()}

    ticks_after = cpu_ticks()
    steal = (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1])
    with open(os.path.join(BUILD, "classes.stamp")) as f:
        sources = f.read().strip()
    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "commit": commit(),
             "sources_sha256": sources,
             "ops": len(r["op_s"]), "wall_s": round(time.time() - started, 1),
             "nproc": cpus(), "cores": r["cores"], "loadavg_before": load_before, "loadavg_after": loadavg(),
             "steal_pct": round(100 * steal, 2),
             "java": r["java_version"], "spark": r["spark_version"], "inputs": facts,
             "digest": r.get("digest"), "digest_stored": r.get("digest_stored"),
             "oracle_checked": r.get("oracle_checked"), "errors": r["errors"][:20],
             "ann_recall_at_1": r.get("ann_recall_at_1"), "live_heap_mb": r.get("live_heap_mb"),
             "live_pools_mb": r.get("live_pools_mb")}
    print(json.dumps({"stamp": stamp}, ensure_ascii=False))
    if a.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
        spans = os.path.join(BUILD, "spans", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"), spans)
        print(json.dumps({"spans": os.path.relpath(spans, ROOT)}))
    shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
