#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source tree), makes
the input tables (once), runs the workload in one JVM and prints a report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
measures untraced, traced and again untraced passes and the metrics are the
per-layer ones, from the traced passes. See perfbench/README.md for the workloads and metrics.

Other modes:
    --record FILE    run every catalog query once and write its output digest
    --selftest       check that failing queries are reported as failed
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"

# Input tables: fixed content (data seed 42) at two scales; the workload seed
# never changes them, it picks the analytic sample and each pass's order.
DATA_SEED = 42
DATA_SCALE = 0.1
WARM_SCALE = 0.001

HEAP = "3g"
WARM_S = 20               # warm-up budget: whole queries on the small tables
QUERY_TIMEOUT_S = 60      # a query running longer counts as failed
DEADLINE_S = 150          # no query starts later than this after JVM start
JVM_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

# `analytic` runs one fixed list (the seed orders its passes): different
# draws of the sampler differ in cost by more than the box's run-to-run noise,
# so comparing draws would hide a change. This list is the sampler's draw for
# seed 1 when it was fixed; `analytic-seeded` draws from --seed, to recheck a
# claim on queries it was not tuned on.
ANALYTIC = ["q205_theilsen_trend", "q100_quality_filter", "q105_type_entropy",
            "q107_typo_variants", "q87_incremental_rollup", "q104_mad_outliers",
            "q225_cms_heavy_hitters", "q256_stream_windowed_kmv"]

SERVICE = ["q261_curation_service", "q264_takedown_tick", "q267_stream_service"]
MONITOR = ["q277_drift_monitor_loop", "q278_monitor_restart"]

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

E2E = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
       ("query_tail_s", "s"), ("live_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def analytic_sample(seed):
    """The anchor plus one query per cost band of catalog.json, drawn from the
    seed and redrawn until the picks are distinct and cover every family:
    each seed runs different queries, but every pass covers every family and
    has the same cost profile, so passes of different seeds cost about the
    same."""
    cat = json.loads((HERE / "catalog.json").read_text())
    bands = [sorted(b) for b in cat["bands"]]
    families = {cat["family"][q] for b in bands for q in b}
    rng = random.Random(seed)
    while True:
        pick = [rng.choice(b) for b in bands]
        if len(set(pick)) == len(pick) and {cat["family"][q] for q in pick} == families:
            return [cat["anchor"]] + pick


def workload_queries(workload, seed):
    """The workload's query list for one pass (the seed picks the sample)."""
    if workload == "service":
        return list(SERVICE)
    if workload == "monitor":
        return list(MONITOR)
    if workload == "analytic":
        return list(ANALYTIC)
    if workload == "analytic-seeded":
        return analytic_sample(seed)
    raise SystemExit(f"unknown workload {workload!r}")


# ---------------------------------------------------------------- build

def source_key():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: engine sources not found next to perfbench/")
    key = source_key()
    cp_file, key_file = STATE / "classpath.txt", STATE / "build.key"
    if cp_file.is_file() and key_file.is_file() and key_file.read_text() == key:
        return cp_file.read_text().strip()
    STATE.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(STATE / "build.log", "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    lines = (STATE / "build.log").read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (rc={rc})")
    cp = next(l for l in reversed(lines) if ".jar" in l and not l.startswith("["))
    cp_file.write_text(cp)
    key_file.write_text(key)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def ensure_data(scale):
    out = STATE / "data" / f"scale{scale}-seed{DATA_SEED}"
    if not out.is_dir():
        out.parent.mkdir(parents=True, exist_ok=True)
        shutil.rmtree(str(out) + ".partial", ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen_data.py"), str(out),
                        "--scale", str(scale), "--seed", str(DATA_SEED)], check=True)
    return out


def run_jvm(cp, args, rundir, jvm_opts=()):
    """Runs the harness JVM; returns its parsed result file."""
    for sub in ("tmp", "local", "warehouse"):
        (rundir / sub).mkdir(parents=True, exist_ok=True)
    out = rundir / "result.json"
    cmd = (["java", f"-Xmx{HEAP}", *JDK17_OPENS,
            f"-Djava.io.tmpdir={rundir / 'tmp'}",
            f"-Dspark.local.dir={rundir / 'local'}",
            f"-Dspark.sql.warehouse.dir={rundir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *jvm_opts, "-cp", cp, "perfbench.Main", "--out", str(out)] + args)
    with open(rundir / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=rundir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    # the last run's raw log and measurements stay for inspection
    shutil.copyfile(rundir / "jvm.log", STATE / "last-jvm.log")
    if out.is_file():
        shutil.copyfile(out, STATE / "last-result.json")
    if rc != 0 or not out.is_file():
        tail = (rundir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: benchmark JVM failed (rc={rc})")
    return json.loads(out.read_text())


# ---------------------------------------------------------------- statistics

def tail(values):
    """Highest percentile with at least ten samples beyond it (nearest rank);
    the maximum when that percentile would not reach the median. Returns
    (value, label, n)."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        k = math.ceil(p * n / 100)
        if n - k >= 10:
            return xs[k - 1], f"p{p}", n
    return xs[-1], "max", n


def union_length(intervals, lo, hi):
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def end_to_end(res, phase="untraced"):
    timed = [e for e in res["execs"] if e["phase"] == phase]
    ok = [e for e in timed if e["ok"]]
    passes = [p for p in res["passes"] if p["phase"] == phase]
    full = [p for p in passes if p["complete"]] or passes
    pass_wall = [sum(e["wall_s"] for e in ok if e["pass"] == p["pass"]) for p in full]
    walls = [e["wall_s"] for e in ok]
    out = {"setup_s": statistics.median(s["total_s"] for s in res["setups"])}
    if walls:
        t, label, n = tail(walls)
        out.update(wall_s=statistics.median(pass_wall), query_p50_s=statistics.median(walls),
                   query_tail_s=t, live_heap_mb=max(e["heap_mb"] for e in timed))
        out["_tail"] = f"{label} of {n}"
    return out


def layer_rollup(res, execs):
    """Per-layer metrics over the traced executions (means per query unless
    the name says otherwise), plus a per-query table."""
    cores = res["cores"]
    spans = res["spans"]
    jobs = [s for s in spans if s["layer"] == "scheduler"]
    acts = [s for s in spans if s["layer"] == "catalyst"]
    bats = [s for s in spans if s["layer"] == "streaming"]
    per = []
    for e in execs:
        lo, hi = e["start_ms"], e["end_ms"]
        js = [j for j in jobs if e["tag"] in j["tags"]]
        a = [x for x in acts if lo <= x["start_ms"] <= hi]
        b = [x for x in bats if lo <= x["start_ms"] <= hi]
        wall = (hi - lo) / 1e3
        idle = wall - union_length([(j["start_ms"], j["end_ms"]) for j in js], lo, hi) / 1e3
        per.append(dict(
            query=e["query"], wall_s=wall, build_s=e["build_s"], execute_s=e["execute_s"],
            actions=len(a), **{f"{k}_s": sum(x.get(f"{k}_s", 0.0) for x in a)
                              for k in ("analysis", "optimization", "planning")},
            compiles=e["codegen_compiles"], compile_s=e["codegen_s"],
            jobs=len(js), stages=sum(j["stages"] for j in js),
            tasks=sum(j["tasks"] for j in js), idle_s=idle,
            unattributed=sum(1 for j in js if not j["described"]),
            job_ms=[j["end_ms"] - j["start_ms"] for j in js],
            **{k: sum(j[k] for j in js) for k in ("cpu_s", "run_s", "gc_s", "deser_s")},
            skew=max([j["skew"] for j in js] or [1.0]),
            **{k: sum(j[k + "_b"] for j in js) / 2**20
               for k in ("shuffle_read", "shuffle_write", "spill", "written")},
            pinned_blocks=e["pinned_blocks"], pinned_mb=e["pinned_mb"],
            batches=len(b), batch_s=[(x["end_ms"] - x["start_ms"]) / 1e3 for x in b]))

    def mean(k):
        return statistics.fmean(p[k] for p in per)
    wall = sum(p["wall_s"] for p in per)
    njobs = sum(p["jobs"] for p in per)
    job_ms = [m for p in per for m in p["job_ms"]]
    batch_s = [s for p in per for s in p["batch_s"]]
    setups = res["setups"]
    m = {
        "engine.cold_setup_s": res["cold_setup_s"],
        "engine.session_s": statistics.median(s["session_s"] for s in setups),
        "engine.table_s": statistics.median(s["table_s"] for s in setups),
        "sparkentry.build_s": mean("build_s"),
        "sparkentry.execute_s": mean("execute_s"),
        "catalyst.actions_per_query": mean("actions"),
        "catalyst.analysis_s": mean("analysis_s"),
        "catalyst.optimization_s": mean("optimization_s"),
        "catalyst.planning_s": mean("planning_s"),
        "codegen.compiles": mean("compiles"),
        "codegen.compile_s": mean("compile_s"),
        "scheduler.jobs_per_query": mean("jobs"),
        "scheduler.stages_per_query": mean("stages"),
        "scheduler.tasks_per_query": mean("tasks"),
        "scheduler.idle_s": mean("idle_s"),
        "scheduler.idle_share": sum(p["idle_s"] for p in per) / wall,
        "scheduler.job_p50_ms": statistics.median(job_ms) if job_ms else 0.0,
        "scheduler.unattributed_share":
            sum(p["unattributed"] for p in per) / njobs if njobs else 0.0,
        "executor.cpu_s": mean("cpu_s"),
        "executor.run_s": mean("run_s"),
        "executor.gc_s": mean("gc_s"),
        "executor.deser_s": mean("deser_s"),
        "executor.util": sum(p["cpu_s"] for p in per) / (wall * cores),
        "executor.skew": statistics.median(p["skew"] for p in per),
        "shuffle.write_mb": mean("shuffle_write"),
        "shuffle.read_mb": mean("shuffle_read"),
        "shuffle.spill_mb": mean("spill"),
        "storage.pinned_blocks": mean("pinned_blocks"),
        "storage.pinned_mb": mean("pinned_mb"),
        "storage.written_mb": mean("written"),
        "streaming.batches": mean("batches"),
        "streaming.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
    }
    return m, per


LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_share": "fraction",
               "util": "fraction", "skew": "ratio"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def write_trace(res, per, path):
    """Span tree: pass -> query -> build/execute -> Spark job; actions and
    micro-batches hang off the query whose window holds their start."""
    spans, ids = [], iter(range(1, 10**9))

    def add(parent, layer, name, start, end, **attrs):
        sid = next(ids)
        spans.append(dict(id=sid, parent=parent, layer=layer, name=name,
                          start_ms=start, end_ms=end, **attrs))
        return sid
    execs = [e for e in res["execs"] if e["phase"] == "traced"]
    for p in (p for p in res["passes"] if p["phase"] == "traced"):
        pid = add(None, "bench", f"pass {p['pass']}", p["start_ms"], p["end_ms"])
        for e in (e for e in execs if e["pass"] == p["pass"]):
            qid = add(pid, "sparkentry", e["query"], e["start_ms"], e["end_ms"],
                      ok=e["ok"], error=e.get("error"))
            split = e["start_ms"] + e["build_s"] * 1e3
            add(qid, "sparkentry", "build", e["start_ms"], split)
            xid = add(qid, "sparkentry", "execute", split, e["end_ms"])
            for s in res["spans"]:
                if s["layer"] == "scheduler":
                    if e["tag"] not in s["tags"]:
                        continue
                    parent = xid if s["start_ms"] >= split else qid
                elif e["start_ms"] <= s["start_ms"] <= e["end_ms"]:
                    parent = qid
                else:
                    continue
                attrs = {k: v for k, v in s.items()
                         if k not in ("layer", "name", "start_ms", "end_ms", "tags")}
                add(parent, s["layer"], s.get("name", s["layer"]),
                    s["start_ms"], s.get("end_ms", s["start_ms"]), **attrs)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"spans": spans, "per_query": per}, indent=1))


# ---------------------------------------------------------------- modes

def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def shift_floats(text, rel):
    """Expected floating-point moments moved by `rel` of each sum, or by four
    ulps when `rel` is None (the counts stay)."""
    def shift(x):
        if rel is not None:
            return x * (1 + rel)
        for _ in range(4):
            x = math.nextafter(x, math.inf)
        return x
    return ";".join(" ".join([n] + [repr(shift(float(x))) for x in rest])
                    for n, *rest in (leaf.split(" ") for leaf in text.split(";")))


def bench(a):
    cp = build()
    data, warm = ensure_data(DATA_SCALE), ensure_data(WARM_SCALE)
    queries = a.queries.split(",") if a.queries else workload_queries(a.workload, a.seed)
    expected = json.loads((HERE / "expected.json").read_text())
    if a.inject:
        queries += ["perfbench_fail_throw", "perfbench_fail_wrong", "perfbench_fail_timeout",
                    "perfbench_fail_float", "perfbench_float_ulps"]
        expected["perfbench_fail_wrong"] = {"rows": 5, "digest": "0", "floats": ""}
        q01 = expected["q01_pricing_summary"]
        expected["perfbench_fail_float"] = dict(q01, floats=shift_floats(q01["floats"], 1e-6))
        expected["perfbench_float_ulps"] = dict(q01, floats=shift_floats(q01["floats"], None))
    rundir = STATE / f"run-{os.getpid()}"
    try:
        rundir.mkdir(parents=True, exist_ok=True)
        (rundir / "expected.tsv").write_text("".join(
            f"{q}\t{v['rows']}\t{v['digest']}\t{v['floats']}\n" for q, v in expected.items()))
        args = ["--queries", ",".join(queries), "--data", str(data), "--warm", str(warm),
                "--expected", str(rundir / "expected.tsv"), "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(len(os.sched_getaffinity(0))),
                "--query-timeout", str(a.query_timeout), "--deadline", str(DEADLINE_S),
                "--warm-seconds", str(WARM_S)]
        if a.inject:
            args += ["--inject", "1"]
        # the action listener is installed in every session (child sessions
        # included) only for traced runs; it records only during the traced passes
        probe = ["-Dspark.sql.queryExecutionListeners=perfbench.QueryProbe"] if a.trace else []
        res = run_jvm(cp, args, rundir, probe)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    timed = [e for e in res["execs"] if e["phase"] in ("untraced", "traced")]
    failed = [e for e in timed if not e["ok"]]
    e2e = end_to_end(res)
    print(f"workload {a.workload} seed {a.seed}: {len(queries)} queries per pass, "
          f"{res['cores']} cores, closed loop with one client")
    print(f"  queries: {' '.join(queries)}")
    print(f"  JVM start to first timed query {res['first_query_s']:.2f} s: JVM start to the end "
          f"of the first set-up {res['cold_setup_s']:.2f} s, set-ups "
          + ", ".join(f"{s['total_s']:.2f}" for s in res["setups"])
          + f" s, warm-up {res['warm_s']:.2f} s ({res['warm_queries']} queries) on the small tables")
    for w in res["warm_failed"]:
        print(f"  warm-up failure (not counted): {w}")
    for name, unit in E2E:
        if name in e2e:
            extra = f"  ({e2e['_tail']} samples)" if name == "query_tail_s" else ""
            print(f"  {name:<14} {e2e[name]:>12.4f} {unit}{extra}")
    frac = len(failed) / len(timed) if timed else 1.0
    print(f"  {'failed_frac':<14} {frac:>12.4f} fraction ({len(failed)} of {len(timed)})")
    for e in failed:
        print(f"  FAILED {e['query']} (pass {e['pass']}): {e['error']}")

    if a.trace:
        traced = [e for e in res["execs"] if e["phase"] == "traced" and e["ok"]]
        if not traced:
            raise SystemExit("perfbench: no traced query succeeded")
        metrics, per = layer_rollup(res, traced)
        over = end_to_end(res, "traced")
        metrics["trace.overhead_s"] = over["wall_s"] - e2e["wall_s"]
        print(f"  tracing overhead: traced wall_s {over['wall_s']:.3f} s - untraced "
              f"{e2e['wall_s']:.3f} s = {metrics['trace.overhead_s']:+.3f} s")
        print("  per-layer (traced passes; per query unless noted):")
        for k, v in metrics.items():
            print(f"    {k:<30} {v:>12.4f} {unit_of(k)}")
        print(f"  {'query':<30}{'wall_s':>8}{'jobs':>6}{'actions':>8}{'cpu_s':>8}"
              f"{'util':>6}{'idle%':>7}{'batches':>8}")
        for p in per:
            print(f"  {p['query']:<30}{p['wall_s']:>8.2f}{p['jobs']:>6}{p['actions']:>8}"
                  f"{p['cpu_s']:>8.2f}{p['cpu_s'] / (p['wall_s'] * res['cores']):>6.2f}"
                  f"{100 * p['idle_s'] / p['wall_s']:>7.1f}{p['batches']:>8}")
        trace_path = STATE / "traces" / f"{a.workload}-seed{a.seed}.json"
        write_trace(res, [{k: v for k, v in p.items() if k not in ("job_ms", "batch_s")}
                          for p in per], trace_path)
        print(f"  spans written to {trace_path.relative_to(ROOT)}")
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E if k in e2e}
    print(json.dumps({"correct": not failed and bool(timed), "attempted": len(timed),
                      "failed": len(failed), "metrics": out}), flush=True)
    return res


def record(a):
    """Runs every catalog query once on the benchmark tables and writes
    {query: {rows, digest, floats, seconds}} (errors are kept under "error")."""
    cp = build()
    data, warm = ensure_data(DATA_SCALE), ensure_data(WARM_SCALE)
    rundir = STATE / f"record-{os.getpid()}"
    global JVM_TIMEOUT_S
    JVM_TIMEOUT_S = 3600
    try:
        res = run_jvm(cp, ["--queries", a.queries or "all", "--data", str(data),
                           "--warm", str(warm), "--record", "1",
                           "--cores", str(len(os.sched_getaffinity(0))),
                           "--query-timeout", "300", "--deadline", "1e9"], rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    out = {e["query"]: ({"rows": e["rows"], "digest": e["digest"], "floats": e["floats"]}
                        if e["ok"]
                        else {"error": e["error"]}) | {"seconds": round(e["wall_s"], 3)}
           for e in res["execs"]}
    Path(a.record).write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    log(f"recorded {len(out)} queries to {a.record}")


def selftest(a):
    """Injects a throwing, a wrong-output, a hanging and a float-mismatch entry
    next to one real query, and checks all four come back failed, by name,
    with their time kept out of the timing metrics; an entry whose expected
    floats are off by a few ulps must pass."""
    import contextlib
    import io
    a.queries, a.inject, a.seconds, a.trace, a.query_timeout = \
        "q07_priority_counts", True, 1, 0, 5
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res = bench(a)
    text = buf.getvalue()
    sys.stdout.write(text)
    final = json.loads(text.strip().splitlines()[-1])
    execs = [e for e in res["execs"] if e["phase"] == "untraced"]
    bad = {e["query"]: e["error"] for e in execs if not e["ok"]}
    good = [e for e in execs if e["ok"]]
    checks = {
        "four injected entries failed": set(bad) == {
            "perfbench_fail_throw", "perfbench_fail_wrong", "perfbench_fail_timeout",
            "perfbench_fail_float"},
        "each failure is named in the report": all(f"FAILED {q}" in text for q in bad),
        "throw reports its exception": "injected failure" in bad.get("perfbench_fail_throw", ""),
        "wrong output reports a mismatch": "mismatch" in bad.get("perfbench_fail_wrong", ""),
        "hang reports a timeout": "timeout" in bad.get("perfbench_fail_timeout", ""),
        "a float off by a millionth reports a mismatch":
            "float leaf" in bad.get("perfbench_fail_float", ""),
        "the real query and the ulp-shifted one passed": sorted(e["query"] for e in good) == [
            "perfbench_float_ulps", "q07_priority_counts"],
        "failures counted": final["failed"] == 4 and final["attempted"] == 6
                            and final["correct"] is False,
        "failed time kept out of wall_s": math.isclose(
            final["metrics"]["wall_s"]["value"], sum(e["wall_s"] for e in good)),
        "failed time kept out of the tail": math.isclose(
            final["metrics"]["query_tail_s"]["value"], max(e["wall_s"] for e in good)),
    }
    for name, ok in checks.items():
        print(f"selftest {'ok  ' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(checks.values()) else 1)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="analytic")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma-separated query list instead of the workload's")
    ap.add_argument("--record", metavar="FILE")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    a.inject, a.query_timeout = False, QUERY_TIMEOUT_S
    if a.record:
        record(a)
    elif a.selftest:
        selftest(a)
    else:
        bench(a)


if __name__ == "__main__":
    main(sys.argv[1:])
