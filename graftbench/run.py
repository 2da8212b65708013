#!/usr/bin/env python3
"""graftbench: the repo benchmark. Run from the root of a checkout.

One run (the form BENCHMARK.json's command takes):

    python3 graftbench/run.py --workload query-floor --seed 1 --seconds 15 --trace 0

builds the library and the benchmark's JVM runner from source with scalac
(cached under .bench_build/, or $CARGO_TARGET_DIR when set), generates the
inputs, runs the workload in its own JVM and Spark session, checks every
result, and prints one JSON object as the last line of standard output.
`--trace 0` reports the end-to-end metrics; `--trace 1` runs the same passes
with a SparkListener and spans attached and reports the per-layer metrics.

Report (all workloads, end-to-end metrics with their run-to-run spread):

    python3 graftbench/run.py --report           # REPORT_RUNS seeds per workload
    python3 graftbench/run.py --report --trace   # adds the per-layer table

Workloads (why each exists, op list, item, input size, clients) live in
workloads.json; pass counts and JVM settings are the constants below.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time
from statistics import median

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402

JVM_TIMEOUT_S = 165
# Fixed pass counts, the same on every commit and independent of elapsed
# time: one untimed warm pass, then two timed passes. Sized so that the
# 4 + 22 x 3 runs of a full evaluation fit in its 3420 s.
WARM_PASSES = 1
TIMED_PASSES = 2
# --report: untraced runs (seeds 1..REPORT_RUNS) and traced runs per workload.
REPORT_RUNS = 10
TRACE_RUNS = 2
CPUS = 4
# C1 only (-XX:TieredStopAtLevel=1). With the default tiered JIT, C2 was
# still compiling 7-15 s of CPU in each timed pass of every workload, its
# JIT time fell from the first timed pass to the second, and set-up grew by
# 6-9 s, so a run no longer fits the evaluation's time budget (README.md,
# "Deliberate limits"). `jvm.jit_s` and `codegen.compiles` are logged for
# every pass either way.
# No hsperfdata file: the JVM would write it under /tmp, outside the checkout.
JVM_OPTS = ["-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", "-Duser.timezone=UTC"]
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jars (Scala compiler included): $SPARK_HOME, else the ones
    the pyspark package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return jars


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def scalac(out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + sources
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        raise BenchError("scalac failed:\n" + (res.stdout + res.stderr)[-4000:])


def build():
    """Compile src/main/scala (the library) and scala/ (the runner); reuse
    the classes while no source changes."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not srcs:
        raise BenchError("no library sources under src/main/scala: run from a checkout")
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    key = sha(*[f"{os.path.relpath(p, ROOT)}\n{open(p, 'rb').read().hex()}" for p in srcs + bench_srcs])
    out = os.path.join(build_root(), f"classes-{key}")
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    jars = os.path.join(spark_jars(), "*")
    t0 = time.time()
    scalac(os.path.join(out, "app"), jars, srcs)
    scalac(os.path.join(out, "bench"), os.path.join(out, "app") + os.pathsep + jars, bench_srcs)
    open(os.path.join(out, "ok"), "w").close()
    log(f"built in {time.time() - t0:.1f}s")
    for old in glob.glob(os.path.join(build_root(), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def fixtures(sf):
    """The fixture tables at scale factor sf; generated once per checkout
    and again whenever the generator's module changes."""
    with open(bl.__file__, "rb") as f:
        key = sha(sf, f.read())
    out = os.path.join(build_root(), f"fixtures-{key}")
    if not os.path.exists(os.path.join(out, "ok")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        bl.gen_tables(tmp, sf)
        open(os.path.join(tmp, "ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def oracle(fixture_dir, op, sql):
    """DuckDB result of one op's oracle SQL, canonicalized; cached per
    (fixtures, SQL) because it does not depend on the seed."""
    cache = os.path.join(fixture_dir + "-oracle", f"{op}-{sha(sql)}.pickle")
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            return pickle.load(f)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    res = bl.canon_result(cols, cur.fetchall())
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "wb") as f:
        pickle.dump(res, f)
    os.replace(cache + ".tmp", cache)
    return res


def spark_rows(path):
    with open(path, encoding="utf-8") as f:
        cols = json.loads(f.readline())
        rows = [json.loads(line) for line in f]
    return bl.canon_result(cols, rows)


def run_jvm(classes, run_dir, args):
    jars = os.path.join(spark_jars(), "*")
    cp = os.pathsep.join([os.path.join(classes, "app"), os.path.join(classes, "bench"), jars])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graftbench.Runner"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            res = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM runner exceeded {JVM_TIMEOUT_S}s")
    if res.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM runner exited {res.returncode}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks


def check_queries(record, run_dir, fixture_dir):
    """Every timed op's result against its oracle SQL; returns failures."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    bad = []
    for s in record["samples"]:
        if not s["ok"]:
            bad.append(f"{s['op']} pass {s['pass']}: {s.get('error', 'failed')}")
            continue
        sql = sqls.get(s["op"])
        if sql is None:
            s["ok"] = False
            bad.append(f"{s['op']}: no oracle SQL")
            continue
        same, why = bl.same_result(spark_rows(os.path.join(run_dir, "rows", s["rows"])),
                                   oracle(fixture_dir, s["op"], sql))
        if not same:
            s["ok"] = False
            bad.append(f"{s['op']} pass {s['pass']}: {why}")
    return bad


def check_etl(record, planted):
    bad = []
    for s in record["samples"]:
        if not s["ok"]:
            bad.append(f"{s['op']} pass {s['pass']}: {s.get('error', 'failed')}")
            continue
        exp = bl.expected(planted, s["first_page"], s["pages"])
        got = {"listings": s["extracted"], "sum_valor": s["sum_valor"],
               "barrio_present": s["barrio_present"], "sum_rooms": s["sum_rooms"],
               "sum_baths": s["sum_baths"], "sum_mts2": s["sum_mts2"], "dates": s["dates"]}
        diff = [k for k, v in got.items()
                if not (abs(v - exp[k]) <= 1e-6 * max(1.0, abs(exp[k])))]
        if s["readback_rows"] != exp["listings"]:
            diff.append("readback_rows")
        # the source's own error rows: one (page, 404) per planted 404
        if sorted(map(tuple, s["error_rows"])) != [(p, 404) for p in exp["error_pages"]]:
            diff.append(f"error rows {s['error_rows']}")
        if diff:
            s["ok"] = False
            bad.append(f"{s['op']} pass {s['pass']}: {', '.join(diff)} differ from planted {exp}")
    return bad


# ----------------------------------------------------------------- metrics


def end_to_end(record):
    passes, samples = record["passes"], record["samples"]
    ops = [s["wall_s"] for s in samples]
    items = {p["pass"]: 0 for p in passes}
    for s in samples:
        if s["ok"]:
            items[s["pass"]] += s["items"]
    return {
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "items_per_s": (median([items[p["pass"]] / p["wall_s"] for p in passes]), "1/s"),
        "op_p50_s": (bl.percentile(ops, 50), "s"),
        "op_p90_s": (bl.percentile(ops, 90), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "ok_frac": (sum(1 for s in samples if s["ok"]) / len(samples), "frac"),
        "setup_s": (record["setup_s"], "s"),
    }


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _within(iv, outer):
    return iv[0] >= outer[0] - 1.0 and iv[1] <= outer[1] + 1.0


def self_times(spans):
    """Self time of each span kind: a span's time minus the union of its
    direct children. Nesting is op > build|action > job > stage."""
    rank = {"op": 0, "job": 2, "stage": 3}
    out = {}
    for sp in spans:
        r = rank.get(sp["kind"], 1)
        kids = [(c["start"], c["end"]) for c in spans
                if rank.get(c["kind"], 1) == r + 1 and _within((c["start"], c["end"]), (sp["start"], sp["end"]))
                and (r >= 1 or c["op"] == sp["op"])]
        clipped = [(max(s, sp["start"]), min(e, sp["end"])) for s, e in kids]
        own = (sp["end"] - sp["start"]) - _union(clipped)
        key = f"self.{sp['kind']}_s"
        out[key] = out.get(key, 0.0) + max(own, 0.0) / 1e3
    return out


def per_layer(record):
    """Per-pass layer figures from the traced run, then their median."""
    cpus = record["cpus"]
    rows = []
    for p in record["passes"]:
        n = p["pass"]
        ss = [s for s in record["samples"] if s["pass"] == n]
        sp = [x for x in record["spans"] if x["start"] >= p["start"] - 1.0 and x["end"] <= p["end"] + 1.0]
        opsp = [(x["start"], x["end"]) for x in sp if x["kind"] == "op"]
        # only jobs and stages inside an op: the ETL error-row check scan
        # runs between ops and is not part of the workload
        in_op = lambda x: any(_within((x["start"], x["end"]), o) for o in opsp)
        jobs = [(x["start"], x["end"]) for x in sp if x["kind"] == "job" and in_op(x)]
        stages = [x for x in sp if x["kind"] == "stage" and in_op(x)]
        sp = [x for x in sp if x["kind"] not in ("job", "stage") or in_op(x)]
        builds = [(x["start"], x["end"]) for x in sp if x["kind"] == "build"]
        in_jobs = _union(jobs) / 1e3
        between = sum((e - s) / 1e3 - _union([(max(a, s), min(b, e)) for a, b in jobs if b > s and a < e]) / 1e3
                      for s, e in opsp)
        task_s = sum(x["task_s"] for x in stages)
        g = lambda k: sum(s.get(k, 0) for s in ss)
        row = {
            "tables.scans": g("scans"), "tables.load_s": p["tables_load_s"],
            "build.s": g("build_s"),
            "build.jobs": sum(1 for j in jobs if any(_within(j, b) for b in builds)),
            "plan.analysis_s": p["analysis_s"], "plan.optimization_s": p["optimization_s"],
            "plan.planning_s": p["planning_s"],
            "codegen.compiles": p["codegen_compiles"], "codegen.compile_s": p["codegen_compile_s"],
            "jvm.jit_s": p["jit_s"], "jvm.gc_s": p["gc_s"], "jvm.heap_after_gc_mb": p["heap_after_gc_mb"],
            "exec.jobs": len(jobs), "exec.stages": len(stages),
            "exec.tasks": sum(x["tasks"] for x in stages),
            "exec.in_jobs_s": in_jobs, "exec.between_jobs_s": between,
            "exec.task_s": task_s, "exec.task_cpu_s": sum(x["task_cpu_s"] for x in stages),
            "exec.slot_busy_frac": task_s / (in_jobs * cpus) if in_jobs else 0.0,
            "exec.shuffle_read_mb": sum(x["shuffle_read_mb"] for x in stages),
            "exec.shuffle_write_mb": sum(x["shuffle_write_mb"] for x in stages),
            "exec.spill_mb": sum(x["spill_mb"] for x in stages),
            "pinned.rdds": g("pinned_rdds"), "pinned.peak_mb": p["pinned_peak_mb"],
            "fetch.pages": g("fetch_pages"), "fetch.errors": sum(len(s.get("error_rows", [])) for s in ss),
            "fetch.s": g("fetch_s"),
            "extract.listings": g("extracted"), "extract.s": g("extract_s"),
            "sink.csv_s": g("sink_csv_s"), "sink.parquet_s": g("sink_parquet_s"),
            "sink.files": g("sink_files"), "sink.mb": g("sink_mb"),
            "readback.s": g("readback_s"), "readback.rows": g("readback_rows"),
            "host.steal_frac": p["steal_frac"], "host.load1": p["load1"],
            "trace.pass_s": p["wall_s"],
        }
        for k in ("self.build_s", "self.action_s", "self.job_s", "self.stage_s"):
            row[k] = 0.0
        row.update(self_times(sp))
        row.pop("self.op_s", None)
        rows.append(row)
    return {k: median([r[k] for r in rows]) for k in rows[0]}


# --------------------------------------------------------------------- run


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def load_metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(name, seed, trace):
    wl = load_workloads()[name]
    classes = build()
    run_dir = os.path.join(build_root(), "runs", f"{name}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = ["--workload", name, "--out", run_dir, "--warm", str(WARM_PASSES),
                "--passes", str(TIMED_PASSES), "--seed", str(seed), "--trace", "1" if trace else "0",
                "--cpus", str(CPUS)]
        if wl["kind"] == "query":
            fixture_dir = fixtures(wl["sf"])
            args += ["--fixtures", fixture_dir, "--ops", ",".join(wl["ops"])]
        else:
            pages, planted = bl.gen_pages(seed, wl["pages"], wl["cards_per_page"], wl["error_every"])
            pages_dir = os.path.join(run_dir, "pages")
            bl.write_pages(pages, pages_dir)
            args += ["--pages-dir", pages_dir, "--pages", str(wl["pages"]),
                     "--batches", str(wl["batches"])]
        record = run_jvm(classes, run_dir, args)
        bad = (check_queries(record, run_dir, fixture_dir) if wl["kind"] == "query"
               else check_etl(record, planted))
        for b in bad[:20]:
            log("CHECK FAILED " + b)
        for p in record["passes"]:
            log(f"pass {p['pass']}: wall {p['wall_s']:.3f}s cpu {p['cpu_s']:.2f}s "
                f"jit {p['jit_s']:.2f}s codegen.compiles {p['codegen_compiles']}")
        walls = [s["wall_s"] for s in record["samples"]]
        log(f"{len(walls)} op samples, {bl.beyond(walls, 90)} beyond p90")
        for op in dict.fromkeys(s["op"] for s in record["samples"]):
            log(f"  {op}: " + " ".join(f"{s['wall_s']:.3f}" for s in record["samples"] if s["op"] == op))
        return record
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def result_line(record, trace):
    samples = record["samples"]
    failed = sum(1 for s in samples if not s["ok"])
    metrics = per_layer(record) if trace else end_to_end(record)
    units = {m["name"]: m["unit"] for m in
             load_metric_specs()["per_layer" if trace else "end_to_end"]}
    out = {}
    for k, v in metrics.items():
        val, unit = (v if isinstance(v, tuple) else (v, units.get(k, "")))
        if k in units:
            out[k] = {"value": val, "unit": unit}
    return {"correct": failed == 0, "attempted": len(samples), "failed": failed, "metrics": out}


def child_run(name, seed, seconds, trace):
    """One run in a fresh process, exactly as the benchmark command runs it."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(int(trace))],
        capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def report(args):
    """Run every workload REPORT_RUNS times untraced, print every end-to-end
    metric with its median and spread; with --trace, add the traced runs'
    per-layer table and the tracing overhead."""
    spec = load_metric_specs()
    names = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    summary = {}
    for name in names:
        runs = []
        for seed in range(1, REPORT_RUNS + 1):
            t0 = time.time()
            res = child_run(name, seed, seconds, False)
            runs.append(res)
            log(f"{name} seed {seed} ({time.time() - t0:.0f}s): "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        print(f"\n== {name}: {REPORT_RUNS} untraced runs, "
              f"ok={all(r['correct'] for r in runs)}")
        print(f"{'metric':<16}{'unit':<7}{'median':>12}{'spread':>9}{'bound':>8}")
        summary[name] = {}
        for m, b in bounds.items():
            xs = [r["metrics"][m]["value"] for r in runs]
            sp = bl.spread(xs)
            summary[name][m] = {"median": median(xs), "spread": sp, "values": xs}
            flag = "" if m == "setup_s" or sp <= b["bound"] / 3 else "  <- spread above bound/3"
            print(f"{m:<16}{b['unit']:<7}{median(xs):>12.5g}{sp:>9.3f}{b['bound']:>8.2f}{flag}")
        if args.trace:
            traced = [child_run(name, seed, seconds, True) for seed in range(1, TRACE_RUNS + 1)]
            print(f"\n-- {name}: per-layer, median of {TRACE_RUNS} traced runs")
            for m in spec["per_layer"]:
                xs = [r["metrics"][m["name"]]["value"] for r in traced]
                print(f"{m['name']:<26}{m['unit']:<7}{median(xs):>12.5g}")
            t = median([r["metrics"]["trace.pass_s"]["value"] for r in traced])
            u = summary[name]["pass_s"]["median"]
            print(f"tracing overhead: traced pass_s {t:.4g}s vs untraced {u:.4g}s = {100 * (t / u - 1):+.1f}%")
            summary[name]["trace_overhead"] = t / u - 1
    out = os.path.join(build_root(), "report.json")
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"\nwritten {out}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    # Part of the benchmark command line; a run measures TIMED_PASSES passes
    # (about run_seconds on a 4-core box), never a wall-clock budget.
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, nargs="?", const=1, default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    try:
        if args.report:
            report(args)
            return 0
        if args.workload not in load_workloads():
            raise BenchError(f"unknown workload {args.workload!r}")
        record = one_run(args.workload, args.seed, bool(args.trace))
        print(json.dumps(result_line(record, bool(args.trace))), flush=True)
        return 0
    except (BenchError, OSError, subprocess.CalledProcessError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
