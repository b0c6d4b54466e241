#!/usr/bin/env python3
"""Benchmark of the graft engine; see perfbench/README.md.

    python3 perfbench/run.py --workload <name|all> [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. Builds the engine from source (once per
source state), generates the workload's inputs from the seed, runs one
fresh JVM (perfbench/harness) with a private scratch directory, checks
every operation's output, prints a report and, as the last line, one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# Operations per workload, in warm-up order; timed passes permute them by
# seed. BENCHMARK.json says why each workload exists.
WORKLOADS = {
    "ingest": ["ingest_run", "quarantine"],
    "queries": ["q_pagerank", "q_knn_join", "q_stream_pit"],
}
INGEST_ROWS = 150_000
INGEST_BAD = {"bad_columns": 75, "bad_date": 75}  # 0.1 % of the lines
JVM_TIMEOUT_S = 160
# units of the metrics the report prints but BENCHMARK.json does not list
REPORT_UNITS = {"query_p50_s": "s", "query_tail_s": "s", "cpu_s": "s", "failed_frac": "ratio",
                "scratch_left_entries": "count", "ingest_rows_per_s": "rows/s"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_mem():
    """build.sbt / Tier-1 rule: SPARK_DRIVER_MEM, else half of RAM in GiB
    clamped to [2, 8]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def tables_dir(root):
    """Seed-42 query tables, generated once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, build.BUILD_DIR, "tables-" + key)
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp)
        os.rename(tmp, out)
    return out


def java(classes, tmp):
    """JVM command prefix and environment: build.sbt's javaOptions, the
    Tier-1 heap rule and a private scratch directory `tmp`. Spark honours
    SPARK_LOCAL_DIRS over spark.local.dir, and the engine's SPARK_GRAFT_*
    settings would change what is measured."""
    cp = os.pathsep.join([os.path.abspath(classes), os.path.join(build.spark_jars(), "*")])
    opts = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        "-XX:-UsePerfData", "-Xmx" + driver_mem(),
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    return ["java"] + opts + ["-cp", cp], env


def steal_s():
    """CPU time the hypervisor gave to others (all CPUs), or None."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def launch(root, classes, workload, seed, seconds, trace, run_dir, tmp):
    ops = WORKLOADS[workload]
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(root, build.BUILD_DIR, "traces", f"{workload}-seed{seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    args = ["--workload", workload, "--ops", ",".join(ops), "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--run-dir", run_dir,
            "--tables", tables_dir(root), "--result", result, "--spans", spans]
    cmd, env = java(classes, tmp)
    log_path = os.path.join(root, build.BUILD_DIR, "logs", f"{workload}-seed{seed}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        args += ["--launch-epoch", repr(time.time())]
        proc = subprocess.Popen(cmd + ["graftbench.Harness"] + args,
                                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM exited with {code}; log: {log_path}")
    with open(result) as f:
        return json.load(f), spans


def check_failures(res, expected, ingest_expect):
    """Marks every sample with its failure cause (exception or wrong
    output); returns the list of (pass, op, cause)."""
    failures = []
    for p in [res["warmup"], res["settle"]] + res["passes"]:
        for s in p["ops"]:
            cause = s["error"]
            c = s["check"]
            if cause is None and s["op"] == "ingest_run":
                want = {"rows": ingest_expect["rows"], "auto_date": ingest_expect["auto_date"]}
                if c != want:
                    cause = f"ingest check: got {c}, want {want}"
            elif cause is None and s["op"] == "quarantine":
                want = {"quarantine": ingest_expect["quarantine"],
                        "clean_rows": ingest_expect["clean_rows"]}
                if c != want:
                    cause = f"quarantine check: got {c}, want {want}"
            elif cause is None and c:
                want = expected.get(s["op"])
                if c != want:
                    cause = f"result check: got {c}, want {want}"
            s["failure"] = cause
            if cause:
                failures.append((p["name"], s["op"], cause))
    return failures


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None, None
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(res, passes, scratch_left):
    samples = [s for p in passes for s in p["ops"]]
    clean = [p for p in passes if not any(s["failure"] for s in p["ops"])] or passes
    lat = [s["s"] for s in samples if not s["failure"]]
    all_ops = [s for p in [res["warmup"], res["settle"]] + res["passes"] for s in p["ops"]]
    m = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(sum(s["s"] for s in p["ops"]) for p in clean),
        "query_p50_s": statistics.median(lat) if lat else float("nan"),
        "cpu_s": statistics.median(sum(s["cpu_s"] for s in p["ops"]) for p in clean),
        "live_heap_mb": res["live_heap_mb"],
        "failed_frac": sum(1 for s in all_ops if s["failure"]) / len(all_ops),
        "scratch_left_entries": scratch_left,
    }
    t, pct = tail(lat)
    m["query_tail_s"] = t
    runs = [s for s in samples if s["op"] == "ingest_run" and not s["failure"]]
    if runs:
        m["ingest_rows_per_s"] = sum(s["check"]["rows"] for s in runs) / sum(s["s"] for s in runs)
    detail = {"pass_s": f"median of {len(clean)} passes",
              "query_p50_s": f"{len(lat)} samples",
              "query_tail_s": (f"p{pct:.1f} of {len(lat)} samples, 10 beyond it" if t is not None
                               else f"undefined: {len(lat)} samples, fewer than 11"),
              "cpu_s": f"median of {len(clean)} passes",
              "live_heap_mb": f"after a full GC at the end, heap cap {res['heap_max_mb']:.0f} MB"}
    return m, detail


def run_one(root, bench, classes, workload, seed, seconds, trace):
    run_dir = os.path.abspath(os.path.join(root, build.BUILD_DIR, "runs",
                                           f"{workload}-seed{seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        ingest_expect = {}
        t_gen = time.time()
        if workload == "ingest":
            ingest_expect = gen.write_ingest(os.path.join(run_dir, "input"), seed,
                                             INGEST_ROWS, **INGEST_BAD)
        t_jvm, steal0 = time.time(), steal_s()
        res, spans = launch(root, classes, workload, seed, seconds, trace, run_dir, tmp)
        t_end, steal1 = time.time(), steal_s()
        left = [n for n in os.listdir(tmp) if not n.startswith("graft_")]
        staging_mb = sum(layers.size_mb(os.path.join(tmp, n))
                         for n in os.listdir(tmp) if n.startswith("graft_"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    failures = check_failures(res, expected, ingest_expect)
    attempted = sum(len(p["ops"]) for p in [res["warmup"], res["settle"]] + res["passes"])

    untraced = [p for p in res["passes"] if not p["traced"]]
    e2e, detail = end_to_end(res, untraced or res["passes"], len(left))
    print(f"== perfbench {workload} seed={seed} seconds={seconds} trace={trace} "
          f"cpus={res['cpus']} heap={res['heap_max_mb']:.0f}MB")
    print(f"wall: inputs {t_jvm - t_gen:.1f} s, jvm {t_end - t_jvm:.1f} s "
          f"(setup {res['setup_s']:.1f} s, timed window {res['window_s']:.1f} s)")
    steal = "n/a" if steal0 is None else f"{steal1 - steal0:.1f} s"
    print(f"host context, not metrics: canary_s start={res['canary_s'][0]:.3f} "
          f"end={res['canary_s'][1]:.3f} (reference {res['canary_ref_s']}), "
          f"CPU steal during the JVM {steal}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(REPORT_UNITS)
    for name, value in e2e.items():
        shown = "n/a" if value is None else f"{value:.4f}"
        print(f"  {name:<22} {shown:>12} {units.get(name, '')}  {detail.get(name, '')}")
    for pname, op, cause in failures:
        print(f"  FAILED {pname} {op}: {cause}")
    settle_s = sum(s["s"] for s in res["settle"]["ops"])
    print(f"  settle pass {settle_s:.3f} s (untimed); passes " + " ".join(
        f"{sum(s['s'] for s in p['ops']):.3f}{'t' if p['traced'] else ''}" for p in res["passes"])
        + " s (t: traced)")
    for op in WORKLOADS[workload]:
        xs = [s["s"] for p in res["passes"] for s in p["ops"] if s["op"] == op]
        if xs:
            print(f"  op {op:<24} median {statistics.median(xs):.3f} s over {len(xs)}")

    if trace:
        per_layer, report = layers.per_layer(res, spans, staging_mb, len(left))
        for line in report:
            print("  " + line)
        names = [m["name"] for m in bench["per_layer"]]
        values = per_layer
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        values = e2e
    metrics = {}
    for name in names:
        v = values.get(name)
        if v is None or v != v:
            raise SystemExit(f"perfbench: metric {name} not measured")
        metrics[name] = {"value": v, "unit": units[name]}
    print(f"  trace file: {spans}" if trace else "  (untraced run)")
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    classes = build.build(root)
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    for w in names:
        out = run_one(root, bench, classes, w, a.seed, seconds, a.trace)
        sys.stdout.flush()
        print(json.dumps(out))


if __name__ == "__main__":
    main()
