"""Per-layer metrics of a traced run, from the harness's samples and its
span tree (run → pass → op → build/exec/check → job → stage, plus
micro-batches under build). Per-pass figures are medians over the
traced passes; see README.md for which end-to-end metric each one
should move.
"""
import json
import os
import statistics

MB = 1048576.0


def size_mb(path):
    if os.path.isfile(path):
        return os.path.getsize(path) / MB
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if os.path.isfile(os.path.join(d, f)))
    return total / MB


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def load(path):
    spans, children = {}, {}
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            spans[s["id"]] = s
            children.setdefault(s["parent"], []).append(s)
    return spans, children


def kids(children, span, *kinds):
    return [c for c in children.get(span["id"], []) if c["kind"] in kinds]


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(res, spans_path, staging_mb, scratch_left):
    spans, children = load(spans_path)
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    out_rows = {s["op"]: s["check"].get("rows", 0) for s in res["warmup"]["ops"] if s["check"]}

    def staged(s):
        """Layouts the op built, and the seconds spent building them."""
        built = [b for b in kids(children, spans[s["span"]], "staging") if b.get("built")]
        return len(built), sum(b["end"] - b["start"] for b in built)

    # an op looks up the layouts its first (warm-up) run built; a later
    # run that builds them again missed
    layouts = {s["op"]: staged(s)[0] for s in res["warmup"]["ops"]}

    def pass_figures(p):
        f = dict.fromkeys(["build_s", "exec_s", "jobs", "stages", "driver_gap_s", "tasks", "task_s",
                           "task_cpu_s", "task_gc_s", "task_wait_s", "task_retries",
                           "shuffle_write_mb", "shuffle_read_mb", "shuffle_fetch_wait_s",
                           "shuffle_records", "out_rows", "spill_mb", "peak_exec_mem_mb",
                           "stream.batches", "stream.trigger_s", "stream.add_batch_s",
                           "stream.wal_commit_s", "stream.input_rows", "stream.state_rows",
                           "stream.state_mb", "gc_pause_s", "staging_lookups", "staging_hits",
                           "executions", "plan_s", "persisted_rdds", "held_storage_mb",
                           "scratch_new_entries", "scratch_new_mb", "pass_s", "cpu_s"], 0.0)
        for s in p["ops"]:
            op = spans[s["span"]]
            f["pass_s"] += s["s"]
            f["cpu_s"] += s["cpu_s"]
            f["build_s"] += s["build_s"]
            f["exec_s"] += s["exec_s"]
            f["gc_pause_s"] += s["gc_s"]
            f["out_rows"] += out_rows.get(s["op"], 0)
            for k in ("executions", "plan_s", "scratch_new_entries", "scratch_new_mb"):
                f[k] += s.get(k, 0)
            f["staging_lookups"] += layouts[s["op"]]
            f["staging_hits"] += max(0, layouts[s["op"]] - staged(s)[0])
            f["persisted_rdds"] = max(f["persisted_rdds"], s.get("persisted_rdds", 0))
            f["held_storage_mb"] = max(f["held_storage_mb"], s.get("held_storage_mb", 0))
            phases = kids(children, op, "build", "exec")
            jobs = [j for ph in phases for j in kids(children, ph, "job")]
            f["jobs"] += len(jobs)
            f["driver_gap_s"] += s["s"] - covered([(j["start"], j["end"]) for j in jobs],
                                                  op["start"], op["start"] + s["s"])
            for a in (st for j in jobs for st in kids(children, j, "stage")):
                f["stages"] += 1
                f["tasks"] += a["tasks"]
                f["task_s"] += a["task_ms"] / 1e3
                f["task_cpu_s"] += a["task_cpu_ns"] / 1e9
                f["task_gc_s"] += a["task_gc_ms"] / 1e3
                f["task_wait_s"] += a["task_wait_ms"] / 1e3
                f["task_retries"] += a["task_retries"]
                f["shuffle_write_mb"] += a["shuffle_write_bytes"] / MB
                f["shuffle_read_mb"] += a["shuffle_read_bytes"] / MB
                f["shuffle_fetch_wait_s"] += a["shuffle_fetch_wait_ms"] / 1e3
                f["shuffle_records"] += a["shuffle_write_records"]
                f["spill_mb"] += a["spill_bytes"] / MB
                f["peak_exec_mem_mb"] = max(f["peak_exec_mem_mb"], a["peak_exec_mem_bytes"] / MB)
            for b in (b for ph in phases for b in kids(children, ph, "batch")):
                f["stream.batches"] += 1
                f["stream.trigger_s"] += b["trigger_s"]
                f["stream.add_batch_s"] += b["add_batch_s"]
                f["stream.wal_commit_s"] += b["wal_commit_s"]
                f["stream.input_rows"] += b["input_rows"]
                f["stream.state_rows"] = max(f["stream.state_rows"], b["state_rows"])
                f["stream.state_mb"] = max(f["stream.state_mb"], b["state_bytes"] / MB)
        n_ops = max(1, len(p["ops"]))
        f["scratch_new_entries"] /= n_ops
        f["scratch_new_mb"] /= n_ops
        f["shuffle_rows_per_out_row"] = f["shuffle_records"] / max(1, f["out_rows"])
        return f

    figs = [pass_figures(p) for p in traced]
    m = {k: med(f[k] for f in figs) for k in figs[0]}
    traced_ops = [s for p in [res["warmup"]] + traced for s in p["ops"]]
    lookups = sum(f["staging_lookups"] for f in figs)
    m.update({
        "session_start_s": res["session_start_s"],
        "warmup_s": res["warmup_s"],
        "staging_built": sum(staged(s)[0] for s in traced_ops),
        "staging_build_s": sum(staged(s)[1] for s in traced_ops),
        "staging_mb": staging_mb,
        "staging_hit_ratio": sum(f["staging_hits"] for f in figs) / lookups if lookups else 0.0,
        "scratch_left_entries": scratch_left,
        "trace_overhead_s": med(f["pass_s"] for f in figs) -
        med(sum(s["s"] for s in p["ops"]) for p in untraced),
        "failed_frac": sum(1 for s in traced_ops if s["failure"]) / len(traced_ops),
    })
    ingest_keys = ["fetch_s", "pipeline_task_s", "write_s", "meta_append_s", "in_mb", "out_mb"]
    runs = [s for p in traced for s in p["ops"] if s["op"] == "ingest_run" and not s["failure"]]
    quar = [s for p in traced for s in p["ops"] if s["op"] == "quarantine" and not s["failure"]]
    for k in ingest_keys:
        m["ingest." + k] = med(s[k] for s in runs)
    m["ingest.quarantine_s"] = med(s["s"] for s in quar)
    m["ingest.rows_quarantined"] = med(sum(s["check"]["quarantine"].values()) for s in quar)
    m["ingest.rows_per_s"] = (sum(s["check"]["rows"] for s in runs) / sum(s["s"] for s in runs)
                              if runs else 0.0)

    report = [f"traced passes {len(traced)}, untraced {len(untraced)}; tracing overhead "
              f"{m['trace_overhead_s']:+.3f} s per pass (traced pass_s minus untraced pass_s)"]
    self_time = {}
    for p in traced:
        stack = [spans[p["span"]]]
        while stack:
            s = stack.pop()
            ch = children.get(s["id"], [])
            own = (s["end"] - s["start"]) - covered([(c["start"], c["end"]) for c in ch],
                                                    s["start"], s["end"])
            self_time[s["kind"]] = self_time.get(s["kind"], 0.0) + own
            stack.extend(ch)
    n = max(1, len(traced))
    report.append("self time per pass by span kind: " + ", ".join(
        f"{k} {v / n:.3f} s" for k, v in sorted(self_time.items())))
    for name in sorted(m):
        report.append(f"{name:<26} {m[name]:.4f}")
    return m, report
