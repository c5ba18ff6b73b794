#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

usage: python3 layerbench/run.py --workload <name> --seed <n> --seconds <s>
                                 --trace <0|1>

Builds the program from source (layerbench/build.py), then runs one JVM:
one set-up, a cold pass, a settling pass, as many warm passes as fit
--seconds, and an untimed output check. Workloads, their keys and actions are in
layerbench/workloads.json; expected output fingerprints in
layerbench/expected.json. Fixture dir: $LAYERBENCH_SF_DIR, default the
project's sf0.1 fixture mount (see build.fixture_dir).

With --trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Each metric is printed on its own line
with its unit and sample count; the last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
every operation succeeded and every fingerprint matched.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def load_json(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def commit_id(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:16]


def jvm(main_class, args, out):
    """Build, then run one benchmark JVM with its output dir `out` (fresh;
    the JVM's temp dir lives inside it and is removed afterwards). Kills the
    JVM after JVM_TIMEOUT_S. Returns the exit code and the log path."""
    build.build()
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(main_class, args, tmp)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    return rc, log


def warm_passes(spec, seconds):
    """Warm passes that fit a run of `seconds` after the cold and settling
    passes, from the workload's nominal cold-pass and pass walls on the
    reference box. The count depends on `seconds` alone, never on this
    run's speed, so every run of a workload has the same pass structure."""
    fit = (seconds - spec["nominal_cold_s"]) / spec["nominal_pass_s"] - 1
    return max(2, int(fit))


def launch(workload, seed, seconds, trace, extra=(), tag=None):
    """Run the benchmark JVM once on a workload; return (records, out dir)."""
    spec = load_json("workloads.json")[workload]
    digest = build.build()
    out = os.path.join(build.build_dir(), "results",
                       tag or f"{workload}-seed{seed}-trace{trace}")
    args = ["--workload", workload, "--seed", str(seed),
            "--warm-passes", str(warm_passes(spec, seconds)), "--trace", str(trace),
            "--sf", build.fixture_dir(), "--out", out, "--keys", ",".join(spec["keys"]),
            "--action", spec["action"], "--commit", commit_id(digest)]
    if "script" in spec:
        args += ["--script", os.path.join(HERE, spec["script"]),
                 "--script-tables", ",".join(spec["script_tables"])]
    rc, log = jvm("layerbench.Main", args + list(extra), out)
    recs_path = os.path.join(out, "records.jsonl")
    if rc != 0 or not os.path.exists(recs_path):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"layerbench: benchmark JVM failed ({rc}); log {log}")
    with open(recs_path) as fh:
        return [json.loads(line) for line in fh if line.strip()], out


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest of p90/p75/p50 that has at least ten samples beyond it."""
    xs = sorted(xs)
    for q in (0.9, 0.75, 0.5):
        if len(xs) * (1 - q) >= 10:
            return q, xs[min(len(xs) - 1, int(q * len(xs)))]
    return 0.5, median(xs)


def pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def self_times(spans, keep):
    """Self time per span kind (ms), over spans under the passes in `keep`:
    a span's duration minus the part of it its children cover."""
    kids = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def pass_of(s):
        while s and s["kind"] != "pass":
            s = by_id.get(s["parent"])
        return s["name"] if s else None

    out = {}
    for s in spans:
        if s["kind"] in ("run", "pass", "setup") or pass_of(s) not in keep:
            continue
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0.0, hi - lo - covered)
    return out


# ------------------------------------------------------------------- report

def check_fingerprints(workload, recs):
    """Compare each output fingerprint with expected.json; return the
    mismatched names (each with its reason) and the output row total."""
    expected = load_json("expected.json").get(workload, {})
    bad, rows = [], 0
    for r in (x for x in recs if x["type"] == "fingerprint"):
        exp = expected.get(r["key"])
        if "error" in r:
            bad.append(f"{r['key']} (fingerprint failed: {r['error']})")
        elif exp is None:
            bad.append(f"{r['key']} (no expected fingerprint)")
        elif (exp["rows"], exp["hash"]) != (r["rows"], r["hash"]):
            bad.append(f"{r['key']} (rows {r['rows']} hash {r['hash']}, "
                       f"expected rows {exp['rows']} hash {exp['hash']})")
        else:
            rows += r["rows"]
    return bad, rows


def untraced_warm(recs):
    """Untraced warm passes and the key walls measured in them."""
    warm = [r for r in recs if r["type"] == "pass" and r["kind"] == "warm"
            and not r["traced"]]
    ids = {p["pass"] for p in warm}
    return warm, [r["wall_s"] for r in recs if r["type"] == "key" and r["pass"] in ids]


def end_to_end(recs):
    """End-to-end metrics: {name: (value, unit, samples)}."""
    head = next(r for r in recs if r["type"] == "header")
    setup = next(r for r in recs if r["type"] == "setup")
    cold = [r for r in recs if r["type"] == "pass" and r["kind"] == "cold"]
    warm, q = untraced_warm(recs)
    return {
        "setup_s": (head["jvm_boot_s"] + setup["total_s"], "s", 1),
        "cold_pass_s": (cold[0]["wall_s"], "s", 1),
        "pass_s": (median([p["wall_s"] for p in warm]), "s", len(warm)),
        "query_p50_s": (median(q), "s", len(q)),
    }


def per_layer(recs, spans, out_rows, cores):
    """Per-layer metrics of a traced run: {name: (value, unit, samples)}.
    Warm-pass layers are per traced warm pass (median over them); staging
    comes from the cold pass, set-up layers from the run's one set-up."""
    setup = next(r for r in recs if r["type"] == "setup")
    passes = [r for r in recs if r["type"] == "pass"]
    keys = [r for r in recs if r["type"] == "key"]
    warm = [p for p in passes if p["kind"] == "warm"]
    u_warm, q = untraced_warm(recs)
    traced = sorted(p["pass"] for p in warm if p["traced"])
    untraced = [p["wall_s"] for p in warm if not p["traced"]]
    n = len(traced)

    def per_pass(field, agg=sum, only=None):
        vals = []
        for p in traced:
            xs = [k.get(field, 0) for k in keys
                  if k["pass"] == p and (only is None or only(k))]
            vals.append(agg(xs) if xs else 0)
        return median(vals)

    cold = [k for k in keys if k["pass"] == 0]
    staged = next((r["bytes"] for r in recs if r["type"] == "staged"), 0)
    drains = next((r["drain_timeouts"] for r in recs if r["type"] == "measured"), 0)
    tr_wall = median([p["wall_s"] for p in passes if p["pass"] in traced])
    un_wall = median(untraced)
    m = {
        "Graft.session_ms": (setup["session_ms"], "ms", 1),
        "Graft.register_ms": (setup["register_ms"], "ms", 1),
        "Graft.warmup_ms": (setup["warmup_ms"], "ms", 1),
        "ops.build_ms": (per_pass("acct_build_ms"), "ms", n),
        "ops.build_jobs": (per_pass("build_jobs"), "count", n),
        "T.staging_s": (sum(k["staging_s"] for k in cold), "s", 1),
        "T.keys_staged": (sum(1 for k in cold if k["staging_s"] > 0), "count", 1),
        "T.staged_bytes": (staged, "bytes", 1),
        "catalyst.analysis_ms": (per_pass("analysis_ms"), "ms", n),
        "catalyst.optimization_ms": (per_pass("optimization_ms"), "ms", n),
        "catalyst.planning_ms": (per_pass("planning_ms"), "ms", n),
        "codegen.compile_ms": (per_pass("codegen_ms"), "ms", n),
        "codegen.compiles": (per_pass("codegen_compiles"), "count", n),
        "codegen.cold_compile_ms": (sum(k.get("codegen_ms", 0) for k in cold), "ms", 1),
        "catalyst.exchanges": (per_pass("exchanges"), "count", n),
        "catalyst.reused_exchanges": (per_pass("reused_exchanges"), "count", n),
        "catalyst.broadcast_exchanges": (per_pass("broadcast_exchanges"), "count", n),
        "plans.custom_nodes": (per_pass("custom_nodes"), "count", n),
        "scheduler.jobs": (per_pass("jobs"), "count", n),
        "scheduler.stages": (per_pass("stages"), "count", n),
        "scheduler.tasks": (per_pass("tasks"), "count", n),
        "scheduler.task_wait_ms": (per_pass("task_wait_ms"), "ms", n),
        "scheduler.driver_gap_ms": (per_pass("driver_gap_ms"), "ms", n),
        "scan.rows": (per_pass("scan_rows"), "count", n),
        "scan.bytes": (per_pass("scan_bytes"), "bytes", n),
        "scan.ms": (per_pass("scan_ms"), "ms", n),
        "shuffle.write_bytes": (per_pass("shuffle_write_bytes"), "bytes", n),
        "shuffle.read_bytes": (per_pass("shuffle_read_bytes"), "bytes", n),
        "shuffle.write_ms": (per_pass("shuffle_write_ms"), "ms", n),
        "shuffle.fetch_wait_ms": (per_pass("fetch_wait_ms"), "ms", n),
        "compute.task_cpu_s": (per_pass("task_cpu_s"), "s", n),
        "compute.task_run_s": (per_pass("task_run_s"), "s", n),
        "compute.gc_ms": (per_pass("gc_ms"), "ms", n),
        "compute.peak_exec_mem_mb": (per_pass("peak_exec_mem_mb", max), "MB", n),
        "compute.spill_bytes": (per_pass("spill_bytes"), "bytes", n),
        "memory.peak_heap_mb": (median([p["peak_heap_mb"] for p in warm]), "MB", len(warm)),
        "process.pass_cpu_s": (median([p["cpu_s"] for p in u_warm]), "s", len(u_warm)),
        "query.p90_s": (pct(q, 0.9), "s", len(q)),
        "sink.rows": (per_pass("sink_rows"), "count", n),
        "sink.bytes": (per_pass("sink_bytes"), "bytes", n),
        "sink.files": (per_pass("sink_files"), "count", n),
        "sink.ms": (per_pass("sink_ms"), "ms", n),
        "Exec.stmt_ms": (per_pass("exec_s", only=lambda k: k["script"]) * 1e3, "ms", n),
        "Exec.stmt_failed": (sum(k["statements_failed"] for k in keys), "count", len(keys)),
        "account.build_ms": (per_pass("acct_build_ms"), "ms", n),
        "account.staging_ms": (per_pass("acct_staging_ms"), "ms", n),
        "account.plan_ms": (per_pass("acct_plan_ms"), "ms", n),
        "account.execute_ms": (per_pass("acct_execute_ms"), "ms", n),
        "account.unattributed_ms": (per_pass("acct_unattributed_ms"), "ms", n),
        "trace.overhead_share": ((tr_wall - un_wall) / un_wall if un_wall else 0.0,
                                 "share", n + len(untraced)),
        "trace.listener_drain_timeouts": (drains, "count", len(keys)),
    }
    ex = m["catalyst.exchanges"][0] + m["catalyst.broadcast_exchanges"][0]
    re = m["catalyst.reused_exchanges"][0]
    tasks = m["scheduler.tasks"][0]
    exec_s = per_pass("exec_s")
    bases = {
        "scan.rows_per_output_row": ("output rows", out_rows),
        "catalyst.reused_exchange_share": ("exchange nodes", ex + re),
        "compute.cpu_utilisation": ("execute wall s x cores", exec_s * cores),
        "scheduler.task_retry_share": ("tasks", tasks),
    }
    m["scan.rows_per_output_row"] = (
        m["scan.rows"][0] / out_rows if out_rows else 0.0, "ratio", n)
    m["catalyst.reused_exchange_share"] = (re / (ex + re) if ex + re else 0.0, "share", n)
    m["compute.cpu_utilisation"] = (
        m["compute.task_cpu_s"][0] / (exec_s * cores) if exec_s else 0.0, "share", n)
    m["scheduler.task_retry_share"] = (
        per_pass("retried_tasks") / tasks if tasks else 0.0, "share", n)
    selfs = self_times(spans, {f"pass{p}" for p in traced})
    for kind in ("key", "build", "execute", "statement", "staging", "plan",
                 "job", "stage"):
        m[f"self.{kind}_ms"] = (selfs.get(kind, 0.0) / max(n, 1), "ms", n)
    return m, bases


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    recs, out = launch(a.workload, a.seed, a.seconds, a.trace)
    head = next(r for r in recs if r["type"] == "header")
    nproc = head["nproc"]
    keys = [r for r in recs if r["type"] == "key"]
    bad, out_rows = check_fingerprints(a.workload, recs)
    attempted = len(keys) + sum(max(0, k["statements"] - 1) for k in keys)
    failed = (sum(0 if k["ok"] else max(1, k["statements_failed"]) for k in keys)
              + len(bad))
    loaded = [k for k in keys if max(k["load_start"], k["load_end"]) > nproc]

    print(f"layerbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"nproc={nproc} cores={head['cores']} max_heap_mb={head['max_heap_mb']} "
          f"spark={head['spark']} scala={head['scala']} java={head['java']} "
          f"commit={head['commit']} keys={len(head['keys'])}")
    print(f"records: {out}/records.jsonl" + (f", spans: {out}/spans.jsonl" if a.trace else ""))
    passes = [r for r in recs if r["type"] == "pass"]
    print("context: load average %.2f-%.2f, hypervisor steal %s s per pass" % (
        min(min(p["load_start"], p["load_end"]) for p in passes),
        max(max(p["load_start"], p["load_end"]) for p in passes),
        "/".join("%.2f" % p["steal_s"] if p.get("steal_s") is not None else "?"
                 for p in passes)))
    if loaded:
        print(f"LOAD FLAG: load average above nproc={nproc} during "
              f"{len(loaded)} of {len(keys)} key runs (max "
              f"{max(max(k['load_start'], k['load_end']) for k in loaded):.2f})")
    for b in bad:
        print(f"MISMATCH {b}")
    for k in keys:
        if not k["ok"]:
            print(f"FAILED {k['key']} pass {k['pass']}: {k['error']}")

    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
        metrics, bases = per_layer(recs, spans, out_rows, head["cores"])
    else:
        metrics = end_to_end(recs)
        bases = {}
        warm, q = untraced_warm(recs)
        tq, tv = tail(q)
        print(f"info pass_cpu_s = {median([p['cpu_s'] for p in warm]):.4f} s "
              f"(process CPU per warm pass; n={len(warm)})")
        print(f"info query_p90_s = {pct(q, 0.9):.4f} s (n={len(q)}); query_tail_s = "
              f"{tv:.4f} s (p{int(tq * 100)}, the highest percentile with >= 10 "
              f"samples beyond it)")
    for name, (v, unit, nsamp) in metrics.items():
        base = f", base {bases[name][0]} = {bases[name][1]:.6g}" if name in bases else ""
        print(f"metric {name} = {v:.6g} {unit} (n={nsamp}{base})")
    print(f"metric error_share = {failed / max(attempted, 1):.6g} share "
          f"(n={attempted} operations, {failed} failed)")
    check_s = next((r["seconds"] for r in recs if r["type"] == "checked"), 0.0)
    print(f"wall {time.time() - t0:.1f} s (output check {check_s:.1f} s)")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]}
                          for n in metrics}}
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
