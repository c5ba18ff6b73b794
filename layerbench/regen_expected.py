#!/usr/bin/env python3
"""Regenerate layerbench/expected.json, the output fingerprints run.py checks.

usage: python3 layerbench/regen_expected.py [workload ...]

For each workload it runs the benchmark JVM twice (two seeds, so two key
orders) with a dump of every output, and requires:
  - both runs give the same fingerprint for every key (deterministic output);
  - every key with a DuckDB oracle (SparkEntry.oracleSql) matches it, with
    tools/preflight.py's semantics: columns sorted by name, DuckDB types
    equal (tools/typegate.py), rows compared in order after normalisation;
  - the bulk-load script's tables match the same script run in DuckDB.
Only then is expected.json rewritten. Run it on the commit whose outputs
are the reference; it is a maintenance tool, not part of a benchmark run.
"""
import json
import os
import re
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402
from preflight import TABLES, norm  # noqa: E402
from typegate import type_issues  # noqa: E402


def duck(sf):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def compare(con, files_dir, oracle_rel, unordered=False):
    """preflight.py's comparison of a Spark parquet dump against a DuckDB
    relation; returns None when they match, else the reason. `unordered`
    sorts both sides by every column first (for tables, which have no
    order of their own)."""
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(files_dir)
                   for f in fs if f.endswith(".parquet"))
    exp_cols = sorted(oracle_rel.columns)
    order = f" ORDER BY {', '.join(exp_cols)}" if unordered else ""
    exp = con.execute(f"SELECT {', '.join(exp_cols)} FROM oracle_rel{order}").fetchall()
    got_rel = con.sql(f"SELECT * FROM read_parquet({files!r}, hive_partitioning = false)")
    got_cols = sorted(got_rel.columns)
    if [c.lower() for c in got_cols] != [c.lower() for c in exp_cols]:
        return f"schema spark={got_cols} oracle={exp_cols}"
    issues = type_issues(got_rel, oracle_rel)
    if issues:
        return "types " + "; ".join(issues)
    order = f" ORDER BY {', '.join(got_cols)}" if unordered else ""
    got = con.execute(f"SELECT {', '.join(got_cols)} FROM got_rel{order}").fetchall()
    if len(got) != len(exp):
        return f"rows spark={len(got)} oracle={len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if tuple(map(norm, g)) != tuple(map(norm, e)):
            return f"row {i}: spark={g} oracle={e}"
    return None


def duck_script(con, path):
    """Run the bulk-load script in DuckDB (Spark-only clauses removed)."""
    text = open(path).read()
    text = re.sub(r"--[^\n]*", "", text)
    text = re.sub(r"USING parquet", "", text)
    text = re.sub(r"PARTITIONED BY \([^)]*\)", "", text)
    for stmt in (s.strip() for s in text.split(";")):
        if stmt and not stmt.upper().startswith("SELECT"):
            con.execute(stmt)


def regen(workload, expected):
    spec = run.load_json("workloads.json")[workload]
    sf = build.fixture_dir()
    fps = []
    dump = None
    for seed in (1, 2):
        dump = os.path.join(build.build_dir(), "results", f"dump-{workload}-{seed}")
        os.makedirs(dump, exist_ok=True)
        recs, _ = run.launch(workload, seed, 0, 0,
                             extra=["--dump", dump, "--warm-passes", "1"],
                             tag=f"regen-{workload}-{seed}")
        bad = [r for r in recs if r["type"] == "key" and not r["ok"]]
        if bad:
            raise SystemExit(f"{workload}: failed keys {[r['key'] for r in bad]}")
        fps.append({r["key"]: r for r in recs if r["type"] == "fingerprint"})
    problems = []
    for k, r in fps[0].items():
        other = fps[1].get(k, {})
        if "error" in r or (r.get("rows"), r.get("hash")) != (other.get("rows"), other.get("hash")):
            problems.append(f"{k}: not deterministic or failed: {r} vs {other}")
    con = duck(sf)
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    verdict = {}
    for k in fps[0]:
        if k in oracle:
            why = compare(con, os.path.join(dump, k), con.sql(oracle[k]))
            verdict[k] = "duckdb-match" if why is None else why
        elif ":" in k:
            verdict[k] = None
        else:
            verdict[k] = "no-oracle"
    if "script" in spec:
        duck_script(con, os.path.join(HERE, spec["script"]))
        for k in (k for k in verdict if ":" in k):
            table = k.split(":", 1)[1]
            why = compare(con, os.path.join(dump, k.replace(":", ".")),
                          con.sql(f"SELECT * FROM {table}"), unordered=True)
            verdict[k] = "duckdb-match" if why is None else why
    for k, v in verdict.items():
        if v not in ("duckdb-match", "no-oracle"):
            problems.append(f"{k}: DuckDB mismatch: {v}")
    if problems:
        raise SystemExit(f"{workload}:\n  " + "\n  ".join(problems))
    expected[workload] = {k: {"rows": r["rows"], "hash": r["hash"], "check": verdict[k]}
                          for k, r in sorted(fps[0].items())}
    n_match = sum(v == "duckdb-match" for v in verdict.values())
    print(f"{workload}: {len(verdict)} outputs, {n_match} DuckDB-checked, all deterministic")


def main():
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    names = sys.argv[1:] or list(run.load_json("workloads.json"))
    for w in names:
        regen(w, expected)
        with open(path, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
