#!/usr/bin/env python3
"""Combine two or more graft.Bench run dirs into the per-key anchor file
(BASELINE_PERKEY.json) by taking each key's MIN over every run's noop_s
entries (the r13 methodology: single-run min-of-3 on a shared box carries
one multi-minute burst that inflates a contiguous stretch of keys >1.5x;
two runs' bursts land on disjoint stretches, so the per-key min removes
the burst while staying a genuine measured wall time).

usage: python3 tools/combine_perkey.py runDirA runDirB [runDir...] out.json "<note>"
Each run dir holds the keys.jsonl and run.json that
`graft.Bench <runDir> 3` writes. The output keeps the compact "key":value
form that SteadyPerfSpec parses. Prints a per-key comparison vs the
previous out.json (if present) so the anchor refresh doubles as a
regression diff.
"""
import json
import os
import statistics
import sys


def load(run_dir):
    meta = json.load(open(os.path.join(run_dir, "run.json")))
    recs = [json.loads(line) for line in open(os.path.join(run_dir, "keys.jsonl"))]
    errors = [r["key"] for r in recs if "error" in r]
    assert not errors, f"{run_dir}: failed keys {errors}"
    return meta, {r["key"]: min(r["noop_s"]) for r in recs}


def main():
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    *run_dirs, out_path, note = sys.argv[1:]
    runs = [load(d) for d in run_dirs]
    key_sets = {frozenset(keys) for _, keys in runs}
    assert len(key_sets) == 1, "key sets differ"
    prev = None
    try:
        prev = json.load(open(out_path))
    except Exception:
        pass
    keys = {k: min(run[k] for _, run in runs) for k in runs[0][1]}
    first, last = runs[0][0], runs[-1][0]
    out = {
        "sf": first["sf"],
        "cpus": first["cpus"],
        "reps": sum(meta["reps"] for meta, _ in runs),
        "date": last["date"],
        "load_avg_start": first["load_avg_start"],
        "load_avg_end": last["load_avg"],
        "total_min_sec": round(sum(keys.values()), 3),
        "n_keys": len(keys),
        "n_errors": 0,
        "errors": [],
        "note": note,
        "keys": {k: keys[k] for k in sorted(keys)},
    }
    json.dump(out, open(out_path, "w"), indent=None, separators=(",", ":"))
    sums = ", ".join(f"{d} sum {sum(run.values()):.1f}"
                     for d, (_, run) in zip(run_dirs, runs))
    print(f"WROTE {out_path}: n_keys={len(keys)} "
          f"total_min_sec={out['total_min_sec']} ({sums})")
    # burst diagnostics: which keys did each single run inflate >1.5x?
    for d, (_, run) in zip(run_dirs, runs):
        flag = [k for k in keys if keys[k] > 0.05 and run[k] > 1.5 * keys[k]]
        print(f"run {d} burst-flagged {len(flag)} keys "
              f"(>1.5x their combined min): {sorted(flag)[:12]}")
    if prev and "keys" in prev:
        ratios = {k: keys[k] / prev["keys"][k] for k in keys
                  if k in prev["keys"] and prev["keys"][k] > 0}
        med = statistics.median(ratios.values())
        print(f"vs previous anchor ({prev.get('date')}): median ratio "
              f"{med:.3f} over {len(ratios)} shared keys")
        up = sorted(((v, k) for k, v in ratios.items()
                     if v > 1.5 and keys[k] > 0.1), reverse=True)
        down = sorted((v, k) for k, v in ratios.items()
                      if v < 0.67 and prev["keys"][k] > 0.1)
        print(f"  >1.5x slower (and >0.1s now): "
              f"{[(k, round(v, 2)) for v, k in up[:15]]}")
        print(f"  >1.5x faster (and was >0.1s): "
              f"{[(k, round(v, 2)) for v, k in down[:15]]}")


if __name__ == "__main__":
    main()
