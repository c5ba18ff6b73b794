"""Pair two per-key byte records (e.g. sf0.01 vs sf0.1) into per-key
DECADE EXPONENTS for shuffle volume and CPU, and flag super-linear keys.

Each input is a graft.Bench run dir (or its keys.jsonl), or one of the
committed SCALEBYTES_*.json files. The two are different eras and are
never paired with each other (the script refuses): a Bench record's bytes
come from the measured NOOP leg, a full materialization of every column
of every row, while the committed SCALEBYTES files hold the retired
ScaleBytes main's COUNT-leg bytes, where Catalyst pruned every column and
expression the count did not need.

exponent = log(metric_hi / metric_lo) / log(data_ratio)
  1.0 = linear in data, 2.0 = quadratic; < 0.05 absolute at the high SF is
  reported as 'bounded' (spines, scalars — scale-free by construction).

Usage: scalebytes_diff.py <lo> <hi> [data_ratio]
                          [--flag-exp=1.25] [--min-bytes=4194304]
                          [--min-cpu=10000] [--expect=k1,k2,...]
All options take the `--name=value` form ONLY; a space-separated value
is rejected (it would otherwise be consumed as the positional
data_ratio and silently rescale every exponent).
Flags a key when its shuffle-write exponent exceeds --flag-exp AND the
high-SF shuffle volume exceeds --min-bytes (tiny absolutes are partition
constants, not data). Shuffle bytes are BIT-REPRODUCIBLE across runs of
the same build (verified r15: the dedup family's 12,026,642 B and
kcore's 12,673,548 B were byte-identical between a full-board pass and
an isolated pass) — they are the gate metric. CPU exponents are ADVISORY
by default (flag with --cpu-flag, threshold --min-cpu at the high SF):
per-key CPU under ~10 s swings 2-6x between same-config runs (JIT, task
constants, and cross-key attribution bleed in full-board passes — r15
measured graph_common_neighbors at 11.4 CPU-s in a full-board pass vs
7.6 s isolated, and sub-second keys read up to 6x inflated). Measure a
key ISOLATED (pass it as the key filter to graft.Bench) before
believing any CPU exponent.

--expect subtracts the DOCUMENTED super-linear keys (the exact-dedup
pair family, the iterative peel) so the gate exits 0 unless a NEW key
flags or an expected one stops flagging (drift both ways is signal).

Exit 1 on unexpected flags, 0 otherwise.
"""
import json, math, os, sys

KNOWN_OPTS = ("--flag-exp", "--min-bytes", "--min-cpu", "--expect", "--cpu-flag")

# Keys whose shuffle-write BYTES are not bit-reproducible across same-build
# runs, with the measured same-build variance band. graph_transitive_closure
# is the one such key on the board (r15: -0.3%/+10% — its fixpoint emits the
# same rows in an order that varies with task completion order, and shuffle
# compression prices the ordering). The variance moves a decade EXPONENT by
# at most log(1.10)/log(10) = 0.041, far inside the 1.25 flag threshold, so
# the gate stays mechanical — this table only annotates the printed row so
# a future byte-level diff doesn't chase compression noise as a regression.
BYTE_VARYING = {"graph_transitive_closure": 0.10}

def load(path):
    """(era, {key: record}) of a Bench run dir / keys.jsonl or a committed
    SCALEBYTES_*.json; failed keys carry no bytes and are skipped."""
    if os.path.isdir(path):
        path = os.path.join(path, "keys.jsonl")
    if path.endswith(".jsonl"):
        recs = (json.loads(line) for line in open(path))
        return "noop", {r["key"]: r for r in recs if "error" not in r}
    return "count", json.load(open(path))["keys"]


def main():
    # Strict argv validation: options are --name=value ONLY. A bare
    # "--flag-exp 1.25" would otherwise leave "1.25" in the positional
    # list where it becomes data_ratio and rescales every exponent.
    for a in sys.argv[1:]:
        if a.startswith("--"):
            name = a.split("=", 1)[0]
            if name not in KNOWN_OPTS:
                sys.exit(f"unknown option {name!r}; known: {', '.join(KNOWN_OPTS)}")
            if "=" not in a and name != "--cpu-flag":
                sys.exit(f"{name} takes --name=value form (got bare {a!r}; "
                         "a following value would be misread as data_ratio)")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) < 2 or len(args) > 3:
        sys.exit("usage: scalebytes_diff.py <lo> <hi> [data_ratio] "
                 "[--flag-exp=F] [--min-bytes=N] [--min-cpu=N] [--expect=k1,k2]")
    (lo_era, lo), (hi_era, hi) = load(args[0]), load(args[1])
    if lo_era != hi_era:
        sys.exit(f"cannot pair {lo_era}-leg bytes ({args[0]}) with "
                 f"{hi_era}-leg bytes ({args[1]})")
    ratio = float(args[2]) if len(args) > 2 else 10.0
    def opt(name, dv):
        for a in sys.argv[1:]:
            if a.startswith(name + "="):
                return float(a.split("=", 1)[1])
        return dv
    flag_exp = opt("--flag-exp", 1.25)
    min_b = opt("--min-bytes", 4 * 1024 * 1024)
    min_cpu = opt("--min-cpu", 10000.0)
    expect = set()
    for a in sys.argv[1:]:
        if a.startswith("--expect="):
            expect = set(a.split("=", 1)[1].split(","))
    ld = math.log(ratio)

    def expo(a, b):
        if b <= 0:
            return None
        if a <= 0:
            return float("inf")
        return math.log(a / b) / ld

    rows, flags = [], []
    for k, h in hi.items():
        l = lo.get(k)
        if l is None:
            continue
        es = expo(h["shuf_w"], max(l["shuf_w"], 1))
        ec = expo(h["cpu_ms"], max(l["cpu_ms"], 1))
        ei = expo(h["input"], max(l["input"], 1))
        bounded = h["shuf_w"] < min_b
        rows.append((k, h["shuf_w"], es, h["cpu_ms"], ec, ei,
                     h["spill_d"] + h["spill_m"], bounded))
        why = []
        if not bounded and es is not None and es > flag_exp:
            why.append(f"shuffle exp {es:.2f}")
        if ("--cpu-flag" in sys.argv and h["cpu_ms"] >= min_cpu
                and ec is not None and ec > flag_exp):
            why.append(f"cpu exp {ec:.2f}")
        if why:
            flags.append((k, "; ".join(why)))

    rows.sort(key=lambda r: -(r[2] if r[2] is not None and not r[7] else -1))
    print(f"{'key':42s} {'shufW_hi':>12s} {'expS':>6s} {'cpu_ms':>9s} "
          f"{'expC':>6s} {'expIn':>6s} {'spill':>10s}")
    for k, sw, es, cm, ec, ei, sp, bounded in rows[:60]:
        tag = " (bounded)" if bounded else ""
        if k in BYTE_VARYING:
            tag += f" (bytes vary ±{BYTE_VARYING[k]:.0%} same-build)"
        f = lambda e: "  n/a" if e is None else f"{e:5.2f}"
        print(f"{k:42s} {sw:12d} {f(es)} {cm:9d} {f(ec)} {f(ei)} "
              f"{sp:10d}{tag}")
    nb = sum(1 for r in rows if r[7])
    print(f"\nkeys={len(rows)} bounded(shufW<{int(min_b)}B)={nb} "
          f"flags={len(flags)}")
    unexpected = []
    for k, why in flags:
        tag = " (expected)" if k in expect else ""
        print(f"FLAG {k}: {why}{tag}")
        if k not in expect:
            unexpected.append(k)
    flagged = {k for k, _ in flags}
    for k in sorted(expect - flagged):
        if k in hi:
            print(f"EXPECTED-GONE {k}: no longer flags (re-document or "
                  f"drop from --expect)")
            unexpected.append(k)
    sys.exit(1 if unexpected else 0)

if __name__ == "__main__":
    main()
