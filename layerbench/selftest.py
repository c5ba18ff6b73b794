#!/usr/bin/env python3
"""Self-test of the benchmark's attribution (layerbench.SelfTest): exchange
nodes counted from the plan tree on a plan with a reused exchange, and
planted delays (a sleep while building, a sleep inside a task) landing in
ops.build_ms and compute.task_run_s and in no other layer.

usage: python3 layerbench/selftest.py     (exit code 0 when every check passes)
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def main():
    out = os.path.join(build.build_dir(), "results", "selftest")
    rc, log = run.jvm("layerbench.SelfTest",
                      ["--sf", build.fixture_dir(), "--out", out], out)
    with open(log) as fh:
        lines = [ln.rstrip("\n") for ln in fh]
    checks = [ln for ln in lines if ln.startswith(("PASS ", "FAIL ", "SELFTEST"))]
    print("\n".join(checks) if checks else "\n".join(lines[-40:]))
    sys.exit(0 if rc == 0 and "SELFTEST OK" in checks else 1)


if __name__ == "__main__":
    main()
