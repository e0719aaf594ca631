#!/usr/bin/env python3
"""Seeded oracle sweep (VERDICT r5 task #5): regenerate the full synthetic
table set at N fresh seeds (and off-default scales), run graft.Verify on
each, and run the DuckDB gatecheck per seed. Any per-seed FAIL is a
data-edge bug the fixed-seed gates missed.

Usage: sweep.py [--seeds 101,202,303,404,505] [--scales 0.01]
                [--extra 606:0.003,707:0.03] [--keep]

Runs serially (sbt child JVMs share target/classes — never compile while
this runs). Each run: /tmp/graft_sweep_s{seed}_sf{sf} (data) +
_out (Verify output). Prints a summary table; exit 1 if any gate failed,
or if gatecheck printed no gate line for a seed.
`python3 -m doctest tools/sweep.py` checks the gate classifier.
"""
import argparse
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(cmd, **kw):
    print(f"+ {' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, **kw)


GATE_RE = re.compile(r"^q\d+\w*:")


def classify(stdout, returncode):
    r"""Judge one gatecheck run -> (status, ok, gate lines, bad lines).

    The driver gates on rows+schema+hash; gatecheck's extra [type-diff]
    note (DuckDB widens int32 to int64) is informational, so a run with
    gate lines is judged by its per-gate OK/FAIL lines, not by gatecheck's
    strict exit code. Only recognized per-gate lines (qNN_name: ...)
    count: headers, blank lines or free-form notes must not flip a passing
    seed to FAIL. A run with no gate line at all (a crash, empty stdout)
    is a FAIL whatever its exit code, never "OK (0/0 gates)".

    >>> classify("q01_a: OK\nq02_b: OK\n", 1)[:2]
    ('OK', 2)
    >>> classify("q01_a: OK\nq02_b: FAIL rows\n", 1)[0]
    'FAIL'
    >>> classify("Traceback (most recent call last):\n", 1)[0]
    'FAIL'
    >>> classify("", 0)[0]
    'FAIL'
    """
    lines = [l for l in stdout.splitlines() if GATE_RE.match(l.strip())]
    if not lines:
        return "FAIL", 0, lines, [f"no gate lines from gatecheck (exit {returncode})"]
    bad = [l for l in lines if ": OK" not in l]
    return ("FAIL" if bad else "OK"), len(lines) - len(bad), lines, bad


def one(seed, sf, keep):
    tag = f"s{seed}_sf{sf}"
    data = f"/tmp/graft_sweep_{tag}"
    out = f"{data}_out"
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    r = run([sys.executable, f"{HERE}/gen_sf.py", data, str(seed), str(sf)],
            capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout, r.stderr)
        return tag, "GEN-FAIL", time.time() - t0, []
    # cores: SPARK_GRAFT_CPUS if set, else every available processor
    r = run(["sbt", "-batch", f"runMain graft.Verify {data} {out}"],
            cwd=REPO, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-2000:])
        return tag, "VERIFY-FAIL", time.time() - t0, []
    r = run([sys.executable, f"{HERE}/gatecheck.py", data, out],
            capture_output=True, text=True)
    status, ok, lines, bad = classify(r.stdout, r.returncode)
    for info in (l for l in r.stdout.splitlines()
                 if l.strip() and not GATE_RE.match(l.strip())):
        print(f"  [gatecheck] {info}")
    if not lines:
        print(r.stderr[-2000:])
    if not keep and status == "OK":
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
    return tag, f"{status} ({ok}/{len(lines)} gates)", time.time() - t0, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101,202,303,404,505")
    ap.add_argument("--scales", default="0.01")
    ap.add_argument("--extra", default="606:0.003,707:0.03",
                    help="extra seed:sf pairs (off-default scales)")
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()
    jobs = [(int(s), float(sc)) for sc in a.scales.split(",") if sc
            for s in a.seeds.split(",") if s]
    jobs += [(int(p.split(":")[0]), float(p.split(":")[1]))
             for p in a.extra.split(",") if p]
    results = []
    for seed, sf in jobs:
        tag, status, secs, bad = one(seed, sf, a.keep)
        print(f"== {tag}: {status} in {secs:.0f}s", flush=True)
        for l in bad:
            print(f"   {l}", flush=True)
        results.append((tag, status, secs, bad))
    print("\n== SWEEP SUMMARY ==")
    fail = 0
    for tag, status, secs, bad in results:
        print(f"{tag:18s} {status:22s} {secs:6.0f}s")
        fail += 0 if status.startswith("OK") else 1
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
