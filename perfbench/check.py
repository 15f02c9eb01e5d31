"""Checks on the benchmark itself, run from the root of a checkout.

    python3 perfbench/check.py spread --workload serve --seeds 1-10 [--out f.json]
        One untraced run per seed; prints, per end-to-end metric, the
        median and the quartile spread (Q3 - Q1) / median, next to the
        metric's bound from BENCHMARK.json.

    python3 perfbench/check.py stability --workload ingest --seed 7 [--out f.json]
        One untraced and two traced runs of one seed. Every count metric
        of the two traced runs must match exactly (compressed byte sizes
        of written data are listed apart: they follow row order); prints
        the tracing overhead (traced minus untraced latency_p50_ms).
        Exits 1 on a count mismatch or a failed oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per-layer metrics that are counts of work, not timings: two traced runs
# of one seed must report them identically
COUNT_UNITS = {"count", "bytes"}
COUNT_RATIOS = {"extract.rows_per_doc", "search.rows_scanned_per_hit"}
# compressed sizes of what Spark writes (shuffle blocks, parquet files, and
# later scans of those files) depend on the order rows reach a writer,
# which follows task scheduling: reported, but only their row counts
# (pipeline.rows_written, tokenize.shuffle_records) must repeat exactly
WRITE_ORDER_BYTES = {
    "pipeline.bytes_written", "tokenize.shuffle_bytes", "search.scan_bytes_per_query",
    "sync.scan_bytes_per_poll", "storage.write_amp",
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = spec()["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec()["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stdout + p.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed={seed} trace={trace} rc={p.returncode}")
    out = json.loads(lines[-1])
    out["detail"] = json.loads(lines[-2])
    return out


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(args) -> int:
    runs = []
    for s in _seeds(args.seeds):
        r = run(args.workload, s, 0)
        runs.append(r)
        vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        print(f"seed {s}: {vals} phases={r['detail']['phases']}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    print(f"{'metric':22s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for m in spec()["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        print(f"{m['name']:22s} {med:12.4f} {(q3 - q1) / med:8.3f} {m['bound']:6.2f}")
    return 0


def stability(args) -> int:
    base = run(args.workload, args.seed, 0)
    t1, t2 = run(args.workload, args.seed, 1), run(args.workload, args.seed, 1)
    for r in (base, t1, t2):
        print(f"trace={r['detail']['trace']} phases={r['detail']['phases']}")
    bad = 0
    for m in spec()["per_layer"]:
        a, b = t1["metrics"][m["name"]]["value"], t2["metrics"][m["name"]]["value"]
        if m["name"] in WRITE_ORDER_BYTES:
            print(f"info {m['name']:36s} {a} {b} ({abs(a - b) / max(a, b, 1):.2%} apart)")
        elif m["unit"] in COUNT_UNITS or m["name"] in COUNT_RATIOS:
            ok = a == b
            bad += not ok
            print(f"{'ok  ' if ok else 'DIFF'} {m['name']:36s} {a} {b}")
    traced = statistics.median(
        [t["metrics"]["trace.latency_p50_ms"]["value"] for t in (t1, t2)])
    untraced = base["metrics"]["latency_p50_ms"]["value"]
    print(f"tracing overhead: {traced - untraced:.1f} ms on latency_p50_ms "
          f"(traced {traced:.1f}, untraced {untraced:.1f})")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump([base, t1, t2], fh, indent=1)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    sp.add_argument("--out")
    st = sub.add_parser("stability")
    st.add_argument("--workload", required=True)
    st.add_argument("--seed", type=int, default=7)
    st.add_argument("--out")
    args = ap.parse_args()
    return spread(args) if args.cmd == "spread" else stability(args)


if __name__ == "__main__":
    sys.exit(main())
