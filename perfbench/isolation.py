#!/usr/bin/env python3
"""Isolation self-check of the lane benchmark.

Runs the traced harness twice with two lane orders and checks that every
lane does the same work in every traced sample: the same number of Spark
jobs, tasks and shuffle records written, and the same shuffle bytes written
within 0.5 %. A lane whose counts vary is priced off state another lane, or
its own earlier sample, left behind; it is named and the check exits with
code 1.

Usage: python3 perfbench/isolation.py --workload NAME
"""
import argparse
import json
import sys

import run

# Counts that must be equal in every sample of a lane. Shuffle bytes may
# differ by a few hundred bytes: rows reach a map task in whatever order the
# upstream fetches complete, and the compressed size follows the order.
EXACT = ("jobs", "tasks", "shuffle_write_records")
BYTES_TOLERANCE = 0.005


def varying(samples):
    """{lane: {key: sorted distinct values}} for lanes whose work differs."""
    seen = {}
    for s in samples:
        for k in EXACT + ("shuffle_write_bytes",):
            seen.setdefault(s["lane"], {}).setdefault(k, set()).add(s[k])
    bad = {}
    for lane, ks in seen.items():
        diff = {k: sorted(ks[k]) for k in EXACT if len(ks[k]) > 1}
        b = ks["shuffle_write_bytes"]
        if max(b) - min(b) > BYTES_TOLERANCE * max(b):
            diff["shuffle_write_bytes"] = sorted(b)
        if diff:
            bad[lane] = diff
    return bad


def main():
    ap = argparse.ArgumentParser(description="Isolation self-check of the lane benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    a = ap.parse_args()
    cp, opts = run.build()
    data = run.tables()
    (run.WORK / "records").mkdir(parents=True, exist_ok=True)
    (run.WORK / "logs").mkdir(parents=True, exist_ok=True)
    run.prepare(cp, opts, data, a.workload, run.WORK / "logs" / f"isolation-{a.workload}.log")
    samples = []
    for order in (1, 2):
        tag = f"isolation-{a.workload}-order{order}"
        out = run.WORK / "records" / f"{tag}.jsonl"
        r = run.java(cp, opts, ["--data", str(data), "--lanes", run.WORKLOADS[a.workload][1],
                                "--seed", str(order), "--seconds", "0", "--trace", "1",
                                "--records", str(out)],
                     600, run.WORK / "logs" / f"{tag}.log")
        if r.returncode != 0:
            run.fail(f"harness failed (rc={r.returncode}) for lane order {order}")
        samples += [x for x in map(json.loads, out.read_text().splitlines())
                    if x["kind"] in ("cold", "warm") and x["traced"]]
    bad = varying(samples)
    lanes = len({s["lane"] for s in samples})
    for lane, diff in sorted(bad.items()):
        print(f"VARIES {lane}: {json.dumps(diff)}")
    print(f"{lanes - len(bad)} of {lanes} lanes do the same work in all "
          f"{len(samples)} traced samples")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
