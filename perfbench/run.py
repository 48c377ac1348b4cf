#!/usr/bin/env python3
"""Lane-isolated benchmark of the graft engine.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (sbt, once per source state), generates
the tables (once, from a fixed seed), then runs the harness JVM: a cold
pass, an untimed pass that dumps every lane's result, and warm passes for S
seconds. The seed only draws the lane order of the passes after the cold
one. Each result is compared with its DuckDB twin from
`SparkEntry.oracleSql`. The last stdout line is one JSON object: `correct`,
`attempted`, `failed`, `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1).
Full lane records go to .bench_build/perfbench/records/.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
HARNESS = HERE / "harness"
# The harness JVM's working directory, kept while the build and the tables
# are unchanged: the program keeps replay fixtures under its `target/`,
# which `prepare` builds before any timed pass.
CWD = WORK / "cwd"
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

# Lane specs in SparkEntry.onlyFilter syntax: (full family, measured subset).
# A full family does not fit the per-run time limit on a 4-core host (the
# analytics family alone takes ~45 s cold plus ~31 s per warm pass), so a
# run measures a fixed subset that keeps each family's mechanisms, small
# enough that the 70 runs of a benchmark pass fit in 3,420 s on a host
# running 25 % slow.
WORKLOADS = {
    "analytics": (
        "q*,sketch_*",
        # graph iteration loop with eager jobs, star join and aggregate,
        # graft logical-plan rules (as-of join, top-k), KLL sketch over a
        # rolling window, object-hash aggregate
        "q78_pagerank,q1_agg,q3_star_join,q49_asof_custom_op,"
        "q64_topk_custom_op,q97b_rolling_median_kll,q81_market_basket"),
    "llm_pipeline": (
        "dedup_*,sim_*,cluster_*,text_*,pipeline_*,mm_*,emb_*,wordcount_documents",
        # MinHash-LSH dedup, IVF similarity, k-means, BM25, BPE merges, WARC
        # ingest, video decoding, word count
        "dedup_minhash_lsh,sim_ann_ivf,cluster_kmeans,text_bm25,"
        "pipeline_bpe_merges,pipeline_warc_ingest,mm_video_frames,wordcount_documents"),
    "streaming": (
        "stream_*",
        # tumbling and session windows, dedup, stateful aggregation, late
        # data past the watermark, stream-stream join; all on the default
        # state store
        "stream_tumbling,stream_session,stream_dedup,"
        "stream_stateful,stream_late_data,stream_stream_join"),
}
SCALE = 0.01          # scale factor of the generated tables
DATA_SEED = 1         # the tables are the same in every run
SETUP_RUNS = 3        # JVM set-ups per run; setup_s is their median
MAIN = "org.apache.spark.perfbench.LaneBench"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads: the program's build and sources
    and the harness's."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HARNESS / "build.sbt"]
    for d in (ROOT / "project", HARNESS / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.exists() else b"<missing>")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Returns (classpath, JVM options) of the harness, building if the
    sources changed since the last build in this checkout."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail("no program to build: build.sbt and src/main must sit beside perfbench/", 2)
    WORK.mkdir(parents=True, exist_ok=True)
    stamp, spec = WORK / "launch.stamp", WORK / "launch.txt"
    want = source_stamp()
    if not (spec.exists() and stamp.exists() and stamp.read_text() == want):
        log("building program and harness with sbt")
        t0 = time.time()
        with open(WORK / "build.log", "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                               cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            fail(f"build failed (rc={r.returncode}); see {WORK / 'build.log'}")
        shutil.copy(HARNESS / "target" / "launch.txt", spec)
        shutil.rmtree(CWD, ignore_errors=True)  # fixtures of the old build
        stamp.write_text(want)
        log(f"built in {time.time() - t0:.1f} s")
    lines = spec.read_text().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def java(cp, opts, args, timeout, log_file):
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    CWD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}", "-cp", cp, MAIN, *args]
    with open(log_file, "a") as err:
        return subprocess.run(cmd, cwd=CWD, env=env, stdout=subprocess.PIPE,
                              stderr=err, stdin=subprocess.DEVNULL, text=True,
                              timeout=timeout)


def tables():
    import gen
    d = WORK / "data" / f"sf{SCALE}-seed{DATA_SEED}"
    if not (d / "_DONE").exists():
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(CWD, ignore_errors=True)  # fixtures of the old tables
        gen.write(d, DATA_SEED, SCALE)
        (d / "_DONE").write_text("")
    return d


def prepare(cp, opts, data, workload, log_file):
    """Runs every lane of the workload once, untimed, in a throwaway JVM,
    so the replay fixtures some lanes build on first use exist before any
    timed pass. Once per build."""
    done, spec = CWD / f"prepared-{workload}", WORKLOADS[workload][1]
    if done.exists() and done.read_text() == spec:
        return
    r = java(cp, opts, ["--prepare", "--data", str(data), "--lanes", spec], 120, log_file)
    if r.returncode != 0:
        fail(f"prepare run failed (rc={r.returncode}); see {log_file}")
    done.write_text(spec)


def calibrate_ms():
    """Fastest of five runs of a fixed CPU-bound loop: the host's speed."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def oracle_check(data_dir, dump_dir, lanes):
    """Compares every lane's dumped result with its DuckDB twin, using the
    rendering and hashing rules of tools/local_verify.py. Returns
    {lane: problem} for each lane that does not match."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, str(ROOT / "tools"))
    from local_verify import TABLES, ArrayColumn, canon
    oracle = json.loads((dump_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for lane in lanes:
        out = dump_dir / lane
        if lane not in oracle:
            bad[lane] = "no oracle"
        elif not list(out.glob("*.parquet")):
            bad[lane] = "missing output"
        else:
            try:
                got = canon(pq.read_table(out))
                want = canon(con.execute(oracle[lane]).fetch_arrow_table())
            except ArrayColumn as e:
                bad[lane] = f"array column {e}"
                continue
            except Exception as e:  # an oracle that does not run is a failure
                bad[lane] = f"oracle error {str(e)[:200]}"
                continue
            if got[0] != want[0]:
                bad[lane] = f"columns {got[0]} != {want[0]}"
            elif len(got[2]) != len(want[2]):
                bad[lane] = f"rows {len(got[2])} != {len(want[2])}"
            elif got[2] != want[2]:
                diff = next(a for a, b in zip(got[2], want[2]) if a != b)
                bad[lane] = f"values differ, first {diff}"
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser(description="Lane-isolated benchmark of the graft engine")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp, opts = build()
    started = time.time()  # after the build, which only the first run pays
    calib = calibrate_ms()
    data = tables()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for sub in ("records", "logs"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    log_file = WORK / "logs" / f"{tag}.log"
    log_file.write_text("")
    prepare(cp, opts, data, a.workload, log_file)

    setups = []
    for _ in range(SETUP_RUNS - 1):
        r = java(cp, opts, ["--setup-only"], 120, log_file)
        if r.returncode != 0:
            fail(f"set-up run failed (rc={r.returncode}); see {log_file}")
        setups.append(json.loads(r.stdout.strip().splitlines()[-1])["setup_s"])

    raw = WORK / "records" / f"{tag}.raw.jsonl"
    dump = CWD / "dump"
    shutil.rmtree(dump, ignore_errors=True)
    budget = max(30.0, 175.0 - (time.time() - started))
    try:
        r = java(cp, opts, ["--data", str(data), "--lanes", WORKLOADS[a.workload][1],
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--records", str(raw)], budget, log_file)
    except subprocess.TimeoutExpired:
        fail(f"harness exceeded {budget:.0f} s; see {log_file}")
    if r.returncode != 0:
        fail(f"harness failed (rc={r.returncode}); see {log_file}")
    recs = [json.loads(l) for l in raw.read_text().splitlines() if l.strip()]
    setup = next(x for x in recs if x["kind"] == "setup")
    setups.append(setup["setup_s"])
    jvm = next(x for x in recs if x["kind"] == "jvm")
    passes = [x for x in recs if x["kind"] == "pass" and x["pass_kind"] != "dump"]
    samples = [x for x in recs if x["kind"] in ("cold", "warm", "dump")]
    lanes = sorted({x["lane"] for x in samples})

    bad = oracle_check(data, dump, lanes)
    for lane, why in sorted(bad.items()):
        log(f"oracle mismatch {lane}: {why}")
    thrown = [x for x in samples if not x["ok"]]
    attempted = len(samples)
    failed = len(thrown) + len(bad)

    steal = [p["host_steal_pct"] for p in passes if p["host_steal_pct"] is not None]
    iowait = [p["host_iowait_pct"] for p in passes if p["host_iowait_pct"] is not None]
    host = {"cpus": setup["cpus"], "calib_ms": calib,
            "steal_pct": statistics.mean(steal) if steal else 0.0,
            "iowait_pct": statistics.mean(iowait) if iowait else 0.0}
    timed = [x for x in samples if x["kind"] != "dump"]
    e2e, info = metrics.end_to_end(setups, timed, jvm)
    if a.trace:
        m, trace_info = metrics.per_layer(timed, jvm, host)
        info.update(trace_info)
    else:
        m = e2e

    # every record carries the seed and the host context of its run
    stamp = {"seed": a.seed, "workload": a.workload, "trace": a.trace, "host": host}
    summary = {"kind": "summary", "setups_s": setups, "failed_frac": failed / attempted,
               "oracle_failures": bad, "lane_failures": sorted({x["lane"] for x in thrown}),
               "info": info, "metrics": {k: v[0] for k, v in m.items()}}
    with open(WORK / "records" / f"{tag}.jsonl", "w") as f:
        for x in recs + [summary]:
            f.write(json.dumps({**x, **stamp}) + "\n")
    raw.unlink()
    shutil.rmtree(dump, ignore_errors=True)
    if any(v[0] is None for v in m.values()):
        fail(f"no value for {[k for k, v in m.items() if v[0] is None]}")
    log(f"{tag}: {attempted} samples, {failed} failed, {time.time() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
