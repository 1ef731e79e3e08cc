#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ann-serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
harness (see build.py). The workload's inputs are generated from the seed,
the harness (src/perfbench/Harness.scala) runs them against the program on
local[4] and records what came back, and this script checks the answers and
prints the metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans, per-layer self times
and the pipeline's per-key drill-down go to a trace file whose path is
printed on stderr. See README.md for what each workload and metric means.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fingerprint  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ANN = dict(dim=128, centres=256, sigma=2.0, m=16, ef_construction=200, ef=50, k=10,
           shards=4)
CONFIG = {
    "ann-serve": dict(ANN, n=6000, pool=1000, batch=1000, builds=3, warmup_s=2.5,
                      point_chunk_s=0.8, stat_ops=3000),
    "ann-ingest": dict(ANN, n=4000, pool=1000, probe=500, builds=3, warmup_s=2.5, reloads=2,
                       mix=[0.70, 0.20, 0.05, 0.05], stream_ops_per_s=6000, stat_ops=3000),
    # the fixture holds the tables the pipeline keys read
    "pipeline": dict(fixture=os.path.join(HERE, "fixture", "sf0.01"),
                     tables="embeddings,documents", min_passes=2),
}
FAMILIES = {
    "graph": "pagerank label_propagation",
    "curate": "minhash_lsh_portable substring_dup",
    "vector": "knn_batch embedding_neardup",
}
FAMILY_OF = {k: f for f, ks in FAMILIES.items() for k in ks.split()}
FINGERPRINTS = os.path.join(HERE, "oracle", "fingerprints.json")
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HARNESS_BUDGET_S = 170
CHUNKS = 8


class Result:
    """Attempted and failed operations, and why each failure happened."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []

    def check(self, ok, n_failed, why):
        if not ok:
            self.failed += n_failed
            self.reasons.append(why)


def read(out, name, dtype, width=1):
    a = np.fromfile(os.path.join(out, name), dtype=dtype)
    return a.reshape(-1, width) if width > 1 else a


def latency(lat_ms, first=None):
    """Latency summary of one closed-loop client. The median and the
    throughput are medians over CHUNKS consecutive slices of the samples, so
    a burst of host noise over part of the window moves them little. The
    tail covers the first `first` samples (all when None): a fixed count
    keeps its percentile level the same on every run."""
    lat = list(lat_ms)
    tail = lat[:first] if first else lat
    level = stats.tail_level(len(tail))
    chunks = [c for c in np.array_split(np.asarray(lat), min(CHUNKS, len(lat))) if len(c)]
    return {"p50_ms": stats.median([float(np.median(c)) for c in chunks]),
            "ops_per_s": stats.median([1e3 * len(c) / float(np.sum(c)) for c in chunks]),
            "samples": len(lat), "tail_samples": len(tail), "tail_level": level,
            "tail_ms": stats.percentile(tail, level) if level else None}


def overhead(traced, untraced):
    """Tracing overhead: mean recorded request time over mean unrecorded."""
    return float(np.mean(traced) / np.mean(untraced) - 1.0)


def run_harness(root, classes, workload, in_dir, out_dir, seconds, trace, extra, deadline):
    args = dict(workload=workload, seconds=seconds, trace=trace, **{"in": in_dir, "out": out_dir},
                **extra)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + JAVA_OPENS +
           ["-cp", build.classpath(root, classes), "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(out_dir, "harness.log"), "wb") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out_dir, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out_dir, env=env)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(out_dir, "harness.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    with open(os.path.join(out_dir, "harness.json")) as f:
        return json.load(f)


# ---- ann-serve ---------------------------------------------------------------

def ann_serve(cfg, inputs, out, h, res, trace):
    k, pool = cfg["k"], cfg["pool"]
    lat = read(out, "point_lat_ms.f64", "<f8").tolist()
    point = read(out, "point_ids.i64", "<i8", k)
    batch = read(out, "batch_ids.i64", "<i8", k)
    batches = h["batch_ms"]
    res.attempted += len(lat) + len(batches)
    truth = stats.exact_topk(np.arange(cfg["n"]), inputs["corpus"], inputs["queries"], k)
    short = int(np.sum((point < 0).any(axis=1)))
    res.check(short == 0, short, f"{short} point searches returned fewer than {k} ids")
    n_b = len(batch)
    diff = sum(set(point[i]) != set(batch[i]) for i in range(n_b))
    res.check(diff == 0, diff, f"{diff} of {n_b} batched queries differ from the point shape")
    op = latency(lat, cfg["stat_ops"])
    m = {
        "setup_s": stats.median(h["setup_samples_s"]),
        "op_ms": op["p50_ms"],
        "ops_per_s": op["ops_per_s"],
        "bulk_s": stats.median(batches) / 1e3,
        "answer_quality": stats.recall_at_k(point, truth, k),
    }
    side = {"op": "point searchAllPar", "op_latency": op,
            "bulk": f"{min(cfg['batch'], pool)}-query searchResident batch",
            "bulk_samples": len(batches), "batch_qps": min(cfg["batch"], pool) * 1e3 /
            stats.median(batches), "setup_samples": len(h["setup_samples_s"])}
    if trace:
        side["overhead_share"] = overhead(lat[0::2], lat[1::2])
    return m, side


# ---- ann-ingest --------------------------------------------------------------

def ann_ingest(cfg, inputs, out, h, res, trace):
    k = cfg["k"]
    ops = inputs["ops"]
    lat = read(out, "op_lat_ms.f64", "<f8")
    status = read(out, "op_status.i64", "<i8")
    ids = read(out, "op_ids.i64", "<i8", k)
    n = len(lat)
    res.attempted += n + 1  # the stream, then the persistence round trip
    live = {i: ("c", i) for i in range(cfg["n"])}
    bad_search = bad_status = 0
    for i in range(n):
        kind, vid, row = ops[i]
        if kind == gen.SEARCH:
            got = [int(x) for x in ids[i] if x >= 0]
            if len(got) != min(k, len(live)) or any(g not in live for g in got):
                bad_search += 1
        elif kind == gen.DELETE:
            bad_status += status[i] != 10
            live.pop(int(vid), None)
        else:
            bad_status += status[i] != 100
            live[int(vid)] = ("i", int(row))
    res.check(bad_search == 0, bad_search, f"{bad_search} searches returned a dead or missing id")
    res.check(bad_status == 0, bad_status, f"{bad_status} mutations reported the wrong counts")

    live_ids = np.array(sorted(live), dtype=np.int64)
    vecs = np.stack([inputs["corpus"][r] if src == "c" else inputs["inserts"][r]
                     for src, r in (live[i] for i in live_ids)])
    probe = inputs["queries"][:cfg["probe"]]
    truth = stats.exact_topk(live_ids, vecs, probe, k)
    final = read(out, "final_ids.i64", "<i8", k)
    loaded = read(out, "loaded_ids.i64", "<i8")
    reload_ids = read(out, "reload_ids.i64", "<i8", k)
    reload_ok = np.array_equal(loaded, live_ids) and np.array_equal(final, reload_ids)
    res.check(reload_ok, 1, "the reloaded index differs from the saved one")

    searches = lat[ops[:n, 0] == gen.SEARCH]
    op = latency(lat.tolist(), cfg["stat_ops"])
    m = {
        "setup_s": stats.median(h["setup_samples_s"]),
        "op_ms": op["p50_ms"],
        "ops_per_s": op["ops_per_s"],
        "bulk_s": stats.median(h["reload_s"]),
        "answer_quality": stats.recall_at_k(final, truth, k),
    }
    side = {"op": "mixed stream op", "op_latency": op,
            "search_p50_ms": float(np.median(searches)),
            "insert_p50_ms": float(np.median(lat[(ops[:n, 0] == gen.INSERT_NEW) |
                                                 (ops[:n, 0] == gen.OVERWRITE)])),
            "bulk": "HnswPersistence.save + load", "bulk_samples": len(h["reload_s"]),
            "live": len(live_ids),
            "setup_samples": len(h["setup_samples_s"])}
    if trace:
        search_at = np.flatnonzero(ops[:n, 0] == gen.SEARCH)
        side["overhead_share"] = overhead(lat[search_at[search_at % 2 == 0]],
                                          lat[search_at[search_at % 2 == 1]])
    return m, side


# ---- pipeline ----------------------------------------------------------------

def pipeline(cfg, inputs, out, h, res, trace):
    with open(FINGERPRINTS) as f:
        expected = json.load(f)["keys"]
    keys = sorted(FAMILY_OF)
    res.attempted += len(keys)
    mismatched = []
    for key in keys:
        try:
            got = fingerprint.of_parquet_dir(os.path.join(out, "first", key))
            ok = all(got[f] == expected[key][f] for f in got)
        except (FileNotFoundError, KeyError):
            ok = False
        if not ok:
            mismatched.append(key)
    res.check(not mismatched, len(mismatched),
              "oracle fingerprint mismatch: " + " ".join(mismatched))
    passes = h["passes"]
    timed = [p["keys"] for p in passes]
    for p in passes:
        bad = [r[0] for r in p["keys"] if r[4] is not True]
        res.attempted += len(p["keys"])
        res.check(not bad, len(bad), "keys failed: " + " ".join(bad))
    per_key = [(r[1] + r[2] + r[3]) * 1e3 for p in timed for r in p]
    suites = [sum(r[1] + r[2] + r[3] for r in p) for p in timed]
    op = latency(per_key)
    m = {
        "setup_s": stats.median(h["setup_samples_s"]),
        # the six keys are different queries, so their median jumps from
        # one key to another; the mean key time does not
        "op_ms": stats.median([1e3 * s / len(p) for s, p in zip(suites, timed)]),
        "ops_per_s": len(per_key) / sum(suites),
        "bulk_s": stats.median(suites),
        "answer_quality": (len(keys) - len(mismatched)) / len(keys),
    }
    side = {"op": "one query key: prepare + count + release", "op_latency": op,
            "bulk": f"one pass over the {len(keys)} keys",
            "bulk_samples": len(suites), "setup_samples": len(h["setup_samples_s"])}
    for fam in FAMILIES:
        side[f"{fam}_s"] = stats.median(
            [sum(r[1] + r[2] + r[3] for r in p if FAMILY_OF[r[0]] == fam) for p in timed])
    if trace:
        rows = [r for p in timed for r in p]
        side["overhead_share"] = overhead([r[1] + r[2] + r[3] for r in rows if r[6]],
                                          [r[1] + r[2] + r[3] for r in rows if not r[6]])
    return m, side


UNITS = {"setup_s": "s", "op_ms": "ms", "ops_per_s": "1/s", "bulk_s": "s",
         "answer_quality": "ratio"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + HARNESS_BUDGET_S
    cfg = CONFIG[a.workload]
    work = os.path.join(build.target_dir(root), f"run-{a.workload}-{a.seed}-{os.getpid()}")
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    try:
        if a.workload == "pipeline":
            inputs = None
            order = sorted(FAMILY_OF)
            random.Random(a.seed).shuffle(order)
            cfg = dict(cfg, keys=",".join(sorted(FAMILY_OF)), order=",".join(order))
        else:
            cfg = dict(cfg, ops=int(cfg.get("stream_ops_per_s", 0) * (a.seconds + 10)))
            inputs = (gen.ann_serve if a.workload == "ann-serve" else gen.ann_ingest)(
                in_dir, a.seed, cfg)
        # the harness reads the settings it needs and ignores the rest
        extra = {k: v for k, v in cfg.items() if not isinstance(v, list)}
        h = run_harness(root, classes, a.workload, in_dir, out_dir, a.seconds, a.trace, extra,
                        deadline)
        res = Result()
        check = {"ann-serve": ann_serve, "ann-ingest": ann_ingest, "pipeline": pipeline}
        m, side = check[a.workload](cfg, inputs, out_dir, h, res, a.trace)
        for why in res.reasons:
            print(f"perfbench: FAILED {why}", file=sys.stderr)
        if a.trace:
            with open(os.path.join(out_dir, "trace_raw.json")) as f:
                t = layers.Trace(json.load(f))
            traced_pass = [r for p in h.get("passes", []) for r in p["keys"] if r[6]]
            per_layer, drill = layers.all_metrics(t, h, a.workload, cfg.get("dim", 0),
                                                  traced_pass, FAMILY_OF)
            per_layer["trace.overhead_share"] = side["overhead_share"]
            per_layer["bench.op_tail_ms"] = side["op_latency"]["tail_ms"] or 0.0
            metrics = {n: {"value": per_layer[n], "unit": u} for n, u in layers.METRICS.items()}
            path = os.path.join(build.target_dir(root), f"trace-{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "per_layer": per_layer,
                           "self_s": t.self_times(), "per_key": drill, "end_to_end_side": side,
                           "spans": [[s["id"], s["parent"], s["name"], s["layer"], s["req"],
                                      s["dur"]] for s in t.spans],
                           "spark_counters": t.counters}, f)
            print(f"perfbench: trace written to {path}", file=sys.stderr)
        else:
            metrics = {n: {"value": m[n], "unit": UNITS[n]} for n in UNITS}
            print("perfbench: " + json.dumps(side), file=sys.stderr)
    except Exception as e:  # a crashed run prints no result
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
