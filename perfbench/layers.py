"""Per-layer metrics from a traced run.

The harness records spans around calls into the program's modules
(`index`, `plans`, `entry`, `spark`, and `bench` for the harness itself)
and Spark counters per span. Every workload reports every metric below;
a layer the workload does not exercise reports 0 for it.
"""
import statistics

LAYERS = ("bench", "index", "plans", "entry", "spark")
FAMILY_FIELDS = ("wall_s", "prepare_s", "exec_s", "plan_s", "jobs", "stages", "tasks",
                 "task_cpu_s", "shuffle_bytes", "spill_bytes")
FAMILIES = ("graph", "curate", "vector")

# name -> unit; BENCHMARK.json lists the same names, all lower-is-better
# except index.slowest_shard_share (a fan-out spending its time in the
# slowest shard rather than around it).
METRICS = {
    "index.build_s": "s",
    "index.build_shard_skew": "ratio",
    "spark.build_task_cpu_s": "s",
    "index.shard_search_ms": "ms",
    "index.fanout_merge_ms": "ms",
    "index.slowest_shard_share": "ratio",
    "plans.batch_plan_ms": "ms",
    "plans.batch_exec_ms": "ms",
    "spark.batch_jobs": "count",
    "spark.batch_tasks": "count",
    "spark.batch_task_cpu_s": "s",
    "spark.batch_shuffle_bytes": "B",
    "index.bytes_per_vector": "B",
    "index.retained_mb": "MB",
    "index.insert_new_ms": "ms",
    "index.insert_overwrite_ms": "ms",
    "index.delete_ms": "ms",
    "index.dead_slots": "count",
    "index.shard_size_skew": "ratio",
    "index.save_s": "s",
    "index.load_s": "s",
    "index.stored_bytes_per_live_byte": "ratio",
    "spark.save_jobs": "count",
    "spark.save_tasks": "count",
    "entry.release_s": "s",
    "entry.cache_race_warnings": "count",
    "entry.cache_residue_bytes": "B",
    "trace.overhead_share": "ratio",
    "bench.op_tail_ms": "ms",
}
for _f in FAMILIES:
    for _k in FAMILY_FIELDS:
        METRICS[f"{_f}.{_k}"] = ("s" if _k.endswith("_s") else
                                 "B" if _k.endswith("_bytes") else "count")
for _l in LAYERS:
    METRICS[f"{_l}.self_s"] = "s"


class Trace:
    def __init__(self, raw):
        fields = raw["counter_fields"]
        self.spans = [dict(id=s[0], parent=s[1], name=s[2], layer=s[3], req=s[4],
                           dur=(s[6] - s[5]) / 1e9) for s in raw["spans"]]
        self.counters = {g: dict(zip(fields, v)) for g, v in raw["counters"].items()}
        self.cache_races = int(raw["cache_race_warnings"])
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def durs(self, name):
        return [s["dur"] for s in self.named(name)]

    def counter(self, spans, field):
        return sum(self.counters.get(str(s["id"]), {}).get(field, 0) for s in spans)

    def self_times(self):
        """Each layer's self time: its spans' durations minus the part their
        child spans cover (children run on the same thread, one at a time)."""
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            covered = sum(c["dur"] for c in self.children.get(s["id"], []))
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["dur"] - covered
        return out


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def ann_metrics(t, h, dim):
    """Index, plans and Spark metrics of the ANN workloads."""
    m = {}
    builds = t.named("index.build")
    m["index.build_s"] = _med([s["dur"] for s in builds])
    m["index.build_shard_skew"] = h["shard_sizes_max"] / h["shard_sizes_mean"]
    m["spark.build_task_cpu_s"] = t.counter(builds, "task_cpu_ns") / 1e9 / max(1, len(builds))

    shard, merge, share = [], [], []
    for probe in t.named("bench.shard_probe"):
        kids = t.children.get(probe["id"], [])
        fan = [c["dur"] for c in kids if c["name"] == "index.searchAllPar"]
        per = [c["dur"] for c in kids if c["name"].startswith("index.shard_search.")]
        shard += per
        if fan and per:
            merge.append(fan[0] - max(per))
            share.append(max(per) / fan[0])
    m["index.shard_search_ms"] = _med(shard) * 1e3
    m["index.fanout_merge_ms"] = _med(merge) * 1e3
    m["index.slowest_shard_share"] = _med(share)

    batches = t.named("bench.batch")
    plan, execs, jobs, tasks, cpu, shuffle = [], [], [], [], [], []
    for b in batches:
        kids = t.children.get(b["id"], [])
        plan.append(t.counter(kids, "plan_ns") / 1e6)
        execs.append(t.counter(kids, "exec_ns") / 1e6)
        jobs.append(t.counter(kids, "jobs"))
        tasks.append(t.counter(kids, "tasks"))
        cpu.append(t.counter(kids, "task_cpu_ns") / 1e9)
        shuffle.append(t.counter(kids, "shuffle_bytes"))
    m["plans.batch_plan_ms"] = _med(plan)
    m["plans.batch_exec_ms"] = _med(execs)
    m["spark.batch_jobs"] = _med(jobs)
    m["spark.batch_tasks"] = _med(tasks)
    m["spark.batch_task_cpu_s"] = _med(cpu)
    m["spark.batch_shuffle_bytes"] = _med(shuffle)

    m["index.bytes_per_vector"] = h["index_memory_bytes"] / h["index_live"]
    m["index.retained_mb"] = h["retained_mb"]
    m["index.insert_new_ms"] = _med(t.durs("index.insert_new")) * 1e3
    m["index.insert_overwrite_ms"] = _med(t.durs("index.insert_overwrite")) * 1e3
    m["index.delete_ms"] = _med(t.durs("index.delete")) * 1e3
    m["index.dead_slots"] = h["index_dead"]
    m["index.shard_size_skew"] = h["index_size_max"] / h["index_size_mean"]

    saves = t.named("index.save")
    m["index.save_s"] = _med([s["dur"] for s in saves])
    m["index.load_s"] = _med(t.durs("index.load"))
    m["index.stored_bytes_per_live_byte"] = (
        h["stored_bytes"] / (h["index_live"] * dim * 8) if "stored_bytes" in h else 0.0)
    m["spark.save_jobs"] = t.counter(saves, "jobs") / max(1, len(saves))
    m["spark.save_tasks"] = t.counter(saves, "tasks") / max(1, len(saves))
    return m


def pipeline_metrics(t, traced_pass, family_of):
    """Per-family and entry metrics of the pipeline workload, plus the
    per-key drill-down."""
    m = {}
    keys = {}
    for key_span in t.named("bench.key"):
        kids = t.children.get(key_span["id"], [])
        spark_kids = [c for c in kids if c["name"] in ("entry.prepare", "spark.count")]
        keys[key_span["req"]] = {
            "family": family_of[key_span["req"]],
            "wall_s": key_span["dur"],
            "prepare_s": sum(c["dur"] for c in kids if c["name"] == "entry.prepare"),
            "exec_s": sum(c["dur"] for c in kids if c["name"] == "spark.count"),
            "release_s": sum(c["dur"] for c in kids if c["name"] == "entry.release"),
            "plan_s": t.counter(spark_kids, "plan_ns") / 1e9,
            "jobs": t.counter(spark_kids, "jobs"),
            "stages": t.counter(spark_kids, "stages"),
            "tasks": t.counter(spark_kids, "tasks"),
            "task_cpu_s": t.counter(spark_kids, "task_cpu_ns") / 1e9,
            "shuffle_bytes": t.counter(spark_kids, "shuffle_bytes"),
            "spill_bytes": t.counter(spark_kids, "spill_bytes"),
        }
    for f in FAMILIES:
        for field in FAMILY_FIELDS:
            m[f"{f}.{field}"] = sum(v[field] for v in keys.values() if v["family"] == f)
    m["entry.release_s"] = sum(v["release_s"] for v in keys.values())
    m["entry.cache_race_warnings"] = t.cache_races
    m["entry.cache_residue_bytes"] = max([r[5] for r in traced_pass] or [0])
    return m, keys


def all_metrics(t, h, workload, dim=0, traced_pass=(), family_of=None):
    """(every per-layer metric, per-key drill-down) for one traced run."""
    m = dict.fromkeys(METRICS, 0.0)
    drill = {}
    if workload == "pipeline":
        pm, drill = pipeline_metrics(t, traced_pass, family_of)
        m.update(pm)
    else:
        m.update(ann_metrics(t, h, dim))
        m["entry.cache_race_warnings"] = t.cache_races
    for layer, v in t.self_times().items():
        m[f"{layer}.self_s"] = v
    return m, drill
