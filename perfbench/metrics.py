"""Metric definitions shared by the runner, the calibration command and the
trace summarizer. Every figure is computed here from the JVM's
`result.json` (operations and timed-section counters) and, for a traced
run, its `trace.json` (spans and Spark job counters).
"""
import statistics

MB = 1e6

# name -> (unit, better); the end-to-end set every run prints
END_TO_END = {
    "setup_s": ("s", "lower"),
    "heap_retained_mb": ("MB", "lower"),
    "op_p50_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
}

# name -> (unit, better, the end-to-end metric it should move); the
# per-layer set every traced run prints. A layer a workload does not run
# reads 0 there.
D_P50, I_P50 = "dashboard/op_p50_s", "ingest/op_p50_s"
BOTH_RATE = "dashboard/ops_per_s, ingest/ops_per_s"
PER_LAYER = {
    "tables.resolve_s": ("s", "lower", D_P50),
    "queries.build_s": ("s", "lower", D_P50),
    "queries.build_jobs": ("count", "lower", D_P50),
    "queries.build_job_s": ("s", "lower", D_P50),
    "queries.build_driver_s": ("s", "lower", D_P50),
    "catalyst.plan_s": ("s", "lower", D_P50),
    "exec.collect_s": ("s", "lower", D_P50),
    "exec.jobs": ("count", "lower", D_P50),
    "exec.stages": ("count", "lower", D_P50),
    "exec.tasks": ("count", "lower", D_P50),
    "exec.sched_overhead_s": ("s", "lower", f"{D_P50}, {I_P50}"),
    "exec.cpu_s": ("s", "lower", BOTH_RATE),
    "exec.run_s": ("s", "lower", BOTH_RATE),
    "exec.shuffle_read_mb": ("MB", "lower", BOTH_RATE),
    "exec.shuffle_write_mb": ("MB", "lower", BOTH_RATE),
    "exec.spill_mb": ("MB", "lower", BOTH_RATE),
    "exec.result_mb": ("MB", "lower", "dashboard/heap_retained_mb"),
    "bridge.blocks_left": ("count", "lower", "ingest/heap_retained_mb"),
    "events.op_s": ("s", "lower", "dashboard/ops_per_s"),
    "setup.session_s": ("s", "lower", "setup_s"),
    "setup.cold_extra_s": ("s", "lower", "setup_s"),
    "sources.decode_s": ("s", "lower", I_P50),
    "etl.clean_s": ("s", "lower", I_P50),
    "pipeline.live_s": ("s", "lower", I_P50),
    "pipeline.increment_s": ("s", "lower", I_P50),
    "pipeline.views_s": ("s", "lower", I_P50),
    "pipeline.files_written": ("count", "lower", I_P50),
    "pipeline.bytes_written_mb": ("MB", "lower", I_P50),
    "pipeline.recompute_rows": ("count", "lower", "ingest/ops_per_s"),
    "pipeline.useful_ratio": ("ratio", "higher", "ingest/ops_per_s"),
    "pipeline.store_mb": ("MB", "lower", "none: the ingest store's size"),
    "jvm.gc_s": ("s", "lower", "op_p50_s"),
    "jvm.jit_s": ("s", "lower", "op_p50_s; near 0 once warm-up suffices"),
}

def timed_ops(result):
    return [o for o in result["ops"] if o["phase"] == "timed"]


def end_to_end(result):
    ops = timed_ops(result)
    t = result["timed"]
    return {
        "setup_s": t["setup_s"],
        "heap_retained_mb": t["heap_retained_mb"],
        "op_p50_s": statistics.median(o["total_s"] for o in ops),
        "ops_per_s": len(ops) / t["wall_s"],
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class _Tree:
    """Spans with their children and the Spark jobs tagged with each."""

    def __init__(self, trace):
        self.kids = {}
        for s in trace["spans"]:
            self.kids.setdefault(s["parent"], []).append(s)
        self.jobs = {}
        for j in trace["jobs"]:
            if j["group"].startswith("span-"):
                self.jobs.setdefault(int(j["group"][5:]), []).append(j)

    def below(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s["id"], []))
        return out

    def jobs_below(self, span):
        return [j for s in self.below(span) for j in self.jobs.get(s["id"], [])]

    def child(self, span, name):
        for k in self.kids.get(span["id"], []):
            if k["name"] == name:
                return k
        return None


def _stages(jobs):
    return [st for j in jobs for st in j["stages"]]


def per_layer(result, trace):
    """Per-layer figures of a traced run, per timed operation unless noted."""
    tree = _Tree(trace)
    op_spans = [s for s in trace["spans"]
                if s["layer"] == "op" and s["attrs"].get("phase") == "timed"]
    ops = timed_ops(result)
    t = result["timed"]
    m = {k: 0.0 for k in PER_LAYER}

    def per_op(f):
        return _mean(f(s) for s in op_spans)

    def child_s(name):
        return per_op(lambda s: (tree.child(s, name) or {"dur_s": 0.0})["dur_s"])

    def child_jobs(s, name):
        c = tree.child(s, name)
        return tree.jobs_below(c) if c else []

    stages = lambda s: _stages(tree.jobs_below(s))
    m["queries.build_s"] = child_s("build")
    m["queries.build_jobs"] = per_op(lambda s: len(child_jobs(s, "build")))
    m["queries.build_job_s"] = per_op(lambda s: sum(j["wall_s"] for j in child_jobs(s, "build")))
    m["queries.build_driver_s"] = m["queries.build_s"] - m["queries.build_job_s"]
    m["catalyst.plan_s"] = child_s("plan")
    m["exec.collect_s"] = child_s("collect")
    m["exec.jobs"] = per_op(lambda s: len(tree.jobs_below(s)))
    m["exec.stages"] = per_op(lambda s: len(stages(s)))
    m["exec.tasks"] = per_op(lambda s: sum(st["tasks"] for st in stages(s)))
    m["exec.sched_overhead_s"] = per_op(
        lambda s: sum(max(0.0, st["wall_s"] - st["max_task_s"]) for st in stages(s)))
    for name, key, scale in [("exec.cpu_s", "cpu_s", 1), ("exec.run_s", "run_s", 1),
                             ("exec.shuffle_read_mb", "shuffle_read_b", MB),
                             ("exec.shuffle_write_mb", "shuffle_write_b", MB),
                             ("exec.spill_mb", "spill_b", MB),
                             ("exec.result_mb", "result_b", MB)]:
        m[name] = per_op(lambda s: sum(st[key] for st in stages(s)) / scale)
    m["bridge.blocks_left"] = _mean(o["blocks_left"] for o in ops)
    if result.get("tables_resolve_s") is not None:
        m["tables.resolve_s"] = result["tables_resolve_s"]
    m["setup.session_s"] = result["session_s"]
    m["jvm.gc_s"] = t["gc_s"]
    m["jvm.jit_s"] = t["jit_s"]

    if "query" in (ops[0] if ops else {}):
        # median time of each query, summed over the dashboard's queries
        by_q = {}
        for o in ops:
            by_q.setdefault(o["query"], []).append(o["total_s"])
        med = {q: statistics.median(v) for q, v in by_q.items()}
        m["events.op_s"] = sum(med.values())
        # warm-up's first run of each query against its timed median
        first = {}
        for o in result["ops"]:
            if o["phase"] == "warm" and o["query"] not in first:
                first[o["query"]] = o["total_s"]
        m["setup.cold_extra_s"] = _mean(first[q] - med[q] for q in med if q in first)
    else:
        for metric, key in [("sources.decode_s", "decode_s"), ("etl.clean_s", "clean_s"),
                            ("pipeline.live_s", "live_s"),
                            ("pipeline.increment_s", "increment_s"),
                            ("pipeline.views_s", "views_s"),
                            ("pipeline.files_written", "files_written"),
                            ("pipeline.recompute_rows", "recompute_rows")]:
            m[metric] = _mean(o[key] for o in ops)
        m["pipeline.bytes_written_mb"] = _mean(o["bytes_written"] for o in ops) / MB
        recomputed = sum(o["recompute_rows"] for o in ops)
        m["pipeline.useful_ratio"] = (sum(o["flat_rows"] for o in ops) / recomputed
                                      if recomputed > 0 else 0.0)
        m["pipeline.store_mb"] = statistics.median(s["bytes"] for s in result["stores"]) / MB
        # the cold warm-up batch against the warm cost of as many records
        warm = [o for o in result["ops"] if o["phase"] == "warm"]
        if warm:
            per_record = statistics.median(o["total_s"] / o["records"] for o in ops)
            m["setup.cold_extra_s"] = warm[0]["total_s"] - per_record * warm[0]["records"]
    return m
