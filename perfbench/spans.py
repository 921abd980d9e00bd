"""Analysis of a traced run's span dump.

  python3 perfbench/spans.py .perfbench/traces/<workload>-s<seed>.jsonl

prints, per traced job, its wall time, self time and the critical path
through its child spans (self time per layer along the path), and checks
that each job's self time plus the time its child spans cover equals its
wall time, within TOL_MS: a traced run counts each job that breaks it as a
failed check, and this script exits 1. `per_layer` turns a dump plus the
harness result into the per-layer metrics of BENCHMARK.json.

A span is {id, parent, name, layer, job, start, end, attrs}, times in epoch
milliseconds. Benchmark spans carry their parent from the harness; Spark
job spans from a job-local property; planning-phase spans (recorded from a
QueryExecutionListener) and the Spark jobs of a stream are attached here to
the span that holds their start and that they stick out of least.
"""
import json
import statistics
import sys

TOL_MS = 2.0  # listener clocks tick in whole milliseconds


def load(path):
    with open(path) as f:
        lines = [json.loads(l) for l in f if l.strip()]
    spans = {s["id"]: s for s in lines[1:]}
    for s in spans.values():
        if s["end"] is None:
            s["end"] = s["start"]
    _attach(spans)
    return spans


def _attach(spans):
    # spans the harness opened: all but the listener-recorded ones
    bench = [s for s in spans.values() if s["name"] != "plan"
             and not s["name"].startswith(("spark_job", "stage#", "microbatch"))]
    batches = [s for s in spans.values() if s["name"].startswith("microbatch")]

    def innermost(cands, s):
        """Of the candidates holding s's start, the one s sticks out of
        least, then the innermost. Listener times are whole milliseconds of
        another clock, so a span that starts as its sibling ends may seem
        to start within TOL_MS of either."""
        def out(c):
            return max(0.0, c["start"] - s["start"]) + max(0.0, s["end"] - c["end"])
        inside = [c for c in cands if c["start"] - TOL_MS <= s["start"] <= c["end"] + TOL_MS]
        return min(inside, key=lambda c: (out(c), -c["start"])) if inside else None

    for s in spans.values():
        if s["name"] == "plan" and s["parent"] < 0:
            p = innermost(bench, s)
            if p:
                s["parent"], s["job"] = p["id"], p["job"]
        elif s["name"].startswith("spark_job"):
            b = innermost([m for m in batches if m["parent"] == s["parent"]], s)
            if b:
                s["parent"] = b["id"]
    for s in spans.values():
        s["children"] = []
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["children"].append(s)


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of intervals, optionally clipped to [lo, hi]."""
    iv = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def wall(s):
    return s["end"] - s["start"]


def self_ms(s):
    return wall(s) - union_ms([(c["start"], c["end"]) for c in s["children"]], s["start"], s["end"])


def identity_err_ms(s):
    """|self + child cover - wall| with the children not clipped to the
    parent: non-zero exactly when a child span runs outside its parent."""
    cover = union_ms([(c["start"], c["end"]) for c in s["children"]])
    return abs(self_ms(s) + cover - wall(s))


def job_identity_err_ms(j):
    """The worst identity error over a job span and every span below it."""
    return max(identity_err_ms(s) for s in [j] + descendants(j))


def identity_failures(spans):
    """[(job name, error ms)] for each job whose span tree breaks
    self + child cover = wall by more than the clock tolerance."""
    errs = [(j["name"], job_identity_err_ms(j)) for j in job_spans(spans)]
    return [(name, e) for name, e in errs if e > TOL_MS]


def descendants(s):
    out, todo = [], list(s["children"])
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(c["children"])
    return out


def critical_path(s):
    """Spans on the chain that ends last: from the span's end walk back
    through the child that finishes last before the current point,
    descending into each; returns [(span, self-on-path ms)]."""
    path, t = [], s["end"]
    kids = sorted(s["children"], key=lambda c: c["end"])
    on = 0.0
    while kids:
        c = max((k for k in kids if k["end"] <= t + TOL_MS), key=lambda k: k["end"], default=None)
        if c is None:
            break
        on += max(0.0, t - max(c["end"], s["start"]))
        path += critical_path(c)
        t = c["start"]
        kids = [k for k in kids if k["end"] <= t + TOL_MS and k is not c]
    on += max(0.0, t - s["start"])
    return [(s, on)] + path


def job_spans(spans):
    return [s for s in spans.values() if s["name"].startswith("job:") and s["job"] >= 0]


def report(spans):
    lines = []
    for j in sorted(job_spans(spans), key=lambda s: s["start"]):
        by_layer = {}
        for s, ms in critical_path(j):
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + ms
        path = " ".join(f"{k}={v:.0f}" for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1]))
        lines.append(f"{j['name']}: wall {wall(j):.1f} ms, self {self_ms(j):.1f} ms, "
                     f"identity err {job_identity_err_ms(j):.2f} ms | critical path ms: {path}")
    return "\n".join(lines)


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(spans, res, nproc):
    """Per-layer metrics: per-job means over the traced measured jobs."""
    def named(name):
        return [s for s in spans.values() if s["name"] == name]

    jobs = job_spans(spans)
    sub = {j["id"]: descendants(j) for j in jobs}
    stages = {j["id"]: [d for d in sub[j["id"]] if d["name"].startswith("stage#")] for j in jobs}
    sjobs = {j["id"]: [d for d in sub[j["id"]] if d["name"].startswith("spark_job")] for j in jobs}
    plans = {j["id"]: [d for d in sub[j["id"]] if d["name"] == "plan"] for j in jobs}
    batches = [d for s in named("kernel:stream") for d in descendants(s)
               if d["name"].startswith("microbatch") and d["attrs"].get("input_rows", 0) > 0]

    def per_job_stage(attr, scale=1.0):
        return _mean(sum(st["attrs"].get(attr, 0.0) for st in stages[j["id"]]) * scale for j in jobs)

    setup = named("setup")[0]
    colds = [c for c in setup["children"] if c["name"].startswith("cold_job")]
    # IndexStore.readOrBuild writes its artifacts only in the cold jobs:
    # the time the Spark jobs inside those jobs' DataFrame builds ran
    artifact_ms = sum(union_ms([(d["start"], d["end"]) for d in descendants(b)
                                if d["name"].startswith("spark_job")])
                      for c in colds for b in descendants(c) if b["name"] == "build")
    wc = named("wc.formatted_bytes")
    wc = [s for s in wc if s["job"] >= 0]
    wc_count = [union_ms([(c["start"], c["end"]) for c in descendants(s) if c["name"].startswith("spark_job")])
                for s in wc]
    kernels = [s for s in spans.values() if s["name"].startswith("kernel:tokenize")]
    stage_all = [st for j in jobs for st in stages[j["id"]]]
    skew = [st["attrs"]["task_max_ms"] / st["attrs"]["task_median_ms"] for st in stage_all
            if st["attrs"].get("tasks", 0) >= 2 and st["attrs"].get("task_median_ms", 0) > 0]
    busy = sum(st["attrs"].get("task_busy_ms", 0.0) for st in stage_all)
    job_wall = sum(wall(j) for j in jobs)
    traced = [x["wall_s"] for x in res["jobs"] if x["traced"]]
    bare = [x["wall_s"] for x in res["jobs"] if not x["traced"]]
    overhead = statistics.median(traced) - statistics.median(bare) if traced and bare else 0.0

    def mb(attr):
        return per_job_stage(attr, 1e-6)

    return {
        "session.start_s": (wall(named("session.start")[0]) / 1e3, "s"),
        "session.cold_job_s": (sum(wall(c) for c in colds) / 1e3, "s"),
        "operators.build_s": (_mean(sum(wall(c) for c in descendants(j) if c["name"] == "build")
                                    for j in jobs) / 1e3, "s"),
        "operators.eager_jobs": (_mean(sum(1 for c in descendants(j) if c["name"] == "build"
                                           for d in descendants(c) if d["name"].startswith("spark_job"))
                                       for j in jobs), "count"),
        "operators.wc_count_s": (_mean(wc_count) / 1e3, "s"),
        "operators.wc_format_s": (_mean(wall(s) - c for s, c in zip(wc, wc_count)) / 1e3, "s"),
        "functions.tokenize_mb_s": (statistics.median(s["attrs"]["input_bytes"] / 1e3 / wall(s)
                                                      for s in kernels) if kernels else 0.0, "MB/s"),
        "plan.analysis_s": (_mean(sum(p["attrs"].get("ms.analysis", 0.0) for p in plans[j["id"]])
                                  for j in jobs) / 1e3, "s"),
        "plan.optimization_s": (_mean(sum(p["attrs"].get("ms.optimization", 0.0) for p in plans[j["id"]])
                                      for j in jobs) / 1e3, "s"),
        "plan.planning_s": (_mean(sum(p["attrs"].get("ms.planning", 0.0) for p in plans[j["id"]])
                                  for j in jobs) / 1e3, "s"),
        "plan.nodes": (_mean(sum(p["attrs"].get("nodes", 0.0) for p in plans[j["id"]]) for j in jobs), "count"),
        "exec.jobs": (_mean(len(sjobs[j["id"]]) for j in jobs), "count"),
        "exec.stages": (_mean(len(stages[j["id"]]) for j in jobs), "count"),
        "exec.tasks": (per_job_stage("tasks"), "count"),
        "exec.driver_gap_s": (_mean(wall(j) - union_ms([(s["start"], s["end"]) for s in stages[j["id"]]],
                                                       j["start"], j["end"]) for j in jobs) / 1e3, "s"),
        "exec.task_wait_s": (per_job_stage("task_wait_ms", 1e-3), "s"),
        "exec.core_util": (busy / (job_wall * nproc) if job_wall else 0.0, "ratio"),
        "exec.task_busy_s": (per_job_stage("task_busy_ms", 1e-3), "s"),
        "exec.cpu_s": (per_job_stage("cpu_ms", 1e-3), "s"),
        "exec.gc_s": (per_job_stage("gc_ms", 1e-3), "s"),
        "exec.task_skew": (max(skew) if skew else 1.0, "ratio"),
        "exec.shuffle_write_mb": (mb("shuffle_write_bytes"), "MB"),
        "exec.shuffle_read_mb": (mb("shuffle_read_bytes"), "MB"),
        "exec.spill_mb": (mb("spill_bytes"), "MB"),
        "exec.result_mb": (mb("result_bytes"), "MB"),
        "sources.scan_mb": (mb("input_bytes"), "MB"),
        "sources.scan_tasks": (per_job_stage("scan_tasks"), "count"),
        "index_store.build_s": (artifact_ms / 1e3 if res["index_files"] else 0.0, "s"),
        "index_store.mb": (res["index_bytes"] / 1e6, "MB"),
        "index_store.files": (res["index_files"], "count"),
        "streaming.add_batch_s": (_mean(b["attrs"].get("ms.addBatch", 0.0) for b in batches) / 1e3, "s"),
        "streaming.query_planning_s": (_mean(b["attrs"].get("ms.queryPlanning", 0.0) for b in batches) / 1e3, "s"),
        "streaming.get_batch_s": (_mean(b["attrs"].get("ms.getBatch", 0.0) for b in batches) / 1e3, "s"),
        "streaming.commit_s": (_mean(b["attrs"].get("ms.walCommit", 0.0) + b["attrs"].get("ms.commitOffsets", 0.0)
                                     for b in batches) / 1e3, "s"),
        "streaming.state_rows": (max((b["attrs"].get("state_rows", 0.0) for b in batches), default=0.0), "count"),
        "streaming.state_mb": (max((b["attrs"].get("state_bytes", 0.0) for b in batches), default=0.0) / 1e6, "MB"),
        "streaming.state_rows_removed": (sum(b["attrs"].get("state_rows_removed", 0.0) for b in batches), "count"),
        "streaming.state_commit_s": (_mean(b["attrs"].get("state_commit_ms", 0.0) for b in batches) / 1e3, "s"),
        "trace.overhead_s": (overhead, "s"),
        "trace.overhead_ratio": (overhead / statistics.median(bare) if bare else 0.0, "ratio"),
        "trace.spans": (len(spans), "count"),
        "trace.identity_err_ms": (max((job_identity_err_ms(j) for j in jobs), default=0.0), "ms"),
    }


if __name__ == "__main__":
    dump = load(sys.argv[1])
    print(report(dump))
    sys.exit(1 if identity_failures(dump) else 0)
