"""Per-layer metrics of a traced run.

Spans (`trace.py`) give wall time per layer; the Spark event log gives
jobs, stages, tasks, executor CPU and shuffle bytes, attributed to the span
that submitted each job. Layer metrics are means per timed invocation,
except `session.*`, which describe the run's one in-process session.

Which end-to-end metric each layer should move:
  session.*            setup_s
  adapter.*, protocol  invocation_p50_s on incremental (bypassed on backfill)
  sources, plans       invocation_p50_s on incremental
  operators.*          input_rows_per_s on backfill, invocation_p50_s on
                       incremental (eager jobs only: Spark runs most
                       operator work lazily, under state.flush)
  transform.*, sinks   input_rows_per_s on backfill (stamp calls are 0 on
                       incremental)
  state.*              invocation_p50_s, invocation_tail_s, checkpoint_bytes
                       on incremental
  spark.*, driver.*    fixed-cost counts move invocation_p50_s on
                       incremental; spark.serial_stage_s moves
                       input_rows_per_s on backfill
  jvm.heap_after_gc_mb the Java heap's live data; peak_rss_mb does not
                       show it, because the capped heap is fully touched
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

from .trace import attribute_jobs, read_event_logs, self_times

OPERATORS = ("interval_join", "window_agg", "map", "topn", "unbounded_agg", "temporal_join")
SPAN_SECONDS = {
    "adapter.untar_s": "adapter.untar",
    "adapter.tar_s": "adapter.tar",
    "adapter.process_s": "adapter.process",
    "protocol.yaml_s": "protocol.yaml",
    "sources.read_s": "sources.read",
    "plans.classify_s": "plans.classify",
    "transform.stamp_s": "transform.stamp",
    "transform.assemble_s": "transform.assemble",
    "sinks.write_s": "sinks.write",
    "state.load_s": "state.load",
    "state.flush_s": "state.flush",
    "state.finish_s": "state.finish",
    **{f"operators.{op}.s": f"operators.{op}" for op in OPERATORS},
}
COUNTERS = {
    "adapter.tar_bytes": "bytes",
    "plans.calls": "count",
    "transform.stamp_calls": "count",
    "sinks.rows": "count",
    "sinks.bytes": "bytes",
    "state.bytes": "bytes",
    "state.new_bytes": "bytes",
    "state.files": "count",
}
SPARK = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.serial_stage_s": "s",
    "spark.task_wait_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.gc_s": "s",
}


def units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    out = {"session.start_s": "s", "session.first_job_s": "s"}
    out.update({k: "s" for k in SPAN_SECONDS})
    out.update(COUNTERS)
    out.update({"sources.jobs": "count", "state.jobs": "count", "state.new_share": "ratio"})
    for op in OPERATORS:
        out[f"operators.{op}.jobs"] = "count"
        out[f"operators.{op}.executor_cpu_s"] = "s"
    out.update(SPARK)
    out.update({"driver.py4j_calls": "count", "driver.cpu_s": "s", "jvm.heap_after_gc_mb": "MB"})
    out["trace.overhead_s"] = "s"
    return out


_GC_HEAP = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def heap_after_gc_mb(gc_log: str) -> float:
    """Largest Java heap occupancy right after a collection, over the run,
    from the driver JVM's `-Xlog:gc` file: the live data the heap had to
    keep, whatever heap size the collector chose."""
    peak = 0.0
    if os.path.exists(gc_log):
        with open(gc_log) as f:
            for line in f:
                m = _GC_HEAP.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    return peak


def _spark_totals(job_keys, jobs, stages_by_job) -> dict[str, float]:
    t = dict.fromkeys(SPARK, 0.0)
    t["spark.jobs"] = len(job_keys)
    for jk in job_keys:
        for st in stages_by_job.get(jk, []):
            t["spark.stages"] += 1
            t["spark.tasks"] += st["tasks"]
            t["spark.failed_tasks"] += st["failed_tasks"]
            t["spark.executor_cpu_s"] += st["cpu_s"]
            t["spark.executor_run_s"] += st["run_s"]
            t["spark.task_wait_s"] += st["wait_s"]
            t["spark.shuffle_write_bytes"] += st["shuffle_write_bytes"]
            t["spark.gc_s"] += st["gc_s"]
            if st["num_tasks"] == 1:
                t["spark.serial_stage_s"] += st["run_s"]
    return t


def layer_metrics(tracer, result: dict, events_dir: str, gc_log: str, out_path: str) -> tuple[dict, list[str]]:
    """(per-layer JSON metrics, printable table). Also writes the spans and
    the per-invocation Spark counts to `out_path`."""
    invs = result["invocations"]
    spans = tracer.spans
    jobs, stages = read_event_logs(events_dir)
    attribute_jobs(jobs, spans)
    span_by_id = {s["id"]: s for s in spans}
    stages_by_job = defaultdict(list)
    for st in stages.values():
        if st["job"] is not None:
            stages_by_job[st["job"]].append(st)

    # Invocation of each job: through its span, else by submission time.
    def job_inv(j):
        s = span_by_id.get(j["span_id"])
        if s is not None and s["inv"] is not None:
            return s["inv"]
        for idx, inv in enumerate(invs):
            if inv.started <= j["submit"] <= inv.started + inv.wall_s:
                return idx
        return None

    jobs_of_inv = defaultdict(list)
    jobs_of_span = defaultdict(list)
    for jk, j in jobs.items():
        jobs_of_inv[job_inv(j)].append(jk)
        jobs_of_span[j["span_id"]].append(jk)

    timed = [idx for idx, inv in enumerate(invs) if inv.timed]
    n = len(timed)
    timed_set = set(timed)
    selft = self_times(spans)

    m: dict[str, float] = {}
    for metric, name in SPAN_SECONDS.items():
        m[metric] = sum(
            s["end"] - s["start"]
            for s in spans
            if s["name"] == name and s["inv"] in timed_set and s["end"] is not None
        ) / n
    for metric in COUNTERS:
        m[metric] = sum(tracer.counters[i].get(metric, 0) for i in timed) / n
    m["state.new_share"] = m["state.new_bytes"] / m["state.bytes"] if m["state.bytes"] else 0.0

    def span_jobs(prefix: str) -> list:
        return [
            jk
            for s in spans
            if s["inv"] in timed_set and (s["name"] == prefix or s["name"].startswith(prefix + "."))
            for jk in jobs_of_span.get(s["id"], [])
        ]

    m["sources.jobs"] = len(span_jobs("sources")) / n
    m["state.jobs"] = len(span_jobs("state")) / n
    for op in OPERATORS:
        keys = span_jobs(f"operators.{op}")
        m[f"operators.{op}.jobs"] = len(keys) / n
        m[f"operators.{op}.executor_cpu_s"] = (
            _spark_totals(keys, jobs, stages_by_job)["spark.executor_cpu_s"] / n
        )

    per_inv = []
    totals = defaultdict(float)
    for idx, inv in enumerate(invs):
        t = _spark_totals(jobs_of_inv.get(idx, []), jobs, stages_by_job)
        calls = tracer.py4j.get(idx, 0) - tracer.own_py4j.get(idx, 0)
        per_inv.append(
            {
                "pipeline": inv.pipeline,
                "k": inv.k,
                "timed": inv.timed,
                "wall_s": inv.wall_s,
                "jobs": int(t["spark.jobs"]),
                "stages": int(t["spark.stages"]),
                "py4j_calls": calls,
            }
        )
        if idx in timed_set:
            for k, v in t.items():
                totals[k] += v
            totals["driver.py4j_calls"] += calls
            totals["driver.cpu_s"] += inv.cpu_s
            totals["trace.overhead_s"] += tracer.overhead_s.get(idx, 0.0)
    for k, v in totals.items():
        m[k] = v / n

    # The first session start builds the session; later calls return it.
    starts = [s["end"] - s["start"] for s in spans if s["name"] == "session.start" and s["end"] is not None]
    m["session.start_s"] = starts[0] if starts else 0.0
    done = sorted((j["submit"], j["end"]) for j in jobs.values() if j["end"] is not None)
    m["session.first_job_s"] = done[0][1] - done[0][0] if done else 0.0
    m["jvm.heap_after_gc_mb"] = heap_after_gc_mb(gc_log)

    u = units()
    metrics = {k: {"value": m.get(k, 0.0), "unit": unit} for k, unit in u.items()}

    # Printable table: each span name's wall and self time per timed
    # invocation, and the Spark jobs it submitted itself.
    by_name = defaultdict(lambda: [0.0, 0.0, 0])
    for s in spans:
        if s["inv"] in timed_set and s["end"] is not None:
            row = by_name[s["name"]]
            row[0] += s["end"] - s["start"]
            row[1] += selft.get(s["id"], 0.0)
            row[2] += len(jobs_of_span.get(s["id"], []))
    table = [f"per-layer, per timed invocation ({n} invocations):"]
    table.append(f"  {'span':<28}{'wall_s':>10}{'self_s':>10}{'jobs':>8}")
    for name, (wall, self_s, nj) in sorted(by_name.items()):
        table.append(f"  {name:<28}{wall / n:>10.4f}{self_s / n:>10.4f}{nj / n:>8.2f}")
    table += [f"{k} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]

    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"invocations": per_inv, **tracer.dump()}, f)
    return metrics, table


def compare_traces(path_a: str, path_b: str) -> int:
    """Print the invocations whose Spark job or stage counts differ between
    two traced runs; exit code 1 when any differ."""
    with open(path_a) as f:
        a = json.load(f)["invocations"]
    with open(path_b) as f:
        b = json.load(f)["invocations"]
    differ = []
    for x, y in zip(a, b):
        if (x["pipeline"], x["k"]) != (y["pipeline"], y["k"]):
            differ.append(f"invocation order differs at {x['pipeline']}#{x['k']}")
            break
        for key in ("jobs", "stages"):
            if x[key] != y[key]:
                differ.append(f"{x['pipeline']}#{x['k']} {key}: {x[key]} vs {y[key]}")
    common = min(len(a), len(b))
    print(f"compared {common} invocations ({len(a)} vs {len(b)} in the two runs)")
    for line in differ:
        print(line)
    if not differ:
        print("spark.jobs and spark.stages repeat exactly on every compared invocation")
    return 1 if differ else 0
