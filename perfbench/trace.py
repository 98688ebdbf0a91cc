"""Traced mode: spans around calls into the engine's layers, and Spark
job/stage/task metrics from an uncompressed event log.

Every wrapper is installed from this file, around the engine's public
functions; no engine module is edited. Spans are kept in memory and written
out when the run ends.

Job attribution: a span that can run Spark jobs tags its JVM thread with a
local property (`perfbench.span`), so each job names the span that
submitted it. Jobs from threads without a tag (the state writes that
`StateStore.flush_deferred` submits from its pool) go to the innermost
main-thread span open at the job's submission time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

# Spans that run no Spark job skip the local-property round trips.
_JOBLESS = {"plans.classify", "protocol.yaml", "adapter.tar", "adapter.untar"}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.py4j: dict[int | None, int] = defaultdict(int)
        self.own_py4j: dict[int | None, int] = defaultdict(int)
        self.overhead_s: dict[int, float] = defaultdict(float)
        self.inv: int | None = None
        self.spark_context = None
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def attach(self, spark_context) -> None:
        """Start tagging jobs of this SparkContext with span ids."""
        self.spark_context = spark_context

    def _set_prop(self, value: str | None) -> None:
        sc = self.spark_context
        if sc is None or sc._jsc is None:
            return
        self._add(self.own_py4j, self.inv, 1)
        sc.setLocalProperty(SPAN_PROP, value)

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "inv": self.inv,
                "parent": parent["id"] if parent else None,
                "main": stack is self._main_stack,
                "start": 0.0,
                "end": None,
            }
            self.spans.append(rec)
        tagged = name not in _JOBLESS
        if tagged:
            self._set_prop(str(sid))
        stack.append(rec)
        inv = self.inv
        rec["start"] = time.time()
        self._add(self.overhead_s, inv, time.perf_counter() - t_in)
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            if tagged:
                outer = next((s for s in reversed(stack) if s["name"] not in _JOBLESS), None)
                self._set_prop(str(outer["id"]) if outer else None)
            self._add(self.overhead_s, inv, time.perf_counter() - t_out)

    def _add(self, table: dict, key, value: float) -> None:
        # Pool threads and the py4j counter update these concurrently.
        with self._lock:
            table[key] += value

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[self.inv][name] += value

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace `owner.attr` (or `owner[attr]` for a dict) by a wrapper
        that records span `name` and calls `after(result, args, kwargs)`
        for counters."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(result, args, kwargs)
                tracer._add(tracer.overhead_s, tracer.inv, time.perf_counter() - t)
            return result

        wrapper.__wrapped__ = orig
        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Install every engine wrapper and the py4j call counter."""
        from kamu_engine_flink_spark import adapter, session
        from kamu_engine_flink_spark.engine import state as state_mod
        from kamu_engine_flink_spark.engine import transform as T
        from kamu_engine_flink_spark.operators import changelog_topn, temporal_join
        from kamu_engine_flink_spark.plans import classify as C
        from kamu_engine_flink_spark.protocol import yaml_io

        self.wrap(session, "engine_session", "session.start")
        self.wrap(adapter, "untar_checkpoint", "adapter.untar")
        self.wrap(
            adapter,
            "tar_checkpoint",
            "adapter.tar",
            after=lambda r, a, k: self.count("adapter.tar_bytes", os.path.getsize(a[1])),
        )
        self.wrap(adapter.EngineAdapter, "execute_transform", "adapter.process")
        self.wrap(adapter, "dump_request", "protocol.yaml")
        for fn in ("load_transform_request", "dump_response"):
            self.wrap(yaml_io, fn, "protocol.yaml")
        self.wrap(T, "read_parquet_slices", "sources.read")
        self.wrap(C, "classify", "plans.classify", after=lambda r, a, k: self.count("plans.calls", 1))
        for kind, fn in list(T._EXECUTORS.items()):
            op = fn.__module__.rsplit(".", 1)[-1].replace("_step", "")
            self.wrap(T._EXECUTORS, kind, f"operators.{op}")
        self.wrap(temporal_join, "execute_changelog_temporal_join", "operators.temporal_join")
        self.wrap(changelog_topn, "execute_changelog_topn", "operators.topn")
        self.wrap(
            T,
            "_stamp_emission_seq",
            "transform.stamp",
            after=lambda r, a, k: self.count("transform.stamp_calls", 1),
        )
        self.wrap(T, "_assemble_output", "transform.assemble")

        def _sink(rows, args, kwargs):
            self.count("sinks.rows", rows)
            if os.path.exists(args[1]):
                self.count("sinks.bytes", os.path.getsize(args[1]))

        self.wrap(T, "write_single_parquet", "sinks.write", after=_sink)
        self.wrap(state_mod.StateStore, "load_df", "state.load")
        self.wrap(state_mod.StateStore, "flush_deferred", "state.flush")
        self.wrap(state_mod.StateStore, "finish", "state.finish", after=self._checkpoint_counts)
        self._count_py4j()

    def _checkpoint_counts(self, _result, args, _kwargs) -> None:
        """Checkpoint bytes and files; a file whose inode has one link was
        written by this invocation, not hard-linked from the previous one."""
        total = new = files = 0
        for dirpath, _dirs, names in os.walk(args[0].new_dir):
            for n in names:
                st = os.lstat(os.path.join(dirpath, n))
                total += st.st_size
                files += 1
                if st.st_nlink == 1:
                    new += st.st_size
        self.count("state.bytes", total)
        self.count("state.new_bytes", new)
        self.count("state.files", files)

    def _count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                tracer._add(tracer.py4j, tracer.inv, 1)
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command

    def dump(self) -> dict:
        return {
            "spans": self.spans,
            "counters": {str(k): dict(v) for k, v in self.counters.items()},
            "py4j": {str(k): v for k, v in self.py4j.items()},
            "own_py4j": {str(k): v for k, v in self.own_py4j.items()},
            "overhead_s": {str(k): v for k, v in self.overhead_s.items()},
        }


# -- event log ------------------------------------------------------------


def _event_log_files(directory: str) -> list[str]:
    """The run's event log: one file, or the parts of the rolling
    `eventlog_v2_<app>/events_<n>_<app>` layout in order."""
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            out += parts
        else:
            out.append(path)
    return out


def read_event_logs(directory: str) -> tuple[dict, dict]:
    """(jobs by job id, stages by (stage id, attempt)) from the event log
    of the run's one Spark application."""
    jobs: dict = {}
    stages: dict = {}
    for path in _event_log_files(directory):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000,
                        "stage_ids": ev.get("Stage IDs", []),
                        "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                        "submit": info.get("Submission Time", 0) / 1000,
                        "num_tasks": info["Number of Tasks"],
                        "tasks": 0,
                        "failed_tasks": 0,
                        "cpu_s": 0.0,
                        "run_s": 0.0,
                        "gc_s": 0.0,
                        "wait_s": 0.0,
                        "shuffle_write_bytes": 0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                    if st is None:
                        continue
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["failed_tasks"] += int(bool(info.get("Failed")))
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    st["wait_s"] += max(0.0, info.get("Launch Time", 0) / 1000 - st["submit"])
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    # Each submitted stage belongs to the latest job listing it that was
    # submitted before it.
    for (sid, _), st in stages.items():
        owners = [
            (j["submit"], jid) for jid, j in jobs.items()
            if sid in j["stage_ids"] and j["submit"] <= st["submit"] + 1e-3
        ]
        st["job"] = max(owners)[1] if owners else None
    return jobs, stages


def attribute_jobs(jobs: dict, spans: list[dict]) -> None:
    """Set each job's `span_id`: the span its tag names, else the innermost
    main-thread span open at its submission time."""
    ids = {s["id"] for s in spans}
    main = [s for s in spans if s["main"] and s["end"] is not None]
    for j in jobs.values():
        if j["span"] is not None:
            j["span_id"] = int(j["span"]) if int(j["span"]) in ids else None
            continue
        open_ = [s for s in main if s["start"] <= j["submit"] <= s["end"]]
        j["span_id"] = max(open_, key=lambda s: s["start"])["id"] if open_ else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


__all__ = ["Tracer", "read_event_logs", "attribute_jobs", "self_times", "SPAN_PROP"]
