"""ODF invocation benchmark.

Drives the engine's public surface the way an ODF coordinator does: one
client, closed loop (a dataset's next invocation needs the previous
checkpoint, so each request is sent only after the previous response).
Every workload advances the same three pipelines round-robin
(`pipelines.py`); the workloads differ in input shape and in the path a
request takes into the engine:

  backfill      in-process `execute_transform`: one large slice per
                pipeline in setup, then a second one timed
  incremental   `EngineAdapter(in_process=True)`: tar checkpoints and YAML
                request/response; state built first, then small slices
  cold_process  `EngineAdapter(in_process=False)`: a fresh engine JVM per
                invocation (untraced only; runnable by hand, BENCHMARK.json
                leaves it out because ~10 s per invocation does not fit its
                run budget)

Usage, from the repository root:

  python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

It prints every metric by name with its unit, the oracle verdict and, as
the last line, one JSON object. `--trace 1` runs the same workload with
spans and a Spark event log and reports the per-layer metrics instead; its
spans and per-invocation Spark counts go to `.perfbench_out/`.
`--compare-traces A B` names the invocations whose Spark job or stage
counts differ between two such files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

E2E_UNITS = {
    "setup_s": "s",
    "invocation_p50_s": "s",
    "invocation_tail_s": "s",
    "input_rows_per_s": "rows/s",
    "checkpoint_bytes": "bytes",
    "peak_rss_mb": "MB",
}


# -- environment ---------------------------------------------------------


def prepare_env(workdir: str, trace: bool) -> None:
    """Run hygiene, set before any JVM starts so the in-process session and
    every engine subprocess inherit it: scratch dirs inside the workdir, no
    console progress bars, the repository on the Python workers' path."""
    conf_dir = os.path.join(workdir, "conf")
    for d in ("conf", "tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    # A 2g driver heap, not the engine's 8g default: the benchmark shares
    # its machine, and in local mode all compute runs in this heap. The
    # heap is committed at start (-Xms), because the collector's choice of
    # heap size made peak RSS bimodal run to run; over a run the collector
    # touches all of it, so heap use shows in the traced run's
    # `jvm.heap_after_gc_mb`, not in peak RSS.
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g")
    java_opts = f"-Xms{heap} -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
    if trace:
        java_opts += f" -Xlog:gc:file={os.path.join(workdir, 'gc.log')}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(workdir, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    pypath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "local"),
        TMPDIR=os.path.join(workdir, "tmp"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=heap,
        PYTHONPATH=os.pathsep.join(pypath),
    )


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    driver JVM, its Python workers, engine subprocesses), sampled from /proc.
    The tree is summed as proportional set size (`Pss`), so pages that
    forked Python workers share with their parent count once."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> set[int]:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            pid = int(entry)
            comm[pid] = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(pid)
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            parent = frontier.pop()
            for c in children.get(parent, []):
                # Of the JVM's children only the Python workers count. The
                # JVM runs shell tools (chmod, rm) through vfork, and until
                # its exec such a child shares, and would count twice, the
                # JVM's memory.
                if comm[parent] == "java" and not comm[c].startswith("python"):
                    continue
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- workloads -------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    client: str  # "direct" | "adapter_in_process" | "adapter_subprocess"
    shapes: dict  # pipeline name -> gen.Shape
    # Invocations per pipeline sent before timing starts; they count in
    # setup_s, build state and compile the session's plans for the
    # pipeline. The first timed invocation of a pipeline is then the first
    # in this JVM to restore its state.
    setup_invocations: int
    # Rounds (one invocation per pipeline) timed at least, before timing
    # goes on until --seconds have passed. A fixed count keeps the timed
    # invocations the same whether the machine runs fast or slow.
    timed_rounds: int


# Traffic placeholders. No record of the traffic ODF coordinators send is
# available, so no value here is claimed to be representative: each is
# chosen only to make the engine take the path named beside it. Two sizes
# are grounded: a late row's lag (`gen.LATE_MS`, two days, after the
# reference's "two days late is discarded" tests) and the backfill
# aggregate's emission, which must cross the engine's 1M-row
# distributed-stamp threshold (`engine/transform.py`).
KEYS = 20_000  # key space: incremental state holds thousands of keys, a slice hundreds
# Zipf skew: hot keys recur in every slice, so Top-N and aggregate
# corrections occur. At 0.8 the incremental aggregate's timed invocation
# ran the temporal join's size-triggered compaction on some seeds and not
# others (checkpoint 1.81 vs 1.66 MB, 3.8 vs 2.7 s); at 1.1 it does not
# vary by seed. At 1.1 the backfill's hottest key holds 12% of 40k rows,
# and its interval-join pairs took 3 s more per run than at 0.8.
ZIPF_INCREMENTAL = 1.1
ZIPF_BACKFILL = 0.8
LATE_SHARE = 0.02  # late rows reach the windowed operators' drop path
DISORDER_SHARE = 0.1  # rows out of event-time order within a slice
# Incremental: state built from many keys, then slices much smaller than it.
STATE_BUILD_ROWS = 20_000
SLICE_ROWS = 2_000
# Backfill, per input and slice: 20 incremental slices. Fixed costs still
# take most of these invocations; the aggregate's slice is compute-bound.
BACKFILL_ROWS = 40_000
# The backfill aggregate: each of its two slices holds every one of these
# keys once, so the second emits a correction pair per key (1.02M rows).
AGG_KEYS = 510_000
CLICK_SHARE = 0.02  # the probe side of that aggregate stays small


def workloads(size: str = "full") -> dict[str, Workload]:
    from perfbench.gen import DAY_MS, HOUR_MS, Shape

    tiny = size == "tiny"

    def n(rows: int) -> int:
        return max(200, rows // 100) if tiny else rows

    def shape(first_rows, slice_rows, first_span, slice_span, **kw):
        kw = {"keys": KEYS, "zipf": ZIPF_INCREMENTAL, **kw}
        return Shape(first_rows, slice_rows, first_span, slice_span,
                     late_share=LATE_SHARE, disorder_share=DISORDER_SHARE, **kw)

    pipelines = ("pl_interval_window", "pl_keyed_topn", "pl_agg_asof")
    backfill = {
        name: shape(n(BACKFILL_ROWS), n(BACKFILL_ROWS), DAY_MS, DAY_MS, zipf=ZIPF_BACKFILL) for name in pipelines
    }
    backfill["pl_agg_asof"] = shape(
        n(AGG_KEYS), n(AGG_KEYS), DAY_MS, DAY_MS,
        keys=n(AGG_KEYS), zipf=0.0, distinct_keys=True, second_input_share=CLICK_SHARE,
    )
    incremental = {name: shape(n(STATE_BUILD_ROWS), n(SLICE_ROWS), DAY_MS, 2 * HOUR_MS) for name in pipelines}
    cold = {name: shape(n(5_000), n(5_000), 6 * HOUR_MS, 6 * HOUR_MS) for name in pipelines}
    return {
        # Slice 0 in setup, slice 1 timed: state about the size of a slice.
        "backfill": Workload("backfill", "direct", backfill, 1, 1),
        # A 20k-row state build in setup, then small slices against it.
        # Two rounds: one round's median moved with the machine's speed
        # (IQR/median 0.26 over ten seeds, against 0.14 with two).
        "incremental": Workload("incremental", "adapter_in_process", incremental, 1, 2),
        "cold_process": Workload("cold_process", "adapter_subprocess", cold, 0, 1),
    }


# -- clients ---------------------------------------------------------------


@dataclass
class Invocation:
    pipeline: str
    k: int
    timed: bool
    wall_s: float
    input_rows: int
    error: str | None = None
    interval: tuple[int, int] | None = None
    started: float = 0.0
    cpu_s: float = 0.0  # client CPU, plus reaped engine subprocesses


class Client:
    """Sends one request and waits for its response."""

    def __init__(self, kind: str, spark=None):
        self.kind = kind
        self.spark = spark

    def invoke(self, chain, request) -> tuple[tuple[int, int] | None, str | None]:
        if self.kind == "direct":
            from kamu_engine_flink_spark.engine.transform import execute_transform

            request = replace(request, prev_checkpoint_path=chain.checkpoint)
            resp = execute_transform(self.spark, request)
            chain.checkpoint = request.new_checkpoint_path
            iv = resp.new_offset_interval
            return ((iv.start, iv.end) if iv else None), None
        if chain.adapter is None:
            from kamu_engine_flink_spark.adapter import EngineAdapter

            chain.adapter = EngineAdapter(
                workspace=os.path.join(chain.workdir, "adapter"),
                in_process=self.kind == "adapter_in_process",
            )
        response, tar = chain.adapter.execute_transform(request, chain.checkpoint)
        if "kind" in response:
            return None, f"{response['kind']}: {response.get('message', '')[:200]}"
        chain.checkpoint = tar
        iv = response.get("new_offset_interval")
        return ((iv["start"], iv["end"]) if iv else None), None


def checkpoint_bytes(path: str | None) -> int:
    if path is None:
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


# -- the run ---------------------------------------------------------------


def run_workload(wl: Workload, seed: int, seconds: float, workdir: str, tracer=None) -> dict:
    from perfbench.pipelines import PIPELINES, Chain

    t_start = time.perf_counter()
    chains = {
        name: Chain.create(PIPELINES[name], wl.shapes[name], seed, os.path.join(workdir, "data"))
        for name in PIPELINES
    }
    spark = None
    if wl.client != "adapter_subprocess":
        from kamu_engine_flink_spark import session

        spark = session.engine_session()
        if tracer is not None:
            tracer.attach(spark.sparkContext)
    client = Client(wl.client, spark)
    invocations: list[Invocation] = []

    def send(name: str, timed: bool) -> None:
        chain = chains[name]
        req = chain.next_request()
        k = len(chain.sent) - 1
        inv = Invocation(name, k, timed, 0.0, chain.input_rows(k))
        if tracer is not None:
            tracer.inv = len(invocations)
        cpu0 = _cpu_s()
        inv.started = time.time()
        t = time.perf_counter()
        try:
            inv.interval, inv.error = client.invoke(chain, req)
        except Exception as e:  # noqa: BLE001 - a raising invocation is counted as failed
            inv.error = f"{type(e).__name__}: {str(e)[:200]}"
        inv.wall_s = time.perf_counter() - t
        inv.cpu_s = _cpu_s() - cpu0
        if tracer is not None:
            tracer.inv = None
        invocations.append(inv)
        chain.intervals.append(inv.interval)
        chain.files.append(req.new_data_path if inv.interval else None)
        if inv.interval:
            chain.next_offset = inv.interval[1] + 1

    for _ in range(wl.setup_invocations):
        for name in PIPELINES:
            send(name, timed=False)
    setup_s = time.perf_counter() - t_start

    t_timed = time.perf_counter()
    rounds = 0
    while rounds < wl.timed_rounds or time.perf_counter() - t_timed < seconds:
        for name in PIPELINES:
            send(name, timed=True)
        rounds += 1

    if spark is not None:
        stop_spark(spark)  # also flushes the event log of a traced run
    return {"setup_s": setup_s, "invocations": invocations, "chains": chains}


def _cpu_s() -> float:
    import resource

    children = resource.getrusage(resource.RUSAGE_CHILDREN)
    return time.process_time() + children.ru_utime + children.ru_stime


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples above it; the maximum when there are fewer than
    eleven samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def verify(result: dict) -> tuple[int, list[str], bool]:
    """Oracle check of every chain. Returns (failed invocation count,
    messages, whether the negative self-test rejected corrupted output)."""
    from perfbench import oracle

    failed = sum(1 for i in result["invocations"] if i.error)
    notes = []
    selftest_ok = True
    selftest_done = False
    for name, chain in result["chains"].items():
        files = [f for f in chain.files if f]
        bad = oracle.offset_errors(chain.intervals, chain.files)
        # The first chain with output also runs the negative self-test.
        mutations = (None,) if selftest_done or not files else (None, "drop_row", "flip_op")
        (diff, *corrupted), expected = oracle.mismatches(name, chain.sent, files, mutations)
        errors = sum(1 for i in result["invocations"] if i.pipeline == name and i.error)
        if bad or diff:
            # A wrong net changelog or broken offsets: every invocation of
            # the chain counts as failed (unless it already raised).
            failed += len(chain.intervals) - errors
        notes.append(
            f"{name}: {len(chain.intervals)} invocations, {errors} raised, "
            f"offset breaks {bad}, {diff} of {expected} expected rows differ"
        )
        if corrupted and expected and not diff:
            selftest_done = True
            for mutate, d in zip(("drop_row", "flip_op"), corrupted):
                selftest_ok &= d > 0
                notes.append(f"self-test {mutate} on {name}: {'rejected' if d else 'NOT rejected'}")
    return failed, notes, selftest_ok and selftest_done


def e2e_metrics(result: dict, peak_rss: int) -> tuple[dict, list[str]]:
    timed = [i for i in result["invocations"] if i.timed]
    walls = [i.wall_s for i in timed]
    t, pct, beyond = tail(walls)
    metrics = {
        "setup_s": result["setup_s"],
        "invocation_p50_s": statistics.median(walls),
        "invocation_tail_s": t,
        "input_rows_per_s": sum(i.input_rows for i in timed) / sum(walls),
        "checkpoint_bytes": sum(checkpoint_bytes(c.checkpoint) for c in result["chains"].values()),
        "peak_rss_mb": peak_rss / 2**20,
    }
    notes = [
        f"timed invocations: {len(timed)}; per pipeline count and median wall: "
        + ", ".join(
            f"{p} {len(ws)} {statistics.median(ws):.3f}s"
            for p in result["chains"]
            if (ws := [i.wall_s for i in timed if i.pipeline == p])
        ),
        f"invocation_tail_s is p{pct:.1f} of {len(timed)} samples, {beyond} beyond it",
    ]
    return metrics, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: smoke-test inputs")
    ap.add_argument("--compare-traces", nargs=2, metavar="TRACE_JSON")
    args = ap.parse_args(argv)

    if args.compare_traces:
        from perfbench.layers import compare_traces

        return compare_traces(*args.compare_traces)
    if not os.path.isfile(os.path.join(ROOT, "kamu_engine_flink_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: the engine sources are not under {ROOT}", file=sys.stderr)
        return 2
    wls = workloads(args.size)
    if args.workload not in wls:
        print(f"perfbench: --workload must be one of {sorted(wls)}", file=sys.stderr)
        return 2
    if args.trace and wls[args.workload].client == "adapter_subprocess":
        print("perfbench: the engine subprocesses of cold_process are not traced", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        prepare_env(workdir, bool(args.trace))
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
        with RssSampler() as rss:
            result = run_workload(wls[args.workload], args.seed, args.seconds, workdir, tracer)
        failed, notes, selftest_ok = verify(result)
        attempted = len(result["invocations"])
        correct = failed == 0 and selftest_ok
        metrics, more = e2e_metrics(result, rss.peak_bytes)
        notes += more
        lines = [f"workload {args.workload}, seed {args.seed}, trace {args.trace}"]
        lines += notes
        lines.append(f"failed_share {failed / attempted:.4f} ratio ({failed} of {attempted})")
        lines.append(f"oracle verdict: {'PASS' if correct else 'FAIL'}")
        if args.trace:
            from perfbench.layers import layer_metrics

            out_path = os.path.join(
                OUT_DIR, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json"
            )
            layer, table = layer_metrics(
                tracer, result, os.path.join(workdir, "events"), os.path.join(workdir, "gc.log"), out_path
            )
            lines += table
            lines.append(f"traced invocation_p50_s {metrics['invocation_p50_s']:.4f} s")
            lines.append(f"spans and per-invocation counts: {os.path.relpath(out_path, ROOT)}")
            reported = layer
        else:
            lines += [f"{k} {v:.4f} {E2E_UNITS[k]}" for k, v in metrics.items()]
            reported = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        for line in lines:
            print(line)
        print(
            json.dumps(
                {"correct": correct, "attempted": attempted, "failed": failed, "metrics": reported}
            )
        )
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    import signal

    # A terminated run still stops its engine and removes its workdir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.exit(main())
