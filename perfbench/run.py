"""Repository benchmark: one workload per process.

    python3 perfbench/run.py --workload image_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. The process times a fixed CPU task on every
core (the host's pace), starts its own Spark session at local[<cpus
available>], writes the workload's inputs from ``--seed`` into a scratch
directory under the root, and times one pass, the first in the process: it
pays the one-time codegen, JIT and worker start-up as one CLI command does.
The pass's output is checked against the truth the generator planted; the
persisted RDDs the call left behind are counted, then released. After the
session and its JVM have stopped, the host's pace is timed again.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes that same
first pass a traced one, a span per layer, and prints the per-layer
metrics; its wall time against a ``--trace 0`` run's ``pass_s`` at the same
seed is the tracing overhead. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the full record
(the pass, host load and steal, versions, input sizes) goes to
``.perfbench_results/<workload>-seed<seed>-trace<t>.json``. ``--seconds`` is
accepted for the harness and recorded; a run is one pass whatever it says.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))
ROOT = os.path.dirname(HERE)

BATCH_LAYERS = (
    "media", "minhash.features", "exact", "simhash", "verify",
    "minhash.pairs", "containment", "pipeline.edges", "components",
    "pipeline.verdicts", "sources.crawl_log", "index_build", "probe",
)
KIND_UNITS = {"wall_s": "s", "task_s": "s", "jvm_cpu_s": "s", "gc_s": "s",
              "shuffle_write_mb": "MB", "shuffle_fetch_wait_s": "s",
              "rows_out": "count"}
END_TO_END = {"setup_s": "s", "paced_items_per_s": "1/s"}
# host_pace_s() on the idle 4-vCPU VM the benchmark was sized on: the
# paced metrics read as if the host ran at that pace
PACE_REF_S = 0.17
PER_LAYER = {
    **{f"{layer}.{k}": u for layer in BATCH_LAYERS for k, u in KIND_UNITS.items()},
    "media.python_udf_s": "s",
    "minhash.features.python_udf_s": "s",
    "verify.python_udf_s": "s",
    "verify.keep_ratio": "ratio",
    "minhash.pairs.keep_ratio": "ratio",
    "components.jobs": "count",
    "session.start_s": "s",
    "session.persisted_rdds_left": "count",
    "bench.traced_wall_s": "s",
    "bench.traced_total_s": "s",
    "bench.outside_spans_s": "s",
    "streaming.stateful.python_udf_s": "s", "streaming.task_s": "s",
    "streaming.jvm_cpu_s": "s", "streaming.gc_s": "s",
    "streaming.shuffle_write_mb": "MB", "streaming.batch_s": "s",
    "streaming.commit_s": "s", "streaming.planning_s": "s",
    "streaming.wal_s": "s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "bench.generator_late_s": "s",
}


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid``'s descendants, counting their
    reaped children too."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def host_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants, sampled every
    ``period`` seconds between ``reset`` and ``stop``."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.period):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def reset(self) -> None:
        self.peak = tree_rss_mb(os.getpid())

    def stop(self) -> None:
        self._done.set()
        self.join()


def release(spark, own: int = 0) -> int:
    """Drop every cached DataFrame and persisted RDD; return how many
    persisted RDDs there were beyond the ``own`` the benchmark cached."""
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs().size() - own
    spark.catalog.clearCache()
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark._jvm.System.gc()  # every repeat starts from a collected heap
    return left


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


def session_extra(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }


def host_pace_s(nproc: int, rounds: int = 9) -> float:
    """Wall seconds of a fixed CPU task on every core: ``nproc`` threads
    each sorting the same million doubles eight times (numpy releases the
    GIL while sorting), mean of ``rounds``; a slowdown that lasts through a
    round slows a pass as much. It runs no program code, so it moves only
    with the host: hypervisor steal and neighbours' load slow it down as
    they slow the workload."""
    import numpy as np

    data = np.random.default_rng(0).random(1_000_000)
    total = 0.0
    for _ in range(rounds):
        threads = [threading.Thread(target=lambda: [np.sort(data) for _ in range(8)])
                   for _ in range(nproc)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        total += time.perf_counter() - t0
    return total / rounds


def load1() -> float:
    return os.getloadavg()[0]


def timed_pass(spark, wl, call) -> dict:
    """Run ``call()``, which returns the pass's timings, then check the
    output and release what the pass left cached. A failed pass is counted,
    not fatal."""
    rec = {"load1_before": load1()}
    cpu0, steal0 = tree_cpu_s(os.getpid()), host_steal_s()
    try:
        rec.update(call())
        rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        rec["host_steal_s"] = host_steal_s() - steal0
        t = time.perf_counter()
        rec.update(wl.check(spark))
        rec["check_s"] = time.perf_counter() - t
    except Exception as e:
        rec.update(ok=False, error=repr(e))
    t = time.perf_counter()
    rec["persisted_rdds_left"] = release(spark, wl.own_cached)
    rec["release_s"] = time.perf_counter() - t
    rec["load1_after"] = load1()
    return rec


def traced_call(spark, wl, tracer) -> dict:
    try:
        return wl.traced(spark, tracer)
    finally:
        tracer.release()


def measure(spark, wl, trace: bool, rss: RssSampler) -> dict:
    """The timed pass, traced with ``trace``."""
    from spans import Tracer

    rss.reset()
    if trace:
        tracer = Tracer(spark)
        first = timed_pass(spark, wl, lambda: traced_call(spark, wl, tracer))
    else:
        first = timed_pass(spark, wl, lambda: wl.run(spark))
    out = {"e2e": {}, "per_layer": {}, "peak_rss_mb": rss.peak,
           "passes": [first]}
    if trace:
        out["per_layer"] = layer_metrics(tracer, first)
    stream = getattr(wl, "stream", None)
    if stream is not None and first.get("ok"):
        e2e, layers = stream.metrics(spark)
        out["e2e"].update(e2e)
        out["per_layer"].update(layers)
    return out


def layer_metrics(tracer, traced: dict) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    for layer, kinds in tracer.layers.items():
        for k, v in kinds.items():
            m[f"{layer}.{k}"] = v
    for name, v in tracer.extra.items():
        if name in PER_LAYER:
            m[name] = v
    m["session.persisted_rdds_left"] = traced["persisted_rdds_left"]
    # the stream leg has no spans; its numbers come from its progress
    m["bench.traced_wall_s"] = traced.get("wall_s", 0.0) - traced.get("stream_s", 0.0)
    m["bench.traced_total_s"] = tracer.span_total_s
    # input counts and status-store reads between the spans
    m["bench.outside_spans_s"] = m["bench.traced_wall_s"] - tracer.span_total_s
    return m


def end_to_end(wl, first: dict, setup_s: float, pace: float) -> dict:
    """The bounded metrics, scaled by the host's pace, and the raw ones."""
    wall = first.get("wall_s")
    e2e = {"setup_s": setup_s * PACE_REF_S / pace,
           "paced_items_per_s": wl.items / wall * pace / PACE_REF_S if wall else 0.0,
           "setup_wall_s": setup_s,
           "host_pace_s": pace,
           "pass_s": wall or 0.0,
           "items_per_s": wl.items / wall if wall else 0.0,
           "items_per_cpu_s": wl.items / first["cpu_s"] if "cpu_s" in first else 0.0}
    for key in ("index_build_s", "probe_s", "stream_s", "recall", "false_merges",
                "verdict_mismatches", "unmatched_members"):
        if key in first:
            e2e[key] = first[key]
    return e2e


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deduplicator_spark", "__init__.py")):
        print(f"perfbench: no deduplicator_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # no Spark, no program code: this calibration moves only with the host
    pace_before = host_pace_s(NPROC)
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload: choose from {', '.join(sorted(WORKLOADS))}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}")
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    import pyspark

    from deduplicator_spark.session import get_spark

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "nproc": NPROC,
              "pyspark": pyspark.__version__, "load1_start": load1(),
              "pace_before_s": pace_before}
    wl = WORKLOADS[args.workload]()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cores=NPROC,
                          extra=session_extra(work))
        record["session_start_s"] = time.perf_counter() - t
        record["spark"] = spark.version
        t = time.perf_counter()
        wl.setup(spark, work, args.seed)
        record["inputs_s"] = time.perf_counter() - t
        record["sizes"] = wl.sizes
        setup_end = time.perf_counter()
        record.update(measure(spark, wl, args.trace, rss))
        # set-up runs until the timed pass's clock starts: work a workload
        # does before it (the image corpus is read and cached) counts here
        setup_end = record["passes"][0].pop("clock_start", setup_end)
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        record["stop_s"] = time.perf_counter() - t
    record["pace_after_s"] = host_pace_s(NPROC)
    record["load1_end"] = load1()
    record["process_s"] = time.perf_counter() - t_setup

    passes = record["passes"]
    failed = sum(not p.get("ok") for p in passes)
    pace = (record["pace_before_s"] + record["pace_after_s"]) / 2
    e2e = {**end_to_end(wl, passes[0], setup_end - t_setup, pace),
           "peak_rss_mb": record.pop("peak_rss_mb"),
           "error_rate": failed / len(passes), **record.pop("e2e")}
    record["per_layer"]["session.start_s"] = record["session_start_s"]
    units = {**END_TO_END, "setup_wall_s": "s", "host_pace_s": "s",
             "pass_s": "s", "items_per_s": "1/s", "items_per_cpu_s": "1/s",
             "index_build_s": "s", "probe_s": "s", "stream_s": "s",
             "recall": "ratio", "false_merges": "count",
             "verdict_mismatches": "count", "unmatched_members": "count",
             "peak_rss_mb": "MB", "error_rate": "ratio",
             "batch_latency_p50_s": "s", "batch_latency_tail_s": "s",
             "batch_latency_tail_pct": "%", "batch_latency_samples": "count",
             "stream_batches": "count"}
    record["end_to_end"] = {k: {"value": v, "unit": units[k]}
                            for k, v in e2e.items()}
    record["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]}
                           for k, v in record["per_layer"].items()}
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    for k, m in record["end_to_end"].items():
        print(f"perfbench {args.workload} {k} = {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(f"perfbench record: {path}", file=sys.stderr)

    if args.trace:
        shown = {k: record["per_layer"].get(k, {"value": 0.0, "unit": u})
                 for k, u in PER_LAYER.items()}
    else:
        shown = {k: record["end_to_end"][k] for k in END_TO_END}
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
