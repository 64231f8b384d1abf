"""Per-layer spans recorded around the calls into the program's modules.

A span runs its layer's calls under a Spark job group of its own. When it
closes, the jobs of that group are looked up in the application status
store and their stages' task metrics are summed into the layer:

    wall_s                span wall time (call + output materialization)
    task_s                executorRunTime
    jvm_cpu_s             executorCpuTime
    gc_s                  jvmGcTime
    shuffle_write_mb      shuffleWriteBytes / 2**20
    shuffle_fetch_wait_s  shuffleFetchWaitTime
    rows_out              rows of the materialized output

Inputs are counted under a separate group before a span's clock starts and
every span persists its output, so a layer is billed only for its own work
and no layer runs twice. On a mapInPandas stage ``task_s - jvm_cpu_s`` is
the time spent on the Python side; the tracer also turns on
``spark.sql.pyspark.udf.profiler=perf`` and adds the profiler's total in
each span as ``<layer>.python_udf_s``.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

KINDS = ("wall_s", "task_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb",
         "shuffle_fetch_wait_s", "rows_out")
INPUT_GROUP = "bench.inputs"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.layers: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(KINDS, 0.0))
        self.extra: dict[str, float] = defaultdict(float)
        self.span_total_s = 0.0
        self._held: list[DataFrame] = []
        self._seen: set[int] = set()
        self._n = 0
        self._group = INPUT_GROUP
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def inputs(self, *objs) -> None:
        """Count each DataFrame argument once, outside any span, so frames
        the program persisted lazily upstream are computed and cached
        before the layer's clock starts. Inputs are not persisted here:
        every upstream layer's output already is (``output``), and an extra
        cache layer under ``connected_components``' checkpoint chain
        doubles that layer's time."""
        self.sc.setJobGroup(INPUT_GROUP, INPUT_GROUP)
        for o in objs:
            if isinstance(o, DataFrame) and id(o) not in self._seen:
                o.count()
                self._seen.add(id(o))

    @contextmanager
    def span(self, layer: str):
        self._n += 1
        self._group = f"bench.span.{self._n}.{layer}"
        self.sc.setJobGroup(self._group, layer)
        self.spark.profile.clear()
        t0 = time.perf_counter()
        try:
            yield self.layers[layer]
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup(INPUT_GROUP, INPUT_GROUP)
            self.span_total_s += wall
            self._record(layer, self._group, wall)

    def output(self, layer: str, df: DataFrame) -> DataFrame:
        """Persist and count a span's output inside the span, so the next
        layer reads it instead of re-running this one."""
        self.layers[layer]["rows_out"] += self.persist(df)
        return df

    def persist(self, df: DataFrame) -> int:
        df.persist()
        self._held.append(df)
        self._seen.add(id(df))
        return df.count()

    def _record(self, layer: str, group: str, wall: float) -> None:
        acc = self.layers[layer]
        acc["wall_s"] += wall
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        self.extra[f"{layer}.jobs"] += len(job_ids)
        for k, v in stage_totals(self.sc, job_ids).items():
            acc[k] += v
        perf = self.spark._profiler_collector._perf_profile_results
        self.extra[f"{layer}.python_udf_s"] += sum(
            s.total_tt for s in perf.values())

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()


def _traced(tracer: Tracer, layer: str, fn):
    def call(*args, **kwargs):
        tracer.inputs(*args, *kwargs.values())
        with tracer.span(layer):
            return tracer.output(layer, fn(*args, **kwargs))
    return call


def traced_pipeline(tracer: Tracer, images: DataFrame):
    """``run_pipeline(images)`` with a span around every layer call.

    The module attributes ``run_pipeline`` and ``candidate_edges`` look up
    at call time are swapped for wrappers for the duration of the call, so
    the composition is the program's own and each tier runs exactly once:
    a wrapper hands its persisted output to the next consumer."""
    from deduplicator_spark.operators import minhash
    from deduplicator_spark.plans import pipeline

    def candidates(*args, **kwargs):
        out = orig["mh.candidate_pairs_from_bands"](*args, **kwargs)
        # inside the minhash.pairs span
        tracer.extra["minhash.pairs.candidates"] += tracer.persist(out)
        return out

    def edges(*args, **kwargs):
        out = orig["candidate_edges"](*args, **kwargs)
        with tracer.span("pipeline.edges"):
            return tracer.output("pipeline.edges", out)

    wrap = {
        (pipeline, "validation_features"): "media",
        (minhash, "prepared_features"): "minhash.features",
        (pipeline, "exact_pairs_from_digests"): "exact",
        (pipeline, "near_image_pairs"): "simhash",
        (pipeline, "verify_image_pairs"): "verify",
        (pipeline, "near_caption_pairs"): "minhash.pairs",
        (pipeline, "containment_pairs"): "containment",
        (pipeline, "connected_components"): "components",
        (pipeline, "verdicts_from_clusters"): "pipeline.verdicts",
    }
    orig = {name: getattr(mod, name) for mod, name in wrap}
    orig["candidate_edges"] = pipeline.candidate_edges
    orig["mh.candidate_pairs_from_bands"] = minhash.candidate_pairs_from_bands
    try:
        for (mod, name), layer in wrap.items():
            setattr(mod, name, _traced(tracer, layer, orig[name]))
        pipeline.candidate_edges = edges
        minhash.candidate_pairs_from_bands = candidates
        return pipeline.run_pipeline(images)
    finally:
        for mod, name in wrap:
            setattr(mod, name, orig[name])
        pipeline.candidate_edges = orig["candidate_edges"]
        minhash.candidate_pairs_from_bands = orig["mh.candidate_pairs_from_bands"]


def stage_totals(sc, job_ids) -> dict[str, float]:
    """Task metrics summed over the stages of ``job_ids``, read from the
    application status store (works with the UI off)."""
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for j in job_ids:
        stage_ids.update(int(s) for s in store.job(j).stageIds().toList()
                         .mkString(",").split(",") if s)
    out = dict.fromkeys(KINDS[1:-1], 0.0)
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        out["task_s"] += st.executorRunTime() / 1e3
        out["jvm_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
    return out
