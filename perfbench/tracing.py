"""Per-layer tracing of one pipeline run, from outside the program.

Each layer call is wrapped from the benchmark's own files: the wrapper
labels the Spark jobs the layer starts with ``setJobGroup`` and records
a span (wall time and Python-worker CPU read from /proc). A layer that
returns a lazy DataFrame has its output forced with persist + count the
first time another traced layer consumes it, so the work lands in the
layer that defines it. An output nobody consumes (``annotated`` on the
direct graph path) is never forced, so the traced run does the same work
as an untraced one plus the counts and caches.

After the run, the JVM status store gives the jobs of each group, their
stages and tasks: executor CPU, shuffle bytes and records, spill, task
durations, and job submission/completion times.

``pipeline_hooks`` installs the wrappers on the names
``plans.pipeline.run_kg_pipeline`` looks up when it runs, so the trace
follows whatever path the pipeline chooses.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import time
from collections import defaultdict

from proctree import python_worker_cpu_s

LAYERS = (
    "textstats.truecase_dict",
    "annotate.annotate_pages",
    "aggregate.majority_voter",
    "hmm.fit",
    "triples.extract",
    "triples.link",
    "triples.canonicalize",
    "sinks.graph",
    "sinks.mentions",
    "dedup.drop_near_duplicates",
    "dedup.ngram_jaccard_pairs",
)

# metric suffix -> unit, reported for every layer
LAYER_METRICS = {
    "wall_s": "s",
    "driver_s": "s",
    "task_cpu_s": "s",
    "py_cpu_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "jobs": "count",
    "rows_out": "count",
}

# layer-specific metrics: name -> unit
EXTRA_METRICS = {
    "hmm.fit.em_iters": "count",
    "hmm.fit.estep_s_p50": "s",
    "hmm.fit.mstep_s": "s",
    "triples.canonicalize.unlinked_names": "count",
    "triples.canonicalize.dropped_buckets": "count",
    "triples.canonicalize.dropped_members": "count",
    "triples.canonicalize.useful_ratio": "ratio",
    "dedup.ngram_jaccard_pairs.useful_ratio": "ratio",
    "dedup.drop_near_duplicates.short_page_diffs": "count",
    "dedup.ngram_jaccard_pairs.short_page_diffs": "count",
    "annotate.annotate_pages.task_skew": "ratio",
    "sinks.graph.task_skew": "ratio",
    "sinks.mentions.task_skew": "ratio",
    "trace.overhead_s": "s",
    "trace.layer_coverage": "ratio",
}

# the extraction stages run_kg_pipeline chooses between
EXTRACT_STAGES = (
    "extract_triples_direct",
    "extract_triples_fused",
    "extract_triples_hmm_fused",
    "extract_triples",
)


def metric_units() -> dict[str, str]:
    units = {f"{layer}.{suffix}": unit
             for layer in LAYERS for suffix, unit in LAYER_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


class NullTracer:
    """Untraced runs: layer calls go straight through."""

    def __init__(self):
        self.labels: dict[str, str] = {}

    def call(self, layer, fn, *args, lazy=False, rows=None, **kwargs):
        return fn(*args, **kwargs)

    def stats_sink(self, layer):
        return None


class Tracer:
    """Spans, job groups and row counts of one traced job; ``report``
    turns them and the status store into the per-layer metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pid = os.getpid()
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.groups: dict[str, str] = {}          # job group -> layer
        self.py_cpu: dict[str, float] = defaultdict(float)
        self.rows: dict[str, int] = defaultdict(int)
        self.stats: dict[str, dict] = {}
        self.labels: dict[str, str] = {}
        self.outputs: dict[str, object] = {}      # layer -> last forced output
        self._pending: dict[int, tuple[str, object]] = {}
        self._counts: dict[int, int] = {}

    @contextlib.contextmanager
    def span(self, layer: str):
        group = f"perfbench-{len(self.groups)}-{layer}"
        self.groups[group] = layer
        self.sc.setJobGroup(group, layer)
        cpu0, t0 = python_worker_cpu_s(self.pid), time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.py_cpu[layer] += python_worker_cpu_s(self.pid) - cpu0
            self.spans[layer].append((t0, t1))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def force(self, value) -> None:
        """Materialize ``value`` inside the span of the layer that
        produced it, if it is a pending lazy output."""
        entry = self._pending.pop(id(value), None)
        if entry is None:
            return
        layer, df = entry
        with self.span(layer):
            n = df.persist().count()
        self.rows[layer] += n
        self._counts[id(df)] = n
        self.outputs[layer] = df

    def call(self, layer, fn, *args, lazy=False, rows=None, **kwargs):
        """``fn(*args, **kwargs)`` as a span of ``layer``. Pending inputs
        are forced first; a ``lazy`` result waits to be consumed, and
        ``rows(result)`` counts the output of an eager one."""
        for value in (*args, *kwargs.values()):
            self.force(value)
        with self.span(layer):
            out = fn(*args, **kwargs)
        if lazy:
            self._pending[id(out)] = (layer, out)
        elif rows is not None:
            self.rows[layer] += rows(out)
        return out

    def rows_of(self, df) -> int:
        return self._counts.get(id(df), 0)

    def stats_sink(self, layer: str) -> dict:
        return self.stats.setdefault(layer, {})

    # -- reading the status store -------------------------------------

    def _jobs_and_stages(self):
        """layer -> jobs [(id, submit_s, done_s)] and layer -> stage
        records; a stage listed by several jobs counts once."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        stages = {}
        it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
        while it.hasNext():
            s = it.next()
            stages.setdefault(s.stageId(), []).append(s)
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            if group in self.groups and j.completionTime().isDefined():
                ids = []
                sit = j.stageIds().iterator()
                while sit.hasNext():
                    ids.append(sit.next())
                jobs.append((j.jobId(), self.groups[group],
                             j.submissionTime().get().getTime() / 1000,
                             j.completionTime().get().getTime() / 1000, ids))
        layer_jobs, layer_stages, seen = defaultdict(list), defaultdict(list), set()
        for job_id, layer, t0, t1, ids in sorted(jobs):
            layer_jobs[layer].append((job_id, t0, t1))
            for sid in ids:
                if sid not in seen:
                    seen.add(sid)
                    layer_stages[layer].extend(stages.get(sid, ()))
        return layer_jobs, layer_stages

    def _task_skew(self, stages) -> float:
        """max / median task duration of the layer's busiest stage."""
        busy = [s for s in stages if s.executorRunTime() > 0]
        if not busy:
            return 0.0
        s = max(busy, key=lambda s: s.executorRunTime())
        it = self.sc._jsc.sc().statusStore().taskList(
            s.stageId(), s.attemptId(), 1_000_000).iterator()
        durations = []
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durations.append(d.get())
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 0.0

    def _canonicalize_outcome(self) -> tuple[int, float]:
        """(unlinked names, share of them LSH merged into another name),
        read from the cached canonicalize output after the run."""
        from pyspark.sql import functions as F

        out = self.outputs.get("triples.canonicalize")
        if out is None:
            return 0, 0.0
        names = out.select(F.explode(F.array(*[
            F.struct(F.col(f"{side}_norm").alias("name"), F.col(f"{side}_id").alias("id"))
            for side in ("subj", "obj")
        ])).alias("e")).select("e.*").filter(F.col("id").startswith("ent:")).distinct()
        row = names.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("id") != F.concat(F.lit("ent:"), F.col("name")), 1)).alias("merged"),
        ).first()
        return row["n"], (row["merged"] / row["n"] if row["n"] else 0.0)

    def report(self, traced_wall_s: float, fitted) -> dict[str, float]:
        """Every metric of ``metric_units`` but ``trace.overhead_s``,
        which needs untraced jobs to compare with, and the dedup
        ``short_page_diffs``, which come from the output gate."""
        layer_jobs, layer_stages = self._jobs_and_stages()
        m: dict[str, float] = {}
        for layer in LAYERS:
            spans, jobs, stages = self.spans.get(layer, []), layer_jobs.get(layer, []), layer_stages.get(layer, [])
            wall = sum(t1 - t0 for t0, t1 in spans)
            m[f"{layer}.wall_s"] = wall
            m[f"{layer}.driver_s"] = max(wall - _busy_s(spans, jobs), 0.0)
            m[f"{layer}.task_cpu_s"] = sum(s.executorCpuTime() for s in stages) / 1e9
            m[f"{layer}.py_cpu_s"] = self.py_cpu.get(layer, 0.0)
            m[f"{layer}.shuffle_mb"] = sum(s.shuffleWriteBytes() for s in stages) / 1e6
            m[f"{layer}.spill_mb"] = sum(s.diskBytesSpilled() for s in stages) / 1e6
            m[f"{layer}.jobs"] = len(jobs)
            # sinks and dedup layers end in a write: count the rows written
            written = sum(s.outputRecords() for s in stages)
            m[f"{layer}.rows_out"] = self.rows.get(layer, 0) or written

        # hmm.fit: one prior-count job, then one E-step job per iteration;
        # the M-step runs on the driver between E-step jobs
        iters = len(fitted[-1].history) if fitted else 0
        esteps = layer_jobs.get("hmm.fit", [])[-iters:] if iters else []
        fit_end = max((t1 for _t0, t1 in self.spans.get("hmm.fit", [])), default=0.0)
        nexts = [t0 for _id, t0, _t1 in esteps[1:]] + [fit_end]
        m["hmm.fit.em_iters"] = iters
        m["hmm.fit.estep_s_p50"] = statistics.median(t1 - t0 for _id, t0, t1 in esteps) if esteps else 0.0
        m["hmm.fit.mstep_s"] = sum(nxt - t1 for (_id, _t0, t1), nxt in zip(esteps, nexts))

        stats = self.stats.get("triples.canonicalize", {})
        unlinked, merged_share = self._canonicalize_outcome()
        m["triples.canonicalize.unlinked_names"] = unlinked
        m["triples.canonicalize.dropped_buckets"] = stats.get("dropped_buckets", 0)
        m["triples.canonicalize.dropped_members"] = stats.get("dropped_members", 0)
        m["triples.canonicalize.useful_ratio"] = merged_share

        shuffled = sum(s.shuffleWriteRecords() for s in layer_stages.get("dedup.ngram_jaccard_pairs", []))
        kept = m["dedup.ngram_jaccard_pairs.rows_out"]
        m["dedup.ngram_jaccard_pairs.useful_ratio"] = kept / shuffled if shuffled else 0.0

        for layer in ("annotate.annotate_pages", "sinks.graph", "sinks.mentions"):
            m[f"{layer}.task_skew"] = self._task_skew(layer_stages.get(layer, []))

        m["trace.layer_coverage"] = sum(m[f"{layer}.wall_s"] for layer in LAYERS) / traced_wall_s
        return m


def _busy_s(spans, jobs) -> float:
    """Time inside ``spans`` during which at least one of ``jobs`` ran."""
    busy = 0.0
    for s0, s1 in spans:
        intervals = sorted((max(t0, s0), min(t1, s1)) for _id, t0, t1 in jobs if t1 > s0 and t0 < s1)
        end = s0
        for t0, t1 in intervals:
            if t1 > end:
                busy += t1 - max(t0, end)
                end = t1
    return busy


@contextlib.contextmanager
def pipeline_hooks(tracer, fitted: list):
    """Route the layer calls ``run_kg_pipeline`` makes through
    ``tracer``, and record each HMM it fits in ``fitted``."""
    from weak_supervision_for_ner_spark.operators import textstats
    from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
    from weak_supervision_for_ner_spark.plans import pipeline

    def traced(layer, fn, **opts):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(layer, fn, *args, **opts, **kwargs)
        return wrapper

    def extract(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.labels["triples.extract"] = name
            return tracer.call("triples.extract", fn, *args, lazy=True, **kwargs)
        return wrapper

    canonicalize = pipeline.canonicalize_triples

    @functools.wraps(canonicalize)
    def traced_canonicalize(spark, linked, *args, stats=None, **kwargs):
        if stats is None:
            stats = tracer.stats_sink("triples.canonicalize")
        return tracer.call("triples.canonicalize", canonicalize, spark, linked,
                           *args, lazy=True, stats=stats, **kwargs)

    fit = HMMAggregator.fit_spark

    # patched on the class, not subclassed: UDFs pickle the model, and the
    # Python workers can import only the program's own classes
    @functools.wraps(fit)
    def traced_fit(model, spark, annotated, *args, **kwargs):
        fitted.append(model)
        return tracer.call("hmm.fit", fit, model, spark, annotated, *args,
                           rows=lambda _model: tracer.rows_of(annotated), **kwargs)

    patches = [
        (textstats, "collect_form_frequency_dict",
         traced("textstats.truecase_dict", textstats.collect_form_frequency_dict, rows=len)),
        (pipeline, "annotate_pages",
         traced("annotate.annotate_pages", pipeline.annotate_pages, lazy=True)),
        (pipeline, "majority_voter_mentions",
         traced("aggregate.majority_voter", pipeline.majority_voter_mentions, lazy=True)),
        *[(pipeline, name, extract(name, getattr(pipeline, name))) for name in EXTRACT_STAGES],
        (pipeline, "link_entities", traced("triples.link", pipeline.link_entities, lazy=True)),
        (pipeline, "canonicalize_triples", traced_canonicalize),
        (pipeline, "materialize_graph", traced("sinks.graph", pipeline.materialize_graph)),
        (HMMAggregator, "fit_spark", traced_fit),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _new in patches]
    for mod, name, new in patches:
        setattr(mod, name, new)
    try:
        yield
    finally:
        for mod, name, old in saved:
            setattr(mod, name, old)
