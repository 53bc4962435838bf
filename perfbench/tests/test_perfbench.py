"""Self-tests of the benchmark harness (not of the program).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each test starts its own Spark session on a tiny corpus, so the file
takes a few minutes.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(BENCH_DIR.parent), str(BENCH_DIR)]

import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
TINY = 24


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_spec_lists_the_workloads_and_metrics_the_harness_has():
    import tracing

    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    assert _units("per_layer") == tracing.metric_units()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_run_emits_every_metric_with_its_unit(name, trace):
    wl = dataclasses.replace(workloads.WORKLOADS[name], n_docs=TINY)
    result = run.run(wl, seed=5, seconds=0, trace=bool(trace))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _units("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not (BENCH_DIR / "_work" / f"{name}-{os.getpid()}").exists()


# seed 26 gives the tiny hot-domain corpus two empty pages (rows 3 and 6),
# which the dedup gate leaves out and short_page_diffs reports
@pytest.mark.parametrize("name, table, seed", [
    ("kg_mv_export_dedup_skewed", "survivors", 26),
    ("kg_hmm_graph", "graph", 7),
])
def test_dropped_output_row_fails_the_gate_and_counts_as_failed(monkeypatch, name, table, seed):
    wl = dataclasses.replace(workloads.WORKLOADS[name], n_docs=TINY)
    real_job = workloads.run_job
    dropped = []

    def job_then_drop_a_row(spark, wl, inputs, out, tracer):
        mentions = real_job(spark, wl, inputs, out, tracer)
        target = next(f for f in sorted((out / table).rglob("*.parquet"))
                      if workloads.pq.read_metadata(f).num_rows)
        rows = workloads.pq.read_table(target)
        dropped.append(rows.slice(0, 1).to_pylist()[0])
        workloads.pq.write_table(rows.slice(1), target)
        return mentions

    bench = run.Bench(wl, seed=seed)
    run._isolate(bench.work)
    try:
        bench.set_up()
        bench.prepare()   # its warm-up job is the first attempted
        expected = bench.oracles.result()
        assert (bench.attempted, bench.failed) == (1, 0)
        assert bench.checked_job() is not None
        if wl.dedup:
            assert expected.short_docs == {3, 6}
            assert set(bench.short_diffs) == {"survivors", "pairs"}
        monkeypatch.setattr(run, "run_job", job_then_drop_a_row)
        assert bench.checked_job() is None
        assert (bench.attempted, bench.failed) == (3, 1)
        # the row was one the gate covers, not one on a short dedup page
        assert dropped[0].get("doc_id") not in expected.short_docs
    finally:
        bench.oracles.close()
        bench.session.close()
        run.shutil.rmtree(bench.work, ignore_errors=True)


def test_in_process_corpus_equals_the_spark_generators():
    from weak_supervision_for_ner_spark.sources.pages import (
        synth_pages,
        synth_pages_hot_domain,
    )

    session = run.Session(cores=2)
    run._isolate(BENCH_DIR / "_work" / "generator-test")
    try:
        spark = session.start()
        for corpus, gen in (("clean", synth_pages), ("hot", synth_pages_hot_domain)):
            want = {(r["url"], r["text"], r["lang"], bytes(r["html"]))
                    for r in gen(spark, 64, seed=11, partitions=2).collect()}
            got = {(p["url"], p["text"], p["lang"], p["html"])
                   for p in workloads.generate_pages(corpus, 64, seed=11)}
            assert got == want, corpus
    finally:
        session.close()
        run.shutil.rmtree(BENCH_DIR / "_work" / "generator-test", ignore_errors=True)
