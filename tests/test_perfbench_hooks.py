"""The benchmark under perfbench/ traces a pipeline run by rebinding
names on the program's modules. A refactor that drops or renames one of
those names would fail every benchmark job, so entering its hooks is
checked here, without starting Spark."""

import os


def test_benchmark_pipeline_hooks_bind(monkeypatch):
    perfbench = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
    monkeypatch.syspath_prepend(perfbench)
    import tracing

    from weak_supervision_for_ner_spark.plans import pipeline

    before = {name: getattr(pipeline, name) for name in tracing.EXTRACT_STAGES}
    with tracing.pipeline_hooks(tracing.NullTracer(), []):
        pass
    assert {name: getattr(pipeline, name) for name in tracing.EXTRACT_STAGES} == before
