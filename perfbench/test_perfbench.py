"""Tests of the benchmark itself: seeded inputs, span accounting, and the
private Spark status-store calls the per-layer metrics depend on.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import inputs as I
from perfbench import trace as TR


def test_same_seed_gives_identical_inputs():
    assert I.kg_docs_table(3, 40).equals(I.kg_docs_table(3, 40))
    assert I.curation_rows(3, 300) == I.curation_rows(3, 300)


def test_different_seeds_give_different_inputs():
    a, b = I.kg_docs_table(3, 40), I.kg_docs_table(4, 40)
    assert not set(a.column("doc_id").to_pylist()) & set(b.column("doc_id").to_pylist())
    (ids_a, texts_a), (ids_b, texts_b) = I.curation_rows(3, 300), I.curation_rows(4, 300)
    assert not set(ids_a) & set(ids_b)
    assert sum(a == b for a, b in zip(texts_a, texts_b)) == 0


def test_seed_windows_are_disjoint():
    for seed in (0, 1, 7):
        idx = I.kg_doc_indices(seed, I.WINDOW)
        assert I.kg_doc_indices(seed + 1, 1).start >= idx.stop
    with pytest.raises(ValueError):
        I.window_start(-1)
    with pytest.raises(ValueError):
        I.kg_doc_indices(0, I.WINDOW + 1)


def test_planted_populations_do_not_depend_on_the_seed():
    n = 3400  # two full 17 x 10 cycles of the planting rules, times ten
    funnels = [I.planted_funnel(I.curation_rows(s, n)[1]) for s in (0, 5, 123)]
    assert funnels[0] == funnels[1] == funnels[2]
    exact_copies = sum(1 for i in range(n) if i % 17 == 3 and i % 10 != 7)
    assert funnels[0]["exact_dedup"] == n - exact_copies
    assert funnels[0]["near_dedup"] == funnels[0]["exact_dedup"] - n // 10


def test_benchmark_json_declares_exactly_the_reported_metrics():
    import json
    import os

    from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_query_pack_times_every_headline_leaf(tmp_path):
    import bench

    from perfbench.workloads import LAYER_UNITS, QueryPack

    wl = QueryPack(0, str(tmp_path))
    assert wl.leaves == bench.HEADLINE
    assert set(wl.leaves) <= set(wl.queries)
    assert {f"q.{leaf}_s" for leaf in wl.leaves} <= set(LAYER_UNITS)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_span_self_time_excludes_child_spans():
    clock, groups = FakeClock(), []
    tr = TR.Tracer(clock=clock, set_group=groups.append)
    with tr.span("outer") as outer:
        clock.t += 1.0
        with tr.span("child") as child:
            clock.t += 2.0
            with tr.span("grandchild"):
                clock.t += 4.0
        clock.t += 8.0
        with tr.span("child"):
            clock.t += 16.0
    clock.t += 32.0
    with tr.span("second"):
        clock.t += 64.0

    assert tr.self_time(outer) == 1.0 + 8.0
    assert tr.self_time(child) == 2.0
    assert tr.self_times() == {"outer": 9.0, "child": 18.0,
                               "grandchild": 4.0, "second": 64.0}
    assert tr.covered() == 31.0 + 64.0
    # each span tags its jobs with its own group and restores the parent's
    assert groups[:4] == [outer.group, child.group, "pb-2", child.group]
    assert groups[-1] == TR.Tracer.ROOT_GROUP


def test_wrap_records_spans_and_restores_the_original():
    class Layer:
        @staticmethod
        def work(x):
            return x + 1

        @staticmethod
        def count():
            return 7

    original = Layer.work
    tr = TR.Tracer(clock=FakeClock())
    tr.wrap(Layer, "work", lambda x: f"work.{x}")
    tr.wrap(Layer, "count", "count", top_level_only=True)
    assert Layer.work(1) == 2
    assert Layer.count() == 7
    with tr.span("layer"):
        Layer.count()
    assert [s.name for s in tr.spans] == ["work.1", "count", "layer"]
    tr.unwrap_all()
    assert Layer.work is original


def test_parse_size_reads_single_and_aggregated_sql_metrics():
    assert TR.parse_size("139.2 KiB") == pytest.approx(139.2 * 1024)
    assert TR.parse_size(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 MiB (10.0 B, 20.0 B, 30.0 B (stage 1.0: task 2))"
    ) == pytest.approx(1.5 * 1024 * 1024)
    assert TR.parse_size("n/a") == 0.0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.workloads import start_session, stop_session

    s = start_session(str(tmp_path_factory.mktemp("work")))
    yield s
    stop_session(s)


def test_status_store_lookup_by_job_group(spark):
    """Pins the private AppStatusStore and SQL status-store calls: a Spark
    upgrade that moves them fails here, not silently in the benchmark."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tr = TR.Tracer(set_group=lambda g: sc.setJobGroup(g, g))

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    with tr.span("shuffle") as shuffle:
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    with tr.span("python") as python:
        spark.range(1000).select(plus_one("id")).write.format("noop") \
            .mode("overwrite").save()
    sc.setJobGroup("untraced", "untraced")

    by_group = TR.stages_by_group(spark)
    stages = by_group[shuffle.group]
    assert len(stages) >= 2
    assert sum(s["shuffleWriteBytes"] for s in stages) > 0
    assert all(s["numTasks"] > 0 and s["executorRunTime"] >= 0 for s in stages)
    assert set(TR.STAGE_FIELDS) <= set(stages[0])
    assert TR.task_time_skew(spark, stages[0]) >= 1.0
    assert TR.job_groups(spark)  # jobs carry their group

    sent, returned = TR.python_bytes_by_group(spark)[python.group]
    assert sent > 0 and returned > 0


def test_sampling_rule_matches_the_program(spark):
    from pyspark.sql import functions as F

    from knowledge_graph_rag_spark.operators.sampling import hash_sample

    ids = [f"d{i}" for i in range(2000)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    kept = {r.doc_id for r in hash_sample(df, "doc_id", 0.8).collect()}
    assert kept == {i for i in ids if I.in_hash_sample(i, 0.8)}
    assert df.filter(F.col("doc_id").isin(*kept)).count() == len(kept)


def test_curation_corpus_passes_the_quality_gate(spark):
    """planted_funnel assumes no synthetic doc fails the Gopher gate, for
    any seed."""
    from pyspark.sql import functions as F

    from knowledge_graph_rag_spark.functions.text import gopher_quality_cols

    for seed in (0, 10**6):
        ids, texts = I.curation_rows(seed, 500)
        df = spark.createDataFrame(list(zip(ids, texts)), "doc_id string, text string")
        keep = gopher_quality_cols(F.col("text"))["keep"]
        assert df.filter(~keep).count() == 0
