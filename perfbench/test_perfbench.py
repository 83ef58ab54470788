"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from stats import tail, tail_percentile  # noqa: E402
from tracing import Span, Tracer, self_time, stage_role  # noqa: E402
from workloads import normalized  # noqa: E402


# ------------------------------------------------------------- generators


def _read_all(paths):
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def test_zipf_corpus_is_deterministic_per_seed(tmp_path):
    a = _read_all(gen.zipf_corpus(7, str(tmp_path / "a"), 3, 500, 100))
    b = _read_all(gen.zipf_corpus(7, str(tmp_path / "b"), 3, 500, 100))
    c = _read_all(gen.zipf_corpus(8, str(tmp_path / "c"), 3, 500, 100))
    assert a == b
    assert a != c


def test_zipf_corpus_words_are_letters_only(tmp_path):
    (path,) = gen.zipf_corpus(1, str(tmp_path), 1, 300, 50)
    with open(path, encoding="ascii") as fh:
        text = fh.read()
    assert all(w.rstrip(".").isalpha() for w in text.split())


def _batches(seed, n, docs=30):
    s = gen.DedupStream(seed, docs)
    return [s.batch(i) for i in range(n)]


def test_dedup_stream_is_deterministic_per_seed():
    a, b, c = _batches(3, 4), _batches(3, 4), _batches(4, 4)
    assert [x.texts for x in a] == [x.texts for x in b]
    assert [x.embeddings for x in a] == [x.embeddings for x in b]
    assert [x.exact for x in a] == [x.exact for x in b]
    assert [x.texts for x in a] != [x.texts for x in c]


def test_dedup_stream_plants_only_duplicates_of_earlier_uniques():
    batches = _batches(5, 6)
    assert not (batches[0].exact or batches[0].edit or batches[0].para)
    uniques_before: set[int] = set()
    text_of = {}
    for b in batches:
        text_of.update(zip(b.doc_ids, b.texts))
        for planted in (b.exact, b.edit, b.para):
            for dup, orig in planted.items():
                assert orig in uniques_before  # never a same-batch copy
                assert dup in b.doc_ids
        for dup, orig in b.exact.items():
            assert text_of[dup] == text_of[orig]
        for dup, orig in b.edit.items():
            assert text_of[dup] != text_of[orig]
        uniques_before.update(b.unique)
        assert len(b.doc_ids) == len(set(b.doc_ids)) == 30


def test_dedup_stream_unique_embeddings_stay_below_the_semantic_threshold():
    import numpy as np

    embs = [e for b in _batches(6, 5) for d, e in zip(b.doc_ids, b.embeddings) if d in b.unique]
    u = np.array(embs) / np.linalg.norm(embs, axis=1, keepdims=True)
    cos = u @ u.T
    np.fill_diagonal(cos, 0.0)
    assert cos.max() < 0.35


def test_dedup_stream_batches_must_be_requested_in_order():
    s = gen.DedupStream(1, 10)
    s.batch(0)
    with pytest.raises(ValueError):
        s.batch(2)


def test_analytics_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    names = gen.analytics_tables(2, str(tmp_path / "a"), 0.001)
    gen.analytics_tables(2, str(tmp_path / "b"), 0.001)
    gen.analytics_tables(3, str(tmp_path / "c"), 0.001)
    assert {"events", "orders", "lineitem", "customer", "nation", "documents"} <= set(names)
    for t in names:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet")), t
        assert a.num_rows > 0
    assert not pq.read_table(tmp_path / "a" / "events.parquet").equals(
        pq.read_table(tmp_path / "c" / "events.parquet")
    )


# ------------------------------------------------------ tail percentile rule


@pytest.mark.parametrize(
    "n,q", [(0, 50.0), (5, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == pytest.approx(q)


def test_tail_value_has_at_least_ten_samples_beyond_it():
    for n in range(20, 400, 7):
        values = [float(i) for i in range(n)]
        v, q = tail(values)
        assert sum(x > v for x in values) >= 10, n
        # and it is the highest such percentile: one rank higher leaves < 10
        if q > 50.0:
            assert sum(x > v + 1 for x in values) < 10, n


def test_tail_falls_back_to_median_below_twenty_samples():
    assert tail([1.0, 2.0, 3.0]) == (2.0, 50.0)


# ---------------------------------------------------------------- span time


def test_self_time_subtracts_union_of_children():
    parent = Span("p", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 5.0), Span("c", 7.0, 8.0)]
    assert self_time(parent, kids) == pytest.approx(5.0)  # covered [1,5] + [7,8]


def test_self_time_clips_children_to_parent():
    parent = Span("p", 2.0, 6.0)
    kids = [Span("a", 0.0, 3.0), Span("b", 5.0, 9.0), Span("c", 7.0, 8.0)]
    assert self_time(parent, kids) == pytest.approx(2.0)


def test_tracer_nests_spans_and_reports_self_time(monkeypatch):
    clock = iter([0.0, 1.0, 4.0, 6.0, 10.0, 11.0])
    monkeypatch.setattr("tracing.time.perf_counter", lambda: next(clock))
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    assert [s.name for s in t.spans] == ["outer", "inner", "inner"]
    assert t.self_times() == [pytest.approx(4.0), pytest.approx(3.0), pytest.approx(4.0)]
    assert t.spans[1].parent == t.spans[2].parent == 0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


# ---------------------------------------------------- stage classification

# operator-graph cluster names of the stages of one run_job +
# write_text_output, as the status store reports them
MR_STAGES = {
    "read_inputs": ["Stage 0", "Scan binaryFile ", "WholeStageCodegen (1)", "Exchange"],
    "map": ["Stage 2", "Exchange", "MapInPandas", "WholeStageCodegen (2)", "Exchange"],
    "reduce": [
        "Stage 5",
        "AQEShuffleRead",
        "WholeStageCodegen (3)",
        "FlatMapGroupsInPandas",
        "WholeStageCodegen (4)",
        "Exchange",
    ],
    "sink": ["Stage 9", "AQEShuffleRead", "WriteFiles"],
}


@pytest.mark.parametrize("role", sorted(MR_STAGES))
def test_stage_role_of_each_mr_stage(role):
    assert stage_role(MR_STAGES[role]) == role


def test_fused_stage_is_booked_to_the_costlier_role():
    assert stage_role(["Scan binaryFile ", "MapInPandas", "Exchange"]) == "map"
    assert stage_role(["FlatMapGroupsInPandas", "WriteFiles"]) == "reduce"


def test_unknown_stage_role_is_other():
    assert stage_role(["Stage 3", "Scan parquet ", "HashAggregate"]) == "other"


# ------------------------------------------------------------ result shape


def test_normalized_rows_ignore_engine_types_and_column_order():
    spark_rows = [(1, "a", Decimal("2.50")), (0, "b", Decimal("1.0"))]
    duck_rows = [("b", Decimal("1.00"), 0), ("a", Decimal("2.5"), 1)]
    assert normalized(spark_rows, ["k", "s", "v"]) == normalized(duck_rows, ["s", "v", "k"])


def test_benchmark_json_lists_exactly_the_emitted_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert list(e2e) == list(run.END_TO_END)
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert list(layer) == run.per_layer_names()
    for name, unit in {**e2e, **layer}.items():
        assert run.unit_of(name) == unit, name
