"""Tests of the benchmark's own helpers, on a tiny corpus and without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import pytest

import run
from queries import OR_TERMS, ROUNDS, SHAPES, corpus_stats, query_pool, query_stream
from spans import QUERY_METRICS, STAGES, STORAGE_TABLES, layer_metrics, per_layer_units, self_times
from stats import per_probe, percentile, summarize, supported_percentile

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
K = 10


@pytest.fixture(scope="module")
def corpus():
    from lucenenet_spark.analysis import ENGLISH_STOP_WORDS
    from lucenenet_spark.data.pages import synth_pages_pandas

    texts = list(synth_pages_pandas(1500, seed=3, include_blake=False).text)
    return texts, ENGLISH_STOP_WORDS


def test_query_pool_is_deterministic_per_seed(corpus):
    texts, stop = corpus
    a = query_pool(texts, stop, seed=5, k=K)
    assert a == query_pool(list(reversed(texts)), stop, seed=5, k=K)
    assert a != query_pool(texts, stop, seed=6, k=K)
    assert query_stream(a, 5, 64) == query_stream(a, 5, 64)
    assert len({q.qid for q in a}) == len(a)
    assert len(set((q.shape, q.terms) for q in a)) == len(a)  # distinct queries


def test_query_terms_in_vocabulary_with_k_hits(corpus):
    from lucenenet_spark.query.ast import PhraseQuery, TermQuery
    from lucenenet_spark.scoring.oracle import OracleIndex

    texts, stop = corpus
    oracle = OracleIndex(list(enumerate(texts)))
    df, _ = corpus_stats(texts, stop)
    pool = query_pool(texts, stop, seed=5, k=K)
    assert {q.shape for q in pool} == set(SHAPES)
    for q in pool:
        for t in q.terms:
            assert t in oracle.postings and t not in stop
            # the generator's df is the analyzed index's df
            assert df[t] == oracle.count(TermQuery(t)) >= K
        if q.shape == "phrase":
            assert oracle.count(PhraseQuery(q.terms)) >= K
        assert 1 <= len(q.terms) <= 4


def test_query_stream_cycles_shapes_and_repeats_popular_queries(corpus):
    texts, stop = corpus
    pool = query_pool(texts, stop, seed=5, k=K)
    stream = query_stream(pool, 5, 256)
    assert [q.shape for q in stream[:8]] == list(SHAPES) * 2
    assert len(set(stream)) < len(stream)  # Zipf popularity repeats queries


def test_query_stream_rotates_kinds_within_shapes(corpus):
    texts, stop = corpus
    pool = query_pool(texts, stop, seed=5, k=K)
    terms = [q for q in pool if q.shape == "term"]
    head = set(terms[0::2])
    stream = query_stream(pool, 7, len(SHAPES) * ROUNDS * 3)
    rounds = [stream[i: i + len(SHAPES)] for i in range(0, len(stream), len(SHAPES))]
    for r, (term, or_, _, _) in enumerate(rounds):
        assert (term in head) == (r % 2 == 0)
        assert len(or_.terms) == OR_TERMS[r % len(OR_TERMS)]


def test_supported_percentile_needs_ten_samples_beyond():
    assert supported_percentile(19) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(39) == 50.0
    assert supported_percentile(40) == 75.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(199) == 90.0
    assert supported_percentile(200) == 95.0
    assert supported_percentile(1000) == 99.0
    assert supported_percentile(10000) == 99.9


def test_summarize_reports_median_and_supported_percentile():
    values = [float(i) for i in range(1, 41)]
    s = summarize(values)
    assert s["n"] == 40 and s["p50"] == statistics.median(values)
    assert s["pct"] == 75.0
    assert s["value_at_pct"] == percentile(values, 75.0)
    assert percentile(values, 75.0) == statistics.quantiles(values, n=4, method="inclusive")[2]
    small = summarize([3.0, 1.0, 2.0])
    assert small["p50"] == 2.0 and small["pct"] is None


def test_per_probe_divides_by_the_probes_around_each_operation():
    probes = [(0.5, 0.02), (1.0, 0.02), (1.5, 0.04), (2.0, 0.04), (2.5, 0.04), (9.0, 0.10)]
    # probes ending within a second of [1.6, 2.0]: 1.0 (0.02) .. 2.5 (0.04)
    assert per_probe([2.0], [(1.6, 2.0)], probes) == pytest.approx([2.0 / 0.04])
    # none within a second of [5.0, 5.2]: the probe nearest its middle
    assert per_probe([1.0], [(5.0, 5.2)], probes) == pytest.approx([1.0 / 0.04])
    assert per_probe([1.0], [(7.9, 8.2)], probes) == pytest.approx([1.0 / 0.10])


def test_probe_task_is_fixed_work():
    from session import RssSampler, probe_task

    a, b = RssSampler(), RssSampler()
    assert a._tokens == b._tokens
    assert probe_task(a._tokens) == probe_task(b._tokens) > 10


def _span(sid, name, start, end, parent=None, layer="bench", **kw):
    return {"id": sid, "name": name, "layer": layer, "start": start, "end": end,
            "parent": parent, "qid": None, **kw}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "plan", 1.0, 3.0, 0),
        _span(2, "exec", 2.0, 5.0, 0),  # overlaps its sibling
        _span(3, "exec", 8.0, 12.0, 0),  # clipped to the parent's end
        _span(4, "parse", 8.5, 9.0, 3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_traced_output_has_every_per_layer_name():
    spans, sid = [], 0

    def add(name, layer, **kw):
        nonlocal sid
        spans.append(_span(sid, name, float(sid), sid + 0.5, None, layer,
                           jobs=2, self_s=0.5, **kw))
        sid += 1

    for name, layer in [("build", "index.builder"), ("delete", "index.deletes"),
                        ("compact", "index.builder"), ("parse", "query.parser"),
                        ("open", "query.engine"), ("op", "bench")]:
        add(name, layer)
    for shape in SHAPES:
        add("plan", "query.engine", shape=shape)
        add("exec", "query.engine", shape=shape, scan_rows=100, python_s=0.1,
            shuffle_bytes=64, hits=10)
    summaries = [{"stages": {s: {"wall_sec": 1.0} for s in STAGES}}]
    storage = {t: 1000 for t in STORAGE_TABLES}
    metrics = layer_metrics(spans, summaries, storage, 0.01, 1.5, 3.0, 90.0)
    units = per_layer_units()
    assert set(units) <= set(metrics)
    assert all(metrics[n] > 0 for n in units)
    assert metrics["engine.scan_rows_per_hit.or"] == 10.0
    assert {f"engine.{m}.{s}" for m in QUERY_METRICS for s in SHAPES} <= set(units)


def test_benchmark_json_lists_the_reported_metrics():
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == per_layer_units()
    e2e = run.end_to_end([1.0, 2.0], 3.0, 2**30, 50, 100)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()
    }
    from workloads import WORKLOADS

    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)
