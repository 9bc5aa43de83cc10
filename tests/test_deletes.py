"""Deletes: tombstone table + query-time anti-join (liveDocs analogue,
Lucene40LiveDocsFormat.cs:64) and delete-aware compaction that physically
drops tombstoned docs and refreshes collection stats. The post-compaction
index must be rank-identical to the numpy oracle over the SURVIVING docs."""

import numpy as np
import pytest

from lucenenet_spark.data.pages import pages_spark_df
from lucenenet_spark.index import (
    IndexConfig,
    build_index,
    compact_index,
    delete_by_query,
    delete_by_urls,
    delete_docs,
)
from lucenenet_spark.index.checkindex import verify
from lucenenet_spark.query.ast import MatchAllDocsQuery, TermQuery
from lucenenet_spark.query.engine import Searcher
from lucenenet_spark.scoring.oracle import OracleIndex

CFG = IndexConfig(num_partitions=4, bucket_width=2, flush_docs=64)


@pytest.fixture()
def idx(spark, tmp_path):
    out = str(tmp_path / "delidx")
    pages = pages_spark_df(spark, 150, seed=42)
    build_index(spark, pages, out, CFG, overwrite=True)
    s = Searcher(spark, out)
    dm = s.docmap.select("docid", "url").toPandas()
    return out, pages, dict(zip(dm["url"], dm["docid"]))


def test_delete_hides_docs_immediately(spark, idx):
    out, pages, url2doc = idx
    before = Searcher(spark, out)
    hits = before.search(TermQuery("data"), 5).collect()
    assert hits
    victim = int(hits[0]["docid"])
    delete_docs(spark, out, [victim])
    after = Searcher(spark, out)
    assert victim not in {r["docid"] for r in after.search(TermQuery("data"), 5).collect()}
    assert after.count(TermQuery("data")) == before.count(TermQuery("data")) - 1
    # docmap hides it; maxdoc (collection stats) intentionally unchanged
    assert after.docmap.filter(f"docid = {victim}").count() == 0
    assert after.maxdoc == before.maxdoc
    # explain reports the deletion
    assert after.explain(TermQuery("data"), victim)["value"] == 0.0
    # delete op is idempotent at read time
    delete_docs(spark, out, [victim])
    assert Searcher(spark, out).count(TermQuery("data")) == after.count(TermQuery("data"))


def test_delete_by_urls_and_query(spark, idx):
    out, pages, url2doc = idx
    urls = list(url2doc)[:3]
    r = delete_by_urls(spark, out, urls)
    assert r["n"] == 3
    s = Searcher(spark, out)
    assert s.docmap.filter(s.docmap.url.isin(urls)).count() == 0
    n_live = s.count(MatchAllDocsQuery())
    delete_by_query(spark, out, TermQuery("tiger"))
    s2 = Searcher(spark, out)
    assert s2.count(TermQuery("tiger")) == 0
    assert s2.count(MatchAllDocsQuery()) < n_live


def test_compaction_applies_deletes_and_restores_stats(spark, idx):
    out, pages, url2doc = idx
    s0 = Searcher(spark, out)
    live_urls = sorted(url2doc)
    victims = [url2doc[u] for u in live_urls[:20]]
    delete_docs(spark, out, victims)
    summary = compact_index(spark, out, CFG)
    assert summary["deletes_applied"] == 20
    ran = [m for m in summary["stages"].values() if not m.get("skipped")]
    assert ran and all("wall_sec" in m for m in ran), summary["stages"]
    s = Searcher(spark, out)
    # tombstones gone, physically removed, stats refreshed
    assert s.tombstones is None
    assert s.maxdoc == s0.maxdoc - 20
    assert s.docmap.count() == s.maxdoc
    got = {r["docid"] for r in s.score_df(MatchAllDocsQuery()).collect()}
    assert got.isdisjoint(set(victims))
    res = verify(spark, out)
    assert res["ok"], res
    # rank identity vs the numpy oracle over the SURVIVING corpus with the
    # surviving docids (fresh df/avgdl after the physical delete)
    survivors = {u: d for u, d in url2doc.items() if d not in set(victims)}
    pdf = pages.select("url", "text").toPandas()
    texts = [
        (survivors[u], t) for u, t in zip(pdf["url"], pdf["text"]) if u in survivors
    ]
    oracle = OracleIndex(texts)
    for term in ("data", "search", "tiger"):
        got_rows = [
            (r["docid"], np.float32(r["score"]))
            for r in s.search(TermQuery(term), 10).collect()
        ]
        exp = oracle.search(TermQuery(term), k=10)
        assert got_rows == [(d, np.float32(v)) for d, v in exp], term


def test_append_after_delete_compaction_no_docid_collision(spark, idx):
    out, pages, url2doc = idx
    from pyspark.sql import functions as F

    from lucenenet_spark.index import append_index

    # delete the HIGHEST docids, compact (next_docid must not shrink)
    top = sorted(url2doc.values())[-10:]
    delete_docs(spark, out, top)
    compact_index(spark, out, CFG)
    extra = pages_spark_df(spark, 30, seed=9, include_blake=False).withColumn(
        "url", F.concat(F.lit("g1-"), F.col("url"))
    )
    summary = append_index(spark, extra, out, CFG)
    s = Searcher(spark, out)
    # the real invariant: new docids never collide with any LIVE docid
    # (physically-removed ids may be reused — they have no referent)
    live_max = max(d for d in url2doc.values() if d not in set(top))
    assert summary["docid_base"] > live_max
    assert s.docmap.groupBy("docid").count().filter("count > 1").count() == 0
    # and the appended docs are searchable alongside the survivors
    assert s.docmap.count() == (len(url2doc) - 10) + 30
