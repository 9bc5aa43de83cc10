"""Expected top-k answers from the reference oracle, in a process of its own.

Run as ``python3 oracle_job.py IN.json OUT.json`` with the checkout root on
``PYTHONPATH``. ``IN.json`` holds a list of cases::

    {"k": 10, "cases": [{"docs": [[docid, text], ...],
                         "deleted": [docid, ...],
                         "specs": [[shape, [term, ...]], ...]}, ...]}

``OUT.json`` gets, per case and spec, the expected ``[[docid, score], ...]``
in rank order. ``docs`` includes deleted documents: under liveDocs semantics
they still count in the collection statistics but never appear in a result.
A separate process keeps the oracle's memory out of the benchmark's
peak-RSS figure.
"""

from __future__ import annotations

import json
import sys


def to_query(shape: str, terms: list[str]):
    from lucenenet_spark.query.ast import (
        BooleanClause, BooleanQuery, Occur, PhraseQuery, TermQuery,
    )

    if shape == "term":
        return TermQuery(terms[0])
    if shape == "phrase":
        return PhraseQuery(tuple(terms))
    occur = Occur.SHOULD if shape == "or" else Occur.MUST
    return BooleanQuery(tuple(BooleanClause(TermQuery(t), occur) for t in terms))


def expected(case: dict, k: int) -> list[list[list]]:
    from lucenenet_spark.scoring.oracle import OracleIndex

    oracle = OracleIndex([(int(d), t) for d, t in case["docs"]])
    deleted = set(case["deleted"])
    out = []
    for shape, terms in case["specs"]:
        hits = oracle.search(to_query(shape, terms), k=k + len(deleted))
        out.append([[d, float(s)] for d, s in hits if d not in deleted][:k])
    return out


def main(argv: list[str]) -> int:
    with open(argv[1]) as f:
        job = json.load(f)
    result = [expected(case, job["k"]) for case in job["cases"]]
    with open(argv[2], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
