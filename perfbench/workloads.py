"""The workloads, their shared set-up and the output checks.

Every workload is a closed loop with one client on ``local[min(nproc, 4)]``.
Every run starts with the set-up that ``setup_s`` times: start Spark,
generate an ``N_BASE``-page corpus with
``data.pages.pages_spark_df_distributed`` (5,000-term Zipf vocabulary, mean
length 60) and build the base index. ``search`` and ``build`` also open a
``Searcher`` after the build. The build (and open) runs ``N_SETUP`` times and
its median counts, so one slow repetition does not move ``setup_s``.
``search`` and ``build`` then warm up, also within set-up: they run one query
of each shape. Then the timed loop runs until it has measured at least
``--seconds`` seconds of operations; ``search`` runs on to the end of
``queries.ROUNDS`` rounds of shapes, so every run holds each kind of query
equally often:

- ``search``: a Zipf-skewed stream of term / OR / AND / phrase queries
  (``parse`` -> ``search(k=10, wand=True)`` -> ``collect``); one operation
  is one query.
- ``update``: one operation is one cycle of ``append_index`` (``N_APPEND``
  fresh pages), ``delete_docs`` (1% of the base docids still live),
  Searcher reopen plus a term query, then an OR, an AND and a phrase query
  on the composite index (the same queries every cycle, see
  ``_cycle_specs``), and ``compact_index``.
- ``build``: one operation is one full ``build_index(overwrite=True)``
  rebuild; afterwards one query of each shape runs through ``search`` and
  through one ``search_batch``.

Checks run outside every timed region: ``checkindex.verify`` after the
set-up's last build (each set-up build overwrites the one before with the
same index), after each ``build`` rebuild and after each compaction, and
every query answer against the reference oracle
(global statistics; docids mapped through the docmap's url; deleted
documents still count in the statistics until compaction).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

from queries import ROUNDS, SHAPES, QuerySpec, query_pool, query_stream
from spans import Tracer

K = 10
N_BASE = 4_000
N_APPEND = 400
DELETE_FRAC = 0.01
N_SETUP = 3
MIN_OPS = {"build": 2, "search": 8, "update": 1}
STREAM_LEN = 512
WORKLOADS = ("build", "search", "update")


class Run:
    """One benchmark run: state shared by set-up, workload and checks."""

    def __init__(self, spark, root: Path, work: Path, seed: int, seconds: float,
                 tracer: Tracer, cpus: int, cpu_clock):
        from lucenenet_spark.index.config import IndexConfig

        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cpus = cpus
        #: CPU seconds used so far by the run's process tree
        self.cpu_clock = cpu_clock
        self.idx = str(work / "index")
        self.cfg = IndexConfig(num_partitions=cpus, merge_partitions=cpus)
        self.rng = np.random.default_rng([seed, 2])
        #: latency of each timed operation
        self.ops: list[float] = []
        #: CPU seconds of the process tree during each timed operation
        self.ops_cpu: list[float] = []
        #: (start, end) perf_counter of each timed operation
        self.ops_window: list[tuple[float, float]] = []
        #: named samples behind the detail metrics
        self.samples: dict[str, list[float]] = {}
        self.build_summaries: list[dict] = []
        self.text_by_url: dict[str, str] = {}
        #: docid -> text of the base index, read from its docmap
        self.base_docs: dict[int, str] = {}
        #: urls appended by each update cycle
        self.delta_urls: list[list[str]] = []
        #: index state -> the base docids it holds (deleted ones included),
        #: how many update cycles' deltas it holds, and the deleted docids
        self.states: dict[str, dict] = {}
        #: (state, spec, rows) for every query answer to check
        self.answers: list[tuple[str, QuerySpec, list[tuple]]] = []
        #: (label, ok) for every checkindex run
        self.verifies: list[tuple[str, bool]] = []

    # ---------------- calls into the program, wrapped in spans ------------ #
    def _build(self, pages) -> None:
        from lucenenet_spark.index.builder import build_index

        with self.tracer.span("build", "index.builder"):
            summary = build_index(self.spark, pages, self.idx, self.cfg, overwrite=True)
        self.build_summaries.append(summary)

    def _open(self):
        from lucenenet_spark.query.engine import Searcher

        with self.tracer.span("open", "query.engine"):
            return Searcher(self.spark, self.idx)

    def _query(self, searcher, spec: QuerySpec) -> list[tuple]:
        tr = self.tracer
        with tr.span("parse", "query.parser", spec.qid):
            q = searcher.parse(spec.text)
        with tr.span("plan", "query.engine", spec.qid, shape=spec.shape):
            df = searcher.search(q, k=K, wand=True)
        with tr.span("exec", "query.engine", spec.qid, shape=spec.shape) as rec:
            rows = df.collect()
        tr.annotate(rec, df, len(rows))
        return [(int(r["docid"]), float(r["score"]), int(r["rank"])) for r in rows]

    def _batch(self, searcher, specs: list[QuerySpec]) -> list[list[tuple]]:
        qids = [f"b{i:03d}" for i in range(len(specs))]
        with self.tracer.span("batch", "query.engine") as rec:
            df = searcher.search_batch(
                {qid: searcher.parse(s.text) for qid, s in zip(qids, specs)}, k=K
            )
            rows = df.collect()
        self.tracer.annotate(rec, df, len(rows))
        out: dict[str, list[tuple]] = {qid: [] for qid in qids}
        for r in rows:
            out[r["query_id"]].append((int(r["docid"]), float(r["score"]), int(r["rank"])))
        return [sorted(out[qid], key=lambda t: t[2]) for qid in qids]

    # ---------------- untimed helpers ---------------------------------- #
    def _verify(self, label: str) -> None:
        from lucenenet_spark.index.checkindex import verify

        res = verify(self.spark, self.idx)
        ok = all(v for v in res.values() if isinstance(v, bool))
        self.verifies.append((label, ok))

    def _docids(self) -> dict[str, int]:
        """url -> docid of the live documents of the index, via its docmap."""
        from lucenenet_spark.query.engine import Searcher

        dm = Searcher(self.spark, self.idx).docmap.select("docid", "url").collect()
        return {r["url"]: int(r["docid"]) for r in dm}

    @contextmanager
    def _op(self):
        """One timed operation; its latency lands in ``ops`` and ``op["dt"]``,
        its CPU time in ``ops_cpu`` and its (start, end) in ``ops_window``."""
        op: dict[str, float] = {}
        with self.tracer.span("op", "bench"):
            c0 = self.cpu_clock()
            t0 = time.perf_counter()
            yield op
            op["dt"] = time.perf_counter() - t0
            c1 = self.cpu_clock()
        self.ops.append(op["dt"])
        self.ops_cpu.append(c1 - c0)
        self.ops_window.append((t0, t0 + op["dt"]))

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # ---------------- set-up ------------------------------------------- #
    def setup(self, t_start: float, workload: str) -> float:
        """Corpus, base build and the workload's warm-up. Returns the set-up
        time: from ``t_start`` (process start) to the generated corpus,
        plus the median of the ``N_SETUP`` builds (each with its Searcher
        open), plus the warm-up. The corpus collection, query generation,
        docmap read and checkindex are untimed."""
        from lucenenet_spark.analysis import ENGLISH_STOP_WORDS
        from lucenenet_spark.data.pages import pages_spark_df_distributed

        with self.tracer.span("setup", "bench"):
            self.pages = pages_spark_df_distributed(
                self.spark, N_BASE, seed=self.seed, num_partitions=self.cpus
            ).persist()
            self.pages.count()  # every build reads the same generated corpus
            t_corpus = time.perf_counter() - t_start
            builds = []
            for _ in range(N_SETUP):
                t0 = time.perf_counter()
                self._build(self.pages)
                if workload != "update":
                    self.searcher = self._open()
                builds.append(time.perf_counter() - t0)
            # each build overwrote the one before with the same index
            self._verify("base build")
            self.text_by_url = {
                r["url"]: r["text"] for r in self.pages.select("url", "text").collect()
            }
            self.pool = query_pool(
                self.text_by_url.values(), ENGLISH_STOP_WORDS, self.seed, k=K
            )
            self.stream = iter(query_stream(self.pool, self.seed, STREAM_LEN))
            self.base_docs = {d: self.text_by_url[u] for u, d in self._docids().items()}
            self.states["base"] = {"base": sorted(self.base_docs), "cycles": 0, "deleted": []}
            t_warm = time.perf_counter()
            if workload != "update":
                for spec in self._specs():
                    self.answers.append(("base", spec, self._query(self.searcher, spec)))
            warm = time.perf_counter() - t_warm
        return t_corpus + statistics.median(builds) + warm

    def _specs(self) -> list[QuerySpec]:
        """The next round of the stream: one query of each shape."""
        return [next(self.stream) for _ in SHAPES]

    # ---------------- workloads ---------------------------------------- #
    def _more(self, workload: str) -> bool:
        return len(self.ops) < MIN_OPS[workload] or sum(self.ops) < self.seconds

    def build(self) -> None:
        while self._more("build"):
            with self._op() as op:
                self._build(self.pages)
            self.sample("build_docs_per_s", N_BASE / op["dt"])
            self._verify("rebuild")
        searcher = self._open()
        specs = self._specs()
        for spec in specs:
            self.answers.append(("base", spec, self._query(searcher, spec)))
        t0 = time.perf_counter()
        results = self._batch(searcher, specs)
        self.sample("batch_queries_per_s", len(specs) / (time.perf_counter() - t0))
        for spec, rows in zip(specs, results):
            self.answers.append(("base", spec, rows))

    def search(self) -> None:
        while self._more("search") or len(self.ops) % (len(SHAPES) * ROUNDS):
            spec = next(self.stream)
            with self._op() as op:
                rows = self._query(self.searcher, spec)
            self.sample("query_s", op["dt"])
            self.sample(f"{spec.shape}_s", op["dt"])
            self.answers.append(("base", spec, rows))

    def update(self) -> None:
        while self._more("update"):
            self._cycle()

    def _cycle(self) -> None:
        """One update cycle, timed as one operation."""
        from pyspark.sql import functions as F

        from lucenenet_spark.data.pages import pages_spark_df_distributed
        from lucenenet_spark.index.builder import append_index, compact_index
        from lucenenet_spark.index.deletes import delete_docs

        c = len(self.delta_urls)
        delta = pages_spark_df_distributed(
            self.spark, N_APPEND, seed=self.seed + 7919 * (c + 1), num_partitions=self.cpus,
        ).withColumn("url", F.concat(F.lit(f"u{c}-"), F.col("url"))).persist()
        delta_text = {r["url"]: r["text"] for r in delta.select("url", "text").collect()}
        self.text_by_url.update(delta_text)
        self.delta_urls.append(sorted(delta_text))
        prev = self.states[f"cycle{c - 1}" if c else "base"]
        alive = sorted(set(prev["base"]) - set(prev["deleted"]))
        n_del = max(1, round(len(alive) * DELETE_FRAC))
        victims = sorted(int(d) for d in self.rng.choice(alive, n_del, replace=False))
        state = f"cycle{c}"
        self.states[state] = {"base": alive, "cycles": c + 1, "deleted": victims}
        # the first spec, a term query, times the reopen
        specs = self._cycle_specs()
        t = [time.perf_counter()]
        with self._op():
            with self.tracer.span("build", "index.builder", kind="append"):
                summary = append_index(self.spark, delta, self.idx)
            t.append(time.perf_counter())
            with self.tracer.span("delete", "index.deletes"):
                delete_docs(self.spark, self.idx, victims)
            t.append(time.perf_counter())
            searcher = self._open()
            self.answers.append((state, specs[0], self._query(searcher, specs[0])))
            t.append(time.perf_counter())
            for spec in specs[1:]:
                tq = time.perf_counter()
                self.answers.append((state, spec, self._query(searcher, spec)))
                self.sample("composite_query_s", time.perf_counter() - tq)
            t.append(time.perf_counter())
            with self.tracer.span("compact", "index.builder"):
                compact_index(self.spark, self.idx)
            t.append(time.perf_counter())
        self.build_summaries.append(summary)
        self.sample("append_docs_per_s", N_APPEND / (t[1] - t[0]))
        self.sample("delete_s", t[2] - t[1])
        self.sample("reopen_s", t[3] - t[2])
        self.sample("compact_s", t[5] - t[4])
        self._verify(f"compaction {c}")
        delta.unpersist()

    def _cycle_specs(self) -> list[QuerySpec]:
        """The most popular pool query of each shape (a head term, a 2-term
        OR), so every cycle does the same query work."""
        first: dict[str, QuerySpec] = {}
        for q in self.pool:
            first.setdefault(q.shape, q)
        return [first[s] for s in SHAPES]

    # ---------------- checks and sizes ---------------------------------- #
    def check(self) -> tuple[int, int, list[str]]:
        """Compare every answer with the oracle. Returns (attempted, failed,
        messages)."""
        delta_docid = self._docids() if self.delta_urls else {}
        names = [s for s in self.states if any(a[0] == s for a in self.answers)]
        cases = []
        for s in names:
            st = self.states[s]
            docs = {d: self.base_docs[d] for d in st["base"]}
            for urls in self.delta_urls[: st["cycles"]]:
                docs.update({delta_docid[u]: self.text_by_url[u] for u in urls})
            specs = {a[1].qid: a[1] for a in self.answers if a[0] == s}
            cases.append({
                "docs": sorted(docs.items()),
                "deleted": st["deleted"],
                "qids": list(specs),
                "specs": [[q.shape, list(q.terms)] for q in specs.values()],
            })
        expected = self._oracle(cases)
        want = {
            (s, qid): rows
            for s, case, res in zip(names, cases, expected)
            for qid, rows in zip(case["qids"], res)
        }
        failed, msgs = 0, []
        for s, spec, rows in self.answers:
            exp = want[(s, spec.qid)]
            ok = (
                [d for d, _, _ in rows] == [d for d, _ in exp]
                and all(np.float32(a[1]) == np.float32(b[1]) for a, b in zip(rows, exp))
                and [r for _, _, r in rows] == list(range(1, len(rows) + 1))
            )
            if not ok:
                failed += 1
                msgs.append(f"{s} {spec.qid} {spec.text!r}: got {rows[:3]} want {exp[:3]}")
        for label, ok in self.verifies:
            if not ok:
                failed += 1
                msgs.append(f"checkindex failed after {label}")
        return len(self.answers) + len(self.verifies), failed, msgs

    def _oracle(self, cases: list[dict]) -> list:
        job_in = self.work / "oracle_in.json"
        job_out = self.work / "oracle_out.json"
        job_in.write_text(json.dumps({
            "k": K,
            "cases": [{k: c[k] for k in ("docs", "deleted", "specs")} for c in cases],
        }))
        env = dict(os.environ, PYTHONPATH=str(self.root))
        subprocess.run(
            [sys.executable, str(Path(__file__).with_name("oracle_job.py")),
             str(job_in), str(job_out)],
            check=True, env=env, cwd=str(self.root), timeout=150,
        )
        return json.loads(job_out.read_text())

    def text_bytes(self) -> int:
        """Bytes of input text the final index holds."""
        final = self.states[f"cycle{len(self.delta_urls) - 1}" if self.delta_urls else "base"]
        live = set(final["base"]) - set(final["deleted"])
        n = sum(len(self.base_docs[d].encode()) for d in live)
        return n + sum(len(self.text_by_url[u].encode()) for us in self.delta_urls for u in us)

    def storage_bytes(self) -> dict[str, int]:
        """Bytes of committed table files per stage directory of the index."""
        out: dict[str, int] = {}
        for stage in sorted(os.listdir(self.idx)):
            total = 0
            for dirpath, _, files in os.walk(os.path.join(self.idx, stage)):
                total += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files if not f.startswith((".", "_"))
                )
            out[stage] = total
        return out
