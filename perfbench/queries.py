"""Query generator: a seeded pool of distinct query strings and a
Zipf-skewed stream drawn from it.

The generator sees only the generated corpus text, never the index. The
synthetic corpus (``data.pages``) is space-separated lower-case vocabulary
words, so ``str.split`` plus the stop list reproduces the index's analysis
exactly: a term's document frequency here is its df in the index, and two
tokens adjacent here sit at adjacent positions there.

Shapes, in equal shares of the stream:

- ``term``: one term, alternating head and tail terms;
- ``or``: 2 or 4 SHOULD terms in turn, mixing head, torso and tail (the
  WAND shape);
- ``and``: 2 MUST terms from head or torso;
- ``phrase``: a 2-term phrase of head terms that occurs in the corpus.

The kinds within a shape (head or tail term; 2 or 4 OR terms) cost
different amounts, so the stream takes them in a fixed rotation too: every
``ROUNDS`` rounds of shapes hold each kind equally often, whatever the seed.

Every emitted term occurs in at least ``k`` documents, and so does every
phrase.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

SHAPES = ("term", "or", "and", "phrase")
HEAD = 12  # terms ranked by df; the head band
TORSO_END = 200  # torso band: ranks HEAD .. TORSO_END
PER_SHAPE = 16  # distinct queries of each shape in the pool
OR_TERMS = (2, 4)  # terms of the i-th OR query, i modulo 2
#: the i-th pool query of a shape is of kind i % KINDS[shape]
KINDS = {"term": 2, "or": len(OR_TERMS), "and": 1, "phrase": 1}
ROUNDS = 2  # rounds of shapes in which every kind of every shape comes round


@dataclass(frozen=True)
class QuerySpec:
    qid: str
    shape: str
    terms: tuple[str, ...]

    @property
    def text(self) -> str:
        """Query-parser syntax for this spec."""
        if self.shape == "term":
            return self.terms[0]
        if self.shape == "or":
            return " OR ".join(self.terms)
        if self.shape == "and":
            return " ".join("+" + t for t in self.terms)
        return '"' + " ".join(self.terms) + '"'


def corpus_stats(texts, stop_words) -> tuple[Counter, Counter]:
    """Document frequency of every non-stop term, and of every pair of
    non-stop terms that stand next to each other in some document."""
    df: Counter = Counter()
    pair_df: Counter = Counter()
    for text in texts:
        toks = text.split()
        df.update({t for t in toks if t not in stop_words})
        pair_df.update(
            {
                (a, b)
                for a, b in zip(toks, toks[1:])
                if a not in stop_words and b not in stop_words
            }
        )
    return df, pair_df


def bands(df: Counter, k: int) -> tuple[list[str], list[str], list[str]]:
    """(head, torso, tail) over the terms with df >= k, ranked by df."""
    ranked = sorted((t for t, n in df.items() if n >= k), key=lambda t: (-df[t], t))
    if len(ranked) < TORSO_END + 4:
        raise ValueError(f"corpus too small: {len(ranked)} terms with df >= {k}")
    tail_start = len(ranked) - max(4, len(ranked) // 4)
    return ranked[:HEAD], ranked[HEAD:TORSO_END], ranked[tail_start:]


def query_pool(texts, stop_words, seed: int, k: int) -> list[QuerySpec]:
    """``PER_SHAPE`` distinct queries of each shape whose terms (and
    phrases) occur in at least ``k`` documents, deterministic in (texts,
    seed). Within a shape, earlier specs are drawn more often by
    :func:`query_stream`."""
    rng = np.random.default_rng(seed)
    df, pair_df = corpus_stats(texts, stop_words)
    head, torso, tail = bands(df, k)
    head_set = set(head)
    pairs = sorted(
        (p for p, n in pair_df.items() if n >= k and p[0] in head_set and p[1] in head_set),
        key=lambda p: (-pair_df[p], p),
    )
    if len(pairs) < PER_SHAPE:
        raise ValueError(f"only {len(pairs)} head phrases with >= {k} hits")

    def pick(band: list[str], exclude=()) -> str:
        while True:
            t = band[int(rng.integers(len(band)))]
            if t not in exclude:
                return t

    pool: dict[str, list[tuple[str, ...]]] = {s: [] for s in SHAPES}

    def add(shape: str, terms: tuple[str, ...]) -> None:
        if terms not in pool[shape]:
            pool[shape].append(terms)

    while len(pool["term"]) < PER_SHAPE:
        add("term", (pick(head if len(pool["term"]) % 2 == 0 else tail),))
    mix = (head, torso, tail, torso)
    while len(pool["or"]) < PER_SHAPE:
        terms: list[str] = []
        for band in mix[: OR_TERMS[len(pool["or"]) % len(OR_TERMS)]]:
            terms.append(pick(band, terms))
        add("or", tuple(terms))
    head_torso = head + torso
    while len(pool["and"]) < PER_SHAPE:
        a = pick(head_torso)
        add("and", (a, pick(head_torso, (a,))))
    for i in rng.permutation(len(pairs))[:PER_SHAPE]:
        add("phrase", pairs[int(i)])
    return [
        QuerySpec(f"{shape}-{i:02d}", shape, terms)
        for shape in SHAPES
        for i, terms in enumerate(pool[shape])
    ]


def query_stream(pool: list[QuerySpec], seed: int, n: int) -> list[QuerySpec]:
    """``n`` queries cycling through the shapes in a fixed order. Round r
    takes, for each shape, kind r % KINDS[shape]; within a kind the i-th
    spec of the pool is drawn with weight 1/(i+1), so popular queries
    repeat."""
    rng = np.random.default_rng([seed, 1])
    kinds = {
        s: [[q for q in pool if q.shape == s][k:: KINDS[s]] for k in range(KINDS[s])]
        for s in SHAPES
    }
    out = []
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        specs = kinds[shape][(i // len(SHAPES)) % KINDS[shape]]
        w = 1.0 / np.arange(1, len(specs) + 1)
        out.append(specs[int(rng.choice(len(specs), p=w / w.sum()))])
    return out
