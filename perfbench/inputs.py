"""Seeded inputs of the benchmark: the corpus, the query log and the ingest
op sequence.  Each is a pure function of its seed; the program under test
only ever sees the rows these functions produce.

The corpus comes from the program's own generator
(``sources.corpus.generate_corpus``).  The query log and the ingest ops are
derived driver-side from the same rows (``gen_rows_pdf`` + ``tokenize_py``),
so every query term is drawn from text the generator really produced.
"""

from __future__ import annotations

import random
import re
from collections import Counter

import numpy as np
import pandas as pd

from goobi_viewer_indexer_spark.functions.tokenize import tokenize_py
from goobi_viewer_indexer_spark.sources.corpus import LANGS, gen_rows_pdf, generate_corpus

# Query shapes and their shares of the log.  ``or`` runs at two depths so
# the k=100 heap and the k=10 early-termination path are both timed.
SHAPE_SHARES = {"or10": 0.25, "or100": 0.10, "and": 0.20, "phrase": 0.15, "boolean": 0.15, "fielded": 0.15}
# Term classes of every class-drawn term (or/and terms, the boolean's
# positive term, the fielded content term).  Head terms are stopword-scale
# (long lists, the WAND pruning case); rare identifiers have df = 1; missing
# terms hit no posting list at all.
CLASS_SHARES = {"head": 0.25, "mid": 0.30, "tail": 0.25, "rare": 0.10, "missing": 0.10}
N_HEAD = 10
# Ingest op kinds after the fixed update/delete/add opening, and batch sizes.
OP_SHARES = {"add": 0.4, "delete": 0.3, "update": 0.3}
ADD_DOCS, DELETE_DOCS, UPDATE_DOCS = 40, 20, 10
# Row ids of documents added during ingest start here, far above any corpus
# row id, so their per-file identifiers never collide with existing ones.
NEW_ROW_BASE = 10_000_000

_ID_RE = re.compile(r"^id\d+x\d+$")
_PATH_ID = r"file_(\d+)\."


def corpus_frame(spark, n_docs: int, seed: int):
    """The corpus as the program's generator yields it, with a dense
    ``doc_id`` equal to the generator's row id (the row id is embedded in
    ``path``), so driver-side rows from :func:`corpus_rows` line up."""
    from pyspark.sql import functions as F

    return generate_corpus(spark, n_docs, seed).withColumn(
        "doc_id", F.regexp_extract("path", _PATH_ID, 1).cast("long")
    )


def corpus_rows(n_docs: int, seed: int) -> pd.DataFrame:
    """Driver-side copy of the same rows (same generator, same row ids)."""
    pdf = gen_rows_pdf(np.arange(n_docs), seed)
    pdf.insert(0, "doc_id", np.arange(n_docs, dtype=np.int64))
    return pdf


def new_rows(row_lo: int, count: int, seed: int) -> pd.DataFrame:
    """Fresh documents for add/update ops (rows the corpus does not hold)."""
    return gen_rows_pdf(np.arange(row_lo, row_lo + count), seed)


def identifier(content: str) -> str | None:
    """The per-file identifier token (df = 1) that leads a generated doc."""
    toks = tokenize_py(content[:40])
    return toks[0] if toks and _ID_RE.match(toks[0]) else None


class Vocabulary:
    """Terms of a corpus sorted into the query-log term classes."""

    def __init__(self, rows: pd.DataFrame):
        self.tokens = [tokenize_py(c) for c in rows["content"]]
        df = Counter(t for toks in self.tokens for t in set(toks))
        ranked = sorted((t for t in df if not _ID_RE.match(t)), key=lambda t: (-df[t], t))
        self.df = df
        self.classes = {
            "head": ranked[:N_HEAD],
            "mid": [t for t in ranked[N_HEAD:] if not t.startswith("word")],
            "tail": [t for t in ranked if t.startswith("word")],
            "rare": sorted(t for t in df if _ID_RE.match(t) and df[t] == 1),
        }
        self.phrase_docs = [i for i, toks in enumerate(self.tokens) if len(toks) >= 2]


def _quota(shares: dict[str, float], n: int, rng: random.Random) -> list[str]:
    """``n`` labels in exactly the given shares (largest remainders get the
    leftover slots), in a seeded order."""
    counts = {k: int(v * n) for k, v in shares.items()}
    for k in sorted(shares, key=lambda k: -(shares[k] * n - counts[k]))[: n - sum(counts.values())]:
        counts[k] += 1
    labels = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(labels)
    return labels


def make_query_log(rows: pd.DataFrame, n_queries: int, seed: int) -> list[dict]:
    """A seeded query log over ``rows``.  Each entry holds ``qid``,
    ``shape``, ``k``, the query (``terms`` list for or/and/phrase, a query
    string ``q`` for boolean/fielded) and the ``classes`` of its
    class-drawn terms.  Shapes and term classes come in exactly their
    specified shares, or/and queries cycle through their term counts (1-5
    and 2-3) and fielded ones through the languages, and this structure is
    the same for every seed: logs of different seeds differ only in the
    terms they draw, so the seed never changes the log's mix."""
    # The log's structure (shape order, term counts and term classes) comes
    # from a fixed generator; the seed draws the terms themselves.
    mix, rng = random.Random(0), random.Random(seed)
    vocab = Vocabulary(rows)
    shapes = _quota(SHAPE_SHARES, n_queries, mix)
    nth, seen = [], Counter()   # each query's index among the queries of its shape
    for shape in shapes:
        nth.append(seen[shape])
        seen[shape] += 1
    n_terms = [0 if shape == "phrase" else 2 + i % 2 if shape == "and" else 1 + i % 5 if shape.startswith("or") else 1
               for shape, i in zip(shapes, nth)]
    # every shape's terms come in the class shares, so each shape also meets
    # rare and missing terms
    labels = {shape: iter(_quota(CLASS_SHARES, sum(n for sh, n in zip(shapes, n_terms) if sh == shape), mix))
              for shape in SHAPE_SHARES}
    classes = [[next(labels[shape]) for _ in range(n)] for shape, n in zip(shapes, n_terms)]
    # stratified draws: the j-th of a class's m draws comes from the j-th of
    # m df-ranked bands of that class, so every seed's log spans each
    # class's document frequencies the same way
    need, taken = Counter(c for cs in classes for c in cs), Counter()

    def draw(cls: str) -> str:
        if cls == "missing":
            return f"zq{seed}x{rng.randrange(10**6)}"
        pool, m, j = vocab.classes[cls], need[cls], taken[cls]
        taken[cls] += 1
        return pool[rng.randrange(j * len(pool) // m, max((j + 1) * len(pool) // m, j * len(pool) // m + 1))]

    log = []
    for i, (shape, cs) in enumerate(zip(shapes, classes)):
        q: dict = {"qid": f"q{i}", "shape": shape, "k": 100 if shape == "or100" else 10, "classes": cs}
        terms = [draw(c) for c in q["classes"]]
        if shape == "phrase":
            toks = vocab.tokens[rng.choice(vocab.phrase_docs)]
            p = rng.randrange(len(toks) - 1)
            q["terms"] = toks[p: p + 2]
        elif shape == "boolean":
            prefix = rng.choice(vocab.classes["mid"])[:3]
            q["q"] = f"{terms[0]} {prefix}* -{rng.choice(vocab.classes['mid'])}"
        elif shape == "fielded":
            q["q"] = f"lang:{LANGS[nth[i] % len(LANGS)]} AND content:{terms[0]}"
        else:
            q["terms"] = terms
        log.append(q)
    return log


def log_terms(log: list[dict]) -> set[str]:
    """Every literal term a query log looks up (wildcards and field names
    left out)."""
    terms = set()
    for q in log:
        terms.update(q.get("terms", []))
        if q["shape"] == "boolean":
            terms.update(t.lstrip("-") for t in q["q"].split() if not t.endswith("*"))
        elif q["shape"] == "fielded":
            terms.add(q["q"].rsplit("content:", 1)[1])
    return terms


def holders(vocab: Vocabulary, terms: set[str]) -> set[int]:
    """One document (the first) holding each of ``terms`` that the corpus
    has: kept live by :func:`make_ingest_ops`, so no deletion leaves a
    query-log term without a live document."""
    first = {}
    for doc_id, toks in enumerate(vocab.tokens):
        for t in terms.intersection(toks):
            first.setdefault(t, doc_id)
    return set(first.values())


def make_ingest_ops(n_docs: int, n_ops: int, seed: int, keep: set[int] = frozenset()) -> list[dict]:
    """A seeded op sequence over a corpus of ``n_docs`` live docs.  The first
    three ops are update, delete, add: a short run's single commit is then
    an update, which both deletes (leaving tombstones for the final
    purge-compact) and adds.  ``delete``/``update`` pick ids that are still
    live and not in ``keep``; ``add`` and ``update`` bring new rows starting
    at ``row_lo``."""
    rng = random.Random(seed)
    live = [i for i in range(n_docs) if i not in keep]
    kinds = ["update", "delete", "add"] + rng.choices(list(OP_SHARES), weights=list(OP_SHARES.values()), k=max(0, n_ops - 3))
    ops, next_row = [], NEW_ROW_BASE
    for kind in kinds[:n_ops]:
        op: dict = {"kind": kind}
        if kind in ("delete", "update"):
            size = DELETE_DOCS if kind == "delete" else UPDATE_DOCS
            gone = sorted(rng.sample(live, size))
            live = sorted(set(live) - set(gone))
            op["doc_ids"] = gone
        if kind in ("add", "update"):
            op["row_lo"], op["count"] = next_row, ADD_DOCS if kind == "add" else UPDATE_DOCS
            next_row += op["count"]
        ops.append(op)
    return ops
