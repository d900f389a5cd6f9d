"""Answer checks.  A wrong answer is counted, never raised: the run goes on
and reports ``failed`` against ``attempted``."""

from __future__ import annotations

import duckdb

from goobi_viewer_indexer_spark.operators import naive_bm25
from goobi_viewer_indexer_spark.operators.search import parse_boolean_query


def ranked(rows) -> list[tuple[int, float]]:
    """(doc_id, score) pairs in the engine's contract order: score desc,
    doc_id asc, scores rounded to 1e-6."""
    out = [(int(d), round(float(s), 6)) for d, s in rows]
    return sorted(out, key=lambda r: (-r[1], r[0]))


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def same(self, a, b, what: str) -> bool:
        """Compare two answers; None marks an answer whose call already
        counted as a failure."""
        if a is None or b is None:
            return False
        return self.expect(a == b, f"{what}: {a[:3]} != {b[:3]}")

    def error(self, what: str, exc: BaseException) -> None:
        self.expect(False, f"{what}: {type(exc).__name__}: {exc}")


class Oracle:
    """DuckDB reference answers over the driver-side copy of the corpus,
    using the program's own oracle SQL generators."""

    def __init__(self, rows, vocabulary, cfg, field_cols: dict[str, str]):
        self.con = duckdb.connect()
        self.con.register("documents", rows[["doc_id", *field_cols.values()]])
        self.vocab = vocabulary
        self.cfg = cfg
        self.field_cols = field_cols

    def sql(self, q: dict) -> str | None:
        """Oracle SQL for one query-log entry, or None when the expected
        answer is empty by construction (a wildcard expanding to nothing)."""
        shape, k, cfg = q["shape"], q["k"], self.cfg
        if shape in ("or10", "or100", "and"):
            return naive_bm25.bm25_topk_sql(q["terms"], k=k, mode="and" if shape == "and" else "or",
                                            cfg=cfg, text_col="content")
        if shape == "phrase":
            return naive_bm25.bm25_phrase_topk_sql(q["terms"], k=k, cfg=cfg, text_col="content")
        if shape == "boolean":
            groups, negs = parse_boolean_query(q["q"])
            expanded = []
            for g in groups:
                terms = sorted({x for t in g for x in
                                ([v for v in self.vocab.df if v.startswith(t[:-1])] if t.endswith("*") else [t])})
                if not terms:
                    return None
                expanded.append(terms)
            return naive_bm25.bm25_boolean_topk_sql(expanded, negs, k=k, cfg=cfg, text_col="content")
        lang, term = (c.split(":", 1)[1] for c in q["q"].split(" AND "))
        return naive_bm25.bm25f_topk_sql([("lang", lang), ("content", term)], k=k, mode="and", cfg=cfg,
                                         field_cols=self.field_cols)

    def answer(self, q: dict) -> list[tuple[int, float]]:
        sql = self.sql(q)
        return [] if sql is None else ranked(self.con.sql(sql).fetchall())

    def close(self) -> None:
        self.con.close()
