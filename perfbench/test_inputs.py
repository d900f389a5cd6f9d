"""Tests of the benchmark's seeded inputs and its tail statistic.

    python3 -m pytest perfbench -q
"""

from collections import Counter

import pytest

from perfbench import inputs
from perfbench.run import tail


@pytest.fixture(scope="module")
def rows():
    return inputs.corpus_rows(400, 5)


def test_one_seed_gives_identical_inputs(rows):
    again = inputs.corpus_rows(400, 5)
    assert rows.equals(again)
    assert inputs.make_query_log(rows, 300, 5) == inputs.make_query_log(again, 300, 5)
    assert inputs.make_ingest_ops(400, 12, 5) == inputs.make_ingest_ops(400, 12, 5)
    other = inputs.make_query_log(rows, 300, 6)
    assert other != inputs.make_query_log(rows, 300, 5)
    assert [(q["shape"], q["classes"]) for q in other] == [(q["shape"], q["classes"]) for q in inputs.make_query_log(rows, 300, 5)]


def test_shape_and_class_shares_match_spec(rows):
    for n in (20, 997):
        log = inputs.make_query_log(rows, n, 3)
        shapes = Counter(q["shape"] for q in log)
        for shape, share in inputs.SHAPE_SHARES.items():
            assert abs(shapes[shape] - share * n) < 1, (n, shape)
        for shape in inputs.SHAPE_SHARES:
            classes = Counter(c for q in log if q["shape"] == shape for c in q["classes"])
            total = sum(classes.values())
            for cls, share in inputs.CLASS_SHARES.items():
                assert abs(classes[cls] - share * total) < 1, (n, shape, cls)


def test_query_terms_come_from_the_corpus(rows):
    vocab = inputs.Vocabulary(rows)
    for q in inputs.make_query_log(rows, 500, 9):
        if q["shape"] == "phrase":
            a, b = q["terms"]
            assert any(t[i:i + 2] == [a, b] for t in vocab.tokens for i in range(len(t) - 1))
            continue
        if q["shape"] in ("boolean", "fielded"):
            continue
        for term, cls in zip(q["terms"], q["classes"]):
            if cls == "missing":
                assert term not in vocab.df
            else:
                assert term in vocab.classes[cls]
                assert cls != "rare" or vocab.df[term] == 1


def test_ingest_ops_touch_live_docs_once():
    ops = inputs.make_ingest_ops(1000, 20, 1)
    assert [op["kind"] for op in ops[:3]] == ["update", "delete", "add"]
    removed = [i for op in ops for i in op.get("doc_ids", [])]
    assert len(removed) == len(set(removed)) and all(0 <= i < 1000 for i in removed)
    new = [r for op in ops if "row_lo" in op for r in range(op["row_lo"], op["row_lo"] + op["count"])]
    assert len(new) == len(set(new)) and min(new) >= inputs.NEW_ROW_BASE


def test_ingest_ops_leave_every_log_term_a_live_doc(rows):
    vocab = inputs.Vocabulary(rows)
    log = inputs.make_query_log(rows, 200, 4)
    terms = inputs.log_terms(log)
    assert {q["terms"][0] for q in log if q["shape"] == "phrase"} <= terms
    assert not any(t.endswith("*") or ":" in t for t in terms)
    keep = inputs.holders(vocab, terms)
    ops = inputs.make_ingest_ops(len(rows), 30, 4, keep=keep)
    removed = {i for op in ops for i in op.get("doc_ids", [])}
    assert removed and not removed & keep
    for t in terms & set(vocab.df):
        assert any(t in toks for d, toks in enumerate(vocab.tokens) if d not in removed), t


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(100))
    value, pct, n = tail(xs)
    assert (value, n) == (89, 100) and sum(x > value for x in xs) == 10 and pct == 90.0
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
