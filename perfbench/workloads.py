"""The benchmark's workloads.  Both run one closed-loop client in one driver
process and go through the program's public API only.

Set-up (timed as ``setup_s``, corpus generation excluded): cold builds over
the seeded corpus -- a flat index (``plans.build.build_index`` over
``content``) on both workloads and, on ``search``, a fielded index
(``build_index_fielded`` over ``content``/``path``/``lang``) -- then the
distributed handles (``InvertedIndex``/``FieldedIndex``) and the driver-side
searchers (``LocalSearcher``/``LocalFieldedSearcher``) are opened.

* ``search`` (read-only, warm caches): a seeded query log runs three ways --
  (a) on the warm local searchers, (b) one ``search*()`` + ``.collect()``
  per query, (c) ``search_many`` batches -- and every answer is compared
  across the three paths and, for a seeded sample, with DuckDB.
* ``ingest`` (writes beside reads, caches invalidated every cycle): each
  cycle commits one op of the seeded sequence (``add_docs``/``delete_docs``
  /``update_docs``; ``INGEST_COMMITS`` of them, the first an update) and
  then queries the long-lived local searcher, whose first query refreshes
  it and checks that the commit is visible.  Then ``purge_compact``, and the
  read phase on fresh handles.

In both, the distributed and batched queries of the read phase run for the
run's ``--seconds``.
"""

from __future__ import annotations

import os
import re
import resource
import shutil
import statistics
import time
from collections import Counter, defaultdict

from goobi_viewer_indexer_spark.config import IndexConfig
from goobi_viewer_indexer_spark.functions.tokenize import tokenize_py
from goobi_viewer_indexer_spark.operators.search import FieldedIndex, InvertedIndex, parse_fielded_clauses
from goobi_viewer_indexer_spark.plans import maintenance
from goobi_viewer_indexer_spark.plans.build import build_index, build_index_fielded, load_meta

from perfbench import inputs
from perfbench.checks import Checks, Oracle, ranked

N_DOCS = 2000
FIELDS = {"content": "content", "path": "path", "lang": "lang"}
LOG_QUERIES = 40       # queries in the log
LOCAL_PASSES = 2       # warm local passes over a log
ORACLE_SAMPLE = 4      # search: log queries also answered by DuckDB
INGEST_COMMITS = 1     # ingest: commits of the seeded op sequence (the first is an update)

# stage names of the fielded build's parquet writes (the flat build reports
# the same stages itself in meta["stage_sec"])
_STAGE_OF_TABLE = {"doc_stats": "stage0_doc_stats", "doclens_packed": "stage05_doclens_packed",
                   "partials": "stage1_partials", "postings": "stage2_merge_write",
                   "term_stats": "stage3_term_stats"}
STAGES = list(_STAGE_OF_TABLE.values())
TABLES = ["postings", "term_stats", "doc_stats", "doclens_packed", "partials"]
_TABLE_DIR = re.compile(r"^(postings|term_stats|doc_stats|doclens_packed|tombstones|stored)(\.v\d+)?$")


def index_config(nproc: int) -> IndexConfig:
    """Sized for the benchmark corpus on ``nproc`` cores: 8 segments in 2
    scoring ranges, so the stopword-scale head term is merged by several
    salted tasks, and buckets/shuffle partitions follow the core count."""
    return IndexConfig(docs_per_segment=256, merge_fanin=4, postings_buckets=2 * nproc, shuffle_partitions=nproc)


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the files under ``path`` (only files modified after ``since``)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# -- query paths ---------------------------------------------------------
def local_query(loc, floc, q):
    shape = q["shape"]
    if shape == "phrase":
        return loc.search_phrase(q["terms"], k=q["k"])
    if shape == "boolean":
        return loc.search_boolean(q["q"], k=q["k"])
    if shape == "fielded":
        return floc.search(q["q"], k=q["k"])
    return loc.search(q["terms"], k=q["k"], mode="and" if shape == "and" else "or")


def dist_plan(idx, fidx, q):
    """The DataFrame of one distributed query (nothing executed yet)."""
    shape = q["shape"]
    if shape == "phrase":
        return idx.search_phrase(q["terms"], k=q["k"])
    if shape == "boolean":
        return idx.search_boolean(q["q"], k=q["k"])
    if shape == "fielded":
        return fidx.search(q["q"], k=q["k"])
    return idx.search(q["terms"], k=q["k"], mode="and" if shape == "and" else "or")


def batch_specs(chunk):
    """(flat, fielded) ``search_many`` inputs for a chunk of queries."""
    flat, fielded = {}, {}
    for q in chunk:
        if q["shape"] == "fielded":
            # the mode the query string states ("lang:X AND content:t"):
            # FieldedIndex.search reads it from the string, search_many
            # takes it from the spec
            fielded[q["qid"]] = (q["q"], parse_fielded_clauses(q["q"])[1], q["k"])
        elif q["shape"] == "boolean":
            flat[q["qid"]] = (q["q"], "boolean", q["k"])
        else:
            mode = {"phrase": "phrase", "and": "and"}.get(q["shape"], "or")
            flat[q["qid"]] = (q["terms"], mode, q["k"])
    return flat, fielded


def first_of_each_shape(log: list[dict]) -> list[dict]:
    """One query per shape of the log: the first of each."""
    return list({q["shape"]: q for q in reversed(log)}.values())


def shape_family(shape: str) -> str:
    return "or" if shape.startswith("or") else shape


class Run:
    """State and measurements of one benchmark run."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, nproc: int):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds, self.nproc = seed, seconds, nproc
        self.cfg = index_config(nproc)
        self.e2e: dict[str, list[float]] = defaultdict(list)    # raw samples per end-to-end metric
        self.lay: dict[str, list[float]] = defaultdict(list)    # raw samples per layer metric
        self.layer: dict[str, float] = {}                       # final per-layer values
        self.local_by_query: dict[str, list[float]] = defaultdict(list)   # warm local times per query
        self.dist_by_query: dict[str, list[float]] = defaultdict(list)    # timed distributed times per query
        self.checks = Checks()
        self.setup_parts: dict[str, float] = {}
        self._dirs = 0

    def attempt(self, what: str, fn):
        """Run one answer-producing call; an exception counts as a failed
        check and yields None, and the run goes on."""
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted into failed, never raised
            self.checks.error(what, exc)
            return None

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{name}{self._dirs}")

    def call(self, name: str, fn):
        """Run one public call inside a span: (result, seconds, SparkWork)."""
        with self.tr.span(name), self.tr.spark_work() as w:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt, w

    # -- set-up -----------------------------------------------------------
    def corpus(self, n_docs: int):
        """Generate the seeded corpus once into parquet and keep the
        driver-side copy of the same rows (not part of set-up time)."""
        path = os.path.join(self.work, "corpus")
        t0 = time.perf_counter()
        inputs.corpus_frame(self.spark, n_docs, self.seed).write.parquet(path)
        self.rows = inputs.corpus_rows(n_docs, self.seed)
        self.layer["corpus.gen_s"] = time.perf_counter() - t0
        self.docs = self.spark.read.parquet(path)
        self.source_bytes = int(self.rows["content"].map(lambda s: len(s.encode("utf-8"))).sum())
        self.layer["corpus.docs"] = float(n_docs)
        self.layer["corpus.mb"] = self.source_bytes / 1e6

    def build(self, kind: str) -> str:
        """One cold build into a fresh directory; returns the index dir."""
        d = self.fresh_dir(kind)
        first_span = len(self.tr.spans)
        if kind == "flat":
            meta, dt, w = self.call("build_index", lambda: build_index(self.docs, d, self.cfg, text_col="content"))
            stages = {k: float(v) for k, v in meta.get("stage_sec", {}).items()}
            prefix, metric = "build", "build_docs_per_s"
        else:
            meta, dt, w = self.call("build_index_fielded",
                                    lambda: build_index_fielded(self.docs, d, FIELDS, self.cfg))
            stages = defaultdict(float)
            for name, sec in self.tr.spans_since(first_span, "write:" + d + "/"):
                table = name[len("write:" + d + "/"):].split("/")[0]
                if table in _STAGE_OF_TABLE:
                    stages[_STAGE_OF_TABLE[table]] += sec
            prefix, metric = "build_fielded", "build_fielded_docs_per_s"
        self.e2e[metric].append(meta["n_docs"] / dt)
        self.e2e[kind + "_build_s"].append(dt)
        for s in STAGES:
            self.lay[f"{prefix}.{s}_s"].append(stages.get(s, 0.0))
        self.lay[f"{prefix}.jobs"].append(w.jobs)
        self.lay[f"{prefix}.stages"].append(w.stages)
        self.lay[f"{prefix}.tasks"].append(w.tasks)
        self.lay[f"{prefix}.executor_run_s"].append(w.run_ms / 1e3)
        self.lay[f"{prefix}.executor_cpu_s"].append(w.cpu_ms / 1e3)
        self.lay[f"{prefix}.core_utilisation"].append(w.run_ms / 1e3 / dt / self.nproc)
        self.lay[f"{prefix}.shuffle_write_mb"].append(w.shuffle_write_bytes / 1e6)
        self.lay[f"{prefix}.spill_mb"].append(w.spill_bytes / 1e6)
        return d

    def setup(self, session_s: float, kinds: tuple[str, ...]) -> None:
        """The corpus (not part of set-up time), then one cold build per
        index kind over it, then the handle and searcher opens."""
        self.corpus(N_DOCS)
        dirs = {kind: self.build(kind) for kind in kinds}
        self.flat_dir, self.fielded_dir = dirs["flat"], dirs.get("fielded")
        self.open_handles()
        self.setup_parts = {"session": session_s, "builds": sum(self.e2e[k + "_build_s"][0] for k in kinds),
                            "opens": self.open_s}
        self.e2e["setup_s"].append(sum(self.setup_parts.values()))
        self.e2e["index_bytes_per_source_byte"].append(dir_bytes(self.flat_dir) / self.source_bytes)
        self.rss_setup = rss_mb()

    def open_handles(self) -> None:
        self.idx, t_idx, _ = self.call("InvertedIndex", lambda: InvertedIndex(self.spark, self.flat_dir))
        self.loc, t_loc, _ = self.call("open_local", self.idx.open_local)
        self.fidx = self.floc = None
        t_fidx = t_floc = 0.0
        if self.fielded_dir:
            self.fidx, t_fidx, _ = self.call("FieldedIndex", lambda: FieldedIndex(self.spark, self.fielded_dir))
            self.floc, t_floc, _ = self.call("open_local", self.fidx.open_local)
        self.open_s = t_idx + t_fidx + t_loc + t_floc
        self.lay["index.open_s"].append(t_idx + t_fidx)
        self.lay["local.open_s"].append(t_loc + t_floc)

    def table_layers(self) -> None:
        """Sizes of the flat set-up index's tables, read from outside."""
        for t in TABLES:
            self.layer[f"build.bytes.{t}"] = float(dir_bytes(os.path.join(self.flat_dir, t)))
        for t in ("postings", "term_stats"):
            self.layer[f"build.rows.{t}"] = float(self.spark.read.parquet(os.path.join(self.flat_dir, t)).count())

    # -- query paths, measured ------------------------------------------------
    def local(self, q, record: bool = True):
        """One local-searcher query; returns its ranked answer.  Recorded
        (timed into ``local_ms``) unless ``record`` is false."""
        kernel0 = self.tr.counts["kernel_ns"]
        with self.tr.spark_work() as w:
            t0 = time.perf_counter()
            with self.tr.span("local." + q["shape"]):
                out = self.attempt(f"local {q['qid']}", lambda: local_query(self.loc, self.floc, q))
            dt = time.perf_counter() - t0
        if out is None:
            return None
        if record:
            self.e2e["local_ms"].append(dt * 1e3)
            self.local_by_query[q["qid"]].append(dt * 1e3)
            self.lay[f"local.{shape_family(q['shape'])}_ms"].append(dt * 1e3)
            self.lay["wand.kernel_ms"].append((self.tr.counts["kernel_ns"] - kernel0) / 1e6)
            self.lay["local.jobs"].append(w.jobs)
        return ranked(out)

    def dist(self, q, record: bool = True):
        """One distributed query: plan, then collect; returns its ranked
        answer.  Recorded unless ``record`` is false."""
        idx, fidx = self.idx, self.fidx
        stats0, miss0 = self.tr.counts["term_stats_ns"], self.tr.counts["term_stats_misses"]
        with self.tr.spark_work() as w:
            with self.tr.span("dist." + q["shape"]):
                py4j0 = self.tr.counts["py4j_calls"]
                t0 = time.perf_counter()
                try:
                    df = dist_plan(idx, fidx, q)
                    t1 = time.perf_counter()
                    rows = df.collect()
                except Exception as exc:  # noqa: BLE001 - counted into failed, never raised
                    self.checks.error(f"dist {q['qid']}", exc)
                    return None
                t2 = time.perf_counter()
                py4j = self.tr.counts["py4j_calls"] - py4j0   # before the tracer's own status queries
        answer = ranked((r["doc_id"], r["score"]) for r in rows)
        if not record:
            return answer
        self.e2e["dist_ms"].append((t2 - t0) * 1e3)
        self.dist_by_query[q["qid"]].append((t2 - t0) * 1e3)
        self.lay[f"dist.{shape_family(q['shape'])}_ms"].append((t2 - t0) * 1e3)
        self.lay["dist.plan_ms"].append((t1 - t0) * 1e3)
        self.lay["dist.execute_ms"].append((t2 - t1) * 1e3)
        self.lay["dist.py4j_calls_per_query"].append(py4j)
        self.lay["dist.term_stats_ms"].append((self.tr.counts["term_stats_ns"] - stats0) / 1e6)
        self.lay["dist.term_stats_misses"].append(self.tr.counts["term_stats_misses"] - miss0)
        self.lay["dist.jobs_per_query"].append(w.jobs)
        self.lay["dist.stages_per_query"].append(w.stages)
        self.lay["dist.tasks_per_query"].append(w.tasks)
        self.lay["dist.executor_run_ms_per_query"].append(w.run_ms)
        self.lay["dist.executor_cpu_ms_per_query"].append(w.cpu_ms)
        return answer

    def batch(self, chunk, record: bool = True) -> dict | None:
        """One ``search_many`` batch per engine; returns qid → ranked answer
        (None when the batch raised).  Recorded unless ``record`` is false."""
        idx, fidx = self.idx, self.fidx
        flat, fielded = batch_specs(chunk)
        out = {}
        with self.tr.spark_work() as w, self.tr.span("batch"):
            t0 = time.perf_counter()
            try:
                if flat:
                    out.update(idx.search_many(flat))
                if fielded:
                    out.update(fidx.search_many(fielded))
            except Exception as exc:  # noqa: BLE001 - counted into failed, never raised
                self.checks.error("batch " + ",".join(q["qid"] for q in chunk), exc)
                return None
            dt = time.perf_counter() - t0
        if record:
            self.e2e["batch_s"].append(dt)
            self.e2e["batch_queries"].append(len(chunk))
            self.lay["batch.execute_ms"].append(w.job_ms)
            self.lay["batch.plan_ms"].append(dt * 1e3 - w.job_ms)
            self.lay["batch.jobs"].append(w.jobs)
        return {qid: ranked(rows) for qid, rows in out.items()}

    def reads(self, log, seconds: float | None = None) -> dict:
        """The read phase over a query log.  One OR query over every plain
        term of the log first fetches their posting lists into the local
        searcher (its first touch, timed as ``local.first_touch_ms``).
        Every query then runs once on the local searchers (this answer is
        the one every other path must match; its boolean and fielded
        queries still touch new lists) and ``LOCAL_PASSES`` warm, timed
        passes follow.  If ``seconds`` are given, the first query of each
        shape then runs in rounds, each one Spark job per query and one
        ``search_many`` batch: a first, untimed round warms the distributed
        paths up (its batch holds every query of the log), then timed
        rounds, whose batch holds the round's queries, follow until
        ``seconds`` have passed (at least one).  Every answer is checked.
        Returns qid → answer."""
        plain = sorted({t for q in log for t in q.get("terms", [])})
        t0 = time.perf_counter()
        if self.attempt("first touch", lambda: self.loc.search(plain, k=1)) is not None:
            self.lay["local.first_touch_ms"].append((time.perf_counter() - t0) * 1e3)
        answer = {q["qid"]: self.local(q, record=False) for q in log}
        for _ in range(LOCAL_PASSES):
            for q in log:
                self.checks.same(answer[q["qid"]], self.local(q), f"local repeat {q['qid']}")
        if seconds is None:
            return answer
        timed = first_of_each_shape(log)
        rnd, deadline = 0, None
        while deadline is None or time.perf_counter() < deadline:
            for q in timed:
                with self.tr.request(f"{q['qid']}.{rnd}"):
                    got = self.dist(q, record=rnd > 0)
                self.checks.same(answer[q["qid"]], got, f"local vs dist {q['qid']}")
            self.check_batch(timed if rnd else log, answer, record=rnd > 0)
            if rnd == 0:
                deadline = time.perf_counter() + seconds
            rnd += 1
        return answer

    def check_batch(self, chunk, answer: dict, record: bool) -> None:
        got = self.batch(chunk, record)
        for q in chunk if got is not None else ():
            self.checks.same(answer[q["qid"]], got.get(q["qid"], []), f"local vs batch {q['qid']}")

    def finish_layers(self) -> None:
        """Fold the raw samples into per-layer values: medians of times and
        per-shape latencies, means of per-call counts, run totals of the
        driver-side kernel counters."""
        for k, xs in self.lay.items():
            leaf = k.partition(".")[2]
            if leaf.endswith("_ms") and leaf.split("_")[0] in ("or", "and", "phrase", "boolean", "fielded"):
                self.layer[k[:-3] + "_p50_ms"] = p50(xs)
            elif k.endswith("_s") or k in ("dist.plan_ms", "dist.execute_ms"):
                self.layer[k] = p50(xs)
            else:
                self.layer[k] = mean(xs)
        c = self.tr.counts
        self.layer["local.jobs_in_timed_phase"] = float(sum(self.lay["local.jobs"]))
        self.layer["local.is_stale_ms"] = c["is_stale_ns"] / 1e6 / max(c["is_stale"], 1)
        self.layer["wand.kernel_ms_per_query"] = mean(self.lay["wand.kernel_ms"])
        self.layer["wand.kernel_share_of_local"] = sum(self.lay["wand.kernel_ms"]) / max(sum(self.e2e["local_ms"]), 1e-9)
        self.layer["wand.blocks_decoded"] = float(c["blocks_decoded"])
        self.layer["wand.blocks_in_touched_lists"] = float(c["blocks_in_touched_lists"])
        self.layer["wand.decode_ratio"] = c["blocks_decoded"] / max(c["blocks_in_touched_lists"], 1)
        self.layer["codec.varint_decode_calls"] = float(c["varint_decode"])


# -- workloads ------------------------------------------------------------
def run_search(run: Run) -> None:
    log = inputs.make_query_log(run.rows, LOG_QUERIES, run.seed)
    answer = run.reads(log, run.seconds)
    run.peak_rss = peak_rss_mb()
    oracle = Oracle(run.rows, inputs.Vocabulary(run.rows), run.cfg, FIELDS)
    try:
        for q in log[:: max(1, len(log) // ORACLE_SAMPLE)][:ORACLE_SAMPLE]:
            run.checks.same(oracle.answer(q), answer[q["qid"]], f"duckdb vs engine {q['qid']} {q}")
    finally:
        oracle.close()


def _visible(run: Run, contents, present: bool, what: str) -> None:
    """One OR query over the docs' identifiers (df = 1 each): it must find
    every doc (``present``) or none."""
    idents = [i for i in map(inputs.identifier, contents) if i]
    if not idents:
        return
    hits = run.attempt(what, lambda: run.loc.search(idents, k=len(idents) + 5))
    if hits is not None:
        run.checks.expect(len(hits) == (len(idents) if present else 0),
                          f"{what}: {len(hits)} of {len(idents)} identifiers found")


def _removal_probe(live: dict[int, set[str]], added: list[set[str]], removed: list[list[str]]):
    """The query that checks a commit's removals: for each removed doc, its
    rarest term that a live doc still holds.  Returns the terms, the corpus
    docs that must match them and how many added docs must."""
    df = Counter(t for toks in (*live.values(), *added) for t in toks)
    terms = sorted({min((t for t in toks if df[t]), key=lambda t: (df[t], t))
                    for toks in removed if any(df[t] for t in toks)})
    want = {d for d, toks in live.items() if toks.intersection(terms)}
    return terms, want, sum(1 for toks in added if toks.intersection(terms))


def run_ingest(run: Run) -> None:
    # one query of each flat shape, read after every commit and on the
    # fresh handles after compaction
    probe = first_of_each_shape([q for q in inputs.make_query_log(run.rows, LOG_QUERIES, run.seed)
                                 if q["shape"] != "fielded"])
    vocab = inputs.Vocabulary(run.rows)
    # every probe term keeps a live doc: LocalSearcher.search raises KeyError
    # on a term whose every doc is deleted and not yet compacted
    ops = inputs.make_ingest_ops(N_DOCS, INGEST_COMMITS, run.seed, keep=inputs.holders(vocab, inputs.log_terms(probe)))
    content = dict(zip(run.rows["doc_id"], run.rows["content"]))
    live = {d: set(toks) for d, toks in enumerate(vocab.tokens)}   # live corpus doc → its terms
    added_terms: list[set[str]] = []                              # terms of each added doc
    n_live = N_DOCS
    deleted: list[str] = []
    added: list[str] = []
    for cycles, op in enumerate(ops, 1):
        kind = op["kind"]
        new = inputs.new_rows(op["row_lo"], op["count"], run.seed) if "row_lo" in op else None
        new_df = run.spark.createDataFrame(new) if new is not None else None
        t_start = time.time()
        if kind == "add":
            fn = lambda: maintenance.add_docs(run.spark, run.flat_dir, new_df, text_col="content")
        elif kind == "delete":
            fn = lambda: maintenance.delete_docs(run.spark, run.flat_dir, op["doc_ids"])
        else:
            fn = lambda: maintenance.update_docs(run.spark, run.flat_dir, op["doc_ids"], new_df, text_col="content")
        with run.tr.request(f"commit{cycles}"):
            _meta, dt, w = run.call(f"maint.{kind}", fn)
        written = dir_bytes(run.flat_dir, since=t_start)
        changed = sum(len(content[i].encode("utf-8")) for i in op.get("doc_ids", []))
        if new is not None:
            changed += int(new["content"].map(lambda s: len(s.encode("utf-8"))).sum())
        run.e2e["commit_s"].append(dt)
        run.lay[f"maint.{kind}_s"].append(dt)
        run.lay["maint.jobs_per_commit"].append(w.jobs)
        run.lay["maint.tasks_per_commit"].append(w.tasks)
        run.lay["maint.executor_run_s_per_commit"].append(w.run_ms / 1e3)
        run.lay["maint.bytes_written_per_commit"].append(written)
        run.lay["maint.write_amplification"].append(written / max(changed, 1))
        # the first searcher query after the commit refreshes the searcher
        # and doubles as the visibility check: the commit's removed docs
        # must be gone (delete/update), else its added docs found (add).
        # Removed docs are looked up by terms live docs still hold (see
        # the KeyError above), and the query must find exactly those docs.
        gone_ids = op.get("doc_ids", [])
        gone = [content[i] for i in gone_ids]
        for i in gone_ids:
            del live[i]
        if new is not None:
            added_terms.extend(set(tokenize_py(c)) for c in new["content"])
        if gone_ids:
            terms, want, n_added = _removal_probe(live, added_terms, [vocab.tokens[i] for i in gone_ids])
        refresh0 = run.tr.counts["refresh_ns"]
        with run.tr.spark_work() as wq:
            t0 = time.perf_counter()
            if gone_ids:
                hits = run.attempt(f"removed by {kind}",
                                   lambda: run.loc.search(terms, k=len(want) + n_added + 5))
            else:
                _visible(run, new["content"], True, f"added by {kind}")
            run.e2e["refresh_query_s"].append(time.perf_counter() - t0)
        if gone_ids and hits is not None:
            # add_docs numbers new docs from the next span boundary up, above every corpus id
            ids = [d for d, _ in hits]
            run.checks.expect(not set(ids) & set(gone_ids) and {d for d in ids if d < N_DOCS} == want
                              and sum(d >= N_DOCS for d in ids) == n_added,
                              f"removed by {kind}: {len(ids)} hits for {len(want)} + {n_added} live holders "
                              f"of {terms}, {len(set(ids) & set(gone_ids))} of them removed")
        run.lay["refresh.reload_s"].append((run.tr.counts["refresh_ns"] - refresh0) / 1e9)
        run.lay["refresh.first_fetch_jobs"].append(wq.jobs)
        if gone and new is not None:
            _visible(run, new["content"], True, f"added by {kind}")
        if new is not None:
            added.extend(new["content"])
            n_live += len(new)
        deleted.extend(gone)
        n_live -= len(gone)
        run.reads(probe)
    run.lay["driver.rss_growth_mb_per_cycle"] = [(rss_mb() - run.rss_setup) / max(cycles, 1)]

    # purge-compact, then a probe on fresh handles
    t_start = time.time()
    with run.tr.request("compact"):
        _meta, dt, w = run.call("maint.purge_compact", lambda: maintenance.purge_compact(run.spark, run.flat_dir))
    run.e2e["compact_s"].append(dt)
    run.lay["maint.compact_s"].append(dt)
    run.lay["maint.purge_compact_jobs"].append(w.jobs)
    run.lay["maint.compact_bytes_rewritten"].append(dir_bytes(run.flat_dir, since=t_start))
    run.e2e["index_bytes_per_source_byte"] = [dir_bytes(run.flat_dir) / run.source_bytes]
    cur = load_meta(run.flat_dir)
    run.checks.expect(cur.get("n_docs_live", cur["n_docs"]) == n_live,
                      f"n_docs_live {cur.get('n_docs_live')} != {n_live}")
    live_tables = _live_table_dirs(run.flat_dir)
    run.lay["txn.table_dirs_after"].append(sum(1 for d in os.listdir(run.flat_dir)
                                                if _TABLE_DIR.match(d) and d not in live_tables))
    run.idx = InvertedIndex(run.spark, run.flat_dir)
    run.loc = run.idx.open_local()
    run.reads(probe, run.seconds)
    run.peak_rss = peak_rss_mb()
    _visible(run, deleted, False, "deleted after compaction")
    _visible(run, added, True, "added after compaction")


def _live_table_dirs(index_dir: str) -> set[str]:
    import json

    with open(os.path.join(index_dir, "current.json")) as f:
        tables = json.load(f)["tables"]
    live = set(tables.values())
    return live | {d for d in os.listdir(index_dir) if _TABLE_DIR.match(d) and "." not in d and d not in tables}


# workload → (its run function, the index kinds its set-up builds)
WORKLOADS = {"search": (run_search, ("flat", "fielded")), "ingest": (run_ingest, ("flat",))}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
