"""Answer checks against the engine's independent oracle.

Every check runs after the timed window. The oracle is built from the
run's own corpus text (the generator's ``text`` column, which extraction
must recover byte-identically) with doc ids taken from the index docmap,
so a wrong docID assignment shows up in the docmap check and nowhere else.
"""

from __future__ import annotations

import glob
import heapq
import os

import numpy as np
import pyarrow.parquet as pq

from mee_spark import manifest as mf
from mee_spark.codec import decode_postings
from mee_spark.oracle import OracleIndex
from mee_spark.textprep import py_tokenize

# The engine's default presentation rounding (bm25_topk_wand round_digits)
ROUND_DIGITS = 6
SCORE_TOL = 1e-6


def read_docmap(index_dir: str, gen: int) -> dict[str, int]:
    """url -> doc_id of one generation's docmap."""
    t = pq.read_table(os.path.join(mf.gen_dir(index_dir, gen), "docmap.parquet"),
                      columns=["url", "doc_id"])
    return dict(zip(t.column("url").to_pylist(), t.column("doc_id").to_pylist()))


def build_oracle(texts: dict[str, str], url_to_id: dict[str, int]) -> OracleIndex:
    """Oracle over ``texts`` (url -> text) with the index's doc ids."""
    return OracleIndex.build([(url_to_id[u], t) for u, t in texts.items()])


def docmap_ok(texts: dict[str, str], url_to_id: dict[str, int],
              dense_from: int | None = 0) -> bool:
    """The docmap covers exactly the corpus urls with distinct ids; with
    ``dense_from`` set, ids are that offset plus the url's rank in
    ascending order (the docID contract of a full build)."""
    if set(url_to_id) != set(texts):
        return False
    ids = list(url_to_id.values())
    if len(set(ids)) != len(ids):
        return False
    if dense_from is None:
        return True
    return all(url_to_id[u] == dense_from + i for i, u in enumerate(sorted(texts)))


class ExpectedTopK:
    """Oracle top-k lists, cached per query (every batch call of a run
    sends the same queries, so each oracle scoring runs once)."""

    def __init__(self, oracle: OracleIndex) -> None:
        self.oracle = oracle
        self._scores: dict[str, dict[int, float]] = {}
        self._topk: dict[tuple[str, int, bool], list[tuple[int, float]]] = {}

    def scores(self, query_text: str) -> dict[int, float]:
        if query_text not in self._scores:
            self._scores[query_text] = self.oracle.score_all(query_text)
        return self._scores[query_text]

    def topk(self, query_text: str, k: int, conjunctive: bool = False) -> list[tuple[int, float]]:
        key = (query_text, k, conjunctive)
        if key not in self._topk:
            scores = self.scores(query_text)
            if conjunctive:
                holders = [set(self.oracle.postings.get(t, ()))
                           for t in set(py_tokenize(query_text))]
                both = set.intersection(*holders) if holders else set()
                scores = {d: s for d, s in scores.items() if d in both}
            self._topk[key] = heapq.nsmallest(
                k, ((d, round(s, ROUND_DIGITS)) for d, s in scores.items()),
                key=lambda x: (-x[1], x[0]))
        return self._topk[key]


def topk_matches(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank-identical doc ids and scores equal within the rounding grid."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(a - b) <= SCORE_TOL for (_, a), (_, b) in zip(got, want))


def group_results(rows) -> dict[int, list[tuple[int, float]]]:
    """Collected (query_id, rank, doc_id, score) rows -> ranked lists."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def batch_ok(rows, queries, expected: ExpectedTopK, conjunctive: bool = False) -> bool:
    """Every query of a batch call answered exactly as the oracle does.
    ``queries`` is the pandas (query_id, query_text, k) frame sent."""
    got = group_results(rows)
    for q in queries.itertuples():
        want = expected.topk(q.query_text, int(q.k), conjunctive)
        if not topk_matches(got.get(int(q.query_id), []), want):
            return False
    return set(got) <= set(int(q) for q in queries["query_id"])


def postings_ok(index_dir: str, gen: int, oracle: OracleIndex) -> bool:
    """Every posting (term, doc_id, tf, dl) of a single-generation index
    equals the oracle's inverted index, and nothing else is stored."""
    files = sorted(glob.glob(os.path.join(mf.segments_dir(index_dir, gen),
                                          "bucket=*", "*.parquet")))
    got: dict[str, list[tuple[int, np.ndarray, np.ndarray, np.ndarray]]] = {}
    for f in files:
        t = pq.read_table(f, columns=["term", "range_id", "df_local",
                                      "doc_ids_blob", "tfs_blob", "dls_blob"])
        for row in t.to_pylist():
            docs, tfs, dls = decode_postings(row)
            if row["df_local"] != len(docs):
                return False
            got.setdefault(row["term"], []).append((row["range_id"], docs, tfs, dls))
    if set(got) != set(oracle.postings):
        return False
    for term, runs in got.items():
        runs.sort(key=lambda r: r[0])
        docs = np.concatenate([r[1] for r in runs])
        tfs = np.concatenate([r[2] for r in runs])
        dls = np.concatenate([r[3] for r in runs])
        want = sorted(oracle.postings[term].items())
        if len(want) != len(docs):
            return False
        want_docs = np.fromiter((d for d, _ in want), dtype=np.int64, count=len(want))
        want_tfs = np.fromiter((tf for _, tf in want), dtype=np.int64, count=len(want))
        want_dls = np.fromiter((oracle.doclen[d] for d, _ in want), dtype=np.int64,
                               count=len(want))
        if not (np.array_equal(docs, want_docs) and np.array_equal(tfs, want_tfs)
                and np.array_equal(dls, want_dls)):
            return False
    return True
