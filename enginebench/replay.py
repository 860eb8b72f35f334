"""Spark-free replay of the engine's kernels on the segment files a run
wrote: the varbyte codec, the three top-k scoring kernels, and text
extraction. Each replay times the engine's own functions on real data,
so the figures are per-layer throughput without any Spark overhead.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mee_spark import manifest as mf
from mee_spark.bm25 import idf_np
from mee_spark.codec import decode_postings, varbyte_encode_lens
from mee_spark.textprep import extract_text_bytes, py_tokenize
from mee_spark.wand import (
    TermCursor,
    conjunctive_topk_vec,
    exhaustive_topk_vec,
    wand_topk,
)

ROUND_DIGITS = 6


def segment_files(index_dir: str, gen: int) -> list[str]:
    return sorted(glob.glob(os.path.join(mf.segments_dir(index_dir, gen),
                                         "bucket=*", "*.parquet")))


def read_rows(index_dir: str, gen: int, terms: set[str] | None = None) -> list[dict]:
    """Segment rows of one generation, optionally only ``terms``."""
    rows = []
    for f in segment_files(index_dir, gen):
        t = pq.read_table(f)
        if terms is not None:
            t = t.filter(pc.is_in(t.column("term"), value_set=pa.array(sorted(terms))))
        rows.extend(t.to_pylist())
    return rows


def codec(index_dir: str, gen: int) -> dict[str, float]:
    """Decode every segment row of ``gen``, then re-encode each file's
    values the way the segment writer does (one varbyte pass per column
    per file)."""
    decode_s = encode_s = 0.0
    n_rows = n_post = blob_bytes = 0
    for f in segment_files(index_dir, gen):
        rows = pq.read_table(f, columns=["doc_ids_blob", "tfs_blob", "dls_blob"]).to_pylist()
        decoded = []
        t0 = time.perf_counter()
        for row in rows:
            decoded.append(decode_postings(row))
        decode_s += time.perf_counter() - t0
        for row, (docs, _, _) in zip(rows, decoded):
            n_rows += 1
            n_post += len(docs)
            blob_bytes += len(row["doc_ids_blob"]) + len(row["tfs_blob"]) + len(row["dls_blob"])
        if not decoded:
            continue
        deltas = np.concatenate([np.diff(d, prepend=0) for d, _, _ in decoded])
        tfs = np.concatenate([t for _, t, _ in decoded])
        dls = np.concatenate([dl for _, _, dl in decoded])
        t0 = time.perf_counter()
        for col in (deltas, tfs, dls):
            varbyte_encode_lens(col.astype(np.uint64))
        encode_s += time.perf_counter() - t0
    values = 3 * n_post
    return {
        "codec.decode_values_per_s": values / decode_s if decode_s else 0.0,
        "codec.decode_rows_per_s": n_rows / decode_s if decode_s else 0.0,
        "codec.encode_values_per_s": values / encode_s if encode_s else 0.0,
        "codec.bytes_per_posting": blob_bytes / n_post if n_post else 0.0,
    }


def extract(html: list[bytes]) -> dict[str, float]:
    """Replay of the extraction UDF body over the staged corpus."""
    t0 = time.perf_counter()
    for h in html:
        extract_text_bytes(h)
    dt = time.perf_counter() - t0
    return {"textprep.extract_docs_per_s": len(html) / dt if dt else 0.0}


def kernels(index_dir: str, queries, cfg, conjunctive: bool) -> dict[str, float]:
    """Score a query batch on the published single-generation index with
    the engine's kernels, routed per (query, docID range) the way the
    engine routes: conjunctive queries take ``conjunctive_topk_vec``;
    others take ``exhaustive_topk_vec`` below ``cfg.wand_min_postings``
    postings and ``wand_topk`` at or above it."""
    chain = mf.manifest_chain(index_dir)
    if len(chain) != 1:
        raise ValueError("kernel replay reads a single-generation index")
    gen, n_docs, avgdl = chain[0]["generation"], chain[0]["n_docs_live"], chain[0]["avgdl"]
    qterms = {int(q.query_id): sorted(set(py_tokenize(q.query_text)))
              for q in queries.itertuples()}
    vocab = {t for ts in qterms.values() for t in ts}
    by_term: dict[str, list[dict]] = {}
    for row in read_rows(index_dir, gen, vocab):
        by_term.setdefault(row["term"], []).append(row)
    df = {t: sum(r["df_local"] for r in rs) for t, rs in by_term.items()}
    decoded = {(t, r["range_id"]): (r, decode_postings(r))
               for t, rs in by_term.items() for r in rs}

    counts = {"exhaustive": [0, 0, 0.0], "wand": [0, 0, 0.0], "conjunctive": [0, 0, 0.0]}
    stats: dict[str, int] = {}
    for q in queries.itertuples():
        terms = qterms[int(q.query_id)]
        ranges = sorted({rid for (t, rid) in decoded if t in terms})
        for rid in ranges:
            cursors = []
            for t in terms:
                hit = decoded.get((t, rid))
                if hit is None:
                    continue
                row, (docs, tfs, dls) = hit
                cursors.append(TermCursor(
                    f"{t}\x00{gen}", docs, tfs, dls, idf_np(float(df[t]), n_docs),
                    avgdl, np.asarray(row["block_last_doc"]),
                    np.asarray(row["block_max_tf"]), np.asarray(row["block_min_dl"]),
                    cfg.k1, cfg.b))
            postings = sum(c.n for c in cursors)
            t0 = time.perf_counter()
            if conjunctive:
                kind = "conjunctive"
                conjunctive_topk_vec(cursors, int(q.k), len(terms), ROUND_DIGITS)
            elif postings < cfg.wand_min_postings:
                kind = "exhaustive"
                exhaustive_topk_vec(cursors, int(q.k), round_to=ROUND_DIGITS)
            else:
                kind = "wand"
                wand_topk(cursors, int(q.k), stats=stats, round_to=ROUND_DIGITS)
            c = counts[kind]
            c[0] += 1
            c[1] += postings
            c[2] += time.perf_counter() - t0

    def rate(kind):
        _, post, secs = counts[kind]
        return post / secs if secs else 0.0

    out = {}
    if conjunctive:
        out["wand.groups_conjunctive"] = counts["conjunctive"][0]
        out["wand.conjunctive_postings_per_s"] = rate("conjunctive")
    else:
        out["wand.groups_exhaustive"] = counts["exhaustive"][0]
        out["wand.groups_wand"] = counts["wand"][0]
        out["wand.exhaustive_postings_per_s"] = rate("exhaustive")
        out["wand.wand_postings_per_s"] = rate("wand")
        total = stats.get("total_postings", 0)
        out["wand.docs_scored_ratio"] = stats.get("docs_scored", 0) / total if total else 0.0
    return out
