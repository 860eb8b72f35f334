"""The workloads. Each is a closed loop with one client: the next call
starts only after the previous one returned and its result was collected.
A workload has an untimed input step (``make_inputs``), a timed set-up, a
``cycle`` that the loop repeats until the window has elapsed, and a
``check`` that runs after the window.

Sizes are chosen so that a whole run (JVM start, set-up, window, checks)
stays near a minute on four cores; see README.md for the sizing.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mee_spark import IndexConfig
from mee_spark import build as mbuild
from mee_spark import manifest as mf
from mee_spark import merge as mmerge
from mee_spark import query_wand as qw
from mee_spark.fixtures import (
    QUERIES_SCHEMA,
    gen_pages_pandas,
    gen_queries_pandas,
    gen_snapshots_pandas,
)

import checks
import replay

_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])

SEARCH_DOCS = 20_000
LIFECYCLE_DOCS = 1_000
# the layout __spark_entry__.py builds its lifecycle indexes with
LIFECYCLE_CFG = IndexConfig(num_doc_partitions=8, num_term_buckets=8,
                            doc_range_size=256)


def reference_queries() -> pd.DataFrame:
    """The FIXTURES.md section 2 reference set. It is the same on every
    seed, so the mix of query shapes, and of kernels they route to, does
    not change between runs; the seed varies the corpus."""
    return gen_queries_pandas(100)


def stage(pdf: pd.DataFrame, path: str) -> None:
    """Write a pages frame to Parquet (the corpus the engine reads)."""
    pq.write_table(pa.Table.from_pandas(pdf, schema=_PAGES_ARROW, preserve_index=False),
                   path)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(t.encode()) for t in pdf["text"]))


class Workload:
    """Shared loop state: samples per step kind, cycle walls, and the
    outputs kept for the checks."""

    name = ""
    op_kind = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.samples: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self.attempted = 0
        self.failed = 0

    def timed(self, kind: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def query(self, index_dir: str, qdf, cfg, conjunctive: bool = False):
        """One bm25_topk_wand call, its result collected."""
        tracer = self.ctx.tracer
        with tracer.span("query_wand"):
            with tracer.span("plan"):
                df = qw.bm25_topk_wand(self.ctx.spark, index_dir, qdf, cfg,
                                       conjunctive=conjunctive)
            with tracer.span("score"):
                return df.collect()

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def trace_extras(self) -> None:
        """Traced-run probes that run after the window."""

    def replay(self, layers: dict) -> dict:
        """Add the Spark-free kernel replay figures to ``layers``."""
        return layers


class Search(Workload):
    """Interactive calls interleaved with one OR batch and one AND batch
    of the same 100 queries, on a default-layout index."""

    name = "search"
    op_kind = "query"

    def make_inputs(self) -> None:
        self.pdf = gen_pages_pandas(SEARCH_DOCS, 0, self.ctx.seed)
        self.queries = reference_queries()
        self.next_q = 0
        self.interactive: list[tuple[pd.DataFrame, list]] = []
        self.batches: list[tuple[bool, list]] = []

    def setup(self) -> None:
        path = os.path.join(self.ctx.work, "pages.parquet")
        stage(self.pdf, path)
        self.cfg = IndexConfig()
        self.index = os.path.join(self.ctx.work, "index")
        mbuild.build_full_index(self.ctx.spark, self.ctx.spark.read.parquet(path),
                                self.cfg, self.index)
        self.batch_df = self.ctx.spark.createDataFrame(self.queries, QUERIES_SCHEMA)
        # one untimed cycle: the first call of each kind in a JVM pays
        # one-off plan compilation and Python worker start-up
        self.cycle()
        self.samples.clear()
        self.interactive.clear()
        self.batches.clear()

    def _interactive(self) -> None:
        q = self.queries.iloc[[self.next_q % len(self.queries)]]
        self.next_q += 1
        rows = self.timed("query", lambda: self.query(
            self.index, self.ctx.spark.createDataFrame(q, QUERIES_SCHEMA), self.cfg))
        self.interactive.append((q, rows))

    def _batch(self, conjunctive: bool) -> None:
        kind = "batch_and" if conjunctive else "batch_or"
        rows = self.timed(kind, lambda: self.query(
            self.index, self.batch_df, self.cfg, conjunctive))
        self.batches.append((conjunctive, rows))

    def cycle(self) -> None:
        self._interactive()
        self._batch(False)
        self._interactive()
        self._batch(True)

    def check(self) -> None:
        texts = dict(zip(self.pdf["url"], self.pdf["text"]))
        url_to_id = checks.read_docmap(self.index, mf.current_gen(self.index))
        if not checks.docmap_ok(texts, url_to_id):
            for _ in range(len(self.interactive) + len(self.batches)):
                self.record(False)
            return
        expected = checks.ExpectedTopK(checks.build_oracle(texts, url_to_id))
        for q, rows in self.interactive:
            self.record(checks.batch_ok(rows, q, expected))
        for conjunctive, rows in self.batches:
            self.record(checks.batch_ok(rows, self.queries, expected, conjunctive))

    def index_bytes_per_text_byte(self) -> float:
        return dir_bytes(mf.gen_dir(self.index, 1)) / text_bytes(self.pdf)

    def table(self, med) -> dict[str, tuple[float, str]]:
        n = len(self.queries)
        return {"query_p50_s": (med("query"), "s"),
                "batch_or_qps": (n / med("batch_or"), "1/s"),
                "batch_and_qps": (n / med("batch_and"), "1/s")}

    def replay(self, layers: dict) -> dict:
        layers.update(replay.extract(list(self.pdf["html"])))
        layers.update(replay.codec(self.index, 1))
        layers.update(replay.kernels(self.index, self.queries, self.cfg, conjunctive=False))
        layers.update(replay.kernels(self.index, self.queries, self.cfg, conjunctive=True))
        return layers


class Lifecycle(Workload):
    """Full build of snapshot 1, incremental build of snapshot 3 onto it,
    a query batch on the two-generation chain, compaction, and the batch
    again on the compacted index."""

    name = "lifecycle"
    op_kind = "build"

    def make_inputs(self) -> None:
        snaps = gen_snapshots_pandas(LIFECYCLE_DOCS, self.ctx.seed)
        self.snap1, self.snap3 = snaps[1], snaps[3]
        # every fourth query: 25 queries spanning all query shapes
        self.queries = reference_queries().iloc[::4].reset_index(drop=True)
        self.done: list[tuple[str, list, list]] = []

    def setup(self) -> None:
        spark, work = self.ctx.spark, self.ctx.work
        p1, p3 = os.path.join(work, "snap1.parquet"), os.path.join(work, "snap3.parquet")
        stage(self.snap1, p1)
        stage(self.snap3, p3)
        self.pages1, self.pages3 = spark.read.parquet(p1), spark.read.parquet(p3)
        # untimed warm-up build: the first build in a JVM pays one-off plan
        # compilation and Python worker start-up
        mbuild.build_full_index(spark, self.pages1, LIFECYCLE_CFG,
                                os.path.join(work, "warmup"))
        self.batch_df = spark.createDataFrame(self.queries, QUERIES_SCHEMA)

    def cycle(self) -> None:
        spark, cfg = self.ctx.spark, LIFECYCLE_CFG
        d = os.path.join(self.ctx.work, f"cycle{len(self.done)}")
        self.timed("build", lambda: mbuild.build_full_index(spark, self.pages1, cfg, d))
        self.timed("incremental", lambda: mbuild.build_incremental(
            spark, self.pages3, cfg, d, gen=2))
        chain = self.timed("chain_batch", lambda: self.query(d, self.batch_df, cfg))
        self.timed("compact", lambda: mmerge.compact(spark, d, cfg, new_gen=3))
        compacted = self.timed("compacted_batch", lambda: self.query(d, self.batch_df, cfg))
        self.done.append((d, chain, compacted))

    def check(self) -> None:
        texts1 = dict(zip(self.snap1["url"], self.snap1["text"]))
        texts3 = dict(zip(self.snap3["url"], self.snap3["text"]))
        for d, chain, compacted in self.done:
            full = checks.read_docmap(d, 1)
            build_ok = checks.docmap_ok(texts1, full) and checks.postings_ok(
                d, 1, checks.build_oracle(texts1, full))
            self.record(build_ok)
            # the chain's live docmap, read through the generations that
            # compaction left in place (only _CURRENT moved)
            readded = checks.read_docmap(d, 2)
            dead = set(pq.read_table(os.path.join(mf.gen_dir(d, 2), "tombstones.parquet"))
                       .column("doc_id").to_pylist())
            live = {u: i for u, i in {**full, **readded}.items()
                    if i not in dead or u in readded}
            incr_ok = checks.docmap_ok(texts3, live, dense_from=None)
            compact_ok = checks.read_docmap(d, 3) == live
            self.record(incr_ok)
            self.record(compact_ok)
            if not incr_ok:
                self.record(False)
                self.record(False)
                continue
            expected = checks.ExpectedTopK(checks.build_oracle(texts3, live))
            self.record(checks.batch_ok(chain, self.queries, expected))
            self.record(compact_ok and checks.batch_ok(compacted, self.queries, expected))

    def index_dir(self) -> str:
        return self.done[-1][0]

    def index_bytes_per_text_byte(self) -> float:
        return dir_bytes(mf.gen_dir(self.index_dir(), 1)) / text_bytes(self.snap1)

    def table(self, med) -> dict[str, tuple[float, str]]:
        return {"build_docs_per_s": (LIFECYCLE_DOCS / med("build"), "1/s"),
                "incr_publish_s": (med("incremental"), "s"),
                "chain_batch_s": (med("chain_batch"), "s"),
                "compact_s": (med("compact"), "s"),
                "compacted_batch_s": (med("compacted_batch"), "s")}

    def trace_extras(self) -> None:
        # the per-range tombstone arrays every chain query joins in
        with self.ctx.tracer.span("tombstones"):
            qw.tombstones_per_range(self.ctx.spark, self.index_dir(), [1, 2],
                                    LIFECYCLE_CFG.doc_range_size).collect()

    def replay(self, layers: dict) -> dict:
        layers.update(replay.extract(list(self.snap1["html"])))
        layers.update(replay.codec(self.index_dir(), 3))
        layers.update(replay.kernels(self.index_dir(), self.queries, LIFECYCLE_CFG,
                                     conjunctive=False))
        return layers


WORKLOADS = {w.name: w for w in (Search, Lifecycle)}
