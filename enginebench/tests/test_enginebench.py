"""Tests of the benchmark's own rules: the tail-percentile rule, metric
naming, the event-log parser on a canned log, and the oracle check.

    python -m pytest enginebench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import stats  # noqa: E402
from spans import LayerTable, Span, parse_event_log  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# -- tail percentile ---------------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert stats.tail_percentile([1.0] * 10) is None
    assert stats.tail_percentile([]) is None


@pytest.mark.parametrize("n, pct, rank", [(11, 100 / 11, 0), (20, 50.0, 9), (100, 90.0, 89)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, rank):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted input
    got_pct, got = stats.tail_percentile(values)
    assert got_pct == pytest.approx(pct)
    assert got == sorted(values)[rank]
    assert sum(v > got for v in values) == 10


# -- metric names --------------------------------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "wand.groups_wand", "a", "9x", "a-b.c_d", "x" * 64])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_spec_names_and_units_follow_the_rules():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(m["unit"]) for m in metrics)
    assert all(m["better"] in ("lower", "higher") for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_end_to_end_emits_exactly_the_spec_metrics():
    import run

    class FakeWorkload:
        op_kind = "step"
        samples = {"step": [1.0, 3.0, 2.0]}
        cycles = [4.0]
        attempted, failed = 4, 1

        def index_bytes_per_text_byte(self):
            return 0.25

    e2e = run.end_to_end(FakeWorkload(), 7.5, 3 * 2**20)
    assert list(e2e) == [m["name"] for m in SPEC["end_to_end"]]
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: u for k, (_, u) in e2e.items()} == units
    assert e2e["op_p50_s"][0] == 2.0
    assert e2e["success_rate"][0] == 0.75
    assert e2e["peak_pss_mb"][0] == 3.0


# -- event-log parser ----------------------------------------------------------

def _ev(**kw):
    return json.dumps(kw)


def _stage_done(sid, sub, done, scopes=()):
    rdds = [{"RDD ID": i, "Scope": json.dumps({"id": str(i), "name": s})}
            for i, s in enumerate(scopes)]
    return _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {
        "Stage ID": sid, "Submission Time": sub, "Completion Time": done,
        "Number of Tasks": 2, "RDD Info": rdds}})


def _task(sid, run_ms, shuffle_w=0, records=0):
    return _ev(Event="SparkListenerTaskEnd", **{"Stage ID": sid, "Task Metrics": {
        "Executor Run Time": run_ms,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        "Input Metrics": {"Records Read": records}}})


def _job(jid, sub, done, stages, desc=None):
    props = {"spark.job.description": desc} if desc else {}
    return [_ev(Event="SparkListenerJobStart", **{"Job ID": jid, "Submission Time": sub,
                                                  "Stage IDs": stages, "Properties": props}),
            _ev(Event="SparkListenerJobEnd", **{"Job ID": jid, "Completion Time": done})]


CANNED = [
    _ev(Event="SparkListenerApplicationStart", **{"App ID": "local-1"}),
    # full build 1000..5000: staging job, then segments 2000..5000 with a
    # tagged writer job and an untagged job from an engine helper thread
    *_job(0, 1100, 1900, [0], desc="build"),
    _stage_done(0, 1100, 1900, ["Scan parquet", "ArrowEvalPython"]),
    _task(0, 600, records=100), _task(0, 500, records=100),
    *_job(1, 2100, 4800, [1, 2], desc="build/segments"),
    _stage_done(1, 2100, 3000, ["Exchange"]), _task(1, 800, shuffle_w=4096),
    _task(1, 700, shuffle_w=4096),
    _stage_done(2, 3000, 4800, ["FlatMapGroupsInPandas"]), _task(2, 1500), _task(2, 1400),
    *_job(2, 2200, 2600, [3]),
    _stage_done(3, 2200, 2600), _task(3, 300),
    # query 6000..7000: one plan job with a MapInPandas stage, one score job
    *_job(3, 6100, 6400, [4], desc="query_wand/plan"),
    _stage_done(4, 6100, 6400, ["MapInPandas"]), _task(4, 250, records=40),
    *_job(4, 6500, 6900, [5], desc="query_wand/score"),
    _stage_done(5, 6500, 6900, ["FlatMapGroupsInPandas"]), _task(5, 300, records=60),
    _task(5, 200, records=0),
    # a job outside every span
    *_job(5, 8000, 8500, [6]),
    _stage_done(6, 8000, 8500), _task(6, 1000),
]

SPANS = [
    Span("build", 1000, 5000, result=None),
    Span("build/segments", 2000, 5000, result=[
        {"n_postings": 10, "bytes_written": 100}, {"n_postings": 30, "bytes_written": 300}]),
    Span("query_wand", 6000, 7000), Span("query_wand/plan", 6000, 6450),
    Span("query_wand/score", 6450, 7000),
]


def test_parser_reads_jobs_stages_and_tasks():
    jobs, stages = parse_event_log(CANNED)
    assert sorted(jobs) == [0, 1, 2, 3, 4, 5]
    assert jobs[1].description == "build/segments" and jobs[2].description is None
    assert jobs[1].stage_ids == [1, 2] and jobs[1].end_ms == 4800
    assert stages[1].tasks == 2 and stages[1].executor_ms == 1500
    assert stages[1].shuffle_write_bytes == 8192
    assert stages[0].records_read == 200
    assert "MapInPandas" in stages[4].scopes


def test_layer_table_attributes_jobs_to_spans():
    jobs, stages = parse_event_log(CANNED)
    table = LayerTable(jobs, stages, SPANS, cores=4)
    # the untagged helper-thread job lands in the innermost open span
    assert jobs[2].span.path == "build/segments"
    assert jobs[5].span is None
    m = table.metrics()
    assert m["build.staging.wall_s"] == pytest.approx(1.0)
    assert m["build.staging.executor_s"] == pytest.approx(1.1)
    assert m["build.staging.tasks"] == 2
    assert m["build.staging.core_occupancy"] == pytest.approx(1.1 / 4)
    assert m["build.jobs_per_call"] == 3
    # union of job intervals 1100..1900 and 2100..4800 = 3.5 s of 4.0 s
    assert m["build.driver_s"] == pytest.approx(0.5)
    assert m["segments.wall_s"] == pytest.approx(3.0)
    assert m["segments.executor_s"] == pytest.approx(4.7)
    assert m["segments.shuffle_write_bytes"] == 8192
    assert m["segments.tasks"] == 5
    assert m["segments.groups"] == 2
    assert m["segments.postings"] == 40
    assert m["segments.bytes_written"] == 400
    assert m["query_wand.jobs_per_call"] == 2
    assert m["query_wand.driver_s"] == pytest.approx(1.0 - 0.3 - 0.4)
    assert m["query_wand.plan_jobs_s"] == pytest.approx(0.3)
    assert m["query_wand.live_df_s"] == pytest.approx(0.3)
    assert m["query_wand.score.executor_s"] == pytest.approx(0.5)
    assert m["query_wand.score.tasks"] == 2
    assert m["query_wand.scan_rows"] == 100
    assert m["merge.wall_s"] == 0.0  # no compaction in this log
    # executor time of jobs submitted 0..10000: 1100+1500+2900+300+250+500+1000
    assert table.job_coverage(0, 10_000) == pytest.approx(6550 / 7550)


# -- oracle check --------------------------------------------------------------

DOCS = {"u0": "alpha beta beta gamma", "u1": "beta gamma", "u2": "alpha alpha delta",
        "u3": "gamma gamma gamma beta alpha"}


@pytest.fixture()
def expected():
    url_to_id = {u: i for i, u in enumerate(sorted(DOCS))}
    assert checks.docmap_ok(DOCS, url_to_id)
    return checks.ExpectedTopK(checks.build_oracle(DOCS, url_to_id))


def test_oracle_check_accepts_the_right_answer(expected):
    want = expected.topk("alpha beta", 3)
    assert len(want) == 3
    assert checks.topk_matches(list(want), want)


@pytest.mark.parametrize("corrupt", ["swap", "score", "drop", "extra_doc"])
def test_oracle_check_flags_a_corrupted_result(expected, corrupt):
    want = expected.topk("alpha beta", 3)
    got = list(want)
    if corrupt == "swap":
        got[0], got[1] = got[1], got[0]
    elif corrupt == "score":
        got[0] = (got[0][0], got[0][1] + 1e-4)
    elif corrupt == "drop":
        got = got[:-1]
    else:
        got[-1] = (99, got[-1][1])  # a doc id the corpus does not have
    assert not checks.topk_matches(got, want)


def test_conjunctive_answers_are_restricted_to_docs_with_every_term(expected):
    both = {d for d, _ in expected.topk("alpha beta", 10, conjunctive=True)}
    assert both == {0, 3}
    assert expected.topk("alpha zzzoov", 10, conjunctive=True) == []


def test_batch_check_fails_on_one_wrong_query(expected):
    import pandas as pd

    queries = pd.DataFrame({"query_id": [0, 1], "query_text": ["alpha", "gamma"], "k": [2, 2]})
    rows = [{"query_id": q.query_id, "rank": r + 1, "doc_id": d, "score": s}
            for q in queries.itertuples()
            for r, (d, s) in enumerate(expected.topk(q.query_text, 2))]
    assert checks.batch_ok(rows, queries, expected)
    rows[-1] = dict(rows[-1], doc_id=rows[-1]["doc_id"] + 1)
    assert not checks.batch_ok(rows, queries, expected)


def test_docmap_check_requires_the_dense_url_rank():
    ids = {u: i for i, u in enumerate(sorted(DOCS))}
    assert checks.docmap_ok(DOCS, ids)
    swapped = dict(ids, u0=1, u1=0)
    assert not checks.docmap_ok(DOCS, swapped)
    assert checks.docmap_ok(DOCS, swapped, dense_from=None)
    assert not checks.docmap_ok(DOCS, dict(ids, u3=0), dense_from=None)


# -- postings check and kernel replay on a small on-disk index ----------------

def _write_index(root, docs: dict[str, str], corrupt: str | None = None):
    """A one-generation index in the engine's on-disk layout, written
    straight from the oracle's postings (one bucket, one docID range)."""
    import os
    from collections import Counter

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mee_spark import manifest as mf
    from mee_spark.codec import encode_postings
    from mee_spark.config import IndexConfig, layout_record
    from mee_spark.segments import SEGMENT_SCHEMA
    from mee_spark.textprep import py_tokenize

    url_to_id = {u: i for i, u in enumerate(sorted(docs))}
    postings: dict[str, dict[int, int]] = {}
    dl = {}
    for u, text in docs.items():
        toks = py_tokenize(text)
        dl[url_to_id[u]] = len(toks)
        for t, tf in Counter(toks).items():
            postings.setdefault(t, {})[url_to_id[u]] = tf
    rows = []
    for term in sorted(postings):
        ids = np.array(sorted(postings[term]), dtype=np.int64)
        tfs = np.array([postings[term][d] for d in ids], dtype=np.int64)
        if corrupt == "tf" and term == "beta":
            tfs[0] += 1
        if corrupt == "drop" and term == "delta":
            continue
        enc = encode_postings(ids, tfs, np.array([dl[d] for d in ids]))
        rows.append({"term": term, "range_id": 0, "df_local": len(ids), **enc})
    seg = os.path.join(mf.segments_dir(str(root), 1), "bucket=0")
    os.makedirs(seg)
    pq.write_table(pa.Table.from_pylist(rows, schema=SEGMENT_SCHEMA),
                   os.path.join(seg, "range_0.parquet"))
    pq.write_table(pa.table({"url": list(url_to_id), "doc_id": list(url_to_id.values())}),
                   os.path.join(mf.gen_dir(str(root), 1), "docmap.parquet"))
    mf.write_manifest(str(root), 1, parent=None, n_docs_live=len(docs),
                      sum_dl_live=sum(dl.values()), metrics={}, lineage={},
                      extra={"config": layout_record(IndexConfig())})
    mf.publish(str(root), 1)
    return url_to_id


def test_postings_check_accepts_a_faithful_index(tmp_path):
    url_to_id = _write_index(tmp_path, DOCS)
    assert checks.read_docmap(str(tmp_path), 1) == url_to_id
    assert checks.postings_ok(str(tmp_path), 1, checks.build_oracle(DOCS, url_to_id))


@pytest.mark.parametrize("corrupt", ["tf", "drop"])
def test_postings_check_flags_a_corrupted_index(tmp_path, corrupt):
    url_to_id = _write_index(tmp_path, DOCS, corrupt)
    assert not checks.postings_ok(str(tmp_path), 1, checks.build_oracle(DOCS, url_to_id))


def test_replay_routes_by_wand_min_postings(tmp_path):
    import dataclasses

    import pandas as pd

    import replay
    from mee_spark.config import IndexConfig

    _write_index(tmp_path, DOCS)
    queries = pd.DataFrame({"query_id": [0, 1, 2], "k": [2, 2, 2],
                            "query_text": ["alpha beta", "gamma", "delta zzzoov"]})
    exhaustive = replay.kernels(str(tmp_path), queries, IndexConfig(), conjunctive=False)
    assert exhaustive["wand.groups_exhaustive"] == 3 and exhaustive["wand.groups_wand"] == 0
    forced = dataclasses.replace(IndexConfig(), wand_min_postings=0)
    wand = replay.kernels(str(tmp_path), queries, forced, conjunctive=False)
    assert wand["wand.groups_wand"] == 3 and wand["wand.groups_exhaustive"] == 0
    assert 0 < wand["wand.docs_scored_ratio"] <= 1
    conj = replay.kernels(str(tmp_path), queries, IndexConfig(), conjunctive=True)
    assert conj["wand.groups_conjunctive"] == 3

    # every per-layer metric of the spec has a producer
    jobs, stages = parse_event_log(CANNED)
    produced = set(LayerTable(jobs, stages, SPANS, cores=4).metrics())
    produced |= set(replay.codec(str(tmp_path), 1)) | set(replay.extract([b"<p>a</p>"]))
    produced |= set(exhaustive) | set(conj) | {"trace.overhead", "trace.job_coverage"}
    assert produced == {m["name"] for m in SPEC["per_layer"]}
