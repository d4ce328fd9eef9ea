"""Checks on the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import eventlog, inputs
from perfbench.run import Runner
from perfbench.workloads import ExtractCrawl, compare_rows, normalize, text_digest

URLS = [f"https://host{i:03d}.example.com/page{i:06d}" for i in range(4)]


class _Spark:
    class sparkContext:
        @staticmethod
        def cancelAllJobs():
            pass


class _FakeCrawl(ExtractCrawl):
    """ExtractCrawl whose timed call writes a canned output; the call tagged
    "flip" changes one url's text by one character."""

    rows = len(URLS)

    def run(self, spark, out, tag):
        texts = [f"main text {i}" for i in range(len(URLS))]
        if tag == "flip":
            texts[2] = texts[2] + "."
        os.makedirs(os.path.join(out, "extracted"))
        pq.write_table(
            pa.table({"url": URLS, "extracted_text": texts}),
            os.path.join(out, "extracted", "part-0.parquet"),
        )
        os.makedirs(os.path.join(out, "lineage"))
        pq.write_table(
            pa.table({"status": ["done"] * 2, "rows_out": [2, 2]}),
            os.path.join(out, "lineage", "part-0.parquet"),
        )


def test_one_flipped_url_counts_the_call_failed(tmp_path):
    wl = _FakeCrawl(str(tmp_path), seed=0)
    wl.expected = {u: text_digest(f"main text {i}") for i, u in enumerate(URLS)}
    runner = Runner(wl, _Spark())
    ok = runner.finish(runner.call("same"))
    bad = runner.finish(runner.call("flip"))
    assert ok.problems == []
    assert bad.problems == [f"extracted_text differs for {URLS[2]}"]
    assert (runner.attempted, runner.failed) == (2, 1)


def test_a_raising_call_counts_failed(tmp_path):
    class Boom(_FakeCrawl):
        def run(self, spark, out, tag):
            raise RuntimeError("lost executor")

    runner = Runner(Boom(str(tmp_path), seed=0), _Spark())
    c = runner.finish(runner.call("x"))
    assert c.wall is None and c.problems
    assert (runner.attempted, runner.failed) == (1, 1)


def test_twin_comparison_ignores_row_order_but_not_values():
    want = normalize(["doc_id", "digest"], [(1, "a"), (2, "b")])
    assert compare_rows("q", (["digest", "doc_id"], [("b", 2), ("a", 1)]), want) == []
    assert compare_rows("q", (["doc_id", "digest"], [(1, "a"), (2, "c")]), want) == ["q: values differ from twin"]
    assert compare_rows("q", (["doc_id", "digest"], [(1, "a")]), want) == ["q: 1 rows vs twin 2"]


def test_eventlog_folds_tasks_into_the_span_of_their_job_group(tmp_path):
    events = [
        {"Event": eventlog.SQL_PLAN_EVENTS[0], "executionId": 3,
         "physicalPlanDescription": "FileScan parquet Location: InMemoryFileIndex(1 paths)[file:/w/pages]"},
        {"Event": eventlog.SQL_PLAN_EVENTS[0], "executionId": 4,
         "physicalPlanDescription": "FileScan parquet Location: InMemoryFileIndex(1 paths)[file:/w/out]"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "lineage_main_0_8", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "lineage_main_0_8", "spark.sql.execution.id": "4"}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task End Reason": {"Reason": reason},
         "Task Info": {"Accumulables": [{"Name": eventlog.PY_IN, "Update": "100"}]},
         "Task Metrics": {"Executor Run Time": 10, "Executor CPU Time": 5_000_000,
                          "Input Metrics": {"Records Read": 7}}}
        for sid, reason in ((0, "Success"), (1, "ExceptionFailure"), (2, "Success"), (3, "Success"))
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    spans = eventlog.fold(str(path), lambda g: "main.0" if g and g.startswith("lineage_main_0") else None, "/w/pages")
    s = spans["main.0"]
    assert (s.jobs, s.tasks, s.failed_tasks, s.python_in) == (2, 3, 1, 300)
    # the read-back of the output is input read, but not a scan of the pages
    assert (s.records_read, s.scan_records) == (21, 14)
    assert list(spans) == ["main.0"]


def test_sampled_tables_are_fixed_by_the_seed():
    a = inputs.sample_table("documents", 50, seed=7)
    assert a.equals(inputs.sample_table("documents", 50, seed=7))
    ids = a["doc_id"].to_pylist()
    assert len(set(ids)) == 50
    assert ids != inputs.sample_table("documents", 50, seed=8)["doc_id"].to_pylist()
    assert a.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
