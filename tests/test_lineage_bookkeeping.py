"""Lineage bookkeeping cost and integrity: each bucket group runs its write
job plus one lineage append, counts come from the observed write, and only
an absent lineage table means a first run."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from manga_translator_spark.schema import LINEAGE_SCHEMA, PAGES_SCHEMA
from manga_translator_spark.sources.lineage import done_buckets, read_lineage, run_extraction

N_BUCKETS = 8
PER_JOB = 4


def _jobs_in_group(spark, group_id: str) -> int:
    return len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(group_id))


def _lineage_files(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _mixed_pages(spark, corpus_rows):
    from manga_translator_spark.functions.pdf import make_pdf

    pdfs = [
        {
            "url": f"pdf://bookkeeping/{i}",
            "warc_ts": None,
            "html": make_pdf([(72, 600, 11, f"pdf body {i}")]),
            "text": "",
            "lang": "en",
        }
        for i in range(6)
    ]
    rows = [dict(r) for r in corpus_rows[:40]] + pdfs
    return spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)


@pytest.mark.parametrize("plan", ["default", "extract_any", "resume"])
def test_group_runs_two_jobs_and_rows_out_matches_output(spark, pages_df, corpus_rows, tmp_path, plan):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    pages, kw = pages_df, {}
    if plan == "extract_any":
        from manga_translator_spark.operators.pdf_extract import extract_any

        pages, kw = _mixed_pages(spark, corpus_rows), {"transform": extract_any}
    if plan == "resume":
        with pytest.raises(RuntimeError, match="injected failure"):
            run_extraction(
                spark, pages, out, lin, n_buckets=N_BUCKETS, buckets_per_job=PER_JOB,
                run_id=f"{plan}0", fail_buckets={7},
            )
        assert done_buckets(spark, lin) == {0, 1, 2, 3}
    run_id = f"{plan}1"
    run_extraction(spark, pages, out, lin, n_buckets=N_BUCKETS, buckets_per_job=PER_JOB, run_id=run_id, **kw)

    todo = N_BUCKETS - (PER_JOB if plan == "resume" else 0)
    for lo in range(0, todo, PER_JOB):
        assert _jobs_in_group(spark, f"lineage_{run_id}_{lo}") <= 2
    done = read_lineage(spark, lin).filter(F.col("status") == "done").collect()
    assert sorted(r["bucket"] for r in done) == list(range(N_BUCKETS))
    written = {r["bucket"]: r["count"] for r in spark.read.parquet(out).groupBy("bucket").count().collect()}
    assert {r["bucket"]: r["rows_out"] for r in done} == written
    assert all(r["rows_in"] == r["rows_out"] and r["rows_in_exact"] for r in done)
    assert sum(written.values()) == pages.count()


def test_absent_lineage_is_a_first_run_with_no_job(spark, tmp_path):
    lin = str(tmp_path / "absent")
    spark.sparkContext.setJobGroup("absent_lineage_probe", "probe")
    try:
        assert done_buckets(spark, lin) == set()
        empty = read_lineage(spark, lin)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, "absent_lineage_probe") == 0
    assert empty.schema == LINEAGE_SCHEMA
    assert empty.count() == 0


@pytest.mark.parametrize(
    "keep, error, match",
    [(0.0, OSError, "unreadable lineage table"), (0.5, Exception, "FAILED_READ_FILE")],
    ids=["emptied", "halved"],
)
def test_unreadable_lineage_raises_and_appends_nothing(spark, pages_df, tmp_path, keep, error, match):
    """A damaged lineage table is not a first run: the resume raises before
    any group runs instead of redoing done buckets and appending them
    again.  Spark's reader skips a zero-byte file without a word."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_extraction(spark, pages_df, out, lin, n_buckets=N_BUCKETS, buckets_per_job=PER_JOB)
    files = _lineage_files(lin)
    victim = os.path.join(lin, files[0])
    with open(victim, "r+b") as fh:
        fh.truncate(int(os.path.getsize(victim) * keep))
    os.remove(os.path.join(lin, f".{files[0]}.crc"))  # damaged outside Hadoop

    with pytest.raises(error, match=match):
        run_extraction(spark, pages_df, out, lin, n_buckets=N_BUCKETS, buckets_per_job=PER_JOB)
    assert _lineage_files(lin) == files
