"""Ledger metrics and per-bucket parallelism of run_extraction_job.

The job observes ``rows_in``/``bytes_in`` in the pass that writes the
bucket, and spreads a bucket's parse over ``defaultParallelism`` tasks.
These tests pin both: the ledger figures must equal a separate
``agg(count, sum(octet_length(html)))`` over the same filtered frame
(the scan the observation replaced), and a bucket large enough to fill
every core must not be parsed by a single task.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from fusus_spark.extraction.pipeline import extract_stage, words_from_stage
from fusus_spark.operators.robots import apply_robots_optout
from fusus_spark.schema import DOCUMENTS_SCHEMA
from fusus_spark.sources.ledger import (
    Ledger,
    _content_rows,
    _doc_splitters,
    run_extraction_job,
    with_bucket,
    write_bucketed_input,
)
from tests.fixtures import FIXTURE_MAX_HTML_BYTES, fixture_documents

N_BUCKETS = 4
EMPTY_BUCKET = 1  # no input rows at all
NOINDEX_BUCKET = 2  # every row opts out: empty only under respect_robots
NOINDEX = b'<meta name="robots" content="noindex">'


@pytest.fixture(scope="module")
def ledger_input(spark, tmp_path_factory):
    """Fixture corpus plus envelope-only 3xx rows, laid out in buckets:
    one bucket left empty, one whose pages all declare noindex, and
    every third page elsewhere declaring it too."""
    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"], 200)
        for d in fixture_documents()
    ]
    rows += [(f"https://moved.example/{i}", None, None, None, None, 301) for i in range(4)]
    schema = T.StructType([*DOCUMENTS_SCHEMA.fields, T.StructField("http_status", T.IntegerType())])
    docs = with_bucket(spark.createDataFrame(rows, schema=schema), N_BUCKETS)
    opted = (F.col("bucket") == NOINDEX_BUCKET) | (F.crc32(F.col("url")) % 3 == 0)
    docs = (
        docs.where(F.col("bucket") != EMPTY_BUCKET)
        .withColumn(
            "html",
            F.when(opted, F.concat(F.lit(bytearray(NOINDEX)), F.col("html")))
            .otherwise(F.col("html")),
        )
        .drop("bucket")
    )
    path = str(tmp_path_factory.mktemp("ledger_metrics") / "input")
    write_bucketed_input(docs, path, N_BUCKETS)
    assert not os.path.exists(os.path.join(path, f"bucket={EMPTY_BUCKET}"))
    return path


def _expected(spark, input_path: str, bucket: int, primary: str, respect_robots: bool):
    """(rows_in, bytes_in, rows_out) the way the job computed them
    before the observation: a separate aggregate over the filtered
    bucket, and the primary table built from the unrepartitioned frame."""
    docs = _content_rows(spark.read.parquet(input_path).where(F.col("bucket") == bucket))
    if respect_robots:
        docs = apply_robots_optout(docs)
    stats = docs.agg(
        F.count("*").alias("rows_in"),
        F.coalesce(F.sum(F.octet_length("html")), F.lit(0)).alias("bytes_in"),
    ).first()
    if primary == "words":
        out = words_from_stage(extract_stage(docs, max_html_bytes=FIXTURE_MAX_HTML_BYTES))
    else:
        out = _doc_splitters()[primary](
            docs.withColumn("html", F.substring("html", 1, FIXTURE_MAX_HTML_BYTES))
        )
    return stats["rows_in"], stats["bytes_in"], out.count()


@pytest.mark.parametrize(
    "emit, respect_robots",
    [
        (("words",), False),
        (("extracted", "words", "removals", "pagemeta"), False),
        (("pagemeta",), False),
        (("words",), True),
    ],
    ids=["words", "multi_emit", "doc_level_only", "robots"],
)
def test_ledger_metrics_match_a_separate_scan(spark, ledger_input, tmp_path, emit, respect_robots):
    """rows_in, bytes_in and rows_out per bucket equal a separate scan's
    figures for every emit shape, the empty bucket included. bytes_out
    is left out: it is the physical parquet size, which follows the
    number of part files the write happens to produce."""
    summary = run_extraction_job(
        spark, ledger_input, str(tmp_path / "out"), str(tmp_path / "ledger"), N_BUCKETS,
        emit=emit, max_html_bytes=FIXTURE_MAX_HTML_BYTES, respect_robots=respect_robots,
    )
    assert summary["processed"] == N_BUCKETS
    primary = "words" if "words" in emit else emit[0]
    got = {r["partition_id"]: r for r in Ledger(str(tmp_path / "ledger")).rows()}
    assert len(got) == N_BUCKETS
    for bucket in range(N_BUCKETS):
        rec = got[f"bucket={bucket}"]
        want = _expected(spark, ledger_input, bucket, primary, respect_robots)
        assert (rec["rows_in"], rec["bytes_in"], rec["rows_out"]) == want, bucket
    assert got[f"bucket={EMPTY_BUCKET}"]["rows_in"] == 0
    noindex_rows = got[f"bucket={NOINDEX_BUCKET}"]["rows_in"]
    assert (noindex_rows == 0) if respect_robots else (noindex_rows > 0)


def test_bucket_parse_spreads_over_every_core(spark, tmp_path):
    """A one-file bucket of 8 x defaultParallelism docs is parsed by
    more than one task: its committed directory holds more than one
    part file (one task writes one file)."""
    n_docs = 8 * spark.sparkContext.defaultParallelism
    rows = [
        (f"https://spread.example/{i}", None,
         f"<html><body><p>page {i} has words</p></body></html>".encode(), None, "en")
        for i in range(n_docs)
    ]
    inp = str(tmp_path / "input")
    write_bucketed_input(spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).coalesce(1), inp, 1)
    assert len([f for f in os.listdir(inp + "/bucket=0") if f.endswith(".parquet")]) == 1

    out = str(tmp_path / "out")
    run_extraction_job(spark, inp, out, str(tmp_path / "ledger"), 1)
    parts = [f for f in os.listdir(out + "/bucket=0") if f.startswith("part-")]
    assert len(parts) > 1, parts
    assert Ledger(str(tmp_path / "ledger")).get(0)["rows_in"] == n_docs
