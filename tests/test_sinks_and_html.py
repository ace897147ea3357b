"""Fan-out sink tests (SURVEY §3.3: archive + email with graceful
degradation) and the S2 HTML sibling-join extractor."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from automated_property_data_ingestion_document_pipeline_spark.operators.joins import salted_join
from automated_property_data_ingestion_document_pipeline_spark.sources.html_source import (
    _SiblingExtract,
    extract_field,
)
from automated_property_data_ingestion_document_pipeline_spark.streaming import sinks

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def test_html_sibling_extract_semantics():
    html = (
        "<html><table><tr><th>Owner</th><td>Jo</td></tr>"
        "<tr><th>Parcel ID</th><td>  069-123  </td></tr></table></html>"
    )
    assert _SiblingExtract.extract(html, "Parcel ID") == "069-123"
    assert _SiblingExtract.extract("<p>no table</p>", "Parcel ID") is None
    assert _SiblingExtract.extract(None, "Parcel ID") is None


def test_html_extract_df_null_contract(spark):
    df = spark.createDataFrame(
        [
            (1, "<table><tr><th>Parcel ID</th><td>A-1</td></tr></table>"),
            (2, "<table><tr><th>Other</th><td>x</td></tr></table>"),
            (3, None),
        ],
        "id bigint, page string",
    )
    got = {r["id"]: r["pid"] for r in extract_field(df, "page", "Parcel ID", "pid").collect()}
    assert got == {1: "A-1", 2: None, 3: None}


def test_email_sink_gracefully_skips_without_config(spark, monkeypatch):
    for k in ("SMTP_HOST", "SMTP_PORT", "SMTP_USER", "SMTP_PASS", "SMTP_FROM"):
        monkeypatch.delenv(k, raising=False)
    assert not sinks.smtp_config_complete()
    df = spark.createDataFrame([("a@b.c", "hi")], "customer_email string, letter_text string")
    sinks.email_foreach_batch(df, batch_id=0)  # must not raise (app.py:131-133)


def test_archive_foreach_batch_writes_partitioned(spark):
    import shutil

    out = os.path.join(SCRATCH, "sink_archive")
    shutil.rmtree(out, ignore_errors=True)
    df = spark.createDataFrame(
        [("jo", 1), ("al", 2), ("jo", 3)], "client_key string, v int"
    )
    sinks.archive_batch(df, out, batch_id=0)
    back = spark.read.parquet(os.path.join(out, "archive"))
    assert back.count() == 3
    assert back.filter(F.col("client_key") == "jo").count() == 2


def test_archive_batch_replay_is_idempotent(spark):
    """A failed-and-retried micro-batch re-runs foreachBatch with the SAME
    batch_id; the sink must overwrite, not duplicate (ADVICE round 1)."""
    import shutil

    out = os.path.join(SCRATCH, "sink_archive_replay")
    shutil.rmtree(out, ignore_errors=True)
    df = spark.createDataFrame(
        [("jo", 1), ("al", 2), ("jo", 3)], "client_key string, v int"
    )
    sinks.archive_batch(df, out, batch_id=7)
    sinks.archive_batch(df, out, batch_id=7)  # replay of the same batch
    back = spark.read.parquet(os.path.join(out, "archive"))
    assert back.count() == 3  # overwrite, not append
    # a different batch id lands beside it
    sinks.archive_batch(df.limit(1), out, batch_id=8)
    assert spark.read.parquet(os.path.join(out, "archive")).count() == 4


def test_salted_join_matches_plain_join(spark):
    """The salt must never lose or duplicate a pair: on negative, NULL
    and string salt ids, NULL join keys and one hot key, the salted
    join returns exactly the plain join's rows (as a multiset)."""
    from collections import Counter

    rows = [(i - 150 if i % 7 else None, f"s{i}", 0 if i % 4 else i % 3) for i in range(300)]
    rows += [(-1, None, 1), (5, "s5", None)]  # NULL string id; NULL join key
    big = spark.createDataFrame(rows, "id int, sid string, k int")
    dim = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two"), (None, "null")], "k int, label string"
    )
    plain = Counter(map(tuple, big.join(dim, "k").select("id", "sid", "k", "label").collect()))
    assert sum(plain.values()) == 301
    for salt_by in ("id", "sid"):
        salted = salted_join(big, dim, "k", salt_by, 4)
        assert salted.columns == big.join(dim, "k").columns  # no _salt leaks
        got = Counter(map(tuple, salted.select("id", "sid", "k", "label").collect()))
        assert got == plain, salt_by


def test_udtf_extracts_all_pairs_with_lateral_fanout(spark):
    from automated_property_data_ingestion_document_pipeline_spark.sources.html_source import (
        _AllPairs,
        make_extract_fields_udtf,
    )

    html = (
        "<html><table><tr><th>Owner</th><td>Jo</td></tr>"
        "<tr><th>Parcel ID</th><td> \xa0069-123 </td></tr></table></html>"
    )
    assert _AllPairs.extract(html) == [("Owner", "Jo"), ("Parcel ID", "069-123")]
    assert _AllPairs.extract(None) == [] and _AllPairs.extract("<p>x</p>") == []

    df = spark.createDataFrame(
        [(1, html), (2, "<p>no table</p>"), (3, None)], "id bigint, page string"
    )
    df.createOrReplaceTempView("_udtf_test_pages")
    spark.udtf.register("extract_fields_t", make_extract_fields_udtf())
    rows = spark.sql(
        "SELECT p.id, f.field, f.value "
        "FROM _udtf_test_pages p, LATERAL extract_fields_t(p.page) f"
    ).collect()
    # inner lateral: rows 2 and 3 produce nothing; row 1 fans out to 2
    assert {(r["id"], r["field"], r["value"]) for r in rows} == {
        (1, "Owner", "Jo"),
        (1, "Parcel ID", "069-123"),
    }
