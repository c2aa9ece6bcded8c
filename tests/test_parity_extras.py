"""Parity extras: spec (de)serialization, pandas examples, where= scoping."""

import datetime as dt
from typing import Literal, Optional

import pytest
from pyspark.sql import functions as F

import patito_spark as pt
from patito_spark.examples import pandas_examples
from patito_spark.plans.runner import ValidationRunner
from patito_spark.spec import model_from_spec_json


class Page(pt.Model):
    url: str = pt.Field(unique=True, pattern=r"^https?://")
    score: float = pt.Field(ge=0.0, le=1.0)
    lang: Optional[str] = pt.Field("en", allowed=["en", "de"])
    n: int = pt.Field(constraints=pt.field % 2 == 0)
    n2: int = pt.Field(derived_from=2 * pt.col("n"))


def test_spec_json_full_roundtrip(spark):
    rebuilt = model_from_spec_json(Page.spec_json())
    assert rebuilt.columns == Page.columns
    assert rebuilt.unique_columns == {"url"}
    assert rebuilt.specs["score"].ge == 0.0 and rebuilt.specs["score"].le == 1.0
    assert rebuilt.specs["lang"].allowed_values == ["en", "de"]
    assert rebuilt.specs["lang"].default == "en"
    assert rebuilt.specs["url"].pattern == r"^https?://"
    assert rebuilt.derived_columns == {"n2"}

    # the rebuilt model validates identically to the original
    df = spark.createDataFrame(
        [("https://a", 0.5, "en", 2, 4), ("nope", 2.0, "xx", 3, 6)],
        "url string, score double, lang string, n bigint, n2 bigint",
    )
    with pytest.raises(pt.DataFrameValidationError) as e1:
        Page.validate(df)
    with pytest.raises(pt.DataFrameValidationError) as e2:
        rebuilt.validate(df)
    assert sorted(
        (err["loc"], err["msg"], err["type"]) for err in e1.value.errors()
    ) == sorted((err["loc"], err["msg"], err["type"]) for err in e2.value.errors())


def test_spec_roundtrip_unsigned(spark):
    class U(pt.Model):
        v: int = pt.Field(dtype="uint8")

    rebuilt = model_from_spec_json(U.spec_json())
    assert rebuilt.specs["v"].ge == 0
    assert rebuilt.specs["v"].le == 255


def test_spec_json_roundtrip_date_and_timestamp_bounds(spark):
    """Date and timestamp bounds serialize as ISO strings and come back as
    dates and datetimes: the rebuilt north-rule model reports the same
    errors as the original on the synthetic page table."""
    from patito_spark.plans.checks import find_errors
    from patito_spark.testing import WebPage, synth_webpages

    class D(pt.Model):
        day: dt.date = pt.Field(ge=dt.date(2020, 1, 1), lt=dt.date(2021, 1, 1))
        ts: dt.datetime = pt.Field(const=dt.datetime(2020, 5, 1, 12, 30))

    rebuilt = model_from_spec_json(D.spec_json())
    assert rebuilt.specs["day"].ge == dt.date(2020, 1, 1)
    assert rebuilt.specs["day"].lt == dt.date(2021, 1, 1)
    assert rebuilt.specs["ts"].const == dt.datetime(2020, 5, 1, 12, 30)

    pages = synth_webpages(spark, 5_000, n_partitions=4).drop("crawl_date")
    rebuilt = model_from_spec_json(WebPage.spec_json())
    assert rebuilt.specs["warc_ts"].ge == WebPage.specs["warc_ts"].ge

    def listed(model):
        return sorted(
            (e.loc_tuple(), type(e.exc).__name__, str(e.exc))
            for e in find_errors(pages, model)
        )

    assert listed(rebuilt) == listed(WebPage)
    assert listed(WebPage)  # the table carries planted violations


def test_pandas_examples(spark):
    class M(pt.Model):
        uid: int = pt.Field(unique=True)
        zone: Literal["a", "b"]

    pdf = pandas_examples(M, {"uid": [1, 2, 3]}, spark=spark)
    assert list(pdf.columns) == ["uid", "zone"]
    assert sorted(pdf["uid"].tolist()) == [1, 2, 3]
    assert set(pdf["zone"]) == {"a"}


def test_runner_where_scoping(spark, tmp_path):
    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0)

    df = spark.range(100).select(
        (F.col("id") % 4).alias("k"), (F.col("id") - 50).alias("v")
    )
    result = ValidationRunner(M, "k").run(df, where=F.col("k") < 2)
    assert sorted(v["partition"] for v in result.verdicts) == ["0", "1"]


def test_write_report_table_create_then_append(spark):
    from patito_spark.sources import read_table, write_report_table

    table = "patito_test_report"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        df = spark.createDataFrame(
            [("en", "lang", 3), ("de", "lang", 0)],
            "partition string, `column` string, violations int",
        )
        write_report_table(df, table, partition_by=["partition"])
        assert read_table(spark, table).count() == 2
        write_report_table(df, table)  # second write appends, not replaces
        assert read_table(spark, table).count() == 4
        parts = spark.sql(f"SHOW PARTITIONS {table}").count()
        assert parts == 2  # partitionedBy landed in the table definition
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_tables_join_without_shuffle(spark):
    from pyspark.sql import functions as F

    from patito_spark.sources import read_table
    from patito_spark.sources.io import write_bucketed_table

    a, b = "patito_test_bkt_a", "patito_test_bkt_b"
    try:
        facts = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        dims = spark.range(100).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("d")
        )
        write_bucketed_table(facts, a, "k", n_buckets=8, sort_col="k")
        write_bucketed_table(dims, b, "k", n_buckets=8)
        # co-located join: both sides pre-clustered on k with equal bucket
        # counts → no Exchange in the plan (and disable broadcast so the
        # test proves bucketing, not broadcasting)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_table(spark, a).join(read_table(spark, b), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:1500]
            assert joined.count() == 100
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_index_bucket_pruning(spark, sf_dir):
    """Persisting the IVF index bucketed by centroid makes probe-time reads
    prune: scanning nprobe buckets touches only those buckets' files."""
    from pyspark.sql import functions as F

    from patito_spark.operators.similarity import build_ivf_index
    from patito_spark.sources.io import write_bucketed_table

    table = "patito_test_ivf"
    try:
        embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        indexed, _ = build_ivf_index(embeddings, n_centroids=8)
        write_bucketed_table(indexed, table, "_centroid", n_buckets=8)
        # the planner falls back to a plain scan when bucketing avoids no
        # shuffle; keep the bucketed scan so the bucket filter PRUNES
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            probe_scan = spark.table(table).filter(
                F.col("_centroid").isin(1, 3)
            )
            plan = probe_scan._jdf.queryExecution().executedPlan().toString()
            import re

            m = re.search(r"SelectedBucketsCount: (\d+) out of 8", plan)
            # buckets are hash(_centroid) % 8, so 2 centroids select ≤ 2
            assert m and int(m.group(1)) <= 2, plan[:1200]
        finally:
            spark.conf.unset(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_read_csv_alias_generator(spark, tmp_path):
    def lower(name: str) -> str:
        return name.lower()

    class M(pt.Model):
        model_config = {"alias_generator": lower}
        a: int
        b: float

    p = str(tmp_path / "x.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,2.5\n")
    from patito_spark.sources import read_csv

    out = read_csv(spark, p, M)
    assert out.collect()[0].asDict() == {"a": 1, "b": 2.5}


def test_write_validated_quarantine_split(spark, tmp_path):
    # batch twin of the streaming quarantine router: good rows land clean,
    # bad rows land annotated with the failing check names, counts exact
    from patito_spark.sources.io import write_validated

    class M(pt.Model):
        k: int
        v: int = pt.Field(ge=0, le=100)
        kind: str = pt.Field(allowed=["a", "b"])

    df = spark.createDataFrame(
        [(1, 5, "a"), (2, 150, "a"), (3, 7, "x"), (4, None, "b"), (5, 99, "b")],
        "k int, v int, kind string",
    )
    good_path = str(tmp_path / "good")
    bad_path = str(tmp_path / "bad")
    counts = write_validated(df, M, good_path, quarantine_path=bad_path)
    assert counts == {"written": 2, "quarantined": 3}
    good = spark.read.parquet(good_path)
    assert sorted(r["k"] for r in good.collect()) == [1, 5]
    assert "_violations" not in good.columns
    bad_rows = spark.read.parquet(bad_path).collect()
    bad = {r["k"]: list(r["_violations"]) for r in bad_rows}
    assert bad[2] == ["v__bound0"] and bad[3] == ["kind__enum"]
    assert bad[4] == ["v__null"]
    # spec lineage: every quarantined row names the model version that
    # flagged it (same convention as the streaming ingest quarantine)
    import hashlib

    want_hash = hashlib.md5(M.spec_json().encode()).hexdigest()
    assert {r["_spec_hash"] for r in bad_rows} == {want_hash}
    # no quarantine path: dropped but counted
    counts2 = write_validated(df, M, str(tmp_path / "good2"))
    assert counts2 == {"written": 2, "quarantined": 3}


def test_write_validated_and_ingest_quarantine_agree(spark, tmp_path):
    """The batch sink, the streaming ingest gate and the ``validate_stream``
    sink quarantine one batch under one model identically: same columns in
    the same order, same rows, same ``_violations`` and ``_spec_hash``."""
    from patito_spark.sources.io import write_validated
    from patito_spark.streaming.ingest import _make_batch_processor, read_quarantine
    from patito_spark.streaming.validate import validate_stream

    class Page(pt.Model):
        doc_id: int
        text: str
        lang: str = pt.Field(allowed=["en", "de"])
        n_chars: int = pt.Field(ge=1)

    batch = spark.createDataFrame(
        [(1, "first unique page body with plenty of words here", "en", 49),
         (2, "page francaise interdite par le contrat du modele", "fr", 49),
         (3, "second unique page body other words entirely now", "en", 0),
         (4, "third page breaks two checks at once in this row", "xx", -3)],
        "doc_id long, text string, lang string, n_chars long",
    )
    sink = str(tmp_path / "quarantine")
    counts = write_validated(batch, Page, str(tmp_path / "good"), sink)
    assert counts == {"written": 1, "quarantined": 3}
    root = str(tmp_path / "stores")
    _make_batch_processor(
        root, "doc_id", "text", dict(num_hashes=8, bands=4, shingle_n=3), model=Page
    )(batch, 0)
    source = str(tmp_path / "source")
    batch.write.parquet(source)
    stream_sink = str(tmp_path / "stream_quarantine")
    _, _, query = validate_stream(
        spark.readStream.schema(batch.schema).parquet(source),
        Page,
        quarantine_path=stream_sink,
        checkpoint_dir=str(tmp_path / "stream_ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    batch_side = spark.read.parquet(sink)
    ingest_side = read_quarantine(spark, root)
    stream_side = spark.read.parquet(stream_sink)
    assert batch_side.columns == ingest_side.columns == stream_side.columns == [
        "doc_id", "text", "lang", "n_chars", "_violations", "_spec_hash",
    ]

    assert (
        sorted(map(tuple, batch_side.collect()))
        == sorted(map(tuple, ingest_side.collect()))
        == sorted(map(tuple, stream_side.collect()))
    )
    assert [r["_violations"] for r in batch_side.orderBy("doc_id").collect()] == [
        ["lang__enum"], ["n_chars__bound0"], ["lang__enum", "n_chars__bound0"],
    ]


def test_write_validated_reads_sinks_back_with_their_schema(spark, tmp_path):
    """Each sink's count reads the written files with the written frame's
    schema: two jobs per sink (write, count), no schema-inference job."""
    from patito_spark.sources.io import write_validated

    class M(pt.Model):
        v: int = pt.Field(ge=0)

    df = spark.createDataFrame([(1,), (-1,), (2,)], "v int")
    sc = spark.sparkContext

    def job_ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    sc.setJobGroup("write-validated", "write_validated")
    try:
        counts = write_validated(
            df, M, str(tmp_path / "good"), quarantine_path=str(tmp_path / "bad")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    launched = job_ids() - before
    assert counts == {"written": 2, "quarantined": 1}
    assert launched <= set(sc.statusTracker().getJobIdsForGroup("write-validated"))
    # without a schema each read-back cost one more (inference) job: 8
    assert len(launched) <= 6, sorted(launched)
    # append: the counts still include the rows already at the sink
    again = write_validated(
        df, M, str(tmp_path / "good"), str(tmp_path / "bad"), mode="append"
    )
    assert again == {"written": 4, "quarantined": 2}
