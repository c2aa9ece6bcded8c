"""Structured Streaming validation: flags, quarantine, windows, state."""

import datetime as dt
import tempfile
from typing import Optional

import pytest
from pyspark.sql import functions as F

import patito_spark as pt
from patito_spark.streaming import (
    flag_violations,
    validate_stream,
    windowed_violation_counts,
)


class Event(pt.Model):
    ts: dt.datetime
    value: int = pt.Field(ge=0, le=100)
    kind: str = pt.Field(allowed=["a", "b"])


def _batch(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(seconds=i), v, k)
        for i, (v, k) in enumerate(
            [(5, "a"), (150, "a"), (7, "x"), (None, "b"), (99, "b")]
        )
    ]
    return spark.createDataFrame(rows, "ts timestamp, value int, kind string")


def test_flag_violations_batch(spark):
    flagged = flag_violations(_batch(spark), Event)
    rows = {r["value"]: r for r in flagged.collect()}
    assert rows[5]["_valid"] is True
    assert rows[150]["_violations"] == ["value__bound0"]  # le first
    assert rows[7]["_violations"] == ["kind__enum"]
    assert rows[99]["_valid"] is True
    # nulls never fail bounds (batch parity)
    null_row = [r for r in flagged.collect() if r["value"] is None][0]
    assert null_row["_violations"] == ["value__null"]


def test_windowed_violation_counts(spark):
    out = windowed_violation_counts(
        _batch(spark), Event, "ts", window="1 minute"
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    assert row["rows"] == 5
    assert row["value__bound0"] == 1
    assert row["kind__enum"] == 1
    assert row["value__null"] == 1

    class Free(pt.Model):  # no row checks: the counts are the row count alone
        ts: Optional[dt.datetime]
        value: Optional[int]
        kind: Optional[str]

    free = windowed_violation_counts(_batch(spark), Free, "ts")
    assert free.columns == ["w", "rows"]
    assert [r["rows"] for r in free.collect()] == [5]


def test_validate_stream_quarantine(spark, tmp_path):
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
        .select(F.col("timestamp").alias("ts"), F.col("value").cast("int").alias("value"),
                F.lit("a").alias("kind"))
    )
    qdir = str(tmp_path / "bad")
    valid, invalid, query = validate_stream(
        stream, Event, quarantine_path=qdir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            query.processAllAvailable()
            try:
                if spark.read.parquet(qdir).count() > 0:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        query.stop()
    bad = spark.read.parquet(qdir)
    assert bad.count() > 0
    assert bad.agg(F.min("value")).collect()[0][0] == 101  # first out-of-bound


def test_quarantine_exactly_once_across_restart(spark, tmp_path):
    """Stop the quarantine sink mid-stream and restart it with the same
    checkpoint: already-quarantined rows must not be re-emitted and new bad
    rows must be picked up — the checkpoint carries the source offsets."""
    src = str(tmp_path / "src")
    qdir = str(tmp_path / "bad")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1)
    schema = "ts timestamp, value int, kind string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = spark.readStream.schema(schema).parquet(src)
        return validate_stream(
            stream, Event, quarantine_path=qdir, checkpoint_dir=ckpt
        )

    feed([(base, 5, "a"), (base, 150, "a"), (base, 7, "x")])  # 2 bad
    _, _, query = start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert spark.read.parquet(qdir).count() == 2

    feed([(base, 8, "b"), (base, 999, "b")])  # 1 more bad
    _, _, query = start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    bad = spark.read.parquet(qdir)
    # exactly once: 3 distinct bad rows, none duplicated by the restart
    assert bad.count() == 3
    assert sorted(r["value"] for r in bad.collect()) == [7, 150, 999]


def test_sessionize_stream_batch_parity(spark):
    """The native session_window path agrees with the batch gaps-and-islands
    operator on session count, membership, and bounds (no event lands on an
    exact-gap boundary — the one documented semantic difference)."""
    import random

    from patito_spark.operators.sessions import sessionize
    from patito_spark.streaming import sessionize_stream

    rng = random.Random(11)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for user in range(6):
        t = base + dt.timedelta(seconds=rng.randint(0, 100))
        for _ in range(rng.randint(5, 40)):
            # gaps straddle the 300s threshold but never hit it exactly
            t += dt.timedelta(seconds=rng.choice([3, 17, 61, 299, 301, 900]))
            rows.append((user, t))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    batch = sessionize(df, "user_id", "ts", gap_seconds=300)
    want = {
        (r["user_id"], r["session_seq"]): (r["n"], r["t0"], r["t1"])
        for r in batch.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        .collect()
    }
    got = sessionize_stream(
        df, "user_id", "ts", "300 seconds", None,
        F.min("ts").alias("t0"), F.max("ts").alias("t1"),
    )
    got_rows = got.collect()
    assert len(got_rows) == len(want)
    # same sessions: match on (user, first-event ts) and compare size/bounds
    by_start = {(r["user_id"], r["t0"]): r for r in got_rows}
    for (user, _), (n, t0, t1) in want.items():
        g = by_start[(user, t0)]
        assert g["n_events"] == n and g["t1"] == t1
        # session_window end = last event + gap (half-open close)
        assert g["session_end"] == t1 + dt.timedelta(seconds=300)


def test_sessionize_stream_watermarked_append(spark, tmp_path):
    """Real streaming run: sessions emit exactly once, only after the
    watermark passes their close — fed via a parquet file stream in two
    batches, the second advancing event time far enough to flush the
    first's sessions."""
    from patito_spark.streaming import sessionize_stream

    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sessions")
    schema = "user_id long, ts timestamp"
    base = dt.datetime(2024, 3, 1)

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # user 1: two sessions (gap 20 min > 5 min); user 2: one session
    feed(
        [
            (1, base),
            (1, base + dt.timedelta(minutes=1)),
            (1, base + dt.timedelta(minutes=21)),
            (2, base + dt.timedelta(minutes=2)),
        ]
    )

    def run_batch():
        stream = spark.readStream.schema(schema).parquet(src)
        out = sessionize_stream(stream, "user_id", "ts", "5 minutes", "10 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_batch()
    # batch 1's watermark = max(ts) - 10min = base+11min: it passes the
    # closes of user 1's FIRST session (base+6min) and user 2's (base+7min)
    # but not user 1's second session (base+26min) — exactly two emitted
    first = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert first == {(1, base): 2, (2, base + dt.timedelta(minutes=2)): 1}
    feed([(9, base + dt.timedelta(hours=3))])  # advances watermark
    run_batch()
    rows = spark.read.parquet(sink).collect()
    got = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in rows
    }
    assert got == {
        (1, base): 2,
        (1, base + dt.timedelta(minutes=21)): 1,
        (2, base + dt.timedelta(minutes=2)): 1,
    }


def test_rollup_stream_batch_parity_and_merge(spark):
    """The streamed finest-level partials equal time_rollup's finest level
    on the same data, and re-aggregating them reproduces a coarser level —
    the continuous-aggregate contract (stream minute, batch derives hour)."""
    from patito_spark.operators.rollup import time_rollup
    from patito_spark.streaming.rollup import rollup_stream

    base = dt.datetime(2024, 5, 1)
    rows = [
        (base + dt.timedelta(seconds=17 * i), float((i * 13) % 101))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")

    batch = {
        r["bucket"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in time_rollup(df, "ts", "v", levels=("minute",)).collect()
    }
    streamed = rollup_stream(df, "ts", "v", window="1 minute", watermark=None)
    got = {
        r["bucket"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in streamed.collect()
    }
    assert got == batch
    # merge path: hour from streamed minute partials == hour from raw
    hour_from_partials = {
        r["b"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in streamed.groupBy(F.date_trunc("hour", "bucket").alias("b"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("s"),
            F.min("min_v").alias("mn"),
            F.max("max_v").alias("mx"),
        )
        .collect()
    }
    hour_from_raw = {
        r["bucket"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in time_rollup(df, "ts", "v", levels=("hour",)).collect()
    }
    assert hour_from_partials == hour_from_raw


def test_rollup_stream_watermarked_append(spark, tmp_path):
    from patito_spark.streaming.rollup import rollup_stream

    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    sink = str(tmp_path / "buckets")
    schema = "ts timestamp, v double"
    base = dt.datetime(2024, 5, 1)

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = rollup_stream(stream, "ts", "v", "1 minute", "2 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    feed([(base, 1.0), (base + dt.timedelta(seconds=30), 2.0),
          (base + dt.timedelta(minutes=1), 10.0)])
    run()
    # watermark = max(ts) - 2min = base-1min: no bucket closed yet
    assert spark.read.parquet(sink).count() == 0
    feed([(base + dt.timedelta(minutes=10), 5.0)])  # advance watermark
    run()
    got = {
        r["bucket"]: (r["n"], r["sum_v"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {base: (2, 3.0), base + dt.timedelta(minutes=1): (1, 10.0)}


def test_dedup_stream_batch_parity(spark):
    # same fingerprint construction as the batch dedup family: normalized
    # text collapses case/whitespace variants into one canonical row
    from patito_spark.streaming.dedup import dedup_stream

    base = dt.datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [
            (1, "Hello   World", base),
            (2, "hello world", base),
            (3, "other doc", base),
        ],
        "id long, text string, ts timestamp",
    )
    out = dedup_stream(df, "text", "ts")
    assert out.count() == 2
    assert "fingerprint" in out.columns


def test_dedup_stream_watermark_bounded_state(spark, tmp_path):
    """Duplicates within the watermark horizon are suppressed; once the
    watermark passes a fingerprint's expiry its state is evicted and an
    old re-crawl is admitted again — bounded state, by design."""
    from patito_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ck")
    sink = str(tmp_path / "kept")
    schema = "id long, text string, ts timestamp"
    base = dt.datetime(2024, 5, 1)

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = dedup_stream(stream, "text", "ts", watermark="10 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    feed(
        [
            (1, "aaa", base),
            (2, "aaa", base + dt.timedelta(seconds=30)),  # dup, suppressed
            (3, "bbb", base + dt.timedelta(seconds=30)),
        ]
    )
    run()
    assert spark.read.parquet(sink).count() == 2
    # state for "aaa" still within the horizon at processing time → dropped
    feed([(4, "aaa", base + dt.timedelta(minutes=30))])
    run()
    assert spark.read.parquet(sink).count() == 2
    # by now the watermark passed aaa's expiry → state evicted → re-admitted
    feed([(5, "aaa", base + dt.timedelta(minutes=40))])
    run()
    kept = spark.read.parquet(sink)
    assert kept.count() == 3
    assert sorted(r["id"] for r in kept.collect())[:2] == [1, 3]


def test_crawl_ingest_stream_two_batches_match_batch_increments(spark, tmp_path):
    """The streaming front-end must produce exactly what two
    prepare_training_increment calls produce: batch-2 documents that
    exactly- or near-duplicate batch-1 survivors drop against the
    advanced stores; a restart between feeds resumes from the
    checkpoint without reprocessing batch 1."""
    from patito_spark.streaming import crawl_ingest_stream, read_ingested_corpus

    src = str(tmp_path / "src")
    root = str(tmp_path / "stores")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = crawl_ingest_stream(
            stream, "doc_id", "text", root, ckpt,
            lang_col="lang", allowed_langs=["en"], min_chars=20,
            num_hashes=8, bands=4, shingle_n=3,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    feed([
        (1, "first unique page body with plenty of words here", "en"),
        (2, "first unique page body with plenty of words here", "en"),  # exact dup
        (3, "second unique page body other words entirely now", "en"),
        (4, "page francaise a supprimer du corpus entier ici", "fr"),  # lang
    ])
    run()
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 3]

    feed([
        (10, "first unique page body with plenty of words here", "en"),  # exact re-crawl
        (11, "second unique page body other words entirely today", "en"),  # near-dup of 3
        (12, "genuinely fresh third day content alpha beta gamma", "en"),
    ])
    run()  # fresh query object, same checkpoint: resumes at batch 1
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 3, 12]


def test_crawl_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may replay a batch id after a crash: re-running the
    processor for the same id must overwrite, not double-append, and must
    read the same store snapshot (dirs strictly below the batch id) even
    though its own delta dirs already exist."""
    from patito_spark.streaming.ingest import (
        _make_batch_processor,
        _read_store,
        read_ingested_corpus,
    )

    root = str(tmp_path / "stores")
    schema = "doc_id long, text string, lang string"
    proc = _make_batch_processor(
        root, "doc_id", "text",
        dict(num_hashes=8, bands=4, shingle_n=3),
    )
    b0 = spark.createDataFrame(
        [(1, "first unique page body with plenty of words here", "en"),
         (2, "second unique page body other words entirely now", "en")],
        schema,
    )
    b1 = spark.createDataFrame(
        [(10, "second unique page body other words entirely today", "en"),  # near-dup of 2
         (11, "genuinely fresh third day content alpha beta gamma", "en")],
        schema,
    )
    proc(b0, 0)
    proc(b1, 1)
    once = {
        (r["doc_id"],)
        for r in read_ingested_corpus(spark, root).collect()
    }
    fp_once = _read_store(spark, root, "fingerprints", None).count()
    sig_once = _read_store(spark, root, "signatures", None).count()
    proc(b1, 1)  # replay
    assert {
        (r["doc_id"],)
        for r in read_ingested_corpus(spark, root).collect()
    } == once == {(1,), (2,), (11,)}
    assert _read_store(spark, root, "fingerprints", None).count() == fp_once
    assert _read_store(spark, root, "signatures", None).count() == sig_once


def test_crawl_ingest_compact_stores(spark, tmp_path):
    """Compaction folds all COMMITTED per-batch dirs into one base; the
    NEWEST batch dir is never folded — Structured Streaming commits
    offsets in order, so every id strictly below the max is committed,
    but the max itself may be an uncommitted attempt whose replay must
    still read the pre-batch store state (and must not be
    double-counted by read_ingested_corpus)."""
    import os

    from patito_spark.streaming import compact_stores, read_ingested_corpus
    from patito_spark.streaming.ingest import _make_batch_processor

    root = str(tmp_path / "stores")
    schema = "doc_id long, text string, lang string"
    proc = _make_batch_processor(
        root, "doc_id", "text", dict(num_hashes=8, bands=4, shingle_n=3)
    )
    proc(
        spark.createDataFrame(
            [(1, "first unique page body with plenty of words here", "en")],
            schema,
        ),
        0,
    )
    proc(
        spark.createDataFrame(
            [(2, "second unique page body other words entirely now", "en")],
            schema,
        ),
        1,
    )
    b2 = spark.createDataFrame(
        [(10, "second unique page body other words entirely today", "en"),
         (11, "genuinely fresh third day content alpha beta gamma", "en")],
        schema,
    )
    proc(b2, 2)  # newest batch — possibly not offset-committed yet
    folded = compact_stores(spark, root)
    assert folded == {
        "fingerprints": 2,
        "signatures": 2,
        "survivors": 2,
        "quarantine": 0,
    }
    assert sorted(os.listdir(f"{root}/signatures")) == [
        "batch-2",
        "compacted-1",
    ]
    # the crash-before-commit scenario: batch 2 replays AFTER compaction
    # and must see exactly the pre-batch store (its near-dup of doc 2
    # still drops) with no double count of its own survivors
    proc(b2, 2)
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 2, 11]
    # next batch sees compacted base + batch-2: exact dup of 1 drops
    proc(
        spark.createDataFrame(
            [(20, "first unique page body with plenty of words here", "en"),
             (21, "completely new fourth day material delta epsilon zeta", "en")],
            schema,
        ),
        3,
    )
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 2, 11, 21]


def test_crawl_ingest_validates_and_quarantines(spark, tmp_path):
    """With model= the processor gates every batch on the row-level
    checks BEFORE dedup: violation rows land in the quarantine with
    their _violations names and never touch the stores; the quarantine
    rides the same replay-safe batch-dir protocol."""
    from patito_spark.streaming.ingest import (
        _make_batch_processor,
        read_ingested_corpus,
        read_quarantine,
    )

    class Page(pt.Model):
        doc_id: int
        text: str
        lang: str = pt.Field(allowed=["en", "de"])

    root = str(tmp_path / "stores")
    schema = "doc_id long, text string, lang string"
    proc = _make_batch_processor(
        root, "doc_id", "text",
        dict(num_hashes=8, bands=4, shingle_n=3),
        model=Page,
    )
    proc(
        spark.createDataFrame(
            [(1, "first unique page body with plenty of words here", "en"),
             (2, "page francaise interdite par le contrat du modele", "fr"),
             (3, "second unique page body other words entirely now", "en")],
            schema,
        ),
        0,
    )
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 3]
    q = read_quarantine(spark, root).collect()
    assert [(r["doc_id"], r["_violations"]) for r in q] == [(2, ["lang__enum"])]
    # replay: quarantine must not double up either
    proc(
        spark.createDataFrame(
            [(10, "genuinely fresh third day content alpha beta gamma", "xx")],
            schema,
        ),
        1,
    )
    proc(
        spark.createDataFrame(
            [(10, "genuinely fresh third day content alpha beta gamma", "xx")],
            schema,
        ),
        1,
    )
    assert read_quarantine(spark, root).count() == 2
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 3]


def test_crawl_ingest_quarantine_lineage(spark, tmp_path):
    """Quarantined rows carry the _spec_hash of the model version that
    flagged them — lineage that rides IN the rows (so it survives
    compaction) — and read_quarantine_specs resolves every hash to its
    full spec JSON, round-trippable via model_from_spec_json."""
    import json

    from patito_spark.spec import model_from_spec_json
    from patito_spark.streaming.ingest import (
        _make_batch_processor,
        read_quarantine,
        read_quarantine_specs,
    )

    class PageV1(pt.Model):
        doc_id: int
        text: str
        lang: str = pt.Field(allowed=["en"])

    class PageV2(pt.Model):
        doc_id: int
        text: str
        lang: str = pt.Field(allowed=["en", "de"])

    root = str(tmp_path / "stores")
    schema = "doc_id long, text string, lang string"
    kwargs = dict(num_hashes=8, bands=4, shingle_n=3)
    # batch 0 under spec v1, batch 1 under the evolved spec v2
    _make_batch_processor(root, "doc_id", "text", kwargs, model=PageV1)(
        spark.createDataFrame(
            [(1, "erste deutsche seite die v-eins noch verbietet hier", "de"),
             (2, "first unique page body with plenty of words here", "en")],
            schema,
        ),
        0,
    )
    _make_batch_processor(root, "doc_id", "text", kwargs, model=PageV2)(
        spark.createDataFrame(
            [(3, "page francaise que meme v-deux interdit encore ici", "fr"),
             (4, "second unique page body other words entirely now", "de")],
            schema,
        ),
        1,
    )
    q = {r["doc_id"]: r["_spec_hash"] for r in read_quarantine(spark, root).collect()}
    assert sorted(q) == [1, 3]
    assert q[1] != q[3]  # two model versions, two hashes
    specs = read_quarantine_specs(spark, root)
    assert set(specs) == {q[1], q[3]}
    # each hash resolves to a reconstructable model whose allowed-values
    # contract explains WHY its rows were flagged
    v1 = model_from_spec_json(specs[q[1]])
    v2 = model_from_spec_json(specs[q[3]])
    assert json.loads(specs[q[1]]) != json.loads(specs[q[3]])
    assert v1.specs["lang"].allowed_values == ["en"]
    assert v2.specs["lang"].allowed_values == ["en", "de"]


def test_crawl_ingest_file_uri_store_root(spark, tmp_path):
    """The store protocol speaks the Hadoop FileSystem API: a file:/ URI
    store_root works end-to-end — stream, replay-safe stores, lineage
    reads, compaction — without any driver-local os.* assumption."""
    from patito_spark.streaming import (
        compact_stores,
        crawl_ingest_stream,
        read_ingested_corpus,
    )

    src = str(tmp_path / "src")
    root = (tmp_path / "stores").as_uri()  # file:///...
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = crawl_ingest_stream(
            stream, "doc_id", "text", root, ckpt,
            num_hashes=8, bands=4, shingle_n=3,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    feed([
        (1, "first unique page body with plenty of words here", "en"),
        (2, "second unique page body other words entirely now", "en"),
    ])
    run()
    feed([
        (10, "second unique page body other words entirely today", "en"),
        (11, "genuinely fresh third day content alpha beta gamma", "en"),
    ])
    run()
    feed([
        (20, "completely new fourth day material delta epsilon zeta", "en"),
    ])
    run()
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 2, 11, 20]
    folded = compact_stores(spark, root)
    assert folded["survivors"] == 2  # batches 0,1 fold; newest stays
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 2, 11, 20]


def test_compact_stores_refuses_active_stream(spark, tmp_path):
    """Compacting while the ingest query is live would race the
    k < batch_id read rule — compact_stores must refuse, and work again
    once the stream is stopped."""
    from patito_spark.streaming import compact_stores, crawl_ingest_stream

    src = str(tmp_path / "src")
    root = str(tmp_path / "stores")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string, lang string"
    batches = (
        [(1, "first unique page body with plenty of words here", "en")],
        [(2, "second unique page body other words entirely now", "en")],
        [(3, "genuinely fresh third day content alpha beta gamma", "en")],
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    feed(batches[0])
    stream = spark.readStream.schema(schema).parquet(src)
    q = crawl_ingest_stream(
        stream, "doc_id", "text", root, ckpt,
        num_hashes=8, bands=4, shingle_n=3,
    )
    try:
        q.processAllAvailable()
        for rows in batches[1:]:  # separate micro-batches, live query
            feed(rows)
            q.processAllAvailable()
        with pytest.raises(RuntimeError, match="still active"):
            compact_stores(spark, root)
    finally:
        q.stop()
    q.awaitTermination(30)
    folded = compact_stores(spark, root)
    assert folded["survivors"] == 2  # batches 0,1 fold; newest stays


def test_compaction_crash_leftovers_ignored_and_cleaned(spark, tmp_path):
    """A crash between compaction's rename and its deletes leaves folded
    dirs behind.  The read rule must ignore them (only the highest
    compacted base counts; batch ids <= its id are inside it), and the
    next compact_stores run must delete them."""
    import os

    from patito_spark.streaming import compact_stores, read_ingested_corpus
    from patito_spark.streaming.ingest import _make_batch_processor

    root = str(tmp_path / "stores")
    schema = "doc_id long, text string, lang string"
    proc = _make_batch_processor(
        root, "doc_id", "text", dict(num_hashes=8, bands=4, shingle_n=3)
    )
    rows = [
        (1, "first unique page body with plenty of words here", "en"),
        (2, "second unique page body other words entirely now", "en"),
        (3, "genuinely fresh third day content alpha beta gamma", "en"),
    ]
    for i, row in enumerate(rows):
        proc(spark.createDataFrame([row], schema), i)
    assert compact_stores(spark, root)["survivors"] == 2
    # simulate the crash leftover: batch-1's rows are already inside
    # compacted-1; the dir reappears
    spark.createDataFrame([rows[1]], schema).write.parquet(
        f"{root}/survivors/batch-1"
    )
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 2, 3]  # no double count of doc 2
    compact_stores(spark, root)
    assert "batch-1" not in os.listdir(f"{root}/survivors")
    assert sorted(
        r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
    ) == [1, 2, 3]


def test_crawl_ingest_table_store_backend(spark):
    """store_root='table:<prefix>' maps the slot protocol onto catalog
    tables partitioned by _ingest_batch_id: delta writes are DYNAMIC
    PARTITION OVERWRITES (replay of a batch replaces only its own
    partition), store reads below the replay horizon are
    partition-PRUNED scans (plan-asserted), quarantine lineage rides in
    table rows + a specs table, and compaction rewrites committed
    partitions in place, never the newest."""
    import uuid

    from patito_spark.streaming import (
        compact_stores,
        crawl_ingest_stream,  # noqa: F401 — API parity; driven via processor
        read_ingested_corpus,
        read_quarantine,
        read_quarantine_specs,
    )
    from patito_spark.streaming.ingest import (
        _make_batch_processor,
        _marker_get,
        _marker_put,
        _read_store,
    )

    prefix = f"ingest_{uuid.uuid4().hex[:8]}"
    root = f"table:{prefix}"

    class Page(pt.Model):
        doc_id: int
        text: str
        lang: str = pt.Field(allowed=["en"])

    schema = "doc_id long, text string, lang string"
    proc = _make_batch_processor(
        root, "doc_id", "text",
        dict(num_hashes=8, bands=4, shingle_n=3), model=Page,
    )
    b1 = spark.createDataFrame(
        [(10, "first unique page body with plenty of words here", "en"),  # exact dup of 1
         (11, "genuinely fresh third day content alpha beta gamma", "en")],
        schema,
    )
    try:
        proc(
            spark.createDataFrame(
                [(1, "first unique page body with plenty of words here", "en"),
                 (2, "page francaise interdite par le contrat du modele", "fr")],
                schema,
            ),
            0,
        )
        proc(b1, 1)
        assert sorted(
            r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
        ) == [1, 11]
        fp_once = _read_store(spark, root, "fingerprints", None).count()
        proc(b1, 1)  # replay: partition 1 overwritten, nothing appended
        assert sorted(
            r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
        ) == [1, 11]
        assert _read_store(spark, root, "fingerprints", None).count() == fp_once
        # quarantine lineage in rows + specs table
        q = read_quarantine(spark, root).collect()
        assert [(r["doc_id"], r["_violations"]) for r in q] == [
            (2, ["lang__enum"])
        ]
        specs = read_quarantine_specs(spark, root)
        assert q[0]["_spec_hash"] in specs
        # the k < n read is a partition-pruned scan, not a full one
        pruned = spark.table(f"{prefix}_fingerprints").filter(
            F.col("_ingest_batch_id") < 1
        )
        pruned.collect()
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "_ingest_batch_id" in plan
        assert _read_store(spark, root, "fingerprints", 1).count() == 1
        # near-dup of a TABLE-stored survivor drops in the next batch
        proc(
            spark.createDataFrame(
                [(20, "genuinely fresh third day content alpha beta delta", "en"),
                 (21, "completely new fourth day material epsilon zeta eta", "en")],
                schema,
            ),
            2,
        )
        assert sorted(
            r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
        ) == [1, 11, 21]
        # marker round-trips through the meta table; a non-live id does
        # not block compaction
        _marker_put(spark, root, "not-a-live-query-id")
        assert _marker_get(spark, root) == "not-a-live-query-id"
        folded = compact_stores(spark, root)
        # survivors/fingerprints/signatures have partitions 0,1,2:
        # 0 and 1 rewritten in place, newest (2) untouched; quarantine
        # only ever materialized partition 0 (no violations later)
        assert folded["survivors"] == 2
        assert folded["quarantine"] == 0
        assert sorted(
            r["doc_id"] for r in read_ingested_corpus(spark, root).collect()
        ) == [1, 11, 21]
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_table_store_schema_evolution(spark):
    """Mid-stream page-schema evolution widens table stores instead of
    breaking the positional insert (the table twin of the dir backend's
    mergeSchema): a new column is ADDed (old slots read NULL), a batch
    missing a column null-fills it."""
    import uuid

    from patito_spark.streaming.ingest import (
        _make_batch_processor,
        read_ingested_corpus,
    )

    prefix = f"ingest_{uuid.uuid4().hex[:8]}"
    root = f"table:{prefix}"
    kw = dict(num_hashes=8, bands=4, shingle_n=3)
    proc = _make_batch_processor(root, "doc_id", "text", kw)
    try:
        proc(
            spark.createDataFrame(
                [(1, "first unique page body with plenty of words here", "en")],
                "doc_id long, text string, lang string",
            ),
            0,
        )
        # the crawl starts shipping a `source` column
        proc(
            spark.createDataFrame(
                [(2, "second unique page body other words entirely now",
                  "en", "cc-main-2026")],
                "doc_id long, text string, lang string, source string",
            ),
            1,
        )
        # and a later batch drops it again
        proc(
            spark.createDataFrame(
                [(3, "genuinely fresh third day content alpha beta gamma", "en")],
                "doc_id long, text string, lang string",
            ),
            2,
        )
        rows = {
            r["doc_id"]: r["source"]
            for r in read_ingested_corpus(spark, root).collect()
        }
        assert rows == {1: None, 2: "cc-main-2026", 3: None}
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
