"""Skew-join utilities and cross-run drift monitoring."""

import pytest
from pyspark.sql import functions as F

from patito_spark.plans.drift import build_profile, compare_profiles
from patito_spark.plans.skew import salted_join, skewness_report, with_salt


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key covering ~50% of rows
    return spark.range(10_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("site"), F.col("id"), F.lit(".org")))
        .alias("domain"),
        F.col("id").alias("row_id"),
    )


def test_skewness_report(spark, skewed):
    top = skewness_report(skewed, F.col("domain")).collect()
    assert top[0]["key"] == "hot.example.com"
    assert top[0]["share"] == pytest.approx(0.5, abs=0.01)


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.createDataFrame(
        [("hot.example.com", 1), ("site1.org", 2)], "domain string, dim_val int"
    )
    plain = skewed.join(dim, "domain").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dim_val").alias("s")
    ).collect()[0]
    salted = salted_join(skewed, dim, "domain").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dim_val").alias("s")
    ).collect()[0]
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])
    assert plain["n"] == 5001  # 5000 hot + site1


def test_salt_spreads_hot_key(spark, skewed):
    salted = with_salt(skewed, salt_buckets=8)
    spread = (
        salted.filter(F.col("domain") == "hot.example.com")
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(spread) == 8  # hot key occupies every salt bucket


def test_salt_is_content_deterministic(spark, skewed):
    """The salt depends only on row content: re-partitioned / re-ordered
    input deals every row the same bucket (the property a retried stage
    needs — a row-order-based salt cannot guarantee it)."""
    base = {
        r["row_id"]: r["_salt"]
        for r in with_salt(skewed, salt_buckets=8).collect()
    }
    reshuffled = {
        r["row_id"]: r["_salt"]
        for r in with_salt(
            skewed.repartition(13).sortWithinPartitions(F.col("row_id").desc()),
            salt_buckets=8,
        ).collect()
    }
    assert reshuffled == base


def test_salt_cols_spreads_hot_key_and_join_is_identical(spark, skewed):
    """Restricting the salt input to (key, row_id) spreads the hot key
    over every bucket exactly like the full-row default, and the salted
    join's RESULT is identical either way (the salt never affects join
    output, only reducer placement)."""
    salted = with_salt(skewed, salt_buckets=8, salt_cols=["domain", "row_id"])
    spread = (
        salted.filter(F.col("domain") == "hot.example.com")
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(spread) == 8
    dim = spark.createDataFrame(
        [("hot.example.com", 1), ("site1.org", 2)], "domain string, dim_val int"
    )
    full = salted_join(skewed, dim, "domain").orderBy("row_id").collect()
    restricted = (
        salted_join(skewed, dim, "domain", salt_cols=["domain", "row_id"])
        .orderBy("row_id")
        .collect()
    )
    assert restricted == full


def test_salt_skips_map_columns(spark):
    """Default salting excludes map-typed columns (Spark's hash
    expressions reject MapType at analysis — ADVICE r6); naming one in
    salt_cols raises a clear error instead of an AnalysisException."""
    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})],
        "row_id long, attrs map<string,int>",
    )
    out = with_salt(df, salt_buckets=4).collect()  # analyzes fine
    assert {r["row_id"] for r in out} == {1, 2}
    with pytest.raises(ValueError, match="map types"):
        with_salt(df, salt_buckets=4, salt_cols=["attrs"])
    # a map nested inside a struct is excluded too
    nested = spark.createDataFrame(
        [(1, (1, {"a": 1}))],
        "row_id long, s struct<x:int, m:map<string,int>>",
    )
    assert with_salt(nested, salt_buckets=4).count() == 1
    all_maps = spark.createDataFrame([({"a": 1},)], "m map<string,int>")
    with pytest.raises(ValueError, match="no hashable columns"):
        with_salt(all_maps)


def test_left_salted_join_keeps_unmatched(spark, skewed):
    dim = spark.createDataFrame([("hot.example.com", 1)], "domain string, v int")
    out = salted_join(skewed, dim, "domain", how="left")
    assert out.count() == 10_000
    assert out.filter(F.col("v").isNull()).count() == 5_000


# -- drift -----------------------------------------------------------------------


def test_profile_and_self_compare(spark):
    df = spark.range(10_000).select((F.col("id") % 500).cast("double").alias("x"))
    prof = build_profile(df, "x")
    assert prof["count"] == 10_000
    assert prof["min"] == 0.0 and prof["max"] == 499.0
    verdict = compare_profiles(prof, prof)
    assert verdict["drifted"] is False
    assert verdict["ks"] < 0.01
    assert verdict["null_rate_delta"] == 0.0


def test_profile_compare_detects_shift_and_null_rate(spark):
    """A later run profiled on the reference's histogram grid: a shifted
    distribution drifts, and a null-rate change is reported."""

    def against(ref, df):
        grid = ref["histogram"]
        cur = build_profile(
            df, "x", histogram_bounds=(grid["lo"], grid["hi"]), buckets=grid["buckets"]
        )
        return compare_profiles(cur, ref)

    ref = build_profile(
        spark.range(10_000).select((F.col("id") % 500).cast("double").alias("x")), "x"
    )
    shifted = spark.range(10_000).select(
        ((F.col("id") % 500) + 250).cast("double").alias("x")
    )
    drifted = against(ref, shifted)
    assert drifted["drifted"] is True
    assert drifted["ks"] > 0.2

    base = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    ref = build_profile(base, "x")
    with_nulls = spark.range(1000).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id"))
        .cast("double")
        .alias("x")
    )
    assert against(ref, with_nulls)["null_rate_delta"] == pytest.approx(0.25, abs=0.01)


def test_chi_square_by_group_detects_shift(spark):
    from patito_spark.plans.stats import chi_square_by_group

    # a large group matching the global shape → small chi2;
    # a group concentrated in the top buckets → clearly larger
    same = spark.range(2000).select(
        F.lit("base").alias("g"), (F.col("id") % 100).alias("x")
    )
    shifted = spark.range(500).select(
        F.lit("hot").alias("g"), (F.col("id") % 20 + 80).alias("x")
    )
    df = same.unionByName(shifted)
    rows = {
        r["g"]: r
        for r in chi_square_by_group(df, "g", "x", 0.0, 100.0, 10).collect()
    }
    # both groups deviate from the POOLED global (the hot group is part of
    # it), but the shifted group must stand out clearly
    assert rows["hot"]["chi2"] > rows["base"]["chi2"] * 2
    assert rows["base"]["buckets"] == 10
    assert rows["hot"]["n"] == 500


def test_clean_corpus_stages(spark):
    from patito_spark.operators.pipeline import clean_corpus

    good = "the quick brown fox and the lazy dog is of great renown " * 3
    df = spark.createDataFrame(
        [
            (1, good, "en"),
            (2, good, "en"),          # exact dup of 1 → dropped
            (3, good, "zz"),          # bad lang
            (4, "short text", "en"),  # below min_chars
            (5, None, "en"),          # null text never survives
            (6, good + "unique tail words", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    cleaned = clean_corpus(
        df, "doc_id", "text",
        lang_col="lang", allowed_langs=["en", "de"],
        min_chars=50, max_chars=10_000, min_quality=0.3,
    )
    kept = sorted(r["doc_id"] for r in cleaned.collect())
    assert kept == [1, 6]  # lowest id wins the dup group


def test_prepare_training_increment_two_batches(spark, tmp_path):
    """The daily-increment composition: batch 1 founds the corpus (cold
    start), batch 2 dedups against the advanced stores — re-crawls drop
    on fingerprints, near-dups of stored content drop on signatures,
    batch-internal near-dup clusters keep one survivor, and genuinely new
    content passes."""
    from pyspark.sql import functions as F

    from patito_spark.operators.pipeline import prepare_training_increment

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    b1 = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, base + " extra", "en"),        # near-dup of 1 → one survives
            (3, "completely other page body with distinct words", "en"),
            (4, "short", "en"),                # fails min_chars
        ],
        "doc_id long, text string, lang string",
    )
    kw = dict(
        lang_col="lang", allowed_langs=["en"], min_chars=20,
        num_hashes=16, bands=8,
    )
    s1, fp1, sig1 = prepare_training_increment(b1, "doc_id", "text", **kw)
    kept1 = sorted(r["doc_id"] for r in s1.collect())
    assert kept1 == [1, 3]
    fp_path, sig_path = str(tmp_path / "fp"), str(tmp_path / "sig")
    fp1.write.parquet(fp_path)
    sig1.write.parquet(sig_path)
    b2 = spark.createDataFrame(
        [
            (10, base, "en"),                  # exact re-crawl of stored 1
            (11, base + " tailing words", "en"),  # near-dup of stored 1
            (12, "fresh second-day content alpha beta gamma", "en"),
            (13, "fresh second-day content alpha beta gamma", "en"),  # dup of 12
            (14, "unrelated brand new page body entirely", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    s2, fp2, sig2 = prepare_training_increment(
        b2, "doc_id", "text",
        fingerprint_store=spark.read.parquet(fp_path),
        signature_store=spark.read.parquet(sig_path),
        **kw,
    )
    kept2 = sorted(r["doc_id"] for r in s2.collect())
    assert kept2 == [12, 14]
    # deltas describe exactly the survivors
    assert fp2.count() == 2
    assert sig2.select("doc_id").distinct().count() == 2


def test_prepare_training_increment_recrawl_replaced(spark, tmp_path):
    """A re-crawled id (same doc, updated text) must not near-dup ITSELF
    against its own stored signature rows: with replace_recrawled=True
    the store sheds the old rows first, the updated document survives,
    and the advanced store ends with exactly one row-set for the id —
    the new text's signatures (VERDICT r6 item 3)."""
    from patito_spark.operators.dedup import (
        minhash_signatures,
        replace_in_store,
    )
    from patito_spark.operators.pipeline import prepare_training_increment

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    other = "completely other page body with distinct words here indeed"
    b1 = spark.createDataFrame(
        [(1, base), (3, other)], "doc_id long, text string"
    )
    kw = dict(num_hashes=16, bands=8)
    s1, fp1, sig1 = prepare_training_increment(b1, "doc_id", "text", **kw)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 3]
    fp_path, sig_path = str(tmp_path / "fp"), str(tmp_path / "sig")
    fp1.write.parquet(fp_path)
    sig1.write.parquet(sig_path)
    recrawl_text = base + " with a small update"
    b2 = spark.createDataFrame(
        [
            (1, recrawl_text),  # re-crawl of 1, near-identical updated text
            (3, other),         # re-crawl of 3, text UNCHANGED
            (20, "fresh unrelated second day page body entirely new"),
        ],
        "doc_id long, text string",
    )
    store = spark.read.parquet(sig_path)
    # the footgun: without replacement a naive store advance keeps BOTH
    # row-sets for the re-crawled id — the defunct old text would keep
    # matching future batches forever
    _, _, sig_bad = prepare_training_increment(
        b2, "doc_id", "text",
        fingerprint_store=spark.read.parquet(fp_path),
        signature_store=store, **kw,
    )
    naive = store.unionByName(sig_bad)
    assert naive.filter(F.col("doc_id") == 1).count() == 16
    # with replace_recrawled the update survives; the unchanged re-crawl
    # still drops at the exact gate (corpus copy stays canonical)
    s2, fp2, sig2 = prepare_training_increment(
        b2, "doc_id", "text",
        fingerprint_store=spark.read.parquet(fp_path),
        signature_store=store, replace_recrawled=True, **kw,
    )
    assert sorted(r["doc_id"] for r in s2.collect()) == [1, 20]
    # advance the snapshot the documented way (strip only the final
    # survivors' ids — the delta carries exactly those): exactly one
    # row-set per re-crawled id, and it is the NEW text's signatures
    advanced = replace_in_store(store, "doc_id", sig2).unionByName(sig2)
    got = sorted(
        (r["band"], r["bucket"])
        for r in advanced.filter(F.col("doc_id") == 1).collect()
    )
    expect = sorted(
        (r["band"], r["bucket"])
        for r in minhash_signatures(
            spark.createDataFrame(
                [(1, recrawl_text)], "doc_id long, text string"
            ),
            "doc_id", "text", **kw,
        ).collect()
    )
    assert got == expect and len(got) == 8
    # id 3 dropped as unchanged: its store rows are the founding ones
    assert advanced.filter(F.col("doc_id") == 3).count() == 8


def test_increment_batches_match_from_scratch_corpus(spark, tmp_path):
    """Two prepare_training_increment batches must yield the same survivor
    set as one prepare_training_corpus run over the union — except inside
    a planted bucket the SECOND batch pushes past the cap, where the
    documented approximation applies: the increments already deduped the
    bucket's batch-1 members while it was small, but the from-scratch run
    gates the whole (now oversized) bucket and keeps everyone (VERDICT r6
    item 7).  Candidate-level comparison (threshold=0.0), increasing ids
    so canonical-survivor choices agree."""
    from patito_spark.operators.pipeline import (
        prepare_training_corpus,
        prepare_training_increment,
    )

    boiler = (
        "shared boilerplate navigation header footer copyright notice"
        " text body"
    )
    planted1 = [(i, boiler + f" tail{i}", "en") for i in range(3)]
    planted2 = [(i, boiler + f" tail{i}", "en") for i in (3, 4)]
    b1 = spark.createDataFrame(
        planted1
        + [
            (10, "first unique page body with plenty of words here", "en"),
            (11, "second unique page body other words entirely now", "en"),
            (12, "second unique page body other words entirely now", "en"),
            (13, "page francaise a supprimer du corpus entier", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    b2 = spark.createDataFrame(
        planted2
        + [
            # exact re-crawl of 10 and near-dup of 11 — both must drop
            (20, "first unique page body with plenty of words here", "en"),
            (21, "second unique page body other words entirely today", "en"),
            (22, "genuinely fresh third day content alpha beta gamma", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    kw = dict(num_hashes=8, bands=4, shingle_n=3, max_bucket_size=2)
    filt = dict(lang_col="lang", allowed_langs=["en"], min_chars=20)
    s1, fp1, sig1 = prepare_training_increment(b1, "doc_id", "text", **filt, **kw)
    fp_path, sig_path = str(tmp_path / "fp"), str(tmp_path / "sig")
    fp1.write.parquet(fp_path)
    sig1.write.parquet(sig_path)
    s2, _, _ = prepare_training_increment(
        b2, "doc_id", "text",
        fingerprint_store=spark.read.parquet(fp_path),
        signature_store=spark.read.parquet(sig_path),
        **filt, **kw,
    )
    inc = {r["doc_id"] for r in s1.collect()} | {
        r["doc_id"] for r in s2.collect()
    }
    scratch = {
        r["doc_id"]
        for r in prepare_training_corpus(
            b1.unionByName(b2), "doc_id", "text", "lang",
            allowed_langs=["en"], min_chars=20,
            near_dup_threshold=0.0,
            near_dup_kwargs=kw,
        ).collect()
    }
    planted_ids = {0, 1, 2, 3, 4}
    # outside the planted bucket the two paths agree exactly
    assert inc - planted_ids == scratch - planted_ids == {10, 11, 22}
    # inside it: increment-1 deduped {0,1,2} while its buckets were under
    # the cap; batch 2 pushed every shared bucket past it, so from-scratch
    # gates the bucket and keeps all five exact-distinct members
    assert inc & planted_ids == {0, 3, 4}
    assert scratch & planted_ids == planted_ids


def test_prepare_training_corpus_end_to_end(spark):
    """The one-call composition: filter → exact+near dedup → decontaminate
    → balance → pack, each stage observable in the output."""
    from pyspark.sql import functions as F

    from patito_spark.operators.pipeline import prepare_training_corpus

    base = [
        (i, "en", f"document number {i} with some unique filler words w{i} x{i} y{i} z{i} a{i} b{i}")
        for i in range(40)
    ]
    rows = (
        base
        # exact duplicate of doc 0 (higher id loses)
        + [(100, "en", base[0][2])]
        # leaked copy of the eval doc
        + [(101, "en", "the secret eval benchmark question and its answer text here")]
        # wrong language
        + [(102, "fr", "document francais qui doit disparaitre du corpus")]
        # too short
        + [(103, "en", "tiny")]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    ev = spark.createDataFrame(
        [(9000, "the secret eval benchmark question and its answer text here")],
        "doc_id long, text string",
    )
    out = prepare_training_corpus(
        df,
        "doc_id",
        "text",
        "lang",
        eval_df=ev,
        allowed_langs=["en"],
        min_chars=10,
        contamination_max=0.2,
        contamination_n=3,
        pack_budget=64,
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 102 not in kept  # language filter
    assert 103 not in kept  # length filter
    assert 100 not in kept and 0 in kept  # exact dedup keeps lowest id
    assert 101 not in kept  # decontaminated
    assert set(range(40)) <= kept
    cols = set(out.columns)
    assert {"stream", "pack_id", "tok_start"} <= cols
    packed = out.collect()
    assert all(0 <= r["tok_start"] < 64 for r in packed)


def test_prepare_training_corpus_line_dedup_stage(spark):
    """line_dedup_min_count strips boilerplate BEFORE the other stages:
    the shared footer disappears from surviving text, and two documents
    identical except for boilerplate collapse in the exact-dedup stage."""
    from patito_spark.operators.pipeline import prepare_training_corpus

    footer = "COOKIE FOOTER please accept our cookies"
    rows = [
        (i, "en", f"document number {i} unique words w{i} x{i} y{i}\n{footer}")
        for i in range(10)
    ] + [
        # a second banner shared by exactly this pair — both bodies unique
        (20, "en", "standalone body twenty something here\nOTHER BANNER"),
        (21, "en", "another body for the banner pair\nOTHER BANNER"),
        # boilerplate-only page: reduced to '' and dropped by min_chars —
        # exactly what a cleaning pass should do to a pure-footer page
        (22, "en", f"{footer}\nOTHER BANNER"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = prepare_training_corpus(
        df,
        "doc_id",
        "text",
        "lang",
        allowed_langs=["en"],
        min_chars=10,
        line_dedup_min_count=2,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert all(footer not in t and "OTHER BANNER" not in t for t in got.values())
    assert set(range(10)) <= set(got) and 20 in got and 21 in got
    assert got[0] == "document number 0 unique words w0 x0 y0"
    assert got[20] == "standalone body twenty something here"
    assert 22 not in got  # boilerplate-only page dropped
