"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

import pytest
from pyspark.sql import functions as F

from patito_spark.functions.hashing import md5_long
from patito_spark.functions.text import (
    doc_fingerprint,
    language_id,
    normalize_text,
    quality_score,
    token_count,
    word_shingles,
)
from patito_spark.functions.vectors import cosine_similarity, dot_product, l2_norm
from patito_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_dedup,
    hamming_distance,
    minhash_candidate_pairs,
    minhash_bucket_audit,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)
from patito_spark.operators.multimodal import byte_histogram, decode_image
from patito_spark.operators.similarity import (
    build_ivf_index,
    ivf_topk,
    topk_blockwise,
    topk_brute_force,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# -- text functions -------------------------------------------------------------


def test_token_count(spark):
    df = spark.createDataFrame([("Hello, world! Don't stop",)], "t string")
    assert df.select(token_count(F.col("t")).alias("n")).collect()[0]["n"] == 4


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "t string")
    rows = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == ["a b"]  # shorter than n → whole text
    assert rows[2]["s"] == []


def test_normalize_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",)], "t string"
    )
    fps = df.select(doc_fingerprint(F.col("t")).alias("f")).collect()
    assert fps[0]["f"] == fps[1]["f"]  # case/whitespace-insensitive


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here",),
            ("der hund und die katze ist nicht da",),
            ("le chat est dans la maison les jours",),
            ("zzz qqq xxx",),
        ],
        "t string",
    )
    langs = [r["l"] for r in df.select(language_id(F.col("t")).alias("l")).collect()]
    assert langs == ["en", "de", "fr", "und"]


def test_quality_score_ranges(spark, docs):
    scored = docs.select(quality_score(F.col("text")).alias("q"))
    bounds = scored.agg(F.min("q"), F.max("q")).collect()[0]
    assert 0.0 <= bounds[0] <= bounds[1] <= 1.0


def test_text_metrics_pretokenized_path_is_unicode(spark):
    """The toks=/shingles= fast path must reproduce the default UNICODE
    tokenization bit-for-bit — on non-ascii text, where feeding the
    ascii count-column tokenizer instead would silently diverge (the
    sf fixtures are ascii-only, so the oracle gate cannot catch that
    mix-up; this pins it at the function level)."""
    from patito_spark.functions.text import (
        repetition_fraction,
        tokens,
        word_shingles_from_tokens,
    )
    from patito_spark.operators.dedup import _materialize

    df = spark.createDataFrame(
        [("the café naïve über straße and the élan of the zürich day",),
         ("der über hund und die süße katze ist nicht da öfter",),
         # all-non-ascii words: the ascii pattern tokenizes this to [],
         # zeroing the word-length band the unicode path scores
         ("ééé äää ööö üüü ßßß",)],
        "t string",
    )
    staged = _materialize(df, _toks=tokens(F.col("t")))
    staged = _materialize(staged, _sh=word_shingles_from_tokens(F.col("_toks"), 3))
    rows = staged.select(
        quality_score(F.col("t")).alias("q0"),
        quality_score(F.col("t"), toks=F.col("_toks")).alias("q1"),
        language_id(F.col("t")).alias("l0"),
        language_id(F.col("t"), toks=F.col("_toks")).alias("l1"),
        repetition_fraction(F.col("t"), n=3).alias("r0"),
        repetition_fraction(F.col("t"), n=3, shingles=F.col("_sh")).alias("r1"),
    ).collect()
    for r in rows:
        assert r["q0"] == r["q1"]
        assert r["l0"] == r["l1"]
        assert r["r0"] == r["r1"]
    # and the mix-up this test exists to catch: an ascii-pattern token
    # array is NOT a valid input for the unicode metric family
    ascii_toks = F.filter(
        F.split(F.lower(F.col("t")), r"[^a-z0-9']+"), lambda x: x != ""
    )
    diverged = df.select(
        (quality_score(F.col("t")) != quality_score(F.col("t"), toks=ascii_toks)).alias("d")
    ).collect()
    assert any(r["d"] for r in diverged)


def test_md5_long_matches_duckdb(spark):
    import duckdb

    got = (
        spark.createDataFrame([("hello",)], "s string")
        .select(md5_long(F.col("s")).alias("h"))
        .collect()[0]["h"]
    )
    expected = duckdb.sql(
        "select ('0x' || substring(md5('hello'),1,15))::BIGINT"
    ).fetchone()[0]
    assert got == expected


# -- vector functions ---------------------------------------------------------------


def test_vector_math(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dot_product(F.col("a"), F.col("b")).alias("dot"),
        l2_norm(F.col("b")).alias("norm"),
        F.round(cosine_similarity(F.col("a"), F.col("b")), 6).alias("cos"),
    ).collect()[0]
    assert row["dot"] == 1.0
    assert row["norm"] == pytest.approx(2**0.5)
    assert row["cos"] == pytest.approx(0.707107)


# -- exact dedup ----------------------------------------------------------------------


def _with_planted_dups(docs):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100_000)
    return docs.unionByName(dup)


def test_exact_dedup_keeps_lowest_id(spark, docs):
    corpus = _with_planted_dups(docs)
    deduped = exact_dedup(corpus, "doc_id", "text")
    assert deduped.count() == docs.count()
    assert deduped.filter(F.col("doc_id") >= 100_000).count() == 0


# -- minhash ------------------------------------------------------------------------------


def test_minhash_finds_planted_near_dups(spark, docs):
    # plant: exact copies and a lightly-perturbed copy
    base = docs.limit(2)
    copies = base.withColumn("doc_id", F.col("doc_id") + 100_000)
    perturbed = base.withColumn("doc_id", F.col("doc_id") + 200_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra token"))
    )
    corpus = docs.unionByName(copies).unionByName(perturbed)
    pairs = minhash_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for doc_id in [r["doc_id"] for r in base.collect()]:
        assert (doc_id, doc_id + 100_000) in found
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_minhash_no_false_exact_misses(spark, docs):
    # identical texts always share every band → guaranteed candidates
    corpus = _with_planted_dups(docs)
    pairs = minhash_candidate_pairs(corpus, "doc_id", "text", num_hashes=8, bands=4)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {
        (r["doc_id"], r["doc_id"] + 100_000) for r in docs.limit(3).collect()
    }
    assert planted <= found


def test_minhash_pairs_with_audit_rejects_looser_cap(spark):
    """Only a TIGHTER audit cap is sanctioned: a looser one would count
    pair buckets the pair leg actually dropped (ADVICE r6)."""
    import pytest

    from patito_spark.operators.dedup import minhash_pairs_with_audit

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="audit_max_bucket_size"):
        minhash_pairs_with_audit(
            docs, "doc_id", "text", max_bucket_size=4,
            audit_max_bucket_size=8,
        )


def test_minhash_pairs_with_audit_single_scan(spark, tmp_path):
    """The composed pairs+audit operator matches the standalone operators
    exactly AND computes the signature stage once: one FileScan plus a
    ReusedExchange in the final plan of the unioned output."""
    from patito_spark.operators.dedup import (
        minhash_bucket_audit,
        minhash_candidate_pairs,
        minhash_pairs_with_audit,
    )

    path = str(tmp_path / "docs")
    rows = [(i, f"some document body number {i} with shared words") for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # planted dups
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    pairs, audit = minhash_pairs_with_audit(
        docs, "doc_id", "text", num_hashes=8, bands=4,
        max_bucket_size=64, audit_max_bucket_size=2,
    )
    exp_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(
            docs, "doc_id", "text", num_hashes=8, bands=4, max_bucket_size=64
        ).collect()
    }
    exp_audit = {
        tuple(r)
        for r in minhash_bucket_audit(
            docs, "doc_id", "text", num_hashes=8, bands=4, max_bucket_size=2
        ).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == exp_pairs
    assert {tuple(r) for r in audit.collect()} == exp_audit
    assert exp_pairs and exp_audit
    # the audit side must keep a size-derived column (n_pair_buckets /
    # n_oversized) in the output — q_minhash_all does — else column
    # pruning removes the fence together with the per-bucket size and the
    # branches diverge again (one scan per leg)
    union = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionByName(
        audit.select(
            F.col("band").alias("a"), F.col("n_pair_buckets").alias("b")
        )
    )
    union.collect()
    final = (
        union._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan") == 1, final
    assert final.count("ReusedExchange") == 1, final


def test_incremental_exact_dedup(spark, tmp_path):
    """New-batch exact dedup against a fingerprint store: within-batch
    dups collapse (lowest id wins), re-crawls of stored content drop, and
    appending survivor fingerprints advances the snapshot so the NEXT
    batch dedups against both."""
    from pyspark.sql import functions as F

    from patito_spark.functions.text import doc_fingerprint
    from patito_spark.operators.dedup import incremental_exact_dedup

    old = spark.createDataFrame(
        [(1, "corpus page one"), (2, "corpus page two")],
        "doc_id long, text string",
    )
    store_path = str(tmp_path / "fp_store")
    old.select(
        doc_fingerprint(F.col("text")).alias("fingerprint")
    ).distinct().write.parquet(store_path)
    new = spark.createDataFrame(
        [
            (10, "corpus page one"),     # re-crawl → dropped
            (11, "fresh content alpha"),
            (12, "fresh content alpha"), # within-batch dup of 11
            (13, "fresh content beta"),
        ],
        "doc_id long, text string",
    )
    store = spark.read.parquet(store_path)
    out = incremental_exact_dedup(new, "doc_id", "text", store)
    assert out.columns == ["doc_id", "text"]
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]
    # advance the snapshot with the survivors and run a second batch
    out.select(
        doc_fingerprint(F.col("text")).alias("fingerprint")
    ).write.mode("append").parquet(store_path)
    batch2 = spark.createDataFrame(
        [(20, "fresh content alpha"), (21, "truly new gamma")],
        "doc_id long, text string",
    )
    out2 = incremental_exact_dedup(
        batch2, "doc_id", "text", spark.read.parquet(store_path)
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [21]
    # the corpus-sized store must never shuffle: it is reduced via a
    # broadcast semi join against the batch fingerprint set, then the
    # batch anti-joins the (batch-sized) hits — both joins broadcast
    final = (
        out2._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SortMergeJoin" not in final
    assert final.count("BroadcastHashJoin") == 2


def test_incremental_minhash_pairs_matches_from_scratch(spark, tmp_path):
    """The daily-crawl path: pairs found by scoring a NEW batch against a
    persisted signature store must equal a from-scratch run over the
    merged corpus, restricted to pairs touching the batch (old-old pairs
    were reported when the store was built)."""
    from patito_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    old_rows = [
        (i, f"stable corpus document {i} with plenty of filler words here")
        for i in range(30)
    ]
    old_rows += [(100 + i, old_rows[i][1]) for i in range(3)]  # old-old dups
    new_rows = [(200, old_rows[5][1])]  # new-old dup
    new_rows += [
        (201, "fresh page body alpha beta gamma delta"),
        (202, "fresh page body alpha beta gamma delta"),  # new-new dup
        (203, "completely unrelated singleton content"),
    ]
    kw = dict(num_hashes=8, bands=4, shingle_n=3)
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    # persist the store through parquet — the production round trip
    store_path = str(tmp_path / "sig_store")
    minhash_signatures(old, "doc_id", "text", **kw).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    inc = {
        (r["id_a"], r["id_b"])
        for r in incremental_minhash_pairs(
            new, "doc_id", "text", store, **kw
        ).collect()
    }
    new_ids = {r[0] for r in new_rows}
    scratch = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(
            old.unionByName(new), "doc_id", "text", **kw
        ).collect()
    }
    expected = {
        p for p in scratch if p[0] in new_ids or p[1] in new_ids
    }
    assert inc == expected
    # the planted collisions are actually found
    assert (5, 200) in inc and (201, 202) in inc
    # and no old-old pair leaks through
    assert all(a in new_ids or b in new_ids for a, b in inc)


def test_incremental_minhash_random_splits_match_from_scratch(spark):
    """Seeded random corpora, random old/new splits: the incremental
    result must equal the from-scratch merged run restricted to
    batch-touching pairs, for every split (the single-planted-case test
    above can't rule out split-dependent bugs).  Cap is generous so no
    bucket crosses it — the regime where the equivalence is exact."""
    import random

    from patito_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    kw = dict(num_hashes=8, bands=4, shingle_n=2)
    vocab = ["alpha", "beta", "gamma", "delta", "common", "words", "page"]
    for seed in range(4):
        rng = random.Random(seed)
        rows = []
        for i in range(24):
            if rows and rng.random() < 0.35:
                text = rng.choice(rows)[1]  # duplicate an earlier doc
            else:
                text = " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 9)))
            rows.append((i, text))
        ids = [r[0] for r in rows]
        new_ids = set(rng.sample(ids, rng.randint(4, 10)))
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        old = corpus.filter(~F.col("doc_id").isin(*new_ids))
        new = corpus.filter(F.col("doc_id").isin(*new_ids))
        store = minhash_signatures(old, "doc_id", "text", **kw)
        inc = {
            (r["id_a"], r["id_b"])
            for r in incremental_minhash_pairs(
                new, "doc_id", "text", store, max_bucket_size=64, **kw
            ).collect()
        }
        scratch = {
            (r["id_a"], r["id_b"])
            for r in minhash_candidate_pairs(
                corpus, "doc_id", "text", max_bucket_size=64, **kw
            ).collect()
        }
        expected = {
            p for p in scratch if p[0] in new_ids or p[1] in new_ids
        }
        assert inc == expected, f"seed {seed}"


def test_incremental_minhash_union_sized_gate(spark):
    """Bucket sizes are gated over store + batch: a bucket the NEW batch
    pushes past the cap stops producing pairs — including for its old
    members — exactly as a from-scratch run over the merged corpus would
    drop it."""
    from patito_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    boiler = "identical boilerplate page body repeated everywhere"
    old = spark.createDataFrame(
        [(i, boiler) for i in range(3)], "doc_id long, text string"
    )
    store = minhash_signatures(old, "doc_id", "text", num_hashes=8, bands=4)
    new = spark.createDataFrame(
        [(100 + i, boiler) for i in range(2)], "doc_id long, text string"
    )
    # cap 4: union bucket size 5 > 4 → gate drops it, no pairs at all
    gated = incremental_minhash_pairs(
        new, "doc_id", "text", store, num_hashes=8, bands=4, max_bucket_size=4
    ).collect()
    assert gated == []
    # cap 8 admits the bucket: every new-touching pair appears
    open_pairs = {
        (r["id_a"], r["id_b"])
        for r in incremental_minhash_pairs(
            new, "doc_id", "text", store, num_hashes=8, bands=4,
            max_bucket_size=8,
        ).collect()
    }
    assert open_pairs == {
        (0, 100), (0, 101), (1, 100), (1, 101), (2, 100), (2, 101),
        (100, 101),
    }


def test_incremental_minhash_store_never_shuffles(spark, tmp_path):
    """At batch scale the corpus-sized signature store is reduced to
    batch-touched buckets via a BROADCAST semi join (AQE) — never sort-
    merge-joined or shuffled corpus-wide.  The 'incr' driver leg and the
    daily-crawl pipeline both rely on this shape."""
    from patito_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    old = spark.createDataFrame(
        [(i, f"stable corpus document {i} filler body words") for i in range(40)],
        "doc_id long, text string",
    )
    kw = dict(num_hashes=8, bands=4, shingle_n=3)
    store_path = str(tmp_path / "sig_store")
    minhash_signatures(old, "doc_id", "text", **kw).write.parquet(store_path)
    new = spark.createDataFrame(
        [(100, "fresh batch page body alpha"), (101, old.collect()[3]["text"])],
        "doc_id long, text string",
    )
    out = incremental_minhash_pairs(
        new, "doc_id", "text", spark.read.parquet(store_path), **kw
    )
    out.collect()  # final AQE plan requires an action on the SAME Dataset
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final


def test_incremental_store_family_mismatch_raises(spark):
    """A signature store fed to an incremental call with DIFFERENT family
    parameters must raise loudly — mismatched families bucket
    incompatibly, which is a silent wrong answer otherwise (VERDICT r6
    item 1).  A store without the tag cannot be checked, so it raises too."""
    import pytest

    from patito_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"document body number {i} filler words") for i in range(6)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "fresh batch document body")], "doc_id long, text string"
    )
    mh_store = minhash_signatures(docs, "doc_id", "text", num_hashes=8, bands=4)
    with pytest.raises(ValueError, match="num_hashes=8"):
        incremental_minhash_pairs(
            batch, "doc_id", "text", mh_store, num_hashes=16, bands=4
        ).collect()
    with pytest.raises(ValueError, match="no 'family' tag.*_signatures builder"):
        incremental_minhash_pairs(
            batch, "doc_id", "text", mh_store.drop("family"),
            num_hashes=8, bands=4,
        )


def test_oversized_bucket_never_aggregated(spark, docs):
    # 80 identical "boilerplate" docs form a bucket above max_bucket_size in
    # every band; 2 planted exact dups stay under it.  The pair stage must
    # (a) emit only small-bucket pairs, (b) still count the dropped bucket,
    # and (c) place the bucket-size Filter BELOW the collect_list aggregate
    # so the oversized bucket never materializes a member array (the 100 TB
    # OOM guard).
    boiler = spark.range(80).select(
        (F.col("id") + 500_000).alias("doc_id"),
        F.lit("boilerplate page repeated verbatim across the crawl").alias(
            "text"
        ),
    )
    keep = docs.limit(2).select("doc_id", "text")
    dup = keep.withColumn("doc_id", F.col("doc_id") + 100_000)
    corpus = keep.unionByName(dup).unionByName(boiler)
    pairs = minhash_candidate_pairs(
        corpus, "doc_id", "text", num_hashes=8, bands=4, max_bucket_size=8
    )
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert all(a < 500_000 and b < 500_000 for a, b in found)
    planted = {(r["doc_id"], r["doc_id"] + 100_000) for r in keep.collect()}
    assert planted <= found
    audit = {
        r["band"]: r
        for r in minhash_bucket_audit(
            corpus, "doc_id", "text", num_hashes=8, bands=4, max_bucket_size=8
        ).collect()
    }
    dropped = sum(r["n_oversized"] for r in audit.values())
    assert dropped >= 4  # the boilerplate bucket is dropped in every band
    # plan shape: collect_list (Aggregate) must sit ABOVE the window-count
    # filter — i.e. the size gate executes first
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan and "_bucket_n" in plan
    assert plan.index("collect_list") < plan.index("_bucket_n")
    # per band, the boilerplate bucket is oversized and the planted-dup
    # buckets are pair buckets
    assert len(audit) == 4
    assert all(r["n_oversized"] >= 1 for r in audit.values())
    assert all(r["n_pair_buckets"] >= 1 for r in audit.values())


@pytest.mark.parametrize("n", [3, 4])
@pytest.mark.parametrize("family", ["minhash", "simhash", "embedding"])
def test_bucket_pair_kernel_emits_each_pair_once(spark, family, n):
    """One bucket of n identical members yields exactly its C(n, 2) pairs,
    each once with id_a < id_b; above ``max_bucket_size`` it yields none."""
    import itertools

    ids = [7, 3, 11, 5][:n]
    if family == "embedding":
        df = spark.createDataFrame(
            [(i, [0.6, 0.8, 0.0]) for i in ids], "id long, v array<double>"
        )

        def pairs(cap):
            return embedding_near_duplicates(df, "id", "v", max_bucket_size=cap)
    else:
        df = spark.createDataFrame(
            [(i, "one page of text repeated verbatim") for i in ids],
            "id long, text string",
        )
        op = minhash_candidate_pairs if family == "minhash" else simhash_candidate_pairs

        def pairs(cap):
            return op(df, "id", "text", max_bucket_size=cap)

    found = [(r["id_a"], r["id_b"]) for r in pairs(n).collect()]
    assert sorted(found) == list(itertools.combinations(sorted(ids), 2))
    assert pairs(n - 1).count() == 0


# -- simhash ----------------------------------------------------------------------------------


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely unrelated content about spark shuffles"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r["h"] for r in df.select("id", simhash(F.col("text")).alias("h")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_simhash_candidate_pairs(spark, docs):
    corpus = _with_planted_dups(docs)
    pairs = simhash_candidate_pairs(corpus, "doc_id", "text", max_hamming=3)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    planted = {
        (r["doc_id"], r["doc_id"] + 100_000) for r in docs.limit(3).collect()
    }
    assert planted <= set(found)
    assert all(h == 0 for p, h in found.items() if p in planted)


def test_hamming_distance(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], "a long, b long")
    assert df.select(
        hamming_distance(F.col("a"), F.col("b")).alias("h")
    ).collect()[0]["h"] == 1


# -- ngram jaccard -----------------------------------------------------------------------------


def test_ngram_jaccard_blocked(spark, docs):
    corpus = _with_planted_dups(docs)
    pairs = ngram_jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.99, block_cols=["source"]
    ).collect()
    planted = {
        (r["doc_id"], r["doc_id"] + 100_000) for r in docs.limit(3).collect()
    }
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert planted <= found
    assert all(r["jaccard"] == pytest.approx(1.0) for r in pairs if (r["id_a"], r["id_b"]) in planted)


# -- embedding near-dup -------------------------------------------------------------------------


def test_embedding_near_duplicates(spark, embeddings):
    dup = embeddings.limit(2).withColumn("vec_id", F.col("vec_id") + 100_000)
    corpus = embeddings.unionByName(dup)
    pairs = embedding_near_duplicates(
        corpus, "vec_id", "embedding", threshold=0.999, planes=8
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {
        (r["vec_id"], r["vec_id"] + 100_000) for r in embeddings.limit(2).collect()
    }
    assert planted <= found


# -- similarity search -----------------------------------------------------------------------------


def test_topk_brute_force_self_nearest(spark, embeddings):
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    top = topk_brute_force(embeddings, probes, k=5).collect()
    by_probe = {}
    for r in top:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for pid, rows in by_probe.items():
        assert len(rows) == 5
        best = min(rows, key=lambda r: r["rank"])
        assert best["neighbor_id"] == pid  # self is nearest
        assert best["cosine"] == pytest.approx(1.0)


def test_topk_blockwise_matches_brute_force(spark, embeddings):
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    brute = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in topk_brute_force(embeddings, probes, k=5).collect()
    }
    block = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in topk_blockwise(embeddings, probes, k=5).collect()
    }
    assert brute == block


def test_ivf_topk_recall(spark, embeddings):
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    indexed, centroids = build_ivf_index(embeddings, n_centroids=8)
    approx = ivf_topk(indexed, centroids, probes, k=5, nprobe=4)
    rows = approx.collect()
    # self must be found (it lives in the probe's own nearest bucket)
    best = {r["probe_id"]: r for r in rows if r["rank"] == 1}
    for pid, r in best.items():
        assert r["neighbor_id"] == pid
    # k-means centroids: recall vs brute force ≥ 0.9 at nprobe=4 of 8
    truth = {
        (r["probe_id"], r["neighbor_id"])
        for r in topk_brute_force(embeddings, probes, k=5).collect()
    }
    got = {(r["probe_id"], r["neighbor_id"]) for r in rows}
    assert len(got & truth) / len(truth) >= 0.9


def test_ivf_kmeans_deterministic(spark, embeddings):
    _, c1 = build_ivf_index(embeddings, n_centroids=8)
    _, c2 = build_ivf_index(embeddings, n_centroids=8)
    assert c1 == c2


def test_ivf_first_strategy_uses_lowest_ids(spark, embeddings):
    _, centroids = build_ivf_index(embeddings, n_centroids=4, strategy="first")
    expected = [
        list(r["embedding"])
        for r in embeddings.orderBy("vec_id").limit(4).collect()
    ]
    assert [c[1] for c in centroids] == expected


def test_repetition_fraction(spark):
    from patito_spark.functions.text import repetition_fraction

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # all trigrams unique
            (2, "spam spam spam spam spam spam spam"),    # one trigram repeated
            (3, "ab"),                                     # single shingle → 0.0
            (4, ""),                                       # empty → 0.0
        ],
        "id long, text string",
    )
    rows = {
        r["id"]: r["rep"]
        for r in df.select(
            "id", repetition_fraction(F.col("text")).alias("rep")
        ).collect()
    }
    assert rows[1] == 0.0
    assert rows[2] == pytest.approx(0.8)  # 5 trigrams, 1 distinct
    assert rows[3] == 0.0 and rows[4] == 0.0


def test_pii_counts(spark):
    from patito_spark.functions.text import pii_counts

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org, server 10.0.0.1, "
                "call +1 (555) 123-4567 today"),
            (2, "no pii here"),
        ],
        "id long, text string",
    )
    counts = pii_counts(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id", *[c.alias(k) for k, c in counts.items()]
        ).collect()
    }
    assert rows[1]["emails"] == 2
    assert rows[1]["ipv4"] == 1
    assert rows[1]["phones"] == 1
    assert rows[2]["emails"] == rows[2]["ipv4"] == rows[2]["phones"] == 0


# -- url functions -----------------------------------------------------------------------------------


def test_url_parsing(spark):
    from patito_spark.functions.urls import (
        registrable_domain,
        url_host,
        url_path,
        url_scheme,
    )

    df = spark.createDataFrame(
        [
            (1, "https://Sub.News.Example.com:8080/a/b?q=1#frag"),
            (2, "http://example.com"),
            (3, "//cdn.example.org/x.js"),
            (4, "relative/path/only"),
            (5, "ftp://files.example.net/pub/"),
        ],
        "id long, url string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            url_scheme(F.col("url")).alias("scheme"),
            url_host(F.col("url")).alias("host"),
            url_path(F.col("url")).alias("path"),
            registrable_domain(F.col("url")).alias("domain"),
        ).collect()
    }
    assert rows[1]["scheme"] == "https"
    assert rows[1]["host"] == "sub.news.example.com"
    assert rows[1]["path"] == "/a/b"
    assert rows[1]["domain"] == "example.com"
    assert rows[2]["path"] == ""
    assert rows[3]["scheme"] == "" and rows[3]["host"] == "cdn.example.org"
    assert rows[4]["host"] == "" and rows[4]["domain"] == ""
    assert rows[5]["domain"] == "example.net"


# -- per-group cap -----------------------------------------------------------------------------------


def test_cap_per_group_keeps_top_k(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 4, 5)],
        "g string, id long, score long",
    )
    kept = cap_per_group(
        df, "g", k=2, order_by=[F.col("score").desc()], id_col="id"
    )
    rows = {(r["g"], r["id"]) for r in kept.collect()}
    assert rows == {("a", 2), ("a", 3), ("b", 4)}
    assert "_rk" not in kept.columns
    with pytest.raises(ValueError, match="k must be positive"):
        cap_per_group(df, "g", k=0, id_col="id")
    with pytest.raises(ValueError, match="deterministic order"):
        cap_per_group(df, "g", k=1)


# -- keyword extraction ------------------------------------------------------------------------------


def test_keyword_tfidf_ranks_rare_terms_first(spark):
    from patito_spark.operators.keywords import keyword_tfidf

    docs = spark.createDataFrame(
        [
            (1, "common common rare common"),
            (2, "common filler filler"),
            (3, "common words words words"),
        ],
        "doc_id long, text string",
    )
    out = keyword_tfidf(docs, "doc_id", "text", k=2, min_df=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"]))
    # doc 1: 'rare' (df=1, idf=2) vs 'common' tf=3 (df=3, idf=1) →
    # common: 3*1=3, rare: 1*2=2 → common first
    assert sorted(by_doc[1]) == [(1, "common", 3), (2, "rare", 1)]
    # doc 2: filler tf=2 df=1 → 2*2=4 beats common 1*1=1
    assert sorted(by_doc[2]) == [(1, "filler", 2), (2, "common", 1)]
    # min_df=2 drops every df=1 term
    strict = keyword_tfidf(docs, "doc_id", "text", k=2, min_df=2).collect()
    assert {r["term"] for r in strict} == {"common"}


def test_keyword_tfidf_single_text_scan(spark, tmp_path):
    """The tf and docfreq sides of the term join consume one shared
    (doc, term) aggregate: its exchange must be REUSED at runtime, so the
    corpus text is scanned once for scoring (plus the column-pruned
    metadata-only scan of the N-count fold)."""
    from patito_spark.operators.keywords import keyword_tfidf

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta w{i} w{i} gamma") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    out = keyword_tfidf(docs, "doc_id", "text", k=2)
    rows = out.collect()
    # per-doc rare term w{i} (df=1) outranks the common terms
    top = {r["doc_id"]: r["term"] for r in rows if r["rank"] == 1}
    assert top == {i: f"w{i}" for i in range(40)}
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # 2 scans: the shared (doc, term) subtree (text) + the N-count fold
    # (metadata-only); without the fence the text scans twice (3 total)
    assert final.count("FileScan") == 2, final
    assert final.count("ReusedExchange") == 1, final


# -- sequence packing --------------------------------------------------------------------------------


def test_pack_sequences_semantics(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.packing import pack_sequences

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 90 + 10).alias("ntok")
    )
    packed = pack_sequences(docs, "doc_id", "ntok", budget=128, streams=4)
    rows = packed.collect()
    assert len(rows) == 200
    # tok_start always inside the budget; streams in range
    assert all(0 <= r["tok_start"] < 128 for r in rows)
    assert all(0 <= r["stream"] < 4 for r in rows)
    # within a stream, pack_id follows the running cumsum exactly
    by_stream = {}
    for r in sorted(rows, key=lambda r: (r["stream"], r["pack_id"], r["tok_start"], r["doc_id"])):
        cum = by_stream.get(r["stream"], 0)
        assert r["pack_id"] == cum // 128 and r["tok_start"] == cum % 128
        by_stream[r["stream"]] = cum + r["ntok"]
    # deterministic under input re-partitioning
    again = pack_sequences(
        docs.repartition(13), "doc_id", "ntok", budget=128, streams=4
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}
    with pytest.raises(ValueError, match="budget must be positive"):
        pack_sequences(docs, "doc_id", "ntok", budget=0)


# -- train/eval contamination ------------------------------------------------------------------------


def test_ngram_contamination_planted_leak(spark):
    from patito_spark.operators.contamination import ngram_contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training material here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps"),  # fully contained in train
            (101, "novel words appear nowhere else"),  # clean
            (102, None),  # no text → 0 ngrams, fraction 0.0
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["fraction"])
        for r in ngram_contamination(ev, train, "doc_id", "text", n=3).collect()
    }
    # doc 100: 3 trigrams, all present in train doc 1
    assert out[100] == (3, 3, 1.0)
    # doc 101: 3 trigrams, none in train
    assert out[101] == (3, 0, 0.0)
    assert out[102] == (0, 0, 0.0)


def test_ngram_contamination_reversed_direction_broadcasts_small_side(spark):
    """Decontamination direction (big train scored vs a small benchmark):
    the SMALL side's n-gram set must broadcast — the big side never
    shuffles by n-gram in the plan."""
    from pyspark.sql import functions as F

    from patito_spark.operators.contamination import ngram_contamination

    big = spark.range(200_000_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body "), F.col("id")).alias("text"),
    )
    # plan-stats-visible small side (createDataFrame frames are LogicalRDDs
    # whose size estimate is conservatively huge; real benchmarks come from
    # table scans, whose estimates are file-size-derived like range's)
    bench = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the eval question text "), F.col("id")).alias("text"),
    )
    out = ngram_contamination(big, bench, "doc_id", "text", n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the big side's n-grams must NOT shuffle in this direction
    assert "SortMergeJoin" not in plan
    # values still correct on a small concrete instance of this direction
    train = spark.createDataFrame(
        [(10, "a b c"), (11, "x y z")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_contaminated"]
        for r in ngram_contamination(
            train, spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
            "doc_id", "text", n=3,
        ).collect()
    }
    assert got == {10: 1, 11: 0}


def test_ngram_broadcast_gate_is_derated(spark, tmp_path, monkeypatch):
    """An eval set whose TEXT estimate is just under the raw broadcast
    threshold must NOT broadcast: the actual broadcast relation is its
    n-gram set, measured at up to ~104x the text plan estimate
    (NGRAM_BROADCAST_EXPANSION) — only sets under threshold/expansion may
    broadcast."""
    from patito_spark.operators import contamination as cm

    path = str(tmp_path / "eval_docs")
    spark.createDataFrame(
        [(i, f"some evaluation question text number {i}") for i in range(200)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    est = cm._estimated_bytes(docs.select("text"))
    assert est > 0
    # threshold just ABOVE the raw estimate: pre-derate logic would say
    # broadcast; the derated gate must refuse
    monkeypatch.setattr(cm, "BROADCAST_SIZE_THRESHOLD", est + 1)
    assert not cm._ngram_broadcast_ok(docs, "text")
    # comfortably under the DERATED threshold: broadcast allowed
    monkeypatch.setattr(
        cm,
        "BROADCAST_SIZE_THRESHOLD",
        est * cm.NGRAM_BROADCAST_EXPANSION * 2,
    )
    assert cm._ngram_broadcast_ok(docs, "text")


def test_ngram_contamination_counts_distinct_ngrams_once(spark):
    from patito_spark.operators.contamination import ngram_contamination

    # repeated trigram in the eval doc counts once (distinct n-grams)
    train = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(9, "a b c a b c")], "doc_id long, text string"
    )
    (row,) = ngram_contamination(ev, train, "doc_id", "text", n=3).collect()
    # trigrams of [a b c a b c]: "a b c", "b c a", "c a b", "a b c" →
    # 3 distinct, one of which ("a b c") is in train
    assert (row["n_ngrams"], row["n_contaminated"]) == (3, 1)
    assert row["fraction"] == pytest.approx(1 / 3)


# -- connected components ----------------------------------------------------------------------------


def test_connected_components_basic(spark):
    from collections import Counter

    from patito_spark.operators.components import connected_components

    # chain 1-2-3, pair 10-11 (reversed direction), triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (11, 10), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comps = connected_components(pairs)
    comp = {r["node"]: r["component"] for r in comps.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # cluster-size distribution: {size: number of clusters of that size}
    sizes = comps.groupBy("component").count().collect()
    stats = Counter(r["count"] for r in sizes)
    assert stats == {3: 2, 2: 1}


def test_connected_components_random_graphs_vs_union_find(spark):
    """Distributed min-label + pointer-doubling agrees with a driver-side
    union-find on seeded random graphs (cliques, chains, isolates mixed)."""
    import random

    from patito_spark.operators.components import connected_components

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(2, 30)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 40))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # expected: min node id per component, only for nodes in edges
        nodes = {x for e in edges for x in e}
        roots = {}
        for x in nodes:
            r = find(x)
            roots.setdefault(r, []).append(x)
        expected = {
            x: min(members) for members in roots.values() for x in members
        }
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == expected, f"seed {seed}"


def test_drop_near_duplicates_keeps_canonical(spark):
    from patito_spark.operators.components import drop_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 4)], "id_a long, id_b long"
    )  # cluster {1,2,4} → keep 1; docs 0,3,5 untouched
    kept = sorted(
        r["doc_id"] for r in drop_near_duplicates(docs, "doc_id", pairs).collect()
    )
    assert kept == [0, 1, 3, 5]


def test_drop_near_duplicates_keep_by_quality(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.components import drop_near_duplicates

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (4, 0.9), (5, 0.1)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    # cluster {1,2,4}: keep the best quality, id-asc tiebreak → 2 survives
    kept = sorted(
        r["doc_id"]
        for r in drop_near_duplicates(
            docs, "doc_id", pairs, keep_by=F.col("quality").desc()
        ).collect()
    )
    assert kept == [2, 5]


def test_connected_components_long_chain_converges(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.components import connected_components

    # a 12-node chain: min-label needs ~chain-length rounds (worst case for
    # propagation); assert the bound raises rather than spinning forever
    chain = spark.range(11).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    comp = connected_components(chain, max_iterations=20).collect()
    assert all(r["component"] == 0 for r in comp)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=3)


# -- as-of join ---------------------------------------------------------------------------------------


def test_asof_join_backward_forward(spark):
    from patito_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (2, 10, "a"), (3, 3, "b"), (4, 1, "b")],
        "id long, t long, k string",
    )
    right = spark.createDataFrame(
        [(2, "a", 20.0), (7, "a", 70.0), (10, "a", 100.0), (2, "b", 2.0)],
        "t long, k string, px double",
    )
    back = {
        r["id"]: r["px"]
        for r in asof_join(left, right, on="t", by=["k"]).collect()
    }
    # id=1: latest a-row with t<=5 is t=2; id=2: t=10 matches inclusively;
    # id=3: b-row t=2; id=4: nothing at or before t=1 → NULL
    assert back == {1: 20.0, 2: 100.0, 3: 2.0, 4: None}
    fwd = {
        r["id"]: r["px"]
        for r in asof_join(
            left, right, on="t", by=["k"], direction="forward"
        ).collect()
    }
    assert fwd == {1: 70.0, 2: 100.0, 3: None, 4: 2.0}


def test_asof_join_without_by_warns(spark):
    # no by= → partitionBy(lit(1)) global window: correct, but the whole
    # union sorts on one task — the API must say so out loud
    import warnings

    from patito_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5)], "id long, t long")
    right = spark.createDataFrame([(2, 20.0)], "t long, px double")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = asof_join(left, right, on="t")
    assert any("single-partition" in str(w.message) for w in caught)
    assert out.collect()[0]["px"] == 20.0
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        asof_join(left, right, on="t", by=["t"])
    assert not any("single-partition" in str(w.message) for w in caught)


def test_asof_join_null_on_never_matches(spark):
    # DuckDB ASOF / polars join_asof parity: NULL timestamps match nothing —
    # a NULL right ts must not be carried into real rows (it would sort
    # NULLS-FIRST before everything), and a NULL left ts gets NULL payload
    from patito_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (2, None, "a")], "id long, t long, k string"
    )
    right = spark.createDataFrame(
        [(None, "a", 99.0), (2, "a", 20.0)], "t long, k string, px double"
    )
    for direction in ("backward", "forward"):
        got = {
            r["id"]: r["px"]
            for r in asof_join(
                left, right, on="t", by=["k"], direction=direction
            ).collect()
        }
        assert got[2] is None, direction  # NULL left ts never matches
        assert got[1] != 99.0, direction  # NULL right ts never donates
    back = {
        r["id"]: r["px"]
        for r in asof_join(left, right, on="t", by=["k"]).collect()
    }
    assert back == {1: 20.0, 2: None}


def test_asof_join_suffix_and_no_by(spark):
    from patito_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5, 9.0)], "id long, t long, px double")
    right = spark.createDataFrame([(4, 1.5)], "t long, px double")
    row = asof_join(left, right, on="t").collect()[0]
    assert row["px"] == 9.0 and row["px_right"] == 1.5
    with pytest.raises(ValueError, match="backward|forward"):
        asof_join(left, right, on="t", direction="sideways")


# -- range join ---------------------------------------------------------------------------------------


def test_range_join_matches_naive_inequality_join(spark):
    from patito_spark.operators.ranges import range_join

    # numeric "timestamps"; intervals spanning multiple buckets, an empty
    # interval, and a point on the half-open boundary
    points = spark.createDataFrame(
        [(1, 5.0, "a"), (2, 99.0, "a"), (3, 100.0, "a"), (4, 250.0, "b")],
        "id long, t double, k string",
    )
    intervals = spark.createDataFrame(
        [
            ("a", 0.0, 100.0, "w1"),     # multi-bucket; 100 excluded
            ("a", 90.0, 110.0, "w2"),
            ("b", 250.0, 250.0, "w3"),   # empty interval → no matches
            ("b", 200.0, 300.0, "w4"),
        ],
        "k string, s double, e double, w string",
    )
    got = {
        (r["id"], r["w"])
        for r in range_join(
            points, intervals, "t", "s", "e", by=["k"], bucket_seconds=30
        ).collect()
    }
    naive = {
        (r["id"], r["w"])
        for r in points.join(
            intervals,
            (points["k"] == intervals["k"])
            & (points["t"] >= intervals["s"])
            & (points["t"] < intervals["e"]),
        ).collect()
    }
    assert got == naive
    assert (1, "w1") in got and (2, "w2") in got
    assert (3, "w1") not in got  # half-open end
    assert (4, "w4") in got and (4, "w3") not in got


# -- time rollup --------------------------------------------------------------------------------------


def test_time_rollup_reaggregation_matches_direct(spark):
    import datetime as dt

    from patito_spark.operators.rollup import time_rollup

    base = dt.datetime(2024, 3, 4, 0, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=17 * i), None if v is None else float(v))
        for i, v in enumerate([5, None, 3, 8, 1, 9, 2, 7, 4, 6])
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = time_rollup(df, "ts", "v", levels=("hour", "day"))
    day = [r for r in out.collect() if r["level"] == "day"]
    assert len(day) == 1
    # merged partials must equal direct aggregation of the raw rows
    assert day[0]["n"] == 10
    assert day[0]["sum_v"] == 45.0
    assert day[0]["min_v"] == 1.0 and day[0]["max_v"] == 9.0
    hours = {r["bucket"].hour: r["n"] for r in out.collect() if r["level"] == "hour"}
    assert sum(hours.values()) == 10
    with pytest.raises(ValueError, match="at least one"):
        time_rollup(df, "ts", "v", levels=())


# -- sessionization -----------------------------------------------------------------------------------


def test_sessionize_gaps_and_islands(spark):
    import datetime as dt

    from patito_spark.operators.sessions import session_stats, sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base),                                  # u1 session 1
        (1, base + dt.timedelta(minutes=10)),       # still session 1
        (1, base + dt.timedelta(minutes=50)),       # gap 40m > 30m → session 2
        (2, base),                                  # u2 session 1
        (2, base + dt.timedelta(seconds=1800)),     # exactly the gap → same
        (2, base + dt.timedelta(seconds=3601)),     # 1801s later → session 2
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    got = {
        (r["u"], r["ts"]): r["session_seq"]
        for r in sessionize(df, "u", "ts", gap_seconds=1800).collect()
    }
    assert got[(1, rows[0][1])] == 1
    assert got[(1, rows[1][1])] == 1
    assert got[(1, rows[2][1])] == 2
    assert got[(2, rows[3][1])] == 1
    assert got[(2, rows[4][1])] == 1  # inclusive boundary
    assert got[(2, rows[5][1])] == 2
    stats = {
        (r["u"], r["session_seq"]): r
        for r in session_stats(df, "u", "ts", gap_seconds=1800).collect()
    }
    assert stats[(1, 1)]["n_events"] == 2
    assert stats[(1, 1)]["duration_us"] == 600 * 1_000_000
    assert stats[(2, 2)]["n_events"] == 1
    assert stats[(2, 2)]["duration_us"] == 0


def test_sessionize_null_timestamps_coalesce(spark):
    # a NULL-ts block forms ONE leading session (not one per row); the
    # first real-timestamped event then opens a new session
    import datetime as dt

    from patito_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, None),
        (1, None),
        (1, base),
        (1, base + dt.timedelta(minutes=5)),
        (2, base),  # control user: no NULLs → plain session 1
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    out = sessionize(df, "u", "ts", gap_seconds=1800).collect()
    u1 = sorted(
        ((r["ts"] is not None, r["ts"]), r["session_seq"])
        for r in out
        if r["u"] == 1
    )
    assert [s for _, s in u1] == [1, 1, 2, 2]
    assert [r["session_seq"] for r in out if r["u"] == 2] == [1]


def test_time_rollup_rejects_non_nesting_levels(spark):
    import datetime as dt

    import pytest

    from patito_spark.operators.rollup import time_rollup

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1.0)], "ts timestamp, v double"
    )
    with pytest.raises(ValueError, match="week"):
        time_rollup(df, "ts", "v", levels=("week", "month"))
    with pytest.raises(ValueError, match="nesting"):
        time_rollup(df, "ts", "v", levels=("day", "hour"))
    # day→week is the sanctioned week shape (week is a leaf)
    out = time_rollup(df, "ts", "v", levels=("day", "week"))
    assert {r["level"] for r in out.collect()} == {"day", "week"}


# -- deterministic sampling / splits --------------------------------------------------------------------


def test_deterministic_sample_stable_and_proportional(spark):
    from patito_spark.operators.sampling import deterministic_sample

    df = spark.range(10_000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in deterministic_sample(df, "k", 0.2).collect()}
    s2 = {r["k"] for r in deterministic_sample(df, "k", 0.2).collect()}
    assert s1 == s2  # pure function of the key
    assert 0.17 < len(s1) / 10_000 < 0.23
    # a grown table keeps previously-sampled keys sampled
    bigger = spark.range(20_000).withColumnRenamed("id", "k")
    s3 = {r["k"] for r in deterministic_sample(bigger, "k", 0.2).collect()}
    assert s1 <= s3


def test_hash_split_partitions_every_row_once(spark):
    from patito_spark.operators.sampling import hash_split, split_counts

    df = spark.range(10_000).withColumnRenamed("id", "k")
    weights = {"train": 8, "val": 1, "test": 1}
    counts = {
        r["split"]: r["n_rows"]
        for r in split_counts(df, "k", weights).collect()
    }
    assert sum(counts.values()) == 10_000
    assert 0.75 < counts["train"] / 10_000 < 0.85
    assert 0.07 < counts["val"] / 10_000 < 0.13
    # disjoint and exhaustive by construction; stable across calls
    a = hash_split(df, "k", weights).groupBy("split").count().collect()
    b = hash_split(df, "k", weights).groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="non-empty"):
        hash_split(df, "k", {})


def test_stratified_sample_rates_and_independence(spark):
    from patito_spark.operators.sampling import stratified_sample

    df = spark.range(30_000).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    kept = stratified_sample(df, "k", "lang", {"en": 0.5, "de": 0.1}).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang"], set()).add(r["k"])
    # per-stratum rates honored; unlisted stratum dropped entirely
    assert 0.45 < len(by_lang["en"]) / 10_000 < 0.55
    assert 0.07 < len(by_lang["de"]) / 10_000 < 0.13
    assert "fr" not in by_lang
    # default= keeps unlisted strata at the given rate
    with_default = stratified_sample(
        df, "k", "lang", {"en": 0.5}, default=1.0
    )
    assert with_default.filter(F.col("lang") == "fr").count() == 10_000
    # deterministic: same keys every run
    again = {
        (r["k"], r["lang"])
        for r in stratified_sample(df, "k", "lang", {"en": 0.5, "de": 0.1}).collect()
    }
    assert again == {(r["k"], r["lang"]) for r in kept}
    # strata use independent hash streams: en's kept-rate among keys that
    # de would keep equals en's global rate (no correlation)
    de_kept_keys = {
        r["k"]
        for r in stratified_sample(
            df.withColumn("lang", F.lit("de")), "k", "lang", {"de": 0.1}
        ).collect()
    }
    en_among = len(by_lang["en"] & de_kept_keys) / max(len(de_kept_keys & {r["k"] for r in df.filter(F.col("lang")=="en").collect()}), 1)
    assert 0.3 < en_among < 0.7  # ~0.5, NOT 0 or 1
    with pytest.raises(ValueError, match="non-empty"):
        stratified_sample(df, "k", "lang", {})
    with pytest.raises(ValueError, match="must be in"):
        stratified_sample(df, "k", "lang", {"en": 1.5})


# -- multimodal ---------------------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    return spark.createDataFrame(
        [(1, b"\x00\x01\x02\x03" * 64), (2, b"\xff" * 100), (3, b"")],
        "id long, payload binary",
    )


def test_byte_histogram(spark, media):
    out = {r["id"]: r for r in byte_histogram(media, "id", "payload").collect()}
    assert out[1]["n_bytes"] == 256
    assert out[1]["hist"][0] == 256  # all bytes 0..3 fall in bucket 0
    assert out[2]["hist"][15] == 100  # 0xff in the last bucket
    assert sum(out[3]["hist"]) == 0


def _make_ppm(px):
    import numpy as np

    h, w = px.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + np.asarray(px, dtype=np.uint8).tobytes()


def _make_bmp(px, top_down=False):
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    bgr = px[:, :, ::-1]
    if not top_down:
        bgr = bgr[::-1]
    row = w * 3
    pad = (-row) % 4
    raster = b"".join(bgr[y].tobytes() + b"\x00" * pad for y in range(h))
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(raster), 2835, 2835, 0, 0,
    )
    return header + raster


def _make_png(px, filters=None):
    """Minimal PNG encoder for tests: 8-bit RGB, one chosen filter per
    scanline (exercises the decoder's unfilter paths, incl. Paeth)."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    filters = filters or [0] * h

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        f = filters[y]
        raw.append(f)
        for x in range(w * 3):
            left = int(line[x - 3]) if x >= 3 else 0
            up = int(prev[x])
            ul = int(prev[x - 3]) if x >= 3 else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] - left
            elif f == 2:
                v = line[x] - up
            elif f == 3:
                v = line[x] - ((left + up) >> 1)
            else:
                v = line[x] - paeth(left, up, ul)
            raw.append(int(v) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _test_pixels():
    import numpy as np

    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)


def test_imagecodec_roundtrip_all_formats():
    # pure-python decode parity: the same pixels survive PPM, BMP (both row
    # orders) and PNG under every scanline filter type
    import numpy as np

    from patito_spark.operators.imagecodec import decode_image_bytes

    px = _test_pixels()
    for payload in (
        _make_ppm(px),
        _make_bmp(px),
        _make_bmp(px, top_down=True),
        _make_png(px, filters=[0, 1, 2, 3, 4]),
        _make_png(px, filters=[4, 3, 2, 1, 0]),
    ):
        w, h, mode, got = decode_image_bytes(payload)
        assert (w, h, mode) == (4, 5, "RGB")
        assert np.array_equal(got, px)


def test_imagecodec_rejects_garbage():
    import pytest as _pytest

    from patito_spark.operators.imagecodec import decode_image_bytes

    with _pytest.raises(ValueError, match="unrecognized"):
        decode_image_bytes(b"JFIF not really" * 4)
    with _pytest.raises(ValueError, match="truncated PPM raster"):
        decode_image_bytes(_make_ppm(_test_pixels())[:-10])


def test_decode_image_real_stdlib_path(spark):
    # the REAL mapInPandas decode stage, no PIL installed: synthesized
    # PPM/BMP/PNG payloads decode to identical metadata; a corrupt payload
    # yields NULL fields + decode_error instead of a task failure
    import numpy as np

    px = _test_pixels()
    rows = [
        (1, _make_ppm(px)),
        (2, _make_bmp(px)),
        (3, _make_png(px, filters=[0, 1, 2, 3, 4])),
        (4, b"\x00garbage payload"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in decode_image(df, "id", "payload").collect()}
    want_mean = float(px.astype("float64").mean())
    for i in (1, 2, 3):
        assert (out[i]["width"], out[i]["height"], out[i]["mode"]) == (4, 5, "RGB")
        assert abs(out[i]["mean_pixel"] - want_mean) < 1e-12
        assert out[i]["decode_error"] is None
    assert out[4]["width"] is None and "unrecognized" in out[4]["decode_error"]
    # resize through the same path: 4x5 -> 2x2 nearest
    resized = {
        r["id"]: r
        for r in decode_image(df, "id", "payload", resize=(2, 2)).collect()
    }
    small = px[np.arange(2) * 5 // 2][:, np.arange(2) * 4 // 2]
    assert (resized[1]["width"], resized[1]["height"]) == (2, 2)
    assert abs(resized[1]["mean_pixel"] - float(small.astype("float64").mean())) < 1e-12


# -- property-based (hypothesis) ----------------------------------------------------------------


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _images(draw):
    import numpy as np

    h = draw(st.integers(1, 12))
    w = draw(st.integers(1, 12))
    data = draw(
        st.lists(st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3)
    )
    px = np.array(data, dtype=np.uint8).reshape(h, w, 3)
    filters = draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    return px, filters


@given(_images())
@settings(max_examples=60, deadline=None)
def test_imagecodec_property_roundtrip(img):
    # ANY pixel content, ANY shape, ANY per-scanline filter mix survives
    # encode->decode bit-exactly in all three formats (pure python+numpy,
    # no Spark per example)
    import numpy as np

    from patito_spark.operators.imagecodec import decode_image_bytes

    px, filters = img
    h, w = px.shape[:2]
    for payload in (
        _make_ppm(px),
        _make_bmp(px),
        _make_bmp(px, top_down=True),
        _make_png(px, filters=filters),
    ):
        got_w, got_h, mode, got = decode_image_bytes(payload)
        assert (got_w, got_h, mode) == (w, h, "RGB")
        assert np.array_equal(got, px)


@given(_images(), st.integers(1, 10), st.integers(1, 10))
@settings(max_examples=40, deadline=None)
def test_imagecodec_property_resize(img, new_w, new_h):
    # nearest-neighbor resize: every output pixel is SOME input pixel from
    # the floor-mapped source row/col
    import numpy as np

    from patito_spark.operators.imagecodec import resize_nearest

    px, _ = img
    h, w = px.shape[:2]
    out = resize_nearest(px, (new_w, new_h))
    assert out.shape == (new_h, new_w, 3)
    for y in (0, new_h - 1):
        for x in (0, new_w - 1):
            sy, sx = min(y * h // new_h, h - 1), min(x * w // new_w, w - 1)
            assert np.array_equal(out[y, x], px[sy, sx])


@st.composite
def _asof_case(draw):
    ts = st.one_of(st.none(), st.integers(0, 20))
    left = [
        (i, draw(st.sampled_from(["a", "b"])), draw(ts))
        for i in range(draw(st.integers(1, 8)))
    ]
    # right side unique per (k, t): the operator documents that duplicate
    # (by, on) right rows tie-break nondeterministically
    pairs = draw(
        st.sets(
            st.tuples(st.integers(0, 20), st.sampled_from(["a", "b"])),
            max_size=8,
        )
    )
    right = [(t, k, float(j)) for j, (t, k) in enumerate(sorted(pairs))]
    return left, right


@given(_asof_case(), st.sampled_from(["backward", "forward"]))
@settings(max_examples=12, deadline=None)
def test_asof_join_property_matches_reference(spark, case, direction):
    # randomized timestamps incl. NULLs and heavy ties, both directions,
    # vs a brute-force per-row python oracle
    from patito_spark.operators.asof import asof_join

    left_rows, right_rows = case
    left = spark.createDataFrame(left_rows, "id long, k string, t long")
    right = spark.createDataFrame(right_rows, "t long, k string, px double")
    got = {
        r["id"]: r["px"]
        for r in asof_join(left, right, on="t", by=["k"], direction=direction).collect()
    }
    want = {}
    for lid, lk, lon in left_rows:
        cands = [
            (ron, rv)
            for ron, rk, rv in right_rows
            if rk == lk and ron is not None and lon is not None
            and (ron <= lon if direction == "backward" else ron >= lon)
        ]
        if not cands:
            want[lid] = None
        elif direction == "backward":
            best_on = max(c[0] for c in cands)
            want[lid] = max(c[1] for c in cands if c[0] == best_on)
        else:
            best_on = min(c[0] for c in cands)
            want[lid] = max(c[1] for c in cands if c[0] == best_on)
    assert got == want


def test_decode_audio_real_wav_path(spark):
    # REAL stdlib WAV decode through mapInPandas: known int16 samples give
    # exact frame counts and RMS; corrupt payloads quarantine, never fail
    import io
    import wave

    import numpy as np

    from patito_spark.operators.multimodal import decode_audio

    samples = np.array([0, 1000, -1000, 32767, -32768, 5], dtype="<i2")

    def make_wav(nch=1, rate=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.tobytes())
        return buf.getvalue()

    rows = [
        (1, make_wav()),
        (2, make_wav(nch=2, rate=16000)),
        (3, b"ID3not a wav"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r["id"]: r for r in decode_audio(df, "id", "payload").collect()}
    want_rms = round(float(np.sqrt((samples.astype("float64") ** 2).mean())), 6)
    assert (out[1]["n_channels"], out[1]["sample_rate"]) == (1, 8000)
    assert out[1]["n_frames"] == 6 and out[1]["rms"] == want_rms
    assert out[1]["duration_ms"] == 0  # 6 frames @ 8 kHz < 1 ms
    assert (out[2]["n_channels"], out[2]["n_frames"]) == (2, 3)
    assert out[2]["rms"] == want_rms  # same samples, interleaved as stereo
    assert out[3]["rms"] is None and out[3]["decode_error"]


def test_topk_quantized_agrees_with_float_path(spark, embeddings):
    # int8 quantization: components bounded, dequantized error <= s/2, and
    # the quantized top-1 neighbor matches the exact float top-1 (self,
    # cosine 1.0) for every probe; deeper ranks agree to quantization noise
    from patito_spark.operators.similarity import (
        quantize_embeddings,
        topk_brute_force,
        topk_quantized,
    )

    emb = embeddings.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = quantize_embeddings(emb).select("vec_id", "embedding", "q", "q_scale")
    row = q.first()
    assert all(-127 <= v <= 127 for v in row["q"])
    assert all(
        abs(v - qi * row["q_scale"]) <= row["q_scale"] / 2 + 1e-12
        for v, qi in zip(row["embedding"], row["q"])
    )
    probes = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = {
        r["probe_id"]: r["neighbor_id"]
        for r in topk_brute_force(emb, probes, k=1).collect()
    }
    quant = {
        r["probe_id"]: r["neighbor_id"]
        for r in topk_quantized(emb, probes, k=1).collect()
    }
    assert exact == quant  # self-neighbor survives quantization
    top1 = {r["probe_id"]: r["qcosine"] for r in topk_quantized(emb, probes, k=1).collect()}
    assert all(c > 0.999 for c in top1.values())


def test_canonical_url_rules(spark):
    from patito_spark.functions.urls import canonical_url

    cases = [
        # default port stripped, scheme/host lowercased, fragment dropped,
        # tracking removed, params sorted, trailing slash removed
        (
            "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1&fbclid=z#f",
            "https://www.example.com/Path?a=1&b=2",
        ),
        # non-default port kept; doubled slashes collapsed
        ("http://Host.com:8080/a//b/?q=1", "http://host.com:8080/a/b?q=1"),
        # bare host -> '/'; empty query dropped
        ("https://example.com", "https://example.com/"),
        ("https://example.com/?utm_campaign=only", "https://example.com/"),
        # relative reference passes through untouched
        ("relative/path/only", "relative/path/only"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]
    # idempotent: canonical(canonical(u)) == canonical(u)
    df2 = spark.createDataFrame([(w,) for _, w in cases], "url string")
    again = [r[0] for r in df2.select(canonical_url(F.col("url"))).collect()]
    assert again == [want for _, want in cases]


@st.composite
def _range_case(draw):
    n_pts = draw(st.integers(1, 10))
    n_iv = draw(st.integers(0, 8))
    pts = [
        (i, draw(st.sampled_from(["a", "b"])), draw(st.integers(0, 50)))
        for i in range(n_pts)
    ]
    ivs = [
        (
            100 + j,
            draw(st.sampled_from(["a", "b"])),
            draw(st.integers(0, 50)),
            draw(st.integers(0, 55)),
        )
        for j in range(n_iv)
    ]
    bucket = draw(st.sampled_from([1, 3, 7, 100]))
    return pts, ivs, bucket


@given(_range_case())
@settings(max_examples=12, deadline=None)
def test_range_join_property_matches_reference(spark, case):
    # random points/intervals incl. empty and inverted intervals, across
    # several bucket widths (sub-span, mid, and one-bucket-covers-all):
    # the bucketed equi-join must return exactly the brute-force pairs,
    # each exactly once
    from patito_spark.operators.ranges import range_join

    pts, ivs, bucket = case
    points = spark.createDataFrame(pts, "pid long, k string, t long")
    intervals = spark.createDataFrame(ivs, "iid long, k string, s long, e long")
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            points, intervals, "t", "s", "e", by=["k"], bucket_seconds=bucket
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for pid, pk, t in pts
        for iid, ik, s, e in ivs
        if pk == ik and s <= t < e
    )
    assert got == want


@st.composite
def _session_case(draw):
    events = []
    for uid in ("u1", "u2"):
        n = draw(st.integers(0, 12))
        t = 0
        for i in range(n):
            t += draw(st.integers(1, 40))
            events.append((uid, t))
    return events


@given(_session_case(), st.sampled_from([5, 10, 25]))
@settings(max_examples=12, deadline=None)
def test_sessionize_property_matches_reference(spark, events, gap):
    # random per-user gap sequences vs a linear-scan python reference
    # (> gap starts a new session); integer seconds as epoch timestamps
    import datetime as dtm

    from patito_spark.operators.sessions import sessionize

    if not events:
        return
    base = dtm.datetime(2024, 1, 1)
    rows = [(u, base + dtm.timedelta(seconds=t)) for u, t in events]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r["user_id"], r["ts"]): r["session_seq"]
        for r in sessionize(df, "user_id", "ts", gap_seconds=gap).collect()
    }
    for uid in ("u1", "u2"):
        ts_list = sorted(t for u, t in events if u == uid)
        seq, prev = 0, None
        for t in ts_list:
            if prev is None or t - prev > gap:
                seq += 1
            prev = t
            assert got[(uid, base + dtm.timedelta(seconds=t))] == seq


# -- HTML text extraction ----------------------------------------------------------------------------


def test_extract_text_bytes_semantics():
    from patito_spark.operators.htmltext import extract_text_bytes

    html = (
        b"<html><head><title>skip? no - title is text</title>"
        b"<script>var a = '<p>not text</p>';</script>"
        b"<style>p{}</style></head>"
        b"<body><h1>Head</h1><p>A &amp; B &lt;tag&gt; &#65;</p>"
        b"<div>spaced<br>words</div><b>in</b>line</body></html>"
    )
    out = extract_text_bytes(html)
    # script/style dropped, entities resolved, blocks separate words,
    # inline tags do NOT split words
    assert "not text" not in out
    assert "A & B <tag> A" in out
    assert "spaced words" in out
    assert "inline" in out
    assert extract_text_bytes(b"") == ""
    # malformed / non-utf8 payloads degrade, never raise
    assert isinstance(extract_text_bytes(b"\xff\xfe<p>x</p"), str)
    assert extract_text_bytes(b"<p>unclosed") == "unclosed"


def test_extract_text_mapinpandas(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.htmltext import extract_text

    df = spark.createDataFrame(
        [(1, b"<body><p>hello</p><p>world</p></body>"), (2, None)],
        "id long, html binary",
    )
    out = {r["id"]: (r["text"], r["extract_error"]) for r in extract_text(df, "id", "html").collect()}
    assert out[1] == ("hello world", None)
    assert out[2] == ("", None)  # NULL payload → empty text, not an error


# -- round-5 robustness guards -----------------------------------------------------------------------


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir= switches localCheckpoint → reliable checkpoint:
    identical labels, and the round materializations actually land in the
    fault-tolerant directory (what survives executor loss on a cluster)."""
    import os

    from patito_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (11, 10), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    default = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    ckdir = str(tmp_path / "cc_checkpoints")
    prior = str(tmp_path / "app_checkpoints")
    spark.sparkContext.setCheckpointDir(prior)
    reliable = {
        r["node"]: r["component"]
        for r in connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert reliable == default == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    written = [
        os.path.join(root, f)
        for root, _, files in os.walk(ckdir)
        for f in files
    ]
    assert written, "reliable checkpoint wrote nothing to checkpoint_dir"
    # each call is scoped under its own run-<id> subdir; within it only
    # 'init' and the FINAL round survive — superseded rounds are deleted
    # as the propagation advances
    runs = sorted(os.listdir(ckdir))
    assert len(runs) == 1 and runs[0].startswith("run-")
    subdirs = sorted(os.listdir(os.path.join(ckdir, runs[0])))
    rounds = [d for d in subdirs if d.startswith("round-")]
    assert "init" in subdirs and len(rounds) <= 2
    # the application's checkpoint-dir state is restored EXACTLY: the
    # resolved <root>/<uuid> path Spark was using before the call (no
    # re-resolution, no nesting, no uuid-strip path guessing)
    restored = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert restored.isDefined() and "app_checkpoints" in restored.get()
    first_restored = restored.get()
    # a second run sharing checkpoint_dir gets its OWN run dir and leaves
    # the first run's surviving files untouched
    before = set(written) & {
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(ckdir, runs[0]))
        for f in files
    }
    again = {
        r["node"]: r["component"]
        for r in connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert again == default
    assert len(os.listdir(ckdir)) == 2
    after = {
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(ckdir, runs[0]))
        for f in files
    }
    assert before <= after, "second run deleted first run's checkpoints"
    # restore is exact and idempotent: the SAME resolved path comes back
    # after every call — no <uuid>/<uuid> nesting, ever
    restored2 = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    assert restored2 == first_restored
    # and a root whose final segment LOOKS like a uuid is not mangled
    # (the pre-r7 regex strip would have restored the wrong root)
    uuidish = str(tmp_path / "abcdef01-2345-6789-abcd-ef0123456789")
    spark.sparkContext.setCheckpointDir(uuidish)
    resolved_uuidish = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    connected_components(pairs, checkpoint_dir=ckdir).collect()
    assert (
        spark.sparkContext._jsc.sc().getCheckpointDir().get()
        == resolved_uuidish
    )
    # when NO dir was configured before the call, the session returns to
    # UNSET (a later bare df.checkpoint() raises Spark's own error
    # instead of silently writing into this run's directory)
    setter = getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")
    empty = spark.sparkContext._jvm.scala.Option.empty()
    setter(empty)
    connected_components(pairs, checkpoint_dir=ckdir).collect()
    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    spark.sparkContext.setCheckpointDir(prior)  # leave session sane


def test_drop_near_duplicates_tolerates_reserved_column_names(spark):
    """A frame that already has node/component/_rk columns must not collide
    with the cluster-resolution bookkeeping (internals are _pt_-prefixed)."""
    from pyspark.sql import functions as F

    from patito_spark.operators.components import drop_near_duplicates

    docs = spark.createDataFrame(
        [(1, 9, 9, 0.2), (2, 9, 9, 0.9), (4, 9, 9, 0.9), (5, 9, 9, 0.1)],
        "doc_id long, node long, component long, quality double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in drop_near_duplicates(
            docs, "doc_id", pairs, keep_by=F.col("quality").desc()
        ).collect()
    )
    assert kept == [2, 5]
    kept_default = sorted(
        r["doc_id"] for r in drop_near_duplicates(docs, "doc_id", pairs).collect()
    )
    assert kept_default == [1, 5]


def test_pack_sequences_reserved_output_names_raise(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.packing import pack_sequences

    docs = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit(10).alias("ntok"),
        F.lit(0).alias("stream"),
    )
    with pytest.raises(ValueError, match="reserved output column"):
        pack_sequences(docs, "doc_id", "ntok", budget=128)


def test_pack_sequences_stream_count_caps_parallelism(spark):
    """The per-stream window serializes each stream: the packing stage's
    parallelism is exactly the streams= knob (documented cap), and every
    emitted stream id stays inside it."""
    from pyspark.sql import functions as F

    from patito_spark.operators.packing import pack_sequences

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"), F.lit(7).alias("ntok")
    )
    packed = pack_sequences(docs, "doc_id", "ntok", budget=64, streams=3)
    streams = {r["stream"] for r in packed.collect()}
    assert streams == {0, 1, 2}


def test_probe_cap_raises_instead_of_collecting(spark, embeddings):
    """The ANN entry points that collect probes to the driver must refuse
    an unbounded probe frame (silent driver OOM otherwise)."""
    from patito_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        topk_blockwise,
    )

    probes = embeddings.select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    with pytest.raises(ValueError, match="max_probes"):
        topk_blockwise(embeddings, probes, k=3, max_probes=5)
    indexed, centroids = build_ivf_index(embeddings, n_centroids=4, strategy="first")
    with pytest.raises(ValueError, match="max_probes"):
        ivf_topk(indexed, centroids, probes, k=3, max_probes=5)
    # under the cap the path is unchanged
    small = probes.filter(F.col("probe_id") < 3)
    assert topk_blockwise(embeddings, small, k=3, max_probes=5).count() == 9


# -- cross-document line dedup (boilerplate removal) -------------------------------------------------


def test_remove_duplicated_lines_boilerplate(spark):
    from patito_spark.operators.lines import remove_duplicated_lines

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nCOOKIE BANNER\nbody one\nFOOTER"),
            (2, "COOKIE BANNER\nbody two\nFOOTER"),
            (3, "body three\nFOOTER\nunique omega"),
            (4, None),
            (5, "only unique content here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_lines(docs, "doc_id", "text").collect()
    }
    assert out[1]["text_clean"] == "unique alpha\nbody one"
    assert out[2]["text_clean"] == "body two"
    assert out[3]["text_clean"] == "body three\nunique omega"
    assert out[4]["text_clean"] is None and out[4]["n_removed"] == 0
    assert out[5]["text_clean"] == "only unique content here"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (4, 2)
    assert (out[3]["n_lines"], out[3]["n_removed"]) == (3, 1)


def test_line_dedup_and_tfidf_accept_nonnumeric_ids(spark):
    """The optimizer-fence coalesce casts the id to string, so ids with
    no implicit common type with an int literal (timestamp, date,
    binary) analyze fine (ADVICE r6: the r6 fence's coalesce(_id, 0)
    failed analysis for them)."""
    import datetime

    from patito_spark.operators.keywords import keyword_tfidf
    from patito_spark.operators.lines import remove_duplicated_lines

    ts = datetime.datetime(2026, 1, 1)
    docs = spark.createDataFrame(
        [
            (ts, "shared line\nalpha body"),
            (ts + datetime.timedelta(days=1), "shared line\nbeta body"),
        ],
        "doc_id timestamp, text string",
    )
    out = {
        r["doc_id"]: r["text_clean"]
        for r in remove_duplicated_lines(docs, "doc_id", "text").collect()
    }
    assert out[ts] == "alpha body"
    kw = keyword_tfidf(docs, "doc_id", "text", k=1).collect()
    assert len(kw) == 2 and all(r["rank"] == 1 for r in kw)


def test_remove_duplicated_lines_semantics(spark):
    from pyspark.sql import functions as F

    from patito_spark.operators.lines import remove_duplicated_lines

    docs = spark.createDataFrame(
        [
            # within-doc repeat only: NOT removed (doc-count is 1)
            (1, "echo\necho\nsolo"),
            # blank lines never participate even though every doc has them
            (2, "a\n\nb"),
            (3, "c\n\nd"),
            # doc reduced to nothing
            (4, "SAME"),
            (5, "SAME"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text_clean"]
        for r in remove_duplicated_lines(docs, "doc_id", "text").collect()
    }
    assert out[1] == "echo\necho\nsolo"
    assert out[2] == "a\n\nb" and out[3] == "c\n\nd"
    assert out[4] == "" and out[5] == ""
    # min_count above the duplication level keeps everything
    kept = {
        r["doc_id"]: r["text_clean"]
        for r in remove_duplicated_lines(
            docs, "doc_id", "text", min_count=3
        ).collect()
    }
    assert kept[4] == "SAME"
    # deterministic under re-partitioning
    again = {
        r["doc_id"]: r["text_clean"]
        for r in remove_duplicated_lines(
            docs.repartition(7), "doc_id", "text"
        ).collect()
    }
    assert again == out
    # reserved output column guard
    with pytest.raises(ValueError, match="text_clean"):
        remove_duplicated_lines(
            docs.withColumn("text_clean", F.lit("x")), "doc_id", "text"
        )


def test_remove_duplicated_lines_random_vs_reference(spark):
    """Seeded random corpora vs a driver-side pure-Python reference:
    global doc-count semantics, all-copies removal, order preservation,
    and blank-line immunity all reproduced exactly."""
    import random
    from collections import Counter

    from patito_spark.operators.lines import remove_duplicated_lines

    vocab = [f"line {i} text" for i in range(12)] + ["", "  "]
    for seed in range(6):
        rng = random.Random(seed)
        min_count = rng.choice([2, 3])
        docs = []
        for doc_id in range(rng.randint(3, 12)):
            n = rng.randint(0, 6)
            docs.append((doc_id, "\n".join(rng.choice(vocab) for _ in range(n)) if n else rng.choice(vocab)))
        # reference: count docs per non-empty line, remove all copies of
        # lines reaching min_count, preserve order
        per_doc_lines = {d: t.split("\n") for d, t in docs}
        counts = Counter()
        for lines in per_doc_lines.values():
            for line in set(lines):
                if line != "":
                    counts[line] += 1
        dup = {l for l, c in counts.items() if c >= min_count}
        expected = {
            d: ("\n".join(l for l in lines if l not in dup),
                len(lines), sum(l in dup for l in lines))
            for d, lines in per_doc_lines.items()
        }
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_removed"])
            for r in remove_duplicated_lines(
                df, "doc_id", "text", min_count=min_count
            ).collect()
        }
        assert got == expected, f"seed {seed}"


def test_remove_duplicated_lines_two_scans(spark, tmp_path):
    """The corpus text is scanned exactly TWICE (detection + rewrite): the
    dup-set and the removal indexes share one (hash, doc) aggregate whose
    exchange is materialized once (ReusedExchange).  Without the optimizer
    fence in lines.py the detection job plans a third full text scan."""
    from patito_spark.operators.lines import remove_duplicated_lines

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"unique {i}\nBANNER\nFOOTER") for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    out = remove_duplicated_lines(docs, "doc_id", "text")
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["text_clean"] == f"unique {r['doc_id']}" for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE final plan (the section before the echoed initial plan)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 2, final
    assert final.count("ReusedExchange") == 1, final


def test_remove_duplicated_lines_boilerplate_heavy_doc(spark):
    """A document where removals DOMINATE (500 of 1000 lines boilerplate):
    the slice-based rewrite is O(lines + removals) — the plan must not
    carry the per-line array_contains membership probe, whose cost is
    O(lines × removals) exactly on this shape."""
    from patito_spark.operators.lines import remove_duplicated_lines

    n = 1000
    heavy = "\n".join(
        f"boiler {i // 2}" if i % 2 == 0 else f"unique {i}" for i in range(n)
    )
    other = "\n".join(f"boiler {i}" for i in range(n // 2))
    docs = spark.createDataFrame(
        [(1, heavy), (2, other)], "doc_id long, text string"
    )
    out = remove_duplicated_lines(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "array_contains" not in plan
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_lines"] == n and got[1]["n_removed"] == n // 2
    assert got[1]["text_clean"] == "\n".join(
        f"unique {i}" for i in range(1, n, 2)
    )
    assert got[2]["text_clean"] == "" and got[2]["n_removed"] == n // 2


def test_remove_duplicated_lines_internal_column_guard(spark):
    """Input frames already carrying a _pt_* bookkeeping name get the same
    clear ValueError as the output-column collisions — not an ambiguous-
    reference AnalysisException mid-plan."""
    from pyspark.sql import functions as F

    from patito_spark.operators.lines import remove_duplicated_lines

    docs = spark.createDataFrame(
        [(1, "a\nb")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="_pt_rm"):
        remove_duplicated_lines(
            docs.withColumn("_pt_rm", F.lit(0)), "doc_id", "text"
        )
    with pytest.raises(ValueError, match="_pt_lines"):
        remove_duplicated_lines(
            docs.withColumn("_pt_lines", F.lit(0)), "doc_id", "text"
        )


def test_remove_duplicated_lines_regex_metachar_separator(spark):
    """sep is a LITERAL separator, not a regex: '|' (or '.') must split
    only on itself — an unescaped pattern would split between every
    character and corrupt the corpus."""
    from patito_spark.operators.lines import remove_duplicated_lines

    docs = spark.createDataFrame(
        [(1, "alpha|SHARED|beta"), (2, "gamma|SHARED|delta")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_removed"])
        for r in remove_duplicated_lines(
            docs, "doc_id", "text", sep="|"
        ).collect()
    }
    assert out[1] == ("alpha|beta", 3, 1)
    assert out[2] == ("gamma|delta", 3, 1)
    # reserved stats columns are guarded too, not just out_col
    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="n_lines"):
        remove_duplicated_lines(
            docs.withColumn("n_lines", F.lit(0)), "doc_id", "text"
        )
