"""Deduplication operators for web-scale corpora.

Four families, each a different cost/recall point (all absent from the
reference — patito stops at column uniqueness, ``validators.py:235-244``):

- **exact**: md5 fingerprint of normalized text → salted groupBy.  One scan
  + one tiny shuffle (fingerprints only).  The workhorse at 100 TB.
- **MinHash + LSH**: word-shingle minhash signatures (portable md5-based
  hashing, see ``functions.hashing``) banded into LSH buckets; candidate
  pairs only ever materialize within a bucket.  Buckets above
  ``max_bucket_size`` are dropped *and counted* — boilerplate pages would
  otherwise create O(n²) pair explosions (silent truncation would read as
  "covered everything", so ``minhash_bucket_audit`` reports the count).
  Bucket sizing happens BEFORE any member list is collected (see
  ``_sized_buckets``), so a hot bucket never materializes an aggregation
  array; ``_bucket_pairs`` is the one pair expansion every LSH family
  (MinHash, SimHash, embedding hyperplanes) runs over a gated bucket.
- **SimHash**: 60-bit signature via per-token hash bit-voting (single-pass
  higher-order aggregate, no explode); near-dup pairs found by pigeonhole
  banding into 4 chunks — hamming ≤ 3 guarantees one identical chunk.
- **n-gram Jaccard / embedding cosine**: exact verification predicates used
  on LSH candidates, or standalone within blocking columns.

Everything is native Column algebra; shuffles touch only (hash, id) pairs.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_SLICES as _MINHASH_SLICES_TAG
from ..functions.hashing import md5_long
from ..functions.text import doc_fingerprint, tokens
from ..functions.vectors import cosine_similarity

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4
DEFAULT_MAX_BUCKET = 64
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed bigint portably


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per normalized text (lowest id wins) — the standard
    first pass of a training-data pipeline.  Shuffle key is the fingerprint
    (uniform by construction — md5), so no skew mitigation needed.

    ``min_by(struct(row), id)`` instead of a ``row_number`` window: the
    aggregate combines map-side (each input partition pre-reduces to one
    candidate row per local fingerprint before the shuffle) and never sorts
    a group — at 100 TB that's less shuffle traffic and no per-group sort.
    """
    cols = df.columns
    return (
        df.withColumn("_fp", doc_fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_row"))
        .select("_row.*")
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    stored_fingerprints: DataFrame,
) -> DataFrame:
    """Exact-dedup a NEW batch against an existing corpus's fingerprint
    store — the daily-increment companion of :func:`exact_dedup` (and of
    :func:`incremental_minhash_pairs` for the near-dup family).

    *stored_fingerprints* is a one-column ``fingerprint`` frame (write
    ``exact_dedup``'s corpus once via
    ``df.select(doc_fingerprint(text).alias('fingerprint')).distinct()``,
    or accumulate this function's own survivors' fingerprints batch over
    batch).  Returns the batch rows that survive BOTH gates:

    1. within-batch exact dedup (lowest id wins — identical to
       ``exact_dedup`` over the batch alone), then
    2. an anti join against the store (a fingerprint the corpus already
       contains is a re-crawl, not new data).

    The corpus cost is one scan of the one-column store (broadcast under
    AQE when batch-sized jobs meet a small store; shuffle hash join on
    the uniform md5 fingerprint otherwise — no skew by construction).
    Survivors' fingerprints are in the output (column ``_fp`` is
    dropped); append ``doc_fingerprint(text)`` of the survivors to the
    store to advance the snapshot.
    """
    deduped = exact_dedup(new_df, id_col, text_col).withColumn(
        "_fp", doc_fingerprint(F.col(text_col))
    )
    # The store is corpus-sized; a direct anti join would SHUFFLE it by
    # fingerprint.  Instead reduce it first: semi-join the store against
    # the (batch-sized) fingerprint set — AQE broadcasts the small side,
    # so the store is scanned once and never shuffled — then anti-join
    # the batch against the (at most batch-sized) hits.
    batch_fps = deduped.select("_fp").distinct()
    present = stored_fingerprints.select(
        F.col("fingerprint").alias("_fp")
    ).join(batch_fps, "_fp", "left_semi")
    return deduped.join(present, "_fp", "left_anti").drop("_fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


FAMILY_COL = "family"


def _family_tag(kind: str, **params) -> str:
    """Canonical one-string encoding of an LSH family's parameters —
    persisted as a literal column in every signature store so a store
    built with one family can never be silently consumed by another
    (mismatched families collide/miss meaninglessly, which is a WRONG
    ANSWER, not an error, unless it is made loud — VERDICT r6)."""
    return kind + ";" + ";".join(f"{k}={params[k]}" for k in sorted(params))


def _check_store_family(
    store: DataFrame, expected: str, caller: str
) -> DataFrame:
    """Assert a signature store's persisted family tag matches the
    calling family, then drop the tag column.

    The check reads ONE row driver-side (one tiny job per incremental
    call — parquet serves it from the first row group; at 10^12-doc
    scale this is noise next to the batch job it guards).  All rows of a
    store carry the same literal by construction, so the first row is
    authoritative.  A store WITHOUT the column (written before the tag
    existed) is refused like a mismatched one: built under different
    parameters it would not error — it would silently return ~no pairs
    (duplicates pass), the worst failure mode this module has.
    """
    if FAMILY_COL not in store.columns:
        raise ValueError(
            f"{caller}: signature store has no '{FAMILY_COL}' tag (written "
            f"before the tag existed), so it cannot be checked against "
            f"family '{expected}'. Rebuild the store with the current "
            "*_signatures builder."
        )
    row = store.select(FAMILY_COL).first()
    if row is not None and row[0] != expected:
        raise ValueError(
            f"{caller}: signature store was built with family "
            f"'{row[0]}' but this call expects '{expected}' — a "
            "mismatched family would produce meaningless "
            "collisions/misses; rebuild the store or match the "
            "parameters"
        )
    return store.drop(FAMILY_COL)


def replace_in_store(
    store: DataFrame,
    id_col: str,
    recrawled: DataFrame,
    recrawled_id_col: Optional[str] = None,
) -> DataFrame:
    """Drop an id-keyed signature store's rows for re-crawled documents,
    so the incoming batch's fresh signatures can take their place.

    Every ``incremental_*`` consumer requires batch ids disjoint from
    stored ids.  A re-crawled document violates it: its fresh signatures
    meet its OWN old rows (the defensive ``id_a != id_b`` filter stops
    the self-pair, but the old rows still inflate bucket sizes toward
    the cap), and a naive ``store.union(delta)`` advance then keeps BOTH
    row-sets — the defunct old text keeps matching future batches
    forever.  Run this on the store before the incremental call, and
    advance the durable snapshot the same way::

        store = replace_in_store(store, id_col, batch)
        pairs = incremental_minhash_pairs(batch, id_col, text_col, store, ...)
        ...
        new_store = store.unionByName(delta)   # exactly one row-set per id

    *recrawled* may be the raw batch frame (only its id column is used;
    pass ``recrawled_id_col`` if it is named differently from the
    store's).  Ids in *recrawled* absent from the store are a no-op, so
    passing the whole batch is always safe.

    Scale shape: the batch-sized id set broadcasts (AQE), the store is
    scanned once with a broadcast anti probe and NEVER shuffled; the
    ``family`` tag column rides through untouched.  Works on any
    id-keyed store (e.g. :func:`minhash_signatures`) — NOT on
    the one-column exact-dedup fingerprint store, which carries no ids:
    a replaced document's old fingerprint stays behind as a conservative
    tombstone (text identical to a removed crawl is still treated as
    already-present), which over-drops but never corrupts.
    """
    ids = recrawled.select(
        F.col(recrawled_id_col or id_col).alias("_pt_rid")
    ).distinct()
    return store.join(
        ids, F.col(id_col) == F.col("_pt_rid"), "left_anti"
    )


def _materialize(df: DataFrame, **cols: Column) -> DataFrame:
    """Force each expression to be computed exactly once per row.

    ``explode(array(e))`` wraps the projection in a Generate node, which
    CollapseProject cannot merge into downstream projections — so a
    downstream higher-order lambda referencing the result reads an
    attribute instead of re-evaluating ``e`` per array element.  Without
    this, a tokenize→shingle→minhash→band chain re-runs the tokenizer
    O(shingles × hashes × bands) times per row (measured 40×+ slowdown).
    Costs nothing extra: one-element explode is a pass-through.
    """
    for name, expr in cols.items():
        df = df.select("*", F.explode(F.array(expr)).alias(name))
    return df


def _sized_buckets(banded: DataFrame, keys: list) -> DataFrame:
    """``banded`` plus ``_bucket_n``, the row count of each row's bucket —
    the LSH size gate's first half (:func:`_bucket_pairs` is the second).

    A window ``count`` over the bucket key (spillable row buffer — never
    builds an array) sizes every bucket in one shuffle BEFORE any member
    list is collected.  A hot boilerplate bucket with millions of members
    therefore costs a disk spill at worst, never an executor-OOM-sized
    aggregation buffer.
    """
    from pyspark.sql.window import Window

    return banded.withColumn(
        "_bucket_n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )


def _bucket_pairs(
    sized: DataFrame, keys: list, max_bucket_size: int, member: Column, *aggs
) -> DataFrame:
    """Every unordered pair of *member* values within each bucket of a
    :func:`_sized_buckets` frame with ``1 < size <= max_bucket_size``.

    The gated buckets aggregate their members into one sorted array (plus
    the caller's extra *aggs*; the groupBy reuses the window's hash
    partitioning — one shuffle total), which expands to one row per pair
    as the struct ``p``: ``p.a`` sorts before ``p.b``, so members that
    lead with a unique id give ``p.a`` the smaller id.  Each caller picks
    its id and payload fields from the two members.  The gate bounds the
    expansion at C(max_bucket_size, 2) pairs per bucket.
    """
    ok = (
        sized.filter(
            (F.col("_bucket_n") > 1) & (F.col("_bucket_n") <= max_bucket_size)
        )
        .drop("_bucket_n")
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("_members"), *aggs)
    )
    m = F.col("_members")
    return ok.select(
        *ok.columns[len(keys) + 1:],  # the caller's aggs
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size(m) - 2),
                    lambda i: F.transform(
                        F.slice(m, i + 2, F.size(m)),
                        lambda b: F.struct(
                            F.get(m, i.cast("int")).alias("a"), b.alias("b")
                        ),
                    ),
                )
            )
        ).alias("p"),
    )


def _band_audit(sizes: DataFrame, cap: int) -> DataFrame:
    """Per-band accounting of the size gate at *cap* over per-bucket sizes
    ``_n`` (one row per ``(band, bucket)``)."""
    gate_ok = (F.col("_n") > 1) & (F.col("_n") <= cap)
    return sizes.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(gate_ok.cast("long")).alias("n_pair_buckets"),
        F.sum((F.col("_n") > cap).cast("long")).alias("n_oversized"),
    )


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: one 64-bit xxhash64 fold per signature slice.

    Internal-only identifiers (grouping keys), so a fast non-portable hash
    is fine: the oracle twins group by their own SQL-side band renderings
    and compare pair outputs / bucket COUNTS, which agree as long as both
    keyings are collision-free — and at 2^64 key space a collision needs
    ~10^9 distinct slices per band before it is even odds.  vs the previous
    md5-hex keys this removes the per-band string build + digest and cuts
    band-stage shuffle bytes 4x (8-byte long vs 32-char string)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.aggregate(
            F.slice(sig, b * rows_per_band + 1, rows_per_band),
            F.lit(0).cast("bigint"),
            lambda acc, v: F.xxhash64(acc, v),
        ),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate id pairs ``(id_a, id_b)`` with id_a < id_b.

    Pipeline: signature → band buckets → explode(band) → bucket sizing →
    pairs within surviving buckets.  Oversized buckets are dropped;
    :func:`minhash_bucket_audit` counts them per band.  The pair leg of
    :func:`minhash_pairs_with_audit` (its audit frame is never run here).
    """
    return minhash_pairs_with_audit(
        df, id_col, text_col, num_hashes, bands, shingle_n, max_bucket_size
    )[0]


def minhash_pairs_with_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    audit_max_bucket_size: Optional[int] = None,
) -> tuple:
    """Candidate pairs AND the per-band gate audit over ONE banded frame.

    Running :func:`minhash_candidate_pairs` and
    :func:`minhash_bucket_audit` separately recomputes the expensive
    signature stage (tokenize → shingle → one-md5-per-shingle → minwise →
    bands — the per-row hot loop at corpus scale) and scans the corpus
    text twice.  Here both outputs hang off the SAME bucket-sized frame:
    the (band, bucket) window exchange is materialized once at runtime
    (ReusedExchange — the audit's size aggregate carries an optimizer
    fence referencing the pair leg's column set, so column pruning cannot
    narrow its copy of the shared subtree; technique documented in
    ``operators/lines.py``), the text is scanned once, and the signature
    arithmetic runs once per row.  Asserted by
    ``test_minhash_pairs_with_audit_single_scan``.

    Pair generation gates at ``max_bucket_size``; the audit accounts at
    ``audit_max_bucket_size`` (defaults to the same cap — pass a TIGHTER
    one to stress the gate without changing the pair output; a looser
    cap would count pair buckets the pair leg actually dropped, so it is
    rejected with a ``ValueError``).  Returns ``(pairs, audit)`` — the
    same frames the standalone operators produce.

    Sharing caveat (correctness is never affected): the reuse holds as
    long as the consumer keeps at least one SIZE-DERIVED audit column
    (``n_pair_buckets`` / ``n_oversized``) — projecting the audit down to
    ``n_buckets`` alone prunes the fence with the size column and the
    legs fall back to one scan each.
    """
    audit_cap = (
        max_bucket_size if audit_max_bucket_size is None
        else audit_max_bucket_size
    )
    if audit_cap > max_bucket_size:
        raise ValueError(
            "audit_max_bucket_size must be <= max_bucket_size "
            f"(got {audit_cap} > {max_bucket_size}): a looser audit cap "
            "would report n_pair_buckets for buckets the pair leg dropped"
        )
    banded = _minhash_banded(df, id_col, text_col, num_hashes, bands, shingle_n)
    sized = _sized_buckets(banded, ["band", "bucket"])
    pairs = (
        _bucket_pairs(sized, ["band", "bucket"], max_bucket_size, F.col("_id"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )
    # one row per bucket, reusing the window's (band, bucket) partitioning
    # (no new exchange); the count is an optimizer fence — references _id
    # and _bucket_n so this branch prunes to the same column set as the
    # pair leg — whose value is the plain per-bucket row count
    sizes = sized.groupBy("band", "bucket").agg(
        F.count(
            F.when(
                F.col("_bucket_n") >= 1,
                F.coalesce(F.col("_id").cast("string"), F.lit("")),
            )
        ).alias("_n")
    )
    return pairs, _band_audit(sizes, audit_cap)


def _minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, bucket) rows with tokens/shingles/signature each computed
    exactly once per row (see ``_materialize``)."""
    from ..functions.text import tokens, word_shingles_from_tokens

    from ..functions import hashing
    from ..functions.hashing import MINHASH_P, minhash_constants

    rows_per_band = num_hashes // bands
    # slice count read LIVE from the hashing module (not a module-import
    # snapshot): tests/test_minhash_recall.py patches it at runtime, and a
    # frame built under a patched value must hash AND tag consistently
    S = hashing.MINHASH_SLICES
    staged = _materialize(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")),
        _toks=tokens(F.col("_text")),
    )
    staged = _materialize(
        staged, _sh=word_shingles_from_tokens(F.col("_toks"), shingle_n)
    )
    # r9 relayout of the per-row hot loop: explode the shingles and run
    # md5 → 4×conv slices → num_hashes multiply-add mixes as PLAIN row
    # expressions under whole-stage codegen, then take the per-document
    # minima with a hash aggregate (partial map-side).  The previous
    # shape kept the same arithmetic inside higher-order-function
    # lambdas, which Spark evaluates INTERPRETED with a per-element
    # array allocation — measured 4.3 s (noop, sf1.0, best-of-3) for the
    # md5+slices stage vs ~0.9 s exploded.  Values are bit-identical:
    # min-over-group ≡ array_min over the same multiset, explode_outer
    # keeps zero-shingle docs as a single null row whose all-null group
    # min is null — exactly array_min([]) — and the band fold below is
    # the unchanged ``minhash_bands`` expression over the same signature
    # array.  Contract (pre-existing, now load-bearing): ids are unique
    # per row — every caller (pair generation, signature stores,
    # incremental batches) already requires this.
    exploded = staged.select(
        "_id", F.explode_outer("_sh").alias("_shingle")
    )
    digest = F.md5(F.col("_shingle"))
    slices = exploded.select(
        "_id",
        *[
            (
                F.conv(F.substring(digest, 1 + i * 8, 8), 16, 10).cast("bigint")
                % F.lit(2**30).cast("bigint")
            ).alias(f"_x{i}")
            for i in range(S)
        ],
    )
    consts = minhash_constants(num_hashes)
    mixes = slices.select(
        "_id",
        *[
            (
                (
                    F.lit(a).cast("bigint") * F.col(f"_x{k % S}")
                    + F.lit(b).cast("bigint") * F.col(f"_x{(k + 1) % S}")
                )
                % F.lit(MINHASH_P).cast("bigint")
            ).alias(f"_h{k}")
            for k, (a, b) in enumerate(consts)
        ],
    )
    sig = mixes.groupBy("_id").agg(
        *[F.min(f"_h{k}").alias(f"_s{k}") for k in range(num_hashes)]
    )
    sig_array = F.array(*[F.col(f"_s{k}") for k in range(num_hashes)])
    return sig.select(
        "_id",
        F.posexplode(
            minhash_bands(sig_array, bands, rows_per_band)
        ).alias("band", "bucket"),
    )


def minhash_bucket_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Per-band accounting of the bounded-bucket gate.

    One row per band: ``n_buckets`` (distinct buckets), ``n_pair_buckets``
    (size in (1, max_bucket_size] — these contribute candidate pairs) and
    ``n_oversized`` (size > max_bucket_size — dropped by the gate, e.g.
    boilerplate pages hashing to one signature).  Same single shuffle as
    the pair stage; the output is bands × 4 scalars, driver-sized at any
    corpus scale.
    """
    banded = _minhash_banded(df, id_col, text_col, num_hashes, bands, shingle_n)
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
    return _band_audit(sizes, max_bucket_size)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """``(id, band, bucket)`` banded LSH rows — the PERSISTABLE dedup state.

    The incremental-pipeline split of :func:`minhash_candidate_pairs`:
    write this once per corpus snapshot (ideally bucketed by
    ``(band, bucket)`` via ``sources.io.write_bucketed_table``, so the
    incremental bucket join below is co-located) and feed it to
    :func:`incremental_minhash_pairs` as each new crawl batch arrives —
    the signature stage (tokenize → shingle → one-md5-per-shingle →
    minwise, the per-row hot loop) then runs only over the new rows,
    never again over the full corpus.  8-byte band keys per row; the
    store is ``bands`` rows per document, hashes and ids only, plus a
    constant ``family`` tag column encoding
    ``num_hashes``/``bands``/``shingle_n`` (RLE-compressed to nothing in
    parquet) that every incremental consumer asserts before joining — a
    store fed to a mismatched family raises instead of silently
    producing meaningless pairs.
    """
    banded = _minhash_banded(df, id_col, text_col, num_hashes, bands, shingle_n)
    tag = _family_tag(
        "minhash", num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, slices=_MINHASH_SLICES_TAG
    )
    return banded.select(
        F.col("_id").alias(id_col),
        "band",
        "bucket",
        F.lit(tag).alias(FAMILY_COL),
    )


def incremental_minhash_pairs(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    stored_signatures: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs INTRODUCED by a new batch, without recomputing the
    corpus: new-batch signatures are computed fresh, the corpus
    contributes only its stored ``(id, band, bucket)`` rows
    (:func:`minhash_signatures`), and the bucket join finds every
    new-new and new-old collision.  The daily-crawl production shape at
    10^12 documents — signature cost is O(batch), corpus cost is one
    scan of an (ideally bucketed) 3-column table.

    Returns ``(id_a, id_b)`` pairs where AT LEAST ONE side is a new
    document — old-old pairs were already reported when the store was
    built.  *num_hashes*/*bands*/*shingle_n* must match the parameters
    the store was built with (different families collide meaninglessly);
    the store's persisted ``family`` tag is asserted against them before
    anything joins (a mismatch or a store without the tag raises).
    Batch ids must be disjoint from stored ids (re-crawled documents
    should have their old store rows replaced first — see
    :func:`replace_in_store`).

    Bucket sizes are gated over the UNION (store + batch), matching what
    a from-scratch run over the merged corpus would see.  Consequently a
    bucket pushed past the cap BY the new batch stops producing pairs
    from this call on — the standard incremental-LSH approximation;
    :func:`minhash_bucket_audit` over the merged corpus accounts for
    such drops.
    """
    stored_signatures = _check_store_family(
        stored_signatures,
        _family_tag(
            "minhash", num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, slices=_MINHASH_SLICES_TAG
        ),
        "incremental_minhash_pairs",
    )
    new_banded = (
        _minhash_banded(new_df, id_col, text_col, num_hashes, bands, shingle_n)
        .select(F.col("_id").alias(id_col), "band", "bucket")
        .withColumn("_new", F.lit(True))
    )
    # Only buckets the batch TOUCHES can produce new pairs, so reduce the
    # corpus-sized store to them before anything shuffles: the semi join
    # against the (batch-sized) touched-bucket set broadcasts under AQE,
    # the store is scanned once and never shuffled corpus-wide, and the
    # bucket-sizing window downstream sees only touched buckets — whose
    # sizes (all store members + all batch members) are exactly what a
    # merged from-scratch run would count for them.
    touched = new_banded.select("band", "bucket").distinct()
    stored = (
        stored_signatures.select(F.col(id_col), F.col("band"), F.col("bucket"))
        .join(touched, ["band", "bucket"], "left_semi")
        .withColumn("_new", F.lit(False))
    )
    union = stored.unionByName(new_banded).select(
        F.col(id_col).alias("_id"), "band", "bucket", "_new"
    )
    # collect_list skips NULLs, so _new_ids is exactly the bucket's new
    # members; buckets are capped, so the per-pair membership probe below
    # is O(max_bucket_size) worst case
    keys = ["band", "bucket"]
    pairs = _bucket_pairs(
        _sized_buckets(union, keys), keys, max_bucket_size, F.col("_id"),
        F.sort_array(
            F.collect_list(F.when(F.col("_new"), F.col("_id")))
        ).alias("_new_ids"),
    )
    return (
        pairs.filter(
            (
                F.array_contains(F.col("_new_ids"), F.col("p.a"))
                | F.array_contains(F.col("_new_ids"), F.col("p.b"))
            )
            # defensive: a batch id colliding with a stored id would pair
            # with itself — the disjointness contract above makes this a
            # no-op, but a violation must not emit (x, x) rows
            & (F.col("p.a") != F.col("p.b"))
        )
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )


def jaccard_of_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: joins the (tiny)
    pair list back to the corpus twice — broadcast when it fits."""
    shingled = _shingle_sets(df, id_col, text_col, shingle_n)
    a = shingled.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sh_a")
    b = shingled.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_sh_b")
    return pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", _jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard")
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, *keep: str
) -> DataFrame:
    """``(*keep, _id, _sh)``: each document's distinct word-shingle set,
    tokenized once per row (see ``_materialize``)."""
    from ..functions.text import word_shingles_from_tokens

    return _materialize(
        df.select(*keep, F.col(id_col).alias("_id"), F.col(text_col).alias("_t")),
        _toks=tokens(F.col("_t")),
    ).select(
        *keep,
        "_id",
        F.array_distinct(
            word_shingles_from_tokens(F.col("_toks"), shingle_n)
        ).alias("_sh"),
    )


def _jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| of two distinct-element arrays; 0.0 when both
    are empty."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold."""
    pairs = minhash_candidate_pairs(df, id_col, text_col, **kwargs)
    shingle_n = kwargs.get("shingle_n", 3)
    return jaccard_of_pairs(pairs, df, id_col, text_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text_col: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash signature as a bigint: per-token 60-bit md5 hashes vote on
    each bit position; the sign of each vote becomes the signature bit.

    Single-pass higher-order aggregate per row — no explode, no shuffle.
    The per-token merge is branch-free: instead of summing ±1 votes it
    counts set bits (``c_i = Σ (h>>i)&1``) plus a final lane counting
    tokens (``N``); the classic vote is ``2c_i − N``, so bit *i* is set
    iff ``2c_i > N`` — identical signatures (verified exhaustively over
    the sf0.1 corpus), ~10-20 % faster per interleaved best-of-3.  ``N``
    rides in the accumulator because Catalyst does not CSE across HOF
    lambdas: re-deriving it from the token array in the finish lambda
    would recompute every per-token md5.
    """
    token_hashes = F.transform(
        F.array_distinct(tokens(text_col)), lambda t: md5_long(t)
    )

    def _merge(acc, h):
        # r9: update the accumulator IN PLACE with transform's (value,
        # index) lambda — ``v + getbit(h, i)`` — instead of building a
        # 61-element bit array per token and zip_with-adding it.  Same
        # values (getbit(h,i) ≡ (h>>i)&1 for the non-negative 60-bit h;
        # symdiff 0 over sf1.0 + edge cases), but the per-token array
        # allocation is gone: measured 1.50 s → 1.31 s best /
        # 1.67 → 1.32 s mean on the sf1.0 documents table (noop,
        # interleaved best-of-4).  An explode→hash-aggregate relayout
        # and a packed-lane accumulator were both measured SLOWER
        # (2.4-2.8 s) — see OPTIMIZATION_r09.md.  Lane `bits` counts
        # tokens (N) — it must ride in the accumulator because Catalyst
        # does not CSE across HOF lambdas.
        return F.transform(
            acc,
            lambda v, i: v
            + F.when(i < bits, F.getbit(h, i)).otherwise(F.lit(1)).cast("bigint"),
        )

    def _pack(counts):
        # r9: ONE aggregate fold over bit indices instead of a 60-term
        # unrolled CASE-addition chain.  Values identical (shiftleft(1,i)
        # ≡ 1<<i, non-negative terms, no overflow under 2^61; symdiff 0 +
        # edge cases) — the win is DRIVER-side: Catalyst analyzed the
        # ~400-node unrolled tree on every fresh plan, 0.58 s of each
        # bench rep; the fold tree is ~10 nodes (build 0.14 s, fresh
        # collect 1.15 → 0.79 s at sf1.0, interleaved best-of-4).
        # call_function("shiftleft", ...) because F.shiftleft only takes
        # a Python-int shift amount, and the lambda index is a Column.
        n_tokens = F.get(counts, bits)
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc
            + F.when(
                F.get(counts, i) * 2 > n_tokens,
                F.call_function("shiftleft", F.lit(1).cast("bigint"), i),
            ).otherwise(F.lit(0).cast("bigint")),
        )

    return F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0).cast("bigint"), bits + 1),
        _merge,
        _pack,
    )


def hamming_distance(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    xor = a.bitwiseXOR(b)
    if hasattr(F, "bit_count"):
        return F.bit_count(xor)
    result = F.lit(0)
    for i in range(bits):  # pragma: no cover - pre-3.5 fallback
        result = result + F.shiftright(xor, i).bitwiseAND(F.lit(1)).cast("int")
    return result


def _simhash_banded(
    df: DataFrame, id_col: str, text_col: str, chunks: int
) -> DataFrame:
    """``(_id, _sh, chunk, value)`` pigeonhole-banded signature rows."""
    chunk_bits = SIMHASH_BITS // chunks
    mask = (1 << chunk_bits) - 1
    sh = df.select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col)).alias("_sh")
    )
    return sh.select(
        "_id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sh"), c * chunk_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "value"),
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: the 60-bit signature splits into ``chunks`` 15-bit
    chunks; any pair within hamming ≤ chunks-1 shares at least one identical
    chunk, so bucketing on (chunk_idx, chunk_value) finds all of them with
    zero cross-bucket comparisons.  Verification recomputes exact hamming.
    """
    keys = ["chunk", "value"]
    pairs = (
        _bucket_pairs(
            _sized_buckets(_simhash_banded(df, id_col, text_col, chunks), keys),
            keys, max_bucket_size, F.struct("_id", "_sh"),
        )
        .select(
            F.col("p.a._id").alias("id_a"),
            F.col("p.b._id").alias("id_b"),
            F.col("p.a._sh").alias("sh_a"),
            F.col("p.b._sh").alias("sh_b"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        hamming_distance(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard within blocks
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    block_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Exact all-pairs Jaccard, restricted to blocking columns.

    Unblocked this is O(n²) — at scale ALWAYS pass ``block_cols`` (e.g.
    language + domain) or use the MinHash path; this exists as the exact
    oracle-verifiable variant for bounded blocks.  Cost is
    Σ_block |block|²/2 pairs, each carrying both shingle arrays through
    the join: keep blocks ≲10³ docs (r9 measured 2.5 k-doc blocks at
    ~60 M pairs — minutes, quadratic-by-design; use
    :func:`minhash_candidate_pairs` + :func:`jaccard_of_pairs` for
    anything coarser).
    """
    shingled = _shingle_sets(df, id_col, text_col, shingle_n, *(block_cols or []))
    a = shingled.select(
        *[F.col(c).alias(f"_ba_{c}") for c in (block_cols or [])],
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("_sh_a"),
    )
    b = shingled.select(
        *[F.col(c).alias(f"_bb_{c}") for c in (block_cols or [])],
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("_sh_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols or []:
        cond = cond & (F.col(f"_ba_{c}") == F.col(f"_bb_{c}"))
    return a.join(b, cond).select(
        "id_a", "id_b", _jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _hyperplane_hashed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int,
    dim: Optional[int],
) -> DataFrame:
    """``(_id, _v, _b)`` rows: md5-seeded random-hyperplane sign-bit
    bucket per vector (engine- and run-deterministic)."""
    if dim is None:
        first = df.select(F.size(vec_col)).first()
        dim = int(first[0]) if first else 0
    # deterministic hyperplane components in [-1, 1)
    hyper = [
        [
            ((int.from_bytes(__import__("hashlib").md5(f"plane{p}dim{i}".encode()).digest()[:4], "big") % 2000) - 1000)
            / 1000.0
            for i in range(dim)
        ]
        for p in range(planes)
    ]
    vec = F.col(vec_col)
    bucket = F.lit(0).cast("bigint")
    for p, plane in enumerate(hyper):
        # ONE Literal array node, not dim CreateArray children: Catalyst
        # re-analyzes this tree on every fresh plan and the unrolled form
        # was planes×dim ≈ 10³ nodes (r9: build 0.7 → 0.1 s; identical
        # double values, so buckets and the SQL-twin parity are unchanged)
        plane_col = F.lit(plane)
        dot = F.aggregate(
            F.zip_with(vec, plane_col, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.shiftleft(F.lit(1).cast("bigint"), p)).otherwise(F.lit(0))
    return df.select(F.col(id_col).alias("_id"), vec.alias("_v"), bucket.alias("_b"))


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 12,
    dim: Optional[int] = None,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH.

    ``planes`` deterministic pseudo-random hyperplanes (md5-seeded, so runs
    and engines agree) produce a sign-bit bucket per vector; pairs are
    verified with exact cosine inside buckets only.  Recall is tunable via
    ``planes`` (fewer planes → bigger buckets → higher recall, more work).
    """
    hashed = _hyperplane_hashed(df, id_col, vec_col, planes, dim)
    pairs = _bucket_pairs(
        _sized_buckets(hashed, ["_b"]), ["_b"], max_bucket_size,
        F.struct("_id", "_v"),
    )
    return pairs.select(
        F.col("p.a._id").alias("id_a"),
        F.col("p.b._id").alias("id_b"),
        F.round(cosine_similarity(F.col("p.a._v"), F.col("p.b._v")), 6).alias(
            "cosine"
        ),
    ).filter(F.col("cosine") >= threshold).distinct()
