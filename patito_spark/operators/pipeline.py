"""Composable corpus-cleaning pipeline — the standard first pass of a
training-data build (language filter → length bounds → quality threshold →
exact dedup).

Plan shape at 100 TB: every filter is a native Column predicate applied
BEFORE the dedup shuffle, so Catalyst pushes what it can into the scan and
the fingerprint shuffle only carries surviving rows.  The dedup stage is
:func:`patito_spark.operators.dedup.exact_dedup` (``min_by`` aggregate —
map-side combine, no per-group sort).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score
from .dedup import exact_dedup


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: Optional[str] = None,
    allowed_langs: Optional[Sequence[str]] = None,
    min_chars: Optional[int] = None,
    max_chars: Optional[int] = None,
    min_quality: Optional[float] = None,
    dedup: bool = True,
) -> DataFrame:
    """Filter + dedup a document table; returns the surviving rows.

    All thresholds are optional — pass only the stages the pipeline needs.
    Rows with NULL text never survive a length/quality threshold (a crawl
    row without text is not trainable data).
    """
    out = df
    if lang_col is not None and allowed_langs:
        out = out.filter(F.col(lang_col).isin(*list(allowed_langs)))
    text = F.col(text_col)
    if min_chars is not None:
        out = out.filter(F.char_length(text) >= min_chars)
    if max_chars is not None:
        out = out.filter(F.char_length(text) <= max_chars)
    if min_quality is not None:
        out = out.filter(quality_score(text) >= min_quality)
    if dedup:
        out = exact_dedup(out, id_col, text_col)
    return out


def prepare_training_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    eval_df: Optional[DataFrame] = None,
    allowed_langs: Optional[Sequence[str]] = None,
    min_chars: Optional[int] = None,
    min_quality: Optional[float] = None,
    near_dup_threshold: float = 0.7,
    contamination_max: float = 0.2,
    contamination_n: int = 8,
    lang_fractions: Optional[dict] = None,
    pack_budget: Optional[int] = None,
    line_dedup_min_count: Optional[int] = None,
    near_dup_kwargs: Optional[dict] = None,
) -> DataFrame:
    """The full training-data build, end to end:

    0. cross-document line dedup (when *line_dedup_min_count* is given) —
       boilerplate lines occurring in that many documents are stripped
       FIRST, so quality scoring, fingerprinting, and near-dup detection
       all see the cleaned text (boilerplate otherwise depresses quality
       scores and glues unrelated documents into near-dup clusters);
    1. :func:`clean_corpus` — language/length/quality filters (scan-side
       predicates) + exact dedup (one fingerprint shuffle);
    2. near-duplicate removal — MinHash pairs → connected components →
       one best-id survivor per cluster (bounded buckets, broadcast
       anti join, corpus never shuffles by n-gram);
    3. decontamination (when *eval_df* is given) — drop training docs
       whose distinct n-gram overlap with the evaluation set exceeds
       *contamination_max* (train side scanned once vs a broadcast eval
       n-gram set);
    4. per-language balancing (when *lang_fractions* is given) —
       deterministic per-stratum hash sampling;
    5. sequence packing (when *pack_budget* is given) — concat-then-chunk
       ``(stream, pack_id, tok_start)`` assignment, token counts from the
       whitespace tokenizer.

    Each stage is the standalone operator documented in COVERAGE.md; this
    function is the composition a user runs when they want "the corpus,
    ready to train on" in one call.  Returns the surviving rows (with the
    packing columns when requested).  *near_dup_kwargs* passes the LSH
    family through to the pair stage (``num_hashes``/``bands``/
    ``shingle_n``/``max_bucket_size``) — set it to the increment
    pipeline's family when comparing a from-scratch build against
    :func:`prepare_training_increment` snapshots.
    """
    from .components import drop_near_duplicates
    from .dedup import minhash_dedup_pairs
    from .sampling import stratified_sample

    if line_dedup_min_count is not None:
        from .lines import remove_duplicated_lines

        df = (
            remove_duplicated_lines(
                df, id_col, text_col, min_count=line_dedup_min_count
            )
            .drop(text_col, "n_lines", "n_removed")
            .withColumnRenamed("text_clean", text_col)
        )
    out = clean_corpus(
        df,
        id_col,
        text_col,
        lang_col=lang_col,
        allowed_langs=allowed_langs,
        min_chars=min_chars,
        min_quality=min_quality,
    )
    pairs = minhash_dedup_pairs(
        out, id_col, text_col, threshold=near_dup_threshold,
        **(near_dup_kwargs or {}),
    )
    out = drop_near_duplicates(out, id_col, pairs)
    if eval_df is not None:
        from .contamination import ngram_contamination

        scores = ngram_contamination(
            out, eval_df, id_col, text_col, n=contamination_n
        )
        # NOTE direction: here we score TRAIN docs against the EVAL set
        # (drop leaked train docs, keep the benchmark intact)
        dirty = scores.filter(
            F.col("fraction") > contamination_max
        ).select(F.col(id_col).alias("_dirty_id"))
        out = out.join(
            dirty, out[id_col] == F.col("_dirty_id"), "left_anti"
        )
    if lang_fractions:
        out = stratified_sample(out, id_col, lang_col, lang_fractions)
    if pack_budget is not None:
        from ..functions.text import token_count
        from .packing import pack_sequences

        out = out.withColumn(
            "_ntok",
            F.when(
                F.col(text_col).isNotNull(), token_count(F.col(text_col))
            ).otherwise(0),
        )
        out = pack_sequences(out, id_col, "_ntok", pack_budget).drop("_ntok")
    return out


def prepare_training_increment(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: Optional[str] = None,
    fingerprint_store: Optional[DataFrame] = None,
    signature_store: Optional[DataFrame] = None,
    allowed_langs: Optional[Sequence[str]] = None,
    min_chars: Optional[int] = None,
    min_quality: Optional[float] = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
    replace_recrawled: bool = False,
) -> tuple:
    """Process ONE new crawl batch against persisted corpus dedup state —
    the daily-increment companion of :func:`prepare_training_corpus`,
    which is the from-scratch build.

    1. language / length / quality filters (scan-side predicates, batch
       only);
    2. exact dedup within the batch, then against *fingerprint_store*
       (:func:`~patito_spark.operators.dedup.incremental_exact_dedup` —
       the store never shuffles);
    3. near-dup resolution against *signature_store*
       (:func:`~patito_spark.operators.dedup.incremental_minhash_pairs`):
       a batch document colliding with a STORED document drops (the
       corpus copy is already canonical); batch-internal collisions keep
       one smallest-id survivor per cluster
       (:func:`~patito_spark.operators.components.drop_near_duplicates`).

    Returns ``(survivors, fingerprint_delta, signature_delta)`` — append
    the deltas to the respective stores to advance the corpus snapshot
    for the next batch.  Either store may be None (cold start: the batch
    founds the corpus and both deltas seed the stores).

    *replace_recrawled=True* lifts the batch-ids-disjoint-from-store
    contract: before near-dup scoring the signature store is passed
    through :func:`~patito_spark.operators.dedup.replace_in_store` with
    the ids that survived the exact gate, so a re-crawled document with
    UPDATED text is scored against the rest of the corpus instead of
    meeting its own old signature rows (which inflate bucket sizes
    toward the cap, and under a naive store advance leave defunct old
    text matching future batches forever).  A re-crawl whose text is
    unchanged still drops at the exact gate and its store rows stay —
    the corpus copy remains canonical and keeps participating in
    detection.  Advance the snapshot by stripping only the FINAL
    survivors' ids (the delta carries exactly those)::

        store = replace_in_store(store, id_col, sig_delta)
        store = store.unionByName(sig_delta)

    leaving exactly one row-set per re-crawled id.  (The one-column
    fingerprint store has no ids to replace — a replaced document's old
    fingerprint stays behind as a conservative tombstone.)
    """
    from ..functions.text import doc_fingerprint
    from .components import drop_near_duplicates
    from .dedup import (
        exact_dedup,
        incremental_exact_dedup,
        incremental_minhash_pairs,
        minhash_candidate_pairs,
        minhash_signatures,
        replace_in_store,
    )

    out = clean_corpus(
        new_df,
        id_col,
        text_col,
        lang_col=lang_col,
        allowed_langs=allowed_langs,
        min_chars=min_chars,
        min_quality=min_quality,
        dedup=False,
    )
    if fingerprint_store is not None:
        out = incremental_exact_dedup(out, id_col, text_col, fingerprint_store)
    else:
        out = exact_dedup(out, id_col, text_col)
    if signature_store is not None:
        if replace_recrawled:
            # strip only ids that PASSED the exact gate (changed text): an
            # unchanged re-crawl was just dropped as already-present, so
            # its store rows stay — the corpus copy remains canonical and
            # keeps participating in near-dup detection
            signature_store = replace_in_store(signature_store, id_col, out)
        pairs = incremental_minhash_pairs(
            out, id_col, text_col, signature_store,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            max_bucket_size=max_bucket_size,
        )
        batch_ids = out.select(F.col(id_col).alias("_pt_bid")).distinct()
        # a pair side NOT in the batch is a stored doc — its batch twin
        # drops (semi/anti joins against the batch id set, which is
        # batch-sized and broadcasts)
        vs_store = (
            pairs.select(F.col("id_a").alias("_pt_x"), F.col("id_b").alias("_pt_y"))
            .unionByName(
                pairs.select(
                    F.col("id_b").alias("_pt_x"), F.col("id_a").alias("_pt_y")
                )
            )
            .join(
                batch_ids, F.col("_pt_y") == F.col("_pt_bid"), "left_anti"
            )
            .select(F.col("_pt_x").alias("_pt_drop"))
            .distinct()
        )
        out = out.join(
            vs_store, out[id_col] == F.col("_pt_drop"), "left_anti"
        )
        batch_pairs = (
            pairs.join(
                batch_ids, pairs["id_a"] == F.col("_pt_bid"), "left_semi"
            ).join(
                batch_ids, pairs["id_b"] == F.col("_pt_bid"), "left_semi"
            )
        )
        out = drop_near_duplicates(out, id_col, batch_pairs)
    else:
        pairs = minhash_candidate_pairs(
            out, id_col, text_col, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, max_bucket_size=max_bucket_size,
        )
        out = drop_near_duplicates(out, id_col, pairs)
    fingerprint_delta = out.select(
        doc_fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()
    signature_delta = minhash_signatures(
        out, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n,
    )
    return out, fingerprint_delta, signature_delta
