"""Approximate-nearest-neighbor search over embedding columns.

Four top-k tiers, one scorer and one ranker: every tier emits
``(probe_id, neighbor_id, <score>)`` rows and ranks them with
:func:`_top_k`; the three native-Column tiers score with :func:`_scored`
(norms materialized once per row, zero-guarded cosine, rounded to 6 dp).

- ``topk_brute_force`` — exact cosine top-k via a broadcast probe join +
  window rank.  Native Columns; the baseline every ANN variant is measured
  against.  Cost O(|corpus| × |probes|) — fine for ≤ ~100 probes even at
  large corpus sizes because the probe side broadcasts and the corpus is
  scanned once.
- ``topk_blockwise`` — the same semantics with the inner product computed in
  numpy over Arrow batches (``mapInPandas``): each batch does ONE matrix
  multiply against the broadcast probe matrix and emits only its local
  top-k, so the shuffle carries |probes| × k rows per batch, never the
  corpus.  The scale path for wide fan-outs.
- ``ivf_topk`` — IVF-style bucketed search: vectors are assigned to their
  nearest of C deterministic centroids at index time; a probe searches only
  the ``nprobe`` nearest centroid buckets.  Trades recall for a
  1/(C/nprobe) scan reduction.
- ``topk_quantized`` — the brute-force join over int8-quantized vectors:
  integer dot products and norms, 4x smaller vectors on disk and shuffle.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity, dot_product, l2_norm
from ..sources.io import driver_frame
from .dedup import _materialize

#: Probe frames are collected to the driver (the probe matrix ships in the
#: task closure / a broadcast), so their size must be bounded BY CODE, not
#: by contract: pointing a corpus at the probe argument would otherwise be
#: a silent driver OOM.  4096 probes × 64 doubles ≈ 2 MB — far below any
#: driver limit, far above any sane probe batch.  Raise via the
#: ``max_probes`` parameter (and chunk the probe set) for wider fan-outs.
DEFAULT_MAX_PROBES = 4096

#: ivf_topk's driver-built probe rows: one per (probe, searched bucket)
_PROBE_BUCKETS = (
    T.StructType()
    .add("probe_id", T.LongType())
    .add("_centroid", T.IntegerType())
    .add("_pvec", T.ArrayType(T.DoubleType()))
)


def _collect_probes(probes: DataFrame, cols: list, max_probes: int) -> list:
    rows = probes.select(*cols).limit(max_probes + 1).collect()
    if len(rows) > max_probes:
        raise ValueError(
            f"probe frame exceeds max_probes={max_probes}; probes are "
            "collected to the driver — chunk the probe set (or raise "
            "max_probes consciously) instead of passing a corpus"
        )
    return rows


def _unit_rows(vectors):
    """*vectors* as a float64 matrix with every row scaled to unit L2 norm
    (an all-zero row stays zero)."""
    import numpy as np  # noqa: PLC0415

    m = np.asarray(vectors, dtype="float64")
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _scored(
    corpus: DataFrame,
    probes: DataFrame,
    norm: Callable[[Column], Column],
    dot: Callable[[Column, Column], Column],
    score: str,
    on: Optional[str] = None,
) -> DataFrame:
    """``(probe_id, neighbor_id, <score>)``: the cosine of each corpus row
    ``(neighbor_id, _cvec)`` with each broadcast probe row
    ``(probe_id, _pvec)`` (only the pairs that agree *on* a column, when
    given), ``round(dot / (n_c·n_p), 6)`` and 0.0 when either norm is 0.

    Each side's norm is materialized ONCE per row below the join: Catalyst
    does not CSE across HOF lambdas, so an inline norm in both the guard
    and the division would re-run its aggregate per (probe, corpus) PAIR.
    """
    c = _materialize(corpus, _cnorm=norm(F.col("_cvec")))
    p = F.broadcast(_materialize(probes, _pnorm=norm(F.col("_pvec"))))
    denom = F.col("_cnorm") * F.col("_pnorm")
    cosine = F.when(denom > 0, dot(F.col("_cvec"), F.col("_pvec")) / denom)
    return (c.crossJoin(p) if on is None else c.join(p, on)).select(
        "probe_id",
        "neighbor_id",
        F.round(cosine.otherwise(F.lit(0.0)), 6).alias(score),
    )


def _top_k(scored: DataFrame, score: str, k: int) -> DataFrame:
    """*scored* plus ``rank``, its best *k* rows per ``probe_id``: the one
    rank window, ties broken by neighbor id for full determinism."""
    w = Window.partitionBy("probe_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return ranked.filter(F.col("rank") <= k)


def topk_brute_force(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k: ``(probe_id, neighbor_id, cosine, rank)``.

    The probe side is broadcast — the corpus never shuffles; ranking happens
    on the (small) |corpus|×|probes| similarity rows after a probe-key
    repartition.  Ties broken by neighbor id for full determinism.
    """
    sims = _scored(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
        ),
        probes.select(
            F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("_pvec")
        ),
        l2_norm,
        dot_product,
        "cosine",
    )
    return _top_k(sims, "cosine", k)


def topk_blockwise(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    max_probes: int = DEFAULT_MAX_PROBES,
) -> DataFrame:
    """Same result as :func:`topk_brute_force`, Arrow/numpy inner loop.

    The probe matrix is collected once (bounded by ``max_probes`` — a
    probe frame past the cap raises instead of silently OOMing the driver)
    and shipped in the closure; each Arrow batch computes a single
    normalized matrix product and emits its batch-local top-k — vectorized
    end to end, no per-row Python.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    probe_rows = _collect_probes(probes, [probe_id_col, vec_col], max_probes)
    probe_ids = [r[0] for r in probe_rows]
    pm = _unit_rows([r[1] for r in probe_rows])

    def _block(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            sims = _unit_rows(np.stack(pdf[vec_col].to_numpy())) @ pm.T
            local_k = min(k, sims.shape[0])
            # batch-local top-k per probe (argpartition → exact order later)
            top = np.argpartition(-sims, local_k - 1, axis=0)[:local_k]
            rows = {
                "probe_id": np.repeat(probe_ids, local_k),
                "neighbor_id": ids[top.T.ravel()],
                "cosine": np.round(
                    np.take_along_axis(sims, top, axis=0).T.ravel(), 6
                ),
            }
            yield pd.DataFrame(rows)

    partial = corpus.select(id_col, vec_col).mapInPandas(
        _block, "probe_id long, neighbor_id long, cosine double"
    )
    return _top_k(partial, "cosine", k)


def _kmeans_centroids(vectors: list, k: int, iters: int) -> list:
    """Deterministic spherical k-means (Lloyd) on a driver-side sample.

    Fully deterministic: init = first ``k`` sample vectors (the sample is
    id-ordered), all math in float64, fixed iteration count — so repeated
    runs and test assertions agree bit-for-bit.  All O(sample × k) work
    happens once on the driver; executors only ever see the resulting
    centroid literals.
    """
    import numpy as np  # noqa: PLC0415

    X = _unit_rows(vectors)
    C = X[:k].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                mean = members.sum(axis=0)
                norm = np.linalg.norm(mean)
                if norm > 0:
                    C[j] = mean / norm
    return [list(map(float, row)) for row in C]


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "kmeans",
    sample_size: int = 4096,
    iters: int = 10,
) -> tuple:
    """Assign every vector to its nearest deterministic centroid.

    ``strategy="kmeans"`` (default): spherical k-means on the ``sample_size``
    lowest-id vectors — deterministic, driver-side numpy, good bucket
    balance.  ``strategy="first"``: centroids are simply the ``n_centroids``
    lowest-id vectors — cheaper and trivially reproducible in plain SQL
    (used by the oracle-checked contract query).  Returns
    ``(indexed_df, centroids)`` where indexed_df has a ``_centroid`` column
    — persist it with ``sources.io.write_bucketed_table(indexed, t,
    "_centroid")`` so probe-time reads prune whole buckets (verified:
    test_ivf_index_bucket_pruning shows ``SelectedBucketsCount`` dropping
    to the probed buckets).
    """
    if strategy == "kmeans":
        sample = (
            corpus.orderBy(id_col)
            .limit(sample_size)
            .select(id_col, vec_col)
            .collect()
        )
        cvecs = _kmeans_centroids([r[1] for r in sample], n_centroids, iters)
        centroids = [(None, v) for v in cvecs]
    elif strategy == "first":
        centroids = (
            corpus.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
        )
    else:
        raise ValueError(f"Unknown IVF centroid strategy: {strategy!r}")
    cent_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(float(x)) for x in row[1]]).alias("cvec"),
            )
            for i, row in enumerate(centroids)
        ]
    )
    best = F.aggregate(
        cent_structs,
        F.struct(
            F.lit(-1).alias("cid"), F.lit(float("-inf")).cast("double").alias("sim")
        ),
        lambda acc, c: F.when(
            cosine_similarity(F.col(vec_col), c["cvec"]) > acc["sim"],
            F.struct(
                c["cid"].alias("cid"),
                cosine_similarity(F.col(vec_col), c["cvec"]).alias("sim"),
            ),
        ).otherwise(acc),
    )
    indexed = corpus.withColumn("_centroid", best["cid"])
    return indexed, [(i, list(r[1])) for i, r in enumerate(centroids)]


def ivf_topk(
    indexed: DataFrame,
    centroids: list,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    max_probes: int = DEFAULT_MAX_PROBES,
) -> DataFrame:
    """Search only the ``nprobe`` nearest centroid buckets per probe.

    The probe frame is collected to the driver for centroid assignment and
    bounded by ``max_probes`` (raise past the cap, never a silent OOM).
    """
    import numpy as np  # noqa: PLC0415

    cm = _unit_rows([c[1] for c in centroids])
    rows = _collect_probes(probes, [probe_id_col, vec_col], max_probes)
    # a probe's own norm scales all its centroid scores alike: the bucket
    # order needs only the unit centroids
    buckets = [
        {"probe_id": pid, "_centroid": int(cid), "_pvec": list(map(float, vec))}
        for pid, vec in rows
        for cid in np.argsort(-(cm @ np.asarray(vec, dtype="float64")))[:nprobe]
    ]
    sims = _scored(
        indexed.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_cvec"),
            "_centroid",
        ),
        driver_frame(indexed.sparkSession, buckets, _PROBE_BUCKETS),
        l2_norm,
        dot_product,
        "cosine",
        on="_centroid",
    )
    return _top_k(sims, "cosine", k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = round(v_i / s)``
    with ``s = max(|v|) / 127`` (clipped to [-127, 127]; all-zero vectors
    get s = 1 so q stays all-zero).

    The 100 TB ANN storage path: int8 vectors are 4x smaller than float32
    on disk and over the shuffle, and COSINE between quantized vectors
    needs no dequantization at all — the per-vector scales cancel:
    ``cos(qa*sa, qb*sb) = dot(qa, qb) / (||qa|| * ||qb||)``.  That also
    makes every downstream similarity integer-derived, hence bit-portable
    across engines.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    return df.withColumn(scale_col, scale).withColumn(
        q_col,
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x / F.col(scale_col)).cast("int")),
            ),
        ),
    )


def topk_quantized(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Top-k by int8-quantized cosine: ``(probe_id, neighbor_id, qcosine,
    rank)`` — same shape as ``topk_brute_force``, with the similarity
    computed entirely in integer arithmetic over quantized vectors
    (broadcast probes, corpus never shuffles before ranking).

    ``qcosine`` approximates the exact cosine to ~1/127 resolution per
    component — rank agreement with the float path is high but not exact;
    use it as the cheap first pass and rescore the top candidates with
    ``topk_brute_force`` semantics when exactness matters.
    """
    def quantized(df: DataFrame, id_: str, key: str, vec: str) -> DataFrame:
        q = quantize_embeddings(df.select(F.col(id_).alias(key), vec_col), vec_col)
        return q.select(key, F.col("q").alias(vec))

    def idot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    # exact integer sums: the norm is sqrt(idot(v, v)), and a zero-norm
    # vector has idot 0, so the shared guard's 0.0 is the exact value
    sims = _scored(
        quantized(corpus, id_col, "neighbor_id", "_cvec"),
        quantized(probes, probe_id_col, "probe_id", "_pvec"),
        lambda v: F.sqrt(idot(v, v).cast("double")),
        idot,
        "qcosine",
    )
    return _top_k(sims, "qcosine", k)
