"""Deterministic synthetic Common-Crawl-style web-page tables.

The north rule's input shape (BASELINE.json input_hint):
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Generated entirely with Spark expressions over ``spark.range`` — fully
distributed, no driver-side data, no Python RNG — so the same
``(n_rows, seed)`` always produces byte-identical tables at any parallelism
(value variety comes from ``xxhash64(id, seed)``, violations are planted
with exact modular-arithmetic conditions so expected counts are closed-form).

Skew: a handful of hot domains cover ~30% of rows (FIXTURES.md F1) to
exercise the salted uniqueness path.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .expr import col
from .spec import Field, Model

ALLOWED_LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt", "it", "nl", "other"]

#: modular planting periods — one violation class each, mutually disjoint
#: residues so each bad row violates exactly one rule
DUP_URL_PERIOD = 1000  # id % 1000 == 1 copies url of id-1  → pairs
NULL_LANG_PERIOD = 1000  # id % 1000 == 3 → lang NULL
BAD_TS_PERIOD = 1000  # id % 1000 == 5 → warc_ts 1980 (< 1996 bound)
BAD_URL_PERIOD = 1000  # id % 1000 == 7 → url without scheme

HOT_DOMAINS = 5
HOT_SHARE_PCT = 30  # % of rows on hot domains


class WebPage(Model):
    """The north-rule web-page model (FIXTURES.md F1)."""

    url: str = Field(unique=True, pattern=r"^https?://")
    warc_ts: dt.datetime = Field(
        ge=dt.datetime(1996, 1, 1), le=dt.datetime(2030, 1, 1)
    )
    html: Optional[bytes]
    text: Optional[str]
    lang: str = Field(allowed=ALLOWED_LANGS)


def synth_webpages(
    spark: SparkSession,
    n_rows: int,
    n_partitions: int = 64,
    seed: int = 42,
    with_violations: bool = True,
) -> DataFrame:
    """Deterministic web-page table, ~``n_rows`` rows, skewed domains."""
    df = spark.range(0, n_rows, 1, n_partitions)
    h = F.xxhash64("id", F.lit(seed))

    url_id = F.col("id")
    if with_violations:
        # duplicate pairs: id ≡ 1 (mod P) reuses the full url of id-1
        url_id = F.when(
            (F.col("id") % DUP_URL_PERIOD == 1) & (F.col("id") > 0),
            F.col("id") - 1,
        ).otherwise(F.col("id"))

    # domain derives from url_id so planted duplicates share the whole url
    h_url = F.xxhash64(url_id, F.lit(seed))
    hot = F.pmod(h_url, F.lit(10_000)) < HOT_SHARE_PCT * 100
    domain = F.when(
        hot,
        F.concat(F.lit("hot"), F.pmod(h_url, F.lit(HOT_DOMAINS)), F.lit(".example.com")),
    ).otherwise(
        F.concat(
            F.lit("site"),
            F.pmod(F.xxhash64(url_id, F.lit(seed + 1)), F.lit(200_000)),
            F.lit(".example.org"),
        )
    )
    url = F.concat(F.lit("https://"), domain, F.lit("/page/"), url_id)
    if with_violations:
        url = F.when(
            F.col("id") % BAD_URL_PERIOD == 7,
            F.concat(F.lit("not-a-url-"), F.col("id")),
        ).otherwise(url)

    # timestamps spread over 1996-01-02 .. ~2026 (deterministic from hash)
    epoch_96 = int(dt.datetime(1996, 1, 2).timestamp())
    span = int(dt.datetime(2026, 1, 1).timestamp()) - epoch_96
    ts_sec = F.lit(epoch_96) + F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(span))
    if with_violations:
        ts_sec = F.when(
            F.col("id") % BAD_TS_PERIOD == 5,
            F.lit(int(dt.datetime(1980, 6, 1).timestamp())),
        ).otherwise(ts_sec)
    warc_ts = F.timestamp_seconds(ts_sec)

    # deterministic pseudo-text: a handful of hash-selected tokens repeated
    words = F.array(*[F.lit(w) for w in _VOCAB])
    pick = lambda k: F.get(  # noqa: E731
        words, F.pmod(F.xxhash64("id", F.lit(seed + 10 + k)), F.lit(len(_VOCAB))).cast("int")
    )
    text = F.concat_ws(
        " ", pick(0), pick(1), pick(2), pick(3), pick(4), pick(5), pick(6), pick(7)
    )
    text = F.repeat(F.concat(text, F.lit(" ")), (F.pmod(h, F.lit(8)) + 1).cast("int"))

    lang = F.get(
        F.array(*[F.lit(lang) for lang in ALLOWED_LANGS]),
        F.pmod(F.xxhash64("id", F.lit(seed + 3)), F.lit(len(ALLOWED_LANGS))).cast("int"),
    )
    if with_violations:
        lang = F.when(F.col("id") % NULL_LANG_PERIOD == 3, F.lit(None)).otherwise(lang)

    html = F.encode(F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "utf-8")

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        F.to_date(warc_ts).alias("crawl_date"),  # physical-partition analogue
    )


def synth_domains(spark: SparkSession) -> DataFrame:
    """The domain dim covering all NON-hot synthetic domains plus hot ones;
    planted orphan: hot domains are present, site-domains ending in 13 are
    omitted so RI checks find a known class of orphans."""
    hot = spark.range(HOT_DOMAINS).select(
        F.concat(F.lit("hot"), F.col("id"), F.lit(".example.com")).alias("domain")
    )
    rest = spark.range(200_000).filter(F.col("id") % 100 != 13).select(
        F.concat(F.lit("site"), F.col("id"), F.lit(".example.org")).alias("domain")
    )
    return (
        hot.unionByName(rest)
        .withColumn("first_seen", F.lit(dt.datetime(1996, 1, 1)))
    )


def expected_violations(n_rows: int) -> dict:
    """Closed-form expected violation counts for ``synth_webpages``."""

    def planted(period: int, residue: int) -> int:
        # count of ids in [0, n) with id % period == residue
        full = n_rows // period
        return full + (1 if n_rows % period > residue else 0)

    dup_sources = planted(DUP_URL_PERIOD, 1)
    if n_rows > 1:
        # each planted id ≡ 1 duplicates id-1 → 2 members per group (id=1
        # duplicates id=0 which exists; generally id-1 always exists)
        dup_members = 2 * dup_sources
    else:
        dup_members = 0
    return {
        "duplicate_url_members": dup_members,
        "null_lang": planted(NULL_LANG_PERIOD, 3),
        "bad_warc_ts": planted(BAD_TS_PERIOD, 5),
        "bad_url_pattern": planted(BAD_URL_PERIOD, 7),
    }


_VOCAB = [
    "data", "table", "query", "spark", "shuffle", "column", "row", "scan",
    "filter", "join", "agg", "window", "batch", "stream", "page", "crawl",
    "web", "text", "index", "link", "site", "fast", "slow", "small", "large",
    "value", "key", "hash", "sort", "merge", "cache", "disk",
]
