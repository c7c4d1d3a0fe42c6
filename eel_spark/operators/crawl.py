"""Crawl scheduling operators — sitemap ingestion and per-host fetch
planning, the stage between the deduplicated frontier and the fetcher:

    robots_sitemaps ─→ **sitemap_entries / sitemap_index_locs** ─┐
    html_links → resolve_url → canonical_url → dedup ────────────┤
                                                                 ▼
            filter_by_robots → **fetch_plan** → the fetcher's waves

Sitemap parsing follows sitemaps.org (the public protocol): a
``<urlset>`` of ``<url>`` entries (``loc`` required; ``lastmod``,
``changefreq``, ``priority`` optional) or a ``<sitemapindex>`` of child
sitemaps. Extraction is tolerant regex over the XML text — same
engine-neutral Java∩RE2 discipline as the HTML extractors, and
deliberately NOT a strict XML parse: one malformed sitemap among
millions must yield its parseable entries, not kill the stage (strict
``xpath()`` throws). Decompress ``.xml.gz`` sitemaps at fetch time;
these operators see text.

Scale shape: sitemap parsing is a per-row scan projection (no shuffle);
:func:`fetch_plan` is ONE shuffle by host + a running ``row_number`` —
the only operator here that moves data, and the politeness constraint
it implements (a host's fetches serialize) is exactly why partitioning
by host is the right co-location. Host skew is inherent and bounded:
``max_per_host`` caps any one host's slice of a wave, and the window
function is a running count (no frame buffering beyond the sorter's
spill path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eel_spark.functions.text import _c, _decode_entities, url_host
from eel_spark.operators.maintenance import (
    _compact_to_sentinel,
    _read_store,
    commit_batch,
    locked_store_write,
)

__all__ = [
    "sitemap_entries",
    "sitemap_index_locs",
    "is_sitemap_index",
    "fetch_plan",
    "frontier_url_key",
    "frontier_unseen",
    "frontier_admit_batch",
    "compact_frontier_store",
]

#: key-space buckets of the frontier store — the partition-pruning
#: lever: each wave's history probe reads at most this many partition
#: buckets per live batch, never the whole accumulated table
N_FRONTIER_KP = 64

#: a <url> entry's interior — the \b-free open-tag guard ([\s>/]) keeps
#: <urlset> from matching as <url>
_URL_BLOCK = r"(?s)<\s*url[\s>](.*?)</\s*url\s*>"
_SITEMAP_BLOCK = r"(?s)<\s*sitemap[\s>](.*?)</\s*sitemap\s*>"
_CDATA = r"(?s)<!\[CDATA\[(.*?)\]\]>"


def _field(block: Column, tag: str) -> Column:
    """A child tag's trimmed text, NULL when absent/empty."""
    raw = F.regexp_extract(
        block, rf"(?s)<\s*{tag}[^>]*>\s*(.*?)\s*</\s*{tag}\s*>", 1
    )
    out = _decode_entities(F.trim(raw))
    return F.when(out != "", out)


def _strip_cdata(xml: Column) -> Column:
    return F.regexp_replace(xml, _CDATA, "$1")


def sitemap_entries(xml: Column | str) -> Column:
    """The ``<url>`` entries of a sitemaps.org urlset, as
    ``array<struct<loc, lastmod, changefreq, priority>>`` — ``loc``
    entity-decoded and CDATA-unwrapped (sitemap URLs legally carry
    ``&amp;``), ``priority`` parsed to double (NULL when malformed —
    ``try_cast`` semantics, a junk priority must not kill the scan),
    entries with no ``loc`` dropped. Namespace-prefix tolerant only in
    that prefixes are uncommon in the wild; the regex matches the bare
    tag names the protocol's own examples use. A truncated document
    yields its complete entries (tolerant by construction — the
    non-greedy block regex simply stops matching at the tear).

    Scan-side projection: compose ``explode(sitemap_entries(x))`` →
    ``canonical_url(loc)`` → frontier union with the outlink arm.
    """
    blocks = F.regexp_extract_all(_strip_cdata(_c(xml)), F.lit(_URL_BLOCK), 1)
    entries = F.transform(
        blocks,
        lambda b: F.struct(
            _field(b, "loc").alias("loc"),
            _field(b, "lastmod").alias("lastmod"),
            _field(b, "changefreq").alias("changefreq"),
            F.when(
                _field(b, "priority").rlike(r"^[+-]?\d*\.?\d+$"),
                _field(b, "priority").cast("double"),
            ).alias("priority"),
        ),
    )
    return F.filter(entries, lambda e: e["loc"].isNotNull())


def sitemap_index_locs(xml: Column | str) -> Column:
    """Child sitemap URLs of a ``<sitemapindex>`` document, as
    ``array<string>`` (entity-decoded, CDATA-unwrapped) — feed them
    back through the fetcher to recurse one level; the index/urlset
    split is the protocol's own pagination (50 000 URLs / 50 MB per
    file), so recursion depth is 1 by spec."""
    blocks = F.regexp_extract_all(
        _strip_cdata(_c(xml)), F.lit(_SITEMAP_BLOCK), 1
    )
    return F.filter(
        F.transform(blocks, lambda b: _field(b, "loc")),
        lambda u: u.isNotNull(),
    )


def is_sitemap_index(xml: Column | str) -> Column:
    """Whether the document is a ``<sitemapindex>`` (vs a urlset) —
    routes a fetched sitemap body to :func:`sitemap_index_locs` or
    :func:`sitemap_entries`."""
    return _c(xml).rlike(r"(?s)<\s*sitemapindex[\s>]")


def fetch_plan(
    frontier: DataFrame,
    url_col: str,
    delays: DataFrame | None = None,
    default_delay: float = 1.0,
    max_per_host: int | None = None,
    host_col: str = "host",
    delay_col: str = "crawl_delay",
) -> DataFrame:
    """Schedule the frontier into per-host polite fetch order: adds
    ``host``, ``fetch_seq`` (1-based position in the host's queue,
    deterministic — ordered by URL) and ``fetch_offset_s`` (seconds
    after the host's first fetch: ``(fetch_seq - 1) × delay``), the
    columns a fetcher needs to pace itself per RFC-politeness without
    any coordination beyond partitioning by host.

    ``delays`` is an optional per-host dimension (``host_col``,
    ``delay_col`` — e.g. ``robots_crawl_delay`` over the robots
    dimension); hosts absent from it (or with NULL/non-positive
    delay) pace at ``default_delay``. ``max_per_host`` caps each
    host's slice of this wave — the per-domain crawl budget; the
    overflow simply stays in the frontier store for the next wave.

    Scale shape: ONE shuffle (hash by host) + a running row_number —
    no frame buffering; the delay dimension broadcasts. Host skew is
    the politeness constraint itself: a million-URL host serializes at
    the fetcher regardless, and ``max_per_host`` bounds what one wave
    even carries.
    """
    host = url_host(F.col(url_col))
    with_host = frontier.withColumn("host", host)
    if delays is not None:
        dim = (
            delays.groupBy(F.lower(F.col(host_col)).alias("__d_host"))
            .agg(F.max(F.col(delay_col)).alias("__delay"))
        )
        with_host = with_host.join(
            F.broadcast(dim), F.col("host") == F.col("__d_host"), "left"
        ).drop("__d_host")
    else:
        with_host = with_host.withColumn(
            "__delay", F.lit(None).cast("double")
        )
    delay = F.when(
        F.col("__delay").isNotNull() & (F.col("__delay") > 0),
        F.col("__delay"),
    ).otherwise(F.lit(float(default_delay)))
    w = Window.partitionBy("host").orderBy(F.col(url_col))
    planned = (
        with_host.withColumn("fetch_seq", F.row_number().over(w))
        .withColumn(
            "fetch_offset_s",
            ((F.col("fetch_seq") - F.lit(1)) * delay).cast("double"),
        )
        .drop("__delay")
    )
    if max_per_host is not None:
        planned = planned.where(F.col("fetch_seq") <= int(max_per_host))
    return planned


# ---------------------------------------------------------------------------
# Frontier store: the persistent visited-URL set. streaming_url_dedup
# bounds its state by the WATERMARK — a URL re-discovered after the
# horizon re-emits, which is the right trade for in-window feeds but
# wrong for a crawl that must never re-fetch a page it saw weeks ago.
# The frontier store is the sixth incremental-store family: EXACT
# membership over every URL ever admitted, as a parquet table
# partitioned by (batch_id, kp) with kp = pmod(xxhash64(key),
# N_FRONTIER_KP), maintained by the same lease/compaction/maintain()
# discipline as the other five (operators/maintenance.py).
# ---------------------------------------------------------------------------


def frontier_url_key(url: Column | str) -> Column:
    """The store's identity key for a URL: its canonical form
    (:func:`~eel_spark.functions.text.canonical_url` — decoration must
    not split identity), falling back to the raw string tagged
    ``__raw::`` for unparseable values (equal garbage dedups, distinct
    garbage survives — streaming_url_dedup's rule). NULL url → NULL
    key; callers drop those rows (a frontier row without a URL is
    nothing)."""
    from eel_spark.functions.text import canonical_url

    u = _c(url)
    return F.coalesce(
        canonical_url(u), F.concat(F.lit("__raw::"), u)
    )


def _frontier_kp(key: Column) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(N_FRONTIER_KP)).cast("int")


def frontier_unseen(
    candidates: DataFrame,
    store_path: str,
    url_col: str = "url",
    exclude_batch_id: int | None = None,
) -> DataFrame:
    """Filter ``candidates`` to URLs the frontier store has never
    admitted — the batch-side membership probe (the streaming sink uses
    the same machinery per micro-batch). Rows whose ``url_col`` is NULL
    are dropped (no identity, nothing to fetch); candidates are NOT
    deduped against each other here (that is the admitter's job — a
    probe must not silently collapse its input).

    Scale shape: the candidate set maps to its kp buckets, the store
    read prunes to those partitions (the probe predicate enumerates at
    most ``N_FRONTIER_KP`` values — bounded by the layout, never by
    data), and membership is an exact-string anti-join on the key —
    the 64-bit kp hash only routes, it never decides (a hash collision
    must not suppress a never-seen URL). ``exclude_batch_id`` is the
    replay-safety hook: a restarted micro-batch must not match the
    failed attempt's own partial write.
    """
    spark = candidates.sparkSession
    keyed = candidates.where(F.col(url_col).isNotNull()).withColumn(
        "__fkey", frontier_url_key(F.col(url_col))
    )
    store = _read_store(spark, store_path)
    if store is None:
        return keyed.drop("__fkey")
    probe = [
        r["kp"]
        for r in keyed.select(_frontier_kp(F.col("__fkey")).alias("kp"))
        .distinct()
        .collect()
    ]
    hist = store.where(F.col("kp").isin(probe))
    if exclude_batch_id is not None:
        hist = hist.where(F.col("batch_id") != exclude_batch_id)
    return (
        keyed.join(
            hist.select(F.col("url_key").alias("__fkey")).distinct(),
            "__fkey",
            "left_anti",
        ).drop("__fkey")
    )


@locked_store_write("store_path", "batch_df", token_arg="batch_id")
def frontier_admit_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    url_col: str = "url",
    ts_col: str | None = None,
) -> None:
    """Admit one wave into the frontier store (the sink's per-batch
    body, also usable directly from a batch scheduler): intra-wave
    dedup (one row per key — MIN url representative, MIN ``ts_col`` as
    ``first_seen`` when given: deterministic, order-independent) →
    exact anti-join against the pruned history (excluding this
    batch_id — replay safety) → append under the wave's own
    ``batch_id=N`` partitions with dynamic overwrite (a replayed batch
    overwrites itself; exactly-once).

    Holds the store's single-writer lease itself (batch-token
    self-adoption — a crashed attempt's stranded lease is adopted by
    the same batch's retry).
    """
    keyed = batch_df.where(F.col(url_col).isNotNull()).select(
        frontier_url_key(F.col(url_col)).alias("url_key"),
        F.col(url_col).alias("url"),
        *([F.col(ts_col)] if ts_col else []),
    )
    aggs = [F.min("url").alias("url")]
    if ts_col:
        aggs.append(F.min(ts_col).alias("first_seen"))
    wave = keyed.groupBy("url_key").agg(*aggs)
    spark = batch_df.sparkSession
    store = _read_store(spark, store_path)
    if store is not None:
        wave = wave.withColumn("__kp", _frontier_kp(F.col("url_key")))
        probe = [
            r["__kp"] for r in wave.select("__kp").distinct().collect()
        ]
        hist = store.where(
            (F.col("batch_id") != batch_id) & F.col("kp").isin(probe)
        )
        wave = wave.join(
            hist.select(F.col("url_key")).distinct(),
            "url_key",
            "left_anti",
        ).drop("__kp")
    commit_batch(
        wave.withColumn("kp", _frontier_kp(F.col("url_key")))
        .withColumn("batch_id", F.lit(batch_id))
        # one task per kp bucket → one file per partition dir
        .repartition("kp"),
        store_path, batch_id, ("batch_id", "kp"),
    )


@locked_store_write("store_path", "spark")
def compact_frontier_store(spark, store_path: str) -> None:
    """Collapse the frontier store's per-wave ``batch_id=N`` partition
    trees into one ``batch_id=-1`` generation through
    ``maintenance._compact_to_sentinel``, preserving the kp layout so
    the membership probe's partition pruning keeps working. A
    pre-horizon replay finds its rows in the ``-1`` generation and
    correctly admits nothing, but its exactly-once overwrite is
    spent."""
    _compact_to_sentinel(
        store_path.rstrip("/"),
        spark.read.parquet(store_path).drop("batch_id"),
        "batch_id",
        ("batch_id", "kp"),
        lambda df: df.repartition("kp"),
    )
