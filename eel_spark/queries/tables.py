"""Test-table loaders (TESTDATA.md tables) + oracle-exactness helpers.

Exactness convention for the DuckDB-oracle gate (SURVEY.md §6): double
aggregation is order-dependent, so it can't hash-match across engines.
All measure columns in the test data carry exactly 2 decimal places, so we
aggregate in *scaled integer space* ("cents"): per-row values/products are
exact longs, the sum is an exact integer, and the final cast-to-double +
divide is the same IEEE operation on the same integer in both engines →
bit-identical results, with long-arithmetic speed (≈3× faster than decimal
aggregation, measured at sf0.1).

Overflow envelope: a scale-6 product is < 1e11 per row, so a signed-64 sum
holds ~9e7 rows per group (≈ TPC-H sf15) — far beyond the driver's sf0.1.
For unbounded scale the ``dec``/``dsum`` decimal helpers are the exact,
overflow-free path (Spark's standard decimal hash-agg); queries note which
they use.
"""

from __future__ import annotations

import threading as _threading
from collections import OrderedDict

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from eel_spark.datastream import DataStream

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def table_via_orc(spark: SparkSession, sf_dir: str, name: str) -> DataStream:
    """Load a test table through the ORC layer: the parquet original is
    copied to ORC (OrcSink) once per (sf_dir, table), then read back with
    OrcSource. Exists so at least one ORACLED query scans a non-parquet
    format end-to-end — a format-layer regression then flips a
    CORRECTNESS row, not just a round-trip pytest. The copy is cached on
    _SUCCESS (testdata is immutable) and lives under the system tmpdir."""
    import hashlib
    import os
    import tempfile

    from eel_spark.sources.files import OrcSink, OrcSource

    key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), "eel_spark_orc", key, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        OrcSink(path).write(table(spark, sf_dir, name))
    return OrcSource(path).to_datastream(spark)


def table_via_avro(spark: SparkSession, sf_dir: str, name: str) -> DataStream:
    """Load a test table through the Avro container layer (AvroSink →
    AvroSource, the provider-class route): the parquet original is copied
    to .avro once per (sf_dir, table), cached on _SUCCESS. The Avro twin
    of ``table_via_orc`` — with it, the correctness gate covers THREE
    formats end-to-end (parquet everywhere, ORC via ops_project_derive,
    Avro via text_bm25_multi_stats (ops_explode_tokens pre-r10)), so a row-oriented-format regression
    flips a CORRECTNESS row, not just a round-trip pytest."""
    import hashlib
    import os
    import tempfile

    from eel_spark.sources.files import AvroSink, AvroSource

    key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), "eel_spark_avro", key, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        AvroSink(path).write(table(spark, sf_dir, name))
    return AvroSource(path).to_datastream(spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataStream:
    """Read test table ``name`` from ``{sf_dir}/{name}.parquet``.

    Spark infers a parquet schema with a one-task job, even for a single
    file, so every read would launch a job whose answer cannot have
    changed. Both branches read through :func:`_read_parquet`, which
    stores the ``StructType`` inferred for a regular file under the
    file's qualified path and hands it to later reads of that file as
    ``spark.read.schema(...)``, which launches no job.

    An entry holds only while its stamp matches: the file's length and
    modification time (one Hadoop ``getFileStatus`` on the driver, so
    ``file:`` and ``hdfs:`` behave the same) and the session settings that
    change what inference returns (``_INFERENCE_CONFS``). A changed stamp
    infers again and replaces the entry. At most ``_SCHEMA_MEMO_CAP``
    paths are held, least recently used evicted first. Directories are
    never stored: rewriting a nested file does not change a directory's
    modification time, so a directory read infers every time. This holds
    schemas only, not data: every read still lists and scans its file.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark only reads
        # as a long (spark.sql.legacy.parquet.nanosAsLong). Read the nanos
        # and surface a real timestamp column (micros, truncated exactly
        # like DuckDB's epoch_us on TIMESTAMP_NS → identical values).
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # session may have it fixed already
        from eel_spark.timeutils import normalize_ts

        return DataStream(normalize_ts(_read_parquet(spark, path)))
    return DataStream(_read_parquet(spark, path))


# -- inferred-schema memo for table() ----------------------------------------

_SCHEMA_MEMO_CAP = 64
# qualified path -> (stamp, StructType), least recently used first
_SCHEMA_MEMO: OrderedDict = OrderedDict()
_SCHEMA_MEMO_LOCK = _threading.Lock()
# session settings that change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema inferred for an
    unchanged regular file (see :func:`table`)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(jpath)
    except Py4JJavaError:
        status = None  # missing path: let the read raise its usual error
    if status is None or not status.isFile():
        return spark.read.parquet(path)
    key = status.getPath().toString()
    stamp = (status.getLen(), status.getModificationTime(),
             tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    with _SCHEMA_MEMO_LOCK:
        hit = _SCHEMA_MEMO.get(key)
        if hit is not None and hit[0] == stamp:
            _SCHEMA_MEMO.move_to_end(key)
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    # a copy: callers may extend ``df.schema`` in place (``.add``)
    schema = StructType.fromJson(df.schema.jsonValue())
    with _SCHEMA_MEMO_LOCK:
        _SCHEMA_MEMO[key] = (stamp, schema)
        _SCHEMA_MEMO.move_to_end(key)
        while len(_SCHEMA_MEMO) > _SCHEMA_MEMO_CAP:
            _SCHEMA_MEMO.popitem(last=False)
    return df


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# -- integer-cents exact aggregation (fast path) ---------------------------

def cents(c: Column | str, scale: int = 2) -> Column:
    """Exact scaled-integer representation of a fixed-point double."""
    return F.round(_c(c) * (10 ** scale)).cast("long")


def money_sum(cents_col: Column, scale: int = 2) -> Column:
    """SUM of scaled longs presented as double (deterministic)."""
    return F.sum(cents_col).cast("double") / F.lit(float(10 ** scale))


def money_avg(cents_col: Column, scale: int = 2) -> Column:
    """AVG via exact integer sum; division order mirrors the SQL helper."""
    return F.sum(cents_col).cast("double") / F.count(F.lit(1)) / F.lit(float(10 ** scale))


def sql_cents(expr: str, scale: int = 2) -> str:
    return f"CAST(ROUND(({expr}) * {10 ** scale}) AS BIGINT)"


def sql_money_sum(cents_expr: str, scale: int = 2) -> str:
    return f"CAST(SUM({cents_expr}) AS DOUBLE) / {float(10 ** scale)}"


def sql_money_avg(cents_expr: str, scale: int = 2) -> str:
    return f"CAST(SUM({cents_expr}) AS DOUBLE) / COUNT(*) / {float(10 ** scale)}"


# -- decimal exact aggregation (unbounded-scale path) ----------------------

def dec(c: Column | str, scale: int = 6) -> Column:
    """Exact-sum staging cast: double → decimal(18,scale)."""
    return _c(c).cast(f"decimal(18,{scale})")


def dsum(c: Column, out_scale: int = 6) -> Column:
    """Exact decimal sum normalized to decimal(38,out_scale)."""
    return F.sum(c).cast(f"decimal(38,{out_scale})")


# -- per-invocation scoped temp dirs (r9 ADVICE: eager reaping) --------------

_SCOPED_TMPDIRS: dict = {}  # scope -> [older, newer] (≤2 kept per scope)
# created at import: a lazily-created lock is itself a race (two first
# callers each construct and acquire their own Lock — r11 review)
_SCOPED_LOCK = _threading.Lock()
_REAPER_ARMED = False


def fresh_scoped_tmpdir(scope: str) -> str:
    """Per-invocation temp dir that reaps same-scope dirs TWO
    invocations behind — a long-lived session running repeated
    gate/bench passes holds O(1) dirs per scope instead of accumulating
    one dir + one atexit entry per invocation; a single atexit hook
    backstops the last ≤2 dirs of each scope. Fresh dirs (not one fixed
    path) because two concurrent runs racing a shared path corrupt each
    other. Keeping the IMMEDIATELY preceding dir alive (deferred reap,
    r10 ADVICE) means a still-unconsumed lazy DataFrame from the
    previous build of the same query cannot lose its files mid-collect;
    only the invocation-before-last is reclaimed, by which point the
    gate/bench loop has long consumed it. The registry dict is
    lock-guarded so concurrent builders (e.g. a bench thread beside a
    gate pass) cannot interleave the pop/rmtree."""
    import atexit
    import shutil
    import tempfile

    global _REAPER_ARMED
    d = tempfile.mkdtemp(prefix=f"{scope}_")
    with _SCOPED_LOCK:
        kept = _SCOPED_TMPDIRS.setdefault(scope, [])
        kept.append(d)
        stale = kept[:-2]
        del kept[:-2]
        if not _REAPER_ARMED:
            _REAPER_ARMED = True
            atexit.register(
                lambda: [
                    shutil.rmtree(p, ignore_errors=True)
                    for ps in _SCOPED_TMPDIRS.values()
                    for p in ps
                ]
            )
    for p in stale:
        shutil.rmtree(p, ignore_errors=True)
    return d
