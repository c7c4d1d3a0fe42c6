"""HDFS file operations — the reference's eel-core hdfs component
re-expressed through Spark's own Hadoop FileSystem (py4j, no extra jars).

Reference parity:
- HdfsSource.scala:1 — list files matching a pattern as a stream of file
  metadata (path, size, times, owner/group/permission + ACL surface).
- HdfsOps (HdfsOps.scala) — mkdirs/delete/exists/setPermission helpers.
- HdfsWatcher.scala:1 — watch a directory for new files. The Spark-native
  answer for *processing* new files is the Structured Streaming file
  source (streaming/streams.py — exactly-once, checkpointed); HdfsWatcher
  here is the lightweight polling twin for driver-side orchestration
  (trigger a job when files land), not a data path.

Scale note: listing is driver-side metadata work (like the reference's),
fine into the millions of files; the DATA path never goes through here —
``to_datastream`` returns the *listing* as a DataFrame, and reading file
contents stays with the format sources (Parquet/Csv/...).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from eel_spark.datastream import DataStream
from eel_spark.sources.files import Source

_LISTING_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("name", T.StringType(), False),
    T.StructField("length", T.LongType(), False),
    T.StructField("is_dir", T.BooleanType(), False),
    T.StructField("modification_time", T.LongType(), False),
    T.StructField("owner", T.StringType(), True),
    T.StructField("group", T.StringType(), True),
    T.StructField("permission", T.StringType(), True),
    T.StructField("replication", T.IntegerType(), True),
    T.StructField("block_size", T.LongType(), True),
])


class HdfsOps:
    """HdfsOps.scala helpers over Hadoop's FileSystem (works on hdfs://,
    s3a://, file:// — whatever the Hadoop conf resolves)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._path(path)))

    def mkdirs(self, path: str) -> bool:
        return bool(self._fs(path).mkdirs(self._path(path)))

    def delete(self, path: str, recursive: bool = False) -> bool:
        return bool(self._fs(path).delete(self._path(path), recursive))

    def create_atomic(self, path: str, content: str = "") -> bool:
        """Create a file, failing if it already exists —
        ``FileSystem.create(overwrite=false)``, which the HDFS namenode
        executes as ONE atomic existence-check-and-create (the
        lock-acquisition primitive; object stores without atomic
        create-if-absent weaken this to best-effort). Returns False when
        the path already exists (matched on the Hadoop exception CLASS
        names, not a message substring — 'LeaseExpiredException: file
        does not exist' must surface, not read as lock-held); other
        failures raise. If the content write fails after the create won,
        the file is best-effort deleted before re-raising so a failed
        acquisition doesn't strand a lock."""
        try:
            out = self._fs(path).create(self._path(path), False)
        except Exception as e:  # py4j surfaces Java exceptions generically
            msg = str(e)
            if ("FileAlreadyExistsException" in msg
                    or "AlreadyBeingCreatedException" in msg):
                return False
            raise
        try:
            if content:
                out.write(bytearray(content.encode("utf-8")))
            out.close()
        except Exception:
            try:
                out.close()
            except Exception:
                pass
            self._fs(path).delete(self._path(path), False)
            raise
        return True

    def read_text(self, path: str) -> str:
        """Read a small text file (e.g. a lease/marker) fully as UTF-8."""
        fs = self._fs(path)
        stream = fs.open(self._path(path))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            data = ioutils.toByteArray(stream)
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> bool:
        return bool(self._fs(src).rename(self._path(src), self._path(dst)))

    def set_permission(self, path: str, octal: str) -> None:
        """e.g. ``set_permission(p, "750")`` — FsPermission surface; full
        ACLs (setAcl) need an HDFS namenode and pass through verbatim."""
        FsPermission = self._jvm.org.apache.hadoop.fs.permission.FsPermission
        self._fs(path).setPermission(self._path(path), FsPermission(octal))

    def reap_stale_kp_dirs(
        self, batch_root: str, kp_name: str, live_kps: set[int]
    ) -> None:
        """Post-commit reap for the key-hash-partitioned increment
        stores (BM25 term store, IVF postings): delete this batch's
        ``<kp_name>=K`` sub-dirs whose K is not in ``live_kps``, so
        replaying (or re-submitting corrected data under) a batch id
        converges to exactly its rows — a two-level dynamic overwrite
        alone would leave vacated kp dirs behind forever. The one
        crash window — after the write's commit, before this reap —
        degrades to transient stale rows (repaired by the batch's next
        replay), never to data loss."""
        for st in self.list_status(f"{batch_root}/{kp_name}=*"):
            kp = int(st["name"].split("=", 1)[1])
            if kp not in live_kps:
                self.delete(st["path"], recursive=True)

    def list_status(self, pattern: str) -> list[dict]:
        """Glob-expand ``pattern`` and return one metadata dict per match
        (FilePattern.scala globbing + HdfsSource.scala's status surface)."""
        fs = self._fs(pattern)
        statuses = fs.globStatus(self._path(pattern))
        out: list[dict] = []
        for s in statuses or []:
            p = s.getPath()
            out.append({
                "path": p.toString(),
                "name": p.getName(),
                "length": int(s.getLen()),
                "is_dir": bool(s.isDirectory()),
                "modification_time": int(s.getModificationTime()),
                "owner": s.getOwner(),
                "group": s.getGroup(),
                "permission": str(s.getPermission()),
                "replication": int(s.getReplication()),
                "block_size": int(s.getBlockSize()),
            })
        return out


@dataclass
class HdfsSource(Source):
    """HdfsSource.scala:1 — the file LISTING as a DataStream (path, size,
    times, ownership, permission). Use a format source to read contents."""

    pattern: str

    def to_datastream(self, spark: SparkSession) -> DataStream:
        rows = HdfsOps(spark).list_status(self.pattern)
        df = spark.createDataFrame(
            [tuple(r[f.name] for f in _LISTING_SCHEMA.fields) for r in rows],
            _LISTING_SCHEMA,
        )
        return DataStream(df)


class HdfsWatcher:
    """HdfsWatcher.scala:1 — poll a glob for files not seen before and hand
    them to a callback. Driver-side orchestration only; for exactly-once
    *data* processing of arriving files use the streaming file source."""

    def __init__(self, spark: SparkSession, pattern: str,
                 callback: Callable[[dict], None] | None = None):
        self.ops = HdfsOps(spark)
        self.pattern = pattern
        self.callback = callback
        self._seen: set[str] = set()

    def poll_once(self) -> list[dict]:
        fresh = [
            s for s in self.ops.list_status(self.pattern)
            if not s["is_dir"] and s["path"] not in self._seen
        ]
        for s in fresh:
            self._seen.add(s["path"])
            if self.callback:
                self.callback(s)
        return fresh

    def watch(self, interval_sec: float = 5.0,
              max_polls: int | None = None) -> Iterator[list[dict]]:
        polls = 0
        while max_polls is None or polls < max_polls:
            yield self.poll_once()
            polls += 1
            if max_polls is None or polls < max_polls:
                time.sleep(interval_sec)


def restore_interrupted_swap(
    ops: HdfsOps, store: str, aside: str | None = None
) -> bool:
    """If a prior :func:`staged_swap` of ``store`` was interrupted
    between its two renames (store missing, its staged-aside copy
    ``aside`` — default ``<store>__old`` — present), the staged-aside
    copy is authoritative — move it back. Returns True when a restore
    happened. Called by the outermost
    ``maintenance.acquire_store_lease`` on every path a store swaps, by
    ``upsert_parquet`` (which takes no lease) on its own path, and by
    the SCD2 writers for the closed subtree they swap inside the root,
    so whichever writer runs next after a crash finds the store whole."""
    aside = aside or store + "__old"
    if not ops.exists(store) and ops.exists(aside):
        if not ops.rename(aside, store):
            raise IOError(
                f"could not restore staged store {aside} after an "
                "interrupted swap"
            )
        return True
    return False


def staged_swap(spark: SparkSession, store: str, write_fn) -> None:
    """Crash-safe whole-store replacement — the ONE swap every store
    rewrite uses (the BM25, IVF, frontier and dedup-history compactors,
    the IVF reindex, ``upsert_parquet``'s full rewrite): a static
    overwrite of the store root would truncate before writing, so a
    crash mid-write loses the store. Instead:

    1. ``write_fn(tmp)`` builds the replacement at a fresh
       ``<store>__compacting`` (same filesystem → rename-able; a
       crashed attempt's half-built tree is deleted first); it may read
       the store freely.
    2. Swap: store → ``__old``, tmp → store (rolled back if the second
       rename fails), then drop ``__old``.

    At every crash point the store is either whole at ``store`` or
    whole at ``<store>__old`` with ``store`` missing. The caller must
    heal the second state before reading (:func:`restore_interrupted_swap`
    — the store lease does it on acquisition). Run OFFLINE relative to
    appenders — data landing in the store between write_fn's read and
    the swap is destroyed by it (the lease enforces this)."""
    tmp = store + "__compacting"
    ops = HdfsOps(spark)
    ops.delete(tmp, recursive=True)
    write_fn(tmp)
    ops.delete(store + "__old", recursive=True)
    if not ops.rename(store, store + "__old"):
        raise IOError(f"staged_swap: could not stage {store} aside")
    if not ops.rename(tmp, store):
        ops.rename(store + "__old", store)  # roll back
        raise IOError(f"staged_swap: could not swap in {tmp}")
    ops.delete(store + "__old", recursive=True)
