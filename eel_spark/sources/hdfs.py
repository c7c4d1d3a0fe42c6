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

    def _glob(self, pattern: str, project) -> list[dict]:
        statuses = self._fs(pattern).globStatus(self._path(pattern))
        return [project(s) for s in statuses or []]

    def list_status(self, pattern: str) -> list[dict]:
        """Glob-expand ``pattern`` and return one layout dict per match
        (FilePattern.scala globbing): ``path``, ``name``, ``length``,
        ``is_dir`` and ``modification_time``.

        Ownership is not read: the store code that lists here (commit
        reaps, compaction reports, torn-attempt probes, SCD2 history)
        needs only the layout, and Hadoop's local FileSystem without its
        native library loads owner, group and permission per entry by
        running ``stat`` in a subprocess (16 directories: about 13 ms
        for the layout, 86 ms with ownership). :class:`HdfsSource` and
        :class:`HdfsWatcher` keep HdfsSource.scala's full status surface
        (``_LISTING_SCHEMA``)."""
        return self._glob(pattern, _layout)


def _layout(s) -> dict:
    p = s.getPath()
    return {
        "path": p.toString(),
        "name": p.getName(),
        "length": int(s.getLen()),
        "is_dir": bool(s.isDirectory()),
        "modification_time": int(s.getModificationTime()),
    }


def _full_status(s) -> dict:
    return {
        **_layout(s),
        "owner": s.getOwner(),
        "group": s.getGroup(),
        "permission": str(s.getPermission()),
        "replication": int(s.getReplication()),
        "block_size": int(s.getBlockSize()),
    }


@dataclass
class HdfsSource(Source):
    """HdfsSource.scala:1 — the file LISTING as a DataStream (path, size,
    times, ownership, permission). Use a format source to read contents."""

    pattern: str

    def to_datastream(self, spark: SparkSession) -> DataStream:
        rows = HdfsOps(spark)._glob(self.pattern, _full_status)
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
            s for s in self.ops._glob(self.pattern, _full_status)
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

