"""Layered benchmark for eel_spark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script generates the workload's inputs
from the seed under ``perfbench/.work`` (see ``gen.py``), starts one
Spark session on ``local[<nproc>]`` and drives it from one
single-threaded closed-loop client: every operation starts only after
the previous one returned. It times a cold pass, runs the workload's
warm-up passes, then a fixed number of steady passes (``--seconds`` over
the workload's nominal pass time, at least two), checks every output,
and prints one JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``);
with ``--trace 1`` the Spark event log is on and the metrics are the
per-layer numbers folded from it by ``eventlog.py`` (``PER_LAYER``).
Per-operation and per-pass detail goes to
``perfbench/out/<workload>-seed<n>-trace<t>.json``.

Workloads (``WORKLOADS`` holds their sizes):

* ``headline`` - five TPC-H slots and one retrieval slot on small tables,
  each written to the noop sink; bound by per-job scheduling and driver
  work. The seed permutes the query order of every pass after the cold
  one, and the cache is cleared before every query.
* ``store-ingest`` - the exactly-once IVF streaming sink drains seeded
  embedding waves, one file per trigger, into a fresh index with
  in-stream compaction (``maintain_every``), then one top-k read is
  served from the index; the only workload that writes.

Output check: a query's output is digested inside its timed write by a
Spark observation (an order-insensitive sum of a hash of each row's
string form), so no extra job runs. Every pass must reproduce the
committed digest (``digests.json``) for the default seed and the cold
pass's digest for any other seed, and no query may return zero rows
(the retrieval slot empties its output when its own gate fails). The
maintained index must serve the same top-k as ``ivf_topk`` recomputed
in one shot over all waves. Any mismatch, like any raised error, counts
as a failed operation.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1

WORKLOADS = {
    "headline": {
        "data": {"sf": 0.01, "n_docs": 500, "n_vecs": 500},
        "queries": [
            "q1_pricing_summary", "q3_shipping_priority",
            "q5_local_supplier_volume", "q6_forecast_revenue",
            "q18_large_volume_customers", "retrieval_rrf_fused",
        ],
        # the JIT keeps speeding passes up after the cold one
        "warmup_passes": 1,
        "nominal_pass_s": 4,
    },
    "store-ingest": {
        "waves": {"n_waves": 3, "vecs_per_wave": 500},
        "maintain_every": 2,
        "ivf": {"n_cells": 16, "iterations": 2, "k": 10, "n_probe": 4,
                "n_queries": 5},
        "setup_reps": 3,
        "warmup_passes": 0,
        "nominal_pass_s": 8,
    },
}

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "live_mem_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "queries.build_s": "s", "queries.build_jobs": "count",
    "driver.s": "s", "sched.jobs": "count", "sched.stages": "count",
    "sched.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.deser_s": "s", "exec.gc_s": "s", "exec.parallelism": "ratio",
    "shuffle.write_mb": "MB", "shuffle.fetch_wait_s": "s", "exec.spill_mb": "MB",
    "scan.read_mb": "MB", "plan.exchanges": "count", "plan.smj": "count",
    "plan.bhj": "count", "plan.scans": "count", "cache.mb": "MB",
    "stream.add_batch_s": "s", "stream.commit_s": "s",
    "stream.microbatch_p50_s": "s", "stream.microbatch_tail_s": "s",
    "stream.ingest_rows_per_s": "1/s", "store.maintain_batch_s": "s",
    "store.read_s": "s", "store.written_mb": "MB", "store.files": "count",
    "store.bytes_per_input_byte": "ratio", "trace.pass_s": "s",
}


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when that percentile would not lie
    above the median (fewer than 21 samples)."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows: the sorted string form
    of each row's ``column=value`` pairs, columns sorted by name."""
    lines = sorted("\x1f".join(f"{k}={v}" for k, v in sorted(r.asDict().items()))
                   for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class Bench:
    """One benchmark run: a session, the workload's inputs, and the
    record of every operation and pass. Subclasses define ``one_pass``
    and ``check``."""

    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        self.workload, self.trace, self.work = workload, trace, work
        self.cfg = WORKLOADS[workload]
        self.first_steady = 1 + self.cfg["warmup_passes"]
        self.rng = random.Random(seed)
        self.ops: list[dict] = []       # one record per attempted operation
        self.passes: list[dict] = []    # one record per pass
        self.windows: list = []         # (start_ms, end_ms, pass, label)
        self.untimed_s = 0.0            # measurement time inside the current pass

    # -- session -------------------------------------------------------
    def start(self) -> float:
        """Import the package and start its session; returns seconds."""
        t0 = time.perf_counter()
        from eel_spark.queries import QUERIES, UNGATED_QUERIES
        from eel_spark.session import get_session

        extra = {}
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_session("perfbench-" + self.workload, extra_conf=extra)
        self.sc = self.spark.sparkContext
        self.resolved = {**UNGATED_QUERIES, **QUERIES}
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM the session launched to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def live_mem_mb(self) -> float:
        """Memory the Spark driver holds: JVM heap in use after a full GC,
        plus JVM non-heap, plus this process's RSS. Peak RSS follows the
        JVM's heap-growth heuristics and differed by a third between runs
        on the same inputs; this does not."""
        t0 = time.perf_counter()
        jvm = self.spark._jvm
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        non_heap = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                    .getNonHeapMemoryUsage().getUsed())
        with open("/proc/self/status") as fh:
            rss_kb = next(int(x.split()[1]) for x in fh if x.startswith("VmRSS:"))
        mb = (rt.totalMemory() - rt.freeMemory() + non_heap) / 2**20 + rss_kb / 1024
        self.untimed_s += time.perf_counter() - t0
        return mb

    # -- operations ----------------------------------------------------
    def _tag(self, name: str, phase: str, pass_no: int) -> None:
        self.sc.setJobGroup(f"{self.workload}/{name}/{phase}", f"pass={pass_no}")

    def _op(self, pass_no: int, name: str, fn) -> dict:
        """Run one timed operation; ``fn`` returns a dict of extras."""
        rec = {"pass": pass_no, "op": name, "ok": True}
        lo = time.time() * 1000
        t0 = time.perf_counter()
        try:
            rec.update(fn())
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        rec["latency_s"] = time.perf_counter() - t0
        self.windows.append((lo, time.time() * 1000, pass_no,
                             f"{self.workload}/{name}/run"))
        if pass_no >= self.first_steady:
            rec["live_mem_mb"] = self.live_mem_mb()
        self.ops.append(rec)
        return rec

    def run_passes(self, seconds: float) -> None:
        """Cold pass, warm-up passes, then ``seconds`` over the nominal
        pass time steady passes (at least two). A fixed count keeps the
        sample count, and so the tail percentile, the same on every run
        and every commit. ``one_pass`` returns the pass record: the wall
        times of the pass's named ``segments`` and any extras; the record
        also gets the pass's wall time, less the memory measurements made
        inside it."""
        steady = max(2, round(seconds / self.cfg["nominal_pass_s"]))
        for n in range(self.first_steady + steady):
            args = self.prepare_pass(n)
            self.untimed_s = 0.0
            lo = time.time() * 1000
            t0 = time.perf_counter()
            rec = {"pass": n, **self.one_pass(n, *args)}
            rec.update(wall_s=time.perf_counter() - t0 - self.untimed_s,
                       lo_ms=lo, hi_ms=time.time() * 1000)
            self.passes.append(rec)

    def prepare_pass(self, pass_no: int) -> tuple:
        """Untimed set-up of one pass; returns extra ``one_pass`` args."""
        return ()

    def steady(self) -> list[dict]:
        return [p for p in self.passes if p["pass"] >= self.first_steady]

    def live_mem_peak(self) -> float:
        """The largest memory held after any one operation, taken per
        operation as its median over the steady passes."""
        per_op: dict[str, list[float]] = {}
        for r in self.ops:
            if "live_mem_mb" in r:
                per_op.setdefault(r["op"], []).append(r["live_mem_mb"])
        return max(statistics.median(v) for v in per_op.values())

    def pass_s(self) -> float:
        """The median steady pass, built per segment: the sum over the
        pass's segments of each one's median wall time across steady
        passes, so a burst of host contention that slows one segment of
        one pass moves one sample, not the total."""
        steady = self.steady()
        return sum(statistics.median(p["segments"][k] for p in steady)
                   for k in steady[0]["segments"])


class QueryBench(Bench):
    """Each pass runs every query of the workload once."""

    def _storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def run_query(self, pass_no: int, name: str) -> dict:
        """Build, then write to the noop sink with the digest observed."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        def go():
            self.spark.catalog.clearCache()
            self._tag(name, "build", pass_no)
            t0 = time.perf_counter()
            df = self.resolved[name](self.spark, self.data_dir)
            build = time.perf_counter() - t0
            row = F.concat_ws("\x1f", *[
                F.coalesce(F.col(f"`{c}`").cast("string"), F.lit("\x00"))
                for c in sorted(df.columns)
            ])
            obs = Observation(f"digest_{pass_no}_{name}")
            self._tag(name, "run", pass_no)
            df.observe(obs, F.count(F.lit(1)).alias("n"),
                       F.sum(F.xxhash64(row).cast("decimal(38,0)")).alias("h"),
                       ).write.format("noop").mode("overwrite").save()
            got = obs.get
            return {"build_s": build, "rows": got["n"], "digest": f"{got['n']}:{got['h']}",
                    "cache_mb": self._storage_mb()}

        return self._op(pass_no, name, go)

    def one_pass(self, pass_no: int) -> dict:
        # the cold pass keeps the listed order, so the one-time warm-up
        # costs the queries share fall the same way for every seed
        names = list(self.cfg["queries"])
        if pass_no > 0:
            self.rng.shuffle(names)
        return {"segments": {n: self.run_query(pass_no, n)["latency_s"] for n in names}}

    def check(self, committed: dict | None) -> None:
        """Mark an op failed when its output is empty or its digest
        disagrees with the reference: the committed digest for the
        default seed, else the cold pass's."""
        cold = {r["op"]: r.get("digest") for r in self.ops if r["pass"] == 0}
        for r in self.ops:
            if not r["ok"]:
                continue
            want = (committed or {}).get(r["op"]) or cold.get(r["op"])
            if r["rows"] == 0:
                r["ok"], r["error"] = False, "empty output"
            elif r["digest"] != want:
                r["ok"], r["error"] = False, f"digest {r['digest']} != {want}"


class StoreBench(Bench):
    """Each pass drains the embedding waves through the exactly-once IVF
    sink into a fresh index, then serves one top-k read from it."""

    def setup_index(self) -> float:
        """Train centroids on the first wave and freeze them into an IVF
        index, ``setup_reps`` times; returns the median seconds."""
        from eel_spark.operators import similarity as sim

        p = self.cfg["ivf"]
        wave0 = self.spark.read.parquet(os.path.join(self.wave_dir, "wave00.parquet"))
        times = []
        for rep in range(self.cfg["setup_reps"]):
            self._tag("ivf_setup", "run", 0)
            t0 = time.perf_counter()
            cents = sim.train_centroids(wave0, n_cells=p["n_cells"],
                                        iterations=p["iterations"])
            self.centroids = self.spark.createDataFrame(cents.collect(), cents.schema)
            sim.init_ivf_index(os.path.join(self.work, f"ivf_setup{rep}"), self.centroids)
            times.append(time.perf_counter() - t0)
        self.ivf_queries = wave0.filter(f"vec_id < {p['n_queries']}").select(
            wave0["vec_id"].alias("query_id"), "embedding").collect()
        return statistics.median(times)

    def _queries(self):
        return self.spark.createDataFrame(self.ivf_queries,
                                          "query_id BIGINT, embedding ARRAY<FLOAT>")

    def prepare_pass(self, pass_no: int) -> tuple:
        """A fresh index for the pass, initialised with the set-up's
        centroids (its jobs carry no pass tag, so no layer counts them)."""
        from eel_spark.operators import similarity as sim

        root = os.path.join(self.work, f"pass{pass_no}")
        self.sc.setJobGroup("prepare", "index init")
        sim.init_ivf_index(os.path.join(root, "ivf"), self.centroids)
        return (root,)

    def one_pass(self, pass_no: int, root: str) -> dict:
        from eel_spark.operators import similarity as sim
        from eel_spark.streaming import streaming_ivf_sink

        index = os.path.join(root, "ivf")
        p = self.cfg["ivf"]
        stream = (self.spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
                  .option("maxFilesPerTrigger", 1).parquet(self.wave_dir))
        drain_s = self._drain(pass_no, "streaming_ivf_sink", lambda: streaming_ivf_sink(
            stream, index, os.path.join(root, "checkpoint"),
            maintain_every=self.cfg["maintain_every"]))
        read = self._op(pass_no, "ivf_topk_against_index", lambda: self._read(
            pass_no, "ivf_topk_against_index", lambda: sim.ivf_topk_against_index(
                self.spark, index, self._queries(), k=p["k"], n_probe=p["n_probe"])))
        files = [os.path.join(d, f) for d, _, fs in os.walk(index) for f in fs]
        return {"segments": {"streaming_ivf_sink": drain_s,
                             "ivf_topk_against_index": read["latency_s"]},
                "store_bytes": sum(os.path.getsize(f) for f in files),
                "store_files": len(files)}

    def _drain(self, pass_no: int, name: str, start) -> float:
        """Drain one streaming query to completion; each micro-batch is
        one operation (a failed drain is one failed operation). Returns
        the drain's wall seconds."""
        self._tag(name, "run", pass_no)
        lo = time.time() * 1000
        t0 = time.perf_counter()
        q = None
        try:
            q = start()
            if not q.awaitTermination(170):
                raise TimeoutError("stream did not drain within 170 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()).splitlines()[0][:300])
            progress = [pr if isinstance(pr, dict) else json.loads(pr.json)
                        for pr in q.recentProgress]
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            self.ops.append({"pass": pass_no, "op": name, "ok": False,
                             "latency_s": time.perf_counter() - t0,
                             "error": f"{type(e).__name__}: {str(e)[:300]}"})
            return time.perf_counter() - t0
        finally:
            if q is not None and q.isActive:
                q.stop()
            self.windows.append((lo, time.time() * 1000, pass_no,
                                 f"{self.workload}/{name}/run"))
        every = self.cfg["maintain_every"]
        for pr in progress:
            if not pr.get("numInputRows"):
                continue
            dur, b = pr.get("durationMs", {}), pr["batchId"]
            self.ops.append({
                "pass": pass_no, "op": name, "ok": True, "batch": b,
                "latency_s": dur.get("triggerExecution", 0) / 1000,
                "add_batch_s": dur.get("addBatch", 0) / 1000,
                "commit_s": dur.get("commitOffsets", 0) / 1000,
                "maintain": b > 0 and b % every == 0, "rows": pr["numInputRows"],
            })
        wall = time.perf_counter() - t0
        if pass_no >= self.first_steady and progress:
            self.ops[-1]["live_mem_mb"] = self.live_mem_mb()
        return wall

    def _read(self, pass_no: int, name: str, build) -> dict:
        self._tag(name, "build", pass_no)
        t0 = time.perf_counter()
        df = build()
        b = time.perf_counter() - t0
        self.read_cols = df.columns
        self._tag(name, "run", pass_no)
        rows = df.collect()
        return {"build_s": b, "read": True, "rows": len(rows), "digest": rows_digest(rows)}

    def check(self, committed: dict | None) -> None:
        """Mark a read failed unless it equals ``ivf_topk`` recomputed in
        one shot over the union of all waves (untimed, after the passes)
        and, for the default seed, the committed digest."""
        from eel_spark.operators import similarity as sim

        if not hasattr(self, "read_cols"):
            return      # no read succeeded: every one is already a failed op
        p = self.cfg["ivf"]
        self.sc.setJobGroup("check", "one-shot recompute")
        one_shot = sim.ivf_topk(self.spark.read.parquet(self.wave_dir), self._queries(),
                                self.centroids, k=p["k"], n_probe=p["n_probe"])
        ref = rows_digest(one_shot.select(*self.read_cols).collect())
        want = {ref, (committed or {}).get("ivf_topk_against_index", ref)}
        for r in self.ops:
            if r.get("read") and r["ok"] and want != {r["digest"]}:
                r["ok"], r["error"] = False, f"digest {r['digest']} != {sorted(want)}"


# ---------------------------------------------------------------------------
def layer_metrics(bench: Bench, eventlog, session_s: float, in_bytes: int) -> dict:
    """Per-layer numbers: medians over the steady passes of per-pass sums."""
    folded = eventlog.fold(bench.event_dir, bench.windows)
    per_pass = []
    for p in bench.steady():
        n = p["pass"]
        row = dict.fromkeys(PER_LAYER, 0.0)
        for (pn, _label), g in folded["groups"].items():
            if pn == n:
                for k, v in g.items():
                    row[k] += v
        busy_s = eventlog.union_ms(folded["stage_spans"].get(n, []),
                                   p["lo_ms"], p["hi_ms"]) / 1000
        ops = [r for r in bench.ops if r["pass"] == n]
        batches = [r for r in ops if "batch" in r]
        row.update({
            "driver.s": p["wall_s"] - busy_s,
            "exec.parallelism": row["exec.run_s"] / busy_s if busy_s else 0.0,
            "queries.build_s": sum(r.get("build_s", 0.0) for r in ops),
            "cache.mb": sum(r.get("cache_mb", 0.0) for r in ops),
            "stream.add_batch_s": sum(r["add_batch_s"] for r in batches if not r["maintain"]),
            "stream.commit_s": sum(r["commit_s"] for r in batches),
            "store.maintain_batch_s": sum(r["add_batch_s"] for r in batches if r["maintain"]),
            "store.read_s": sum(r["latency_s"] for r in ops if r.get("read")),
            "store.written_mb": p.get("store_bytes", 0) / 2**20,
            "store.files": p.get("store_files", 0),
        })
        if batches:
            lat = [r["latency_s"] for r in batches]
            row.update({
                "stream.microbatch_p50_s": statistics.median(lat),
                "stream.microbatch_tail_s": tail(lat)[1],
                "stream.ingest_rows_per_s": sum(r["rows"] for r in batches) / sum(lat),
                "store.bytes_per_input_byte": p["store_bytes"] / in_bytes,
            })
        per_pass.append(row)
    out = {k: statistics.median(r[k] for r in per_pass) for k in PER_LAYER}
    out["session.start_s"] = session_s
    out["trace.pass_s"] = bench.pass_s()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "eel_spark")):
        print(f"eel_spark package not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import eventlog
    import gen

    cpus = str(len(os.sched_getaffinity(0)))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's shuffle files, the Avro table copies, JVM and Python temp
    # files all stay inside the work directory
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None
    try:
        return run(args, work, int(cpus), eventlog, gen)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, cpus: int, eventlog, gen) -> int:
    store = args.workload == "store-ingest"
    bench = (StoreBench if store else QueryBench)(
        args.workload, args.seed, bool(args.trace), work)
    t0 = time.perf_counter()
    if store:
        bench.wave_dir = os.path.join(work, "waves")
        inputs = gen.waves(args.seed, bench.wave_dir, **bench.cfg["waves"])
    else:
        bench.data_dir = os.path.join(work, "data")
        inputs = gen.dataset(args.seed, bench.data_dir, **bench.cfg["data"])
    phases = {"generate": time.perf_counter() - t0}
    with open(os.path.join(HERE, "digests.json")) as fh:
        committed = json.load(fh).get(args.workload) if args.seed == DEFAULT_SEED else None

    def phase(name: str) -> None:
        nonlocal t0
        now = time.perf_counter()
        phases[name] = now - t0
        t0 = now

    t0 = time.perf_counter()
    setup_s = session_s = bench.start()
    try:
        if store:
            setup_s += bench.setup_index()
        phase("setup")
        bench.run_passes(args.seconds)
        phase("passes")
        bench.check(committed)
        phase("check")
        conf = {"spark_version": bench.spark.version,
                "shuffle_partitions": bench.spark.conf.get("spark.sql.shuffle.partitions")}
    finally:
        bench.stop()
        phase("stop")

    lat = [r["latency_s"] for r in bench.ops if r["pass"] >= bench.first_steady and r["ok"]]
    tail_pct, tail_s = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": bench.passes[0]["wall_s"],
        "pass_s": bench.pass_s(),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "live_mem_mb": bench.live_mem_peak(),
    }
    in_bytes = sum(t["bytes"] for t in inputs.values())
    layers = layer_metrics(bench, eventlog, session_s, in_bytes) if args.trace else {}
    failed = sum(not r["ok"] for r in bench.ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, **conf,
        "inputs": inputs, "input_bytes": in_bytes,
        "planted_near_dup_share": gen.PLANTED_NEAR_DUP,
        "planted_exact_dup_share": gen.PLANTED_EXACT_DUP,
        "phase_s": phases, "end_to_end": e2e, "per_layer": layers,
        "op_tail_percentile": tail_pct, "op_samples": len(lat),
        "error_rate": failed / len(bench.ops),
        "passes": bench.passes, "ops": bench.ops,
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    units, values = (PER_LAYER, layers) if args.trace else (END_TO_END, e2e)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(bench.ops), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
