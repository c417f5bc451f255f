"""The benchmark's workloads, driven through the engine's public API only.

Each workload is a single client in a closed loop: the next operation is
issued when the previous one returns.  ``setup`` generates the inputs and
builds the workload's tables from scratch in a fresh directory;
``warm_up`` runs untimed operations of every kind; ``round`` issues one
fixed sequence of operations (the loop repeats whole rounds, so every run
has the same mix); ``finish`` runs the end-of-run checks.  Every operation
goes through ``Run.op``, which times it, opens the layer spans when
tracing, and afterwards (untimed) checks the result against the
generator's model and records residue.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from dbt_scd2_utils_spark import (
    ScdConfig,
    ScdTable,
    incremental_source,
    scd2_diff,
    scd2_incremental,
    scd2_incremental_adaptive,
    scd2_initial_load,
    scd2_join,
    snapshot_at,
)
from dbt_scd2_utils_spark.operators.invariants import scd2_invariant_suite
from dbt_scd2_utils_spark.streaming.scd2_stream import Scd2BucketedSink

from gen import DAY, EPOCH0, US, Generator, spark_schema, us_to_iso

CFG = ScdConfig(unique_key=("id",), deleted_at_column="deleted_at")


class OracleError(AssertionError):
    """A result disagreed with the generator's model."""


def expect(what: str, got, want) -> None:
    if got != want:
        raise OracleError(f"{what}: got {got!r}, expected {want!r}")


def tree_files(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) for every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def read_manifest(path: str) -> dict:
    try:
        with open(os.path.join(path, "_scd_manifest.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def stale_dirs(path: str) -> int:
    """Leftover writer directories under a table: private stage dirs and
    generation dirs above the committed generation, plus the swap dirs of
    the full-rewrite path."""
    gen = read_manifest(path).get("gen")
    n = 0
    for name in os.listdir(path) if os.path.isdir(path) else ():
        if name.startswith("_stage-"):
            n += 1
        elif name.startswith("_gen-") and isinstance(gen, int):
            n += int(name[len("_gen-"):]) > gen
    for suffix in ("__tmp", "__old"):
        n += os.path.exists(path + suffix)
    return n


# JVM threads that are not the engine's: the JIT compilers and the garbage
# collector.  How much they run in a short-lived JVM depends on when the
# JIT reaches which method, which varies from run to run.
JVM_RUNTIME_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread",
                       "G1 ", "VM Thread")


class EngineCpu:
    """CPU time the engine's own threads use: this Python process plus
    every driver-JVM thread except the JIT compilers and the garbage
    collector.  Thread CPU time (``schedstat``, in ns) leaves out the time
    a thread waited for a CPU, and on a virtual machine with steal-time
    accounting also the time the host ran another guest on our vCPU."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid

    def snapshot(self) -> dict:
        """thread id -> CPU ns of every engine thread alive now."""
        snap = {"py": time.process_time_ns()}
        if self.jvm_pid is None:
            return snap
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as f:
                    if f.read().startswith(JVM_RUNTIME_THREADS):
                        continue
                with open(f"{task}/{tid}/schedstat") as f:
                    snap[tid] = int(f.read().split()[0])
            except OSError:  # the thread exited
                continue
        return snap

    @staticmethod
    def between(before: dict, after: dict) -> float:
        """CPU seconds between two snapshots.  A thread that started in
        between counts from 0; one that exited in between is lost, which
        the engine's pooled threads rarely do."""
        return sum(v - before.get(k, 0) for k, v in after.items()) / 1e9


def force(df) -> int:
    """Run ``df`` to completion through the noop sink (every column is
    produced, nothing is pruned) and return its row count, observed in the
    same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get["rows"]


class Run:
    """State shared by one run: session, tracer, operation log."""

    def __init__(self, spark, tracer, work: str, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.trace = trace
        self.schema = spark_schema()
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.residue: list[dict] = []
        self.tables: list[str] = []
        self.measuring = False  # setup and warm-up operations are not logged
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        self.cpu = EngineCpu(jvm.pid if jvm is not None else None)

    def span(self, name: str):
        return self.tracer.span(name)

    def op(self, kind: str, fn, check=None, merge_rows: int = 0,
           input_bytes: int = 0, written: list[str] = ()) -> dict:
        """Issue one operation.  ``fn(rec)`` does the timed work and may
        note per-layer facts in ``rec``; ``check(rec, result)`` verifies the
        result against the model, untimed.  ``merge_rows``/``input_bytes``
        size the batch a write operation merges; ``written`` names the
        table directories whose written bytes it is charged for."""
        traced = self.trace and self.measuring
        self.tracer.enabled = traced
        rec = {"kind": kind, "traced": traced, "merge_rows": merge_rows,
               "input_bytes": input_bytes}
        before = {p: tree_files(p) for p in written}
        err = None
        c0 = self.cpu.snapshot()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op=len(self.ops)):
                result = fn(rec)
        except Exception as exc:  # an engine failure is a failed operation
            err = f"{kind}: {type(exc).__name__}: {exc}"
            result = None
        rec["t"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu.between(c0, self.cpu.snapshot())
        self.tracer.enabled = False
        if err is None and check is not None:
            try:
                check(rec, result)
            except Exception as exc:
                err = f"{kind} oracle: {type(exc).__name__}: {exc}"
        rec["failed"] = err is not None
        if written:
            new = 0
            files = 0
            for p in written:
                after = tree_files(p)
                changed = [k for k, v in after.items() if before[p].get(k) != v]
                new += sum(after[k][0] for k in changed)
                files += sum(1 for k in changed if k.endswith(".parquet"))
            rec["bytes_written"] = new
            rec["files_written"] = files
        if self.measuring:
            self.ops.append(rec)
            if err is not None:
                self.failures.append(err)
            self.residue.append({
                "cached_rdds": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
                "stale_dirs": sum(stale_dirs(p) for p in self.tables),
            })
        elif err is not None:
            raise RuntimeError(f"setup operation failed: {err}")
        return rec

    def table_mb(self) -> float:
        return sum(
            sum(v[0] for v in tree_files(p).values()) for p in self.tables
        ) / 1e6

    def traced_merge(self, fn):
        """Wrap a merge strategy so the ``merge_fn`` seam gets a span."""

        def merge(target, batch, cfg):
            with self.span("scd2.merge_fn"):
                return fn(target, batch, cfg)

        return merge

    def read_batch(self, path: str):
        return self.spark.read.schema(self.schema).parquet(path)

    def check_current(self, table_df, model, keys) -> None:
        """Current rows of ``keys`` and the table-wide counts against the
        model, in one Spark job."""
        keys = sorted(set(int(k) for k in keys))
        row = F.struct("id", "name", "amount", "v",
                       F.col("deleted_at").isNotNull().alias("deleted"))
        agg = table_df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_is_current").cast("int")).alias("current"),
            F.sum(
                (F.col("_is_current") & (F.col("_change_type") == "D")).cast("int")
            ).alias("deleted"),
            F.countDistinct("id").alias("keys"),
            F.collect_list(
                F.when(F.col("_is_current") & F.col("id").isin(keys), row)
            ).alias("batch_current"),
        ).first()
        got = {r.id: (r.name, r.amount, r.v, r.deleted) for r in agg.batch_current}
        want = {k: model.current[k][1:] for k in keys}
        expect("current rows of batch keys", got, want)
        expect(
            "table counts (rows, current, deleted current, keys)",
            (agg.rows, agg.current, agg.deleted, agg["keys"]),
            (model.rows, len(model.current), model.deleted_keys(),
             len(model.versions)),
        )


class NightlyBuild:
    """One cycle is one dbt-style ``build`` of a model: the generator
    appends a parquet file to a raw change log, ``incremental_source``
    applies the watermark, an unbucketed ``ScdTable.build`` merges, and
    ``scd2_invariant_suite`` tests the result.  A round is two cycles."""

    name = "nightly_build"
    N_KEYS = 8_000
    BATCH_ROWS = 160  # 2% of keys
    CYCLES_PER_ROUND = 2
    SHARES = dict(dup_share=0.03, late_share=0.05, delete_share=0.03,
                  new_key_share=0.03)

    def __init__(self, run: Run, seed: int):
        self.run = run
        self.seed = seed

    def setup(self, tag: str) -> None:
        run = self.run
        base = os.path.join(run.work, tag)
        self.raw = os.path.join(base, "raw")
        self.path = os.path.join(base, "dim")
        os.makedirs(self.raw)
        run.tables = [self.path]
        self.gen = Generator(self.seed, self.N_KEYS)
        init = self.gen.initial((1, 3))
        self.sizes = {"initial_rows": init.rows,
                      "initial_mb": init.write(self._raw_file(0)) / 1e6}
        self.table = ScdTable(run.spark, self.path, CFG,
                              merge_fn=run.traced_merge(scd2_incremental))
        self.table.build(run.read_batch(self.raw))
        self.day = 0

    def warm_up(self) -> None:
        self.cycle()

    def round(self) -> None:
        for _ in range(self.CYCLES_PER_ROUND):
            self.cycle()

    def _raw_file(self, day: int) -> str:
        return os.path.join(self.raw, f"part-{day:05d}.parquet")

    def cycle(self) -> None:
        run = self.run
        self.day += 1
        batch = self.gen.batch(self.day, self.BATCH_ROWS, **self.SHARES)
        nbytes = batch.write(self._raw_file(self.day))
        model = self.gen.model

        def cycle(rec):
            with run.span("sources.incremental_source"):
                t0 = time.perf_counter()
                src = run.spark.read.schema(run.schema).parquet(self.raw)
                inc = incremental_source(src, self.table.read(),
                                         loaded_at_col="_loaded_at")
                rec["source_s"] = time.perf_counter() - t0
            with run.span("build.build"):
                c0 = run.cpu.snapshot()
                t0 = time.perf_counter()
                self.table.build(inc)
                rec["merge_s"] = time.perf_counter() - t0
                rec["merge_cpu_s"] = run.cpu.between(c0, run.cpu.snapshot())
            with run.span("invariants.suite"):
                t0 = time.perf_counter()
                suite = scd2_invariant_suite(self.table.read(), CFG)
                failures = {k: v.count() for k, v in suite.items()}
                rec["dq_s"] = time.perf_counter() - t0
            rec["dq_failures"] = sum(failures.values())
            rec["phases"] = dict(self.table.last_phase_times)
            return failures

        def check(rec, failures):
            bad = {k: n for k, n in failures.items() if n}
            expect("invariant violations", bad, {})
            run.check_current(self.table.read(), model, batch.cols["id"])

        rec = run.op("build_cycle", cycle, check, merge_rows=batch.rows,
                     input_bytes=nbytes, written=[self.path])
        rec["props"] = batch.props
        rec["versions_added"] = batch.added
        rec["buckets_touched_share"] = 1.0  # the full-rewrite path
        rec["rows_rewritten"] = model.rows
        files = [f for f in os.listdir(self.raw) if f.endswith(".parquet")]
        rec["source_rows_scanned"] = _rows_admitted(
            [os.path.join(self.raw, f) for f in files],
            EPOCH0 + self.day * DAY - US,  # the previous batch's _loaded_at
        )

    def finish(self) -> None:
        """The reference's incremental == full-refresh claim: a fresh
        ``scd2_initial_load`` over every batch equals the merged table."""
        run = self.run

        def compare(rec):
            full = scd2_initial_load(run.read_batch(self.raw), CFG)
            merged = self.table.read().select(*full.columns)
            return (full.exceptAll(merged).count(),
                    merged.exceptAll(full).count())

        def check(rec, diff):
            expect("rows differing between incremental and full refresh",
                   diff, (0, 0))

        run.op("refresh_equivalence", compare, check)
        self.sizes["final_rows"] = self.gen.model.rows


def _rows_admitted(files: list[str], watermark_us: int) -> int:
    """Rows in row groups whose ``_loaded_at`` statistics admit the
    watermark predicate — what a scan with the pushed-down filter must
    decode."""
    import pyarrow.parquet as pq

    n = 0
    for path in files:
        md = pq.ParquetFile(path).metadata
        col = md.schema.names.index("_loaded_at")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            hi = st.max if st is not None and st.has_min_max else None
            if hi is None or _ts_us(hi) > watermark_us:
                n += md.row_group(g).num_rows
    return n


def _ts_us(v) -> int:
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(round(v.timestamp() * 1_000_000))
    return int(v)


class HistoryReads:
    """A closed-loop read mix against two bucketed dimensions with deep
    history, while dimension A takes a hot-key micro-batch stream.

    Writes arrive as a streaming deployment produces them: each epoch is a
    parquet file handed to ``Scd2BucketedSink.foreach_batch`` with the
    skew-adaptive merge (``scd2_incremental_adaptive`` at its default
    threshold).  Half of an epoch's rows fall on a few hot keys whose
    histories grow through the run.  Each epoch is re-delivered once, half
    a round later, to exercise the exactly-once gate."""

    name = "history_reads"
    N_KEYS_A = 6_000
    N_KEYS_B = 3_000
    VERSIONS = (2, 5)
    BUCKETS_A = 8
    BUCKETS_B = 4
    RETAIN = 3
    N_HOT = 4
    HOT_VERSIONS = 200
    EPOCH_ROWS = 200
    EPOCH_KEYS = 48
    HOT_SHARE = 0.5
    LOOKUP_KEYS = 50
    # One round: an epoch, then these reads with the epoch's replay half-way.
    MIX = ("lookup", "snapshot", "time_travel", "lookup", "join", "diff",
           "lookup")

    def __init__(self, run: Run, seed: int):
        self.run = run
        self.seed = seed

    def setup(self, tag: str) -> None:
        run = self.run
        base = os.path.join(run.work, tag)
        self.inbox = os.path.join(base, "inbox")
        os.makedirs(self.inbox)
        self.paths = [os.path.join(base, "dim_a"), os.path.join(base, "dim_b")]
        run.tables = list(self.paths)
        self.gens = [Generator(self.seed, self.N_KEYS_A, n_hot=self.N_HOT),
                     Generator(self.seed + 1_000_003, self.N_KEYS_B)]
        self.route_log: list = []
        merge = functools.partial(scd2_incremental_adaptive,
                                  route_log=self.route_log)
        self.sink = Scd2BucketedSink(
            run.spark, self.paths[0], CFG, partition_buckets=self.BUCKETS_A,
            retain_generations=self.RETAIN, merge_fn=run.traced_merge(merge),
        )
        self._count_builds(self.sink.table)
        self.B = ScdTable(run.spark, self.paths[1], CFG,
                          partition_buckets=self.BUCKETS_B)
        init_a = self.gens[0].initial(self.VERSIONS, hot_versions=self.HOT_VERSIONS)
        init_b = self.gens[1].initial(self.VERSIONS)
        self.sizes = {"initial_rows_a": init_a.rows, "initial_rows_b": init_b.rows}
        self.epoch = 0
        path_a = os.path.join(self.inbox, "initial-a.parquet")
        path_b = os.path.join(self.inbox, "initial-b.parquet")
        init_a.write(path_a)
        init_b.write(path_b)
        self.sink.foreach_batch(run.read_batch(path_a), 0)
        self.B.build(run.read_batch(path_b))
        self.commits = [(time.time(), self.gens[0].model.rows)]
        self.day = 0
        self._join_expect = None

    def _count_builds(self, table) -> None:
        """Count (and span) the sink's calls into ``ScdTable.build``: more
        calls than deliveries are conflict retries."""
        self.build_calls = 0
        inner = table.build

        def build(*args, **kwargs):
            self.build_calls += 1
            with self.run.span("build.build"):
                return inner(*args, **kwargs)

        table.build = build

    def warm_up(self) -> None:
        self._deliver(self._new_epoch())
        for kind in dict.fromkeys(self.MIX):
            self.read(kind)

    def round(self) -> None:
        epoch = self._new_epoch()
        self._deliver(epoch)
        half = len(self.MIX) // 2
        for kind in self.MIX[:half]:
            self.read(kind)
        self._deliver(epoch, replay=True)
        for kind in self.MIX[half:]:
            self.read(kind)

    def _new_epoch(self):
        self.epoch += 1
        self.day += 1
        batch = self.gens[0].batch(
            self.day, self.EPOCH_ROWS, hot_share=self.HOT_SHARE, dup_share=0.02,
            late_share=0.05, delete_share=0.02, new_key_share=0.02,
            key_count=self.EPOCH_KEYS,
        )
        path = os.path.join(self.inbox, f"epoch-{self.epoch:05d}.parquet")
        return self.epoch, batch, path, batch.write(path)

    def _deliver(self, epoch_info, replay: bool = False) -> None:
        run = self.run
        epoch, batch, path, nbytes = epoch_info
        df = run.read_batch(path)
        before = read_manifest(self.paths[0])
        routes_before = len(self.route_log)
        calls_before = self.build_calls
        model = self.gens[0].model

        def deliver(rec):
            with run.span("streaming.foreach_batch"):
                self.sink.foreach_batch(df, epoch)
            rec["phases"] = dict(self.sink.table.last_phase_times)

        def check(rec, _):
            after = read_manifest(self.paths[0])
            if replay:
                # the gate must leave the committed table untouched
                expect(f"generation after re-delivering epoch {epoch}",
                       after.get("gen"), before.get("gen"))
            else:
                run.check_current(self.sink.read(), model, batch.cols["id"])

        rec = run.op("foreach_batch", deliver, check,
                     merge_rows=0 if replay else batch.rows,
                     input_bytes=0 if replay else nbytes,
                     written=[self.paths[0]])
        after = read_manifest(self.paths[0])
        rec["replay"] = replay
        rec["conflict_retries"] = self.build_calls - calls_before - 1
        rec["routes"] = self.route_log[routes_before:]
        if replay:
            rec["replay_skipped"] = after.get("gen") == before.get("gen")
            rec["phases"] = {}
            return
        self.commits.append((time.time(), model.rows))
        self._join_expect = None
        touched = [b for b, e in after.get("buckets", {}).items()
                   if before.get("buckets", {}).get(b) != e]
        rec["props"] = batch.props
        rec["versions_added"] = batch.added
        rec["buckets_touched_share"] = len(touched) / self.BUCKETS_A
        rec["rows_rewritten"] = sum(after["buckets"][b].get("rows", 0) for b in touched)

    def _instant(self) -> int:
        """A business-time instant between the oldest history and now."""
        lo = EPOCH0 - 30 * DAY
        hi = EPOCH0 + (self.day + 1) * DAY
        return int(self.gens[0].rng.integers(lo, hi))

    def read(self, kind: str) -> None:
        run = self.run
        A, B = self.sink.table, self.B
        model = self.gens[0].model

        if kind == "lookup":
            keys = self.gens[0].keys(self.LOOKUP_KEYS)
            kdf = run.spark.createDataFrame([(k,) for k in keys], "id long")

            def fn(rec):
                with run.span("build.read_keys"):
                    t0 = time.perf_counter()
                    df = A.read_keys(kdf)
                    rec["read_plan_s"] = time.perf_counter() - t0
                    rows = df.collect()
                if rec["traced"]:
                    rec["files_scanned"] = len(df.inputFiles())
                return rows

            def check(rec, rows):
                rec["rows_out"] = len(rows)
                per_key = {}
                for r in rows:
                    per_key.setdefault(r.id, []).append(r)
                expect("looked-up keys", sorted(per_key), keys)
                for k in keys:
                    vs = per_key[k]
                    expect(f"versions of key {k}", len(vs), len(model.versions[k]))
                    cur = [(r.name, r.amount, r.v, r.deleted_at is not None)
                           for r in vs if r._is_current]
                    expect(f"current row of key {k}", cur, [model.current[k][1:]])

        elif kind == "snapshot":
            t_us = self._instant()

            def fn(rec):
                with run.span("temporal_join.snapshot_at"):
                    return force(snapshot_at(A.read(), us_to_iso(t_us)))

            def check(rec, n):
                rec["rows_out"] = n
                expect("snapshot_at rows", n, model.snapshot_count(t_us))

        elif kind == "time_travel":
            recent = self.commits[-self.RETAIN:]
            ts, rows = recent[int(self.gens[0].rng.integers(0, len(recent)))]

            def fn(rec):
                with run.span("build.read_at_timestamp"):
                    t0 = time.perf_counter()
                    df = A.read_at_timestamp(ts)
                    rec["read_plan_s"] = time.perf_counter() - t0
                    return force(df)

            def check(rec, n):
                rec["rows_out"] = n
                expect("time-travel rows", n, rows)

        elif kind == "join":
            if self._join_expect is None:
                self._join_expect = model.joined_windows(self.gens[1].model)
            want = self._join_expect

            def fn(rec):
                with run.span("temporal_join.join"):
                    return force(scd2_join([A.read(), B.read()], ["id"]))

            def check(rec, n):
                rec["rows_out"] = n
                expect("scd2_join rows", n, want)

        elif kind == "diff":
            t1, t2 = sorted((self._instant(), self._instant()))

            def fn(rec):
                with run.span("temporal_join.diff"):
                    return force(scd2_diff(A.read(), us_to_iso(t1),
                                           us_to_iso(t2), ["id"]))

            def check(rec, n):
                rec["rows_out"] = n
                expect("scd2_diff rows", n, model.diff_count(t1, t2))

        else:
            raise ValueError(kind)
        run.op(kind, fn, check)

    def finish(self) -> None:
        self.sizes["final_rows_a"] = self.gens[0].model.rows
        self.sizes["final_rows_b"] = self.gens[1].model.rows


WORKLOADS = {w.name: w for w in (NightlyBuild, HistoryReads)}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
