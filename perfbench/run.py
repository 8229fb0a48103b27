#!/usr/bin/env python3
"""CDC lakehouse benchmark: landed Datastream CDC batches applied to an
engine table, then read back the way a new reader would.

    python3 perfbench/run.py --workload cdc_cow_merge --seed 1 \
        --seconds 15 --trace 0

Workloads (see perfbench/README.md for sizes, mix and the layer map):

* ``cdc_cow_merge``  — SQL ``MERGE INTO`` a copy-on-write table;
* ``cdc_mor_upsert`` — ``LakehouseTable.upsert`` into a merge-on-read
  table, each commit followed by an ``_rt`` read, compaction every
  10th commit.

Every result is checked against a plain-Python oracle. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The line before it stamps the host (steal %, load,
cores). Any oracle mismatch makes the exit code 1. Run from the root of
a checkout; all scratch state goes to ``.perfbench_work/`` there.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: sizes shared by both workloads
N_BASE = 200_000
BATCH_ROWS = 2_000
#: base-table builds per run; setup_s is their median
SETUP_REPEATS = 2

WORKLOADS = {
    "cdc_cow_merge": {
        "table_type": "cow",
        "delete_frac": 0.05,
        # MERGE costs several seconds a batch: a fixed number of timed
        # batches, then query samples until the run's seconds are spent
        "commits": 2,
        "compact_every": 0,
        "fill_kinds": ("read", "range", "lookup"),
    },
    "cdc_mor_upsert": {
        "table_type": "mor",
        "delete_frac": 0.0,
        # one whole compaction cycle with an _rt read after every commit:
        # read cost rises with outstanding logs
        "commits": 10,
        "compact_every": 10,
        # read samples come only from the cycle: a read after compaction
        # has no logs to merge and would dilute them
        "fill_kinds": ("range", "lookup"),
    },
}

MERGE_SQL = """
MERGE INTO lake t USING cdc_batch s
ON t.pk_id = s.pk_id AND t.day = s.day
WHEN MATCHED AND s.op = 'DELETE' THEN DELETE
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED AND s.op <> 'DELETE' THEN INSERT *
"""

QUERY_KINDS = ("read", "range", "lookup")
#: the query-only part of a run takes each kind at least this often
MIN_QUERY_SAMPLES = 2
#: range reads or lookups per range or lookup sample
QUERY_REPEATS = 3


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_stamp(cpu_before: list[int]) -> dict:
    delta = [b - a for a, b in zip(cpu_before, cpu_times())]
    total = sum(delta) or 1
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {
        "steal_pct": 100.0 * (delta[7] if len(delta) > 7 else 0) / total,
        "load_1m": load1,
        "cores": os.cpu_count() or 0,
    }


class Bench:
    """One workload run: set-up, warm-up, timed phase, final check."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 n_base: int = N_BASE, batch_rows: int = BATCH_ROWS,
                 work: str = WORK):
        from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
        from hudi_and_delta_showcase_spark.operators.cdc import envelope_schema

        self.spark = None
        self.tracer = None
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.n_base = n_base
        self.batch_rows = batch_rows
        self.work = work
        self.envelope = envelope_schema(gen.payload_type())
        self.avro_schema = spark_schema_to_avro(self.envelope, "envelope")
        self.qrng = random.Random(seed * 7919 + 1)
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("commit", "compact", *QUERY_KINDS)
        }
        self.attempted = 0
        self.failed = 0
        self.n_batches = 0
        self.timed_rows = 0
        self.timed_landed_bytes = 0
        self.setup_times: list[float] = []
        self.extra: dict[str, float] = {}
        self.timed_from = 0  # index of the first span of the timed phase
        self.phases: dict[str, float] = {}

    # ----------------------------------------------------------- helpers

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"oracle mismatch: {what}", file=sys.stderr)

    def guarded(self, what: str, fn, *args) -> bool:
        """Run one operation; an exception counts as a failed one."""
        try:
            fn(*args)
            return True
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.attempted += 1
            self.failed += 1
            print(f"operation failed: {what}: {exc!r}", file=sys.stderr)
            return False

    # ------------------------------------------------------------ set-up

    def prepare(self) -> None:
        """Generate everything the engine will receive: the base snapshot
        and every CDC batch of the run, as landed files. Pure Python, so
        it can run while the Spark session starts."""
        os.makedirs(os.path.join(self.work, "landing"), exist_ok=True)
        self.g = gen.CdcGenerator(self.seed, self.n_base, self.cfg["delete_frac"])
        rows = self.g.base_rows()
        self.base_path = os.path.join(self.work, "base.parquet")
        gen.write_base_parquet(self.base_path, rows)
        self.oracle = gen.Oracle(rows)
        self.landed = []
        for i in range(self.cfg["commits"] + 1):
            # batch 0 warms up the commit path; a tenth of a batch does
            changes = self.g.next_batch(
                self.batch_rows // 10 if i == 0 else self.batch_rows
            )
            path = os.path.join(self.work, "landing", f"batch-{i:05d}.avro")
            size = gen.write_avro_batch(
                path, self.avro_schema, self.g.envelopes(changes)
            )
            self.landed.append((path, size, changes))

    def setup(self) -> None:
        """Build the base table from the landed snapshot SETUP_REPEATS
        times; the last build is the one the run uses. The first build
        also pays the JVM's first-job and JIT warm-up, as the first
        set-up in any new process does."""
        from hudi_and_delta_showcase_spark.tables.lakehouse import LakehouseTable

        table = None
        for rep in range(SETUP_REPEATS):
            if table is not None:
                shutil.rmtree(table.path, ignore_errors=True)
            t0 = time.perf_counter()
            table = LakehouseTable.create(
                self.spark, os.path.join(self.work, f"table-{rep}"),
                self.spark.read.parquet(self.base_path),
                key_cols=["pk_id"], precombine="updated_at",
                partition_by="day", table_type=self.cfg["table_type"],
            )
            self.setup_times.append(time.perf_counter() - t0)
        self.table = table
        self.path = table.path

    # ------------------------------------------------------------- apply

    def land(self):
        """Hand over the next landed batch and advance the oracle past it;
        returns (path, bytes, rows, expected merge counts)."""
        path, size, changes = self.landed[self.n_batches]
        self.n_batches += 1
        expected = self.oracle.apply(changes)
        return path, size, len(changes), expected

    def read_landed(self, path: str):
        from hudi_and_delta_showcase_spark import io as hio
        from hudi_and_delta_showcase_spark.operators.cdc import flatten_envelope

        return flatten_envelope(hio.read_avro(self.spark, path, self.envelope))

    def apply(self, path: str, expected: dict) -> None:
        import pyspark.sql.functions as F
        from hudi_and_delta_showcase_spark.operators.cdc import latest_change_per_key
        from hudi_and_delta_showcase_spark.tables import merge_sql

        landed = self.read_landed(path)
        if self.cfg["table_type"] == "cow":
            src = latest_change_per_key(
                landed.withColumn("op", F.col("source_metadata.change_type")),
                ["pk_id"], "updated_at",
            )
            src.createOrReplaceTempView("cdc_batch")
            got = merge_sql.execute_merge(
                self.spark, MERGE_SQL, {"lake": self.table}
            )
            self.check(
                f"merge counts {got} vs {expected}",
                all(got[k] == v for k, v in expected.items()),
            )
        else:
            self.table.upsert(landed.select(*gen.COLUMNS))

    def commit_batch(self, timed: bool) -> None:
        path, size, n_rows, expected = self.land()
        if self.tracer is not None:
            # the landed batch materialised alone, outside the commit
            with self.tracer.span("avro_ocf.decode"):
                self.read_landed(path).count()
        t0 = time.perf_counter()
        ok = self.guarded("commit", self.apply, path, expected)
        dt = time.perf_counter() - t0
        if ok:
            self.attempted += 1
        if timed and ok:
            self.samples["commit"].append(dt)
            self.timed_rows += n_rows
            self.timed_landed_bytes += size

    def compact(self, timed: bool) -> None:
        t0 = time.perf_counter()
        if self.guarded("compact", self.table.compact):
            self.attempted += 1
            if timed:
                self.samples["compact"].append(time.perf_counter() - t0)

    # ----------------------------------------------------------- queries

    def reader(self):
        from hudi_and_delta_showcase_spark.tables.lakehouse import LakehouseTable

        return LakehouseTable.load(self.spark, self.path)

    def q_read(self) -> None:
        import pyspark.sql.functions as F

        t = self.reader()
        with self.span("lakehouse.read_rt" if self.cfg["table_type"] == "mor"
                       else "lakehouse.read"):
            snap = t.read_rt() if self.cfg["table_type"] == "mor" else t.read()
            got = {
                r[0]: (r[1], r[2])
                for r in snap.groupBy("day")
                .agg(F.count(F.lit(1)), F.sum("value"))
                .collect()
            }
        self.check("snapshot aggregate", got == self.oracle.day_aggregates())

    def q_range(self, repeats: int) -> None:
        import pyspark.sql.functions as F

        # 1% of the base keys, inside one of the days the CDC batches
        # never touch: every range read prunes to the same file layout,
        # whatever the seed
        per_day = self.g.per_day
        width = max(1, self.n_base // 100)
        for _ in range(repeats):
            day = self.qrng.randrange(gen.N_DAYS - gen.HOT_DAYS)
            lo = day * per_day + self.qrng.randrange(max(1, per_day - width))
            t = self.reader()
            df = t.read_matching([("pk_id", ">=", lo), ("pk_id", "<", lo + width)])
            with self.span("lakehouse.read_matching.exec") as sp:
                r = df.agg(F.count(F.lit(1)), F.sum("value")).collect()[0]
            self.note_files(sp, t, df)
            self.check(
                f"range [{lo}, {lo + width})",
                (r[0], r[1] or 0) == self.oracle.range_answer(lo, lo + width),
            )

    def q_lookup(self, repeats: int) -> None:
        cols = gen.COLUMNS
        # one key from each tenth of the key space: every lookup spans
        # the table the same way whatever the seed
        cuts = [i * self.g.next_pk // 10 for i in range(11)]
        for _ in range(repeats):
            keys = [self.qrng.randrange(a, b) for a, b in zip(cuts, cuts[1:])]
            t = self.reader()
            df = t.read_for_keys(keys)
            with self.span("lakehouse.read_for_keys.exec") as sp:
                got = sorted(tuple(r) for r in df.select(*cols).collect())
            self.note_files(sp, t, df)
            self.check(f"lookup {keys}", got == self.oracle.lookup(keys))

    def note_files(self, sp, table, df) -> None:
        """Traced run: files the pruned scan reads against live files."""
        if sp is None:
            return
        with self.tracer.paused():
            commit = table.history()[-1]
            sp.attrs["files_total"] = len(commit.files) + len(commit.log_files)
            sp.attrs["files_scanned"] = len(df.inputFiles())

    def query(self, kind: str, timed: bool) -> None:
        """One query sample of ``kind``; an untimed (warm-up) sample runs
        a single query."""
        t0 = time.perf_counter()
        before = self.failed
        if kind == "read":
            self.guarded(kind, self.q_read)
        else:
            repeats = QUERY_REPEATS if timed else 1
            self.guarded(kind, getattr(self, f"q_{kind}"), repeats)
        if timed and self.failed == before:
            self.samples[kind].append(time.perf_counter() - t0)

    # ------------------------------------------------------- run phases

    def warm_up(self) -> None:
        t0 = time.perf_counter()
        self.commit_batch(timed=False)
        for kind in QUERY_KINDS:
            self.query(kind, timed=False)
        if self.cfg["compact_every"]:
            self.compact(timed=False)
        self.extra["warmup_s"] = time.perf_counter() - t0

    def timed_phase(self) -> None:
        before = tree_bytes(self.path)
        if self.tracer is not None:
            self.timed_from = len(self.tracer.spans)
        t0 = time.perf_counter()
        every = self.cfg["compact_every"]
        for i in range(1, self.cfg["commits"] + 1):
            self.commit_batch(timed=True)
            if self.cfg["table_type"] == "mor":
                self.query("read", timed=True)
            if every and i % every == 0:
                self.compact(timed=True)
        after = tree_bytes(self.path)
        written = sum(
            size for p, size in after.items() if before.get(p) != size
        )
        self.extra["write_amp"] = written / max(1, self.timed_landed_bytes)
        # the rest of the run: query samples in turn until each kind has
        # MIN_QUERY_SAMPLES and the run's seconds are spent
        done = {k: len(self.samples[k]) for k in self.cfg["fill_kinds"]}
        for kind in itertools.cycle(self.cfg["fill_kinds"]):
            short = min(done.values()) < MIN_QUERY_SAMPLES
            if not short and time.perf_counter() - t0 >= self.seconds:
                break
            if short and done[kind] >= MIN_QUERY_SAMPLES:
                continue
            self.query(kind, timed=True)
            done[kind] += 1
        live = self.table.history()[-1]
        live_bytes = sum(
            os.path.getsize(os.path.join(self.path, f))
            for f in [*live.files, *live.log_files]
        )
        self.extra["space_amp"] = sum(after.values()) / max(1, live_bytes)

    def final_check(self) -> None:
        import pyspark.sql.functions as F

        cols = gen.COLUMNS
        snap = self.reader().read().select(*cols)
        digest = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])),
                1, 15,
            ),
            16, 10,
        ).cast("decimal(38,0)")
        r = snap.agg(F.count(F.lit(1)), F.sum(digest)).collect()[0]
        got = (r[0], int(r[1] or 0))
        self.check(
            f"final snapshot {got} vs oracle", got == self.oracle.fingerprint()
        )

    def run(self, spark, tracer=None) -> None:
        """All phases after ``prepare``; their wall times go to
        ``self.phases``."""
        self.spark = spark
        self.tracer = tracer
        for name, step in (
            ("setup", self.setup),
            ("warm_up", self.warm_up),
            ("timed", self.timed_phase),
            ("final_check", lambda: self.guarded("final check", self.final_check)),
        ):
            t0 = time.perf_counter()
            step()
            self.phases[name] = time.perf_counter() - t0

    # ----------------------------------------------------------- metrics

    def end_to_end(self) -> dict:
        s = self.samples
        apply_s = sum(s["commit"]) + sum(s["compact"])
        return {
            "setup_s": (median(self.setup_times), "s"),
            "commit_p50_s": (median(s["commit"]), "s"),
            "ingest_rows_per_s": (self.timed_rows / apply_s if apply_s else 0.0,
                                  "rows/s"),
            "read_p50_s": (median(s["read"]), "s"),
            "range_p50_s": (median(s["range"]), "s"),
            "lookup_p50_s": (median(s["lookup"]), "s"),
            "write_amp": (self.extra.get("write_amp", 0.0), "B/B"),
            "space_amp": (self.extra.get("space_amp", 0.0), "B/B"),
        }


def install_tracing(tracer) -> None:
    """Spans around the public functions of each layer."""
    from hudi_and_delta_showcase_spark.tables import fsio, merge_sql
    from hudi_and_delta_showcase_spark.tables import manifest as mf
    from hudi_and_delta_showcase_spark.tables.lakehouse import LakehouseTable

    def commit_files(sp, args, kwargs, out):
        table = args[0]
        prev = mf.read_commit(table.path, out.version - 1)
        old = set(prev.files) | set(prev.log_files)
        new = set(out.files) | set(out.log_files)
        added = new - old
        sp.attrs.update(
            files_added=len(added),
            files_removed=len(old - new),
            rewrite_ratio=len(set(prev.files) - set(out.files))
            / max(1, len(prev.files)),
            bytes_written=sum(
                fsio.file_size(fsio.resolve(table.path, f)) for f in added
            ),
        )

    def publish_bytes(sp, args, kwargs, out):
        sp.attrs["bytes"] = len(args[1].encode("utf-8"))

    def outstanding_logs(sp, args, kwargs, out):
        sp.attrs["log_files"] = len(args[0].history()[-1].log_files)

    tracer.install(merge_sql, "execute_merge", "merge_sql.execute_merge")
    tracer.install(LakehouseTable, "upsert", "lakehouse.upsert", commit_files)
    tracer.install(LakehouseTable, "delete", "lakehouse.delete")
    tracer.install(LakehouseTable, "compact", "lakehouse.compact", commit_files)
    tracer.install(LakehouseTable, "read_rt", "lakehouse.read_rt.call",
                   outstanding_logs)
    tracer.install(LakehouseTable, "read_matching", "lakehouse.read_matching")
    tracer.install(LakehouseTable, "read_for_keys", "lakehouse.read_for_keys")
    tracer.install(LakehouseTable, "load", "lakehouse.load")
    for fn in ("append_commit", "append_commit_rebase", "read_commit",
               "latest_commit"):
        tracer.install(mf, fn, f"manifest.{fn}")
    tracer.install(fsio, "write_atomic", "fsio.write_atomic")
    tracer.install(fsio, "publish_exclusive", "fsio.publish_exclusive",
                   publish_bytes)
    tracer.install(fsio, "read_pointer_text", "fsio.read_pointer_text")


def per_layer(bench: Bench, tracer, host: dict) -> dict:
    spans = tracer.spans[bench.timed_from:]
    commits = max(1, len(bench.samples["commit"]))

    # manifest and fsio calls made on behalf of a commit (MERGE, upsert
    # or compaction), not of a reader opening the table
    commit_ops = {
        s.sid for s in spans if s.parent is None and s.name in (
            "merge_sql.execute_merge", "lakehouse.upsert", "lakehouse.compact")
    }

    def named(name):
        return [s for s in spans if s.name == name]

    def in_commits(name):
        return [s for s in named(name) if s.op in commit_ops]

    def med(name, attr="seconds"):
        return median([getattr(s, attr) for s in named(name)])

    def attr_med(name, key):
        return median([s.attrs[key] for s in named(name) if key in s.attrs])

    merges = named("merge_sql.execute_merge")
    merge_self = []
    for m in merges:
        kids = [s for s in spans if s.parent == m.sid
                and s.name in ("lakehouse.upsert", "lakehouse.delete")]
        merge_self.append(m.seconds - sum(k.seconds for k in kids))
    publishes = in_commits("fsio.publish_exclusive")
    commit_s = bench.samples["commit"]
    read_s = bench.samples["read"]
    m = {
        "avro_ocf.decode_s": (med("avro_ocf.decode"), "s"),
        "merge_sql.execute_merge.s": (med("merge_sql.execute_merge"), "s"),
        "merge_sql.execute_merge.jobs": (med("merge_sql.execute_merge", "jobs"), "count"),
        "merge_sql.self_s": (median(merge_self), "s"),
        "lakehouse.upsert.s": (med("lakehouse.upsert"), "s"),
        "lakehouse.upsert.jobs": (med("lakehouse.upsert", "jobs"), "count"),
        "lakehouse.upsert.stages": (med("lakehouse.upsert", "stages"), "count"),
        "lakehouse.upsert.tasks": (med("lakehouse.upsert", "tasks"), "count"),
        "lakehouse.delete.s": (med("lakehouse.delete"), "s"),
        "lakehouse.delete.jobs": (med("lakehouse.delete", "jobs"), "count"),
        "lakehouse.upsert.files_added": (attr_med("lakehouse.upsert", "files_added"), "count"),
        "lakehouse.upsert.files_removed": (attr_med("lakehouse.upsert", "files_removed"), "count"),
        "lakehouse.upsert.bytes_written": (attr_med("lakehouse.upsert", "bytes_written"), "B"),
        "lakehouse.upsert.rewrite_ratio": (attr_med("lakehouse.upsert", "rewrite_ratio"), "ratio"),
        "lakehouse.compact.s": (med("lakehouse.compact"), "s"),
        "lakehouse.compact.jobs": (med("lakehouse.compact", "jobs"), "count"),
        "lakehouse.compact.bytes_rewritten": (attr_med("lakehouse.compact", "bytes_written"), "B"),
        "lakehouse.read_rt.s": (med("lakehouse.read_rt"), "s"),
        "lakehouse.read_rt.log_files_outstanding": (attr_med("lakehouse.read_rt.call", "log_files"), "count"),
        "lakehouse.load_s": (med("lakehouse.load"), "s"),
        "manifest.bytes_per_commit": (median([s.attrs["bytes"] for s in publishes]), "B"),
        "commit_p90_s": (p90(commit_s), "s"),
        "commit_samples": (len(commit_s), "count"),
        "read_p90_s": (p90(read_s), "s"),
        "read_samples": (len(read_s), "count"),
        "traced.commit_p50_s": (median(commit_s), "s"),
        "traced.read_p50_s": (median(read_s), "s"),
        "session_start_s": (bench.extra.get("session_s", 0.0), "s"),
        "warmup_s": (bench.extra.get("warmup_s", 0.0), "s"),
        "host.steal_pct": (host["steal_pct"], "%"),
        "host.load_1m": (host["load_1m"], "load"),
        "host.cores": (host["cores"], "count"),
    }
    for layer in ("read_matching", "read_for_keys"):
        execs = named(f"lakehouse.{layer}.exec")
        m[f"lakehouse.{layer}.plan_s"] = (med(f"lakehouse.{layer}"), "s")
        m[f"lakehouse.{layer}.exec_s"] = (median([s.seconds for s in execs]), "s")
        m[f"lakehouse.{layer}.files_scanned"] = (
            median([s.attrs["files_scanned"] for s in execs]), "count")
        m[f"lakehouse.{layer}.files_total"] = (
            median([s.attrs["files_total"] for s in execs]), "count")
    for fn in ("append_commit", "append_commit_rebase", "read_commit",
               "latest_commit"):
        calls = in_commits(f"manifest.{fn}")
        m[f"manifest.{fn}.s"] = (median([c.seconds for c in calls]), "s")
    for fn in ("write_atomic", "publish_exclusive", "read_pointer_text"):
        calls = in_commits(f"fsio.{fn}")
        m[f"fsio.{fn}.calls"] = (len(calls) / commits, "count")
        m[f"fsio.{fn}.s"] = (median([c.seconds for c in calls]), "s")
    return m


def start_spark(work: str):
    """One Spark application at local[2], all scratch under ``work``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from hudi_and_delta_showcase_spark import get_spark

    return get_spark(
        app_name="perfbench", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def result_line(bench: Bench, metrics: dict) -> dict:
    return {
        "correct": bench.failed == 0,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hudi_and_delta_showcase_spark")):
        print("engine package hudi_and_delta_showcase_spark not found next "
              "to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0 = cpu_times()
    bench = Bench(args.workload, args.seed, args.seconds, work=work)
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(bench.prepare)
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
    try:
        prepared.result()
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            install_tracing(tracer)
        bench.extra["session_s"] = session_s
        bench.run(spark, tracer)
        host = host_stamp(cpu0)
        if tracer is not None:
            metrics = per_layer(bench, tracer, host)
            tracer.dump(os.path.join(
                WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
            tracer.uninstall()
        else:
            metrics = bench.end_to_end()
    finally:
        stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    stamp = {"workload": args.workload, "seed": args.seed,
             "trace": args.trace, "host": host,
             "phases_s": {"session": session_s, **bench.phases},
             "samples_s": bench.samples}
    out = result_line(bench, metrics)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({**stamp, **out}) + "\n")
    print(json.dumps(stamp))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
