#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at a tiny size in one Spark session and checks that

* the untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, each above zero, and passes the oracle gate;
* the traced run prints every per-layer metric with its unit;
* a table corrupted on disk (one live data file rewritten with a changed
  value, same row count) fails the oracle gate.

Exits 0 when all checks hold.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SMOKE = {"n_base": 4_000, "batch_rows": 200}


def declared(section: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[section]}


def corrupt_one_file(bench: run.Bench) -> None:
    """Rewrite one live data file with every ``value`` plus one: same
    rows, same count, different content."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    live = bench.table.history()[-1]
    path = os.path.join(bench.path, live.files[0])
    t = pq.read_table(path)
    i = t.schema.get_field_index("value")
    col = t.column("value")
    t = t.set_column(i, "value", pc.add(col, pa.scalar(1, col.type)))
    pq.write_table(t, path)
    # drop the stale Hadoop checksum so the read succeeds and the
    # oracle comparison, not a checksum error, has to catch the change
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def main() -> int:
    if not os.path.isdir(os.path.join(run.ROOT, "hudi_and_delta_showcase_spark")):
        print("engine package not found", file=sys.stderr)
        return 2
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    problems: list[str] = []
    spark = run.start_spark(work)
    try:
        from spans import Tracer

        e2e, layers = declared("end_to_end"), declared("per_layer")
        for wl in sorted(run.WORKLOADS):
            b = run.Bench(wl, 1, 1.0, work=os.path.join(work, wl), **SMOKE)
            b.prepare()
            b.run(spark)
            out = run.result_line(b, b.end_to_end())
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != e2e:
                problems.append(f"{wl}: end-to-end metrics {got} != {e2e}")
            zero = [k for k, v in out["metrics"].items() if not v["value"] > 0]
            if zero:
                problems.append(f"{wl}: metrics not above zero: {zero}")
            if not out["correct"] or out["failed"]:
                problems.append(f"{wl}: clean run failed the oracle gate")

            tracer = Tracer(spark)
            run.install_tracing(tracer)
            try:
                b = run.Bench(wl, 2, 1.0,
                              work=os.path.join(work, wl + "-traced"), **SMOKE)
                b.prepare()
                b.run(spark, tracer)
                out = run.result_line(
                    b, run.per_layer(b, tracer, {"steal_pct": 0.0,
                                                 "load_1m": 0.0, "cores": 1})
                )
            finally:
                tracer.uninstall()
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != layers:
                missing = sorted(set(layers) - set(got))
                extra = sorted(set(got) - set(layers))
                problems.append(
                    f"{wl}: per-layer metrics differ: missing {missing}, "
                    f"extra {extra}"
                )

            b = run.Bench(wl, 3, 1.0,
                          work=os.path.join(work, wl + "-corrupt"), **SMOKE)
            b.prepare()
            b.spark = spark
            b.setup()
            b.warm_up()
            b.timed_phase()
            corrupt_one_file(b)
            b.guarded("final check", b.final_check)
            if run.result_line(b, b.end_to_end())["correct"]:
                problems.append(f"{wl}: corrupted table passed the oracle gate")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
