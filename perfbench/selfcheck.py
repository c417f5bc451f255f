"""Self-checks of the benchmark's own machinery.

    python3 perfbench/selfcheck.py

1. The same seed yields byte-identical inputs (and another seed does not).
2. The oracle rejects a deliberately corrupted table: one flipped
   ``_is_current``.
3. The tail picker never reports a percentile with fewer than ten samples
   beyond it.

Exits non-zero if any check fails.  Check 2 starts a local Spark session.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import stats  # noqa: E402


def _inputs_digest(seed: int, out: str) -> list[str]:
    """Generate a nightly-style and a stream-style input sequence and
    return the sha256 of every parquet file written."""
    os.makedirs(out, exist_ok=True)
    digests = []
    nightly = gen.Generator(seed, 2_000)
    batches = [nightly.initial((1, 3))]
    batches += [nightly.batch(d, 40, dup_share=0.03, late_share=0.05,
                              delete_share=0.03, new_key_share=0.03)
                for d in (1, 2, 3)]
    stream = gen.Generator(seed, 1_000, n_hot=4)
    batches.append(stream.initial((2, 5), hot_versions=50))
    batches += [stream.batch(d, 60, hot_share=0.5, dup_share=0.02,
                             late_share=0.05, delete_share=0.02,
                             new_key_share=0.02, key_count=12)
                for d in (1, 2)]
    for i, b in enumerate(batches):
        path = os.path.join(out, f"b{i}.parquet")
        b.write(path)
        with open(path, "rb") as f:
            digests.append(hashlib.sha256(f.read()).hexdigest())
    digests.append(hashlib.sha256(repr(nightly.keys(20)).encode()).hexdigest())
    return digests


def check_inputs_deterministic(work: str) -> None:
    a = _inputs_digest(7, os.path.join(work, "a"))
    b = _inputs_digest(7, os.path.join(work, "b"))
    c = _inputs_digest(8, os.path.join(work, "c"))
    if a != b:
        raise AssertionError("seed 7 produced different input bytes twice")
    if a == c:
        raise AssertionError("seeds 7 and 8 produced identical inputs")


def check_tail_picker() -> None:
    import random

    rng = random.Random(0)
    for n in range(1, 300):
        values = [rng.random() for _ in range(n)]
        t = stats.tail(values)
        if n < stats.TAIL_BEYOND + 1:
            if t is not None:
                raise AssertionError(f"n={n}: reported a tail with too few samples")
            continue
        value, pct, count = t
        beyond = sum(1 for v in values if v > value)
        if beyond < stats.TAIL_BEYOND:
            raise AssertionError(f"n={n}: only {beyond} samples beyond p{pct}")
        if beyond != stats.TAIL_BEYOND:
            raise AssertionError(f"n={n}: p{pct} is not the highest such percentile")
        if count != n:
            raise AssertionError(f"n={n}: sample count reported as {count}")


def check_oracle_rejects_corruption(work: str) -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from pyspark.sql import functions as F

    import tracing
    import workloads
    from dbt_scd2_utils_spark import ScdTable
    from dbt_scd2_utils_spark.session import get_spark

    spark = get_spark("perfbench-selfcheck", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        os.makedirs(work, exist_ok=True)
        run = workloads.Run(spark, tracing.Tracer(spark, False), work, False)
        g = gen.Generator(3, 500)
        path = os.path.join(work, "init.parquet")
        g.initial((1, 3)).write(path)
        table = ScdTable(spark, os.path.join(work, "dim"), workloads.CFG)
        table.build(run.read_batch(path))
        batch = g.batch(1, 30, late_share=0.1, delete_share=0.1)
        path = os.path.join(work, "b1.parquet")
        batch.write(path)
        table.build(run.read_batch(path))
        keys = batch.cols["id"]
        run.check_current(table.read(), g.model, keys)  # must pass
        victim = int(keys[0])
        flipped = table.read().withColumn(
            "_is_current",
            F.when((F.col("id") == victim) & F.col("_is_current"), F.lit(False))
            .otherwise(F.col("_is_current")),
        )
        try:
            run.check_current(flipped, g.model, keys)
        except workloads.OracleError:
            return
        raise AssertionError("the oracle accepted a table with a flipped _is_current")
    finally:
        spark.stop()


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    checks = [
        ("same seed gives byte-identical inputs",
         lambda: check_inputs_deterministic(work)),
        ("tail picker keeps ten samples beyond", check_tail_picker),
        ("oracle rejects a flipped _is_current",
         lambda: check_oracle_rejects_corruption(os.path.join(work, "oracle"))),
    ]
    failed = 0
    try:
        for name, fn in checks:
            try:
                fn()
                print(f"ok    {name}")
            except AssertionError as exc:
                failed += 1
                print(f"FAIL  {name}: {exc}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
