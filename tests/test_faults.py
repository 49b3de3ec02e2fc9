"""Fault injection on a real multi-executor cluster: `local-cluster[2,1,1024]`
runs two executor JVMs with their own Python workers, so losing one is a
test, not an argument.

Each case runs in a subprocess (this file, run as a script), because a
local-cluster master needs its own SparkSession and `get_spark` builds only
`local[N]` ones:

    python tests/test_faults.py {small,at_scale}
"""

import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(ROOT, "tests")


@pytest.mark.fault
@pytest.mark.parametrize("path", ["small", "at_scale"])
def test_pack_sequences_survives_executor_loss(path):
    # pack_sequences is called (its positions are computed), executor 0 is
    # killed, and only then is the packed table collected: the lost
    # executor's blocks and shuffle files must be recomputable, and the
    # output must still equal the plain-Python reference. Then the
    # surviving executor's fresh Python workers, which never ran the
    # session warm-up, must not re-read zip directories per task
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, TESTS]))
    run = subprocess.run(
        [sys.executable, os.path.abspath(__file__), path],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0 and "PACK_OK" in run.stdout, (
        run.stdout[-2000:] + run.stderr[-4000:]
    )
    assert "ZIP_REREADS_OK" in run.stdout, (
        run.stdout[-2000:] + run.stderr[-4000:]
    )


def _kill_executor_0(sc) -> None:
    """Kill executor "0" and wait until the driver has dropped it."""
    jsc = sc._jsc.sc()
    assert jsc.killExecutor("0")
    deadline = time.monotonic() + 60
    # getExecutorInfos lists the driver too
    while len(jsc.statusTracker().getExecutorInfos()) > 2:
        assert time.monotonic() < deadline, "executor 0 is still registered"
        time.sleep(0.5)


def main(path: str) -> None:
    from pyspark.sql import SparkSession

    from copybook_rs_spark.operators import packing
    from synthetic import (
        PACK_SCHEMA, pack_reference, pack_rows, packed, zip_rereads_per_task,
    )

    spark = (
        SparkSession.builder.master("local-cluster[2,1,1024]")
        .appName("cbsp-fault-pack")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join([ROOT, TESTS]))
        .config("spark.executor.memory", "768m")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        if path == "at_scale":
            packing._PACK_BROADCAST_MAX_DOCS = 0
        rows = pack_rows(3000, 3, max_len=40)
        df = spark.createDataFrame(rows, PACK_SCHEMA).repartition(8)
        out = packing.pack_sequences(df, 64)
        _kill_executor_0(spark.sparkContext)
        got = packed(out.collect())
        want = pack_reference(rows, 64)
        assert got == want, f"{len(got)} sequences, {len(want)} expected"
        print("PACK_OK", len(got))
        # a worker's first task imports the package and installs the
        # refresh; from its next task on, a refresh re-reads nothing
        tasks = zip_rereads_per_task(spark, tasks=4, rounds=2)
        warm = [reads for had_package, reads in tasks if had_package]
        assert warm and set(warm) == {0}, tasks
        print("ZIP_REREADS_OK", tasks)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
