"""Session factory contract (session.py): a second ``get_spark`` call keeps
the live session's confs, the codegen cache holds the working set of a
repeated pass so the pass compiles no class twice, and Python workers
import the package wherever the driver was started."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from wicsmmiretl_spark.session import get_spark


def test_get_spark_twice_keeps_live_confs(spark):
    """``_DEFAULTS`` apply at creation only: a later plain call must not reset
    the fixture's width 8 to the default 32 for every test collected after
    it. Explicit overrides still apply to the live session."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert get_spark("tests") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    try:
        get_spark("tests", **{"spark.sql.shuffle.partitions": "5"})
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_repeated_pass_compiles_nothing(spark, sf_dir):
    """The ``iterative_dedup`` pair (``order_graph_pagerank`` then
    ``near_dup_jaccard``) touches ~100 generated classes; at Spark's default
    cache of 100 entries in 4 LRU segments a repeat round recompiled 30-45 of
    them at this size. With the cache sized in ``_DEFAULTS`` a repeat round
    compiles none."""
    from wicsmmiretl_spark.suite import QUERIES

    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round():
        for name in ("order_graph_pagerank", "near_dup_jaccard"):
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_round()
    # AQE can renumber a codegen stage between identical runs, and a new
    # stage id is a new class the cache cannot hold yet; an eviction-driven
    # recompile repeats every round, a renumbering does not, so a nonzero
    # round is re-measured twice before it fails.
    grown = []
    while len(grown) < 3 and 0 not in grown:
        before = compiles.getCount()
        one_round()
        grown.append(compiles.getCount() - before)
    assert 0 in grown, grown


def test_workers_import_the_package_outside_the_repo_root(tmp_path):
    """``apply_image_transformations``' closure pickles ``RawGrid`` and the
    transformation classes by reference, so each Python worker imports the
    package. A driver started from another directory with ``PYTHONPATH``
    unset (in a fresh JVM, since the conf applies at session creation) must
    still run it: the workers failed with ``ModuleNotFoundError`` before
    ``get_spark`` set ``spark.executorEnv.PYTHONPATH``."""
    repo = Path(__file__).resolve().parent.parent
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {str(repo)!r})
            import numpy as np
            from wicsmmiretl_spark.multimodal.images import (
                RawGrid, ResizeTransformation, WebPTransformation, apply_image_transformations,
            )
            from wicsmmiretl_spark.session import get_spark

            spark = get_spark("worker-path")
            img = RawGrid.encode(np.zeros((8, 8, 3), dtype=np.uint8))
            df = spark.createDataFrame([(1, img, "png")], "id long, content binary, format string")
            chain = [ResizeTransformation(4, 4), WebPTransformation()]
            print("FORMAT=" + apply_image_transformations(df, chain).first().format)
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "FORMAT=webp" in run.stdout, run.stderr[-3000:]
