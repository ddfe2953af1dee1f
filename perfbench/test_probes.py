"""Benchmark-side check of the process-tree CPU walk.

    python -m pytest perfbench/test_probes.py -q     (from the repo root)

Python UDFs run in workers that ``pyspark.daemon`` forks, grandchildren
of the JVM; a walk that stopped at the JVM's children would read zero.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probes  # noqa: E402


def test_python_udf_query_raises_worker_cpu():
    from data_eng_iceberg_demo_spark.plans.registry import (REGISTRY,
                                                            _load_all_modules)
    from data_eng_iceberg_demo_spark.session import DEFAULT_SF_DIR, get_spark

    _load_all_modules()
    spark = get_spark("perfbench-test")
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    before = probes.tree_cpu()
    df = REGISTRY["llm_image_phash_dedup"].fn(spark, sf_dir)  # mapInPandas
    df.write.format("noop").mode("overwrite").save()
    used = probes.tree_cpu() - before
    assert used.workers > 0, used
    assert used.jvm > 0, used
