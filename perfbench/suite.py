"""Query-suite workload over the registry in ``queries.py``.

``SUITE`` keeps one or two registry queries per family the ROADMAP
works on, so that a first pass and warm passes fit one benchmark run:
TPC-H, the paper's MIML-ATT bag aggregation, the LSH/ANN family,
IVF/PQ, fingerprinting and the joint training cost.
"""

from __future__ import annotations

import os
import random
import time

from noise_mitigation_spark import queries

from . import oracles, procfs

SUITE = [
    "tpch_q1", "tpch_q3", "miml_att", "ann_multiprobe",
    "ivf_pq_ann", "winnow_fingerprint", "joint_cost",
]  # fmt: skip
WARMUP = "tpch_q1"


def order(seed: int) -> list[str]:
    """The seed's permutation of the suite."""
    names = list(SUITE)
    random.Random(seed).shuffle(names)
    return names


def run_pass(spark, data_dir: str, names: list[str], answers_dir: str, tracer=None, tag=""):
    """Run each query once, timed up to the action that brings its
    result to the driver; compare each answer with the cached oracle
    outside the timer. Returns ({name: wall}, {name: CPU seconds of
    this process tree}, [failures])."""
    walls, cpus, failures = {}, {}, []
    for name in names:
        try:
            c0, t0 = procfs.tree_cpu_s(os.getpid()), time.perf_counter()
            if tracer is None:
                got = queries.QUERIES[name](spark, data_dir).toPandas()
            else:
                with tracer.group(f"{tag}{name}"):
                    got = queries.QUERIES[name](spark, data_dir).toPandas()
            walls[name] = time.perf_counter() - t0
            cpus[name] = procfs.tree_cpu_s(os.getpid()) - c0
        except Exception as ex:  # a failed query is counted, not fatal
            failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
            continue
        diff = oracles.compare_frames(got, oracles.load_query_answer(answers_dir, name))
        if diff:
            failures.append(f"{name}: {diff}")
    return walls, cpus, failures
