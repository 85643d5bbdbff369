"""One benchmark process: start a Spark session, run one workload, write
the timings to a JSON file. ``run.py`` starts it as a fresh process for
every run (JVM flags only apply at the JVM's first launch, and an aged
session slows later work), samples its memory and checks its outputs.

    python3 perfbench/worker.py <spec.json>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import kg, procfs, suite  # noqa: E402

AUX_GROUP = "bench"  # benchmark bookkeeping, excluded from every layer


def log(spec: dict, msg: str) -> None:
    print(f"[{time.time() - spec['t_spawn']:7.2f} s] {msg}", flush=True)


class Tracer:
    """Tags the work inside ``group(name)`` with a Spark job group and
    records the driver-side wall of each entry."""

    def __init__(self, sc):
        self.sc = sc
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.rows: dict[str, int] = {}
        sc.setJobGroup(AUX_GROUP, AUX_GROUP)

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name].append(time.perf_counter() - t0)
            self.sc.setJobGroup(AUX_GROUP, AUX_GROUP)


def _session(spec: dict):
    from noise_mitigation_spark.session import get_spark

    conf = {}
    if spec["trace"]:
        os.makedirs(spec["eventlog_dir"], exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
        }
    return get_spark(f"perfbench-{spec['workload']}", extra_conf=conf)


def run_kg(spark, spec: dict, out: dict, tracer) -> None:
    """Untraced: one cold from-scratch build. Traced: a cold traced
    build, an untraced warm build as the overhead baseline, then one
    traced append onto the traced build."""
    run_dir = spec["run_dir"]
    aliases, vocab, emb = kg.load_inputs(spark, spec["corpus_dir"])
    base = spark.read.parquet(spec["base"])
    base.count()
    out["setup_s"] = time.time() - spec["t_spawn"]
    out["setup_cpu_s"] = procfs.tree_cpu_s(os.getpid())
    log(spec, "set up")
    out["states"] = []

    def state(res, docs: int, tag: str) -> None:
        path = os.path.join(run_dir, f"state_{tag}.json")
        kg.dump_outputs(res, path)
        out["states"].append({"docs": docs, "path": path, "op": tag})
        log(spec, f"{tag} done")

    main_dir = os.path.join(run_dir, "kg_main")
    if not tracer:
        cpu0 = procfs.tree_cpu_s(os.getpid())
        wall, res = kg.build(spark, base, aliases, vocab, emb, main_dir)
        cpu = procfs.tree_cpu_s(os.getpid()) - cpu0
        out["ops"].append({"kind": "build", "wall": wall, "cpu": cpu})
        state(res, spec["n_base"], "build")
        return
    wall_t, res = kg.traced_build(spark, base, aliases, vocab, emb, main_dir, tracer)
    out["ops"].append({"kind": "traced_build", "wall": wall_t})
    out["trace"]["files_written"] = kg.stage_files(main_dir)
    state(res, spec["n_base"], "traced_build")
    untraced_dir = os.path.join(run_dir, "kg_untraced")
    wall_u, _ = kg.build(spark, base, aliases, vocab, emb, untraced_dir)
    shutil.rmtree(untraced_dir, ignore_errors=True)
    out["trace"].update({"traced_s": wall_t, "untraced_s": wall_u})
    log(spec, "untraced build done")
    delta = spark.read.parquet(spec["delta"])
    with tracer.group("incremental"):
        _, res = kg.append(spark, delta, aliases, vocab, emb, main_dir)
    out["trace"]["ratios"] = kg.append_ratios(res, delta)
    state(res, spec["n_base"] + spec["n_delta"], "append")


def run_suite(spark, spec: dict, out: dict, tracer) -> None:
    """Untraced: one first pass over the suite. Traced: a traced first
    pass, an untraced warm pass as the overhead baseline and a traced
    warm pass."""
    from noise_mitigation_spark import queries

    data, answers = spec["data_dir"], spec["answers_dir"]
    queries.QUERIES[suite.WARMUP](spark, data).toPandas()
    out["setup_s"] = time.time() - spec["t_spawn"]
    out["setup_cpu_s"] = procfs.tree_cpu_s(os.getpid())
    log(spec, "set up")
    names = suite.order(spec["seed"])

    def one_pass(kind: str, tag: str | None) -> float:
        walls, cpus, failures = suite.run_pass(
            spark, data, names, answers, tracer if tag else None, tag or ""
        )
        out["attempted"] += len(names)
        out["failures"] += failures
        out["ops"].append(
            {"kind": kind, "wall": sum(walls.values()), "cpu": sum(cpus.values()), "queries": walls}
        )
        log(spec, f"{kind} done")
        return sum(walls.values())

    one_pass("first_pass", "first:" if tracer else None)
    if tracer:
        untraced = one_pass("warm_pass", None)
        traced = one_pass("traced_warm_pass", "warm:")
        out["trace"].update({"traced_s": traced, "untraced_s": untraced})


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    out = {"ops": [], "failures": [], "attempted": 0, "trace": {}}
    spark = None
    try:
        spark = _session(spec)
        tracer = Tracer(spark.sparkContext) if spec["trace"] else None
        {"kg_build": run_kg, "query_suite": run_suite}[spec["workload"]](
            spark, spec, out, tracer
        )
        if tracer:
            out["trace"]["walls"] = tracer.walls
            out["trace"]["rows"] = tracer.rows
    except Exception as ex:  # reported as a failed operation
        import traceback

        traceback.print_exc()
        out["failures"].append(f"worker: {type(ex).__name__}: {str(ex)[:300]}")
    finally:
        if spark is not None:
            spark.stop()  # flushes the event log
    with open(spec["result"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
