"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run it from the repository root. It makes the seeded inputs and the
cached oracle answers under ``.perfbench_work/`` (outside every timer),
runs the workload in a fresh worker process (``worker.py``) while
sampling the memory of that process tree from /proc, checks every
output against the oracle, and prints one JSON result as the last line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procfs  # noqa: E402

PACKAGE = os.path.join(ROOT, "noise_mitigation_spark", "__init__.py")
WORK = os.path.join(ROOT, ".perfbench_work")

N_BASE = 2000  # docs in the from-scratch build
N_DELTA = 250  # docs in the delta the traced run appends
SUITE_DATA_SEED = 42  # the suite's tables are fixed; the seed orders the queries
DRIVER_MEM = "4g"  # fits a 15 GB machine beside the Python workers
RUN_DEADLINE_S = 172.0  # the whole run, first-run input preparation included
MB = 1024.0 * 1024.0

WORKLOADS = ("kg_build", "query_suite")
KG_LAYERS = {
    "mentions": ["wall_s", "exec_run_s", "py_sent_mb", "py_returned_mb", "py_run_s", "rows_out"],
    "scoring": ["wall_s", "exec_run_s", "py_sent_mb", "py_returned_mb", "py_run_s", "rows_out"],
    "miml": [
        "wall_s", "exec_run_s", "shuffle_write_mb", "fetch_wait_s", "spill_mb", "gc_s",
        "task_skew", "py_run_s",
    ],
    "relations": ["wall_s", "exec_run_s", "shuffle_write_mb", "py_run_s", "rows_out"],
    "linking": ["wall_s", "jobs"],
    "lineage": ["wall_s", "written_mb", "files_written", "jobs"],
    "incremental": [
        "wall_s", "jobs", "exec_run_s", "shuffle_write_mb",
        "rebag_amplification", "pairs_rescored_ratio",
    ],
}  # fmt: skip
BUILD_LAYERS = ("mentions", "scoring", "miml", "relations", "linking", "lineage")
QUERY_AGGREGATES = [
    "jobs", "exec_run_s", "gc_s", "shuffle_write_mb", "fetch_wait_s", "spill_mb", "py_start_s",
]  # fmt: skip
TRACE_METRICS = ["overhead_s", "untraced_s", "layer_sum_s"]


def per_layer_names() -> list[str]:
    from perfbench.suite import SUITE

    names = [f"{m}.{k}" for m, ks in KG_LAYERS.items() for k in ks]
    names += [f"queries.{q}.s" for q in SUITE]
    names += [f"queries.{k}" for k in QUERY_AGGREGATES]
    return names + [f"trace.{k}" for k in TRACE_METRICS] + ["process.peak_rss_mb"]


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    if leaf in ("jobs", "rows_out", "files_written"):
        return "count"
    return "ratio"


# ------------------------------------------------------------------ inputs


def _kg_corpus(seed: int):
    from noise_mitigation_spark import corpus

    n = N_BASE + N_DELTA
    return corpus.generate(n_docs=n, n_entities=max(240, n // 25), seed=seed)


def _prefix(c, n_docs: int):
    return dataclasses.replace(c, documents=c.documents.iloc[:n_docs].reset_index(drop=True))


def _kg_dir(seed: int) -> str:
    return os.path.join(WORK, "kg", f"seed{seed}-{N_BASE}+{N_DELTA}")


def prepare_kg(seed: int) -> dict:
    """Seeded corpus: the first N_BASE docs are the build input, the
    next N_DELTA docs the delta."""
    d = _kg_dir(seed)
    if not os.path.exists(os.path.join(d, "done")):
        from noise_mitigation_spark import corpus

        c = _kg_corpus(seed)
        shutil.rmtree(d, ignore_errors=True)
        corpus.write_parquet(c, d)
        c.documents.iloc[:N_BASE].to_parquet(os.path.join(d, "base.parquet"), index=False)
        c.documents.iloc[N_BASE:].to_parquet(os.path.join(d, "delta.parquet"), index=False)
        open(os.path.join(d, "done"), "w").close()
    return {
        "corpus_dir": d,
        "base": os.path.join(d, "base.parquet"),
        "delta": os.path.join(d, "delta.parquet"),
        "n_base": N_BASE,
        "n_delta": N_DELTA,
    }


def prepare_suite() -> dict:
    from perfbench import oracles, suitedata
    from perfbench.suite import SUITE

    data = os.path.join(WORK, "suite", f"data{SUITE_DATA_SEED}")
    if not os.path.exists(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        suitedata.write(SUITE_DATA_SEED, data)
        open(os.path.join(data, "done"), "w").close()
    answers = os.path.join(WORK, "suite", f"answers{SUITE_DATA_SEED}")
    oracles.cached_query_answers(data, answers, SUITE)
    return {"data_dir": data, "answers_dir": answers}


# ------------------------------------------------------------- the worker


class MemorySampler(threading.Thread):
    """Peak resident memory of a process tree, sampled every 0.5 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.5):
            self.peak_kb = max(self.peak_kb, sum(procfs.rss_kb(p) for p in procfs.tree(self.pid)))


def run_worker(spec: dict, deadline: float) -> tuple[dict, float]:
    """Run the worker in its own session; return its result and the
    peak RSS (MB) of its process tree."""
    ncores = len(os.sched_getaffinity(0))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(spec["run_dir"], "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(ncores),  # local[$(nproc)]
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            # Spark's Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "TMPDIR": tmp,
            # the JVM's own temp files (session artifacts, perf data)
            # stay in the checkout too
            "JAVA_TOOL_OPTIONS": " ".join(
                filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                              f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
            ),  # fmt: skip
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    spec_path = os.path.join(spec["run_dir"], "spec.json")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(spec["run_dir"], "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), spec_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )  # fmt: skip
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.done.set()
            sampler.join()
            _stop_tree(proc)
    if not os.path.exists(spec["result"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker ended (code {proc.returncode}) without a result")
    with open(spec["result"]) as f:
        return json.load(f), sampler.peak_kb / 1024.0


def _stop_tree(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its session and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


# ---------------------------------------------------------------- metrics


def check_kg(seed: int, res: dict) -> list[str]:
    """Compare each KG state the worker reached with the oracle on the
    same document prefix (answers cached per seed and prefix)."""
    from perfbench import oracles

    failures, full = [], None
    for st in res.get("states", []):
        path = os.path.join(_kg_dir(seed), f"oracle{st['docs']}.json")
        if not os.path.exists(path):
            full = full or _kg_corpus(seed)
            oracles.cached_kg_answer(_prefix(full, st["docs"]), path)
        want = oracles.cached_kg_answer(None, path)
        with open(st["path"]) as f:
            got = json.load(f)
        cmp = oracles.compare_kg(got["triples"], got["assertions"], want)
        print(f"  oracle {st['op']:>12} docs={st['docs']} " + json.dumps(cmp), flush=True)
        if not cmp["ok"]:
            failures.append(f"{st['op']}: oracle mismatch {cmp}")
    return failures


def end_to_end(workload: str, res: dict) -> dict:
    """CPU seconds of the worker's process tree: the hypervisor's steal,
    which moves wall times by up to 1.5x between time windows on a
    shared 4-core machine, is not charged to processes. Walls are
    printed beside them."""
    op = res["ops"][0]
    if workload == "kg_build":
        print(f"  kg_docs_per_s={N_BASE / op['wall']:.1f} docs/s (cold build of {N_BASE} docs)")
    else:
        print(f"  suite_first_s={op['wall']:.3f} s ({len(op['queries'])} queries)")
    print(f"  cold_op wall={op['wall']:.3f} s  setup wall={res['setup_s']:.3f} s")
    return {
        "cold_op_cpu_s": {"value": op["cpu"], "unit": "s"},
        "setup_s": {"value": res["setup_cpu_s"], "unit": "s"},
    }


def per_layer(workload: str, res: dict, log_dir: str, peak_mb: float) -> dict:
    from perfbench.eventlog import GroupStats, fold_dir
    from perfbench.suite import SUITE

    groups = fold_dir(log_dir)
    tr = res["trace"]
    walls, rows = tr["walls"], tr["rows"]
    vals = {n: 0.0 for n in per_layer_names()}  # a layer the workload never reaches did 0

    def put(prefix: str, st: GroupStats, wall: float):
        """The group's metrics under the names the layer lists."""
        got = {
            "wall_s": wall,
            "exec_run_s": st.exec_run_ms / 1000.0,
            "py_sent_mb": st.py_sent_bytes / MB,
            "py_returned_mb": st.py_returned_bytes / MB,
            "py_run_s": st.py_run_ms / 1000.0,
            "py_start_s": st.py_start_ms / 1000.0,
            "shuffle_write_mb": st.shuffle_write_bytes / MB,
            "fetch_wait_s": st.fetch_wait_ms / 1000.0,
            "spill_mb": st.spill_bytes / MB,
            "gc_s": st.gc_ms / 1000.0,
            "task_skew": st.task_skew(),
            "jobs": st.jobs,
            "written_mb": st.output_bytes / MB,
            "rows_out": rows.get(prefix, 0),
        }
        for k, v in got.items():
            if f"{prefix}.{k}" in vals:
                vals[f"{prefix}.{k}"] = float(v)

    if workload == "kg_build":
        for m in BUILD_LAYERS:
            put(m, groups.get(m, GroupStats()), sum(walls.get(m, [])))
        vals["lineage.files_written"] = float(tr["files_written"])
        put("incremental", groups.get("incremental", GroupStats()), walls["incremental"][0])
        for k in ("rebag_amplification", "pairs_rescored_ratio"):
            vals[f"incremental.{k}"] = tr["ratios"][k]
        layer_sum = sum(sum(walls.get(m, [])) for m in BUILD_LAYERS)
        inc_stats = groups.get("incremental", GroupStats())
        sited = sum(inc_stats.call_sites.values())
        print(
            f"  incremental jobs: {inc_stats.jobs} ({inc_stats.jobs - sited} without a call site);"
            " by call site "
            + json.dumps({k.replace(ROOT + os.sep, ""): n for k, n in inc_stats.call_sites.most_common()})
        )
    else:
        warm, first = GroupStats(), GroupStats()
        for q in SUITE:
            vals[f"queries.{q}.s"] = sum(walls.get(f"warm:{q}", []))
            for total, name in ((warm, f"warm:{q}"), (first, f"first:{q}")):
                st = groups.get(name, GroupStats())
                for f in ("jobs", "exec_run_ms", "gc_ms", "shuffle_write_bytes",
                          "fetch_wait_ms", "spill_bytes", "py_start_ms"):  # fmt: skip
                    setattr(total, f, getattr(total, f) + getattr(st, f))
        put("queries", warm, 0.0)
        vals["queries.py_start_s"] = first.py_start_ms / 1000.0
        layer_sum = sum(vals[f"queries.{q}.s"] for q in SUITE)
    vals["trace.overhead_s"] = tr["traced_s"] - tr["untraced_s"]
    vals["trace.untraced_s"] = tr["untraced_s"]
    vals["trace.layer_sum_s"] = layer_sum
    vals["process.peak_rss_mb"] = peak_mb
    print(
        f"  tracing overhead {vals['trace.overhead_s']:+.3f} s: traced {tr['traced_s']:.3f} s"
        f" vs untraced {tr['untraced_s']:.3f} s; layer walls sum to {layer_sum:.3f} s"
    )
    return {n: {"value": v, "unit": unit_of(n)} for n, v in vals.items()}


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.exists(PACKAGE):
        print(f"no noise_mitigation_spark package under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.time()
    # a terminated run still stops its worker tree (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "run_dir": run_dir,
        "result": os.path.join(run_dir, "result.json"),
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
    }
    try:
        if args.workload == "kg_build":
            spec.update(prepare_kg(args.seed))
        else:
            spec.update(prepare_suite())
        res, peak_mb = run_worker(spec, t_start + RUN_DEADLINE_S)
        failures = list(res["failures"])
        if args.workload == "kg_build":
            failures += check_kg(args.seed, res)
            attempted = len(res.get("states", [])) + len(res["failures"])
        else:
            attempted = res["attempted"]
        for f in failures:
            print(f"  FAILED {f}", file=sys.stderr)
        ok = not failures and bool(res["ops"])
        if not res["ops"]:
            raise RuntimeError("the worker measured nothing")
        metrics = (
            per_layer(args.workload, res, spec["eventlog_dir"], peak_mb)
            if args.trace
            else end_to_end(args.workload, res)
        )
        print(f"  peak_rss_mb={peak_mb:.0f} MB (worker process tree)")
        print(f"  error_rate={len(failures)}/{attempted}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": max(attempted, 1),
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
