"""The event-log fold on a small recorded log.

``data/eventlog`` is a trimmed Spark 4.1 event log in the rolling
layout: job group ``udf`` collects a two-partition ``mapInPandas``,
job group ``agg`` collects a grouped count over three partitions.
"""

import os
import shutil

from perfbench import eventlog

LOG_DIR = os.path.join(os.path.dirname(__file__), "data", "eventlog")


def test_groups_jobs_and_call_sites():
    g = eventlog.fold_dir(LOG_DIR)
    assert set(g) == {"udf", "agg"}
    assert g["udf"].jobs == 1 and g["agg"].jobs == 2
    assert dict(g["agg"].call_sites) == {"collect at record_eventlog.py:47": 2}


def test_python_boundary_from_stage_accumulables():
    udf, agg = (eventlog.fold_dir(LOG_DIR)[k] for k in ("udf", "agg"))
    assert (udf.py_sent_bytes, udf.py_returned_bytes) == (16864, 32448)
    assert (udf.py_start_ms, udf.py_run_ms) == (2427, 3977)
    assert (agg.py_sent_bytes, agg.py_run_ms) == (0, 0)


def test_task_metrics_and_skew():
    udf, agg = (eventlog.fold_dir(LOG_DIR)[k] for k in ("udf", "agg"))
    assert udf.exec_run_ms == 2281 + 2370
    assert agg.exec_run_ms == 213 + 210 + 15 + 78
    assert agg.shuffle_write_bytes == 177 + 165 + 182
    assert agg.fetch_wait_ms == 0 and agg.spill_bytes == 0
    # heaviest stage of "udf" has tasks of 2281 and 2370 ms
    assert abs(udf.task_skew() - 2370 / ((2281 + 2370) / 2)) < 1e-12
    # heaviest stage of "agg" has tasks of 213, 210 and 15 ms
    assert abs(agg.task_skew() - 213 / 210) < 1e-12
    assert eventlog.GroupStats().task_skew() == 1.0


def test_plain_file_reads_like_rolling_dir(tmp_path):
    part = os.path.join(LOG_DIR, "eventlog_v2_local-1", "events_1_local-1")
    shutil.copy(part, tmp_path / "local-1")
    plain = eventlog.fold_dir(str(tmp_path))
    rolling = eventlog.fold_dir(LOG_DIR)
    assert {k: v.exec_run_ms for k, v in plain.items()} == {
        k: v.exec_run_ms for k, v in rolling.items()
    }


def test_rolling_parts_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    (d / "appstatus_app").write_text("")
    names = [os.path.basename(p) for p in eventlog._event_files(str(tmp_path))]
    assert names == ["events_1_app", "events_2_app", "events_10_app"]
