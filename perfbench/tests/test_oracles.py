"""The oracle compares: an altered answer must count as a failure."""

import pandas as pd

from perfbench import oracles, suite

WANT_KG = {
    "triples": [["/m/01", "p", "/m/02", 0.5], ["/m/02", "q", "/m/03", 0.25]],
    "assertions": [["/m/01", 3], ["/m/02", 7]],
}


def test_kg_equal_answer_passes():
    got = oracles.compare_kg(WANT_KG["triples"], WANT_KG["assertions"], WANT_KG)
    assert got["ok"] and got["triple_p"] == got["triple_r"] == 1.0


def test_kg_missing_triple_fails():
    got = oracles.compare_kg(WANT_KG["triples"][:1], WANT_KG["assertions"], WANT_KG)
    assert not got["ok"] and got["triple_r"] == 0.5


def test_kg_altered_assertion_fails():
    got = oracles.compare_kg(WANT_KG["triples"], [["/m/01", 3], ["/m/02", 8]], WANT_KG)
    assert not got["ok"] and got["assertion_p"] == 0.5


def test_kg_confidence_drift_fails():
    drift = [["/m/01", "p", "/m/02", 0.5 + 1e-4], WANT_KG["triples"][1]]
    got = oracles.compare_kg(drift, WANT_KG["assertions"], WANT_KG)
    assert not got["ok"] and got["max_conf_diff"] > oracles.CONF_TOL


def test_frames_ignore_row_and_column_order():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    got = pd.DataFrame({"v": [0.25, 0.5], "k": [2, 1]})
    assert oracles.compare_frames(got, want) is None


def test_frames_altered_value_or_row_count_differs():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    assert "column v" in oracles.compare_frames(
        pd.DataFrame({"k": [1, 2], "v": [0.5, 0.2501]}), want
    )
    assert "rows" in oracles.compare_frames(want.iloc[:1], want)


class _Result:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_suite_counts_an_altered_answer_as_failure(tmp_path, monkeypatch):
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    want.to_pickle(tmp_path / "q_ok.pkl")
    want.to_pickle(tmp_path / "q_bad.pkl")
    registry = {
        "q_ok": lambda spark, d: _Result(want),
        "q_bad": lambda spark, d: _Result(want.assign(v=[0.5, 0.3])),
        "q_raises": lambda spark, d: 1 / 0,
    }
    monkeypatch.setattr(suite.queries, "QUERIES", registry)
    walls, cpus, failures = suite.run_pass(None, "", ["q_ok", "q_bad", "q_raises"], str(tmp_path))
    assert set(walls) == set(cpus) == {"q_ok", "q_bad"}
    assert [f.split(":")[0] for f in failures] == ["q_bad", "q_raises"]
