"""Oracle answers (cached outside every timer) and the comparisons.

- KG: ``oracle_ref.run_pipeline`` on the same corpus prefix. The
  canonical triples (subj, pred, obj) and the (entity_id, type_id)
  assertions must match at P = R = 1.0, and each triple's confidence
  within ``CONF_TOL``.
- Queries: DuckDB runs the registry's oracle SQL over the same parquet
  files; both sides are canonicalised the way the strict gate does
  (sorted columns, floats rounded to 6 dp, rows sorted) and compared
  column by column on their string forms, with no tolerance.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

CONF_TOL = 1e-6


# --------------------------------------------------------------------- KG


def kg_answer(corpus) -> dict:
    """The oracle's canonical triples and assertion keys for ``corpus``."""
    from noise_mitigation_spark import oracle_ref

    out = oracle_ref.run_pipeline(corpus)
    tc = out["triples_canon"]
    a = out["assertions"]
    return {
        "triples": [
            [s, p, o, float(c)]
            for s, p, o, c in zip(tc["subj"], tc["pred"], tc["obj"], tc["conf"])
        ],
        "assertions": [[e, int(t)] for e, t in zip(a["entity_id"], a["type_id"])],
    }


def cached_kg_answer(corpus, path: str) -> dict:
    """The answer cached at ``path``, computed from ``corpus`` first if
    it is not there yet."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ans = kg_answer(corpus)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ans, f)
    os.replace(tmp, path)
    return ans


def _pr(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return (tp / len(got) if got else float(not want), tp / len(want) if want else 1.0)


def compare_kg(triples: list, assertions: list, want: dict) -> dict:
    """P/R of the triple and assertion key sets plus the largest
    confidence gap on matching triples; ``ok`` only at P = R = 1.0
    with every gap within CONF_TOL."""
    got_t = {tuple(t[:3]): t[3] for t in triples}
    want_t = {tuple(t[:3]): t[3] for t in want["triples"]}
    got_a = {tuple(a) for a in assertions}
    want_a = {tuple(a) for a in want["assertions"]}
    tp, tr = _pr(set(got_t), set(want_t))
    ap, ar = _pr(got_a, want_a)
    gap = max(
        (abs(got_t[k] - want_t[k]) for k in got_t.keys() & want_t.keys()), default=0.0
    )
    return {
        "ok": tp == tr == ap == ar == 1.0 and gap <= CONF_TOL,
        "triples": len(got_t),
        "assertions": len(got_a),
        "triple_p": tp,
        "triple_r": tr,
        "assertion_p": ap,
        "assertion_r": ar,
        "max_conf_diff": gap,
    }


# ---------------------------------------------------------------- queries


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """The strict gate's canonical form of a result table."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64).round(6)
        elif df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the canonical tables are equal, else what differs."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g = got[c].astype(str).to_numpy()
        w = want[c].astype(str).to_numpy()
        bad = int((g != w).sum())
        if bad:
            return f"column {c}: {bad} values differ"
    return None


def cached_query_answers(data_dir: str, cache_dir: str, names: list[str]) -> None:
    """Compute and pickle DuckDB's answer for each named query once per
    data directory; later runs only read the pickles."""
    missing = [n for n in names if not os.path.exists(os.path.join(cache_dir, f"{n}.pkl"))]
    if not missing:
        return
    import duckdb

    from noise_mitigation_spark import queries

    from .suitedata import TABLES

    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for n in missing:
        con.execute(queries.ORACLES[n]).df().to_pickle(os.path.join(cache_dir, f"{n}.pkl"))
    con.close()


def load_query_answer(cache_dir: str, name: str) -> pd.DataFrame:
    return pd.read_pickle(os.path.join(cache_dir, f"{name}.pkl"))
