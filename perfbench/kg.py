"""KG workload: a from-scratch lineage build, and in the traced run one
delta append.

These call exactly what ``jobs/run_pipeline.py`` calls:
``pipeline.run(..., out_dir=<fresh dir>)`` for the build and
``incremental.run_incremental`` for the delta.

``traced_build`` calls the same public functions in the same order as
``pipeline.run`` but forces each module's output under its own job
group, and times ``lineage.materialize`` separately on the forced
outputs. It restates the plan, so it must follow ``pipeline.run`` when
that changes; the oracle check on its output catches a divergence in
answers, and the traced-minus-untraced overhead catches one in cost.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from noise_mitigation_spark.operators import linking, mentions, miml, relations, scoring
from noise_mitigation_spark.plans import incremental, lineage, pipeline

PAIR_KEY = ["repo", "path", "commit", "sent_id", "subj", "obj"]


def load_inputs(spark, corpus_dir: str):
    """Aliases, vocab and embeddings the way jobs/run_pipeline.py loads
    them."""
    aliases = spark.read.parquet(f"{corpus_dir}/aliases.parquet")
    emb_pdf = pd.read_parquet(f"{corpus_dir}/embeddings.parquet").sort_values("idx")
    vocab = dict(zip(emb_pdf["token"], emb_pdf["idx"]))
    emb = np.stack(emb_pdf["vector"].to_numpy()).astype(np.float32)
    return aliases, vocab, emb


def build(spark, docs, aliases, vocab, emb, out_dir: str):
    """One timed from-scratch build; ends when the triples_canon
    manifest is written and the assertions are counted."""
    t0 = time.perf_counter()
    res = pipeline.run(spark, docs, aliases, vocab, emb, out_dir=out_dir)
    res.assertions.count()
    return time.perf_counter() - t0, res


def append(spark, docs, aliases, vocab, emb, out_dir: str):
    """One timed ``run_incremental`` call, ended the same way."""
    t0 = time.perf_counter()
    res = incremental.run_incremental(spark, docs, aliases, vocab, emb, out_dir)
    res.assertions.count()
    return time.perf_counter() - t0, res


def dump_outputs(res, path: str) -> None:
    """Collect a run's canonical triples and assertion keys (outside
    every timer) for the oracle compare."""
    triples = [
        [r["subj"], r["pred"], r["obj"], float(r["conf"])]
        for r in res.triples_canon.select("subj", "pred", "obj", "conf").collect()
    ]
    assertions = [
        [r["entity_id"], int(r["type_id"])]
        for r in res.assertions.select("entity_id", "type_id").collect()
    ]
    with open(path, "w") as f:
        json.dump({"triples": triples, "assertions": assertions}, f)


def _force(df, tracer, group: str):
    with tracer.group(group):
        df = df.cache()
        rows = df.count()
    tracer.rows[group] = tracer.rows.get(group, 0) + rows
    return df


def traced_build(spark, docs, aliases, vocab, emb, out_dir: str, tracer):
    """``pipeline.run`` (default parameters) with one job group per
    module; returns the traced wall and a PipelineResult whose
    mention and pair views are left empty."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    vocab_b = sc.broadcast(vocab)
    emb_b = sc.broadcast(emb)
    if len(docs.inputFiles()) < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    with tracer.group("lineage"):
        doc_fp = lineage.fingerprint_documents(docs)
    emb_fp = hashlib.sha256(
        emb.tobytes()
        + "\x00".join(f"{t}\t{i}" for t, i in sorted(vocab.items())).encode()
    ).hexdigest()[:16]
    fp_parsed = f"{doc_fp}|emb:{emb_fp}"
    fp_scored = f"{fp_parsed}|enc:cnn"
    fp_att = f"{fp_scored}|salt:{miml.N_SALT_DEFAULT}"
    fp_triples = f"{fp_att}|relth:0.095|mode:weighted|pad:window"

    def materialize(df, stage, fp):
        with tracer.group("lineage"):
            out = lineage.materialize(spark, df, out_dir, stage, fp)
        df.unpersist()
        return out

    parsed = _force(
        lineage.with_doc_bucket(mentions.parse_documents(docs, vocab_b)), tracer, "mentions"
    )
    parsed = materialize(parsed, "parsed", fp_parsed)
    scored = _force(
        lineage.with_doc_bucket(scoring.score_mentions(mentions.mentions_view(parsed), emb_b)),
        tracer,
        "scoring",
    )
    scored = materialize(scored, "scored", fp_scored)
    ent_att = _force(miml.miml_attention(scored), tracer, "miml")
    ent_att = materialize(ent_att, "ent_att", fp_att)
    triples = _force(
        relations.bag_triples(
            relations.score_pairs(
                relations.attach_type_vectors(mentions.pairs_view(parsed), ent_att), emb_b
            )
        ),
        tracer,
        "relations",
    )
    triples = materialize(triples, "triples", fp_triples)
    with tracer.group("linking"):
        canon = linking.canonical_map(aliases)
    triples_canon = _force(linking.canonicalize_triples(triples, canon), tracer, "linking")
    with tracer.group("lineage"):
        alias_fp = lineage.fingerprint_df(aliases, ["entity_id", "name"])
    triples_canon = materialize(
        triples_canon, "triples_canon", f"{fp_triples}|aliases:{alias_fp}"
    )
    assertions = miml.type_assertions(ent_att)
    with tracer.group("miml"):
        assertions.count()
    return time.perf_counter() - t0, pipeline.PipelineResult(
        mentions=None, pairs=None, ent_max_avg=None, ent_att=ent_att,
        assertions=assertions, triples=triples, canon=canon,
        triples_canon=triples_canon,
    )  # fmt: skip


def append_ratios(res, delta_docs) -> dict:
    """Work amplification of one append, read from the stage tables it
    left (outside every timer): mentions re-aggregated per delta
    mention, and pairs re-scored per delta pair."""
    keys = delta_docs.select("repo", "path", "commit")
    ment = res.mentions.select("repo", "path", "commit", "entity_id")
    delta_ment = ment.join(keys, ["repo", "path", "commit"], "semi")
    affected = delta_ment.select("entity_id").distinct()
    n_delta_ment = delta_ment.count()
    n_rebag = ment.join(affected, "entity_id", "semi").count()
    pairs = res.pairs.select(*PAIR_KEY)
    delta_pairs = pairs.join(keys, ["repo", "path", "commit"], "semi").count()
    aff = affected.select(F.col("entity_id").alias("e"))
    rescored = (
        pairs.join(aff, pairs["subj"] == aff["e"], "semi")
        .unionByName(pairs.join(aff, pairs["obj"] == aff["e"], "semi"))
        .dropDuplicates(PAIR_KEY)
        .count()
    )
    return {
        "rebag_amplification": n_rebag / max(n_delta_ment, 1),
        "pairs_rescored_ratio": rescored / max(delta_pairs, 1),
    }


def stage_files(out_dir: str) -> int:
    return sum(
        lineage.stage_file_count(out_dir, s)
        for s in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, s, "data"))
    )
