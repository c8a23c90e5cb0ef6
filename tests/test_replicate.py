"""The one replicate-or-shuffle guard (jepl_spark.operators.replicate).

- each guard bounds what it collects, not the input it scans: an LM
  model too big for the budget keeps the join path however small the
  scored corpus is, and a minhash dedup_against delta of many short
  docs is bounded by rows × signature width, not by its raw bytes;
- the source keeps one plan-stats probe and one budget, so a new guard
  cannot grow its own copy unnoticed.
"""

from __future__ import annotations

import ast
import os
import re

from jepl_spark.operators import dedup as D
from jepl_spark.operators import replicate as R
from jepl_spark.operators import text as T

from helpers import spy

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jepl_spark")


def _parquet(spark, tmp_path, name, rows):
    path = str(tmp_path / name)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def test_lm_guard_bounds_the_model_not_the_scored_corpus(
        spark, tmp_path, monkeypatch):
    train = _parquet(spark, tmp_path, "train", [
        (i, " ".join(f"w{(i * 13 + k * 7) % 997}" for k in range(40)))
        for i in range(400)
    ])
    delta = _parquet(spark, tmp_path, "delta", [
        (1, "w1 w8 w15 w22"), (2, None), (3, "w5 w12")])
    lm = T.lm_train(train, hash_keys=True)
    model = R.planned_bytes(lm.table, lm.uni, row_bytes=16)
    scored = R.planned_bytes(delta)
    assert scored is not None and model is not None and scored < model
    calls = spy(monkeypatch, T, "_lm_score_replicated")

    def score():
        return sorted(tuple(r) for r in T.lm_score(delta, lm).collect())

    # the scored delta fits the budget, the model does not
    monkeypatch.setattr(R, "BUDGET_BYTES", scored)
    joined = score()
    assert not calls
    monkeypatch.setattr(R, "BUDGET_BYTES", model)
    assert score() == joined
    assert calls


def test_dedup_against_short_docs_bounded_by_rows(
        spark, tmp_path, monkeypatch):
    delta = _parquet(spark, tmp_path, "delta", [
        (i, f"s{i} s{i + 1} s{i + 2}") for i in range(3000)])
    snap = _parquet(spark, tmp_path, "snap", [
        (10_000 + i, f"s{i} s{i + 1} s{i + 2}") for i in range(0, 60, 3)])
    raw = R.planned_bytes(delta)
    sigs = R.planned_bytes(delta, snap, row_bytes=(64 + 16) * 8)
    assert raw is not None and sigs is not None and raw < sigs
    calls = spy(monkeypatch, D, "_minhash_against_losers_replicated")

    def kept():
        return sorted(r.doc_id for r in D.dedup_against(
            delta, snap, policy="minhash").collect())

    # the delta's raw bytes fit the budget, its signature matrix does not
    monkeypatch.setattr(R, "BUDGET_BYTES", raw)
    joined = kept()
    assert not calls
    monkeypatch.setattr(R, "BUDGET_BYTES", sigs)
    assert kept() == joined
    assert calls
    assert len(joined) < 3000  # the snapshot's exact copies dropped


def test_one_stats_probe_and_one_budget():
    """Tooling guard against re-accretion: outside replicate.py no
    source calls ``optimizedPlan().stats()``, and no module defines its
    own ``*_MAX_BYTES`` / ``*_MAX_EDGES`` replicate threshold."""
    probe = re.compile(r"optimizedPlan\(\)\s*\.\s*stats\(\)")
    threshold = re.compile(r"_MAX_(BYTES|EDGES)$")
    found = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if rel != os.path.join("operators", "replicate.py") \
                    and probe.search(src):
                found.append(f"{rel}: optimizedPlan().stats()")
            for node in ast.parse(src).body:
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target]
                           if isinstance(node, ast.AnnAssign) else [])
                for t in targets:
                    if isinstance(t, ast.Name) and threshold.search(t.id):
                        found.append(f"{rel}: {t.id}")
    assert not found, found
