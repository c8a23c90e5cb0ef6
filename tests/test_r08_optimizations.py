"""Focused tests for the round-8 optimization internals: every change
promised bit-identical results — these pin the promises directly.

- the numpy xxhash64 twin must equal Spark's xxhash64 (single and
  chained-seed two-arg forms) — the contract the vectorized shingle /
  window chains and minhash band keys rest on;
- ngram_jaccard_pairs' replicated-index and exchange paths must agree
  with each other and with a brute-force reference, boundary cases
  included;
- Myers' bit-parallel WER distance must equal the quadratic DP;
- batch winnowing must equal the per-row formulation on every length
  class;
- the fused minhash doc pass must reproduce
  minhash_signature_from_hashes(word_shingle_hashes(...)) exactly;
- lm_score's hashed-key path must score identically to the string
  path;
- every replicate-or-shuffle guard (jepl_spark.operators.replicate)
  is forced each way through its one seam, and a spy shows the two
  arms ran different paths with equal output.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from jepl_spark.operators import dedup as D
from jepl_spark.operators import replicate as R
from jepl_spark.operators import text as T

from helpers import spy


def _forced(monkeypatch, local: bool):
    """Force every replicate-or-shuffle guard to one side."""
    monkeypatch.setattr(R, "fits", lambda size, bound=None: local)


def _both_arms(monkeypatch, module, local_fn, run):
    """Run ``run()`` with the guards forced local, then forced to the
    shuffle side; the spy on ``module.local_fn`` must have fired in the
    first arm only.  Returns the two outputs."""
    calls = spy(monkeypatch, module, local_fn)
    _forced(monkeypatch, True)
    local = run()
    assert calls, f"{local_fn} did not run in the local arm"
    calls.clear()
    _forced(monkeypatch, False)
    shuffled = run()
    assert not calls, f"{local_fn} ran in the shuffle arm"
    return local, shuffled


def test_np_xxhash64_twin_matches_spark(spark):
    random.seed(11)
    vals = [
        (random.randrange(-2**63, 2**63), random.randrange(-2**63, 2**63))
        for _ in range(500)
    ] + [(0, 0), (1, -1), (2**63 - 1, -2**63), (42, 42)]
    df = spark.createDataFrame(vals, "a long, b long")
    rows = df.selectExpr("a", "b", "xxhash64(a) ha", "xxhash64(a,b) hab").collect()
    a = np.array([r.a for r in rows], dtype=np.int64).view(np.uint64)
    b = np.array([r.b for r in rows], dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        ha = D._np_hash_long(a, np.uint64(42))
        hab = D._np_hash_long(b, ha)
    assert np.array_equal(
        ha.view(np.int64), np.array([r.ha for r in rows], dtype=np.int64)
    )
    assert np.array_equal(
        hab.view(np.int64), np.array([r.hab for r in rows], dtype=np.int64)
    )


def _brute_jaccard_pairs(rows, n, min_j, cap):
    """Reference: per-doc distinct shingle TUPLES, df cap, exact
    jaccard with full-set-size union denominators."""
    import itertools

    docs = []
    for doc_id, text in rows:
        if text is None:
            continue
        toks = [t for t in
                __import__("re").split(r"\s+", text.strip()) or [""]]
        toks = [t.lower() for t in (toks if toks else [""])]
        if text.strip() == "":
            toks = [""]
        if len(toks) < n:
            sh = {tuple(toks)}
        else:
            sh = {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        docs.append((doc_id, sh))
    df_count: dict = {}
    for _id, sh in docs:
        for s in sh:
            df_count[s] = df_count.get(s, 0) + 1
    out = []
    for (ia, sa), (ib, sb) in itertools.combinations(docs, 2):
        if ia is None or ib is None:
            continue
        a, b = (ia, ib) if ia < ib else (ib, ia)
        sha, shb = (sa, sb) if ia < ib else (sb, sa)
        common = sum(
            1 for s in sha & shb if df_count[s] <= cap
        )
        if common == 0:
            continue
        j = common / (len(sa) + len(sb) - common)
        if j >= min_j:
            out.append((a, b, pytest.approx(j)))
    return sorted(out)


@pytest.mark.parametrize("cap,min_j", [(1000, 0.1), (2, 0.1), (1000, 0.0)])
def test_ngram_paths_agree_and_match_reference(spark, monkeypatch, cap, min_j):
    rows = [
        (1, "a b c d e f g"),
        (2, "a b c d e f g"),
        (3, "a b c d x y z"),
        (None, "a b c d e f g"),   # null id: df counts yes, pairs no
        (4, "a b"),                # shorter than n
        (5, ""),                   # empty -> [""] singleton shingle
        (6, "q r s t u v w"),
        (7, None),                 # null text -> no postings
        (8, "A B c D e f g"),      # case folding
    ]
    tiny = spark.createDataFrame(rows, "doc_id long, text string")

    def run(materialize=True):
        return sorted(tuple(r) for r in D.ngram_jaccard_pairs(
            tiny, min_jaccard=min_j, max_shingle_df=cap,
            materialize=materialize).collect())

    rep, exc = _both_arms(
        monkeypatch, D, "_ngram_jaccard_pairs_replicated", run)
    assert rep == exc
    assert run(materialize=False) == exc  # lazy plan: never collects
    ref = _brute_jaccard_pairs(
        [(r[0], r[1]) for r in rows], 3, min_j, cap)
    assert [(a, b) for a, b, _ in ref] == [(a, b) for a, b, _ in rep]
    for (_, _, jref), (_, _, jgot) in zip(ref, rep):
        assert jref == jgot


def test_ngram_string_ids_match_integer_ids(spark, monkeypatch):
    """String ids run on long surrogates, on both paths: the same
    corpus under string ids gives the integer-id pairs, mapped back as
    (least, greatest) of the original ids — including a null id and a
    duplicate id.  materialize=False cannot freeze surrogates and
    raises."""
    texts = [(3, "a b c d"), (1, "a b c d"), (2, "a b c x"),
             (None, "a b c d"), (4, "p q r s"), (4, "a b c d"),
             (10, "a b c x")]
    num = spark.createDataFrame(texts, "doc_id long, text string")
    # string order reverses integer order: pairs must re-sort
    names = {i: f"id{100 - i}" for i in (1, 2, 3, 4, 10)}
    strs = spark.createDataFrame(
        [(None if i is None else names[i], t) for i, t in texts],
        "doc_id string, text string")
    for kwargs in ({"min_jaccard": 0.5}, {"min_jaccard": 0.0},
                   {"max_shingle_df": 2}):
        want = sorted(
            (min(names[a], names[b]), max(names[a], names[b]), j)
            for a, b, j in D.ngram_jaccard_pairs(num, **kwargs).collect())
        assert want
        rep, exc = _both_arms(
            monkeypatch, D, "_ngram_jaccard_pairs_replicated",
            lambda: sorted(tuple(r) for r in
                           D.ngram_jaccard_pairs(strs, **kwargs).collect()))
        assert rep == exc == want, kwargs
    with pytest.raises(ValueError, match="materialize=False"):
        D.ngram_jaccard_pairs(strs, materialize=False)


def test_myers_wer_matches_reference_dp(spark):
    def ref(a, b):
        n, m = len(a), len(b)
        prev = list(range(m + 1))
        for i in range(n):
            cur = [i + 1] + [0] * m
            for j in range(1, m + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (a[i] != b[j - 1]))
            prev = cur
        return prev[m]

    random.seed(3)
    rows = []
    for _ in range(60):
        V = [f"t{i}" for i in range(random.choice([1, 2, 5, 20]))]
        rows.append((
            " ".join(random.choice(V)
                     for _ in range(random.randrange(0, 70))) or None,
            " ".join(random.choice(V)
                     for _ in range(random.randrange(0, 70))) or None,
        ))
    df = spark.createDataFrame(rows, "text string, hyp string")
    out = T.transcript_wer(df).collect()
    for (ref_t, hyp_t), r in zip(rows, out):
        if ref_t is None or hyp_t is None:
            assert r.edit_dist is None
        else:
            assert r.edit_dist == ref(ref_t.split(), hyp_t.split())


def test_batch_winnow_equals_per_row_reference(spark):
    import re as _re

    k, window = 8, 4
    weights = np.array(
        [31 ** (k - 1 - j) for j in range(k)], dtype=np.int64)

    def one(text_val):
        if text_val is None:
            return []
        s = _re.sub(r"[ \t\n\x0b\f\r]+", " ", text_val).strip(" ").lower()
        if not s:
            return []
        codes = np.frombuffer(
            s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        n = codes.shape[0]
        if n < k:
            h = 0
            for c in codes.tolist():
                h = h * 31 + c
            return [h]
        grams = np.zeros(n - k + 1, dtype=np.int64)
        for j in range(k):
            grams += codes[j:n - k + 1 + j] * weights[j]
        if grams.shape[0] < window:
            return [int(grams.min())]
        mins = np.lib.stride_tricks.sliding_window_view(
            grams, window).min(axis=1)
        return sorted(set(mins.tolist()))

    texts = [None, "", "   ", "ab", "abcdefg", "abcdefgh", "abcdefghij",
             "Héllo Wörld  x\t y\nz", "the quick brown fox " * 5]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r.i: list(r.fp) for r in df.select(
        "i", T.winnow_fingerprints(F.col("text")).alias("fp")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == [int(x) for x in one(t)], f"row {i}: {t!r}"


def test_fused_minhash_doc_pass_matches_signature_pipeline(spark):
    texts = ["a b c d e f", "a b c d e f", "x y", "", None,
             "one two three four five six seven eight nine"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    toks = D._norm_tokens(F.col("text"))
    fused = df.select(
        "doc_id",
        D._minhash_doc_udf(3, 64, 16)(
            D._token_hashes(toks), F.xxhash64(F.concat_ws(" ", toks))
        ).alias("sb"),
    ).select("doc_id", F.col("sb.sig").alias("sig")).collect()
    plain = df.select(
        "doc_id",
        D.minhash_signature_from_hashes(
            D.word_shingle_hashes(F.col("text"), 3), 64).alias("sig"),
    ).collect()
    f = {r.doc_id: (None if r.sig is None else list(r.sig)) for r in fused}
    p = {r.doc_id: (None if r.sig is None else list(r.sig)) for r in plain}
    assert f == p


def test_components_local_path_matches_iterative(spark, monkeypatch):
    random.seed(9)
    n = 400
    edges = [(random.randrange(n), random.randrange(n))
             for _ in range(500)] + [(7, 7)]  # self-loop dropped
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast, slow = _both_arms(
        monkeypatch, D, "_components_local",
        lambda: sorted(tuple(r) for r in
                       D.near_dup_components(df).collect()))
    assert fast == slow
    # contract: component == smallest reachable id
    comp = dict(fast)
    for a, b in edges:
        if a != b:
            assert comp[a] == comp[b]
            assert comp[a] <= min(a, b)


def test_lm_hashed_path_matches_string_path(spark):
    texts = ["the cat sat on the mat", "the dog sat on the log",
             "one", "", None, "the cat sat on the mat again"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    lm_h = T.lm_train(df, hash_keys=True)
    lm_s = T.lm_train(df, hash_keys=False)
    rh = {r.doc_id: (r.n_bigrams, r.avg_logp)
          for r in T.lm_score(df, lm_h).collect()}
    rs = {r.doc_id: (r.n_bigrams, r.avg_logp)
          for r in T.lm_score(df, lm_s).collect()}
    assert rh == rs


def test_lm_replicated_path_matches_join_path(spark, monkeypatch):
    """The size-guarded replicated score path (collect + broadcast the
    hashed model, binary-search lookups in one Arrow pass) must equal
    the exploded shuffle-join formulation row-for-row — including
    zero-bigram docs (null/empty/one-token), a duplicated doc_id
    (occurrences aggregate across the doc's rows in both paths), and
    min_count pruning of the whole bigram table."""
    rows = [(1, "hello world hello"), (2, None), (3, ""), (4, "single"),
            (5, "a b c a b"), (5, "x y"), (6, "the cat sat the cat"),
            (7, "a a a a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kwargs in ({}, {"min_count": 10}, {"alpha": 2.0}):
        lm = T.lm_train(df, hash_keys=True, **kwargs)
        rep, join = _both_arms(
            monkeypatch, T, "_lm_score_replicated",
            lambda: {(r.doc_id, r.n_bigrams, r.avg_logp)
                     for r in T.lm_score(df, lm).collect()})
        assert rep == join, kwargs


def test_dedup_against_replicated_matches_join_path(spark, monkeypatch):
    """The replicated minhash dedup_against probe (collect + broadcast
    the snapshot signature matrix, binary-search band postings) must
    drop exactly the docs the banded-join formulation drops — across
    thresholds, with the hot-bucket cap forced low enough to fire on
    both sides, with the cap disabled, and with near-dup / exact-dup /
    unrelated / null / empty / short delta docs."""
    base = [
        (i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(30)))
        for i in range(40)
    ]
    # shared boilerplate block → hot buckets at tiny caps
    base += [(100 + i, "common block of words here " + f"tail{i}")
             for i in range(12)]
    snap_df = spark.createDataFrame(base, "doc_id long, text string")
    snap = D.minhash_signature_table(snap_df)
    delta = spark.createDataFrame(
        [(200, base[3][1]),                      # exact dup
         (201, base[5][1].replace("w12", "zz")), # near dup
         (202, "totally different content phrase nothing shared"),
         (203, None), (204, ""), (205, "tiny"),
         (206, "common block of words here tail3"),
         (206, base[7][1])],                     # duplicate delta id
        "doc_id long, text string")
    for kwargs in ({}, {"threshold": 0.5}, {"max_band_bucket": 2},
                   {"max_band_bucket": None}):
        rep, join = _both_arms(
            monkeypatch, D, "_minhash_against_losers_replicated",
            lambda: sorted((r.doc_id, r.text) for r in D.dedup_against(
                delta, snap, policy="minhash", **kwargs).collect()))
        assert rep == join, kwargs


def test_boilerplate_local_path_matches_join_path(spark, monkeypatch):
    """strip_boilerplate_lines' collected-hot-set projection must
    rebuild exactly what the join-back + ordered-reassembly shape
    rebuilds — within-doc duplicate lines, whitespace-padded matches,
    blank separators, NULL/empty docs, min_line_chars screening, a
    custom out_col, the nothing-to-strip identity case, and duplicate
    doc_ids: each physical row keeps its own text (two same-id rows
    with different texts, two fully identical rows, a NULL id)."""
    rows = [(1, "keep\nSPAM\nkeep2"), (2, "SPAM\nSPAM\nother"),
            (3, None), (4, ""), (5, "\n\n"), (6, "  SPAM  \nx"),
            (7, "a\nSPAM"), (8, "z\nSPAM"), (9, "  \nq"),
            (1, "first\nSPAM"), (7, "a\nSPAM"), (None, "SPAM\nn")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kwargs in ({"max_df": 2}, {"max_df": 2, "min_line_chars": 5},
                   {"max_df": 2, "out_col": "clean"}, {"max_df": 100}):
        loc, join = _both_arms(
            monkeypatch, T, "_strip_boilerplate_local",
            lambda: sorted(
                (tuple(r) for r in
                 T.strip_boilerplate_lines(df, **kwargs).collect()),
                key=repr))
        assert loc == join, kwargs
        assert len(join) == len(rows), kwargs
        if "out_col" in kwargs:
            assert (1, "keep\nSPAM\nkeep2", "keep\nkeep2") in join
            assert (1, "first\nSPAM", "first") in join
            assert join.count((7, "a\nSPAM", "a")) == 2
