"""r5 tokenizer seam: frozen toy-BPE greedy longest-match subword
counts — Spark nested-HOF expression vs a pure-Python reference of the
same greedy fold, plus the seam knobs on budget_crossing / token_stats
/ mix_weights. The vocabulary is frozen; these tests pin its tiers and
the greedy semantics so a vocab edit cannot silently change token
accounting everywhere."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from cesium_spark.functions.tokenizer import (
    TOY_BPE_UNITS_2, TOY_BPE_UNITS_3, TOY_BPE_UNITS_4, token_count)


def ref_count(text):
    """Pure-python replay of the greedy longest-match fold."""
    if text is None:
        return 0
    total = 0
    for w in [x for x in re.split(r"[ \t\n\r\f]+", text.lower()) if x]:
        pos = 0
        while pos < len(w):
            for ln, units in ((4, TOY_BPE_UNITS_4),
                              (3, TOY_BPE_UNITS_3),
                              (2, TOY_BPE_UNITS_2)):
                if w[pos:pos + ln] in units:
                    pos += ln
                    break
            else:
                pos += 1
            total += 1
    return total


def test_vocab_tiers_frozen():
    assert all(len(u) == 4 for u in TOY_BPE_UNITS_4)
    assert all(len(u) == 3 for u in TOY_BPE_UNITS_3)
    assert all(len(u) == 2 for u in TOY_BPE_UNITS_2)
    allu = TOY_BPE_UNITS_4 + TOY_BPE_UNITS_3 + TOY_BPE_UNITS_2
    assert len(set(allu)) == len(allu)
    assert all(u == u.lower() and u.isascii() for u in allu)


def test_spark_matches_reference(spark):
    texts = ["The station mentions information",
             "", None, "a", "THE THE the", "internationalization",
             "x" * 40, "hello world", "entertainment",
             "per-turn   latency\tnumbers\n42.5 ok",
             "aggregate agreement management"]
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(texts)), "text": texts}))
    got = {r["i"]: r["n"] for r in
           df.select("i", token_count("text", "toy_bpe").alias("n"))
           .collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref_count(t), (t, got[i], ref_count(t))


def test_greedy_is_longest_match(spark):
    # 'the' (3) wins over 'th' (2); 'tion' (4) wins over 'ti'+'on'
    df = spark.createDataFrame(pd.DataFrame(
        {"i": [0, 1], "text": ["the", "tion"]}))
    got = [r["n"] for r in df.select(
        "i", token_count("text", "toy_bpe").alias("n"))
        .orderBy("i").collect()]
    assert got == [1, 1]


def test_unknown_tokenizer_raises():
    with pytest.raises(ValueError, match="unknown tokenizer"):
        token_count("text", "gpt4")


def test_budget_crossing_bpe_knob(spark):
    from cesium_spark.operators.sequences import budget_crossing
    rows = [("c", 0, "the station"), ("c", 1, "entertainment"),
            ("c", 2, "xyz")]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]))
    # bpe counts: 1+3=4, 6, 3  (cumsum 4, 10, 13)
    [r] = budget_crossing(t, budget=9.0, tokenizer="toy_bpe").collect()
    assert r["total_cost"] == 13.0
    assert r["crossed"] is True and r["cross_turn_idx"] == 1
    assert r["cost_at_cross"] == 10.0
    # ws path unchanged: counts 2,1,1 → never crosses 9
    [r2] = budget_crossing(t, budget=9.0).collect()
    assert r2["crossed"] is False


def test_token_stats_bpe_knob(spark):
    from cesium_spark.operators.textstats import token_stats
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["the station"]}))
    [r] = token_stats(docs, tokenizer="toy_bpe").collect()
    assert r["n_tokens"] == 1 + 3
    assert r["est_bpe_tokens"] == r["n_tokens"]
    [rw] = token_stats(docs).collect()
    assert rw["n_tokens"] == 2


def test_token_stats_rejects_unknown_tokenizer(spark):
    """An unknown name raises, as token_count does, rather than counting
    whitespace words under a BPE-looking label."""
    from cesium_spark.operators.textstats import token_stats
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["the station"]}))
    with pytest.raises(ValueError, match="unknown tokenizer 'toy-bpe'"):
        token_stats(docs, tokenizer="toy-bpe")


def test_mix_weights_bpe_knob(spark):
    from cesium_spark.operators.sampling import mix_weights
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "source": ["a", "b"],
        "text": ["the the the", "xyzzy"]}))
    out = {r["source"]: r for r in
           mix_weights(docs, alpha=1.0, tokenizer="toy_bpe").collect()}
    # bpe: 'the'×3 → 3 tokens; 'xyzzy' → x+y+z+z+y=5 (no vocab hits)
    assert out["a"]["n_tokens"] == 3
    assert out["b"]["n_tokens"] == 5
    assert out["a"]["raw_share"] == pytest.approx(3 / 8)
