"""Pluggable tokenizer seam for token-denominated operators.

Real LLM-pipeline accounting (packing caps, context budgets, mix
weights) is BPE-token-denominated, not whitespace-word-denominated
(SURVEY.md §2 gap closed in r5 — cf. cesium's featurize pipelines,
which likewise parameterize the unit of measurement, †feature-family
registry). Two tokenizers:

- ``'ws'`` — whitespace words (the r1–r4 default; unchanged).
- ``'toy_bpe'`` — a FROZEN greedy longest-prefix subword tokenizer
  over a literal merges vocabulary: each lowercased whitespace word is
  consumed left-to-right, at every position matching the longest vocab
  unit (4 > 3 > 2 chars) or falling back to a single character. This
  is the deterministic core of real BPE inference (greedy maximal
  munch over a frozen vocab) with a small fixed vocabulary, chosen
  because it is EXACTLY restatable in ANSI SQL: the per-word scan is a
  left fold, replayed in DuckDB as a recursive CTE over (pos, cnt)
  states (the lz76 replay precedent).

Engine side the whole thing is ONE native Spark SQL expression —
nested higher-order functions (filter → transform → aggregate), zero
Python in the hot path, fully inside whole-stage codegen. Cost is
O(total chars), the same asymptotics as real tokenization.

The vocabulary is a frozen public artifact of this module: common
English subwords, lengths 4/3/2, all lowercase ASCII. Changing it
changes token accounting everywhere — treat it like a schema.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKENIZERS = ("ws", "toy_bpe")

# frozen merges vocabulary — longest-match-first tiers
TOY_BPE_UNITS_4 = (
    "tion", "ment", "ally", "ance", "ence", "able", "ight", "ough",
    "ware", "ction",  # note: 'ction' is len 5 — see tier check below
)
# keep tiers honest: every unit must sit in its length tier
TOY_BPE_UNITS_4 = tuple(u for u in TOY_BPE_UNITS_4 if len(u) == 4)
TOY_BPE_UNITS_3 = (
    "the", "ing", "and", "ion", "ent", "for", "ter", "est", "ers",
    "int", "ess", "ant", "ist", "ure", "age", "con", "com", "pro",
    "per", "ati",
)
TOY_BPE_UNITS_2 = (
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
    "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
    "ve", "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea",
    "ra", "ce", "li", "ch", "ll", "be", "ma", "si", "om", "ur",
)

assert all(len(u) == 3 for u in TOY_BPE_UNITS_3)
assert all(len(u) == 2 for u in TOY_BPE_UNITS_2)


def _in_list(units: tuple[str, ...]) -> str:
    return ", ".join(f"'{u}'" for u in units)


def match_len_sql(word: str, pos: str) -> str:
    """The greedy longest-match step: SQL fragment (valid in BOTH
    Spark SQL and DuckDB) giving the number of characters consumed at
    1-based position ``pos`` of ``word``."""
    return (
        f"CASE WHEN substring({word}, {pos}, 4) IN "
        f"({_in_list(TOY_BPE_UNITS_4)}) THEN 4 "
        f"WHEN substring({word}, {pos}, 3) IN "
        f"({_in_list(TOY_BPE_UNITS_3)}) THEN 3 "
        f"WHEN substring({word}, {pos}, 2) IN "
        f"({_in_list(TOY_BPE_UNITS_2)}) THEN 2 "
        f"ELSE 1 END"
    )


# Spark-side per-word fold: state (pos, cnt); each step either skips
# (position already consumed by a longer match) or emits one token and
# advances by the matched unit length. sequence(1, n) iterations bound
# the scan — min advance is 1 char.
def _word_count_expr(word: str) -> str:
    ml = match_len_sql(word, "i")
    return (
        f"CASE WHEN length({word}) = 0 THEN 0 ELSE "
        f"aggregate(sequence(1, length({word})), "
        f"named_struct('pos', 1, 'cnt', 0), "
        f"(acc, i) -> IF(i < acc.pos, acc, "
        f"named_struct('pos', i + {ml}, 'cnt', acc.cnt + 1)), "
        f"acc -> acc.cnt) END"
    )


def toy_bpe_token_count(text_col: str = "text") -> Column:
    """Total toy-BPE token count of a text column as ONE native Spark
    expression (int; NULL text counts 0 — the budget_crossing rule)."""
    words = (f"filter(split(lower(coalesce({text_col}, '')), "
             f"'[ \\\\t\\\\n\\\\r\\\\f]+'), x -> x != '')")
    return F.expr(
        f"aggregate(transform({words}, w -> {_word_count_expr('w')}), "
        f"0, (a, x) -> a + x)")


def ws_split(text: Column) -> Column:
    """Lowercased split on ASCII whitespace, NULL as "": the 'ws'
    convention's raw array (may hold "" pieces at the ends)."""
    return F.split(F.lower(F.coalesce(text, F.lit(""))), r"[ \t\n\r\f]+")


def ws_tokens(text: Column) -> Column:
    """The 'ws' token array: ``ws_split`` without "" pieces."""
    return F.filter(ws_split(text), lambda x: x != "")


def ws_token_count(text_col: str = "text") -> Column:
    """Whitespace token count (the r1–r4 convention), NULL-safe."""
    return F.size(ws_tokens(F.col(text_col)))


def token_count(text_col: str = "text",
                tokenizer: str = "ws") -> Column:
    """The seam: token count of ``text_col`` under the chosen
    tokenizer. All token-denominated operators route through here."""
    if tokenizer not in TOKENIZERS:
        raise ValueError(
            f"unknown tokenizer {tokenizer!r}; one of {TOKENIZERS}")
    if tokenizer == "toy_bpe":
        return toy_bpe_token_count(text_col)
    return ws_token_count(text_col)


def duckdb_token_count_cte(src: str, id_cols: str,
                           text_col: str = "text",
                           out: str = "n_tokens") -> str:
    """Oracle replay: a DuckDB SQL fragment (WITH RECURSIVE body)
    computing per-row toy-BPE token counts over ``src``.

    Returns CTE definitions ``__tok_words/__tok_step/{out}_cte``;
    ``{out}_cte`` has columns ({id_cols}, {out}). Compose as
    ``WITH RECURSIVE {fragment}, rest AS (...) SELECT ...``. The
    recursion replays the SAME greedy fold as the engine (identical
    match CASE, identical lowercase/split), step-for-step.
    """
    ml = match_len_sql("w", "pos")
    return f"""__tok_words AS (
  SELECT {id_cols}, __row_tok_id, w, length(w) AS len
  FROM (
    SELECT {id_cols},
           unnest(list_filter(string_split_regex(
               lower(coalesce({text_col}, '')), '[ \\t\\n\\r\\f]+'),
               x -> x != '')) AS w,
           generate_subscripts(list_filter(string_split_regex(
               lower(coalesce({text_col}, '')), '[ \\t\\n\\r\\f]+'),
               x -> x != ''), 1) AS __row_tok_id
    FROM {src}
  )
),
__tok_step AS (
  SELECT {id_cols}, __row_tok_id, w, len, 1 AS pos, 0 AS cnt
  FROM __tok_words
  UNION ALL
  SELECT {id_cols}, __row_tok_id, w, len,
         pos + ({ml}), cnt + 1
  FROM __tok_step WHERE pos <= len
),
{out}_cte AS (
  SELECT {id_cols}, cast(coalesce(sum(cnt), 0) AS bigint) AS {out}
  FROM (
    SELECT {id_cols}, __row_tok_id, max(cnt) AS cnt
    FROM __tok_step GROUP BY {id_cols}, __row_tok_id
  ) GROUP BY {id_cols}
)"""
