"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language ID (marker heuristic), document
fingerprinting. Everything except the winnowing fingerprint is pure
native Spark SQL expressions (codegen, pushdown-friendly); winnowing is
a per-doc kernel in a vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cesium_spark.functions.tokenizer import TOKENIZERS, token_count, ws_split, ws_tokens

STOPWORDS = ("the", "a", "of", "to", "and", "in", "for", "on", "with")

# marker words per language for the n-gram/marker language-ID heuristic
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|in|is|that)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "es": r"\b(el|la|los|de|que|y|es)\b",
    "fr": r"\b(le|la|les|et|est|que|des)\b",
}


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                tokenizer: str = "ws") -> DataFrame:
    """(id, n_tokens, n_chars, avg_token_len) — whitespace tokenization
    plus a BPE-ish subword estimate (≈ chars/4 heuristic, bounded below
    by word count). With ``tokenizer='toy_bpe'`` (r5 seam), n_tokens is
    the frozen-vocab greedy subword count and est_bpe_tokens IS that
    exact count (no heuristic). Any other name raises ``ValueError``."""
    if tokenizer not in TOKENIZERS:
        raise ValueError(
            f"unknown tokenizer {tokenizer!r}; one of {TOKENIZERS}")
    n_chars = F.length(text_col)
    if tokenizer == "toy_bpe":
        n_tokens = token_count(text_col, tokenizer)
        est_bpe = n_tokens
    else:
        n_tokens = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        est_bpe = F.greatest(n_tokens, F.ceil(n_chars / F.lit(4)).cast("int"))
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
        est_bpe.cast("long").alias("est_bpe_tokens"))


def vocab_topk(docs: DataFrame, k: int, id_col: str = "doc_id",
               text_col: str = "text", min_count: int = 1) -> DataFrame:
    """Corpus vocabulary heavy hitters: the k most frequent lowercased
    whitespace tokens with occurrence count, document frequency, and a
    deterministic rank (ties broken by token ASC, so the k-boundary cut
    is reproducible across runs and partitionings).

    Scale shape at 100 TB: explode → ONE two-phase count aggregate —
    partial map-side combine means the shuffle carries each partition's
    DISTINCT tokens (Zipf head collapses locally; the stop-word mega-
    keys that would skew a naive count arrive pre-reduced), never raw
    token occurrences. Document frequency rides the same aggregate as
    an exact two-phase distinct on (token, id). Top-k goes through
    sort+limit = TakeOrderedAndProject (per-partition heap of k, merge
    on the driver) — no global sort materialization, no windowed
    rank over the full vocabulary. rank is attached AFTER the k-row
    cut (k-bounded window — single tiny partition by construction).

    This is the vocabulary/tokenizer-training primitive; counts are
    integers, so results are exact and bit-stable at any parallelism.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    exploded = (docs
                .select(F.col(id_col).alias("_id"),
                        F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                          r"\s+")).alias("token"))
                .where(F.col("token") != ""))
    counts = (exploded
              .groupBy("token")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.countDistinct("_id").alias("n_docs"))
              .where(F.col("cnt") >= F.lit(int(min_count))))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def vocab_novelty(stream: DataFrame, time_col: str = "ts",
                  text_col: str = "text",
                  tier: str = "day") -> DataFrame:
    """Vocabulary-novelty drift: per time bucket, how much of the
    bucket's distinct vocabulary is seen for the FIRST time — the
    corpus-freshness monitor next to the value-distribution drift op
    (PSI/KL watch the numbers; this watches the words). A crawl that
    stops discovering (new_frac → 0) or a pipeline suddenly ingesting
    a new domain/language (new_frac spike) shows up here before any
    quality score moves.

    Output per bucket: (bucket, n_tokens, n_new, new_frac,
    vocab_cum) — n_tokens = distinct tokens in the bucket, n_new =
    tokens whose GLOBAL first-seen bucket is this one, vocab_cum =
    cumulative distinct vocabulary through this bucket (an exact
    running sum of n_new: buckets partition first-sightings). The
    first bucket is honestly all-new (new_frac = 1.0).

    Scale shape: distinct (bucket, token) collapses map-side (Zipf
    head pre-reduced per partition); first-seen = one min(bucket) per
    token over that table; the join back is token-co-partitioned; the
    per-bucket fold and the tiny running-sum window touch only
    bucket-cardinality rows. Counts exact integers; new_frac one
    division — full-value SQL-restatable."""
    bt = (stream
          .select(F.date_trunc(tier, F.col(time_col)).alias("bucket"),
                  F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                    r"\s+")).alias("token"))
          .where(F.col("token") != "")
          .distinct())
    first = bt.groupBy("token").agg(F.min("bucket").alias("first_bucket"))
    per = (bt.join(first, "token")
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n_tokens"),
                F.sum(F.when(F.col("first_bucket") == F.col("bucket"), 1)
                      .otherwise(0)).alias("n_new")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per.select(
        "bucket",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_new").cast("long").alias("n_new"),
        (F.col("n_new").cast("double")
         / F.col("n_tokens").cast("double")).alias("new_frac"),
        F.sum("n_new").over(w).cast("long").alias("vocab_cum"))


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, n_tokens, punct_ratio, stopword_ratio, upper_ratio, score):
    a deterministic composite quality heuristic (length / punctuation /
    stopword coverage), the usual pre-training filter family."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length(text_col).cast("double")
    n_punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?]", "")).cast("double")
    n_upper = F.length(F.regexp_replace(text_col, r"[^A-Z]", "")).cast("double")
    stop_rx = "(?i)\\b(" + "|".join(STOPWORDS) + ")\\b"
    n_stop = F.regexp_count(F.col(text_col), F.lit(stop_rx)).cast("double")
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tokens
    upper_ratio = n_upper / n_chars
    score = (
        F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * 0.2)
    return docs.select(
        F.col(id_col), n_tokens.cast("long").alias("n_tokens"),
        punct_ratio.alias("punct_ratio"), stop_ratio.alias("stopword_ratio"),
        upper_ratio.alias("upper_ratio"), score.alias("quality_score"))


def lang_id(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(id, lang_pred, lang_score): argmax of per-language marker-word
    densities — the classic cheap n-gram/marker heuristic. Native
    regexp_count per language; deterministic tie-break by language code.
    """
    counts = [
        F.regexp_count(F.lower(F.col(text_col)), F.lit(rx)).cast("double")
        .alias(f"c_{lang}")
        for lang, rx in LANG_MARKERS.items()
    ]
    d = docs.select(F.col(id_col), F.col(text_col), *counts)
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("double")
    scored = d.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct((F.col(f"c_{lang}") / n_tokens).alias("score"),
                     F.lit(lang).alias("lang"))
            for lang in LANG_MARKERS])).alias("s"))
    from pyspark.sql import Window
    w = (scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col)
                .orderBy(F.desc("s.score"), F.asc("s.lang"))))
         .where(F.col("rn") == 1))
    return w.select(F.col(id_col), F.col("s.lang").alias("lang_pred"),
                    F.col("s.score").alias("lang_score"))


def md5_fingerprint(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, fingerprint): md5 of whitespace-normalized, lowercased,
    punctuation-stripped text — the normalization-dedup fingerprint."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""),
        r"\s+", " ")
    return docs.select(F.col(id_col), F.md5(F.trim(norm)).alias("fingerprint"))


_FNV_OFFSET = np.uint64(1469598103934665603)
_FNV_PRIME = np.uint64(1099511628211)
_WINNOW_B = np.uint64(1000003)
_WINNOW_MASK = np.uint64(0xFFFFFFFFFFFF)  # 48-bit ring, overflow-free-ish


def _fnv1a_token_scalar(t: str) -> np.uint64:
    """Reference FNV-1a over a token's utf-8 bytes (the round-1 scalar
    formulation; kept as the exact spec, the non-ASCII fallback, and the
    test oracle for the vectorized path)."""
    v = _FNV_OFFSET
    with np.errstate(over="ignore"):  # modular arithmetic by design
        for ch in t.encode():
            v = (v ^ np.uint64(ch)) * _FNV_PRIME
    return v & _WINNOW_MASK


# Vectorization cap: tokens longer than this take the scalar fallback.
# The character-position loop (and the fixed-width codepoint matrix
# behind a numpy 'U' array) costs O(n_tokens × max_len) — ONE
# pathological 1k-char token (minified JS, base64 blobs in web corpora)
# would otherwise inflate every token's cost in the batch.
_VEC_TOKEN_MAX_LEN = 64


def _fnv1a_tokens(uniq: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a over each token's utf-8 bytes: iterate CHARACTER
    POSITIONS (≤ _VEC_TOKEN_MAX_LEN) with each step updating all tokens
    at once via the fixed-width codepoint matrix behind a numpy 'U'
    array — bit-identical to _fnv1a_token_scalar. ASCII fast path
    (codepoint == utf-8 byte, verified); tokens that are non-ASCII,
    contain embedded NULs, or exceed the length cap take the scalar
    fallback (logged), so one whale token cannot widen the matrix for
    the whole batch. Accepts object- or U-dtype input; the U matrix is
    built AFTER the length split so it is never wider than the cap."""
    import logging

    n = uniq.size
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in uniq), count=n, dtype=np.int64)
    short = lens <= _VEC_TOKEN_MAX_LEN
    out = np.empty(n, dtype=np.uint64)
    long_idx = np.flatnonzero(~short)
    if long_idx.size:
        logging.getLogger(__name__).info(
            "winnowing: %d token(s) over %d chars hashed via scalar "
            "fallback (vectorization length cap)",
            long_idx.size, _VEC_TOKEN_MAX_LEN)
        for i in long_idx:
            out[i] = _fnv1a_token_scalar(str(uniq[i]))
    orig = uniq[short]  # keep originals: the U-dtype copy below strips
    su = np.asarray(orig, dtype=f"U{_VEC_TOKEN_MAX_LEN}")  # trailing NULs
    if su.size:
        width = max(su.dtype.itemsize // 4, 1)
        cp = np.ascontiguousarray(su).view(np.uint32).reshape(su.size, width)
        true_len = lens[short]
        ascii_ok = (cp.max(axis=1) < 128) & \
            (np.count_nonzero(cp, axis=1) == true_len)
        sub_out = np.empty(su.size, dtype=np.uint64)
        v = np.full(int(ascii_ok.sum()), _FNV_OFFSET, dtype=np.uint64)
        sub = cp[ascii_ok]
        with np.errstate(over="ignore"):
            for j in range(width):
                col = sub[:, j]
                live = col != 0
                if not live.any():
                    break
                v[live] = (v[live] ^ col[live].astype(np.uint64)) * _FNV_PRIME
        sub_out[ascii_ok] = v & _WINNOW_MASK
        for i in np.flatnonzero(~ascii_ok):
            # hash the ORIGINAL token, not the U-dtype copy: numpy 'U'
            # arrays drop trailing NULs, so a token like 'a\0' would
            # otherwise hash identically to 'a'
            sub_out[i] = _fnv1a_token_scalar(str(orig[i]))
        out[short] = sub_out
    return out


def winnowing_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 5,
                           window: int = 4) -> DataFrame:
    """(id, fingerprints array<bigint>): Schleimer et al. winnowing —
    rolling (Karp–Rabin) hashes of k-grams, min per sliding window,
    dedup'd. Fully vectorized per Arrow batch: ALL tokens of the batch
    are uniqued once (np.unique) and FNV-hashed by character position
    (_fnv1a_tokens — the per-token Python loop of round 1 was the CPU
    hot spot at corpus scale); only the tiny per-doc rolling-min remains
    per-document."""

    def fp_from_hashes(th: np.ndarray) -> list[int]:
        if th.size < k:
            return []
        n = th.size - k + 1
        acc = np.zeros(n, dtype=np.uint64)
        # polynomial rolling hash over token hashes (vectorized horner)
        with np.errstate(over="ignore"):  # modular arithmetic by design
            for j in range(k):
                acc = (acc * _WINNOW_B + th[j:j + n]) & _WINNOW_MASK
        if acc.size <= window:
            mins = np.array([acc.min()])
        else:
            from numpy.lib.stride_tricks import sliding_window_view
            mins = sliding_window_view(acc, window).min(axis=1)
        return sorted({int(x) for x in mins})

    @pandas_udf("array<long>")
    def fp(texts: pd.Series) -> pd.Series:
        tok_lists = [t.lower().split() for t in texts]
        lens = np.array([len(tl) for tl in tok_lists])
        if lens.sum() == 0:
            return pd.Series([[]] * len(tok_lists))
        # object dtype until AFTER the length split in _fnv1a_tokens: a
        # numpy 'U' array here would be n_tokens × max_len codepoints —
        # one whale token would inflate the whole batch's memory
        flat = np.array([t for tl in tok_lists for t in tl], dtype=object)
        uniq, inv = np.unique(flat, return_inverse=True)
        th_flat = _fnv1a_tokens(uniq)[inv]
        bounds = np.cumsum(lens)[:-1]
        return pd.Series([fp_from_hashes(th)
                          for th in np.split(th_flat, bounds)])

    return docs.select(F.col(id_col), fp(F.col(text_col)).alias("fingerprints"))


def bm25_scores(docs: DataFrame, query_terms: tuple[str, ...],
                k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """BM25 relevance of every document against a fixed query
    (Robertson/Sparck-Jones idf with the +1 floor, the Lucene form).

    Plan shape — built for the 100 TB corpus:

    1. one projection computes per-doc length and per-term tf with
       native ``filter(split(...))`` expressions (codegen; no UDF, no
       explode — the doc row count never amplifies);
    2. ONE tiny corpus-stats aggregate (N, Σdl, per-term df — a single
       row regardless of corpus size) is broadcast back;
    3. scoring is a second stateless projection.

    Two passes over the scan, zero shuffles of the corpus, no joins
    except the 1-row broadcast. Determinism: Σdl is an INTEGER sum
    (exact, order-independent) so avgdl and every downstream float op
    is bit-reproducible across partitionings — and restatable in any
    engine (the DuckDB oracle replays the same expression tree).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if any((not t) or t != t.lower() or " " in t for t in query_terms):
        raise ValueError("query terms must be non-empty, lowercase, "
                         "single tokens")

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")

    def _tf(term: str):
        # NB: the lambda must be unary — pyspark treats a second
        # parameter (even a defaulted one) as the (element, index) form
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    proj = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("dl"),
        *[_tf(t).cast("long").alias(f"tf_{i}")
          for i, t in enumerate(query_terms)],
    )
    stats = proj.agg(
        F.count(F.lit(1)).alias("N"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(query_terms))],
    )
    from pyspark.sql.functions import broadcast
    scored = proj.crossJoin(broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("N").cast("double")
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        n = F.col("N").cast("double")
        idf = F.log((n - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        term = idf * (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b)
                              + F.lit(b) * F.col("dl").cast("double") / avgdl))
        score = term if score is None else score + term
    return scored.select(
        F.col(id_col), F.col("dl"),
        *[F.col(f"tf_{i}").alias(f"tf_{t}")
          for i, t in enumerate(query_terms)],
        score.alias("bm25"),
    )


# PII redaction patterns — restricted to the regex subset with
# IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB/Go):
# char classes, bounded repetition, non-capturing groups, ASCII \b.
# No lookaround (RE2 has none), no backrefs. Order matters: longer/
# more-specific patterns run first so e.g. card numbers aren't
# half-eaten by the phone pattern.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("card", r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b"),
)


def redact_pii(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               patterns=PII_PATTERNS) -> DataFrame:
    """(id, text_redacted, n_<kind>…, n_pii_total): replaces each PII
    match with ``<KIND>`` and counts matches per kind (counted BEFORE
    replacement, so overlapping-kind shadowing is visible: a count can
    exceed the replacements left for later patterns — the sequential
    order is part of the contract).

    Pure codegen projection — one pass over the scan, no UDF, no
    shuffle; the pattern set is pinned to the Java∩RE2 regex subset so
    the operation is restatable in any engine (the DuckDB oracle
    replays it verbatim with the 'g' flag)."""
    counts = [F.regexp_count(F.col(text_col), F.lit(rx))
              .cast("long").alias(f"n_{kind}") for kind, rx in patterns]
    red = F.col(text_col)
    for kind, rx in patterns:
        red = F.regexp_replace(red, rx, f"<{kind.upper()}>")
    total = None
    for kind, _ in patterns:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return (docs.select(F.col(id_col), *counts,
                        red.alias("text_redacted"))
            .withColumn("n_pii_total", total))


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     gram_n: int = 2) -> DataFrame:
    """Intra-document repetition signals (the Gopher / MassiveText
    quality-rule family, Rae et al. 2021 §A1.1): machine-generated and
    boilerplate text repeats itself, and these three fractions are the
    standard cheap detectors —

    * ``dup_line_frac``      — 1 − distinct/total over non-empty lines;
    * ``dup_line_char_frac`` — characters on lines whose exact text
      occurs ≥ 2 times, over all line characters (every occurrence of
      a duplicated line counts, including the first — the conservative
      reading, stated here so the number means one thing);
    * ``top_gram_frac``      — characters covered by the single most
      frequent word ``gram_n``-gram (count × gram length incl. its
      joining spaces, over total text chars), tie broken by gram ASC
      so the winner is total and partitioning-independent.

    Ratios with an empty denominator (no lines / no grams / empty
    text) are NULL — undefined, never 0.

    Plan: line/char totals and the distinct-line fraction are ONE
    native projection (array_distinct over the split — zero shuffle);
    the per-line and per-gram occurrence counts explode to (id, unit)
    and reduce by TWO-phase count aggregates, so each shuffle carries
    one row per distinct (doc, unit), never raw occurrences (a repeated
    line collapses map-side — the pathological 10^6-copy doc is exactly
    the one whose shuffle rows shrink the most). The per-doc reductions
    and the final joins all key on ``id``, and both aggregate outputs
    arrive already hash-partitioned on it. The HOF alternative (count
    via ``size(filter(lines, eq))`` per distinct line) is O(L·D) per
    row — quadratic on whale docs — and was rejected.
    """
    if gram_n < 2:
        raise ValueError(f"gram_n must be >= 2, got {gram_n}")
    # blank = no char outside the EXPLICIT class [ \t\n\r\f] — \s/\S
    # are NOT identical across engines (Java \s lacks \x0B only, RE2 \s
    # includes it), so the class is spelled out and the oracle repeats
    # it verbatim; trim() alone would strip only 0x20 and keep tab-only
    # lines
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda x: x.rlike(r"[^ \t\n\r\f]"))
    toks = F.filter(F.split(F.trim(F.lower(F.col(text_col))),
                            r"[ \t\n\r\f]+"),
                    lambda x: x != F.lit(""))
    grams = F.when(
        F.size(toks) < gram_n, F.array().cast("array<string>")
    ).otherwise(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(gram_n - 1),
                                        F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, gram_n), " ")))

    base = docs.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(lines).cast("long").alias("n_lines"),
        F.try_divide(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            .cast("double"),
            F.size(lines).cast("double")).alias("dup_line_frac"),
        lines.alias("__lines"),
        grams.alias("__grams"),
    )

    per_line = (base
                .select(F.col(id_col), F.explode("__lines").alias("__u"))
                .groupBy(id_col, "__u")
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .groupBy(id_col)
                .agg(F.sum(F.col("__cnt") * F.length("__u"))
                     .alias("__line_chars"),
                     F.sum(F.when(F.col("__cnt") >= 2,
                                  F.col("__cnt") * F.length("__u"))
                           .otherwise(F.lit(0)))
                     .alias("__dup_chars")))

    per_gram = (base
                .select(F.col(id_col), F.explode("__grams").alias("__u"))
                .groupBy(id_col, "__u")
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .groupBy(id_col)
                .agg(F.min_by(
                        F.struct(F.col("__u").alias("g"),
                                 F.col("__cnt").alias("c")),
                        F.struct((-F.col("__cnt")).alias("nc"),
                                 F.col("__u").alias("g"))).alias("__top")))

    out = (base.drop("__lines", "__grams")
           .join(per_line, id_col, "left")
           .join(per_gram, id_col, "left"))
    return out.select(
        F.col(id_col), "n_chars", "n_lines", "dup_line_frac",
        F.try_divide(F.col("__dup_chars").cast("double"),
                     F.col("__line_chars").cast("double"))
        .alias("dup_line_char_frac"),
        F.col("__top.g").alias("top_gram"),
        F.col("__top.c").cast("long").alias("top_gram_cnt"),
        F.try_divide(F.col("__top.c") * F.length("__top.g"),
                     F.col("n_chars").cast("double")).alias("top_gram_frac"),
    )


def winnowing_pairs(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5, window: int = 4,
                    max_df: int | None = 50,
                    threshold: float = 0.5) -> DataFrame:
    """MOSS-style near-dup candidate pairs from winnowing fingerprints
    (Schleimer et al. §4 — the plagiarism-detection deployment of
    winnowing): documents sharing selected k-gram hashes, scored by
    containment ``shared / min(|fp_a|, |fp_b|)`` (the MOSS-style
    overlap measure — robust to one document embedding the other, where
    plain Jaccard dilutes).

    Fourth candidate family next to MinHash-LSH / SimHash bands /
    df-capped shingle Jaccard: winnowing GUARANTEES any shared run of
    ≥ window+k−1 tokens yields a shared fingerprint (the coverage
    theorem), so long verbatim passages cannot hide — the property
    plagiarism/contamination screens want and probabilistic sketches
    don't give.

    Scale shape (mirrors ``ngram_jaccard_pairs``): inverted-index
    equi-join on the fingerprint VALUE — never a cross join; ``max_df``
    drops boilerplate fingerprints before the self-join (a fingerprint
    in d docs emits d·(d−1)/2 rows — quadratic hot keys; the dropped
    keys are logged, and containment is exact over the capped
    fingerprint vocabulary). Identical texts share their ENTIRE
    fingerprint set ⇒ containment 1.0 — the planted-duplicate recall
    fact the driver oracle pins.
    """
    import logging

    fp = winnowing_fingerprints(docs, id_col=id_col, text_col=text_col,
                                k=k, window=window)
    ex = fp.select(F.col(id_col), F.explode("fingerprints").alias("f"))
    if max_df is not None:
        logging.getLogger(__name__).info(
            "winnowing_pairs: dropping fingerprints with df > %d; "
            "containment is over the capped vocabulary", max_df)
        hot = (ex.groupBy("f").agg(F.count("*").alias("df"))
               .where(F.col("df") > max_df).select("f"))
        ex = ex.join(F.broadcast(hot), ["f"], "left_anti")
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, ["f"])
             .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count("*").alias("n_shared")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("containment",
                        F.col("n_shared")
                        / F.least(F.col("sz_a"), F.col("sz_b")))
            .where(F.col("containment") >= threshold)
            .select("id_a", "id_b", "n_shared", "containment"))


def lexical_stats(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document lexical diversity and unigram entropy — the
    information-theoretic quality signals a curation pipeline reads
    next to the Gopher repetition caps: ``entropy_bits`` (Shannon
    entropy of the token distribution, low = degenerate/boilerplate),
    ``type_token_ratio`` (vocabulary richness), ``hapax_frac``
    (fraction of types occurring once — near 0 flags template text,
    near 1 flags gibberish).

    Entropy over token counts c with n = Σc, computed in the
    cancellation-free form H = log2(n) − (Σ c·log2 c)/n, so a
    single-token doc lands on exactly 0.0 and the oracle can restate
    the identical expression.

    Tokens are lowercased splits on the EXPLICIT class [ \\t\\n\\r\\f]
    (Java \\s and RE2 \\s disagree on \\x0B — repo convention, see
    _duck_shingles). Empty splits map to NULL instead of being
    filtered, so a zero-token document keeps exactly one (doc, NULL)
    row through both aggregates and reports n_tokens = 0 with NULL
    entropy/ratios — it must not silently vanish from a quality gate
    (the doc_curate precedent: an absent row reads as "passed").

    Scale shape: explode → two-phase count on (doc, token) — the
    shuffle carries each partition's distinct (doc, token) pairs, a
    repeated-token whale collapses map-side — then a second shrinking
    two-phase aggregate on doc. Two hash exchanges, no join, no UDF.
    """
    tok = F.explode(ws_split(F.col(text_col))).alias("__t")
    counts = (docs
              .select(F.col(id_col), tok)
              .select(id_col, F.nullif(F.col("__t"), F.lit("")).alias("token"))
              .groupBy(id_col, "token")
              .agg(F.count(F.lit(1)).alias("__c")))
    real = F.col("token").isNotNull()
    c = F.col("__c")
    agg = (counts.groupBy(id_col).agg(
        F.coalesce(F.sum(F.when(real, c)), F.lit(0)).alias("n_tokens"),
        F.count(F.when(real, F.lit(1))).alias("n_types"),
        F.sum(F.when(real & (c == 1), 1).otherwise(0)).alias("__hapax"),
        F.sum(F.when(real, c.cast("double") * F.log2(c))).alias("__clog")))
    n = F.col("n_tokens")
    return agg.select(
        id_col, "n_tokens", "n_types",
        F.when(n > 0, F.log2(n) - F.col("__clog") / n)
        .alias("entropy_bits"),
        F.when(n > 0, F.col("n_types") / n).alias("type_token_ratio"),
        F.when(F.col("n_types") > 0, F.col("__hapax") / F.col("n_types"))
        .alias("hapax_frac"))


def lm_perplexity(docs: DataFrame, train_docs: DataFrame | None = None,
                  alpha: float = 0.5, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Bigram language-model perplexity per document — the
    CCNet/KenLM-style statistical quality filter: train an add-α
    bigram LM on ``train_docs`` (default: the corpus itself,
    in-sample — fine for relative ranking, stated here so nobody
    mistakes it for held-out perplexity) and score every document's
    cross-entropy ``H = Σ −log2 P(w₂|w₁) / n_bigrams`` and
    ``ppl = 2^H``. Gibberish and boilerplate both surface: random
    tokens score high ppl, a doc of one repeated phrase scores
    abnormally low.

    Smoothing is the single closed form
    ``P = (c(w₁w₂)+α) / (c(w₁)+α·V)`` with V = train vocabulary
    size; an unseen history (c(w₁)=0, c(w₁w₂)=0) degrades to exactly
    1/V through the same formula — no special-case branch to diverge
    from the oracle. Documents with fewer than 2 tokens keep their
    row with NULL entropy/ppl via ``explode_outer`` + try_divide
    (the doc_curate precedent: an absent row reads as "passed").

    Scale shape (all native, no UDF): per-doc bigram multiplicities
    first (the shuffle carries distinct (doc, w₁, w₂) triples — a
    repeated-phrase whale collapses map-side), sort-merge join
    against the bigram LM on (w₁,w₂) and the unigram LM on w₁ (LM
    tables are vocabulary-sized, orders of magnitude smaller than
    the corpus; Spark broadcasts them when they fit, SMJ otherwise —
    both correct), V arrives as a broadcast 1-row cross join, then
    one final per-doc aggregate.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    train = docs if train_docs is None else train_docs

    def _bigrams(df):
        arr = ws_tokens(F.col(text_col))
        n = F.size(arr)
        pairs = F.arrays_zip(
            F.slice(arr, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
            F.slice(arr, 2, F.greatest(n - 1, F.lit(0))).alias("w2"))
        return df.select(F.col(id_col),
                         F.explode_outer(pairs).alias("__p")) \
                 .select(id_col, F.col("__p.w1").alias("w1"),
                         F.col("__p.w2").alias("w2"))

    uni = (train.select(F.explode(ws_tokens(F.col(text_col))).alias("w1"))
           .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    bi = (_bigrams(train).where(F.col("w1").isNotNull())
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("V"))

    doc_bi = (_bigrams(docs)
              .groupBy(id_col, "w1", "w2")
              .agg(F.count(F.when(F.col("w1").isNotNull(), 1))
                   .alias("m")))
    scored = (doc_bi
              .join(bi, ["w1", "w2"], "left")
              .join(uni, ["w1"], "left")
              .crossJoin(F.broadcast(vocab)))
    p = ((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
         / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("V")))
    real = F.col("w1").isNotNull()
    agg = (scored.groupBy(id_col).agg(
        F.coalesce(F.sum(F.when(real, F.col("m"))), F.lit(0))
        .alias("n_bigrams"),
        F.sum(F.when(real, -F.col("m") * F.log2(p))).alias("__h")))
    h = F.expr("try_divide(__h, cast(n_bigrams AS double))")
    return agg.select(
        id_col, F.col("n_bigrams").cast("long").alias("n_bigrams"),
        h.alias("cross_entropy_bits"),
        F.pow(F.lit(2.0), h).alias("ppl"))

def tfidf_topm(docs: DataFrame, m: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-document TF-IDF top-m terms — the classic lexical document
    vector (Salton & Buckley; sklearn's smooth-idf variant), the
    relevance/keyword-extraction primitive a curation pipeline reads
    next to BM25 (corpus-level relevance) and lexical_stats
    (distribution shape). Output: one row per kept term —
    ``(doc_id, term, tf_count, doc_frequency, tfidf, rank)`` with
    rank ∈ [1, m], plus one ``(doc_id, NULL, 0, NULL, NULL, 1)`` row
    for a zero-token document (the doc_curate precedent: a document
    must not silently vanish from a quality view).

    Definitions, restated verbatim in the SQL oracle:
    tf = c(doc,term) / n_tokens(doc) (exact integer ratio — one
    correctly-rounded IEEE division, bit-identical in any engine),
    idf = ln((N+1)/(df+1)) + 1 (sklearn smooth idf: no term divides
    by zero, unseen-df degrades smoothly), tfidf = tf · idf
    **rounded to 6 dp BEFORE ranking** so the rank-m boundary cannot
    flip on engine ulp drift in ln() (the DTW grid-snap precedent);
    ties broken (tfidf DESC, term ASC) — fully deterministic.

    Scale shape (all native, no UDF): explode → two-phase count on
    (doc, term) — the shuffle carries distinct (doc, term) pairs, a
    repeated-token whale collapses map-side; df is ONE more shrinking
    two-phase aggregate over that table (input already distinct on
    (doc, term), so count(*) per term IS document frequency — no
    count-distinct shuffle); N rides a broadcast 1-row cross join
    (lm_perplexity precedent); the term↔df join is vocabulary-sized
    (broadcast when it fits, shuffle-hash/SMJ otherwise — both
    correct); final rank is a row_number window partitioned by doc —
    it sorts each doc's distinct terms, O(types·log types) per doc,
    bounded by document length, never by corpus size.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    tok = F.explode(ws_split(F.col(text_col))).alias("__t")
    counts = (docs
              .select(F.col(id_col), tok)
              .select(id_col,
                      F.nullif(F.col("__t"), F.lit("")).alias("term"))
              .groupBy(id_col, "term")
              .agg(F.count(F.when(F.col("term").isNotNull(), 1))
                   .alias("tf_count")))
    # every doc has >= 1 row in `counts` (empty text => one NULL-term
    # row), so totals keyed on the doc keep zero-token docs alive
    from pyspark.sql import Window
    w_doc = Window.partitionBy(id_col)
    counts = counts.withColumn(
        "__n", F.sum("tf_count").over(w_doc))
    df_tab = (counts.where(F.col("term").isNotNull())
              .groupBy("term")
              .agg(F.count(F.lit(1)).alias("doc_frequency")))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__ndocs"))
    scored = (counts.join(df_tab, ["term"], "left")
              .crossJoin(F.broadcast(n_docs)))
    idf = F.log((F.col("__ndocs") + 1.0)
                / (F.col("doc_frequency").cast("double") + 1.0)) + 1.0
    tfidf = F.round(
        F.col("tf_count").cast("double") / F.col("__n") * idf, 6)
    scored = scored.withColumn("tfidf", F.when(
        F.col("term").isNotNull(), tfidf))
    # the NULL-term placeholder row survives ONLY for zero-token docs;
    # a non-empty doc's trailing-separator artifact row must not pad
    # its top-m list (it would rank after the real terms and leak in
    # whenever the doc has < m distinct terms)
    scored = scored.where(F.col("term").isNotNull() | (F.col("__n") == 0))
    w_rank = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc_nulls_last(), F.col("term").asc_nulls_last())
    out = (scored
           .withColumn("rank", F.row_number().over(w_rank))
           .where(F.col("rank") <= m))
    return out.select(
        id_col,
        "term",
        F.col("tf_count").cast("long").alias("tf_count"),
        F.col("doc_frequency").cast("long").alias("doc_frequency"),
        F.col("tfidf"),
        F.col("rank").cast("int").alias("rank"))

def pmi_collocations(docs: DataFrame, min_count: int = 5, k: int = 20,
                     text_col: str = "text") -> DataFrame:
    """Corpus-level collocation extraction: the k adjacent bigrams
    with the highest pointwise mutual information — PMI =
    log₂(p(w₁w₂) / (p(w₁)·p(w₂))) with p(w₁w₂) = c₁₂/B over bigram
    occurrences and p(w) = c/N over token occurrences (Church &
    Hanks 1990). The phrase-mining primitive next to vocab_topk (raw
    frequency) and the bigram LM (sequence probability): high PMI =
    "these tokens co-occur far above chance" — named entities, idioms,
    mined phrases for tokenizer/vocab induction.

    ``min_count`` floors c₁₂ first — PMI famously explodes on
    hapax pairs (c₁₂=1 between two rare tokens maxes the statistic);
    the floor is applied BEFORE the top-k so the cut is over
    attested phrases only. PMI is rounded to 6 dp BEFORE ranking
    (rank-boundary convention), ties broken (w₁ ASC, w₂ ASC).

    Scale shape (lm_perplexity's plan family): bigram and unigram
    counts are each ONE two-phase aggregate (the shuffles carry
    distinct pairs/tokens per partition); the c₁/c₂ joins are
    vocabulary-sized (broadcast when they fit); N and B ride ONE
    broadcast 1-row cross join; the k cut is a TakeOrdered over the
    min_count-floored phrase table.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    arr = ws_tokens(F.col(text_col))
    n = F.size(arr)
    pairs = F.arrays_zip(
        F.slice(arr, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(arr, 2, F.greatest(n - 1, F.lit(0))).alias("w2"))
    bi = (docs.select(F.explode(pairs).alias("__p"))
          .select(F.col("__p.w1").alias("w1"),
                  F.col("__p.w2").alias("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")))
    uni = (docs.select(F.explode(arr).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    tot = uni.agg(F.sum("c").cast("double").alias("N"))
    btot = bi.agg(F.sum("c12").cast("double").alias("B"))
    scored = (bi.where(F.col("c12") >= min_count)
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("c").alias("c1")), ["w1"])
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c").alias("c2")), ["w2"])
              .crossJoin(F.broadcast(tot))
              .crossJoin(F.broadcast(btot)))
    pmi = F.round(F.log2(
        (F.col("c12").cast("double") / F.col("B"))
        / ((F.col("c1") / F.col("N")) * (F.col("c2") / F.col("N")))), 6)
    out = (scored.withColumn("pmi", pmi)
           .orderBy(F.col("pmi").desc(), F.col("w1").asc(),
                    F.col("w2").asc())
           .limit(k))
    win = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(),
                         F.col("w2").asc())
    return out.withColumn(
        "rank", F.row_number().over(win).cast("int")).select(
        "w1", "w2",
        F.col("c12").cast("long").alias("c12"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        "pmi", "rank")

def feature_hash_vectors(docs: DataFrame, dim: int = 16,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Hashing-trick document vectors (Weinberger 2009 feature
    hashing): each token adds ±1 to one of ``dim`` buckets —
    bucket = md5('b:'‖tok) mod dim, sign = top bit of md5('s:'‖tok) —
    giving every document a fixed-width signed bag-of-words vector
    with NO vocabulary table, no training, and an unbiased inner
    product (the signed hash cancels collision bias in expectation).
    The bridge from the text table to the embedding operators: the
    output columns feed cosine top-k / LSH / IVF machinery directly.

    Components are INTEGER sums of ±1 — engine-exact, partitioning-
    exact, no float drift anywhere except the reported L2 norm.
    Zero-token documents keep their row as the all-zero vector with
    norm 0.0 (explode_outer + coalesce — the doc_curate precedent).

    Scale shape: ONE two-phase aggregate straight from the token
    explode (each shuffle row carries the doc's ``dim`` partial
    sums); no join, no pivot, no vocabulary state. md5 arithmetic is
    the repo's content-addressed idiom — bit-identical in any engine,
    so vectors are replayable in SQL.
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    arr = ws_tokens(F.col(text_col))
    t = docs.select(F.col(id_col),
                    F.explode_outer(arr).alias("__tok"))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("b:"), F.col("__tok"))), 1, 8), 16, 10)
        .cast("long") % F.lit(dim))
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("s:"), F.col("__tok"))),
                           1, 1), 16, 10).cast("int") < 8,
        F.lit(1)).otherwise(F.lit(-1))
    t = t.select(id_col, bucket.alias("__b"), sign.alias("__s"))
    comps = [F.coalesce(F.sum(F.when(F.col("__b") == b, F.col("__s"))),
                        F.lit(0)).cast("long").alias(f"h{b}")
             for b in range(dim)]
    agg = t.groupBy(id_col).agg(*comps)
    norm = F.sqrt(sum((F.col(f"h{b}") * F.col(f"h{b}")
                       for b in range(dim)), F.lit(0).cast("long"))
                  .cast("double"))
    return agg.withColumn("norm", norm)

def zipf_fit(docs: DataFrame, max_rank: int = 100,
             text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(count) on
    ln(rank) for the top ``max_rank`` tokens — slope ≈ −1 on natural
    language; a flat slope flags template/duplicated corpora and a
    cliff flags gibberish, so this is a one-row corpus health check
    (the distributional companion to vocab_topk's raw list).

    Deterministic: counts are integers and rank ties break token ASC,
    so the top-max_rank set and the (ln rank, ln count) point cloud
    are engine-identical; the regression aggregates (regr_slope /
    regr_intercept / regr_r2) are the same covariance ratios in any
    engine, compared on the standing 6-dp grid.

    Scale shape: vocab_topk's one two-phase count (the shuffle
    carries distinct tokens) → TakeOrdered max_rank cut → one tiny
    regression aggregate over ≤ max_rank rows.
    """
    if max_rank < 3:
        raise ValueError(f"max_rank must be >= 3, got {max_rank}")
    exploded = (docs.select(
        F.explode(ws_split(F.col(text_col))).alias("token"))
        .where(F.col("token") != ""))
    counts = (exploded.groupBy("token")
              .agg(F.count(F.lit(1)).alias("cnt")))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(max_rank)
    win = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = top.withColumn("rank", F.row_number().over(win))
    return (ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.expr("regr_slope(ln(cast(cnt AS double)), "
               "ln(cast(rank AS double)))").alias("slope"),
        F.expr("regr_intercept(ln(cast(cnt AS double)), "
               "ln(cast(rank AS double)))").alias("intercept"),
        F.expr("regr_r2(ln(cast(cnt AS double)), "
               "ln(cast(rank AS double)))").alias("r2")))


def mojibake_stats(docs: DataFrame, per_kchar_threshold: float = 1.0,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Encoding-damage detection per document — the curation filter
    that catches text mangled BEFORE it reached the lake (bad decode,
    double-encoded UTF-8, cp1252/latin-1 confusion), a failure mode no
    token-count or perplexity heuristic names precisely. Three
    independent signals, each a countable fingerprint of one failure:

    * ``n_replacement`` — U+FFFD replacement characters: a decoder
      ALREADY gave up on those bytes; any count > 0 is hard evidence.
    * ``n_double_utf8`` — U+00C3 ('Ã') followed by a char in
      U+0080–U+00FF (the signature of UTF-8 bytes decoded as
      Latin-1: 'é' becomes 'Ã©') plus the digraph U+00E2 U+20AC
      ('â€', the same failure through cp1252 punctuation: a right
      quote becomes 'â€™').
    * ``n_c1`` — C1 control characters U+0080–U+009F: unmapped
      cp1252 high bytes that survived a Latin-1 decode.

    The signals can OVERLAP on adversarial byte soup ('Ã' + 'â€'
    counts the shared 'â' in two digraphs; 'Ã' + a C1 char lands in
    both n_double_utf8 and n_c1) — a single damage site may then add
    2 instead of 1 to the weighted score. That is acceptable for a
    damage SCORE (overlapping signatures mean the text is damaged
    with certainty); the per-signal counts are each individually
    exact for their own pattern.

    ``mojibake_per_kchar`` = 1000·(3·repl + double + c1)/n_chars (the
    replacement char weighted 3x: it is certain damage, the digraphs
    are heuristic); ``is_damaged`` thresholds it. Empty documents
    report NULL rate and NULL flag, never a fake clean 0.

    Exactness: every count is integer regexp arithmetic over literal
    ``\\x{..}`` character classes (no backtracking constructs, so the
    Java and RE2 engines agree — parity probed live for all three
    patterns); the rate is one closed form of exact integers on the
    caller's grid. Pure per-row projection — zero shuffle, composes
    as a pre-filter on a 100 TB scan.
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_repl = F.regexp_count(t, F.lit(r"\x{fffd}")).cast("long")
    n_double = (
        F.regexp_count(t, F.lit(r"\x{c3}[\x{80}-\x{ff}]")).cast("long")
        + F.regexp_count(t, F.lit(r"\x{e2}\x{20ac}")).cast("long"))
    n_c1 = F.regexp_count(t, F.lit(r"[\x{80}-\x{9f}]")).cast("long")
    damage = (F.lit(3) * n_repl + n_double + n_c1).cast("double")
    rate = F.when(n_chars > 0,
                  F.lit(1000.0) * damage / n_chars.cast("double"))
    return docs.select(
        F.col(id_col), n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_double.alias("n_double_utf8"),
        n_c1.alias("n_c1"),
        rate.alias("mojibake_per_kchar"),
        F.when(n_chars > 0, rate > F.lit(per_kchar_threshold))
        .alias("is_damaged"))


def yules_k(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Frequency-SPECTRUM stylometry per document — the classic
    authorship/quality triple over the token count spectrum, the
    complement of ``lexical_stats``' distribution entropy:

        yules_k   = 10⁴·(Σc² − N)/N²      (Yule 1944; repetitiveness
                                           characteristic, length-
                                           stable unlike raw TTR)
        simpson_d = Σc(c−1)/(N(N−1))      (probability two random
                                           tokens are the same type)
        herdan_c  = ln V / ln N           (log-log type-token slope)

    using Σ_m m²·V_m = Σ_types c², so everything reduces to the THREE
    exact int64 sums (N, V, Σc²) the lexical_stats plan already
    shapes: explode → (doc, token) count → per-doc aggregate, same
    [ \\t\\n\\r\\f] token class, same zero-token NULL-row contract
    (n_tokens = 0 rows survive with NULL statistics — absent rows
    read as "passed" in a quality gate).  K and D are fixed double
    trees over the integers; degenerates NULL, never 0/0: N < 2 for
    D, N = 0 for K, and herdan_c NULL when ln N = 0 (N ≤ 1).

    Scale: identical to lexical_stats — two shrinking hash
    exchanges, repeated-token whales collapse map-side, no join, no
    UDF.
    """
    tok = F.explode(ws_split(F.col(text_col))).alias("__t")
    counts = (docs
              .select(F.col(id_col), tok)
              .select(id_col,
                      F.nullif(F.col("__t"), F.lit("")).alias("token"))
              .groupBy(id_col, "token")
              .agg(F.count(F.lit(1)).alias("__c")))
    real = F.col("token").isNotNull()
    c = F.col("__c")
    agg = (counts.groupBy(id_col).agg(
        F.coalesce(F.sum(F.when(real, c)), F.lit(0)).alias("n_tokens"),
        F.count(F.when(real, F.lit(1))).alias("n_types"),
        F.coalesce(F.sum(F.when(real, c * c)), F.lit(0)).alias("sum_c2")))
    n = F.col("n_tokens").cast("double")
    v = F.col("n_types").cast("double")
    c2 = F.col("sum_c2").cast("double")
    k = F.when(F.col("n_tokens") > 0,
               F.lit(1e4) * (c2 - n) / (n * n))
    d = F.when(F.col("n_tokens") >= 2,
               (c2 - n) / (n * (n - F.lit(1.0))))
    hc = F.when(F.col("n_tokens") >= 2, F.log(v) / F.log(n))
    return agg.select(
        id_col, "n_tokens", "n_types",
        F.col("sum_c2").cast("long").alias("sum_c2"),
        k.alias("yules_k"), d.alias("simpson_d"), hc.alias("herdan_c"))


def fightin_words(docs: DataFrame, group_col: str, group_a: str,
                  group_b: str, alpha0: float = 500.0,
                  min_count: int = 5, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """"Fightin' Words" (Monroe, Colaresi & Quinn 2008): which tokens
    DISTINGUISH two slices of the corpus — the log-odds-ratio with an
    informative Dirichlet prior, the method that fixes both naive
    log-odds (infinite for group-exclusive words) and raw frequency
    difference (dominated by stop words).  For each token w with
    group counts c_aw, c_bw, corpus count c_w, totals n_a, n_b, N:

        α_w  = α₀·c_w/N                     (prior ∝ corpus usage)
        δ_w  = ln[(c_aw+α_w)/(n_a+α₀−c_aw−α_w)]
             − ln[(c_bw+α_w)/(n_b+α₀−c_bw−α_w)]
        σ²_w ≈ 1/(c_aw+α_w) + 1/(c_bw+α_w)
        z_w  = δ_w / sqrt(σ²_w)

    Positive z → characteristic of group A, negative → of B; |z| ≳ 2
    is the conventional significance bar.

    Exactness: every COUNT is an exact int64 from one (token, group)
    conditional aggregate (the lexical_stats token class and
    two-phase shape); δ/σ²/z are fixed double trees over those
    integers — no float sum exists, ln ulps are absorbed by the
    driver rounding.  The prior makes every log argument strictly
    positive by construction (α_w > 0 whenever the token exists), so
    no guard is needed — group-exclusive tokens get large FINITE z.
    ``min_count`` drops the corpus-count tail BEFORE the trees (an
    exact integer filter, no boundary risk); emitting the full
    filtered vocabulary instead of a top-k cut removes ordering from
    the contract entirely.

    Scale: explode → (token, group) aggregate → token-level pivot —
    two shrinking exchanges; the z computation runs on
    vocabulary-cardinality rows, never the corpus.
    """
    if group_a == group_b:
        raise ValueError("fightin_words: groups must differ")
    if alpha0 <= 0 or min_count < 1:
        raise ValueError("fightin_words: need alpha0 > 0, min_count >= 1")
    tok = F.explode(ws_split(F.col(text_col))).alias("__t")
    base = (docs
            .where(F.col(group_col).isin([group_a, group_b]))
            .select(F.col(group_col).alias("__g"), tok)
            .select("__g", F.nullif(F.col("__t"), F.lit("")).alias("token"))
            .where(F.col("token").isNotNull()))
    cells = (base.groupBy("token")
             .agg(F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0))
                  .cast("long").alias("c_a"),
                  F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0))
                  .cast("long").alias("c_b")))
    w_all = Window.partitionBy()
    # totals BEFORE the min_count filter: n_a/n_b/N are full-corpus
    # facts in the paper's formulas, not filtered-vocabulary ones
    enriched = (cells
                .select("token", "c_a", "c_b",
                        F.sum("c_a").over(w_all).alias("__na"),
                        F.sum("c_b").over(w_all).alias("__nb"))
                .where((F.col("c_a") + F.col("c_b")) >= min_count))
    a0 = F.lit(float(alpha0))
    ca, cb = F.col("c_a").cast("double"), F.col("c_b").cast("double")
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    cw = ca + cb
    aw = a0 * cw / (na + nb)
    delta = (F.log((ca + aw) / (na + a0 - ca - aw))
             - F.log((cb + aw) / (nb + a0 - cb - aw)))
    var = F.lit(1.0) / (ca + aw) + F.lit(1.0) / (cb + aw)
    z = delta / F.sqrt(var)
    return enriched.select("token", "c_a", "c_b",
                           delta.alias("delta"), z.alias("z"))


def jsd_halves(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Jensen–Shannon divergence between the FIRST and SECOND half of
    each document's token stream — the within-document topic-shift
    detector: two unrelated pages glued together (a crawler artifact
    exact-dedup can't see) light up near ln 2, a topically-uniform
    document sits near 0.  The single-document complement of
    ``fightin_words``' two-corpus comparison.

        JSD = ½·KL(P‖M) + ½·KL(Q‖M),  M = (P+Q)/2,  ∈ [0, ln 2]

    over the half-vocabulary distributions, plus the exact vocabulary
    Jaccard between halves.

    Exactness: the half split is ⌊n/2⌋ by TOKEN position (integer);
    per-(doc, token) half counts a_w, b_w are exact int64; each
    token's JSD contribution (zero-count sides contribute exactly 0 —
    the 0·ln0 = 0 convention is explicit CASE logic, not a NaN
    accident) is a fixed double tree folded in ORDERED token sequence
    (non-negative terms — the chi2 cell contract); jaccard is a ratio
    of exact integer vocabulary counts.  Zero-token and single-token
    docs keep their row with NULL jsd (the lexical_stats survival
    contract); the lexical_stats token class applies.

    Plan: explode → per-doc position window → (doc, token) aggregate
    (map-side collapse) → vocab-sized ordered fold → doc aggregate;
    two shrinking exchanges after the position window, no UDF.
    """
    # posexplode, NOT monotonically_increasing_id: the raw split
    # index is the only position that is deterministic under ANY
    # partitioning (mono_id depends on partition layout and would
    # silently move the half boundary between runs)
    base = (docs
            .select(F.col(id_col),
                    F.posexplode(ws_split(F.col(text_col)))
                    .alias("__rawpos", "__t"))
            .select(id_col, "__rawpos",
                    F.nullif(F.col("__t"), F.lit("")).alias("token")))
    w_doc = Window.partitionBy(id_col)
    # rank among REAL tokens only (empty-split NULL rows sort last
    # and never enter the halves)
    w_pos = w_doc.orderBy(F.col("token").isNull(), F.col("__rawpos"))
    base = base.select(
        id_col, "token",
        F.count("token").over(w_doc).alias("__n"),
        F.row_number().over(w_pos).alias("__pos"))
    first_half = F.col("__pos") <= F.expr("__n div 2")
    cells = (base
             .groupBy(id_col, "token")
             .agg(F.max("__n").alias("__n"),
                  F.sum(F.when(F.col("token").isNotNull()
                               & first_half, 1).otherwise(0))
                  .alias("a"),
                  F.sum(F.when(F.col("token").isNotNull()
                               & ~first_half, 1).otherwise(0))
                  .alias("b")))
    na = F.expr("__n div 2")
    nb = F.col("__n") - na
    ad = F.col("a").cast("double") / na.cast("double")
    bd = F.col("b").cast("double") / nb.cast("double")
    md = (ad + bd) / F.lit(2.0)
    term = (F.when(F.col("a") > 0,
                   F.lit(0.5) * ad * F.log(ad / md)).otherwise(F.lit(0.0))
            + F.when(F.col("b") > 0,
                     F.lit(0.5) * bd * F.log(bd / md))
            .otherwise(F.lit(0.0)))
    valid = F.col("token").isNotNull() & (na > 0) & (nb > 0)
    w_fold = Window.partitionBy(id_col).orderBy("token")
    enriched = cells.select(
        id_col, "__n", "a", "b",
        F.sum(F.when(valid, term).otherwise(F.lit(0.0)))
        .over(w_fold).alias("__cum"),
        F.when(valid & (F.col("a") > 0) & (F.col("b") > 0), 1)
        .otherwise(0).alias("__both"),
        F.when(valid & ((F.col("a") > 0) | (F.col("b") > 0)), 1)
        .otherwise(0).alias("__any"))
    import math
    g = enriched.groupBy(id_col).agg(
        F.max("__n").alias("n_tokens"),
        F.max("__cum").alias("__jsd"),
        F.sum("__both").alias("__inter"),
        F.sum("__any").alias("__union"))
    ok = F.col("n_tokens") >= 2
    jsd = F.when(ok, F.col("__jsd"))
    return g.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        jsd.alias("jsd"),
        F.when(ok, F.col("__jsd") / F.lit(math.log(2.0)))
        .alias("jsd_norm"),
        F.when(F.col("__union") > 0,
               F.col("__inter").cast("double")
               / F.col("__union").cast("double")).alias("vocab_jaccard"))


def readability(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document
    (Flesch 1948; Kincaid et al. 1975) — the classic readability pair
    every text-quality gate reports next to the length/punctuation
    heuristics of ``quality_score``:

        ease  = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
        grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59

    with W = words (whitespace split), S = sentence-terminator groups
    ``[.!?]+`` floored at 1 (prose without terminators is one
    sentence, not a division by zero), and Y = syllables estimated as
    per-word vowel-group count ``[aeiouy]+`` floored at 1 (the
    standard dictionary-free estimator; "xyz" is one syllable, not
    zero).  The floor must be PER WORD — a whole-text vowel-group
    count would undercount exactly the all-consonant tokens (ids,
    acronyms) that quality gates most need to see.

    Exactness: W, S, Y are exact int64 regex/split counts (identical
    engines — probed: Spark's regexp_extract_all and DuckDB's agree
    on the character classes used here); both scores are fixed double
    trees over the two ratios.  W = 0 (NULL/whitespace text) → NULL
    scores.  Pure projection over the scan — zero exchanges, no UDF.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    w_cnt = F.when(F.trim(F.col(text_col)) == "", F.lit(0)) \
        .otherwise(F.size(toks)).cast("long")
    s_cnt = F.greatest(
        F.expr(f"size(regexp_extract_all({text_col}, '[.!?]+', 0))")
        .cast("long"), F.lit(1).cast("long"))
    syl = F.expr(
        f"aggregate(transform(split(trim({text_col}), '\\\\s+'), "
        "w -> greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)), 1)),"
        " cast(0 as bigint), (a, x) -> a + x)")
    ok = w_cnt > 0
    wps = w_cnt.cast("double") / s_cnt.cast("double")
    spw = syl.cast("double") / w_cnt.cast("double")
    ease = (F.lit(206.835) - F.lit(1.015) * wps
            - F.lit(84.6) * spw)
    grade = (F.lit(0.39) * wps + F.lit(11.8) * spw
             - F.lit(15.59))
    return docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        w_cnt.alias("n_words"),
        F.when(ok, s_cnt).alias("n_sentences"),
        F.when(ok, syl).alias("n_syllables"),
        F.when(ok, ease).alias("flesch_ease"),
        F.when(ok, grade).alias("fk_grade"))


def vocab_richness(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unseen-vocabulary estimation over the corpus: the bias-corrected
    Chao1 species-richness estimate and Good's sample coverage
    (Chao 1984; Good 1953) — the curation question zipf_fit's slope
    does not answer: how many word types does this corpus REALLY
    have, and what fraction of the token stream comes from types we
    have already seen (is more crawling still buying vocabulary)?

        Chao1   = V + f₁(f₁−1) / (2(f₂+1)),
        coverage = 1 − f₁/N

    with V = observed distinct tokens, f₁/f₂ = types seen exactly
    once/twice, N = total tokens.  The f₂+1 form is the
    bias-corrected estimator that stays finite at f₂ = 0 (the raw
    f₁²/2f₂ form divides by zero exactly when the corpus is most
    undersampled — the case the estimate exists for).

    Exactness: V, f₁, f₂, N are exact int64 from one
    frequency-of-frequencies aggregate (the yules_k machinery's
    grain); both outputs are single divisions of exact integers,
    emitted UNROUNDED (bit-identical — the ts_allan rule).  Empty
    corpus → no row (nothing to estimate richness of).

    Plan: explode → (token) count → (count) count — two shrinking
    hash exchanges, the second over at most max-frequency rows; the
    final fold is a 1-row aggregate.  No UDF.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    freq = (docs
            .where(F.col(text_col).isNotNull()
                   & (F.trim(F.col(text_col)) != ""))
            .select(F.explode(toks).alias("__t"))
            .groupBy("__t").agg(F.count(F.lit(1)).alias("__c")))
    g = freq.agg(
        F.count(F.lit(1)).alias("v_obs"),
        F.sum("__c").alias("n_tokens"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).alias("f2"))
    f1, f2 = F.col("f1"), F.col("f2")
    chao1 = (F.col("v_obs").cast("double")
             + (f1 * (f1 - F.lit(1))).cast("double")
             / (F.lit(2) * (f2 + F.lit(1))).cast("double"))
    cov = (F.lit(1.0)
           - f1.cast("double") / F.col("n_tokens").cast("double"))
    return g.select(
        F.col("v_obs").cast("long").alias("v_obs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        f1.cast("long").alias("f1"),
        f2.cast("long").alias("f2"),
        chao1.alias("chao1"),
        cov.alias("coverage"))


def heaps_fit(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the corpus (Heaps 1978;
    Herdan 1960): V(n) ≈ K·n^β — the GROWTH companion to zipf_fit's
    frequency slope and vocab_richness's asymptote: β ≈ 0.4–0.6 for
    natural text; β drifting low flags a corpus going repetitive
    (template/boilerplate floods), β ≈ 1 flags id-like token soup.

    Measurement grid: cumulative token count n_i and distinct-type
    count V_i at the four doc-ORDER quartile checkpoints k_i =
    (D·i) DIV 4 (doc_id order — content-addressed, stable under
    repartition).  Both are EXACT int64: n_i is an ordered cumsum
    probe (the lorenz_deciles pick), V_i counts tokens whose FIRST
    containing doc rank ≤ k_i (one min-aggregate per token).  β is
    the closed-form OLS slope of ln V on ln n over the four points

        β = (m·Σxy − Σx·Σy) / (m·Σxx − Σx²),   m = 4

    — a fixed tree over eight ln's of exact integers, summed in
    FIXED checkpoint order (i = 1..4 literal expansion, not a
    fold).  K = exp((Σy − β·Σx)/m).  Degenerates NULL: fewer than 4
    docs (checkpoints collide) or any V_i = V_{i+1} AND n equal
    (degenerate x-spread: denominator 0).

    Plan (scale contract: NO global single-partition window ever sees
    the corpus — the q_doc_dsir rule): doc rank and the ordered token
    cumsum run as a distributed two-phase scheme — range-repartition
    on doc id, per-PARTITION row_number + cumsum, then per-partition
    (count, token-sum) totals fold into prefix offsets on
    partition-cardinality rows and broadcast back.  The corpus-sized
    exchanges are the range repartition and the token-grain
    min-aggregate; every global window runs on ≤ num-partitions or
    checkpoint-cardinality rows.
    """
    base = (docs
            .where(F.col(text_col).isNotNull()
                   & (F.trim(F.col(text_col)) != ""))
            .select(F.col(id_col).alias("__id"),
                    F.split(F.trim(F.col(text_col)), r"\s+")
                    .alias("__toks")))
    # total doc count: plain aggregate (map-side partials), no window
    dtot = base.agg(F.count(F.lit(1)).alias("d"))
    # phase 1: per-partition local rank + local token cumsum
    part = (base.repartitionByRange("__id")
            .withColumn("__pid", F.spark_partition_id()))
    wp = Window.partitionBy("__pid").orderBy("__id")
    local = part.select(
        "__pid", "__toks",
        F.row_number().over(wp).alias("__lr"),
        F.sum(F.size("__toks")).over(
            wp.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("__lcum"))
    # phase 2: fold per-partition totals into exclusive prefix offsets
    # (num-partitions rows — the only ordered global window, bounded)
    ptot = local.groupBy("__pid").agg(
        F.max("__lr").alias("__pc"),
        F.max("__lcum").alias("__ps"))
    wo = (Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = ptot.select(
        "__pid",
        F.coalesce(F.sum("__pc").over(wo), F.lit(0)).alias("__roff"),
        F.coalesce(F.sum("__ps").over(wo), F.lit(0)).alias("__soff"))
    with_cum = (local.join(F.broadcast(off), "__pid")
                .select((F.col("__lr") + F.col("__roff")).alias("__r"),
                        (F.col("__lcum") + F.col("__soff"))
                        .cast("long").alias("__cum"),
                        "__toks"))
    cps = with_cum.crossJoin(F.broadcast(dtot)).agg(
        F.max("d").alias("d"),
        *[F.max(F.when(F.col("__r")
                       == F.expr(f"(d * {i}) DIV 4"),
                       F.col("__cum"))).alias(f"n{i}")
          for i in (1, 2, 3, 4)],
        *[F.max(F.expr(f"(d * {i}) DIV 4")).alias(f"k{i}")
          for i in (1, 2, 3, 4)])
    first = (with_cum
             .select("__r", F.explode("__toks").alias("__t"))
             .groupBy("__t")
             .agg(F.min("__r").alias("__f")))
    vcounts = first.crossJoin(F.broadcast(cps)).agg(
        *[F.sum(F.when(F.col("__f") <= F.col(f"k{i}"), 1)
                .otherwise(0)).cast("long").alias(f"v{i}")
          for i in (1, 2, 3, 4)])
    g = cps.crossJoin(F.broadcast(vcounts))
    xs = [F.log(F.col(f"n{i}").cast("double")) for i in (1, 2, 3, 4)]
    ys = [F.log(F.col(f"v{i}").cast("double")) for i in (1, 2, 3, 4)]
    sx = xs[0] + xs[1] + xs[2] + xs[3]
    sy = ys[0] + ys[1] + ys[2] + ys[3]
    sxx = (xs[0] * xs[0] + xs[1] * xs[1]
           + xs[2] * xs[2] + xs[3] * xs[3])
    sxy = (xs[0] * ys[0] + xs[1] * ys[1]
           + xs[2] * ys[2] + xs[3] * ys[3])
    den = F.lit(4.0) * sxx - sx * sx
    ok = (F.col("d") >= 4) & (den > 0)
    beta = (F.lit(4.0) * sxy - sx * sy) / den
    kcoef = F.exp((sy - beta * sx) / F.lit(4.0))
    return g.select(
        F.col("d").cast("long").alias("n_docs"),
        *[F.col(f"n{i}").alias(f"n{i}") for i in (1, 2, 3, 4)],
        *[F.col(f"v{i}").alias(f"v{i}") for i in (1, 2, 3, 4)],
        F.when(ok, beta).alias("beta"),
        F.when(ok, kcoef).alias("k_coef"))
