"""Text analysis operators for training-data pipelines (C3).

Language-ID (stopword-hit heuristic), quality scoring (length/punctuation/
stopword ratios), token counting (whitespace + word-regex), and document
fingerprinting (canonicalized token-set hash).  Pure built-in expressions —
these run inside whole-stage codegen over the documents scan, one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import normalized_tokens

# Tiny deterministic stopword lists per language; the heuristic scores
# stopword hits per language and argmaxes.  (Fixture text is synthetic, so
# this demonstrates mechanics, not linguistics.)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "et", "les", "des", "en", "un"),
    "zh": ("de", "shi", "bu", "le", "wo", "you"),
}


def _hits_from_tokens(toks: Column, lang: str) -> Column:
    """Number of ``toks`` elements that are stopwords of ``lang``."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, predicted_lang, confidence): stopword-ratio argmax, ties broken by
    language code order (deterministic).

    Tokenizes ONCE into a projected column (round 11) — the per-language
    hit expressions previously each embedded their own
    ``normalized_tokens(text)``, re-splitting the text 7x per row."""
    toked = df.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("__toks")
    )
    hit_cols = [
        _hits_from_tokens(F.col("__toks"), lang).alias(f"hits_{lang}")
        for lang in STOPWORDS
    ]
    scored = toked.select(
        F.col(id_col), F.size("__toks").alias("n_tokens"), *hit_cols
    )
    pred, best = _lang_pred({lang: F.col(f"hits_{lang}") for lang in STOPWORDS})
    return scored.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        F.round(best / F.greatest(F.col("n_tokens"), F.lit(1)), 6).alias("confidence"),
    )


def _quality_exprs(t: Column, toks: Column | None = None) -> dict[str, Column]:
    """The quality feature expressions, shared by :func:`quality_score` and
    the fused :func:`text_features` so the formula cannot drift.

    ``toks`` lets a caller that already projected the token array supply the
    column reference so the tokenizer is not re-embedded per feature."""
    if toks is None:
        toks = normalized_tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    upper = F.length(F.regexp_replace(t, "[^A-Z]", ""))
    distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1))
    mean_tok_len = (n_chars - n_tokens + 1) / F.greatest(n_tokens, F.lit(1))
    score = (
        F.when(n_tokens >= 5, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((punct / F.greatest(n_chars, F.lit(1))) < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(distinct_ratio > 0.3, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len > 2) & (mean_tok_len < 12), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct": punct,
        "upper": upper,
        "distinct_ratio": distinct_ratio,
        "mean_tok_len": mean_tok_len,
        "quality_score": score,
    }


def _lang_pred(hit_map: dict[str, Column]) -> tuple[Column, Column]:
    """(predicted_lang, best_hits) argmax over per-language stopword hits,
    ties broken by language code order (deterministic)."""
    langs = sorted(STOPWORDS)
    best = F.greatest(*[hit_map[lang] for lang in langs])
    pred = None
    for lang in langs:
        cond = hit_map[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return F.coalesce(pred, F.lit("und")), best


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features + composite score in [0,1].

    Features: length, token count, mean token length, punctuation ratio,
    uppercase ratio, stopword(en) ratio, distinct-token ratio.
    """
    t = F.col(text_col)
    toked = df.select(
        F.col(id_col), t.alias("__txt"), normalized_tokens(t).alias("__toks")
    )
    t = F.col("__txt")
    q = _quality_exprs(t, F.col("__toks"))
    n_chars, n_tokens = q["n_chars"], q["n_tokens"]
    punct, upper = q["punct"], q["upper"]
    distinct_ratio, mean_tok_len = q["distinct_ratio"], q["mean_tok_len"]
    score = q["quality_score"]
    en_stop = _hits_from_tokens(F.col("__toks"), "en")
    return toked.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(upper / F.greatest(n_chars, F.lit(1)), 6).alias("upper_ratio"),
        F.round(en_stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        score.alias("quality_score"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate via regex pieces.

    The 'bpe-ish' count splits on word boundaries AND digit/letter transitions
    — a deterministic proxy for subword tokenizer output length.
    """
    t = F.col(text_col)
    ws = F.size(F.filter(F.split(t, "\\s+"), lambda x: x != F.lit("")))
    # alpha-runs and digit-runs as separate pieces — deterministic subword
    # proxy expressible in RE2 (no lookarounds, so the DuckDB oracle matches)
    pieces = F.size(F.regexp_extract_all(F.lower(t), F.lit("[a-z]+|[0-9]+"), 0))
    chars_per_token = F.lit(4.0)
    return df.select(
        F.col(id_col),
        ws.alias("whitespace_tokens"),
        pieces.alias("bpe_ish_tokens"),
        F.ceil(F.length(t) / chars_per_token).cast("long").alias("char_token_estimate"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical content fingerprint: md5 over the sorted distinct token set
    (whitespace/punctuation/case-insensitive), plus a fast 64-bit variant."""
    canon = F.array_join(F.array_sort(F.array_distinct(normalized_tokens(F.col(text_col)))), " ")
    return df.select(
        F.col(id_col),
        F.md5(canon).alias("fingerprint_md5"),
        F.xxhash64(canon).alias("fingerprint_xx64"),
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing (rolling-min) document fingerprints [Schleimer et al. 2003].

    Positional word-``shingle_n``-gram hashes; each window of ``window``
    consecutive hashes contributes its minimum; the distinct minima are the
    fingerprint set.  Guarantees: any shared run of ``shingle_n + window - 1``
    tokens between two documents yields a shared fingerprint, so fingerprint
    overlap detects partial/contained duplication that whole-document hashes
    miss.

    One codegen'd projection per row (transform over positions, ``array_min``
    over slices) — no shuffle, no UDF.  Hash = md5 hex so the DuckDB oracle
    reproduces values exactly (lexicographic min over hex strings).

    Returns (id, n_fingerprints, fp_digest) where fp_digest = md5 of the
    sorted fingerprint set — join fingerprint sets directly for containment
    queries; the digest is for equality/verification.
    """
    from .dedup import let_bound

    # The token array is let-bound (round 11): the shingle transform lambda
    # referenced the tokenizer expression, re-splitting the text once per
    # shingle position.  "hs" was already a projected column, so the window
    # transform was safe; the distinct fingerprint set is likewise projected
    # once instead of being recomputed by both output expressions.
    shingle_hashes = let_bound(
        normalized_tokens(F.col(text_col)),
        lambda toks: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - shingle_n, F.lit(0))),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, shingle_n), " ")),
        ),
    )
    with_h = df.select(F.col(id_col), shingle_hashes.alias("hs"))
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(F.col("hs")) - window, F.lit(0))),
        lambda j: F.array_min(F.slice(F.col("hs"), j + 1, window)),
    )
    return with_h.select(
        F.col(id_col), F.array_distinct(wins).alias("fps")
    ).select(
        F.col(id_col),
        F.size("fps").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort("fps"), "|")).alias("fp_digest"),
    )


def text_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ALL text-analysis features in ONE codegen projection — the fused form
    the composed training pipeline (queries.c9_training_pipeline) consumes.

    language_id / quality_score / token_counts / fingerprint each project the
    same corpus scan; joining their outputs on id would re-scan the corpus
    four times and shuffle three joins.  At 100 TB the right plan is a single
    pass, so this fuses the shared expressions (same builders — the formulas
    cannot drift) into one select: (id, predicted_lang, quality_score,
    bpe_ish_tokens, fingerprint_md5).
    """
    t = F.col(text_col)
    toked = df.select(
        F.col(id_col), t.alias("__txt"), normalized_tokens(t).alias("__toks")
    )
    t = F.col("__txt")
    toks = F.col("__toks")
    q = _quality_exprs(t, toks)
    pred, _best = _lang_pred(
        {lang: _hits_from_tokens(toks, lang) for lang in STOPWORDS}
    )
    pieces = F.size(F.regexp_extract_all(F.lower(t), F.lit("[a-z]+|[0-9]+"), 0))
    canon = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return toked.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        q["quality_score"].alias("quality_score"),
        pieces.alias("bpe_ish_tokens"),
        F.md5(canon).alias("fingerprint_md5"),
    )
