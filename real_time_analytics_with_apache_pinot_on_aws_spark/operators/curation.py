"""Training-corpus curation operators (C-extension suite, round 4).

Beyond dedup/similarity/text-features, a production LLM-data pipeline needs
these primitives before a corpus ships to a trainer — none present in the
reference (its engine stops at SQL analytics; these are brief-mandated
extensions alongside C1-C4):

- **benchmark decontamination** (C10) — flag corpus documents that share
  word n-grams with an evaluation/benchmark set, so test data never leaks
  into training data;
- **deterministic train/val/test split** (C11) — a pure function of the
  document id (md5 prefix), reproducible across engines/runs with no state;
- **stratified sampling** (C12) — exact-N per stratum and Bernoulli-by-hash
  variants, both deterministic;
- **sequence packing** (C13) — concatenate-and-chunk accounting that maps
  each document into fixed token-budget context windows per language stream;
- **PII redaction** (C14) — email/phone/IPv4 scrubbing with audit counts,
  patterns constrained to the Java-regex ∩ RE2 subset;
- **overlapping chunking** (C15) — the RAG/embedding splitter: fixed token
  windows on a stride, tokenize-once, map-side explode;
- **repetition filter** (C18) — duplicated n-gram fractions, the Gopher/C4
  boilerplate quality rules.

The composed capstone (queries.c17_corpus_to_training) chains quality gate ->
exact dedup -> decontamination -> split -> per-(split, language) accounting,
with the DuckDB oracle replaying the whole pipeline value-for-value.

All are pure built-in-expression DataFrame plans (no Python in the hot
path) and every one is oracle-checkable: the only "randomness" anywhere is
md5, which DuckDB computes bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .dedup import shingles


def whitespace_token_count(text_col: Column) -> Column:
    """Whitespace token count (matches text.token_counts' whitespace_tokens)."""
    return F.size(F.filter(F.split(text_col, "\\s+"), lambda x: x != F.lit("")))


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    min_overlap: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per corpus document: distinct word-``n``-gram overlap with the eval set.

    Returns (id, n_overlap, contaminated) for every corpus row, where
    ``contaminated`` is ``n_overlap >= min_overlap`` — the n-gram-collision
    decontamination step every serious pretraining pipeline runs against its
    benchmark suites.

    Scale shape (100 TB corpus, benchmark suites of at most a few hundred MB):
    the eval set's distinct gram dictionary is tiny and **broadcast**, so the
    corpus side is explode -> broadcast-hash-join -> partial count — the
    corpus text itself never crosses an exchange; the only shuffle carries
    (id, partial_count) pairs.  Grams are per-document distinct before the
    join (``shingles`` dedups), so ``count(*)`` of join hits IS the distinct
    overlap count.  At production scale the join key would be
    ``xxhash64(gram)`` (8-byte keys); the string key kept here is what the
    DuckDB oracle can replay exactly.
    """
    eg = (
        eval_set.select(F.explode(shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    cg = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    hits = (
        cg.join(F.broadcast(eg), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def _hex_threshold(value: str, name: str) -> str:
    """Normalize a 2-char hex bucket threshold; reject anything else.

    The md5 prefix compared against it is LOWERCASE hex, so an uppercase
    ('CC') or wrong-length argument would silently mis-bucket every row
    (lexicographic compare, round-4 ADVICE) — normalize case, fail loudly on
    shape.
    """
    v = value.lower()
    if len(v) != 2 or any(c not in "0123456789abcdef" for c in v):
        raise ValueError(
            f"{name} must be exactly two hex chars (e.g. 'cc'), got {value!r}"
        )
    return v


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_hex: str = "cc",
    val_hex: str = "e6",
) -> DataFrame:
    """Append a deterministic train/val/test ``split`` column.

    The split is a pure function of ``md5(cast(id as string))``'s first two
    hex chars (256 buckets): ``< train_hex`` -> train (default 204/256 ~ 80%),
    ``< val_hex`` -> val (~10%), else test.  No RNG, no seed to persist, no
    shuffle — a map-side projection that assigns the same document to the
    same split on any engine, any cluster, any day; DuckDB reproduces it
    bit-for-bit, which is what makes the assignment auditable.
    """
    train_hex = _hex_threshold(train_hex, "train_hex")
    val_hex = _hex_threshold(val_hex, "val_hex")
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.withColumn(
        "split",
        F.when(bucket < train_hex, F.lit("train"))
        .when(bucket < val_hex, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample_exact(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum, deterministically.

    Rank within each stratum by ``(md5(id), id)`` — a reproducible pseudo-
    random order — and keep the first N.  One shuffle, keyed by the stratum;
    a skewed stratum costs one hot partition of (id, md5) pairs only (the
    payload columns rejoin AFTER selection at scale; here the fixture rows
    are narrow enough to carry through).
    """
    rk = F.row_number().over(
        W.partitionBy(stratum_col).orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    )
    return df.withColumn("rk", rk).filter(F.col("rk") <= n_per_stratum)


def bernoulli_sample(
    df: DataFrame,
    rate_hex: str = "20",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows with md5 prefix < rate_hex.

    ``rate_hex`` of '20' keeps ~32/256 = 12.5 % of rows.  Zero shuffles —
    the filter is a map-side predicate on a hash of the id, so the sample is
    stable under re-runs, re-partitioning, and engine changes (the property
    ``TABLESAMPLE BERNOULLI`` cannot give you).
    """
    rate_hex = _hex_threshold(rate_hex, "rate_hex")
    return df.filter(F.substring(F.md5(F.col(id_col).cast("string")), 1, 2) < rate_hex)


def _md5_u16(id_col: str) -> Column:
    """First 4 hex chars of md5(id) as an integer in [0, 65536) — the
    deterministic uniform variate shared with the DuckDB oracles (both
    engines compute md5 bit-identically; ``conv`` / 0x-cast parse the same
    hex)."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
    ).cast("long")


def _md5_u32(id_col: str) -> Column:
    """First 8 hex chars of md5(id) in [0, 2^32) — the wider variate for
    modular assignment: ``u32 % n`` keeps residue-class skew below
    ``n / 2^32`` for any supported shard count (a 16-bit variate would give
    up to 2:1 shard-size imbalance once n approaches 2^16)."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")


def temperature_rebalance(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based source rebalancing (C19): deterministic
    downsampling that flattens the source-size distribution.

    The multilingual-pretraining sampling rule (exponentiated-count
    sampling, p_s ∝ n_s^alpha, used by public multilingual LM recipes):
    with per-source keep-rate ``r_s = (n_s^alpha / n_s) / max_t
    (n_t^alpha / n_t)`` the EXPECTED kept count is ∝ n_s^alpha, the
    largest over-represented sources are cut hardest, and the
    rarest source keeps everything (r = 1).  alpha=1 keeps all rows;
    alpha=0 equalizes expected counts.

    Determinism + scale: the keep decision is ``md5-uniform(id) <
    floor(r_s * 65536)`` — a pure function of (id, per-source counts),
    reproducible on any engine (the floor makes the comparison
    integer-vs-integer, so a sub-ulp pow() difference between engines
    cannot flip a boundary row).  The plan is one TINY per-source count
    aggregate (|sources| rows) broadcast-joined back, then a map-side
    filter: the corpus itself never shuffles.
    """
    w = F.pow(F.col("n_src").cast("double"), F.lit(alpha)) / F.col("n_src")
    rates = (
        df.groupBy(source_col)
        .agg(F.count("*").alias("n_src"))
        .withColumn("_w", w)
        .withColumn("keep_rate", F.col("_w") / F.max("_w").over(W.partitionBy()))
        .select(source_col, "n_src", "keep_rate")
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(_md5_u16(id_col) < F.floor(F.col("keep_rate") * 65536))
        .drop("n_src", "keep_rate")
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` training shards (C20).

    Trainers need the corpus order decorrelated from ingest order without a
    global sort: ``shard = md5-uniform(id) mod n`` assigns each document a
    pseudo-random shard, and ``shard_order = md5(id)`` gives the
    within-shard read order — both pure map-side projections (ZERO
    shuffles; the export writes ``partitionBy(shard)`` +
    ``sortWithinPartitions(shard_order)``, which is one write-side
    exchange, the minimum any sharded layout pays).  Same (id -> shard,
    order) on every engine, every run — a re-export after an upstream fix
    moves no document between shards.

    The shard comes from a 32-bit md5 prefix, so the worst residue-class
    imbalance at the max shard count is 65536/2^32 ≈ 0.0015 % — the
    "pseudo-random shard" claim holds across the whole supported range
    (a 16-bit variate would skew 2:1 near 2^16 shards).
    """
    if n_shards < 1 or n_shards > 65536:
        raise ValueError(f"n_shards must be in [1, 65536], got {n_shards}")
    return df.withColumn(
        "shard", (_md5_u32(id_col) % n_shards).cast("int")
    ).withColumn("shard_order", F.md5(F.col(id_col).cast("string")))


def token_budget_cap(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group token-budget selection (C21): keep documents per group in
    deterministic pseudo-random order until the group's token budget fills.

    The data-mixing primitive ("200M tokens of each language"): rank the
    group by (md5(id), id), keep every document whose PRECEDING cumulative
    token count is under ``budget`` — so the first over-budget document is
    included (budgets fill, never starve) and selection is a pure function
    of ids.  One group-keyed shuffle for the window cumsum; per-group state
    is one running long.  Skew note: a hot group costs one hot partition of
    (id, token_count) pairs — at 100 TB project those two columns first and
    rejoin payloads after selection, same pattern as
    :func:`stratified_sample_exact`.
    """
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    win = W.partitionBy(group_col).orderBy(*order)
    prior = F.coalesce(
        F.sum(token_col).over(win.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        df.withColumn("_prior_tokens", prior)
        .filter(F.col("_prior_tokens") < budget)
        .drop("_prior_tokens")
    )


def classifier_scores(
    df: DataFrame,
    vec_col: str,
    weights: list,
    bias: float,
) -> DataFrame:
    """Model-based quality scoring (C22): apply a trained linear probe to an
    embedding column — the fasttext/logreg-style quality-filter stage every
    production corpus pipeline runs before training.

    The model parameters arrive as plain literals (in production: loaded
    from the trainer's artifact); the score ``w·x + b`` is ONE codegen
    ``zip_with``/``aggregate`` pass per row — a map-side scan with zero
    shuffles and nothing driver-side, so 100 TB costs exactly one read.
    Left-to-right summation with the bias added AFTER the fold matches the
    oracle's ``list_dot_product(w, x) + b`` term order exactly (the fold is
    :func:`..similarity.dot`, the same expression every ANN path scores
    with — one definition to keep the engines in agreement); a dimension
    mismatch between weights and embeddings raises (zip_with would
    otherwise null-pad and silently drop every row), while a NULL embedding
    scores NULL — one missing vector must not abort a corpus-size job, and
    ``classifier_filter``'s ``> 0`` drops the row.
    """
    from .similarity import dot as _dot

    w = F.array(*[F.lit(float(x)) for x in weights])
    fold = _dot(w, F.col(vec_col))
    score = (
        F.when(F.size(F.col(vec_col)) == len(weights), fold + F.lit(float(bias)))
        .when(F.col(vec_col).isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.raise_error(
                F.lit(
                    f"classifier_scores: embedding dimension != {len(weights)} "
                    "model weights"
                )
            )
        )
    )
    return df.withColumn("quality_score", score)


def classifier_filter(
    df: DataFrame,
    vec_col: str,
    weights: list,
    bias: float,
) -> DataFrame:
    """Keep rows the linear probe scores positive (predicted 'keep')."""
    return classifier_scores(df, vec_col, weights, bias).filter(
        F.col("quality_score") > 0
    )


def pack_sequences(
    df: DataFrame,
    part_col: str,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Concatenate-and-chunk sequence packing accounting.

    Models the standard pretraining packer: within each ``part_col`` stream
    (e.g. language), documents are concatenated in ``id_col`` order and the
    token stream is cut into fixed ``budget``-token context windows.  Emits
    per document: its starting token offset, the first chunk it lands in,
    and how many chunks it spans (documents crossing a boundary span > 1).

    Plan: one window cumulative sum per stream — a single shuffle keyed by
    ``part_col`` carrying (id, token_count) pairs.  At 100 TB the stream key
    would include a shard component (e.g. ``pmod(xxhash64(id), n_shards)``)
    so no single stream serializes through one task; the arithmetic is
    unchanged because offsets are per-stream.
    """
    w = (
        W.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("bigint")
    first_chunk = F.floor(offset / budget).cast("bigint")
    last_chunk = F.floor(
        (offset + F.greatest(F.col(token_col), F.lit(1)) - 1) / budget
    ).cast("bigint")
    return df.select(
        F.col(part_col),
        F.col(id_col),
        F.col(token_col).cast("bigint").alias(token_col),
        offset.alias("token_offset"),
        first_chunk.alias("first_chunk"),
        (last_chunk - first_chunk + 1).alias("chunks_spanned"),
    )


# PII patterns shared by redact_pii and pii_counts — written in the common
# subset of Java regex (Spark) and RE2 (DuckDB) so the oracle replays them.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9][0-9 -]{7,}[0-9]", "<PHONE>"),
    ("ip", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scrub emails / phone numbers / IPv4 addresses, keeping match counts.

    The standard pre-training privacy pass: each pattern family is replaced
    by a typed placeholder token and the per-document hit count is kept for
    auditing.  Pure ``regexp_replace`` / ``regexp_count`` projections — one
    map-side codegen pass over the scan, zero shuffles, trivially linear at
    100 TB.  Patterns live in :data:`PII_PATTERNS` in the Java-regex ∩ RE2
    subset so DuckDB reproduces both the redacted text and the counts.
    """
    t: Column = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat, _rep in PII_PATTERNS
    ]
    red = t
    for _name, pat, rep in PII_PATTERNS:
        red = F.regexp_replace(red, pat, rep)
    return df.select(F.col(id_col), *counts, red.alias("redacted_text"))


def chunk_documents(
    df: DataFrame,
    window: int = 40,
    stride: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG/embedding splitter).

    Each document yields chunks of up to ``window`` tokens starting every
    ``stride`` tokens (overlap = window - stride); a doc shorter than one
    window yields exactly one chunk.  Chunk count uses pure integer
    arithmetic — ``1 + (n - window + stride - 1) div stride`` — so the
    oracle computes the identical spine.

    Plan: one generate/explode over a per-row ``sequence`` — map-side row
    amplification by ~n_tokens/stride, NO shuffle at all; at scale the
    output partitions inherit the scan's, and chunk text is sliced from the
    already-tokenized array (tokenize once, not per chunk).
    """
    from .dedup import normalized_tokens

    toks = normalized_tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        (F.floor((n - window + stride - 1) / stride) + 1).cast("int")
    )
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    piece = F.slice(F.col("__toks"), start + 1, window)
    return base.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        start.cast("bigint").alias("start_token"),
        F.size(piece).cast("bigint").alias("chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition signals (the Gopher/C4 quality-rule family).

    Emits per document the duplicated-2-gram and duplicated-3-gram fractions
    (1 - distinct/total) — the standard boilerplate detectors: templated or
    looping text repeats short n-grams far above natural prose rates.  All
    map-side array expressions over one scan (tokenize once, both gram sizes
    slice the same token array); zero shuffles, linear at any corpus size,
    and exactly replayable by the oracle.
    """
    from .dedup import normalized_tokens

    # Tokenize once into a projected column (round 11): the three signals
    # reference the array instead of each re-embedding the tokenizer.
    toked = df.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    return toked.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        _dup_gram_fraction(toks, 2).alias("dup_2gram_fraction"),
        _dup_gram_fraction(toks, 3).alias("dup_3gram_fraction"),
    )


def _gram_strings(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as strings — the single source of the
    T<n edge-case arithmetic (``greatest(size-n, 0)`` keeps short docs at
    one degenerate gram), shared by :func:`repetition_stats` and
    :func:`gopher_rules` so the DuckDB oracles track ONE expression.

    ``toks`` is let-bound so a caller passing a tokenizer EXPRESSION (not a
    column reference) pays it once per row, not once per gram position."""
    from .dedup import let_bound

    return let_bound(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        ),
    )


def _dup_gram_fraction(toks: Column, n: int) -> Column:
    """Duplicated-n-gram fraction (1 - distinct/total), rounded 6 dp.

    The gram array is let-bound: it feeds both the distinct and the total
    size, and inlining it twice would double the whole gram pipeline."""
    from .dedup import let_bound

    return let_bound(
        _gram_strings(toks, n),
        lambda g: F.round(
            1 - F.size(F.array_distinct(g)) / F.greatest(F.size(g), F.lit(1)), 6
        ),
    )


def contaminated_ids(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    min_overlap: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Just the ids failing decontamination — :func:`decontaminate` without
    the zero-fill join back to the corpus (one fewer corpus scan), for
    pipelines that only need to ANTI-JOIN the offenders away."""
    eg = (
        eval_set.select(F.explode(shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    cg = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        cg.join(F.broadcast(eg), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
        .select(id_col)
    )


# -- C26: n-gram LM perplexity filter (CCNet's quality stage) ---------------


def _bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) adjacent-token pairs, normalized-lowercase tokens."""
    from .dedup import normalized_tokens

    toks = docs.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("t")
    )
    pairs = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.element_at("t", i).alias("w1"),
                F.element_at("t", i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return toks.select(
        F.col(id_col), F.explode(pairs).alias("bg")
    ).select(id_col, "bg.w1", "bg.w2")


def train_bigram_lm(
    ref_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Count-based bigram LM from a reference corpus — the model behind
    CCNet's perplexity filter (Wenzek et al. 2020, arXiv:1911.00359, which
    scores crawl text against a Wikipedia-trained KenLM; any count-based
    n-gram LM serves).  Returns (bigram_counts, unigram_counts,
    vocab_size); the counts are plain DataFrames — persist them like any
    table and prune low-count rows to shrink the model (CCNet ships a
    pruned LM).  vocab_size is a driver scalar (one count-distinct job),
    the same scalar class as the hybrid time boundary.
    """
    big = _bigrams(ref_docs, id_col, text_col)
    bigram_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # c1 is the number of bigram occurrences led by w1 — exactly the sum of
    # c12 over w2 — so it folds from the vocabulary-sized bigram table
    # instead of re-scanning, re-tokenizing and re-exploding the corpus
    # (round 11: one full reference pass removed; values identical).
    unigram_counts = bigram_counts.groupBy("w1").agg(
        F.sum("c12").alias("c1")
    )
    from .dedup import normalized_tokens

    vocab_size = (
        ref_docs.select(
            F.explode(normalized_tokens(F.col(text_col))).alias("w")
        )
        .agg(F.count_distinct("w"))
        .collect()[0][0]
    )
    return bigram_counts, unigram_counts, int(vocab_size)


def lm_nll_scores(
    docs: DataFrame,
    bigram_counts: DataFrame,
    unigram_counts: DataFrame,
    vocab_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document average negative log-likelihood under the bigram LM
    (monotone in perplexity: ppl = exp(avg_nll)) with add-``alpha``
    smoothing — P(w2|w1) = (c12+a)/(c1+a*V), so bigrams unseen in the
    reference corpus score finitely instead of -inf.  Returns
    (id, n_bigrams, avg_nll) — low avg_nll = fluent/common text, high =
    gibberish or boilerplate-speak; CCNet buckets head/middle/tail on
    exactly this score.

    Spark shape: doc bigrams left-join the count tables on (w1[, w2]) —
    the LM is vocabulary-sized, not corpus-sized, so AQE broadcasts a
    pruned model; one doc-keyed aggregate finishes.  avg_nll is rounded
    to 6 dp so FP summation order cannot leak into equality checks.
    """
    big = _bigrams(docs, id_col, text_col)
    scored = (
        big.join(bigram_counts, ["w1", "w2"], "left")
        .join(unigram_counts, "w1", "left")
        .withColumn(
            "nll",
            -F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + alpha)
                / (F.coalesce(F.col("c1"), F.lit(0)) + alpha * vocab_size)
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


def dsir_scores(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every candidate document by how target-domain-like its hashed-n-gram
    profile is, for importance resampling of a raw corpus toward a target
    domain.

    The method: featurize documents into hashed n-gram (unigram + bigram)
    bucket counts; fit Laplace-smoothed bag-of-buckets distributions p
    (target docs) and q (candidates); a candidate's log importance weight
    is sum over its gram occurrences of ``log p[b] - log q[b]``.  Returns
    ``(id, n_grams, log_w, sel_key)`` for every candidate (non-target) doc,
    where ``sel_key = log_w + Gumbel(md5(id))`` is the Gumbel top-k
    resampling key — taking the k largest sel_keys samples k docs without
    replacement with probability proportional to their importance weight
    (the paper's resampling step), deterministically: the Gumbel variate is
    ``-ln(-ln(u))`` with ``u = (md5_u32(id)+0.5)/2^32``, so both engines
    and every rerun agree.

    Spark shape (100 TB posture): every document stays ONE row from its
    text to its score.  Tokenize/gram/hash is one map-side higher-order pass
    (no Python, gram strings never cross an exchange) that keeps the doc's
    bucket ids as an int array, cached so the corpus text is read once.  The
    fit explodes those arrays into ONE aggregate of <= ``n_buckets`` rows
    per partition after map-side combine; one single-partition step folds
    it into a dense log-ratio array indexed by bucket, broadcast to a narrow
    projection that sums each doc's ratios in gram order (no doc-keyed
    exchange).  A candidate with no gram (empty, null or punctuation-only
    text) or a null target flag gets no row.  Selection composes as
    ``orderBy(sel_key desc).limit(k)`` = TakeOrderedAndProject, never a
    global window.  ``log_w``/``sel_key`` round to 6 dp so FP summation
    order cannot leak into value hashes.
    """
    from .dedup import _spread, lifecycle_cache, normalized_tokens

    # Spread first (round 11, gated): tokenize + gram + per-gram md5 is the
    # dominant per-row compute and a small corpus scan is one partition.
    base = _spread(docs).select(
        F.col(id_col),
        is_target.alias("__tgt"),
        normalized_tokens(F.col(text_col)).alias("__t"),
    )
    bigrams = F.transform(
        F.slice("__t", 2, F.size("__t")),
        lambda w, i: F.concat_ws(" ", F.col("__t")[i], w),
    )
    # 8-hex-char md5 prefix % n_buckets: the same deterministic hash family
    # as hash_split/_md5_u32, DuckDB-replayable bit-for-bit
    buckets = F.transform(
        F.concat(F.col("__t"), bigrams),
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        ),
    )
    # Single text pass: the cached int arrays, one row per doc, feed both
    # the fit and the scoring.  Lifecycle: see ``dedup.lifecycle_cache``.
    per_doc = lifecycle_cache(
        base.select(id_col, "__tgt", buckets.alias("__b")),
        "curation.dsir.per_doc",
    )
    fit = (
        per_doc.select("__tgt", F.explode("__b").alias("b"))
        .groupBy("b")
        .agg(
            F.count_if(F.col("__tgt")).alias("ct"),
            F.count_if(~F.col("__tgt")).alias("cr"),
        )
    )

    def log_p(count: Column, total: str) -> Column:
        return F.log((count + alpha) / (F.col(total) + alpha * n_buckets))

    # Totals and the Laplace log-ratio in one row, dense by bucket id (the
    # slot of a bucket no gram hashes to is null and never read)
    entries = F.collect_list(F.struct("b", F.struct("ct", "cr")))
    ratio = fit.agg(
        F.map_from_entries(entries).alias("m"),
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
    ).select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_buckets - 1).cast("long")),
            lambda b: log_p(F.col("m")[b]["ct"], "nt")
            - log_p(F.col("m")[b]["cr"], "nr"),
        ).alias("__logr")
    )
    log_w = F.aggregate("__b", F.lit(0.0), lambda acc, b: acc + F.col("__logr")[b])
    scored = (
        per_doc.where(~F.col("__tgt") & (F.size("__b") > 0))
        .crossJoin(F.broadcast(ratio))
        .select(
            id_col,
            F.size("__b").cast("bigint").alias("n_grams"),
            F.round(log_w, 6).alias("log_w"),
        )
    )
    u = (_md5_u32(id_col) + F.lit(0.5)) / F.lit(4294967296.0)
    return scored.withColumn(
        "sel_key", F.round(F.col("log_w") - F.log(-F.log(u)), 6)
    )


# -- C28: Gopher quality rules (rule-based document filter) ------------------


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_fraction: float = 0.9,
    max_ellipsis_line_fraction: float = 0.3,
    min_alpha_word_fraction: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_2gram_fraction: float = 0.20,
    max_dup_3gram_fraction: float = 0.18,
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, arXiv:2112.11446
    Appendix A1): the standard pre-training document gate — every signal a
    deterministic function of the text, every rule a thresholded boolean,
    ``passes`` their conjunction.  Defaults are the paper's published
    thresholds; the duplicate-n-gram rules adapt the paper's top-n-gram
    character fractions to duplicated-n-gram token fractions (the same
    templated-text detector, already the repo's :func:`repetition_stats`
    signal — documented divergence, thresholds kept at the paper's values).

    Signals per document: word count (whitespace words), mean word length,
    symbol-to-word ratio ('#' chars + '...' occurrences per word),
    bullet-start and ellipsis-end line fractions, fraction of words with an
    alphabetic character, count of the paper's 8 required stopwords present
    (the/be/to/of/and/that/have/with), duplicated 2-/3-gram fractions.

    Spark shape (100 TB posture): ONE map-side pass — every signal is a
    built-in array/string expression over the same row; no joins, no
    aggregates, no shuffles anywhere, trivially linear at any corpus size
    and embarrassingly partition-parallel.  Fractions round to 6 dp for
    oracle determinism.
    """
    t = F.col(text_col)
    from .dedup import _spread, normalized_tokens

    # Round 11: each token family is split ONCE into a projected column and
    # every signal references the array.  The inline form re-ran the
    # whitespace split three times and the line split three times per row,
    # and the stopword filter re-lowered-and-split the text once per
    # STOPWORD (``lw`` captured inside the filter lambda is re-evaluated per
    # element).  Same values, one tokenization per family.  The corpus is
    # spread first (gated, :func:`dedup._spread`): all the signal work is
    # per-row text compute, and a small parquet scan is one partition — one
    # core would otherwise gate the whole pass.
    pre = _spread(docs).select(
        F.col(id_col),
        t.alias("__txt"),
        F.filter(F.split(t, r"\s+"), lambda x: x != F.lit("")).alias("__w"),
        F.filter(F.split(t, "\n"), lambda x: F.trim(x) != F.lit("")).alias("__l"),
        F.split(F.lower(t), r"[^a-z0-9]+").alias("__lw"),
        normalized_tokens(t).alias("__t"),
    )
    t = F.col("__txt")
    words = F.col("__w")
    n_words = F.size(words)
    safe_n = F.greatest(n_words, F.lit(1))
    mean_wl = F.aggregate(
        words, F.lit(0).cast("double"), lambda a, w: a + F.length(w)
    ) / safe_n
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ell) / safe_n
    lines = F.col("__l")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.substring(F.trim(ln), 1, 1).isin("-", "*", "•"),
            )
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: F.rtrim(ln).endswith("...")
                | F.rtrim(ln).endswith("…"),
            )
        )
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / safe_n
    )
    lw = F.col("__lw")
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in
                      ("the", "be", "to", "of", "and", "that", "have", "with")]),
            lambda s: F.array_contains(lw, s),
        )
    )
    toks = F.col("__t")

    sig = pre.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_fraction"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_fraction"),
        F.round(alpha_frac, 6).alias("alpha_word_fraction"),
        stop_hits.alias("stop_hits"),
        _dup_gram_fraction(toks, 2).alias("dup_2gram_fraction"),
        _dup_gram_fraction(toks, 3).alias("dup_3gram_fraction"),
    )
    rules = {
        "r_word_count": F.col("n_words").between(min_words, max_words),
        "r_mean_word_len": F.col("mean_word_len").between(
            min_mean_word_len, max_mean_word_len
        ),
        "r_symbol_ratio": F.col("symbol_word_ratio") <= max_symbol_word_ratio,
        "r_bullet_lines": F.col("bullet_line_fraction")
        <= max_bullet_line_fraction,
        "r_ellipsis_lines": F.col("ellipsis_line_fraction")
        <= max_ellipsis_line_fraction,
        "r_alpha_words": F.col("alpha_word_fraction") >= min_alpha_word_fraction,
        "r_stopwords": F.col("stop_hits") >= min_stop_hits,
        "r_dup_2gram": F.col("dup_2gram_fraction") <= max_dup_2gram_fraction,
        "r_dup_3gram": F.col("dup_3gram_fraction") <= max_dup_3gram_fraction,
    }
    out = sig.select("*", *[c.alias(n) for n, c in rules.items()])
    passes = None
    for n in rules:
        passes = F.col(n) if passes is None else passes & F.col(n)
    return out.withColumn("passes", passes)


# -- C29: C4-style line cleaning + document filter ---------------------------


def c4_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    banned_substrings: tuple = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020, arXiv:1910.10683 §2.2): keep only
    lines that end in a terminal punctuation mark ('.', '!', '?', '"') AND
    contain at least ``min_words_per_line`` words; flag (not drop — the
    caller filters) documents with fewer than ``min_sentences`` kept
    sentences or containing a banned substring ('lorem ipsum', '{' — the
    paper's JavaScript/boilerplate tells).  Returns
    ``(id, clean_text, n_lines, n_kept, n_sentences, has_banned,
    doc_pass)``.

    Spark shape (100 TB posture): ONE map-side pass — line split, per-line
    predicate, sentence count, and banned-substring test are all built-in
    array/string expressions over the same row; no shuffle anywhere,
    trivially linear and partition-parallel.  Sentence count = kept-line
    terminal-punctuation occurrences ('.', '!', '?'), the paper's proxy.
    """
    t = F.col(text_col)
    # Round 11: lines / kept / clean / n_sent are projected stage by stage so
    # each is computed ONCE per row.  Inline, `clean` (whose subtree re-runs
    # the line split AND the per-line word-split predicate) was embedded in
    # clean_text, n_sentences (twice) and doc_pass — up to five evaluations
    # of the whole cleaning pipeline per row.  Values are unchanged.
    is_kept = (
        lambda ln: F.rtrim(ln).rlike('[.!?"]$')
        & (
            F.size(F.filter(F.split(F.trim(ln), r"\s+"), lambda w: w != F.lit("")))
            >= min_words_per_line
        )
    )
    low = F.lower(t)
    has_banned = None
    for b in banned_substrings:
        c = low.contains(F.lit(b))
        has_banned = c if has_banned is None else has_banned | c
    staged = (
        docs.select(
            F.col(id_col),
            (has_banned if has_banned is not None else F.lit(False)).alias(
                "has_banned"
            ),
            F.filter(F.split(t, "\n"), lambda x: F.trim(x) != F.lit("")).alias(
                "__lines"
            ),
        )
        .select(
            F.col(id_col), "has_banned", "__lines",
            F.filter(F.col("__lines"), is_kept).alias("__kept"),
        )
        .select(
            F.col(id_col), "has_banned", "__lines", "__kept",
            F.array_join(F.transform(F.col("__kept"), F.trim), "\n").alias(
                "__clean"
            ),
        )
        .select(
            F.col(id_col), "has_banned", "__lines", "__kept", "__clean",
            # length-difference count, not a per-character array explode — an
            # O(chars) array per doc just to count 3 characters is the wrong
            # shape for a map-side 100 TB hot path (round-6 review)
            (
                F.length("__clean")
                - F.length(F.translate(F.col("__clean"), ".!?", ""))
            ).alias("__n_sent"),
        )
    )
    return staged.select(
        F.col(id_col),
        F.col("__clean").alias("clean_text"),
        F.size("__lines").alias("n_lines"),
        F.size("__kept").alias("n_kept"),
        F.col("__n_sent").alias("n_sentences"),
        F.col("has_banned"),
        (
            (F.col("__n_sent") >= F.lit(min_sentences)) & ~F.col("has_banned")
        ).alias("doc_pass"),
    )


# default soft-banned word weights for url_filter — the RefinedWeb shape
# (strict words score 1.0 on their own; softer words need to co-occur)
DEFAULT_URL_BANNED_WORDS: tuple[tuple[str, float], ...] = (
    ("porn", 1.0),
    ("xxx", 1.0),
    ("casino", 1.0),
    ("escort", 1.0),
    ("gambling", 0.5),
    ("betting", 0.5),
    ("adult", 0.5),
    ("pills", 0.25),
    ("webcam", 0.25),
    ("ads", 0.25),
)

# Two-level public suffixes under which the registered domain is the last
# THREE host labels (e.g. example.co.uk, not co.uk).  This is the compact
# high-traffic ccTLD subset of the Mozilla Public Suffix List — the full
# PSL is an external dataset this container lacks; a host under a suffix
# missing here degrades to the two-label extraction, it is never dropped
# for that reason alone.
TWO_LEVEL_PUBLIC_SUFFIXES: tuple[str, ...] = tuple(
    f"{second}.{cc}"
    for cc, seconds in {
        "uk": "co org ac gov me net sch plc ltd nhs police",
        "au": "com net org edu gov id asn",
        "jp": "co ne or ac go ad ed lg gr",
        "nz": "co net org ac govt school geek gen kiwi maori",
        "za": "co net org gov ac web edu mil nom",
        "br": "com net org gov edu mil art blog eco emp far imb ind inf",
        "in": "co net org firm gen ind ac edu gov res mil nic",
        "cn": "com net org gov edu ac mil",
        "tw": "com net org edu gov idv game club ebiz",
        "hk": "com net org edu gov idv",
        "sg": "com net org edu gov per",
        "kr": "co ne or go ac re pe es kg hs ms sc",
        "th": "co in ac go or net mi",
        "id": "co net or go ac web sch mil biz my desa ponpes",
        "my": "com net org gov edu mil name",
        "ph": "com net org gov edu ngo mil i",
        "vn": "com net org gov edu int ac biz info name pro health",
        "mx": "com net org gob edu",
        "ar": "com net org gob edu int mil tur",
        "co": "com net org edu gov mil nom",
        "pe": "com net org gob edu mil nom",
        "ve": "com net org gob edu mil web co info",
        "uy": "com net org gub edu mil",
        "ec": "com net org gob edu mil fin med pro info",
        "bo": "com net org gob edu mil tv web",
        "py": "com net org gov edu mil coop",
        "do": "com net org gob edu mil web art sld",
        "gt": "com net org gob edu mil ind",
        "ni": "com net org gob edu mil co in info web",
        "pa": "com net org gob edu sld abo ing med nom",
        "sv": "com org gob edu red",
        "hn": "com net org gob edu mil",
        "tr": "com net org gov edu mil bel pol av dr k12 name web",
        "il": "co org net ac gov muni k12 idf",
        "pk": "com net org gov edu mil biz web fam gok gop gos",
        "bd": "com net org gov edu mil ac info",
        "np": "com net org gov edu mil aero biz coop info museum name",
        "lk": "com net org gov edu int ac sch web ltd assn grp hotel",
        "ng": "com net org gov edu mil name mobi sch i",
        "ke": "co or go ac ne me mobi info sc",
        "tz": "co net or go ac sc hotel info me mil mobi tv",
        "ug": "co or go ac ne sc com org",
        "zw": "co org gov ac mil",
        "bw": "co org",
        "gh": "com org gov edu mil",
        "et": "com org gov edu net biz name info",
        "eg": "com net org gov edu mil name sci",
        "sa": "com net org gov edu med pub sch",
        "ua": "com net org gov edu in",
        "ru": "com net org gov edu int mil ac",
        "pl": "com net org gov edu mil info biz waw",
    }.items()
    for second in seconds.split()
)


def url_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    banned_words: tuple[tuple[str, float], ...] = DEFAULT_URL_BANNED_WORDS,
    score_threshold: float = 1.0,
    allowlist: DataFrame | None = None,
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """C32: URL/domain filtering — the FIRST stage of the RefinedWeb
    pipeline (Penedo et al. 2023, arXiv:2306.01116 §3.2 + Appendix G.1),
    also the CC pipeline stage C4/Gopher assume has already run.  Three
    published parts, all implemented:

    1. **domain blocklist** — RefinedWeb uses the UT1 "adult" list
       (~4.6M registered domains); a document whose registered domain is
       listed is dropped.  ``blocklist`` is a one-column DataFrame
       (``domain``) of lower-case registered domains.
    2. **word-based URL scoring** — every ``(word, weight)`` in
       ``banned_words`` that occurs as a substring of the lower-cased URL
       adds its weight; ``url_score >= score_threshold`` drops the doc
       (the paper's strict/soft word tiers: a strict word alone crosses
       the 1.0 threshold, soft words only in combination).
    3. **curated allowlist override** — RefinedWeb keeps a small list of
       wrongly-blocked high-quality domains; a registered domain present
       in ``allowlist`` is kept regardless of the other two signals.

    Registered domain = last two dot-labels of the host, EXCEPT under a
    known two-level public suffix (co.uk, com.au, co.jp, ...) where the
    last THREE labels are taken — so one blocklisted ``example.co.uk``
    never shadows every other ``.co.uk`` host (the round-6 verdict's
    silent-mass-drop shape).  The embedded suffix set
    (:data:`TWO_LEVEL_PUBLIC_SUFFIXES`) is the ~200 high-traffic
    ccTLD second-level registries, not the full Mozilla PSL (an external
    dataset this container lacks — documented divergence; a host under a
    missing exotic suffix degrades to the old two-label behavior).

    Spark shape (100 TB posture): the corpus NEVER shuffles — host/domain
    extraction and word scoring are map-side codegen projections
    (``parse_url`` + ``contains``), and blocklist/allowlist membership is
    a LEFT join on the extracted domain that AQE broadcasts while the
    list fits ``autoBroadcastJoinThreshold`` (UT1 at ~4.6M short strings
    is ~100 MB — broadcastable on production executors; pass
    ``broadcast_blocklist=False`` to let it hash-shuffle on the 8-to-30
    byte domain key instead, the only corpus exchange in that fallback).
    ``banned_words`` folds to a static codegen expression — never a join.

    Returns one row per input row: ``(id, url, host, domain, blocked,
    allowlisted, url_score, keep)``.
    """
    url = F.lower(F.col(url_col))
    # try_ variant: a malformed URL is data to score and keep-by-default,
    # not a query-killing ANSI error (host/domain come back NULL)
    host = F.try_parse_url(url, F.lit("HOST"))
    # registered domain: last two dot-labels, or three under a known
    # two-level public suffix (substring_index(-k) is the codegen'd
    # "last k dot-parts"; the suffix membership folds to one InSet)
    n_labels = F.size(F.split(host, r"\."))
    last2 = F.substring_index(host, ".", -2)
    domain = F.when(
        host.isNotNull(),
        F.when(
            (n_labels >= 3) & last2.isin(*TWO_LEVEL_PUBLIC_SUFFIXES),
            F.substring_index(host, ".", -3),
        )
        .when(n_labels >= 2, last2)
        .otherwise(F.lit("")),
    )
    score = F.lit(0.0)
    for word, weight in banned_words:
        score = score + F.when(url.contains(F.lit(word)), F.lit(float(weight))).otherwise(
            F.lit(0.0)
        )
    base = docs.select(
        F.col(id_col),
        F.col(url_col),
        host.alias("host"),
        domain.alias("domain"),
        score.alias("url_score"),
    )
    bl = blocklist.select(F.col("domain").alias("__bl_domain")).dropDuplicates()
    if broadcast_blocklist:
        bl = F.broadcast(bl)
    out = base.join(bl, base["domain"] == bl["__bl_domain"], "left").withColumn(
        "blocked", F.col("__bl_domain").isNotNull()
    ).drop("__bl_domain")
    if allowlist is not None:
        al = F.broadcast(
            allowlist.select(F.col("domain").alias("__al_domain")).dropDuplicates()
        )
        out = out.join(al, out["domain"] == al["__al_domain"], "left").withColumn(
            "allowlisted", F.col("__al_domain").isNotNull()
        ).drop("__al_domain")
    else:
        out = out.withColumn("allowlisted", F.lit(False))
    return out.withColumn(
        "keep",
        F.col("allowlisted")
        | (~F.col("blocked") & (F.col("url_score") < F.lit(float(score_threshold)))),
    )
