"""Document deduplication: exact, MinHash-LSH, SimHash, n-gram Jaccard (C1).

All stages are pure DataFrame compositions (no Python in the hot path), and —
after the shuffle-free rewrite — signature computation never leaves the map
side:

- **exact**: hash-group-by on ``xxhash64(text)`` (8-byte shuffle keys).
- **MinHash-LSH**: word n-gram shingles hashed to 64-bit longs -> one
  ``aggregate`` pass with a k-wide running-min accumulator (k seeded
  xxhash64 per element, ``zip_with``/``least`` fold) — the whole signature
  is computed per-row in codegen, NO explode and NO groupBy shuffle -> band
  signatures -> one self-join on (band, sig) -> exact-Jaccard verification
  on the hashed shingle sets.
- **SimHash**: one-pass bit votes via ``aggregate`` + ``zip_with`` over the
  token-hash array (again no shuffle), banded Hamming blocking with a single
  (band, sig) self-join.
- **n-gram Jaccard**: the exact verifier, reusable standalone.

Scale notes (100 TB posture):
- Shingles are 64-bit hashes from the start: Jaccard over hashed shingles
  equals Jaccard over strings up to 2^-64 collisions, and every downstream
  shuffle/cache moves fixed-width longs, never raw text.
- Signature passes are narrow (per-row array expressions): the ONLY shuffles
  in the whole pipeline are the (band, sig) candidate join and the
  verification joins — all on 8-byte keys.
- LSH banding bounds the candidate-pair explosion: pairs are generated only
  within (band, signature) buckets.  Hot buckets (boilerplate text) are
  capped: buckets larger than ``max_bucket`` emit star pairs to the bucket
  representative (linear) instead of the quadratic all-pairs enumeration.
  Group recovery through the star is complete only when the representative
  verifies against every member (always true for identical texts when the
  rep is in the group; see :func:`minhash_lsh_pairs` for the exact
  conditions) — capping trades some near-dup pair enumeration inside
  oversized buckets for linear cost.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_RE = "[^a-z0-9]+"


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to full parallelism before CPU-bound per-row transforms —
    but ONLY when the input is small enough to under-occupy the cluster.

    A small input (one parquet file => one partition) would otherwise pin the
    tokenizer to one core, and for it the row shuffle is trivial next to the
    transform.  A LARGE input already scans wide (maxPartitionBytes splits),
    and AQE does NOT coalesce away a user-specified ``repartition(n)``
    exchange — unconditional spreading would force a full shuffle of every
    document at 100 TB (round-3 ADVICE).  The gate reads the optimizer's
    size estimate off the logical plan (cheap: analysis only, no job, no
    ``df.rdd`` RDD translation): inputs bigger than one scan-split per core
    keep their natural partitioning.
    """
    sc = df.sparkSession.sparkContext
    size = plan_size_bytes(df)
    if size is not None:
        try:
            split = _parse_bytes(
                df.sparkSession.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"
                )
            )
        except ValueError:
            split = None  # unparseable conf -> safe default: spread
        if split is not None and size >= sc.defaultParallelism * split:
            return df
    return df.repartition(sc.defaultParallelism)


def _parse_bytes(text: str) -> int:
    """Spark size-conf string -> bytes.

    ``conf.get`` returns size confs in Spark's own notation — plain digits,
    ``'134217728b'``, ``'128m'``/``'128mb'`` — depending on how the value
    was set.  The round-4 code int()-parsed inside a try/except, so the
    ``'...b'`` form silently degraded the gate to its repartition default;
    parse every notation instead (pinned by
    test_spread_survives_suffixed_size_conf).
    """
    t = str(text).strip().lower()
    if t.endswith("b"):
        t = t[:-1]
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    mult = 1
    if t and t[-1] in units:
        mult = units[t[-1]]
        t = t[:-1]
    return int(float(t) * mult)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate off the logical plan (analysis only — no job,
    no ``df.rdd`` translation).  None when unavailable.

    This reads a Spark-internal py4j surface
    (``queryExecution().optimizedPlan().stats()``); the behavior on failure
    is the SAFE default (callers spread), but a Spark upgrade that moves the
    internals would silently degrade :func:`_spread` to the unconditional
    full shuffle round-3 ADVICE flagged.  The probe is therefore pinned by
    ``tests/test_plans.py::test_plan_size_probe_returns_bytes``, which fails
    loudly if this stops returning a number on the running Spark version.
    """
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


_PROCESS_CACHES: dict[str, DataFrame] = {}
_OWNER: ContextVar[dict[str, DataFrame]] = ContextVar(
    "lifecycle_cache_owner", default=_PROCESS_CACHES
)
_CACHE_LOCK = threading.Lock()


@contextmanager
def cache_scope():
    """Own every :func:`lifecycle_cache` relation cached inside the block and
    unpersist them all on exit.  Open it around build AND collect: a result
    executed after the scope closes recomputes from lineage.  Scopes nest
    (the innermost owns) and are per thread/task (a context variable)."""
    owner: dict[str, DataFrame] = {}
    token = _OWNER.set(owner)
    try:
        yield owner
    finally:
        _OWNER.reset(token)
        with _CACHE_LOCK:
            for df in owner.values():
                try:
                    df.unpersist()
                except Exception:
                    pass


def lifecycle_cache(df: DataFrame, key: str) -> DataFrame:
    """``df.cache()`` owned by one holder, size-1 per ``key`` — the package's
    only cache call (pinned by an AST test).

    The owner is the innermost open :func:`cache_scope`, which unpersists
    its relations when it exits; with no scope open it is the process owner.
    A builder cannot unpersist its own cache (the consumer materializes
    later), so under either owner a call releases the previous relation
    under ``key``: a caller that builds and collects later holds at most one
    cached relation per key instead of accumulating dead blocks.  A caller
    still holding an older un-materialized result just recomputes (lineage
    is intact — ``cache()``, never ``checkpoint``).  So one LIVE plan per
    key and owner; keys are per call SITE, so caches serving different roles
    inside one query never evict each other mid-build.

    The old entry is unpersisted BEFORE the new ``cache()``: Spark matches
    cache entries by plan, so caching a rebuild of the same plan first finds
    the old entry and reuses it, and the unpersist after would drop the new
    relation's cache too.  The swap runs under one lock, so concurrent
    callers never interleave it.

    Limit: because entries are keyed by plan, a scope exiting can drop a
    concurrent request's identical entry; that request then recomputes from
    lineage (correct, only slower).
    """
    owner = _OWNER.get()
    with _CACHE_LOCK:
        old = owner.pop(key, None)
        if old is not None:
            try:
                old.unpersist()
            except Exception:
                pass
        df = owner[key] = df.cache()
    return df


def normalized_tokens(text_col) -> Column:
    """Lower-case word tokens with empty strings removed (deterministic)."""
    return F.filter(
        F.split(F.lower(text_col), TOKEN_RE), lambda t: t != F.lit("")
    )


def let_bound(value: Column, body) -> Column:
    """Evaluate ``value`` once per row and hand it to ``body`` as a lambda
    variable (a let-binding).

    A plain expression subtree referenced inside a higher-order-function
    lambda is copied into the lambda body and re-evaluated on EVERY element
    the lambda visits — ``transform(sequence(...), i -> slice(toks, ...))``
    re-runs the whole ``toks`` = filter(split(lower(text))) pipeline once
    per shingle position, O(tokens x tokenize) per row.  Lambda variables,
    by contrast, are bound once per evaluation of the enclosing HOF, so
    wrapping the operand as the one element of an array and transforming it
    turns the per-element re-evaluation into a single one (round-11
    measurement: 2.4x on the shingle pass, identical results).  Nulls
    compose identically: ``array(x)`` is ``[null]`` for null ``x`` and the
    body sees the same null the inline subtree would.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles(text_col, n: int = 3) -> Column:
    """Distinct word n-gram shingles as strings ('w1 w2 w3')."""
    return let_bound(
        normalized_tokens(text_col),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    )


def shingle_hashes(text_col, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles.

    The string shingle exists only transiently inside the expression; what the
    plan carries (and what joins/caches move) is ``array<long>``.  De-dup
    happens once, on the longs — never string-compares whole shingles.
    The token array is let-bound (:func:`let_bound`), so tokenization runs
    once per row, not once per shingle position.
    """
    return let_bound(
        normalized_tokens(text_col),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, n), " ")),
            )
        ),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: representative id (min), duplicate count.

    Spark plan: single hash-aggregate on the text hash — at scale, group on
    ``xxhash64(text)`` first so the shuffle key is 8 bytes, not the document.
    """
    return (
        df.groupBy(F.xxhash64(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _minhash_sig(sh_set: Column, num_hashes: int) -> Column:
    """k independent minhashes of a hashed-shingle array as one array column.

    ONE ``aggregate`` pass over the shingle array with a k-wide running-min
    accumulator: each element contributes its k seeded hashes via
    ``zip_with(acc, [xxhash64(h, seed_i)], least)`` — the entire signature is
    one codegen'd projection that traverses the array once (not k times).
    No explode, no aggregate operator, no shuffle: at 100 TB this is the
    difference between a narrow scan stage and shuffling every
    (doc, shingle) pair.

    Correctness note (round-3 regression fix): the per-seed hash MUST be
    built with a comprehension over ``seed`` — a lambda with a defaulted
    second parameter (``lambda h, s=seed: ...``) is treated by Spark as an
    (element, index) lambda, silently ignoring the default, which collapsed
    all k minhashes to one identical value (single effective band).  Pinned
    by test_minhash_signatures_are_independent.

    An empty shingle set keeps the LONG_MAX sentinels — still a valid,
    deterministic signature: all empty docs collide, as they should.
    """
    return F.aggregate(
        sh_set,
        F.array_repeat(F.lit(2**63 - 1), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.xxhash64(h, F.lit(s)) for s in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def _sig_to_cols(num_hashes: int, sig_col: str = "_sig") -> list[Column]:
    return [F.element_at(F.col(sig_col), s + 1).alias(f"mh_{s}") for s in range(num_hashes)]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """(id, minhash_0..k-1) — k independent minhashes over the shingle set.

    Two chained projections: the first materializes the signature ARRAY once,
    the second unpacks it — so the aggregate pass is never duplicated per
    column by expression inlining.

    Round 12 note: minhash stays on the ``_minhash_sig`` HOF fold, NOT an
    Arrow kernel — project collapsing inlines the ``let_bound`` shingle
    expression into the pandas-UDF argument, and Spark 4.1's Python-UDF
    extraction non-deterministically fails on a UDF whose argument embeds a
    let-bound (nested-capture) lambda: the FIRST build in a session plans
    an ArrowEvalPython, every later build leaves the UDF in a plain Project,
    which cannot evaluate it (reproduced; pinned by
    test_simhash_kernel_survives_repeated_builds for the shape we DO use).
    An A/B of the kernel measured only ~0.1 s here anyway — the fused fold
    was already the round-3 win; the 100 TB cost of this operator is the
    candidate join, not the fold.
    """
    sets = _spread(df).select(
        F.col(id_col), shingle_hashes(F.col(text_col), shingle_n).alias("sh_set")
    )
    return sets.select(
        F.col(id_col), _minhash_sig(F.col("sh_set"), num_hashes).alias("_sig")
    ).select(F.col(id_col), *_sig_to_cols(num_hashes))


def _banded(sigs: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, sig) relation: one row per band, signature = hash of the
    band's minhash slice.  Band index joins as part of the key so collisions
    only pair within the same band."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(band_structs).alias("bs")).select(
        F.col(id_col), F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = 256,
    prepared_sets: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact verified Jaccard.

    LSH recall knob: bands=8 over 16 hashes => r=2 rows/band; collision prob
    at Jaccard j is 1-(1-j^r)^bands = 1-(1-j^2)^8 (~0.90 at j=0.5, ~0.996 at
    j=0.7 — matched to the default jaccard_threshold=0.5).  Verification is
    exact (over 64-bit hashed shingles), so precision is 1.0 given the
    threshold; false-positive candidates (j^2 per band for unrelated pairs)
    are filtered there.

    Hot-bucket cap (the 100 TB safety valve): a (band, sig) bucket of size m
    would emit m(m-1)/2 candidate pairs — boilerplate text (identical headers,
    license blocks) makes m huge and the self-join quadratic.  Buckets larger
    than ``max_bucket`` switch to STAR topology: each member pairs only with
    the bucket's min-id representative (m-1 pairs, linear).  Recall note:
    pair ENUMERATION inside an oversized bucket is reduced, and group
    recovery via the star (transitive closure over emitted pairs) is
    complete exactly when the representative verifies against every member —
    guaranteed for an identical-text group whose rep is in the group, NOT
    guaranteed for near-dup members colliding with a dissimilar rep (those
    (rep, member) pairs fail Jaccard verification and the member-member pair
    is only recovered if another band's smaller bucket emits it).  The
    validation overlay in queries._lsh_validation is therefore
    component-based, not pair-count-based.  ``max_bucket=None`` disables
    the cap.
    """
    # Tokenize ONCE: the hashed-shingle relation feeds both the signature
    # projection and the verification joins.  cache() avoids re-running the
    # regexp tokenizer (at cluster scale this is a persist to MEMORY_AND_DISK;
    # the relation is (id, array<long>) — small vs the corpus).
    #
    # ``prepared_sets`` lets a caller that ALSO needs per-document derivatives
    # of the same text (e.g. the validation overlay's whole-text hash) supply
    # one shared (id_col, sh_set) relation — typically a projection of its own
    # cached scan — so the corpus is read and tokenized exactly once across
    # the whole pipeline instead of once here and once in the overlay.  The
    # caller owns persistence in that case; the contract is the same columns
    # this function would have built: ``shingle_hashes(text, shingle_n)``
    # aliased ``sh_set``, one row per id.
    if prepared_sets is not None:
        sets = prepared_sets.select(F.col(id_col), F.col("sh_set"))
    else:
        sets = lifecycle_cache(
            _spread(df).select(
                F.col(id_col),
                shingle_hashes(F.col(text_col), shingle_n).alias("sh_set"),
            ),
            "dedup.minhash.sets",
        )

    sigs = sets.select(
        F.col(id_col), _minhash_sig(F.col("sh_set"), num_hashes).alias("_sig")
    ).select(F.col(id_col), *_sig_to_cols(num_hashes))
    banded = _banded(sigs, id_col, num_hashes, bands)

    if max_bucket is None:
        left = banded.select(F.col(id_col).alias("id_a"), "band", "sig")
        right = banded.select(F.col(id_col).alias("id_b"), "band", "sig")
        candidates = (
            left.join(right, ["band", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        # Skew-handling shape: annotate every (id, band, sig) row with its
        # bucket size and min-id representative in ONE window pass riding a
        # single hashpartitioning(band, sig) exchange — the round-3 shape
        # (stats aggregate + broadcast anti-join + broadcast star join over a
        # cached banded) paid three jobs and a broadcast for the same facts.
        # The cache below preserves that partitioning, so the small-bucket
        # self-join on (band, sig) adds NO further exchange.
        from pyspark.sql import Window as _W

        wb = _W.partitionBy("band", "sig")
        # 5 fixed-width cols/doc/band; feeds both branches.  Lifecycle-keyed
        # (round 12): a bare .cache() here left the PREVIOUS build's entry
        # registered, and a rebuild's cache() canonically matched it — a
        # stale plan referencing the already-evicted upstream sets cache,
        # which re-expanded one consumer to a raw second corpus scan
        # (caught by test_minhash_validated_query_single_corpus_scan on
        # repeated builds: every cache in a dependency chain must share the
        # lifecycle).
        annotated = lifecycle_cache(
            banded.withColumn("m", F.count("*").over(wb))
            .withColumn("rep", F.min(id_col).over(wb)),
            "dedup.minhash.annotated",
        )
        small = annotated.filter(F.col("m") <= max_bucket)
        left = small.select(F.col(id_col).alias("id_a"), "band", "sig")
        right = small.select(F.col(id_col).alias("id_b"), "band", "sig")
        small_pairs = (
            left.join(right, ["band", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        # Oversized buckets: star pairs to the min-id representative
        # (rep < member always, so (id_a, id_b) ordering holds for free).
        star_pairs = (
            annotated.filter(
                (F.col("m") > max_bucket) & (F.col(id_col) != F.col("rep"))
            ).select(F.col("rep").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        candidates = small_pairs.unionByName(star_pairs).distinct()

    verified = (
        candidates.join(sets.withColumnsRenamed({id_col: "id_a", "sh_set": "set_a"}), "id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "sh_set": "set_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def _band_sig_relation(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, sh_set, band, sig) — the banded LSH relation WITH the hashed
    shingle set carried along, so verification never re-tokenizes.

    Stays on the ``_minhash_sig`` HOF fold (see :func:`minhash_signatures`).
    """
    sets = df.select(
        F.col(id_col), shingle_hashes(F.col(text_col), shingle_n).alias("sh_set")
    )
    sigs = sets.select(
        F.col(id_col), F.col("sh_set"), _minhash_sig(F.col("sh_set"), num_hashes).alias("_sig")
    ).select(F.col(id_col), F.col("sh_set"), *_sig_to_cols(num_hashes))
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.col("sh_set"), F.explode(band_structs).alias("bs")
    ).select(F.col(id_col), "sh_set", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def persist_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_table: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    num_buckets: int = 32,
) -> None:
    """Materialize the LSH index: (id, sh_set, band, sig) bucketed by (band, sig).

    The INCREMENTAL near-dup story :func:`minhash_lsh_pairs` can't tell: at
    100 TB you do not recompute every corpus signature when a new ingest
    batch arrives.  Pay tokenize + signatures ONCE at build time; each
    subsequent batch probes the index (:func:`near_dup_probe`).  The hashed
    shingle sets persist alongside the band signatures, so candidate
    verification reads the index row it already fetched — no second corpus
    scan, ever.  Rebuild/append per compaction cycle, like Pinot refreshes
    per-segment indexes.
    """
    from .. import catalog as _catalog

    rel = _band_sig_relation(df, id_col, text_col, num_hashes, bands, shingle_n)
    _catalog.write_bucketed(
        rel, index_table, ["band", "sig"], num_buckets=num_buckets, sort_cols=["band", "sig"]
    )


def near_dup_probe(
    spark,
    index_table: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dups of a NEW batch against a persisted corpus index.

    Returns (batch_id, corpus_id, jaccard) for every verified collision —
    the ingest-time dedup gate: drop (or link) batch documents already
    represented in the corpus before they enter training data.

    Scale shape: the batch is small by construction (one ingest cycle), so
    its banded relation is **broadcast** — the index side is scanned in
    place with ZERO exchanges (no shuffle of 100 TB of signatures), and the
    shingle sets needed for exact verification ride the same index rows.
    Candidates dedup on (batch_id, corpus_id) before the Jaccard filter, so
    multi-band collisions verify once.
    """
    idx = spark.table(index_table)
    probe = _band_sig_relation(batch, id_col, text_col, num_hashes, bands, shingle_n)
    return _probe_index_relation(idx, probe, id_col, jaccard_threshold)


def near_dup_pairs_bipartite(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """:func:`near_dup_probe` without a persisted index: the corpus banded
    relation is computed inline (one pass), the batch side broadcast —
    the same bipartite shape used when the index lives in memory or the
    corpus relation is already cached by a surrounding pipeline."""
    idx = _band_sig_relation(corpus, id_col, text_col, num_hashes, bands, shingle_n)
    probe = _band_sig_relation(batch, id_col, text_col, num_hashes, bands, shingle_n)
    return _probe_index_relation(idx, probe, id_col, jaccard_threshold)


def _probe_index_relation(
    idx: DataFrame, probe: DataFrame, id_col: str, jaccard_threshold: float
) -> DataFrame:
    """Shared bipartite core: broadcast probe side vs corpus index relation."""
    probe = probe.withColumnsRenamed({id_col: "batch_id", "sh_set": "batch_set"})
    idx = idx.withColumnsRenamed({id_col: "corpus_id", "sh_set": "corpus_set"})
    cand = (
        idx.join(F.broadcast(probe), ["band", "sig"])
        .select("batch_id", "corpus_id", "batch_set", "corpus_set")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    return (
        cand.withColumn(
            "jaccard",
            F.size(F.array_intersect("batch_set", "corpus_set"))
            / F.size(F.array_union("batch_set", "corpus_set")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("batch_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra_cols...], simhash) fingerprint: per-token hash bit votes,
    sign-summed.

    One pass over the token-hash array via ``aggregate`` with an array
    accumulator (``zip_with`` adds each token's ±1 votes) — fully map-side,
    no explode/groupBy shuffle.  A token-less document fingerprints to 0.

    ``extra_cols`` pass through input columns alongside the fingerprint so a
    caller needing other per-document derivatives of the same scan (e.g. a
    whole-text hash) can compute everything in ONE corpus pass.

    Round 12 note: an Arrow vote kernel was built and A/B'd bit-identical,
    but LOST to this fold at fixture scale (0.27 -> 0.47 s: the per-task
    Python runner round-trip exceeds the fold's whole cost — the operator's
    real cost is the banded self-join, not the votes), so the fold stays.
    """
    hs = F.transform(normalized_tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for i in range(bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    spread = _spread(df).withColumn("_votes", votes)
    fingerprint = None
    for i in range(bits):
        bit = F.when(F.element_at(F.col("_votes"), i + 1) > 0, F.lit(2**i)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return spread.select(
        F.col(id_col), *extra_cols, fingerprint.cast("long").alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    prepared_fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs whose SimHash Hamming distance <= max_hamming.

    Blocking: split the fingerprint into ``bands`` byte-bands; any pair within
    Hamming<=bands-1 shares at least one exact band (pigeonhole).  One
    (id, band, sig) relation + ONE self-join (band in the key), then exact
    Hamming verification via bit_count(xor).

    The fingerprint relation feeds BOTH sides of the self-join, so it is
    cached (round 11 — previously each side recomputed it, i.e. two full
    corpus scans and two vote passes; the cache is (id, long), 16 bytes/doc).
    ``prepared_fingerprints`` (columns: id_col, simhash) lets a caller that
    already fingerprinted the corpus — e.g. to share one scan with other
    per-document derivatives — supply the relation; the caller then owns
    persistence.
    """
    if prepared_fingerprints is not None:
        fp = prepared_fingerprints.select(F.col(id_col), F.col("simhash"))
    else:
        fp = lifecycle_cache(
            simhash(df, id_col, text_col, bits), "dedup.simhash.fp"
        )
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    banded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(band_structs).alias("bs")
    ).select(F.col(id_col), F.col("simhash"), F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    left = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "sig")
    right = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "sig")
    return (
        left.join(right, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_representatives(
    pairs: DataFrame,
    vertices: DataFrame,
    max_iter: int = 8,
    reliable: bool = False,
) -> DataFrame:
    """Connected-component representative per document: pairs -> decisions.

    The pair emitters above answer "which docs look alike"; a dedup pipeline
    ultimately needs "which doc do I KEEP" — the transitive closure over the
    pair graph, with each component collapsing to its min-id representative
    (keep the representative, drop rows where ``doc_id != representative``).

    ``pairs``: (id_a, id_b) edges from any emitter (minhash/simhash/
    embedding/exact).  ``vertices``: one-column frame of all doc ids
    (singletons resolve to themselves).  Returns (id, representative).

    Algorithm: hash-to-min label propagation with pointer jumping — each
    round takes the min label over neighbors, then jumps ``label <-
    label(label)``, doubling resolved-path length per round, so ``max_iter``
    rounds cover component diameters up to ~2^max_iter (real dup groups are
    stars/cliques of diameter <= 3; even adversarial near-dup CHAINS of
    thousands of docs resolve in ~11 rounds).  Every step is a key-hashed
    join/aggregate — no vertex list ever materializes on the driver.

    The label frame is (local-)checkpointed every round: the round's
    self-referencing joins would otherwise DOUBLE the logical plan per
    iteration (exponential analysis time — the standard iterative-graph
    hazard; GraphFrames checkpoints for exactly this reason).  Use
    ``spark.sparkContext.setCheckpointDir`` + ``reliable=True`` on a real
    cluster to put the cuts on the distributed store instead of executor
    memory.
    """
    id_col = vertices.columns[0]
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    # Materialize the edge list ONCE before the loop: every round joins
    # against ``edges``, and without this cut each round re-evaluates the
    # caller's whole pair-emitter pipeline (max_iter full re-runs of its most
    # expensive stage).  The edge list is (src, dst) longs — tiny next to the
    # corpus — and the loop below is already eager via the per-round
    # checkpoint, so this adds no new eagerness.  Each round still pays a few
    # Spark jobs of fixed driver latency (~2.6 s per call at sf0.1 for
    # semantic dedup's 8 cells), so a caller whose edges never cross known
    # blocks resolves them per block instead, as ``similarity.semantic_dedup``
    # does.
    edges = edges.checkpoint() if reliable else edges.localCheckpoint()
    lbl = (
        vertices.select(F.col(id_col).alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    for _ in range(max_iter):
        prev = lbl
        nbr_min = (
            edges.join(
                lbl.withColumnsRenamed({"id": "src", "label": "src_label"}), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("src_label").alias("nbr_label"))
        )
        lbl = lbl.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jump: label <- label's current label (labels are always
        # existing ids, so the inner join loses no vertex)
        jump = lbl.select(F.col("id").alias("label"), F.col("label").alias("label2"))
        lbl = lbl.join(jump, "label").select(
            "id", F.col("label2").alias("label")
        )
        # truncate lineage: without this every round doubles the plan
        lbl = lbl.checkpoint() if reliable else lbl.localCheckpoint()
        # Early exit at the fixpoint (round 11): labels are monotonically
        # non-increasing, so an unchanged round means every later round is a
        # no-op — identical result, fewer passes.  Real dup groups
        # (stars/cliques, diameter <= 3) converge in 2-3 rounds; the probe
        # is one narrow join of two already-materialized label frames vs a
        # full round's two joins + checkpoint for each round saved.
        unchanged = (
            lbl.join(
                prev.withColumnsRenamed({"label": "prev_label"}), "id"
            )
            .where(F.col("label") != F.col("prev_label"))
            .isEmpty()
        )
        if unchanged:
            break
    return lbl.select(F.col("id"), F.col("label").alias("representative"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    blocking: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.

    ``blocking`` (id_a, id_b) bounds the pair space; without it this is the
    quadratic verifier for fixture-scale tests only — production always blocks
    via :func:`minhash_lsh_pairs` or :func:`simhash_near_pairs` first.
    """
    sets = df.select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh_set"))
    if blocking is None:
        a = sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
        b = sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = (
            blocking.join(
                sets.withColumnsRenamed({id_col: "id_a", "sh_set": "set_a"}), "id_a"
            ).join(sets.withColumnsRenamed({id_col: "id_b", "sh_set": "set_b"}), "id_b")
        )
    return (
        pairs.withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_chars: int = 10,
    sep: str = "\n",
    broadcast_dict: bool = True,
) -> DataFrame:
    """Line-level (paragraph) corpus dedup — CCNet (Wenzek et al. 2020,
    arXiv:1911.00359) / RefinedWeb-style boilerplate removal: a line whose
    trimmed form appears in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, footers) and is removed from
    EVERY document; document-level dedup (:func:`exact_dedup`,
    :func:`minhash_lsh_pairs`) cannot see it because the surrounding text
    differs.

    Returns (id, clean_text, n_lines, n_removed) — one row per input doc,
    empty ``clean_text`` when every line was boilerplate (caller decides
    whether to drop such husks).

    Spark shape, two shuffles with the default broadcast dictionary:

    1. duplicated-line dictionary: explode lines map-side, shuffle ONLY
       8-byte ``xxhash64(trim(line))`` keys (never line text) for a
       distinct-doc count; lines shorter than ``min_chars`` never enter —
       they are both worthless to dedup and the skew bombs of this keyspace
       (empty lines, '---' rules appear in every document on the web).
    2. reassembly: one groupBy(id) carrying (pos, line, is_dup); the clean
       text, total and removed counts all come from the SAME collected
       array, so there is no join-back or second pass over the corpus.

    ``broadcast_dict=True`` (default) broadcasts the dictionary into the
    flagging join — it holds one 8-byte hash per line duplicated across
    ``min_docs`` docs, bounded by distinct boilerplate (not corpus size).
    Set False if the dup set outgrows executor memory; that honest fallback
    is a THIRD exchange (a shuffle join whose probe side carries the line
    text), the cost the broadcast exists to avoid.

    The dictionary join keys are hashes: a 64-bit collision silently drops
    an innocent line (~2^-64 per distinct-line pair — at web scale ~1e-7
    for a trillion distinct lines, below crawl noise).
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn(
        "lh",
        F.when(
            F.length(F.trim(F.col("line"))) >= min_chars,
            F.xxhash64(F.trim(F.col("line"))),
        ),
    )
    dup = (
        lines.where(F.col("lh").isNotNull())
        .groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("lh", F.lit(True).alias("is_dup"))
    )
    if broadcast_dict:
        dup = F.broadcast(dup)
    flagged = lines.join(dup, "lh", "left").select(
        id_col,
        F.struct(
            F.col("pos"),
            F.col("line"),
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        ).alias("cell"),
    )
    arr = F.array_sort(F.collect_list("cell"))
    kept = F.filter(arr, lambda c: ~c["is_dup"])
    return flagged.groupBy(id_col).agg(
        F.concat_ws(sep, F.transform(kept, lambda c: c["line"])).alias("clean_text"),
        F.size(arr).alias("n_lines"),
        (F.size(arr) - F.size(kept)).alias("n_removed"),
    )


def _merged_spans(sorted_starts: Column, k: int) -> Column:
    """Fold an ASCENDING-sorted array of 1-based gram starts into disjoint
    merged coverage spans ``struct<lo:int, hi:int>`` where each start ``s``
    covers tokens ``[s, s+k-1]``.  Overlapping/adjacent intervals merge, so
    the result is bounded by the number of distinct covered RUNS in the
    doc, not the number of starts — the per-token mask in
    :func:`exact_substring_dedup` stays O(tokens x spans) even on a hot doc
    that is one gram repeated 100k times (~100k starts, 1 span).  Pure
    codegen ``aggregate``; starts are ascending so the running last span's
    ``hi`` only ever extends to ``s + k - 1``.
    """
    empty = F.array().cast("array<struct<lo:int,hi:int>>")
    return F.aggregate(
        sorted_starts,
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + F.lit(k - 1)).cast("int").alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("int").alias("lo"),
                        (s + F.lit(k - 1)).cast("int").alias("hi"),
                    )
                ),
            )
        ),
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 2,
    broadcast_dict: bool = False,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Exact-substring corpus dedup — the Spark-native analog of
    EXACTSUBSTR (Lee et al. 2021, arXiv:2107.06499 "Deduplicating Training
    Data Makes Language Models Better"): any ``k``-token gram occurring
    >= ``min_count`` times corpus-wide marks every token it covers for
    removal, trimming memorized spans that hide INSIDE otherwise-different
    documents (invisible to document-level AND line-level dedup).
    Documented divergence from the paper: the suffix-array formulation
    keeps one occurrence (which copy survives depends on scan order); here
    ALL occurrences go — a pure function of the corpus, so reruns and the
    SQL oracle agree bit-for-bit, same determinism trade c23 makes.

    Returns (id, clean_text, n_tokens, n_removed).

    Spark shape: one-pass map-side gram hashing (``transform`` over token
    offsets, 8-byte ``xxhash64`` per gram — no gram STRINGS ever
    materialize in an exchange); the corpus-sized shuffles (the gram count
    and the dictionary join's probe side) move only narrow
    (id, pos, hash) rows; covered-start collection is keyed by doc (ints
    only); and the final join of (id, starts) back to the tokens builds
    from ONLY docs containing repeated spans, so it broadcasts under AQE
    when duplication is sparse (the common case the paper reports: ~1-3%
    of tokens).  ``broadcast_dict`` is OPT-IN (default off): unlike
    :func:`line_dedup`'s boilerplate dictionary, the repeated-gram set is
    unbounded at web scale and can outgrow executor memory.  Per-doc
    covered starts are folded into DISJOINT merged (lo, hi) spans before
    masking (sorted aggregate — bounded by the number of distinct runs, a
    tiny array even on repeat-heavy docs), so the per-token mask is
    ``exists(spans, sp -> lo <= p <= hi)`` — O(tokens x spans) map-side
    codegen, NOT O(tokens x starts): a pathological hot doc that is mostly
    one repeated gram has ~n starts but O(1) spans.

    ``min_span_tokens`` is the paper's length threshold (Lee et al. remove
    duplicated substrings of >= 50 tokens): merged coverage spans SHORTER
    than it are dropped before masking, so short incidental k-gram repeats
    survive and only long memorized spans go.  Approximation documented:
    two distinct repeated spans that overlap/abut in one doc merge first
    and are length-tested jointly.  Default None = k (every repeat goes,
    the c25 oracle's semantics).
    """
    # Spread first (round 11, gated — :func:`_spread`): per-position gram
    # hashing and the final span mask are per-row compute over the token
    # array, and a small corpus scan is one partition.
    toks = _spread(docs).select(F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    n_grams = F.size("t") - F.lit(k - 1)
    gram_hashes = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda s: F.xxhash64(F.array_join(F.slice("t", s, k), "\x01")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = toks.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("s0", "gh")
    )
    rep = (
        grams.groupBy("gh")
        .count()
        .where(F.col("count") >= min_count)
        .select("gh")
    )
    if broadcast_dict:
        # unlike line_dedup's boilerplate dictionary, the repeated-gram set
        # is NOT bounded by distinct boilerplate — Lee et al. report ~1-3%
        # of ALL tokens covered at web scale, i.e. a dictionary that can
        # outgrow executor memory.  Broadcast is therefore OPT-IN for
        # corpora whose dup set is known small; the default shuffle join
        # moves only 8-byte (gh, s0) pairs on the probe side anyway.
        rep = F.broadcast(rep)
    span_expr = _merged_spans(F.col("starts"), k)
    if min_span_tokens is not None and min_span_tokens > k:
        span_expr = F.filter(
            span_expr,
            lambda sp: sp["hi"] - sp["lo"] + 1 >= F.lit(min_span_tokens),
        )
    spans = (
        grams.join(rep, "gh")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set(F.col("s0") + 1)).alias("starts"))  # 1-based
        .select(F.col(id_col), span_expr.alias("spans"))
    )
    masked = toks.join(spans, id_col, "left").withColumn(
        "spans",
        F.coalesce(F.col("spans"), F.array().cast("array<struct<lo:int,hi:int>>")),
    )
    kept = F.filter(
        F.transform(
            "t",
            lambda tok, p: F.struct(
                tok.alias("tok"),
                F.exists(
                    "spans",
                    lambda sp: (p + 1 >= sp["lo"]) & (p + 1 <= sp["hi"]),
                ).alias("cov"),
            ),
        ),
        lambda c: ~c["cov"],
    )
    return masked.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda c: c["tok"]), " ").alias("clean_text"),
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_removed"),
    )
