"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN (C2).

Spark-first: the dot product is ``aggregate(zip_with(a, b, (x,y)->x*y), ...)``
— a single codegen'd expression over the array column, no UDF.  Top-k per
query via window ``row_number`` (one shuffle on query id).

Scale path (100 TB of vectors):
- brute force = broadcast the (few) query vectors against the corpus — scans
  the corpus once, no corpus shuffle at all; this is the exact baseline.
- ANN = random-hyperplane sign LSH: bucket corpus vectors by a ``nbits``-bit
  signature, probe only matching buckets (optionally multi-probe).  Buckets
  are computed with deterministic pseudo-random planes derived from hashes,
  so signatures are reproducible across runs/clusters with no stored model.
"""

from __future__ import annotations

import functools as _ft

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window as W, functions as F


def _norm(col: Column) -> Column:
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda s, x: s + x.cast("double") * x))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda s, v: s + v
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (_norm(a) * _norm(b))


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance, one codegen ``zip_with``/``aggregate`` pass."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def similarity_score(fn: str, q: Column, c: Column) -> Column:
    """Pinot ``vectorDistanceFunction`` -> a HIGHER-IS-CLOSER score column
    **[P1.2]** (COSINE / INNER_PRODUCT / DOT_PRODUCT / EUCLIDEAN — the
    euclidean score is the negated distance so one descending rank order
    serves every function)."""
    key = fn.upper()
    if key == "COSINE":
        return cosine(q, c)
    if key in ("INNER_PRODUCT", "DOT_PRODUCT"):
        return dot(q, c)
    if key in ("EUCLIDEAN", "L2"):
        return -l2_distance(q, c)
    raise ValueError(f"unsupported vectorDistanceFunction: {fn!r}")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-matches excluded).

    ``queries`` is broadcast (it is small by construction); the corpus is
    scanned once; per-query top-k uses a window over query_id — shuffle size
    = corpus x n_queries scored rows, bounded by selecting only (ids, score).

    ``arrow`` (round 12, guide §4) routes the per-pair score through the
    Arrow kernel (:func:`arrowkernels.score_pairs`) instead of the
    interpreted ``ArrayAggregate`` fold — bit-identical values (the kernel
    replays the fold's exact per-element order; pinned tests), so the switch
    is performance-only.  It is OPT-IN because a Python stage costs a fixed
    per-task runner round-trip (~0.3 s across 32 local tasks), which the
    O(corpus x n_queries) pair count here does not amortize at LOW dims
    (measured: 0.36 -> 0.73 s at dim 64) but clearly does at production dims
    (the dim-768 exact legs pass ``arrow=True``).
    """
    # NOT spread (re-examined round 12 with an 8-vs-32-core probe at 100x
    # fixture data): the per-pair fold runs on the scan's map tasks, and a
    # single-FILE corpus scans as 1-5 splits, so the probe measured a flat
    # 1.0 core-ratio (7.2 s at both counts).  A gated _spread fixed that
    # (3.3 s at 32 cores) but costs an extra exchange+stage at the benched
    # SF: c2_cosine_topk 0.43 -> 0.93 s, and every exact-leg consumer
    # (dim768, ivf, quantized) regressed with it — a bad trade for a
    # serialization that only exists when a mid-sized corpus sits in ONE
    # file (real layouts split; SCALE.md round-12 probe records both
    # numbers).
    # Per-row norms hoisted out of the per-pair score (round 11): each side
    # computes its norm ONCE; dot/(n_q*n_c) is the exact expression
    # :func:`cosine` evaluates (same ops, same order, bit-equal results)
    # with two of its three per-pair array passes removed.
    if arrow:
        from .arrowkernels import score_pairs

        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
        scored = score_pairs(
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")),
            id_a="query_id", id_b="neighbor_id", v_a="q_vec", v_b="c_vec",
        ).select("query_id", "neighbor_id", F.round("raw", 6).alias("score"))
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("n_q"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("n_c"),
        )
        scored = (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "score",
                F.round(
                    dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("n_q") * F.col("n_c")),
                    6,
                ),
            )
            .select("query_id", "neighbor_id", "score")
        )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_int(value: int, seed: int) -> int:
    """Spark's ``XXH64.hashInt`` — one int32 child folded into ``seed``.

    Bit-for-bit mirror of org.apache.spark.sql.catalyst.expressions.XXH64
    (4-byte tail + avalanche), pinned against the SQL ``xxhash64`` expression
    by tests/test_operators.py::test_plane_values_match_spark_xxhash64 for
    every (plane, component) the engine ever derives.  Returns the UNSIGNED
    64-bit value; callers needing Java semantics re-sign it.
    """
    h = (seed + _P64_5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P64_1) & _M64
    h = ((h << 23) & _M64) | (h >> 41)  # rotateLeft(h, 23)
    h = (h * _P64_2 + _P64_3) & _M64
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


@_ft.lru_cache(maxsize=None)
def _plane_values(plane: int, dim: int) -> tuple[float, ...]:
    """Component d = (xxhash64(plane, d) % 10000) / 10000.0, as Spark computes it.

    ``xxhash64(lit(plane), d)`` chains its two int32 children: the first is
    hashed with the expression seed 42 and the result seeds the second.  The
    remainder follows Java ``%`` (sign of the dividend).  Cached per
    (plane, dim): the values are constants of the algorithm — functions of
    the plane index only, never of any input data.
    """
    seed = _xxh64_int(plane, 42)
    out = []
    for d in range(dim):
        h = _xxh64_int(d, seed)
        s = h - (1 << 64) if h >= (1 << 63) else h
        r = s % 10_000 if s >= 0 else -((-s) % 10_000)
        out.append(float(r) / 10_000.0)
    return tuple(out)


def _plane(plane: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane as ONE constant-folded literal.

    Component d is derived from xxhash64(plane, d), mapped into [-1, 1) —
    reproducible everywhere, no RNG state, no model to persist.  Round 11:
    the plane is computed at PLAN BUILD TIME (:func:`_plane_values`) and
    embedded as a constant.  The prior shape — ``transform(sequence(0,
    dim-1), d -> xxhash64(plane, d)...)`` — was O(1) expression NODES but
    Catalyst never constant-folds higher-order functions, so every ROW
    re-derived every plane (visible as ``xxhash64(p, lambda x, 42)`` in the
    r11 before-plans).  The literal values are bit-identical (pinned by
    test_plane_values_match_spark_xxhash64), so every signature — and every
    query result — is unchanged.

    Encoding: ONE string literal split+cast, not ``F.lit(list)`` —
    PySpark's list literal is ``CreateArray`` with ``dim`` child nodes, and
    32 planes x 768 children made every optimizer traversal crawl ~24.5k
    nodes (measured: 15 s PLANNING per dim-768 statement vs 1.4 s for this
    form).  Split/cast over literals is foldable, so ConstantFolding
    collapses the whole expression to a single array literal in one pass;
    ``repr`` round-trips doubles exactly, so the folded values are
    bit-identical to :func:`_plane_values`.
    """
    encoded = ",".join(repr(v) for v in _plane_values(plane, dim))
    return F.split(F.lit(encoded), ",").cast("array<double>")


def lsh_signature(vec: Column, dim: int, nbits: int = 8, plane_offset: int = 0) -> Column:
    """nbits-bit sign signature: bit i = sign(<vec, plane_{offset+i}>).

    Each projection is ONE fused fold — ``aggregate(sequence(0, dim-1),
    0.0, (s, d) -> s + get(vec, d) * get(plane, d))`` — instead of the
    former ``aggregate(zip_with(vec, plane, *), +)``: half the interpreted
    lambda evaluations per element (HOFs are CodegenFallback) and no
    transient dim-element product array per plane per row (round 11: the
    corpus signature pass at dim=768 x 32 planes dropped 2.87 -> 1.99 s,
    0 signature mismatches in the A/B).  The fold accumulates
    ``s + (x_d * w_d)`` over ascending d — exactly the order of the old
    zip_with form and of the round-3 unroll, so signatures are bit-for-bit
    identical.  ``F.get`` null-pads out-of-range indexes (ANSI-safe) just
    as zip_with padded a short ``vec``.  Edge semantics (round-12 ADVICE
    note): a vector LONGER than ``dim`` reads components 0..dim-1 and emits
    a valid partial-dot signature — the pre-r11 zip_with form null-padded
    and signed every band to 0 for that case; short/null vectors still sign
    to 0.  Every call site passes vectors of exactly ``dim`` elements, so
    no produced value differs; validate length upstream if malformed input
    must stay inert.
    """
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    sig = F.lit(0)
    for p in range(nbits):
        plane = _plane(plane_offset + p, dim)
        proj = F.aggregate(
            idx,
            F.lit(0.0),
            lambda s, d: s + F.get(vec, d).cast("double") * F.get(plane, d),
        )
        sig = sig + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    return sig.cast("int")


def lsh_band_signatures(vec: Column, dim: int, nbits: int, bands: int) -> Column:
    """OR-construction banding: array of (band, sig) structs, one per band.

    Each band is an independent ``nbits``-bit sign signature (its own plane
    set).  Candidates match if ANY band collides — recall at cosine c is
    1-(1-p^r)^L with p = 1 - acos(c)/pi, r = nbits, L = bands; the AND-OR
    knob every production sign-LSH index exposes.  Still fully map-side: one
    codegen projection per row, exploded only into L small (band, sig) keys.
    """
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                lsh_signature(vec, dim, nbits, plane_offset=b * nbits).alias("sig"),
            )
            for b in range(bands)
        ]
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    nbits: int | None = None,
    bands: int = 1,
    spread: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= threshold).

    With ``nbits`` set, pairs are blocked by sign-LSH first (this is the
    100 TB path where all-pairs is infeasible); ``bands`` > 1 enables the
    OR-construction (L independent nbits-bit signatures, candidates collide
    on ANY band) — single-probe recall at a weak threshold like 0.4 is only
    ~p^r, banding raises it to 1-(1-p^r)^L.  Without ``nbits``, the exact
    quadratic self-join — the oracle-checkable baseline for bounded corpora.

    Both variants score with the same codegen'd cosine; the LSH variant's
    shuffle keys are small (band, sig) ints (corpus never self-joins
    un-blocked) and every candidate is verified exactly, so precision is 1.
    """
    from .arrowkernels import allpairs_scores, band_sigs_udf, packed_pair_scores
    from .dedup import _spread, lifecycle_cache

    # Round 12 (guide §4/§8): both the signature pass and the per-pair
    # verification score run in Arrow kernels instead of interpreted
    # ``ArrayAggregate`` folds — bit-equal by construction (order-preserving
    # float64 folds; pinned tests), with the declared ``round(_, 6)`` and
    # threshold still applied by Spark on the kernel's raw score.
    if nbits is not None:
        if dim is None:
            raise ValueError("dim is required when nbits blocking is enabled")
        # Spread before the signature projection (gated — :func:`_spread`):
        # the kernel's parallelism is the input partitioning, and a small
        # corpus parquet scan is ONE partition.  ``spread=False`` lets a
        # caller that already spread+cached the corpus (the dim-768 query)
        # skip the redundant second exchange.
        if spread:
            corpus = _spread(corpus)
        sig_fn = band_sigs_udf(dim, nbits, bands)
        # ONE signature pass: the banded relation feeds BOTH self-join
        # sides, and uncached each side would re-run the kernel over the
        # corpus (lifecycle cache — ints only, id x bands rows).
        banded = lifecycle_cache(
            corpus.select(
                F.col(id_col).alias("_nid"), sig_fn(F.col(vec_col)).alias("sigs")
            ).select("_nid", F.posexplode("sigs").alias("band", "sig")),
            "similarity.near_dup.banded",
        )
        cand = (
            banded.select(F.col("_nid").alias("id_a"), "band", "sig")
            .join(banded.select(F.col("_nid").alias("id_b"), "band", "sig"),
                  ["band", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        if bands > 1:
            # multi-band collisions duplicate a pair; dedup on bare ids and
            # cache the id list (it feeds the packed scorer and, under a
            # generous broadcast threshold, concurrent exchange futures)
            cand = lifecycle_cache(cand.distinct(), "similarity.near_dup.cand")
        # Exact verification WITHOUT re-attaching vectors per pair
        # (guide §8): the packed scorer moves candidate IDS plus one packed
        # corpus copy per group — the former id->vector joins shipped
        # 2 x dim floats per candidate (0.8 GB at 816k candidates, dim 64).
        scored = packed_pair_scores(cand, corpus, id_col, vec_col)
    else:
        # Brute force is the bounded-corpus oracle baseline: the packed
        # all-pairs kernel scores n^2/groups NumPy blocks per task instead
        # of materializing every pair as a JVM row (same all-in-memory
        # posture as the former BroadcastNestedLoopJoin's broadcast side).
        scored = allpairs_scores(corpus, id_col, vec_col, threshold)
    return (
        scored.withColumn("score", F.round("raw", 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def _cell_components(edges: pa.Table) -> pa.Table:
    """One cell's (id_a, id_b, score) edges -> (id, representative,
    strongest_edge) per id on an edge: the hash-to-min + pointer-jumping rule
    of ``dedup.dedup_representatives`` run to its fixpoint on NumPy arrays
    (so the min id of any diameter), and the id's max direct-edge score."""
    a, b, w = (edges.column(c).to_numpy() for c in ("id_a", "id_b", "score"))
    ids, ends = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = ends[: len(a)], ends[len(a) :]
    lbl = np.arange(len(ids))  # ids are sorted: min index == min id
    while True:
        nxt = lbl.copy()
        np.minimum.at(nxt, ea, lbl[eb])
        np.minimum.at(nxt, eb, lbl[ea])
        nxt = nxt[nxt]  # pointer jump; labels only fall, so unchanged = fixpoint
        if np.array_equal(nxt, lbl):
            break
        lbl = nxt
    best = np.full(len(ids), -np.inf)
    np.maximum.at(best, ea, w)
    np.maximum.at(best, eb, w)
    return pa.table({"id": ids, "representative": ids[lbl], "strongest_edge": best})


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, prune near-duplicates WITHIN
    each cluster — the corpus-curation stage that removes semantically
    redundant documents a hash/shingle dedup cannot see.

    Spark shape: the IVF coarse quantizer (:func:`ivf_assign` —
    deterministic centroid sample, map-side argmax assignment, zero
    vector shuffles) buckets the corpus; the quadratic pairwise cosine is
    confined WITHIN cells, so it costs sum(|cell|^2) — with balanced cells
    corpus^2 / n_cells, and n_cells scales with the corpus (the paper uses
    ~100k clusters at web scale).  A NEIGHBORHOOD is a connected component
    of the within-cell >= threshold pair graph, so a chain a~b~c collapses
    to ONE surviving min-id representative — a dropped row's ``dup_of``
    always points at a KEPT row, never at another casualty.

    Components are resolved per cell, and that is exact: every edge joins
    two members of one cell, so no component crosses a cell boundary.  One
    grouped Arrow pass (:func:`_cell_components`) resolves each cell's edge
    list — at most the |cell|^2 block the pair kernel already holds — with
    no corpus-wide iterative job loop (partition-local verification, EDBT
    2019).
    Deterministic divergence from the paper (documented): the paper keeps
    the item with LOWEST similarity to the centroid; the min-id
    representative keeps selection a pure function of ids so reruns and
    oracles agree bit-for-bit.

    Returns one row per input: (id, cell_id, kept, dup_of, dup_score) —
    for dropped rows, ``dup_of`` is the component's surviving min-id
    representative (possibly a transitive neighbor) and ``dup_score`` the
    strongest DIRECT >= threshold edge that pulled the row into the
    component; both NULL on kept rows.  A row with no edge is kept.
    """
    from .arrowkernels import cellpairs_scores
    from .dedup import _spread, lifecycle_cache

    # Spread the corpus first (gated — no-op when the scan is already wide):
    # the assignment pass is per-row compute and a small corpus scan is one
    # partition; at corpus scale n_cells itself is large (SemDeDup uses
    # ~100k clusters) so cells provide the parallelism and the gate skips
    # the shuffle.
    corpus = _spread(corpus)
    _, assigned = ivf_assign(corpus, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    # One materialization of the assignment (cached, round 11; size-1
    # lifecycle round 12): the argmax pass is read by the pairwise pack and
    # the final projection — uncached it ran 3x.
    assigned = lifecycle_cache(assigned, "similarity.semdedup.assigned")
    # Round 12 (guide §4/§8): the within-cell quadratic stage runs in the
    # packed Arrow kernel — one groupBy(cell) pack shuffle (each vector
    # moves once; the former self-join moved both sides), then sum(|cell|^2)
    # scoring as NumPy blocks in the fold's exact per-element order instead
    # of interpreted JVM rows.  The declared round(_, 6) + threshold are
    # applied here by Spark on the kernel's raw score (the kernel's
    # threshold-1e-6 margin can never exclude a pair HALF_UP rounding would
    # keep), so every emitted pair and score is bit-identical.
    pairs = (
        cellpairs_scores(assigned, "cell_id", id_col, vec_col, threshold)
        .withColumn("score", F.round("raw", 6))
        .filter(F.col("score") >= threshold)
        .select("cell_id", "id_a", "id_b", "score")
    )
    comps = pairs.groupBy("cell_id").applyInArrow(
        _cell_components, "id long, representative long, strongest_edge double"
    )
    dropped = F.coalesce(F.col("id") != F.col("representative"), F.lit(False))
    id_type = assigned.schema[id_col].dataType
    return (
        assigned.select(F.col(id_col).alias("id"), "cell_id")
        .join(comps, "id", "left")
        .select(
            "id",
            "cell_id",
            (~dropped).alias("kept"),
            F.when(dropped, F.col("representative").cast(id_type)).alias("dup_of"),
            F.when(dropped, F.col("strongest_edge")).alias("dup_score"),
        )
    )


def _cent_array(cent: DataFrame) -> DataFrame:
    """Centroid set as ONE row: array<struct<cell_id, c_vec>> sorted by cell_id.

    Broadcasting this single row against the corpus amplifies nothing — each
    corpus row sees the whole (small) centroid set as an array value and
    resolves its cell map-side, vs the old ``corpus x broadcast(cent)`` shape
    that pushed ``n_cells`` copies of every vector through a row_number
    window exchange (round-3 verdict item 2).
    """
    return cent.agg(
        F.array_sort(F.collect_list(F.struct("cell_id", "c_vec"))).alias("cents")
    )


def _argmax_cell(vec: Column, cents: Column) -> Column:
    """cell_id of the max-cosine centroid (ties -> lowest cell_id), map-side.

    ``array_max`` over (score, -cell_id) structs compares score first, then
    prefers the smaller cell_id — the exact ordering the old
    ``row_number over (order by c_score desc, cell_id asc)`` produced, so
    assignments are identical to round-3 outputs.
    """
    from .dedup import let_bound

    # The vector's own norm is let-bound (round 11): cosine() would
    # recompute it once per CENTROID; dot/(nv * norm(c_vec)) is the exact
    # expression cosine evaluates (same ops, same order, bit-equal), with
    # the vec-side norm paid once per row.
    def scored_with(nv: Column) -> Column:
        return F.transform(
            cents,
            lambda c: F.struct(
                (
                    dot(vec, c.getField("c_vec"))
                    / (nv * _norm(c.getField("c_vec")))
                ).alias("score"),
                (-c.getField("cell_id")).alias("neg_cell"),
            ),
        )

    return -F.array_max(let_bound(_norm(vec), scored_with)).getField("neg_cell")


def _nearest_cells(vec: Column, cents: Column, n_probe: int) -> Column:
    """cell_ids of the n_probe highest-cosine centroids, map-side.

    Sorting (-score, cell_id) structs ascending reproduces the old
    ``row_number over (order by c_score desc, cell_id asc) <= n_probe``
    probe selection without amplifying the query rows.
    """
    from .dedup import let_bound

    # vec-side norm let-bound once per row (round 11) — see _argmax_cell;
    # neg_score is bit-equal to -cosine().
    def scored_with(nv: Column) -> Column:
        return F.transform(
            cents,
            lambda c: F.struct(
                (
                    -(
                        dot(vec, c.getField("c_vec"))
                        / (nv * _norm(c.getField("c_vec")))
                    )
                ).alias("neg_score"),
                c.getField("cell_id").alias("cell_id"),
            ),
        )

    return F.transform(
        F.slice(F.array_sort(let_bound(_norm(vec), scored_with)), 1, n_probe),
        lambda s: s.getField("cell_id"),
    )


def ivf_assign(
    corpus: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, corpus-with-cell assignment).

    Centroids are a deterministic pseudo-random sample — the ``n_cells``
    corpus vectors with the smallest ``xxhash64(id)`` (reproducible, no RNG,
    no trained model to persist; k-means refinement would slot in here).
    Assignment = argmax cosine vs the centroid set carried as a single
    broadcast row (array<struct>): one narrow pass over the corpus with NO
    row amplification and NO shuffle of vectors — each vector crosses no
    exchange at all on its way to a cell.
    """
    cent = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("h", F.xxhash64(F.col(id_col)))
        .orderBy("h", id_col)
        .limit(n_cells)
        .select(
            F.row_number().over(W.orderBy("h", id_col)).alias("cell_id"),
            F.col(vec_col).alias("c_vec"),
        )
    )
    assigned = (
        corpus.join(F.broadcast(_cent_array(cent)), F.lit(True))
        .withColumn("cell_id", _argmax_cell(F.col(vec_col), F.col("cents")))
        .select(F.col(id_col), F.col(vec_col), F.col("cell_id"))
    )
    return cent, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest cells per query.

    With ``n_probe == n_cells`` every cell is probed and the result is exactly
    brute force (the oracle-checkable configuration proving the partitioned
    index loses no one); smaller ``n_probe`` trades recall for scanning only
    ``n_probe / n_cells`` of the corpus — at scale the corpus is stored
    partitioned/clustered by ``cell_id`` so a probe prunes whole partitions.
    ``exclude_self=False`` for external (non-corpus) query vectors — see
    :func:`ivf_topk_indexed`.
    """
    cent, assigned = ivf_assign(corpus, n_cells, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probes = (
        q.join(F.broadcast(_cent_array(cent)), F.lit(True))
        .select(
            "query_id",
            "q_vec",
            _norm(F.col("q_vec")).alias("n_q"),
            F.explode(_nearest_cells(F.col("q_vec"), F.col("cents"), n_probe)).alias(
                "cell_id"
            ),
        )
    )
    # Norms hoisted per ROW (round 11): n_c once per corpus vector (not once
    # per probed query), n_q once per query; dot/(n_q*n_c) is bit-equal to
    # cosine() — see :func:`cosine_topk`.
    scored = (
        assigned.withColumnsRenamed({id_col: "neighbor_id", vec_col: "c_vec"})
        .withColumn("n_c", _norm(F.col("c_vec")))
        .join(F.broadcast(probes), "cell_id")
        .filter(
            F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True)
        )
        .withColumn(
            "score",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("n_q") * F.col("n_c")), 6
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def persist_ivf_index(
    corpus: DataFrame,
    table: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: corpus PARTITIONED BY cell_id + centroids.

    The scale story :func:`ivf_topk` only documents — pay assignment once,
    store each cell as its own partition, and a probe then reads ONLY the
    ``n_probe`` selected partitions (Spark partition pruning; the scan shows
    ``PartitionFilters``, pinned in tests).  Centroids persist alongside as
    ``<table>_centroids`` so probing needs no recomputation.  Rebuild per
    ingest batch or after :func:`kmeans_refine`, like Pinot refreshes
    per-segment indexes.
    """
    spark = corpus.sparkSession
    cent, assigned = ivf_assign(corpus, n_cells, id_col, vec_col)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")
    assigned.write.mode("overwrite").partitionBy("cell_id").format("parquet").saveAsTable(table)
    cent.write.mode("overwrite").format("parquet").saveAsTable(f"{table}_centroids")


def ivf_topk_indexed(
    spark,
    table: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k served from a :func:`persist_ivf_index` table.

    Per query the ``n_probe`` nearest cells are chosen map-side (centroid
    set as one broadcast array row, same as :func:`ivf_topk`); the corpus
    read is then filtered on ``cell_id``, which prunes whole partitions of
    the persisted layout — the scan touches ~``n_probe / n_cells`` of the
    stored bytes instead of scanning everything and discarding.

    ``exclude_self=False`` skips the query_id != neighbor_id filter — for
    EXTERNAL query vectors (not corpus members) there is no self to
    exclude, and comparing a sentinel query id against a differently-typed
    corpus id would null-cast and drop every row (round-5 review).
    """
    cent = spark.table(f"{table}_centroids")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probes = q.join(F.broadcast(_cent_array(cent)), F.lit(True)).select(
        "query_id",
        "q_vec",
        _norm(F.col("q_vec")).alias("n_q"),
        F.explode(_nearest_cells(F.col("q_vec"), F.col("cents"), n_probe)).alias(
            "cell_id"
        ),
    )
    # Norms hoisted per row (round 11) — bit-equal to cosine(), see
    # :func:`cosine_topk`.
    scored = (
        spark.table(table)
        .withColumnsRenamed({id_col: "neighbor_id", vec_col: "c_vec"})
        .withColumn("n_c", _norm(F.col("c_vec")))
        .join(F.broadcast(probes), "cell_id")
        .filter(
            F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True)
        )
        .withColumn(
            "score",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("n_q") * F.col("n_c")), 6
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 1,
    spread: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing a query's LSH bucket.

    Recall < 1.0 by design; ``bands`` > 1 is the OR-construction (candidates
    collide on ANY of L independent signatures), the standard multi-table
    sign-LSH index.  At scale the corpus is pre-partitioned by signature so a
    probe touches ``bands`` partitions.
    """
    from .arrowkernels import band_sigs_udf, score_pairs
    from .dedup import _spread, lifecycle_cache

    # Spread the corpus over the session's parallelism before the signature
    # projection (round 11): the kernel's parallelism is the input
    # partitioning, and a small corpus parquet scan is one partition — one
    # core would pay the whole map-side cost while byte-based AQE sees
    # nothing to split.  Gated (:func:`_spread`), so a corpus that already
    # scans wide (the 100 TB case) never pays an extra shuffle; a caller
    # that already spread+cached the corpus passes ``spread=False``.
    if spread:
        corpus = _spread(corpus)
    # Round 12 (guide §4): band signatures come from the vectorized Arrow
    # kernel — one boundary crossing per row replaces bands x nbits
    # interpreted array-aggregates of ``dim`` elements (at dim 768 that was
    # ~50k lambda evaluations per vector); every signature bit is identical
    # (order-preserving fold, pinned).
    sig_fn = band_sigs_udf(dim, nbits, bands)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sig_fn(F.col(vec_col)).alias("sigs"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sig_fn(F.col(vec_col)).alias("sigs"),
    )
    # Candidate generation and dedup carry IDS ONLY (round 11): the banded
    # join amplifies each (query, neighbor) pair up to ``bands`` times, and
    # the old shape shuffled both VECTORS through the distinct — at dim 768
    # that is ~12 KB per candidate row moved to decide a 16-byte identity.
    # Vectors re-attach after the distinct via joins on the ids (the same
    # shape :func:`embedding_near_dup_pairs` uses; guide: shuffle keys,
    # move payloads once).
    ce = c.select("neighbor_id", F.posexplode("sigs").alias("band", "sig"))
    qe = q.select("query_id", F.posexplode("sigs").alias("band", "sig"))
    # The ids-only candidates are cached: uncached, every consumer re-runs
    # the corpus signature pass, and under a generous broadcast threshold
    # those re-runs execute concurrently as broadcast-exchange futures
    # (measured at dim 768: a GC storm, 6.6-180 s end to end).
    cand = lifecycle_cache(
        ce.join(F.broadcast(qe), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct(),
        "similarity.lsh_topk.cand",
    )
    scored = score_pairs(
        cand.join(c.select("neighbor_id", "c_vec"), "neighbor_id").join(
            F.broadcast(q.select("query_id", "q_vec")), "query_id"
        ),
        id_a="query_id", id_b="neighbor_id", v_a="q_vec", v_b="c_vec",
    ).select("query_id", "neighbor_id", F.round("raw", 6).alias("score"))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's refinement of IVF centroids (spherical k-means).

    Each iteration: assign every vector to its argmax-cosine centroid (narrow
    map-side pass — the centroid set rides along as one broadcast array row,
    no row amplification, no per-vector window shuffle), then recompute each
    centroid as the element-wise mean of its members via posexplode ->
    (cell, pos) partial averages — no vector ever collects to the driver, no
    group materializes its member list.  Cells that lose all members keep
    their old centroid.  Returns a (cell_id, c_vec) frame interchangeable
    with ivf_assign's.
    """
    cent = centroids.select("cell_id", "c_vec")
    for _ in range(iters):
        assigned = (
            corpus.join(F.broadcast(_cent_array(cent)), F.lit(True))
            .select(
                _argmax_cell(F.col(vec_col), F.col("cents")).alias("cell_id"),
                F.col(vec_col).alias("m_vec"),
            )
        )
        dims = (
            assigned.select("cell_id", F.posexplode("m_vec").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("x").alias("mx"))
        )
        new_cent = (
            dims.groupBy("cell_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("pm")
            )
            .select(
                "cell_id",
                F.transform(F.col("pm"), lambda s: s.getField("mx").cast("float")).alias(
                    "c_vec"
                ),
            )
        )
        cent = (
            cent.select("cell_id", F.col("c_vec").alias("old_vec"))
            .join(new_cent, "cell_id", "left")
            .select("cell_id", F.coalesce("c_vec", "old_vec").alias("c_vec"))
        )
        # truncate lineage: cent feeds next iteration TWICE (centroid array
        # + the keep-old-centroid join), so the plan would double per
        # iteration without this cut (same hazard as dedup_representatives)
        cent = cent.localCheckpoint()
    return cent


# ---------------------------------------------------------------------------
# int8 scalar quantization — the fp32 -> 1-byte storage path for ANN at
# corpus scale.  100 TB of float32 embeddings quantize to 25 TB with ~no
# recall loss once the quantized top-C candidates are re-ranked exactly.
# ---------------------------------------------------------------------------


def quantization_scale(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Global symmetric quantization scale: max |component| over the corpus.

    One aggregate producing ONE row (broadcastable).  A single global scale
    keeps the expression tree O(1) in the embedding dimension — a per-dim
    affine grid would unroll dim expression nodes, the codegen cliff the
    LSH hyperplanes already avoid (see _plane).
    """
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    return corpus.agg(F.greatest(F.max(amax), F.lit(1e-12)).alias("q_scale"))


def quantize(vec: Column, scale: Column) -> Column:
    """float array -> int8-range array: round(x / scale * 127), clamped.

    TINYINT storage (1 byte/component vs 4); the quantized dot product is
    integer arithmetic whose score reconstructs as (scale/127)^2 * qdot.
    """
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") / scale * 127).cast("int")),
        ).cast("tinyint"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine via int8-quantized candidate scoring + exact re-rank.

    Stage 1 scores the corpus against broadcast queries with the INTEGER
    quantized dot product (the cheap pass — at scale it reads the 1-byte
    column, a quarter of the bytes) and keeps ``rerank * k`` candidates per
    query.  Stage 2 recomputes exact float cosine ONLY for those candidates
    and emits the true top-k.  Output schema matches :func:`cosine_topk`,
    so exactness degrades only through candidate misses, which the
    self-validating query measures as recall.
    """
    scale_row = quantization_scale(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).join(F.broadcast(scale_row)).select(
        "query_id", "q_vec", quantize(F.col("q_vec"), F.col("q_scale")).alias("q_q")
    )
    c = corpus.join(F.broadcast(scale_row)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        quantize(F.col(vec_col), F.col("q_scale")).alias("c_q"),
        (_norm(F.col(vec_col))).alias("c_norm"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )
    # Quantized ranking proxy: integer dot normalized by the float corpus
    # norm (query norm is constant per query, so it cannot change the order).
    # Only (query_id, neighbor_id, q_score) rows enter the candidate window
    # shuffle — vectors never amplify through an exchange (the lesson from
    # the round-3 IVF assignment fix).
    cand = (
        c.join(F.broadcast(q.drop("q_vec")), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("q_score", qdot / F.greatest(F.col("c_norm"), F.lit(1e-12)))
        .select("query_id", "neighbor_id", "q_score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("q_score"), F.asc("neighbor_id"))
    short_ids = (
        cand.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    # Exact re-rank: re-fetch vectors for the tiny shortlist via broadcast
    # joins (queries x rerank*k rows), score in codegen, keep true top-k.
    rer = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .join(F.broadcast(short_ids), "neighbor_id")
        .join(
            F.broadcast(
                queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
            ),
            "query_id",
        )
        .withColumn("score", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .select("query_id", "neighbor_id", "score")
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
