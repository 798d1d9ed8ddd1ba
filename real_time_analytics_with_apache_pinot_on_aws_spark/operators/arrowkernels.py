"""Arrow-vectorized, ORDER-PRESERVING kernels for the vector/hash hot paths.

Why this module exists (round 12, guide §4): every dot product, norm and
LSH projection in the engine was a Catalyst higher-order function
(``aggregate`` / ``zip_with``).  ``ArrayAggregate`` is
CodegenFallback — the fold is INTERPRETED per element, allocating boxed
objects at GB/s (the round-11 GC root cause), and it is the measured floor
under every similarity/dedup query.  These kernels move the same arithmetic
across the Arrow boundary and run it vectorized in NumPy.

The contract that makes this safe: **bit-for-bit identical results.**

- Floating-point folds are replayed in the EXACT order of the Catalyst
  expression: ``((0.0 + p_0) + p_1) + ...`` ascending, in float64.  NumPy
  delivers that order when the accumulation is written as an explicit loop
  over the dimension axis (``S = S + A[:, d] * B[:, d]``): each step is one
  IEEE-754 multiply and one add per row, the same two ops the interpreted
  fold performs.  ``np.sum``/``np.dot``/BLAS are NEVER used for float
  accumulation here — they reorder (pairwise summation, FMA, SIMD trees)
  and could flip a last-ulp, which after ``round(_, 6)`` could flip a
  pinned oracle value.
- float32 -> float64 widening is exact, mirroring the fold's
  ``x.cast("double")``.

A pandas-UDF kernel must only ever be applied to a PLAIN column (an
attribute, or a cached relation's column): Spark 4.1's Python-UDF
extraction non-deterministically fails when the UDF argument embeds a
let-bound (nested-capture) lambda — the first build in a session extracts
an ArrowEvalPython, later builds leave the UDF in a plain Project, which
cannot evaluate it (INTERNAL_ERROR at runtime).  That is why MinHash and
SimHash keep their HOF folds (their inputs are per-row HOF expressions and
their fold cost is below the per-task Python round-trip anyway) while the
signature kernel, whose argument is a plain vector column, is safe —
pinned by test_band_sigs_kernel_survives_repeated_builds.

Null semantics: the embedding/signature call sites never produce null
vectors or null elements (fixed-dim arrays straight from parquet or
``transform``/``flatten`` over them), but every kernel keeps a slow path
that reproduces the Catalyst null result (null in -> null out) rather than
crashing, so a malformed input degrades identically to the HOF form.

Scale posture (100 TB): kernels are per-partition ``mapInArrow`` /
``pandas_udf`` passes — Spark still owns distribution, shuffles and I/O;
only the columns the kernel needs cross the boundary (guide §4.1/§4.2).
The packed all-pairs kernels additionally implement the guide-§8 rule:
the quadratic DECISION is made on batch-local NumPy matrices instead of
materializing every candidate pair as a JVM row.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "score_pairs",
    "packed_pair_scores",
    "allpairs_scores",
    "cellpairs_scores",
    "band_sigs_udf",
]

# ---------------------------------------------------------------------------
# Arrow plumbing
# ---------------------------------------------------------------------------


def _combined(col):
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col


def _f64_matrix(col) -> np.ndarray | None:
    """List-of-numeric Arrow array -> (n, dim) float64 matrix, or None when
    the fast path does not apply (null rows, null elements, ragged lengths).

    The values buffer of a ListArray is CONTIGUOUS for the rows it covers, so
    a fixed-width column reshapes with zero per-row Python work — this is the
    whole reason the kernels beat per-row pickling (guide §4.2: re-slice
    buffers, don't copy rows).
    """
    col = _combined(col)
    n = len(col)
    if n == 0:
        return np.empty((0, 0))
    if col.null_count:
        return None
    values = col.values
    if values.null_count:
        return None
    offs = np.asarray(col.offsets)
    widths = np.diff(offs)
    dim = int(widths[0])
    if not (widths == dim).all():
        return None
    vals = np.asarray(values, dtype=np.float64)
    return vals[int(offs[0]) : int(offs[0]) + n * dim].reshape(n, dim)


def _rows(col) -> list:
    """Slow-path extraction: list of (np.ndarray | None) per row, None for a
    null row; element nulls surface as a None row too (Catalyst folds a null
    element into a null result, so the caller nulls the whole row)."""
    col = _combined(col)
    out = []
    for v in col:
        if not v.is_valid:
            out.append(None)
            continue
        vv = v.values
        if vv.null_count:
            out.append(None)
        else:
            out.append(np.asarray(vv, dtype=np.float64))
    return out


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot in the fold's exact order: S_d+1 = S_d + A[:,d]*B[:,d].

    ``out=`` buffers make each step an in-place IEEE multiply + add over
    contiguous rows of the transposed operands — the same two ops per
    element as the allocating form (results bit-identical), without the
    GB/s of temp-array churn a ``S = S + ...`` loop pays.
    """
    n, dim = A.shape
    AT = np.ascontiguousarray(A.T)
    BT = np.ascontiguousarray(B.T)
    S = np.zeros(n)
    tmp = np.empty(n)
    for d in range(dim):
        np.multiply(AT[d], BT[d], out=tmp)
        np.add(S, tmp, out=S)
    return S


def _seq_norm(A: np.ndarray) -> np.ndarray:
    """sqrt of the row-wise sum of squares, same fold order as ``_norm``."""
    n, dim = A.shape
    AT = np.ascontiguousarray(A.T)
    S = np.zeros(n)
    tmp = np.empty(n)
    for d in range(dim):
        np.multiply(AT[d], AT[d], out=tmp)
        np.add(S, tmp, out=S)
    return S ** 0.5


def _scalar_cosine(a: np.ndarray | None, b: np.ndarray | None) -> float | None:
    """Slow-path single-pair cosine with zip_with null-padding semantics:
    null vector or unequal lengths -> null (Python floats ARE IEEE doubles,
    so the sequential fold is bit-identical to the vectorized path).  A
    zero-norm side yields NaN, as the vectorized path's 0/0 does."""
    if a is None or b is None or len(a) != len(b):
        return None
    s = 0.0
    na = 0.0
    nb = 0.0
    for d in range(len(a)):
        s = s + float(a[d]) * float(b[d])
        na = na + float(a[d]) * float(a[d])
        nb = nb + float(b[d]) * float(b[d])
    denom = (na ** 0.5) * (nb ** 0.5)
    return s / denom if denom else float("nan")


def _pair_batch(ia, ib, raw) -> pa.RecordBatch:
    """The (id_a long, id_b long, raw double) batch every pair kernel emits."""
    return pa.RecordBatch.from_arrays(
        [pa.array(ia, pa.int64()), pa.array(ib, pa.int64()), pa.array(raw, pa.float64())],
        ["id_a", "id_b", "raw"],
    )


# ---------------------------------------------------------------------------
# Pairwise cosine scoring over an (id_a, id_b, v_a, v_b) relation
# ---------------------------------------------------------------------------


def score_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    v_a: str = "v_a",
    v_b: str = "v_b",
) -> DataFrame:
    """(id_a, id_b, v_a, v_b, ...) -> (id_a, id_b, raw) with
    raw = dot(v_a, v_b) / (norm(v_a) * norm(v_b)) — bit-identical to the HOF
    expression ``dot(a,b)/(_norm(a)*_norm(b))``; callers apply the exact
    ``F.round(raw, 6)`` and threshold/rank in Spark so every declared value
    is produced by the same JVM rounding as before.

    One ``mapInArrow`` pass: only ids and the two vectors cross the boundary
    (projected here — guide §4.1), vectors are reshaped from the flat Arrow
    buffers (no per-row Python), and the fold runs in NumPy in the exact
    per-element order of the interpreted original.
    """
    cols = pairs.select(
        F.col(id_a).alias("_ka"), F.col(id_b).alias("_kb"),
        F.col(v_a).alias("_va"), F.col(v_b).alias("_vb"),
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ka, kb = b.column("_ka"), b.column("_kb")
            A = _f64_matrix(b.column("_va"))
            B = _f64_matrix(b.column("_vb"))
            if A is not None and B is not None and A.shape == B.shape:
                raw = _seq_dot(A, B) / (_seq_norm(A) * _seq_norm(B))
                raw_arr = pa.array(raw, type=pa.float64())
            else:  # slow path: per-row Catalyst null semantics
                ra = _rows(b.column("_va"))
                rb = _rows(b.column("_vb"))
                raw_arr = pa.array(
                    [_scalar_cosine(x, y) for x, y in zip(ra, rb)],
                    type=pa.float64(),
                )
            yield pa.RecordBatch.from_arrays([ka, kb, raw_arr], ["_ka", "_kb", "raw"])

    out = cols.mapInArrow(fn, "_ka long, _kb long, raw double")
    return out.withColumnsRenamed({"_ka": id_a, "_kb": id_b})


def packed_pair_scores(
    cand: DataFrame,
    source: DataFrame,
    id_col: str,
    vec_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    groups: int | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate ids + a bounded vector ``source`` ->
    (id_a, id_b, raw) cosine, WITHOUT re-attaching vectors per pair.

    The guide-§8 shape for LSH candidate verification: re-attaching vectors
    with two joins moves ~2 x dim floats PER CANDIDATE through the exchange
    and the Arrow boundary (816k candidates x 128 floats ≈ 0.8 GB at the
    round-12 fixture).  Here candidates are grouped into ``groups`` packed
    rows of bare ids, the source is packed ONCE (one collect_list row,
    broadcast — the same bounded-side posture the former broadcast join
    required), and the kernel GATHERS each side's rows by id before the
    order-preserving fold: bytes moved = ids + one corpus copy per group.

    Requires unique ids in ``source`` (true of every call site: vec_id is
    the table key); a candidate id absent from ``source`` is dropped,
    exactly as the former inner re-attach joins dropped it.
    """
    spark = cand.sparkSession
    g = groups or spark.sparkContext.defaultParallelism
    packed = source.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec")
    ).agg(
        F.collect_list(_packed_struct(F.col("_id"), F.col("_vec"))).alias("src")
    )
    grouped = cand.groupBy(
        F.pmod(F.col(id_a).cast("long"), F.lit(g)).alias("_g")
    ).agg(
        F.collect_list(
            F.struct(
                F.col(id_a).cast("long").alias("a"),
                F.col(id_b).cast("long").alias("b"),
            )
        ).alias("cand")
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ca = _combined(batch.column("cand"))
            sa = _combined(batch.column("src"))
            for r in range(batch.num_rows):
                pair_struct = ca[r].values
                src_struct = sa[r].values
                ia = np.asarray(pair_struct.field("a"))
                ib = np.asarray(pair_struct.field("b"))
                sids = np.asarray(src_struct.field("id"))
                if not len(sids):  # every candidate drops, like the inner joins
                    continue
                V = _f64_matrix(src_struct.field("vec"))
                if V is None:  # malformed vectors: per-pair scalar fallback
                    rows = _rows(src_struct.field("vec"))
                    lookup = dict(zip(sids.tolist(), rows))
                    raws = [
                        _scalar_cosine(lookup.get(int(x)), lookup.get(int(y)))
                        if int(x) in lookup and int(y) in lookup
                        else False
                        for x, y in zip(ia, ib)
                    ]
                    keep = [i for i, v in enumerate(raws) if v is not False]
                    yield _pair_batch(ia[keep], ib[keep], [raws[i] for i in keep])
                    continue
                order = np.argsort(sids, kind="stable")
                sids_sorted = sids[order]
                Vs = V[order]
                norms = _seq_norm(Vs)
                pa_idx = np.searchsorted(sids_sorted, ia)
                pb_idx = np.searchsorted(sids_sorted, ib)
                pa_idx = np.clip(pa_idx, 0, len(sids_sorted) - 1)
                pb_idx = np.clip(pb_idx, 0, len(sids_sorted) - 1)
                ok = (sids_sorted[pa_idx] == ia) & (sids_sorted[pb_idx] == ib)
                pa_i, pb_i = pa_idx[ok], pb_idx[ok]
                A, B = Vs[pa_i], Vs[pb_i]
                raw = _seq_dot(A, B) / (norms[pa_i] * norms[pb_i])
                yield _pair_batch(ia[ok], ib[ok], raw)

    out = grouped.crossJoin(F.broadcast(packed)).mapInArrow(
        fn, "id_a long, id_b long, raw double"
    )
    return out.withColumnsRenamed({"id_a": id_a, "id_b": id_b})


# ---------------------------------------------------------------------------
# Packed all-pairs kernels: the quadratic stage never materializes JVM pairs
# ---------------------------------------------------------------------------


def _packed_struct(id_col: Column, vec_col: Column) -> Column:
    return F.struct(id_col.cast("long").alias("id"), vec_col.alias("vec"))


def _pairs_from_packed(
    left_struct, right_struct, margin: float, strict_lower: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Score one packed (group x corpus | cell x cell) block.

    Emits (ids_a, ids_b, raw) for pairs with id_a < id_b (or id_a > id_b for
    ``strict_lower``) whose raw cosine clears ``margin``.  The margin is a
    PRE-filter only: callers re-apply the exact ``round(raw, 6) >= thr`` in
    Spark, and ``margin = thr - 1e-6`` can never exclude a pair the exact
    filter would keep (HALF_UP rounding moves a value by at most 5e-7).

    A NaN score (zero-norm vector) is never emitted as a pair: it fails
    ``>= margin`` on both paths.  This is the kernels' own rule, not a
    replay of Spark: ``round(NaN, 6) >= thr`` is TRUE there (NaN sorts above
    every number) and the HOF ``cosine`` raises DIVIDE_BY_ZERO under ANSI.
    """
    gid = np.asarray(left_struct.field("id"))
    gv = _f64_matrix(left_struct.field("vec"))
    cid = np.asarray(right_struct.field("id"))
    cv = _f64_matrix(right_struct.field("vec"))
    if gv is None or cv is None or (len(gid) and len(cid) and gv.shape[1] != cv.shape[1]):
        # slow path: per-pair scalar fold (only reachable on malformed input)
        grows = _rows(left_struct.field("vec"))
        crows = _rows(right_struct.field("vec"))
        ia, ib, rr = [], [], []
        for i, (ga, va) in enumerate(zip(gid, grows)):
            for j, (cb, vb) in enumerate(zip(cid, crows)):
                if (ga > cb) if strict_lower else (ga < cb):
                    ia_, ib_ = (int(ga), int(cb))
                else:
                    continue
                r = _scalar_cosine(va, vb)
                if r is not None and r >= margin:
                    ia.append(ia_), ib.append(ib_), rr.append(r)
        return np.asarray(ia, np.int64), np.asarray(ib, np.int64), np.asarray(rr)
    gn = _seq_norm(gv)
    cn = _seq_norm(cv)
    S = np.zeros((len(gid), len(cid)))
    if len(gid) and len(cid):
        gvT = np.ascontiguousarray(gv.T)
        cvT = np.ascontiguousarray(cv.T)
        tmp = np.empty_like(S)
        for d in range(gv.shape[1]):
            np.multiply(gvT[d][:, None], cvT[d][None, :], out=tmp)
            np.add(S, tmp, out=S)
    with np.errstate(invalid="ignore", divide="ignore"):
        raw = S / (gn[:, None] * cn[None, :])
        order = (gid[:, None] > cid[None, :]) if strict_lower else (
            gid[:, None] < cid[None, :]
        )
        mask = order & (raw >= margin)
    ii, jj = np.nonzero(mask)
    return gid[ii], cid[jj], raw[ii, jj]


def allpairs_scores(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    groups: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine (id_a < id_b) with raw score >= threshold-1e-6.

    The guide-§8 shape for the bounded-corpus brute-force leg: the corpus is
    packed ONCE (one collect_list row — the same all-in-memory posture the
    previous BroadcastNestedLoopJoin already required of its broadcast side)
    and crossed against ``groups`` packed row-groups, so the n^2/groups
    scoring block per task is a NumPy matrix pass instead of n^2 interpreted
    JVM rows.  Callers apply the exact round+threshold on ``raw``.

    ``groups`` defaults to the session parallelism — scale-adaptive, not a
    local constant.
    """
    spark = corpus.sparkSession
    g = groups or spark.sparkContext.defaultParallelism
    margin = threshold - 1e-6
    base = corpus.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_vec")
    )
    grouped = base.groupBy(F.pmod(F.col("_id"), F.lit(g)).alias("_g")).agg(
        F.collect_list(_packed_struct(F.col("_id"), F.col("_vec"))).alias("grp")
    )
    packed = base.agg(
        F.collect_list(_packed_struct(F.col("_id"), F.col("_vec"))).alias("corpus")
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ga = _combined(b.column("grp"))
            ca = _combined(b.column("corpus"))
            for r in range(b.num_rows):
                ia, ib, raw = _pairs_from_packed(
                    ga[r].values, ca[r].values, margin, strict_lower=False
                )
                yield _pair_batch(ia, ib, raw)

    return grouped.crossJoin(F.broadcast(packed)).mapInArrow(
        fn, "id_a long, id_b long, raw double"
    )


def cellpairs_scores(
    assigned: DataFrame,
    cell_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Within-cell all-pairs cosine (id_a > id_b per the SemDeDup pair
    orientation) with raw >= threshold-1e-6, as (cell, id_a, id_b, raw) rows
    under ``cell_col``; callers apply the exact round+threshold.

    One groupBy(cell) pack shuffle replaces the within-cell self-JOIN: the
    sum(|cell|^2) scoring work runs as one NumPy block per cell instead of
    sum(|cell|^2) interpreted JVM rows, and the only shuffle moves each
    vector once (the join moved both sides).  Cells are the parallelism unit
    — exactly the operator's documented scale posture (n_cells grows with
    the corpus; SemDeDup uses ~100k clusters).
    """
    margin = threshold - 1e-6
    packed = assigned.groupBy(F.col(cell_col)).agg(
        F.collect_list(
            _packed_struct(F.col(id_col), F.col(vec_col))
        ).alias("cell")
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cells = _combined(b.column(cell_col))
            ca = _combined(b.column("cell"))
            for r in range(b.num_rows):
                cell = ca[r].values
                ia, ib, raw = _pairs_from_packed(cell, cell, margin, strict_lower=True)
                yield _pair_batch(ia, ib, raw).add_column(
                    0, cell_col, pa.repeat(cells[r], len(ia))
                )

    cell_type = packed.schema[cell_col].dataType.simpleString()
    return packed.mapInArrow(
        fn, f"`{cell_col}` {cell_type}, id_a long, id_b long, raw double"
    )


# ---------------------------------------------------------------------------
# Sign-LSH band signatures
# ---------------------------------------------------------------------------


def band_sigs_udf(dim: int, nbits: int, bands: int):
    """pandas_udf: vector -> array<int> of ``bands`` sign signatures.

    Replaces ``bands * nbits`` interpreted ``aggregate`` folds per row (the
    measured floor of every LSH query at dim 768) with one vectorized pass;
    the per-plane projection accumulates over ascending d exactly like the
    fused fold in :func:`similarity.lsh_signature`, so every signature bit —
    and every candidate set — is unchanged.  Out-of-range/short vectors
    follow ``F.get`` null-padding: any missing component nulls the
    projection, and ``when(null > 0, ...)`` falls to the 0 branch — so a
    null/short vector signs to **0 in every band**, never to a null; this
    kernel emits ``[0] * bands`` for those rows.  A NaN projection sets its
    bit, because Spark orders NaN above every number (``NaN > 0`` is TRUE),
    so a NaN-poisoned vector signs to all ones, same as the fold.  Vectors
    LONGER than ``dim`` read components 0..dim-1, matching the fused fold
    (and its documented divergence from the pre-r11 zip_with form).
    """
    from .similarity import _plane_values

    planes = np.array(
        [
            _plane_values(b * nbits + p, dim)
            for b in range(bands)
            for p in range(nbits)
        ]
    )  # (bands*nbits, dim)
    total = bands * nbits
    powers = np.array([1 << (i % nbits) for i in range(total)], dtype=np.int64)
    zeros = np.zeros(bands, dtype=np.int32)

    @F.pandas_udf("array<int>")
    def _sigs(v: pd.Series) -> pd.Series:
        n = len(v)
        res: list = [zeros] * n
        arrs, pos = [], []
        for i, x in enumerate(v):
            if x is not None and len(x) >= dim:
                arrs.append(np.asarray(x[:dim], dtype=np.float64))
                pos.append(i)
        if arrs:
            A = np.stack(arrs)  # (m, dim)
            AT = np.ascontiguousarray(A.T)
            PT = np.ascontiguousarray(planes.T)
            P = np.zeros((A.shape[0], total))
            tmp = np.empty_like(P)
            for d in range(dim):
                np.multiply(AT[d][:, None], PT[d][None, :], out=tmp)
                np.add(P, tmp, out=P)
            contrib = ((P > 0) | np.isnan(P)) * powers[None, :]
            sigs = (
                contrib.reshape(A.shape[0], bands, nbits).sum(axis=2).astype(np.int32)
            )
            for j, i in enumerate(pos):
                res[i] = sigs[j]
        return pd.Series(res, dtype=object)

    return _sigs
