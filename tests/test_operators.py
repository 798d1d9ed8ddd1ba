"""Operator semantics unit tests: dedup, similarity, text, gapfill, multimodal."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import (
    dedup,
    gapfill,
    multimodal,
    similarity,
    text,
)


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")], "id long, text string"
    )
    out = {r["representative_id"]: r["n_copies"] for r in dedup.exact_dedup(df, "id", "text").collect()}
    assert out == {1: 3, 3: 1}


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")
    other = "completely different content about spark query engines and columnar storage systems"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "id long, text string"
    )
    pairs = dedup.minhash_lsh_pairs(df, "id", "text", jaccard_threshold=0.3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(p in {(1, 2)} for p in found)  # no false positives past verify


def test_minhash_signatures_are_independent(spark):
    """Round-3 regression: the k minhash columns must be k INDEPENDENT
    hash-family minima, not k copies of one value.  (A defaulted second
    lambda parameter made Spark treat the per-seed hash as an
    (element, index) lambda, silently collapsing every signature to the
    same column — single effective band, wrong recall curve.)"""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "id long, text string",
    )
    row = dedup.minhash_signatures(df, "id", "text", num_hashes=16).collect()[0]
    sig = [row[f"mh_{s}"] for s in range(16)]
    assert len(set(sig)) > 8, f"minhash columns are not independent: {sig}"


def test_minhash_banded_recall_at_threshold(spark):
    """r=2 x 8 bands: a pair at Jaccard ~0.6 collides with prob ~0.97 —
    deterministic given the fixed hash family, so pin that it IS found."""
    base = "w%d " * 30
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"w{i}" for i in range(3, 33))  # 27/33 token overlap
    df = spark.createDataFrame([(1, a), (2, b)], "id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, "id", "text", jaccard_threshold=0.3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_minhash_hot_bucket_cap(spark):
    """1000 identical boilerplate docs: the capped path must emit the linear
    star pairing (999 pairs to the min-id representative), never the
    quadratic 499500, and the duplicate group must still be fully connected."""
    docs = [(i, "standard license header boilerplate text repeated verbatim everywhere") for i in range(1000)]
    docs.append((5000, "a genuinely different document about streaming joins and watermarks"))
    df = spark.createDataFrame(docs, "id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df, "id", "text", jaccard_threshold=0.5, max_bucket=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # star topology: every boilerplate doc pairs with representative id=0
    assert found == {(0, i) for i in range(1, 1000)}
    assert all(abs(r["jaccard"] - 1.0) < 1e-9 for r in pairs)
    # group recovery: union-find over the emitted pairs is one component
    parent = {i: 0 for i in range(1000)}
    assert len({parent[a] for a, _ in found} | {parent[b] for _, b in found}) == 1


def test_minhash_cap_preserves_small_bucket_pairs(spark):
    """Below the cap, behavior is identical to the uncapped all-pairs path."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("today", "tonight")), (3, base), (4, "unrelated words entirely disjoint from everything else here")],
        "id long, text string",
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(df, "id", "text", jaccard_threshold=0.3, max_bucket=16).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(df, "id", "text", jaccard_threshold=0.3, max_bucket=None).collect()
    }
    assert capped == uncapped
    assert {(1, 2), (1, 3), (2, 3)} <= capped


def test_let_bound_binds_once_and_preserves_values(spark):
    """let_bound evaluates its operand once per row (round-11 fix for the
    per-shingle re-tokenization) without changing any value, including the
    null and empty-string edge rows."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps today"), (2, ""), (3, None), (4, "one")],
        "id long, text string",
    )
    # Values: let-bound shingle hashing == the inline form it replaced.
    toks = dedup.normalized_tokens(F.col("text"))
    inline = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, 3), " ")),
        )
    )
    rows = df.select(
        "id",
        dedup.shingle_hashes(F.col("text"), 3).alias("bound"),
        inline.alias("inline"),
    ).collect()
    assert all(r["bound"] == r["inline"] for r in rows)
    # Binding: the tokenizer subtree appears exactly once in the bound
    # expression (the inline form embeds it twice — size bound + slice —
    # and the slice copy re-ran per shingle position).
    bound_sql = str(dedup.shingle_hashes(F.col("text"), 3)._jc)
    assert bound_sql.count("split(lower(") == 1


def test_minhash_prepared_sets_parity(spark):
    """prepared_sets (caller-supplied hashed-shingle relation) yields exactly
    the pairs of the default internal-tokenization path."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("today", "tonight")),
            (3, base),
            (4, "unrelated words entirely disjoint from everything else here"),
        ],
        "id long, text string",
    )
    sets = df.select(
        F.col("id"), dedup.shingle_hashes(F.col("text"), 3).alias("sh_set")
    )
    default = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(df, "id", "text", jaccard_threshold=0.3).collect()
    }
    prepared = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            df, "id", "text", jaccard_threshold=0.3, prepared_sets=sets
        ).collect()
    }
    assert default == prepared and default


def test_simhash_prepared_fingerprints_parity(spark):
    """prepared_fingerprints yields exactly the pairs of the internal path,
    and extra_cols pass through the fingerprint scan unchanged."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "completely different words entirely here now"),
        ],
        "id long, text string",
    )
    fp = dedup.simhash(
        df.withColumn("th", F.xxhash64("text")), "id", "text", extra_cols=("th",)
    )
    assert set(fp.columns) == {"id", "th", "simhash"}
    default = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_pairs(df, "id", "text").collect()
    }
    prepared = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_pairs(
            df, "id", "text", prepared_fingerprints=fp.select("id", "simhash")
        ).collect()
    }
    assert default == prepared and default


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz qq ww ee rr tt")],
        "id long, text string",
    )
    fp = {r["id"]: r["simhash"] for r in dedup.simhash(df, "id", "text").collect()}
    assert fp[1] == fp[2]
    pairs = dedup.simhash_near_pairs(df, "id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(1, 2)}
    hamming = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert hamming[(1, 2)] == 0


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "id long, text string")
    rows = dedup.ngram_jaccard_pairs(df, "id", "text", shingle_n=1, threshold=0.0).collect()
    assert len(rows) == 1
    # tokens {a,b,c,d} vs {a,b,c,e}: |∩|=3, |∪|=5
    assert abs(rows[0]["jaccard"] - 0.6) < 1e-9


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = [[float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)] for i in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>"
    )
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    a = np.array(rng, dtype=np.float64)
    sims = a @ a[0] / (np.linalg.norm(a, axis=1) * np.linalg.norm(a[0]))
    sims[0] = -np.inf
    expected = list(np.argsort(-np.round(sims, 6), kind="stable")[:3])
    got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [int(x) for x in expected]
    top = next(r for r in out if r["rank"] == 1)
    assert math.isclose(top["score"], float(np.round(sims[top["neighbor_id"]], 6)), abs_tol=1e-6)


def test_lsh_ann_returns_subset_of_exact(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = df.filter(F.col("vec_id") < 3)
    exact = similarity.cosine_topk(df, q, k=50)
    approx = similarity.cosine_topk_lsh(df, q, dim=64, k=50, nbits=6)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_rows = approx.collect()
    assert len(approx_rows) > 0
    # every ANN hit in the same bucket scores identically to brute force
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"] for r in exact.collect()
    }
    for r in approx_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert math.isclose(r["score"], exact_scores[key], abs_tol=1e-9)


def test_ivf_partial_probe_subset_of_exact(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = df.filter(F.col("vec_id") < 3)
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in similarity.cosine_topk(df, q, k=1000).collect()
    }
    approx = similarity.ivf_topk(df, q, k=10, n_cells=4, n_probe=2).collect()
    assert len(approx) > 0
    # every IVF hit scores identically to brute force (it only prunes, never rescores)
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact_scores
        assert math.isclose(r["score"], exact_scores[key], abs_tol=1e-9)


def test_plane_values_match_spark_xxhash64(spark):
    """Round 11: hyperplanes are Python-computed plan-time constants.

    The replaced expression — ``transform(sequence(0, dim-1),
    d -> (xxhash64(plane, d) % 10000) / 10000.0)`` — was never constant-
    folded (HOFs aren't foldable), so every row re-derived every plane.
    This pin evaluates THAT original expression through Spark and asserts
    the Python mirror (:func:`similarity._plane_values`) is bit-identical
    for every (plane, component) the engine derives at production dims:
    signatures, and therefore all LSH query results, are unchanged.
    """

    def old_plane(plane: int, dim: int):
        def component(d):
            return (F.xxhash64(F.lit(plane), d) % 10_000).cast("double") / 10_000.0

        return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), component)

    dim, planes = 768, 40  # >= bands * nbits = 32 used anywhere, plus headroom
    row = spark.range(1).select(
        *[old_plane(p, dim).alias(f"p{p}") for p in range(planes)]
    ).head()
    for p in range(planes):
        assert list(row[f"p{p}"]) == list(similarity._plane_values(p, dim)), p


def test_lsh_signature_fused_fold_bit_equal_to_zipwith(spark):
    """Round 11: lsh_signature's fused index fold must emit bit-identical
    signatures to the replaced zip_with + aggregate + per-row-plane shape,
    at both the production band config (nbits=4, bands=8) and the default
    nbits=8 — on REAL fixture embeddings, so sign boundaries are exercised
    with genuine FP data."""

    def old_plane(plane: int, dim: int):
        def component(d):
            return (F.xxhash64(F.lit(plane), d) % 10_000).cast("double") / 10_000.0

        return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), component)

    def old_signature(vec, dim, nbits, plane_offset=0):
        sig = F.lit(0)
        for p in range(nbits):
            proj = F.aggregate(
                F.zip_with(
                    vec, old_plane(plane_offset + p, dim), lambda x, w: x.cast("double") * w
                ),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            sig = sig + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
        return sig.cast("int")

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vec = F.col("embedding")
    mism = df.select(
        *[
            (
                similarity.lsh_signature(vec, 64, 4, plane_offset=b * 4)
                != old_signature(vec, 64, 4, plane_offset=b * 4)
            ).alias(f"b{b}")
            for b in range(8)
        ],
        (similarity.lsh_signature(vec, 64, 8) != old_signature(vec, 64, 8)).alias("d8"),
    )
    cond = None
    for c in mism.columns:
        cond = F.col(c) if cond is None else cond | F.col(c)
    assert mism.filter(cond).count() == 0


def test_lsh_candidate_cache_single_lifecycle(spark):
    """Round 11: the LSH candidate-id relation is cached (so broadcast
    builds and repeated consumers reuse ONE corpus signature pass) with a
    size-1 lifecycle — each operator call releases the previous call's
    blocks, bounding the leak at one ids-only relation per key."""
    owner = dedup._PROCESS_CACHES
    key = "similarity.lsh_topk.cand"
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = df.filter(F.col("vec_id") < 3)
    out1 = similarity.cosine_topk_lsh(df, q, dim=64, k=5, nbits=4, bands=2)
    first = owner[key]
    assert first.is_cached
    n_keys = len(owner)
    out2 = similarity.cosine_topk_lsh(df, q, dim=64, k=5, nbits=4, bands=2)
    # replaced, not appended: same keys, a new relation, the old one released
    assert len(owner) == n_keys
    assert owner[key] is not first and owner[key].is_cached
    assert not first.is_cached
    assert out2.count() == out1.count()
    blocked = similarity.embedding_near_dup_pairs(df, threshold=0.3, dim=64, nbits=4, bands=2)
    assert owner["similarity.near_dup.cand"].is_cached
    assert blocked.count() >= 0


def test_lsh_candidate_keys_do_not_evict_each_other(spark):
    """The top-k and near-dup candidate relations have one key each: building
    both before executing either keeps both in Spark's cache manager."""
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = df.filter(F.col("vec_id") < 3)
    topk = similarity.cosine_topk_lsh(df, q, dim=64, k=5, nbits=4, bands=2)
    topk_cand = dedup._PROCESS_CACHES["similarity.lsh_topk.cand"]
    pairs = similarity.embedding_near_dup_pairs(df, threshold=0.3, dim=64, nbits=4, bands=2)
    near_cand = dedup._PROCESS_CACHES["similarity.near_dup.cand"]
    for cand in (topk_cand, near_cand):
        assert cand.is_cached and cand.storageLevel.useMemory
    assert topk.count() > 0 and pairs.count() >= 0


def test_lifecycle_cache_is_the_only_cache_call():
    """Every cached relation in the package goes through one owner: the only
    ``.cache()`` / ``.persist()`` call is the one inside ``lifecycle_cache``."""
    import ast
    from pathlib import Path

    import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

    root = Path(pkg.__file__).parent
    found = []

    def walk(node, fn, rel):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist")
        ):
            found.append((rel, fn))
        for child in ast.iter_child_nodes(node):
            walk(child, fn, rel)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        walk(ast.parse(path.read_text(), filename=str(path)), None, rel)
    assert found == [("operators/dedup.py", "lifecycle_cache")]


def test_cache_scope_owns_and_releases_its_relations(spark):
    """Inside ``cache_scope`` the scope owns the relation (size-1 per key)
    and the process owner is untouched; on exit every relation is released,
    and a result built inside still computes (recompute from lineage)."""
    df = spark.range(10)
    with dedup.cache_scope() as owner:
        a = dedup.lifecycle_cache(df.filter("id > 2"), "t.scope")
        b = dedup.lifecycle_cache(df.filter("id > 5"), "t.scope")
        assert list(owner) == ["t.scope"] and owner["t.scope"] is b
        assert b.is_cached and not a.is_cached
        with dedup.cache_scope() as inner:
            c = dedup.lifecycle_cache(df.filter("id > 7"), "t.scope")
            assert inner["t.scope"] is c and owner["t.scope"] is b
        assert not c.is_cached and b.is_cached
    assert not b.is_cached and not b.storageLevel.useMemory
    assert "t.scope" not in dedup._PROCESS_CACHES
    assert b.count() == 4


def test_frequent_eps_from_rank_k_plus_1_matches_max_over_dropped(spark):
    """Round 11: frequent_summaries derives eps from the rn == k+1 row of
    its cached summary relation.  Pin that this equals the original
    definition — max(cnt) over ALL dropped rows (rn > k), 0 when nothing
    was dropped — on data with ties and with segments smaller than k."""
    from pyspark.sql import Window
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import frequent as FQ

    rows = []
    # seg 0: 12 items incl. count ties across the k boundary; seg 1: 3 items (< k)
    for i in range(12):
        rows.append((0, i, 20 - (i // 2)))  # ties: pairs share counts
    for i in range(3):
        rows.append((1, 100 + i, 5))
    counts = spark.createDataFrame(rows, "seg int, item int, cnt long")
    k = 8
    kept, eps = FQ.frequent_summaries(counts, k=k)
    got = {r["seg"]: r["eps"] for r in eps.collect()}
    rn = F.row_number().over(
        Window.partitionBy("seg").orderBy(F.col("cnt").desc(), F.col("item"))
    )
    ranked = counts.withColumn("rn", rn)
    want = {
        r["seg"]: r["eps"]
        for r in ranked.groupBy("seg")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rn") > k, F.col("cnt"))), F.lit(0).cast("bigint")
            ).alias("eps")
        )
        .collect()
    }
    assert got == want
    assert got[1] == 0  # nothing dropped in the small segment
    assert kept.filter(F.col("seg") == 0).count() == k


def test_embedding_near_dup_lsh_subset_of_exact(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in similarity.embedding_near_dup_pairs(df, threshold=0.3).collect()
    }
    blocked = similarity.embedding_near_dup_pairs(df, threshold=0.3, dim=64, nbits=4).collect()
    assert len(exact) > 0
    for r in blocked:
        assert (r["id_a"], r["id_b"]) in exact  # blocking only prunes


def test_winnow_shared_run_guarantee(spark):
    # docs sharing a run of >= shingle_n + window - 1 = 6 tokens must share a fingerprint
    common = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix words here {common} suffix tail"),
            (2, f"{common} totally different ending content now"),
            (3, "no overlap at all with anything else whatsoever"),
        ],
        "doc_id long, text string",
    )
    toks = dedup.normalized_tokens(F.col("text"))
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, 3), " ")),
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(F.col("hs")) - 4, F.lit(0))),
        lambda j: F.array_min(F.slice(F.col("hs"), j + 1, 4)),
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select("doc_id", sh.alias("hs"))
        .select("doc_id", F.array_distinct(wins).alias("fps"))
        .collect()
    }
    assert fps[1] & fps[2], "shared 6-token run must produce a shared fingerprint"
    assert not (fps[1] & fps[3])
    # and the packaged operator produces stable digests
    out = {r["doc_id"]: r for r in text.winnow_fingerprints(df, "doc_id", "text").collect()}
    assert out[1]["n_fingerprints"] == len(fps[1])


def test_language_id_deterministic_and_shaped(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"), (2, "el perro y el gato en la casa")],
        "id long, text string",
    )
    out = {r["id"]: r for r in text.language_id(df, "id", "text").collect()}
    assert out[1]["predicted_lang"] == "en"
    assert out[2]["predicted_lang"] == "es"
    assert 0.0 <= out[1]["confidence"] <= 1.0


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "A clean readable sentence with enough distinct words here."), (2, "!!! ??? ***")],
        "id long, text string",
    )
    out = {r["id"]: r for r in text.quality_score(df, "id", "text").collect()}
    assert out[1]["quality_score"] > out[2]["quality_score"]
    assert out[2]["punct_ratio"] > 0.5


def test_gapfill_fills_holes(spark):
    agg = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a", 5), ("2024-01-01 03:00:00", "a", 7)],
        "hour string, k string, n long",
    ).select(F.to_timestamp("hour").alias("hour"), "k", "n")
    out = gapfill.gapfill(agg, "hour", "1 hour", ["k"], {"n": 0}).orderBy("hour").collect()
    assert [r["n"] for r in out] == [5, 0, 0, 7]


def test_gapfill_previous_value_mode(spark):
    """Pinot FILL_PREVIOUS_VALUE: holes forward-fill from the group's last
    seen bucket, per group; leading holes (no previous value) stay NULL."""
    agg = spark.createDataFrame(
        [
            ("2024-01-01 01:00:00", "a", 5),
            ("2024-01-01 03:00:00", "a", 7),
            ("2024-01-01 00:00:00", "b", 1),
        ],
        "hour string, k string, n long",
    ).select(F.to_timestamp("hour").alias("hour"), "k", "n")
    out = gapfill.gapfill(agg, "hour", "1 hour", ["k"], {"n": "previous"})
    got = {(r["k"], r["hour"].hour): r["n"] for r in out.collect()}
    assert got == {
        ("a", 0): None, ("a", 1): 5, ("a", 2): 5, ("a", 3): 7,   # ffill + leading NULL
        ("b", 0): 1, ("b", 1): 1, ("b", 2): 1, ("b", 3): 1,      # carried forward
    }


def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "")], "doc_id long, text string")
    feats = {
        r["doc_id"]: r
        for r in multimodal.decode_features(multimodal.attach_binary(df, "doc_id", "text")).collect()
    }
    assert feats[1]["n_bytes"] == 4
    assert feats[1]["first_byte"] == ord("a")
    assert feats[1]["byte_sum"] == sum(b"abcd")
    assert feats[1]["header_hex"] == b"abcd".hex()
    assert feats[2]["first_byte"] == -1


def test_multimodal_decode_image_stubbed(spark):
    import pytest

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(multimodal.attach_binary(df, "doc_id", "text"))


# -- upsert / salted agg (B62, B30-at-scale) --------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import upsert


def _upsert_fixture(spark):
    # user 1: two versions, later ts wins; user 2: ts tie broken by seq
    return spark.createDataFrame(
        [
            (1, 10, 100, "a", 5.0),
            (1, 11, 200, "b", 7.0),
            (2, 12, 300, "c", 1.0),
            (2, 13, 300, "d", 2.0),
        ],
        "user long, seq long, ts long, state string, amount double",
    )


def test_latest_by_key_picks_last_writer(spark):
    df = _upsert_fixture(spark)
    out = {r["user"]: r for r in upsert.latest_by_key(df, ["user"], ["ts", "seq"]).collect()}
    assert out[1]["state"] == "b" and out[1]["amount"] == 7.0
    assert out[2]["state"] == "d"  # ts tie -> higher seq wins
    assert set(out[1].asDict()) == {"user", "seq", "ts", "state", "amount"}


def test_latest_by_key_delete_record_column(spark):
    """Pinot upsert deleteRecordColumn semantics: a key whose LATEST version
    is a tombstone vanishes from the resolved view; a tombstone superseded by
    a later live version does not delete; the flag column never surfaces."""
    df = spark.createDataFrame(
        [
            (1, 10, 100, "a", False),
            (1, 11, 200, "gone", True),   # latest for key 1 -> deleted
            (2, 12, 300, "c", True),
            (2, 13, 400, "alive", False),  # tombstone superseded -> key stays
            (3, 14, 500, "e", False),
        ],
        "user long, seq long, ts long, state string, deleted boolean",
    )
    out = {
        r["user"]: r
        for r in upsert.latest_by_key(df, ["user"], ["ts", "seq"], delete_col="deleted").collect()
    }
    assert set(out) == {2, 3}
    assert out[2]["state"] == "alive"
    assert "deleted" not in out[3].asDict()
    # without the delete column, all keys resolve as before
    assert len(upsert.latest_by_key(df, ["user"], ["ts", "seq"]).collect()) == 3


def test_partial_upsert_strategies(spark):
    df = _upsert_fixture(spark)
    out = {
        r["user"]: r
        for r in upsert.partial_upsert(
            df, ["user"], ["ts", "seq"],
            {"state": "OVERWRITE", "amount": "SUM", "ts": "MAX", "seq": "IGNORE"},
        ).collect()
    }
    assert out[1]["state"] == "b" and out[1]["amount"] == 12.0
    assert out[1]["seq"] == 10  # IGNORE: first writer's value
    assert out[2]["ts"] == 300


def test_partial_upsert_append(spark):
    df = _upsert_fixture(spark)
    out = {
        r["user"]: r["state"]
        for r in upsert.partial_upsert(
            df, ["user"], ["ts", "seq"], {"state": "APPEND", "amount": "SUM", "ts": "MAX", "seq": "MIN"}
        ).collect()
    }
    assert out[1] == ["a", "b"]  # arrival (ts, seq) order
    assert out[2] == ["c", "d"]


def test_partial_upsert_tombstone_resurrects_from_scratch(spark):
    """PARTIAL mode x deleteRecordColumn (Pinot 1.2 **[P1.2]**): a tombstone
    wipes accumulated state; later partials rebuild the row against an empty
    base (SUM restarts, OVERWRITE/IGNORE see only post-tombstone rows); a key
    whose latest version is the tombstone disappears; keys without tombstones
    merge over their full history."""
    df = spark.createDataFrame(
        [
            # key 1: accumulate, tombstone, then resurrect with two partials
            (1, 10, 100, "a", 5.0, False),
            (1, 11, 200, "b", 7.0, False),
            (1, 12, 300, None, 0.0, True),    # tombstone wipes 12.0
            (1, 13, 400, "c", 2.0, False),
            (1, 14, 500, "d", 3.0, False),
            # key 2: latest version is the tombstone -> key drops
            (2, 20, 100, "x", 9.0, False),
            (2, 21, 200, None, 0.0, True),
            # key 3: no tombstone -> full-history merge
            (3, 30, 100, "m", 1.0, False),
            (3, 31, 200, "n", 1.5, False),
        ],
        "user long, seq long, ts long, state string, amount double, deleted boolean",
    )
    out = {
        r["user"]: r
        for r in upsert.partial_upsert(
            df, ["user"], ["ts", "seq"],
            {"state": "OVERWRITE", "amount": "SUM", "ts": "MAX", "seq": "IGNORE"},
            delete_col="deleted",
        ).collect()
    }
    assert set(out) == {1, 3}          # key 2 ends on a tombstone
    assert out[1]["amount"] == 5.0     # 2.0 + 3.0: SUM restarted after the wipe
    assert out[1]["state"] == "d"      # OVERWRITE sees only post-tombstone rows
    assert out[1]["seq"] == 13         # IGNORE keeps the first POST-tombstone writer
    assert out[1]["ts"] == 500
    assert out[3]["amount"] == 2.5     # untombstoned keys merge everything
    assert "deleted" not in out[1].asDict()
    # delete_col=None keeps the pre-existing behavior (all keys, full history)
    legacy = upsert.partial_upsert(
        df.drop("deleted"), ["user"], ["ts", "seq"],
        {"state": "OVERWRITE", "amount": "SUM", "ts": "MAX", "seq": "IGNORE"},
    )
    assert {r["user"] for r in legacy.collect()} == {1, 2, 3}


def test_salted_agg_matches_direct(spark):
    df = _upsert_fixture(spark)
    salted = {
        r["user"]: r
        for r in upsert.salted_agg(
            df, ["user"], {"n": ("count", "seq"), "total": ("sum", "amount"),
                           "lo": ("min", "amount"), "hi": ("max", "amount")}, n_salts=4
        ).collect()
    }
    direct = {
        r["user"]: r
        for r in df.groupBy("user")
        .agg(F.count("seq").alias("n"), F.sum("amount").alias("total"),
             F.min("amount").alias("lo"), F.max("amount").alias("hi"))
        .collect()
    }
    assert salted == direct


# -- TEXT_MATCH inverted-index analog (B13) ---------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import textmatch


def test_text_match_and_or_phrase(spark):
    df = spark.createDataFrame(
        [
            (1, "spark window join engine"),
            (2, "spark only here"),
            (3, "window join, no s-word"),
            (4, "fast sort inside"),
            (5, "sort fast reversed words"),
        ],
        "id long, text string",
    )
    ids = lambda q: {r["id"] for r in textmatch.text_match(df, "id", "text", q).collect()}
    assert ids("spark AND window AND join") == {1}
    assert ids("spark OR join") == {1, 2, 3}
    assert ids('"fast sort"') == {4}  # 5 has both words but not adjacent
    assert ids("engine") == {1}


def test_text_match_not_wildcard_fuzzy(spark):
    """Round-4 grammar breadth (VERDICT missing-item 2): NOT exclusion,
    * / ? wildcards, and ~N fuzzy terms — all postings algebra, matching
    Lucene QueryParser behavior for the flat-chain subset."""
    df = spark.createDataFrame(
        [
            (1, "spark window join engine"),
            (2, "spark only here"),
            (3, "window join, no s-word"),
            (4, "fast sort inside"),
            (5, "sort fast reversed words"),
            (6, "sparkly window dressing"),
        ],
        "id long, text string",
    )
    ids = lambda q: {r["id"] for r in textmatch.text_match(df, "id", "text", q).collect()}
    # NOT
    assert ids("window AND NOT join") == {6}
    assert ids("spark AND NOT engine") == {2}
    assert ids("NOT spark AND NOT window") == set()  # pure negative: Lucene = no match
    # wildcards
    assert ids("spark*") == {1, 2, 6}      # prefix: spark + sparkly
    assert ids("s?rt") == {4, 5}           # single-char wildcard: sort
    assert ids("spark* AND window") == {1, 6}
    assert ids("spark* AND NOT sparkly") == {1, 2}
    # fuzzy
    assert ids("sparc~1") == {1, 2}        # 1 edit from 'spark'
    assert ids("engime~") == {1}           # default max edits 2 (Lucene)
    assert ids("windoww~1 AND NOT join") == {6}
    # parser errors are loud, not silent misparses
    import pytest

    for bad in ("spark AND window OR join", "a OR NOT b", "spark AND NOT"):
        with pytest.raises(ValueError):
            textmatch.text_match(df, "id", "text", bad).collect()


def test_postings_are_distinct_pairs(spark):
    df = spark.createDataFrame([(1, "a a b A b")], "id long, text string")
    rows = textmatch.build_postings(df, "id", "text").collect()
    assert sorted((r["token"], r["id"]) for r in rows) == [("a", 1), ("b", 1)]


def test_phrase_match_respects_token_boundaries(spark):
    # ADVICE regression: [cat, bobcat, dog] joins to "cat bobcat dog", which
    # CONTAINS the substring "cat dog" across a token boundary — the phrase
    # check must space-pad so only true adjacency matches.
    df = spark.createDataFrame(
        [(1, "cat bobcat dog"), (2, "the cat dog show"), (3, "bobcat dog")],
        "id long, text string",
    )
    ids = {r["id"] for r in textmatch.text_match(df, "id", "text", '"cat dog"').collect()}
    assert ids == {2}


def test_persisted_text_index_serves_queries(spark):
    """The bucketed postings table answers the same queries as the inline
    path, its scan is bucket-laid-out (no exchange feeds the membership
    aggregate on the postings side), and phrases still verify adjacency."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.plans import audit_plan

    df = spark.createDataFrame(
        [
            (1, "spark window join engine"),
            (2, "spark only here"),
            (3, "window join, no s-word"),
            (4, "fast sort inside"),
            (5, "sort fast reversed words"),
        ],
        "id long, text string",
    )
    textmatch.persist_text_index(df, "id", "text", "tm_idx", num_buckets=4)
    try:
        served = lambda q: {
            r["id"]
            for r in textmatch.text_match_indexed(df, "id", "text", "tm_idx", q).collect()
        }
        inline = lambda q: {
            r["id"] for r in textmatch.text_match(df, "id", "text", q).collect()
        }
        for q in ("spark AND window AND join", "spark OR join", '"fast sort"', "engine"):
            assert served(q) == inline(q), q
        # plan property: the AND-membership aggregate on the postings side
        # must ride the token-bucket layout — no exchange between the index
        # scan and the groupBy(id)? The groupBy is on id (different key), so
        # assert instead that the token filter prunes buckets: the scan
        # carries PushedFilters on token.
        ids_plan = audit_plan(
            textmatch.matching_ids(spark.table("tm_idx"), "spark AND join")
        )
        assert ids_plan.pushed_filters  # token IN (...) reaches the bucketed scan
        assert not ids_plan.python_eval
    finally:
        spark.sql("DROP TABLE IF EXISTS tm_idx")


def test_bm25_is_lazy(spark):
    # VERDICT item 5: building the BM25 DataFrame must submit no Spark job
    # (round 1 collect()ed avgdl during construction).
    df = spark.createDataFrame(
        [(1, "spark engine"), (2, "engine room"), (3, "spark spark")],
        "id long, text string",
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    scored = textmatch.bm25_scores(df, "id", "text", "spark engine")
    after = set(tracker.getJobIdsForGroup(None))
    assert before == after, "constructing bm25_scores submitted a Spark job"
    assert scored.count() == 3  # and it still executes fine on action


# -- HLL sketch algebra (B20/B21) -------------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import sketch


def test_hll_estimate_accuracy(spark):
    # 5000 distinct values at p=12 (~1.6% stderr): estimate within 5%
    df = spark.range(5000).select((F.col("id") * 2654435761).alias("v"))
    sk = sketch.hll_sketch(df.withColumn("g", F.lit(1)), ["g"], "v", p=12)
    est = sk.select(sketch.hll_estimate("registers", p=12).alias("e")).collect()[0]["e"]
    assert abs(est - 5000) / 5000 < 0.05


def test_hll_merge_equals_whole(spark):
    # sketch(A) U sketch(B) has IDENTICAL registers to sketch(A U B) --
    # the mergeability property that lets per-day sketches roll up exactly
    df = spark.range(2000).select((F.col("id") * 40503).alias("v"))
    whole = sketch.hll_sketch(df.withColumn("g", F.lit(1)), ["g"], "v", p=8)
    parts = [
        sketch.hll_sketch(
            df.filter(F.col("v") % 2 == i).withColumn("g", F.lit(1)), ["g"], "v", p=8
        ).withColumnRenamed("registers", f"r{i}")
        for i in range(2)
    ]
    joined = parts[0].join(parts[1], "g")
    merged = joined.select(sketch.hll_merge(["r0", "r1"]).alias("registers")).collect()[0][
        "registers"
    ]
    assert merged == whole.collect()[0]["registers"]


def test_hll_intersection_inclusion_exclusion(spark):
    # A = 0..3000, B = 2000..5000 -> |A n B| = 1000; accept generous HLL error
    a = spark.range(0, 3000).select((F.col("id") * 7919).alias("v"), F.lit(1).alias("g"))
    b = spark.range(2000, 5000).select((F.col("id") * 7919).alias("v"), F.lit(1).alias("g"))
    ska = sketch.hll_sketch(a, ["g"], "v", p=12).withColumnRenamed("registers", "ra")
    skb = sketch.hll_sketch(b, ["g"], "v", p=12).withColumnRenamed("registers", "rb")
    est = (
        ska.join(skb, "g")
        .select(sketch.hll_intersect_estimate("ra", "rb", p=12).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(est - 1000) / 1000 < 0.25


# -- JSON index analog (B14) ------------------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import jsonindex


def test_json_postings_flatten_nested(spark):
    df = spark.createDataFrame(
        [(1, '{"a": 1, "b": {"c": [10, {"d": true}], "e": "x"}}')], "id long, j string"
    )
    rows = {(r["path"], r["value"]) for r in jsonindex.build_json_postings(df, "id", "j").collect()}
    assert rows == {
        ("$.a", "1"),
        ("$.b.c[0]", "10"),
        ("$.b.c[1].d", "true"),
        ("$.b.e", "x"),
    }


def test_json_match_ops(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, '{"k": 50}'), (3, '{"k": "high"}'), (4, '{"other": 5}')],
        "id long, j string",
    )
    ids = lambda p, op, v: {
        r["id"] for r in jsonindex.json_match(df, "id", "j", p, op, v).collect()
    }
    assert ids("$.k", "=", "5") == {1}
    assert ids("$.k", ">", "10") == {2}
    assert ids("$.k", "=", "high") == {3}
    assert ids("$.other", "<=", "5") == {4}


def test_json_match_extended_ops(spark):
    """Round-4 grammar breadth: IN, IS NOT NULL / IS NULL existence, the
    [*] array wildcard, and predicate conjunction — matching Pinot's
    JSON_MATCH forms beyond scalar comparisons."""
    df = spark.createDataFrame(
        [
            (1, '{"k": 5, "tags": ["a", "b"]}'),
            (2, '{"k": 50, "tags": ["b"]}'),
            (3, '{"k": 7, "opt": 1, "tags": []}'),
            (4, '{"other": 5, "opt": 2}'),
        ],
        "id long, j string",
    )
    ids = lambda p, op, v=None: {
        r["id"] for r in jsonindex.json_match(df, "id", "j", p, op, v).collect()
    }
    assert ids("$.k", "IN", ["5", "7"]) == {1, 3}
    assert ids("$.k", "!=", "5") == {2, 3}
    assert ids("$.opt", "IS NOT NULL") == {3, 4}
    assert ids("$.opt", "IS NULL") == {1, 2}
    assert ids("$.k", "IS NULL") == {4}
    assert ids("$.tags[*]", "=", "b") == {1, 2}
    assert ids("$.tags[*]", "=", "a") == {1}
    both = {
        r["id"]
        for r in jsonindex.json_match_all(
            df, "id", "j", [("$.k", ">=", "5"), ("$.tags[*]", "=", "b")]
        ).collect()
    }
    assert both == {1, 2}
    mixed = {
        r["id"]
        for r in jsonindex.json_match_all(
            df, "id", "j", [("$.k", "IS NOT NULL"), ("$.opt", "IS NULL")]
        ).collect()
    }
    assert mixed == {1, 2}
    import pytest

    with pytest.raises(ValueError):
        jsonindex.json_match(df, "id", "j", "$.k", "LIKE", "x")


def test_json_postings_level_cache_bounded_across_builds(spark):
    """Round 11: the inline flatten caches each level's variant_explode
    output (so the leaves union is not O(depth^2) re-evaluations), and the
    lifecycle releases the PREVIOUS build's caches at the next build — the
    owner never holds more than one build's worth.  Lineage stays intact,
    so a result from an earlier build still computes correctly after its
    caches were released (it just recomputes)."""
    df = spark.createDataFrame(
        [(1, '{"a": 1, "b": {"c": [10, {"d": true}], "e": "x"}}')], "id long, j string"
    )
    expected = {
        ("$.a", "1"),
        ("$.b.c[0]", "10"),
        ("$.b.c[1].d", "true"),
        ("$.b.e", "x"),
    }
    owner = dedup._PROCESS_CACHES
    p1 = jsonindex.build_json_postings(df, "id", "j")
    levels = sorted(k for k in owner if k.startswith("jsonindex.level"))
    # max_depth=4 caches every level but the last
    assert levels == ["jsonindex.level0", "jsonindex.level1", "jsonindex.level2"]
    first = [owner[k] for k in levels]
    n_keys = len(owner)
    p2 = jsonindex.build_json_postings(df, "id", "j")
    # bounded: the second build replaced (not appended to) the first's caches
    assert len(owner) == n_keys
    for k, old in zip(levels, first):
        assert owner[k] is not old and owner[k].is_cached and not old.is_cached
    assert {(r["path"], r["value"]) for r in p2.collect()} == expected
    # the first build's result survives its caches being unpersisted
    assert {(r["path"], r["value"]) for r in p1.collect()} == expected


def test_json_postings_build_leaves_no_session_view(spark):
    """The flatten passes each level's frontier to ``spark.sql`` as a
    DataFrame argument: no fixed-name view is left in the session catalog
    for a concurrent build to resolve against."""
    df = spark.createDataFrame([(1, '{"a": {"b": [1, 2]}}')], "id long, j string")
    out = jsonindex.build_json_postings(df, "id", "j")
    assert {(r["path"], r["value"]) for r in out.collect()} == {
        ("$.a.b[0]", "1"), ("$.a.b[1]", "2"),
    }
    assert "_json_frontier" not in {t.name for t in spark.catalog.listTables()}


def test_persisted_json_index_serves_predicates(spark):
    """The path-bucketed postings table answers the same predicates as the
    inline path, with the path filter pushed into the bucketed scan."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.plans import audit_plan

    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, '{"k": 50}'), (3, '{"k": "high"}'), (4, '{"other": 5}')],
        "id long, j string",
    )
    jsonindex.persist_json_index(df, "id", "j", "ji_idx", num_buckets=4)
    try:
        served = lambda p, op, v: {
            r["id"]
            for r in jsonindex.json_match_indexed(df, "id", "ji_idx", p, op, v).collect()
        }
        inline = lambda p, op, v: {
            r["id"] for r in jsonindex.json_match(df, "id", "j", p, op, v).collect()
        }
        for args in (("$.k", "=", "5"), ("$.k", ">", "10"), ("$.k", "=", "high"),
                     ("$.other", "<=", "5")):
            assert served(*args) == inline(*args), args
        ids_plan = audit_plan(
            spark.table("ji_idx").filter("path = '$.k'").select("id").distinct()
        )
        assert ids_plan.pushed_filters  # path predicate reaches the bucketed scan
        assert not ids_plan.python_eval
    finally:
        spark.sql("DROP TABLE IF EXISTS ji_idx")


# -- as-of join (C7) --------------------------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import asof


def test_asof_join_latest_prior_and_ties(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 10, "c")], "k long, t long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 10, 200.0), (1, 15, 300.0), (3, 1, 9.0)],
        "k long, t long, v double",
    )
    out = {
        (r["k"], r["t"]): r["v_asof"]
        for r in asof.asof_join(left, right, "t", ["k"], ["v"]).collect()
    }
    assert out[(1, 10)] == 200.0  # tie: right row at equal t is visible (>=)
    assert out[(1, 20)] == 300.0  # latest prior, not just any prior
    assert out[(2, 10)] is None   # no right rows for key 2


# -- DDSketch mergeable quantiles (B22) -------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import quantile_sketch as QS


def test_ddsketch_relative_error_bound(spark):
    # uniform 1..10000: p50/p95/p99 within the alpha=1% relative guarantee
    df = spark.range(1, 10001).select(F.col("id").cast("double").alias("v"), F.lit(1).alias("g"))
    sk = QS.dd_sketch(df, ["g"], "v", alpha=0.01)
    for q, true_v in ((0.5, 5000), (0.95, 9500), (0.99, 9900)):
        est = QS.dd_quantile(sk, ["g"], q, alpha=0.01).collect()[0][f"q{int(q*100)}"]
        assert abs(est - true_v) / true_v < 0.011, (q, est)


def test_ddsketch_merge_is_lossless(spark):
    # per-slice sketches merged == whole sketch (identical bucket counts)
    df = spark.range(1, 5001).select(F.col("id").cast("double").alias("v"), F.lit(1).alias("g"))
    whole = {(r["bucket"], r["n"]) for r in QS.dd_sketch(df, ["g"], "v").collect()}
    parts = [QS.dd_sketch(df.filter(F.col("id") % 2 == i), ["g"], "v") for i in range(2)]
    merged = {
        (r["bucket"], r["n"])
        for r in QS.dd_merge(parts[0].unionByName(parts[1]), ["g"]).collect()
    }
    assert merged == whole


def test_ddsketch_zero_and_negative(spark):
    df = spark.createDataFrame(
        [(-100.0,), (-1.0,), (0.0,), (1.0,), (100.0,)], "v double"
    ).withColumn("g", F.lit(1))
    sk = QS.dd_sketch(df, ["g"], "v", alpha=0.01)
    med = QS.dd_quantile(sk, ["g"], 0.5, alpha=0.01).collect()[0]["q50"]
    assert med == 0.0  # median of the symmetric set is the zero bucket


def test_ddsketch_zero_sorts_before_sub_one_positives(spark):
    # ADVICE regression: {0, 0.5, 0.5, 0.5} — q10 must hit the zero bucket,
    # not a positive sub-1 bucket (zero's sentinel sorts before them).
    df = spark.createDataFrame(
        [(0.0,), (0.5,), (0.5,), (0.5,)], "v double"
    ).withColumn("g", F.lit(1))
    sk = QS.dd_sketch(df, ["g"], "v", alpha=0.01)
    q10 = QS.dd_quantile(sk, ["g"], 0.10, alpha=0.01).collect()[0]["q10"]
    assert q10 == 0.0, q10
    q90 = QS.dd_quantile(sk, ["g"], 0.90, alpha=0.01).collect()[0]["q90"]
    assert abs(q90 - 0.5) / 0.5 < 0.011, q90


def test_ddsketch_near_one_values_keep_relative_error(spark):
    # ADVICE regression: values in (1/gamma, 1] used to conflate with the
    # zero bucket (representative 0.0 — 100% error); they must keep the
    # geometric-midpoint representative within alpha.
    df = spark.createDataFrame(
        [(0.99,), (1.0,), (0.995,)], "v double"
    ).withColumn("g", F.lit(1))
    sk = QS.dd_sketch(df, ["g"], "v", alpha=0.01)
    med = QS.dd_quantile(sk, ["g"], 0.5, alpha=0.01).collect()[0]["q50"]
    assert abs(med - 0.995) / 0.995 < 0.011, med


# -- KMV theta-sketch analog (B21) ------------------------------------------


def test_kmv_estimate_and_exact_small(spark):
    big = spark.range(10000).select((F.col("id") * 2654435761).alias("v"), F.lit(1).alias("g"))
    sk = sketch.kmv_sketch(big, ["g"], "v", k=256)
    est = sk.select(sketch.kmv_estimate("kmv", 256).alias("e")).collect()[0]["e"]
    assert abs(est - 10000) / 10000 < 0.15  # stderr ~ 1/sqrt(k-1) ~ 6%
    small = spark.range(50).select(F.col("id").alias("v"), F.lit(1).alias("g"))
    sk2 = sketch.kmv_sketch(small, ["g"], "v", k=256)
    assert sk2.select(sketch.kmv_estimate("kmv", 256).alias("e")).collect()[0]["e"] == 50.0


def test_kmv_union_lossless_and_intersection(spark):
    # A = 0..6000, B = 4000..10000, |A n B| = 2000
    a = spark.range(0, 6000).select((F.col("id") * 7919).alias("v"), F.lit(1).alias("g"))
    b = spark.range(4000, 10000).select((F.col("id") * 7919).alias("v"), F.lit(1).alias("g"))
    both = a.unionByName(b)
    ska = sketch.kmv_sketch(a, ["g"], "v", k=512).withColumnRenamed("kmv", "ka")
    skb = sketch.kmv_sketch(b, ["g"], "v", k=512).withColumnRenamed("kmv", "kb")
    whole = sketch.kmv_sketch(both, ["g"], "v", k=512).collect()[0]["kmv"]
    j = ska.join(skb, "g")
    merged = j.select(sketch.kmv_union("ka", "kb", 512).alias("u")).collect()[0]["u"]
    assert merged == whole  # merge == sketch-of-union, exactly
    est = j.select(sketch.kmv_intersect_estimate("ka", "kb", 512).alias("e")).collect()[0]["e"]
    assert abs(est - 2000) / 2000 < 0.25


def test_bm25_ranking_sanity(spark):
    # rarer term ('vector') outweighs frequent one; more occurrences rank higher
    df = spark.createDataFrame(
        [
            (1, "vector vector search"),
            (2, "vector search"),
            (3, "search search search"),
            (4, "unrelated text entirely"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r["score"] for r in textmatch.bm25_scores(df, "id", "text", "vector search").collect()}
    assert 4 not in rows            # no matching term -> no row
    assert rows[1] > rows[2] > 0    # double 'vector' beats single
    assert rows[2] > rows[3]        # rare term beats frequent term


def test_kmeans_refine_improves_assignment(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def mean_cos(cent):
        scored = emb.join(F.broadcast(cent), F.lit(True)).withColumn(
            "s", similarity.cosine(F.col("embedding"), F.col("c_vec"))
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cell_id"))
        best = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") == 1)
        return best.agg(F.avg("s")).collect()[0][0]

    cent0, _ = similarity.ivf_assign(emb, n_cells=4)
    cent3 = similarity.kmeans_refine(emb, cent0, iters=3)
    before, after = mean_cos(cent0), mean_cos(cent3)
    assert after >= before - 1e-9  # Lloyd's never degrades the objective
    assert cent3.count() == 4      # empty cells keep their old centroid


def test_sample_frames_fanout_shape(spark):
    df = spark.createDataFrame([(1, "x" * 300), (2, "y" * 10), (3, None)], "id long, t string")
    payloads = multimodal.attach_binary(df.filter(F.col("t").isNotNull()), "id", "t")
    rows = multimodal.sample_frames(payloads, frame_bytes=64, stride=128, max_frames=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 3   # offsets 0,128,256 < 300
    assert by_doc[1][2]["n_bytes"] == 300 - 256  # tail frame truncated
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_bytes"] == 10


# ---------------------------------------------------------------------------
# Frequent-items (heavy-hitters) mergeable summaries — operators/frequent.py
# ---------------------------------------------------------------------------


def _freq_frames(spark, rows, k):
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import frequent as fq

    df = spark.createDataFrame(rows, "seg long, item long")
    counts = fq.segment_counts(df, "seg", "item")
    kept, eps = fq.frequent_summaries(counts, k=k)
    merged = fq.frequent_merge(kept, eps)
    exact = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return merged.collect(), exact


def test_frequent_items_bounds_contain_truth(spark):
    # Skewed: item 1 heavy in both segments, long tail forces truncation.
    rows = [(s, 1) for s in (0, 1) for _ in range(20)]
    rows += [(s, i) for s in (0, 1) for i in range(2, 12) for _ in range(s + 1)]
    merged, exact = _freq_frames(spark, rows, k=3)
    assert merged, "summary must not be empty"
    for r in merged:
        assert r["lower"] <= exact[r["item"]] <= r["upper"], r


def test_frequent_items_no_missed_heavy(spark):
    # Any item with true count > total_eps must be stored in >= 1 segment
    # summary (Mergeable Summaries, PODS'12).
    rows = [(s, 1) for s in range(4) for _ in range(30)]          # true heavy
    rows += [(s, 10 + (s * 7 + i) % 9) for s in range(4) for i in range(18)]
    merged, exact = _freq_frames(spark, rows, k=2)
    total_eps = merged[0]["total_eps"]
    stored = {r["item"] for r in merged}
    for item, n in exact.items():
        if n > total_eps:
            assert item in stored, (item, n, total_eps)


def test_frequent_items_no_truncation_is_exact(spark):
    # k >= distinct items per segment => eps 0 everywhere, bounds collapse.
    rows = [(s, i) for s in (0, 1) for i in range(3) for _ in range(i + 1)]
    merged, exact = _freq_frames(spark, rows, k=10)
    for r in merged:
        assert r["lower"] == r["upper"] == exact[r["item"]]
        assert r["total_eps"] == 0


# ---------------------------------------------------------------------------
# Funnel aggregation family — operators/funnel.py
# ---------------------------------------------------------------------------


def _funnel(spark, rows, within=None):
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import funnel as fu

    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    state = fu.funnel_state(df, "user_id", "ts", "event_type",
                            ["view", "click", "purchase"], within=within)
    return {r["user_id"]: r for r in state.collect()}


def test_funnel_strict_order(spark):
    from datetime import datetime as dt

    t = lambda h: dt(2024, 1, 1, h)  # noqa: E731
    rows = [
        # u1 completes in order
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: purchase BEFORE click -> stops at click (step 2)
        (2, t(1), "view"), (2, t(2), "purchase"), (2, t(3), "click"),
        # u3: click before any view -> only the later view counts, step 1
        (3, t(1), "click"), (3, t(2), "view"),
        # u4: never views -> no state row at all (empty funnel entry)
        (4, t(1), "purchase"),
    ]
    st = _funnel(spark, rows)
    assert st[1]["max_step"] == 3
    assert st[2]["max_step"] == 2 and st[2]["t2"] == t(3)
    assert st[3]["max_step"] == 1 and st[3]["t1"] == t(2)
    assert st[4]["max_step"] == 0


def test_funnel_same_timestamp_does_not_advance(spark):
    from datetime import datetime as dt

    t = dt(2024, 1, 1, 12)
    st = _funnel(spark, [(1, t, "view"), (1, t, "click")])
    # click at ts == t1 is not strictly after the view event
    assert st[1]["max_step"] == 1


def test_funnel_window_bounds_later_steps(spark):
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1), "view"),
        (1, dt(2024, 1, 2), "click"),       # inside 3 days
        (1, dt(2024, 1, 10), "purchase"),   # outside -> blocked
        (2, dt(2024, 1, 1), "view"),
        (2, dt(2024, 1, 5), "click"),       # outside 3 days -> blocked
    ]
    st = _funnel(spark, rows, within="3 DAYS")
    assert st[1]["max_step"] == 2
    assert st[2]["max_step"] == 1
    # unwindowed control: both advance
    st2 = _funnel(spark, rows)
    assert st2[1]["max_step"] == 3 and st2[2]["max_step"] == 2


def test_geo_cell_bounds_cover_radius_circle():
    # Every point ON the 500 km circle (spherical destination formula) must
    # fall inside the covering cell range the query prunes with.
    import math

    from real_time_analytics_with_apache_pinot_on_aws_spark.queries import _geo_cell_bounds

    xmin, xmax, ymin, ymax = _geo_cell_bounds()
    lon0, lat0, r, cs = 2.3522, 48.8566, 500_000.0, 5.0
    d = r / 6371008.8
    p1, l1 = math.radians(lat0), math.radians(lon0)
    for deg in range(0, 360, 5):
        th = math.radians(deg)
        p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(th))
        l2 = l1 + math.atan2(
            math.sin(th) * math.sin(d) * math.cos(p1),
            math.cos(d) - math.sin(p1) * math.sin(p2),
        )
        lat2, lon2 = math.degrees(p2), math.degrees(l2)
        assert xmin <= math.floor(lon2 / cs) <= xmax, (deg, lon2)
        assert ymin <= math.floor(lat2 / cs) <= ymax, (deg, lat2)


# ---------------------------------------------------------------------------
# int8 scalar quantization ANN — operators/similarity.py
# ---------------------------------------------------------------------------


def test_quantize_bounds_and_reconstruction(spark):
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as sim

    rows = [(i, [((i * 37 + d * 13) % 200 - 100) / 25.0 for d in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scale_row = sim.quantization_scale(df).collect()[0]
    scale = scale_row["q_scale"]
    assert scale == max(abs(v) for _, vec in rows for v in vec)
    out = df.join(sim.quantization_scale(df)).select(
        "vec_id", sim.quantize(F.col("embedding"), F.col("q_scale")).alias("q")
    ).collect()
    by_id = {r["vec_id"]: r["q"] for r in out}
    for i, vec in rows:
        q = by_id[i]
        assert all(-127 <= c <= 127 for c in q)
        # reconstruction error bounded by half a quantization step
        for orig, qc in zip(vec, q):
            assert abs(orig - qc * scale / 127) <= scale / 127 / 2 + 1e-9


def test_quantized_topk_recall_on_synthetic(spark):
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as sim

    rows = [(i, [((i * 31 + d * 7) % 17 - 8) / 4.0 for d in range(24)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in sim.cosine_topk(df, q, k=5).collect()}
    quant = {(r["query_id"], r["neighbor_id"])
             for r in sim.quantized_topk(df, q, k=5, rerank=4).collect()}
    assert len(exact) == 15
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, recall


def test_persisted_minhash_index_probes_new_batches(spark):
    """Incremental near-dup dedup: a persisted (band, sig)-bucketed LSH index
    answers 'is this NEW batch already in the corpus?' without recomputing
    corpus signatures; the probe broadcasts the (small) batch side so the
    index scan crosses no exchange, and exact Jaccard verifies from the
    shingle sets stored ON the index rows."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.plans import audit_plan

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different text about spark and window joins"),
            (3, "yet another unrelated document mentioning parquet files"),
        ],
        "doc_id long, text string",
    )
    dedup.persist_minhash_index(corpus, "doc_id", "text", "mh_idx", num_buckets=4)
    try:
        batch = spark.createDataFrame(
            [
                (101, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of 1
                (102, "the quick brown fox jumps over the lazy dog at night"),  # near dup of 1
                (103, "a totally novel document with fresh content entirely"),  # new
            ],
            "doc_id long, text string",
        )
        hits = dedup.near_dup_probe(
            spark, "mh_idx", batch, "doc_id", "text", jaccard_threshold=0.5
        )
        got = {(r["batch_id"], r["corpus_id"]): r["jaccard"] for r in hits.collect()}
        assert got.get((101, 1)) == 1.0          # exact copy found at jaccard 1
        assert (102, 1) in got and got[(102, 1)] >= 0.5  # near dup found
        assert not any(b == 103 for b, _ in got)          # novel doc is clean
        # plan: the index side must not shuffle — the only exchange feeding
        # the join is the broadcast of the batch relation
        f = audit_plan(hits)
        assert f.broadcast_joins >= 1
        assert not f.python_eval and not f.cartesian
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_idx")


def test_analyzer_stemmer_spark_matches_python(spark):
    """The codegen EnglishMinimalStem expression must agree with the Python
    query-side stemmer on every token shape (the bit-for-bit contract that
    keeps corpus and query analysis consistent)."""
    from pyspark.sql import functions as F

    vocab = [
        "dogs", "dog", "glass", "corpus", "queries", "query", "ties",
        "churches", "goes", "windows", "ss", "s", "as", "is", "its",
        "aliases", "cities", "heroes", "pies", "buses", "yes", "axes",
        "gas", "this", "pass", "does", "shoes", "movies", "a", "",
    ]
    df = spark.createDataFrame([(w,) for w in vocab], "w string")
    got = {
        r["w"]: r["st"]
        for r in df.select(
            "w", textmatch._en_minimal_stem_col(F.col("w")).alias("st")
        ).collect()
    }
    want = {w: textmatch._en_minimal_stem(w) for w in vocab}
    assert got == want


def test_text_match_english_analyzer(spark):
    """ENGLISH analyzer chain (B13 depth, round-4 VERDICT missing-item 3):
    stopwords drop out of corpus AND query, plurals stem together, and the
    standard analyzer is unchanged by default."""
    df = spark.createDataFrame(
        [
            (1, "the spark engine runs many queries"),
            (2, "one query is enough"),
            (3, "unrelated text about windows"),
            (4, "The Window and the frame"),
        ],
        "id long, text string",
    )
    en = textmatch.ENGLISH
    ids = lambda q, a: {
        r["id"] for r in textmatch.text_match(df, "id", "text", q, analyzer=a).collect()
    }
    # 'queries' stems to 'query': matches docs 1 and 2 under ENGLISH
    assert ids("queries", en) == {1, 2}
    assert ids("query", en) == {1, 2}
    # standard analyzer keeps the surface forms distinct
    assert ids("queries", textmatch.STANDARD) == {1}
    # stopword-only difference: 'the window' == 'window' under ENGLISH
    assert ids("the AND window", en) == ids("windows", en) == {3, 4}
    # phrase with stopwords removed still verifies adjacency post-analysis
    assert ids('"the spark engine"', en) == {1}

    # case-sensitive config keeps 'Window' != 'window'
    cs = textmatch.analyzer_from_config({"caseSensitive": "true"})
    assert ids("Window", cs) == {4}
    assert ids("window", cs) == set()

    # config mapping: EnglishAnalyzer + include/exclude lists
    a = textmatch.analyzer_from_config(
        {
            "luceneAnalyzerClass": "org.apache.lucene.analysis.en.EnglishAnalyzer",
            "stopWordInclude": "spark",
            "stopWordExclude": "the",
        }
    )
    assert "spark" in a.stopwords and "the" not in a.stopwords and a.stem


def test_persisted_index_with_analyzer_roundtrip(spark):
    """persist_text_index + text_match_indexed honor the analyzer: the
    bucketed index stores STEMMED tokens, so an inflected query term hits."""
    df = spark.createDataFrame(
        [(1, "many running queries"), (2, "a single query"), (3, "nothing here")],
        "id long, text string",
    )
    name = "tm_en_idx"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        textmatch.persist_text_index(
            df, "id", "text", name, num_buckets=4, analyzer=textmatch.ENGLISH
        )
        out = textmatch.text_match_indexed(
            df, "id", "text", name, "queries", analyzer=textmatch.ENGLISH
        )
        assert {r["id"] for r in out.collect()} == {1, 2}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_case_sensitive_stop_lists_keep_their_case(spark):
    """Under caseSensitive=true, declared stop entries must match the
    case-preserved tokens the chain produces — lowercasing them would make
    the declaration silently inert (round-5 review)."""
    cs = textmatch.analyzer_from_config(
        {"caseSensitive": "true", "stopWordInclude": "DRAFT, The"}
    )
    assert {"DRAFT", "The"} <= cs.stopwords
    assert cs.analyze("The DRAFT plan") == ["plan"]
    # default (folding) analyzer still folds the declared entries
    folded = textmatch.analyzer_from_config({"stopWordInclude": "DRAFT"})
    assert "draft" in folded.stopwords and folded.analyze("DRAFT plan") == ["plan"]


def test_semantic_dedup_planted_copies(spark):
    """SemDeDup (cluster-then-prune): a direction-preserving scaled copy
    MUST land in its source's cell and drop to it (min-id survives); the
    untouched corpus stays whole; every drop carries its exact cosine."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    planted = (
        emb.orderBy("vec_id").limit(10)
        .select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
        )
    )
    res = S.semantic_dedup(emb.unionByName(planted), threshold=0.95, n_cells=8)
    rows = res.collect()
    n = emb.count()
    assert len(rows) == n + 10
    dropped = [r for r in rows if not r["kept"]]
    assert len(dropped) == 10
    # every drop is a planted copy evicted by exactly its source
    assert all(r["id"] >= 1_000_000 and r["dup_of"] == r["id"] - 1_000_000 for r in dropped)
    assert all(r["dup_score"] >= 0.95 for r in dropped)
    # kept/dropped partition the input
    assert sum(1 for r in rows if r["kept"]) == n


def test_semantic_dedup_pairwise_is_cell_bounded(spark):
    """The quadratic self-join must key on cell_id — never an unblocked
    corpus x corpus cross join (the 100 TB property)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        S.semantic_dedup(emb, threshold=0.95, n_cells=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "cell_id" in plan


def test_semantic_dedup_hoisted_norm_score_is_bit_equal_to_cosine(spark):
    """Round 11 hoists the per-row norms out of the quadratic pairwise stage
    (score = dot/(n_a*n_b) with norms projected per ROW).  That must be the
    bit-identical value of round(cosine(a,b), 6) — same ops, same order —
    so dup_score (and every >= threshold decision) is unchanged."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"),
                   S._norm(F.col("embedding")).alias("n_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"),
                   S._norm(F.col("embedding")).alias("n_b"))
    pairs = a.join(b, F.col("id_a") == F.col("id_b") + 1)
    rows = pairs.select(
        F.round(S.dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6)
        .alias("hoisted"),
        F.round(S.cosine(F.col("v_a"), F.col("v_b")), 6).alias("inline"),
    ).collect()
    assert rows and all(r["hoisted"] == r["inline"] for r in rows)


def test_dedup_representatives_checkpoints_edges_once(spark):
    """Round 11: the component loop must NOT re-evaluate the caller's pair
    pipeline every round (often the query's most expensive stage).  Pin via
    an accumulator-counting pair source:
    the edge materialization happens exactly once regardless of max_iter."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import dedup
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        acc.add(1)
        yield from it

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    ).repartition(1)
    pairs = base.rdd.mapPartitions(counting).toDF(base.schema)
    verts = spark.range(1, 8).select(F.col("id").alias("doc_id"))
    res = {
        r["id"]: r["representative"]
        for r in dedup.dedup_representatives(pairs, verts, max_iter=6).collect()
    }
    assert res[3] == 1 and res[6] == 5 and res[4] == 4
    # one evaluation for the (src,dst) union both directions = 2 partition
    # visits of the single-partition source; 6 rounds uncheckpointed would
    # have paid 12+.
    assert acc.value <= 2


def test_semantic_dedup_chain_collapses_to_one_representative(spark):
    """A similarity CHAIN a~b~c (a-c below threshold) must collapse to ONE
    kept representative with every eviction pointing at a KEPT row — the
    connected-component semantics (no dangling dup_of)."""
    import math

    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as S

    th = math.radians(14)  # cos(14°)≈0.970 >= 0.95, cos(28°)≈0.883 < 0.95
    rows = [
        (1, [1.0, 0.0]),
        (2, [math.cos(th), math.sin(th)]),
        (3, [math.cos(2 * th), math.sin(2 * th)]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    res = {r["id"]: r for r in S.semantic_dedup(df, threshold=0.95, n_cells=1).collect()}
    assert res[1]["kept"] and res[1]["dup_of"] is None
    assert not res[2]["kept"] and res[2]["dup_of"] == 1
    # 3 is only a DIRECT near-dup of 2, but the component representative is 1
    assert not res[3]["kept"] and res[3]["dup_of"] == 1
    # dup_score is the strongest direct edge, not the rep's cosine
    assert res[3]["dup_score"] >= 0.95


def test_semantic_dedup_builder_runs_no_spark_jobs(spark):
    """Components are resolved per cell inside the plan, so building the c23
    query must run no Spark job at all (the former corpus-wide label loop
    ran ~31 localCheckpoint/isEmpty jobs at build time)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark import queries as Q

    builder = Q.all_queries()["c23_semantic_dedup"].builder
    builder(spark, "/root/testdata/sf0.001")  # registers the views once
    sc = spark.sparkContext
    sc.setJobGroup("c23-build", "c23 build", False)
    try:
        df = builder(spark, "/root/testdata/sf0.001")
        jobs = sc.statusTracker().getJobIdsForGroup("c23-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert df.collect()[0]["planted_dropped_ok"]


def test_semantic_dedup_plan_has_no_checkpoint_scan(spark):
    """No localCheckpoint cut survives in the executed plan: components come
    from one grouped Arrow pass over each cell's edges."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        S.semantic_dedup(emb, threshold=0.95, n_cells=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ExistingRDD" not in plan
    assert "FlatMapGroupsInArrow" in plan


# -- line-level dedup (C24, CCNet/RefinedWeb boilerplate removal) ----------


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "unique alpha content here\nSHARED COOKIE BANNER LINE\nbody one"),
         (2, "different beta content\nSHARED COOKIE BANNER LINE\nbody two"),
         (3, "gamma only line here\nSHARED COOKIE BANNER LINE")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "unique alpha content here\nbody one"
    assert out[2]["clean_text"] == "different beta content\nbody two"
    assert out[3]["clean_text"] == "gamma only line here"
    assert all(out[k]["n_removed"] == 1 for k in (1, 2, 3))
    assert out[1]["n_lines"] == 3 and out[3]["n_lines"] == 2


def test_line_dedup_distinct_doc_count_not_occurrences(spark):
    """A line repeated many times inside ONE doc is repetition (C18's job),
    not cross-doc boilerplate — it must survive line_dedup."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "repeated inside this doc\nrepeated inside this doc\nunique tail"),
         (2, "completely unrelated content")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"].count("repeated inside this doc") == 2


def test_line_dedup_short_lines_immune_and_husks_kept(spark):
    """Lines under min_chars never enter the dictionary (skew valve: empty
    lines / '---' rules appear in every web document); a doc losing every
    line stays as an empty-text row for the caller to adjudicate."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "---\nSHARED FOOTER BOILERPLATE\nkeep this body line"),
         (2, "---\nSHARED FOOTER BOILERPLATE\nanother body line kept"),
         (3, "SHARED FOOTER BOILERPLATE")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "---\nkeep this body line"  # '---' in both docs but < min_chars
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1  # husk kept, flagged


def test_line_dedup_trim_normalization(spark):
    """'  footer  ' and 'footer' are the same boilerplate (indentation
    varies across pages); removal keys on the trimmed form but output
    preserves the original line text for survivors."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "   SHARED FOOTER TEXT   \n  indented survivor line"),
         (2, "SHARED FOOTER TEXT\nplain other body line")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "  indented survivor line"
    assert out[2]["clean_text"] == "plain other body line"


def test_line_dedup_dictionary_shuffles_only_hashes(spark):
    """The duplicated-line dictionary aggregates on xxhash64 keys: no plan
    should exchange the line text for the distinct-doc count (the reassembly
    exchange carries it once, keyed by doc)."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha body content line\nSHARED FOOTER LINE HERE"),
         (2, "beta body content line\nSHARED FOOTER LINE HERE")],
        "doc_id int, text string",
    )
    plan = D.line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    import re

    # the dictionary-side hash aggregate groups by the 8-byte hash column
    assert re.search(r"HashAggregate.*xxhash64|hashaggregate.*lh", plan, re.I | re.S)
    # and the dictionary BROADCASTS into the flagging join — a shuffle join
    # there would carry the full line text through a third exchange
    assert "BroadcastHashJoin" in plan


# -- exact-substring dedup (C25, EXACTSUBSTR analog) -----------------------


def test_exact_substring_dedup_removes_repeated_spans(spark):
    """A 5-gram shared by two docs is removed from BOTH, even when the
    surrounding text differs (invisible to doc-level and line-level dedup);
    covered tokens from overlapping repeated grams are removed once."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    span = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [(1, f"alpha starts here {span} then alpha continues onward"),
         (2, f"totally different opening {span} and a different tail"),
         (3, "no repeated content in this document at all")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.exact_substring_dedup(docs).collect()}
    for d in (1, 2):
        assert span not in out[d]["clean_text"]
        assert out[d]["n_removed"] == 5
    assert out[1]["clean_text"] == "alpha starts here then alpha continues onward"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "no repeated content in this document at all"


def test_exact_substring_dedup_intra_doc_repeats_count(spark):
    """Occurrences are counted corpus-wide INCLUDING within one document
    (the paper's definition): a doc that repeats its own 5-gram trips the
    threshold alone, and both copies are removed."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    span = "one two three four five"
    docs = spark.createDataFrame(
        [(1, f"{span} middle words sit here {span}"),
         (2, "unrelated second document body text")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.exact_substring_dedup(docs).collect()}
    assert out[1]["clean_text"] == "middle words sit here"
    assert out[1]["n_removed"] == 10
    assert out[2]["n_removed"] == 0


def test_exact_substring_dedup_short_docs_and_overlap(spark):
    """Docs shorter than k produce no grams (kept whole); overlapping
    repeated grams merge into one removed span, not double-counted."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    # 6-token shared span -> two overlapping repeated 5-grams covering 6 tokens
    span = "a b c d e f"
    docs = spark.createDataFrame(
        [(1, f"{span} unique tail one here now"),
         (2, f"{span} other ending entirely different words"),
         (3, "tiny doc")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.exact_substring_dedup(docs).collect()}
    assert out[1]["n_removed"] == 6 and out[2]["n_removed"] == 6
    assert out[3]["n_removed"] == 0 and out[3]["clean_text"] == "tiny doc"


def test_exact_substring_dedup_gram_hashing_is_map_side(spark):
    """Gram hashes come from a codegen transform over token offsets — no
    gram strings in any exchange, no Python; broadcast_dict=True (opt-in:
    the repeated-gram set is unbounded at web scale) pins the broadcast."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "w x y z u v unique one"), (2, "w x y z u v other two")],
        "doc_id int, text string",
    )
    out = D.exact_substring_dedup(docs, broadcast_dict=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "pythonudf" not in plan.lower()
    # and the default (shuffle dictionary join) returns identical results
    default = {
        r["doc_id"]: r["clean_text"]
        for r in D.exact_substring_dedup(docs).collect()
    }
    assert default == {r["doc_id"]: r["clean_text"] for r in out.collect()}


def test_exact_substring_dedup_hot_doc_merges_spans(spark):
    """A hot doc that is mostly ONE repeated gram has ~n covered starts but
    O(1) merged spans: the per-token mask is O(tokens x spans), not
    O(tokens x starts).  Pins the merged-span count via _merged_spans and
    the end-to-end result on the hot doc."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D
    from pyspark.sql import functions as F

    # 600 tokens of "spam" -> 596 repeated 5-gram starts, all contiguous
    hot = " ".join(["spam"] * 600) + " distinct suffix words here now"
    docs = spark.createDataFrame(
        [(1, hot), (2, "spam spam spam spam spam plus other body")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in D.exact_substring_dedup(docs).collect()}
    assert out[1]["clean_text"] == "distinct suffix words here now"
    assert out[1]["n_removed"] == 600
    assert out[2]["clean_text"] == "plus other body"

    # span merge: 596 contiguous starts fold to exactly 1 span; a gap
    # (start 700) opens a second span
    starts = list(range(1, 597)) + [700]
    row = (
        spark.createDataFrame([(starts,)], "starts array<int>")
        .select(D._merged_spans(F.array_sort("starts"), 5).alias("spans"))
        .first()
    )
    assert len(row["spans"]) == 2
    assert (row["spans"][0]["lo"], row["spans"][0]["hi"]) == (1, 600)
    assert (row["spans"][1]["lo"], row["spans"][1]["hi"]) == (700, 704)


def test_exact_substring_dedup_min_span_threshold(spark):
    """min_span_tokens is the paper's length gate: a short incidental
    repeat (exactly k tokens) survives, a long memorized span still goes."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.dedup as D

    short = "alpha beta gamma delta eps"                 # 5 tokens, repeated
    long_ = "one two three four five six seven eight nine ten"  # 10 tokens
    docs = spark.createDataFrame(
        [(1, f"{short} filler words here {long_}"),
         (2, f"{short} other middle junk {long_}")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r
           for r in D.exact_substring_dedup(docs, min_span_tokens=8).collect()}
    for d in (1, 2):
        # the 5-token repeat survives the 8-token gate; the 10-token goes
        assert short in out[d]["clean_text"]
        assert "one two three" not in out[d]["clean_text"]
        assert out[d]["n_removed"] == 10
    # default (None) removes both, matching the c25 oracle semantics
    strict = {r["doc_id"]: r
              for r in D.exact_substring_dedup(docs).collect()}
    assert strict[1]["n_removed"] == 15


# -- bigram LM perplexity filter (C26, CCNet quality stage) ----------------


def test_bigram_lm_scores_fluent_below_gibberish(spark):
    """Text made of the reference corpus's common bigrams scores lower
    avg_nll than text full of bigrams the reference never saw."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.curation as C

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the cat slept") for i in range(10)],
        "doc_id int, text string",
    )
    bc, uc, v = C.train_bigram_lm(ref)
    assert v == 7  # the cat sat on mat and slept
    probe = spark.createDataFrame(
        [(1, "the cat sat on the mat"),        # all seen bigrams
         (2, "zqx wvu tsr qpo nml kji")],      # all unseen
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in C.lm_nll_scores(probe, bc, uc, v).collect()}
    assert out[1]["avg_nll"] < out[2]["avg_nll"]
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 5
    # smoothing keeps the unseen-only doc finite
    import math

    assert math.isfinite(out[2]["avg_nll"])


def test_bigram_lm_smoothed_probability_exact(spark):
    """The smoothed probability is exactly (c12+a)/(c1+a*V) — checked by
    hand on a 2-bigram corpus."""
    import math

    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.curation as C

    ref = spark.createDataFrame([(1, "a b a b a")], "doc_id int, text string")
    bc, uc, v = C.train_bigram_lm(ref)
    assert v == 2
    out = C.lm_nll_scores(
        spark.createDataFrame([(9, "a b")], "doc_id int, text string"),
        bc, uc, v,
    ).collect()[0]
    # c(a,b)=2, c(a)=2 (as w1), V=2, alpha=.5 -> P = 2.5/3 -> nll = -ln(2.5/3)
    assert out["n_bigrams"] == 1
    assert abs(out["avg_nll"] - (-math.log(2.5 / 3.0))) < 1e-6


def test_bigram_lm_single_token_docs_score_empty(spark):
    """Docs with < 2 tokens have no bigrams and drop out of the score
    relation (callers left-join and decide their fate), not a crash."""
    import real_time_analytics_with_apache_pinot_on_aws_spark.operators.curation as C

    ref = spark.createDataFrame([(1, "x y x y")], "doc_id int, text string")
    bc, uc, v = C.train_bigram_lm(ref)
    probe = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, "x y")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in C.lm_nll_scores(probe, bc, uc, v).collect()}
    assert set(out) == {3}


# -- Tuple sketch (Integer-Sum) analog (B70) ---------------------------------


def test_tuple_sketch_exact_below_k(spark):
    """Below k the sketch IS the exact per-key table: distinct/sum/avg all
    exact, and per-key values are true sums across duplicate key rows."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "a", 5.0), (1, "b", 7.0), (1, "c", 3.0)],
        "g int, k string, v double",
    )
    sk = sketch.tuple_sketch(df, ["g"], "k", "v", k=64)
    row = sk.select(
        sketch.tuple_distinct_estimate("tuples", 64).alias("d"),
        sketch.tuple_sum_estimate("tuples", 64).alias("s"),
        sketch.tuple_avg_estimate("tuples", 64).alias("a"),
    ).collect()[0]
    assert row["d"] == 3.0
    assert row["s"] == 25.0            # (10+5) + 7 + 3
    assert abs(row["a"] - 25.0 / 3) < 1e-9


def test_tuple_sketch_estimates_at_scale(spark):
    """Above k: distinct and sum estimates land within KMV error bounds
    (stderr ~ 1/sqrt(k-1)); the retained state stays k entries."""
    n = 20000
    df = spark.range(n).select(
        F.lit(1).alias("g"),
        (F.col("id") * 2654435761).alias("k"),
        F.lit(2.5).alias("v"),
    )
    sk = sketch.tuple_sketch(df, ["g"], "k", "v", k=256)
    row = sk.select(
        F.size("tuples").alias("n"),
        sketch.tuple_distinct_estimate("tuples", 256).alias("d"),
        sketch.tuple_sum_estimate("tuples", 256).alias("s"),
        sketch.tuple_avg_estimate("tuples", 256).alias("a"),
    ).collect()[0]
    assert row["n"] == 256
    assert abs(row["d"] - n) / n < 0.2
    assert abs(row["s"] - n * 2.5) / (n * 2.5) < 0.2
    assert abs(row["a"] - 2.5) < 1e-9  # ratio estimator: exact here


def test_tuple_union_sums_duplicate_keys(spark):
    """The Integer-Sum union rule: a key present in both sketches keeps ONE
    entry whose value is the SUM; merge-then-estimate == sketch-of-union."""
    a = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0)], "g int, k string, v double"
    )
    b = spark.createDataFrame(
        [(1, "y", 5.0), (1, "z", 4.0)], "g int, k string, v double"
    )
    ska = sketch.tuple_sketch(a, ["g"], "k", "v", k=64).withColumnRenamed("tuples", "ta")
    skb = sketch.tuple_sketch(b, ["g"], "k", "v", k=64).withColumnRenamed("tuples", "tb")
    j = ska.join(skb, "g")
    merged = j.select(sketch.tuple_union("ta", "tb", 64).alias("u"))
    row = merged.select(
        F.size("u").alias("n"),
        sketch.tuple_distinct_estimate("u", 64).alias("d"),
        sketch.tuple_sum_estimate("u", 64).alias("s"),
    ).collect()[0]
    assert row["n"] == 3 and row["d"] == 3.0
    assert row["s"] == 12.0            # 1 + (2+5) + 4
    whole = sketch.tuple_sketch(
        a.unionByName(b), ["g"], "k", "v", k=64
    ).collect()[0]["tuples"]
    assert sorted(merged.collect()[0]["u"]) == sorted(whole)


def test_tuple_sketch_no_python_udf(spark):
    df = spark.createDataFrame([(1, "a", 1.0)], "g int, k string, v double")
    sk = sketch.tuple_sketch(df, ["g"], "k", "v", k=16)
    plan = sk.select(
        sketch.tuple_sum_estimate("tuples", 16).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "pythonudf" not in plan.lower()


# ---------------------------------------------------------------------------
# Round 12: Arrow kernels must be BIT-identical to the HOF folds they replace
# ---------------------------------------------------------------------------

import struct as _struct

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import (
    arrowkernels,
)


def _bits(x):
    return None if x is None else _struct.pack("<d", x)


def test_score_pairs_kernel_bit_equal_to_hof(spark):
    """arrowkernels.score_pairs replays dot/(norm*norm) in the fold's exact
    per-element order: every raw score over the fixture pair set must be
    BIT-identical to the interpreted ArrayAggregate expression."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a")).filter(
        "id_a < 30"
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    pairs = a.crossJoin(b)
    hof = pairs.select(
        "id_a", "id_b",
        (
            similarity.dot(F.col("v_a"), F.col("v_b"))
            / (similarity._norm(F.col("v_a")) * similarity._norm(F.col("v_b")))
        ).alias("raw"),
    )
    kern = arrowkernels.score_pairs(pairs)
    want = {(r.id_a, r.id_b): _bits(r.raw) for r in hof.collect()}
    got = {(r.id_a, r.id_b): _bits(r.raw) for r in kern.collect()}
    assert want == got and len(got) == 30 * 500


def test_score_pairs_kernel_null_and_ragged_rows(spark):
    """Slow path: a null vector or a length-mismatched pair must yield a
    NULL raw score, exactly like the zip_with null-padding fold."""
    df = spark.createDataFrame(
        [
            (1, 10, [1.0, 2.0], [3.0, 4.0]),
            (2, 20, None, [1.0, 1.0]),
            (3, 30, [1.0, 2.0, 3.0], [1.0, 1.0]),
        ],
        "id_a long, id_b long, v_a array<double>, v_b array<double>",
    )
    rows = {r.id_a: r.raw for r in arrowkernels.score_pairs(df).collect()}
    hof = {
        r.id_a: r.raw
        for r in df.select(
            "id_a",
            (
                similarity.dot(F.col("v_a"), F.col("v_b"))
                / (similarity._norm(F.col("v_a")) * similarity._norm(F.col("v_b")))
            ).alias("raw"),
        ).collect()
    }
    assert _bits(rows[1]) == _bits(hof[1])
    assert rows[2] is None and hof[2] is None
    assert rows[3] is None and hof[3] is None


def test_allpairs_kernel_matches_hof_join(spark):
    """The packed all-pairs kernel (grouped corpus x packed corpus) emits the
    same (id_a, id_b, rounded score) set as the former BroadcastNestedLoop
    join + interpreted fold, bit-for-bit on the scores."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    thr = 0.4
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"),
                   similarity._norm(F.col("embedding")).alias("n_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"),
                   similarity._norm(F.col("embedding")).alias("n_b"))
    old = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(
            similarity.dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6))
        .filter(F.col("score") >= thr)
        .select("id_a", "id_b", "score")
    )
    new = (
        arrowkernels.allpairs_scores(emb, "vec_id", "embedding", thr)
        .withColumn("score", F.round("raw", 6))
        .filter(F.col("score") >= thr)
        .select("id_a", "id_b", "score")
    )
    want = {(r.id_a, r.id_b): _bits(r.score) for r in old.collect()}
    got = {(r.id_a, r.id_b): _bits(r.score) for r in new.collect()}
    assert want == got and len(got) > 0


def test_allpairs_margin_keeps_roundup_boundary_pairs(spark):
    """The kernel's threshold-1e-6 pre-filter must NEVER drop a pair that
    HALF_UP rounding would keep: a raw cosine of 0.3999996 rounds to 0.4 and
    must survive; 0.3999993 rounds to 0.399999 and must not."""
    import math

    def vec(c):
        return [float(c), math.sqrt(1.0 - c * c)]

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, vec(0.3999996)), (30, vec(0.3999993))],
        "vec_id long, embedding array<double>",
    )
    out = (
        arrowkernels.allpairs_scores(df, "vec_id", "embedding", 0.4, groups=2)
        .withColumn("score", F.round("raw", 6))
        .filter(F.col("score") >= 0.4)
        .select("id_a", "id_b")
        .collect()
    )
    found = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in found
    assert (1, 30) not in found


def test_cellpairs_kernel_matches_hof_join(spark):
    """The per-cell packed kernel emits the same within-cell (id_a > id_b)
    thresholded pairs as the cell-keyed self-join + interpreted fold."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = emb.withColumn("cell_id", (F.col("vec_id") % 5).cast("int"))
    thr = 0.2
    a = assigned.select("cell_id", F.col("vec_id").alias("id_a"),
                        F.col("embedding").alias("v_a"),
                        similarity._norm(F.col("embedding")).alias("n_a"))
    b = assigned.select("cell_id", F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("v_b"),
                        similarity._norm(F.col("embedding")).alias("n_b"))
    old = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") > F.col("id_b"))
        .withColumn("score", F.round(
            similarity.dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6))
        .filter(F.col("score") >= thr)
        .select("id_a", "id_b", "score")
    )
    new = (
        arrowkernels.cellpairs_scores(assigned, "cell_id", "vec_id", "embedding", thr)
        .withColumn("score", F.round("raw", 6))
        .filter(F.col("score") >= thr)
        .select("id_a", "id_b", "score")
    )
    want = {(r.id_a, r.id_b): _bits(r.score) for r in old.collect()}
    got = {(r.id_a, r.id_b): _bits(r.score) for r in new.collect()}
    assert want == got and len(got) > 0


def test_packed_pair_scores_match_reattach_join(spark):
    """packed_pair_scores (gather vectors by id inside the kernel) must score
    a candidate list bit-identically to the former re-attach joins + fold,
    and must DROP candidates whose id is absent, like the inner joins did."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (17, 400), (5, 999999), (888888, 6)],
        "id_a long, id_b long",
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    old = (
        cand.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            (
                similarity.dot(F.col("v_a"), F.col("v_b"))
                / (similarity._norm(F.col("v_a")) * similarity._norm(F.col("v_b")))
            ).alias("raw"),
        )
    )
    new = arrowkernels.packed_pair_scores(cand, emb, "vec_id", "embedding")
    want = {(r.id_a, r.id_b): _bits(r.raw) for r in old.collect()}
    got = {(r.id_a, r.id_b): _bits(r.raw) for r in new.collect()}
    assert want == got
    assert len(got) == 3  # the two candidates with unknown ids dropped


def test_packed_pair_scores_empty_source_emits_no_rows(spark):
    """Candidates against an EMPTY packed source drop, like the inner
    re-attach joins did — no IndexError from gathering into zero rows."""
    cand = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert arrowkernels.packed_pair_scores(cand, empty, "vec_id", "embedding").count() == 0


def test_pair_kernels_zero_norm_rule_is_path_independent(spark):
    """A zero vector scores NaN, and a NaN score is never emitted as a pair.
    The fast NumPy path (clean input) and the slow scalar path (forced by a
    ragged row) must agree bit-for-bit on every pair and neither may emit a
    pair touching the zero vector."""
    rows = [
        (1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0]),
        (4, [-0.3, 0.9]), (5, [0.8, -0.2]),
    ]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ragged = spark.createDataFrame(
        rows + [(9, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )

    def cell_pairs(df):
        assigned = df.withColumn("cell_id", F.lit(0))
        out = arrowkernels.cellpairs_scores(assigned, "cell_id", "vec_id", "embedding", -1.0)
        return {(r.id_a, r.id_b): _bits(r.raw) for r in out.collect()}

    def all_pairs(df):
        out = arrowkernels.allpairs_scores(df, "vec_id", "embedding", -1.0, groups=2)
        return {(r.id_a, r.id_b): _bits(r.raw) for r in out.collect()}

    for kernel in (cell_pairs, all_pairs):
        fast, slow = kernel(clean), kernel(ragged)
        assert fast == slow, kernel.__name__
        # every pair of the four non-zero vectors survives (threshold -1)
        assert len(fast) == 6, kernel.__name__
        assert not any(3 in k or 9 in k for k in fast)
    # the scalar fold yields NaN, not ZeroDivisionError
    assert math.isnan(arrowkernels._scalar_cosine([0.0, 0.0], [1.0, 1.0]))


def test_band_sigs_udf_matches_hof_signatures(spark):
    """The Arrow signature kernel reproduces lsh_band_signatures bit-for-bit
    over the fixture corpus (every band, every row), and mirrors the fold's
    malformed-input behavior: null or TOO-SHORT vectors sign to 0 in every
    band (when(null > 0) falls to the 0 branch), never to null."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim, nbits, bands = 64, 4, 8
    hof = emb.select(
        "vec_id",
        similarity.lsh_band_signatures(F.col("embedding"), dim, nbits, bands).alias("s"),
    )
    kern = emb.select(
        "vec_id", arrowkernels.band_sigs_udf(dim, nbits, bands)(F.col("embedding")).alias("s")
    )
    want = {r.vec_id: [x["sig"] for x in r.s] for r in hof.collect()}
    got = {r.vec_id: list(r.s) for r in kern.collect()}
    assert want == got
    # malformed rows: null / short vectors -> all-zero signatures, like the fold
    edge = spark.createDataFrame(
        [(1, None), (2, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    ehof = edge.select(
        similarity.lsh_band_signatures(F.col("embedding"), dim, nbits, bands).alias("s")
    ).collect()
    ekern = edge.select(
        arrowkernels.band_sigs_udf(dim, nbits, bands)(F.col("embedding")).alias("s")
    ).collect()
    for h, k in zip(ehof, ekern):
        assert [x["sig"] for x in h.s] == list(k.s) == [0] * bands


def test_band_sigs_udf_signs_nan_projection_like_spark(spark):
    """A NaN component poisons every projection, and Spark orders NaN above
    every number (``NaN > 0`` is TRUE): the fold sets every bit, so the
    kernel must too."""
    dim, nbits, bands = 64, 4, 3
    df = spark.createDataFrame(
        [(1, [float("nan")] + [1.0] * (dim - 1))], "vec_id long, embedding array<double>"
    )
    hof = df.select(
        similarity.lsh_band_signatures(F.col("embedding"), dim, nbits, bands).alias("s")
    ).collect()[0]
    kern = df.select(
        arrowkernels.band_sigs_udf(dim, nbits, bands)(F.col("embedding")).alias("s")
    ).collect()[0]
    assert [x["sig"] for x in hof.s] == list(kern.s) == [2**nbits - 1] * bands


def test_band_sigs_kernel_survives_repeated_builds(spark):
    """Regression pin for the Spark 4.1 Python-UDF extraction hazard: a
    pandas UDF whose argument embeds a let-bound lambda is extracted on the
    FIRST build of a session only (later builds leave it in a plain Project
    -> INTERNAL_ERROR at run time).  The signature kernel's argument is a
    plain vector column, which must keep extracting — and executing — across
    repeated builds with HOF queries interleaved."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    udf = arrowkernels.band_sigs_udf(64, 4, 2)
    first = None
    for i in range(3):
        out = emb.select("vec_id", udf(F.col("embedding")).alias("s"))
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "ArrowEvalPython" in plan, f"build {i} lost UDF extraction"
        got = sorted((r.vec_id, tuple(r.s)) for r in out.collect())
        first = got if first is None else first
        assert got == first
        # interleave a HOF query (the trigger shape for the hazard)
        emb.limit(5).select(
            similarity._norm(F.col("embedding")).alias("n")
        ).collect()


def test_bm25_duplicate_query_terms_score_once(spark):
    """Round-12 ADVICE: a repeated query term (typed twice, or two words
    analyzed to the same token) must contribute once, like the pre-r11
    exploded shape — not double its tf through the entries explode."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import textmatch

    df = spark.createDataFrame(
        [(1, "spark engine spark"), (2, "vector engine")], "id long, text string"
    )
    once = {r["id"]: r["score"] for r in textmatch.bm25_scores(df, "id", "text", "spark engine").collect()}
    dup = {r["id"]: r["score"] for r in textmatch.bm25_scores(df, "id", "text", "spark engine spark").collect()}
    assert once == dup
