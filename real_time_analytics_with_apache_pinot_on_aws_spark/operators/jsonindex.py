"""JSON_MATCH analog (SURVEY §2.B B14): flattened path/value JSON index.

Pinot's ``JSON_MATCH(col, '"$.path" op value')`` consults a JSON index that
stores every flattened (json-path, value) pair per document **[P1.2]** (no
JSON index is configured in the reference deployment).  The relational
equivalent is a *postings* table ``(id, path, value)`` built by recursively
exploding the JSON — on Spark 4, natively via ``parse_json`` (variant) +
``variant_explode`` lateral joins, one level per iteration, no Python.

At 100 TB the postings persist bucketed by ``(path, value)`` so a
``JSON_MATCH`` predicate is a bucket-pruned semi-join, not a per-row JSON
parse of the whole corpus — same shape as operators/textmatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import lifecycle_cache


def build_json_postings(
    df: DataFrame, id_col: str, json_col: str, max_depth: int = 4
) -> DataFrame:
    """(id, path, value) for every scalar leaf, paths in ``$.a.b[0]`` form.

    Iterative breadth-first flatten: each level is one ``variant_explode``
    lateral join over the previous level's non-scalar nodes; scalar leaves
    accumulate.  ``max_depth`` bounds pathological nesting (Pinot's index has
    an equivalent ``maxLevels`` knob **[P1.2]**).
    """
    spark = df.sparkSession
    frontier = df.select(
        F.col(id_col).alias("id"),
        F.parse_json(F.col(json_col)).alias("v"),
        F.lit("$").alias("path"),
    )
    leaves: DataFrame | None = None
    for depth in range(max_depth):
        # DataFrame argument, not a named temp view: concurrent builds share
        # the session catalog, and a fixed view name would let one build
        # explode another's frontier.
        exploded = spark.sql(
            """
            SELECT id,
                   concat(path, CASE WHEN key IS NOT NULL THEN concat('.', key)
                                     ELSE concat('[', pos, ']') END) AS path,
                   e.value AS v,
                   schema_of_variant(e.value) AS _sch
            FROM {frontier}, LATERAL variant_explode(v) AS e
            """,
            frontier=frontier,
        )
        # Each level's explode output feeds TWO consumers (this level's
        # leaves + the next level's frontier), and the leaves of level k
        # otherwise re-run explodes 1..k when the union materializes —
        # O(depth^2) evaluations of the parse+explode pipeline.  Caching
        # every level but the last (whose output has a single consumer)
        # makes each explode run exactly once (round 11).  At persisted-
        # index scale the flatten is paid once at ingest
        # (:func:`persist_json_index`); this bounds the inline path.
        if depth < max_depth - 1:
            exploded = lifecycle_cache(exploded, f"jsonindex.level{depth}")
        is_nested = F.col("_sch").startswith("OBJECT<") | F.col("_sch").startswith("ARRAY<")
        level_leaves = exploded.filter(~is_nested).select(
            "id", "path", F.col("v").cast("string").alias("value")
        )
        leaves = level_leaves if leaves is None else leaves.unionByName(level_leaves)
        frontier = exploded.filter(is_nested).select("id", "v", "path")
    return leaves


# try_cast: non-numeric leaves yield NULL (predicate false) instead of an
# ANSI cast error — matches JSON-index semantics where a range predicate
# simply doesn't match non-numeric values.
_OPS = {
    "=": lambda v, lit: v == lit,
    "<>": lambda v, lit: v != lit,
    "!=": lambda v, lit: v != lit,
    ">": lambda v, lit: v.try_cast("double") > float(lit),
    ">=": lambda v, lit: v.try_cast("double") >= float(lit),
    "<": lambda v, lit: v.try_cast("double") < float(lit),
    "<=": lambda v, lit: v.try_cast("double") <= float(lit),
    # Pinot JSON_MATCH breadth **[P1.2]** (round 4):
    "IN": lambda v, lit: v.isin(list(lit)),
    "IS NOT NULL": lambda v, lit: F.lit(True),  # presence = any posting at path
}


def _path_pred(path: str):
    """Exact path equality, or a LIKE pattern when the path uses the
    ``[*]`` array wildcard (``$.tags[*]`` matches ``$.tags[0]``, ...) —
    Pinot's array-any semantics for JSON predicates **[P1.2]**.  Prefix
    LIKE keeps the (path)-bucketed index scan-pushable."""
    if "[*]" in path:
        return F.col("path").like(path.replace("[*]", "[%]"))
    return F.col("path") == path


def persist_json_index(
    df: DataFrame,
    id_col: str,
    json_col: str,
    index_table: str,
    num_buckets: int = 32,
    max_depth: int = 4,
) -> None:
    """Materialize the flattened (id, path, value) postings PATH-BUCKETED.

    The JSON-index persistence the inline path only documents: flattening
    (variant_explode levels) is paid once; a ``JSON_MATCH`` predicate then
    reads only hash(path)-selected buckets (paths are the low-cardinality
    axis; value predicates filter within the pruned buckets, sorted by
    (path, value) so range scans stay tight).  Rebuild per ingest batch,
    like Pinot refreshes per-segment JSON indexes.
    """
    from .. import catalog as _catalog

    postings = build_json_postings(df, id_col, json_col, max_depth)
    _catalog.write_bucketed(
        postings, index_table, ["path"], num_buckets=num_buckets,
        sort_cols=["path", "value"],
    )


def _matching_ids(postings: DataFrame, path: str, op: str, value) -> DataFrame:
    if op not in _OPS:
        raise ValueError(f"unsupported JSON_MATCH op {op!r} (supported: {sorted(_OPS)})")
    return (
        postings.filter(_path_pred(path))
        .filter(_OPS[op](F.col("value"), value))
        .select("id")
        .distinct()
    )


def json_match_indexed(
    df: DataFrame, id_col: str, index_table: str, path: str, op: str, value: str = None
) -> DataFrame:
    """JSON_MATCH served from a :func:`persist_json_index` table — the
    postings scan is bucket-pruned on ``path``, the semi-join id set is
    usually broadcast-sized."""
    spark = df.sparkSession
    if op == "IS NULL":
        absent = _matching_ids(spark.table(index_table), path, "IS NOT NULL", None)
        return df.join(absent.withColumnRenamed("id", id_col), id_col, "left_anti")
    ids = _matching_ids(spark.table(index_table), path, op, value)
    return df.join(ids.withColumnRenamed("id", id_col), id_col, "left_semi")


def json_match(
    df: DataFrame, id_col: str, json_col: str, path: str, op: str, value: str = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Rows whose JSON column matches ``path op value`` — postings semi-join.

    ``op`` in ``= <> != > >= < <= IN`` plus the existence forms
    ``IS NOT NULL`` / ``IS NULL`` (value ignored; IS NULL = anti-join on the
    postings-at-path set).  Numeric ops compare as double (Pinot's JSON
    index stores values as strings and compares numerically for range
    predicates **[P1.2]**); ``IN`` takes a list/tuple of strings; paths may
    use the ``[*]`` array wildcard (matches any index — Pinot's array-any
    semantics).  Callers with a persisted postings table filter it directly
    and semi-join; this convenience builds postings inline.

    ``postings`` (round 11): a caller evaluating SEVERAL predicates against
    the same documents can pass one shared (id, path, value) relation —
    typically ``lifecycle_cache(build_json_postings(...), key)`` — so the
    flatten is paid once instead of once per predicate (the probe side of
    the semi-join prunes the JSON column, so the index build is the whole
    per-call cost).
    The caller owns persistence; the contract is the exact output of
    :func:`build_json_postings` on the same (df, id_col, json_col).
    """
    if postings is None:
        postings = build_json_postings(df, id_col, json_col)
    if op == "IS NULL":
        absent = _matching_ids(postings, path, "IS NOT NULL", None)
        return df.join(absent.withColumnRenamed("id", id_col), id_col, "left_anti")
    ids = _matching_ids(postings, path, op, value)
    return df.join(ids.withColumnRenamed("id", id_col), id_col, "left_semi")


def json_match_all(
    df: DataFrame,
    id_col: str,
    json_col: str,
    predicates: list[tuple],
    postings: DataFrame | None = None,
) -> DataFrame:
    """Conjunction of JSON_MATCH predicates (Pinot: ``'"$.a"=1 AND "$.b">2'``).

    ``predicates`` = [(path, op, value), ...].  The postings relation is
    built ONCE; each positive predicate semi-joins its id set (bucket-pruned
    at scale), each ``IS NULL`` anti-joins — evaluation order keeps every
    join keyed on the doc id, so AQE typically broadcasts the (small)
    survivor sets.  ``postings`` (round 11): optional caller-shared postings
    relation, same contract as :func:`json_match`."""
    if postings is None:
        postings = build_json_postings(df, id_col, json_col)
    out = df
    for pred in predicates:
        path, op, *rest = pred  # existence forms may omit the value
        value = rest[0] if rest else None
        if op == "IS NULL":
            absent = _matching_ids(postings, path, "IS NOT NULL", None)
            out = out.join(absent.withColumnRenamed("id", id_col), id_col, "left_anti")
        else:
            ids = _matching_ids(postings, path, op, value)
            out = out.join(ids.withColumnRenamed("id", id_col), id_col, "left_semi")
    return out
