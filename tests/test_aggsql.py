"""Pinot aggregate SQL spellings through the wire surface (functions/
aggsql.py): the rewrite is exact text surgery (literal-safe, arity-
checked), and every rewritten name answers through Engine.query / the
broker with the value its Spark equivalent gives."""

from __future__ import annotations

import pytest

from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine
from real_time_analytics_with_apache_pinot_on_aws_spark.functions import sqltext
from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
    rewrite_pinot_aggregates as R,
)


@pytest.mark.parametrize(
    "src,want",
    [
        ("SELECT DISTINCTCOUNT(u) FROM t", "SELECT count(DISTINCT u) FROM t"),
        ("SELECT distinctcounthll(u, 12) FROM t",
         "SELECT greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0) FROM t"),
        ("SELECT PERCENTILE(v, 90) FROM t", "SELECT percentile(v, 0.9) FROM t"),
        # Spark-style fractional percentile is NOT re-scaled
        ("SELECT percentile(v, 0.5) FROM t", "SELECT percentile(v, 0.5) FROM t"),
        # Pinot-only percentile names ALWAYS treat the arg as a percent
        ("SELECT PERCENTILEEST(v, 0.5) FROM t", "SELECT approx_percentile(v, 0.005) FROM t"),
        ("SELECT FIRSTWITHTIME(v, ts, 'DOUBLE') FROM t", "SELECT min_by(v, ts) FROM t"),
        # Pinot ARG_MIN/ARG_MAX: (measure, projection) — REVERSED into min_by/max_by
        ("SELECT ARG_MIN(ts, v) FROM t", "SELECT min_by(v, ts) FROM t"),
        ("SELECT arg_max(ts, v) FROM t GROUP BY g", "SELECT max_by(v, ts) FROM t GROUP BY g"),
        ("SELECT MINMAXRANGE(v) FROM t GROUP BY g", "SELECT (max(v) - min(v)) FROM t GROUP BY g"),
        # a literal is data, not a call site
        ("SELECT 'DISTINCTCOUNT(u)' AS s FROM t", "SELECT 'DISTINCTCOUNT(u)' AS s FROM t"),
        # word boundary: a user function sharing the suffix is untouched
        ("SELECT MY_DISTINCTCOUNT(u) FROM t", "SELECT MY_DISTINCTCOUNT(u) FROM t"),
        # nested subquery arguments rewrite recursively
        (
            "SELECT x FROM (SELECT DISTINCTCOUNT(u) AS x FROM t)",
            "SELECT x FROM (SELECT count(DISTINCT u) AS x FROM t)",
        ),
    ],
)
def test_rewrite_text_cases(src, want):
    assert R(src) == want


def test_rewrite_arity_error_is_loud():
    with pytest.raises(ValueError, match="FIRSTWITHTIME"):
        R("SELECT FIRSTWITHTIME(v) FROM t")


def test_arg_min_multi_measure_rejected_loudly():
    with pytest.raises(ValueError, match="ARG_MIN.*multi-measure"):
        R("SELECT ARG_MIN(m1, m2, proj) FROM t")
    with pytest.raises(ValueError, match="ARG_MAX"):
        R("SELECT ARG_MAX(m) FROM t")


@pytest.fixture(scope="module")
def agg_engine(spark, tmp_path_factory):
    spark.range(100).selectExpr(
        "id % 7 AS u",
        "cast(id * 1.5 as double) AS v",
        "id AS t",
        "array(id % 3, id % 5) AS arr",
    ).createOrReplaceTempView("aggsrc")
    return Engine(spark, str(tmp_path_factory.mktemp("wh")))


@pytest.mark.parametrize(
    "pinot,spark_equiv",
    [
        ("DISTINCTCOUNT(u)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTBITMAP(u)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTHLL(u)", "greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0)"),
        ("DISTINCTCOUNTRAWHLL(u)", "greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0)"),
        ("DISTINCTSUM(u)", "sum(DISTINCT u)"),
        ("DISTINCTAVG(u)", "avg(DISTINCT u)"),
        ("MINMAXRANGE(v)", "max(v) - min(v)"),
        ("FIRSTWITHTIME(v, t, 'DOUBLE')", "min_by(v, t)"),
        ("LASTWITHTIME(v, t, 'DOUBLE')", "max_by(v, t)"),
        ("ARG_MIN(t, v)", "min_by(v, t)"),
        ("ARG_MAX(t, v)", "max_by(v, t)"),
        ("PERCENTILE(v, 90)", "percentile(v, 0.9)"),
        ("PERCENTILETDIGEST(v, 50)", "approx_percentile(v, 0.5)"),
        ("SUMPRECISION(v)", "sum(cast(v as decimal(38,18)))"),
        ("COUNTMV(arr)", "sum(size(arr))"),
        ("SUMMV(arr)", "sum(aggregate(arr, cast(0.0 as double), (a, x) -> a + x))"),
        ("MINMV(arr)", "min(array_min(arr))"),
        ("MAXMV(arr)", "max(array_max(arr))"),
        ("AVGMV(arr)",
         "sum(aggregate(arr, cast(0.0 as double), (a, x) -> a + x)) / sum(size(arr))"),
        ("DISTINCTCOUNTMV(arr)", "size(array_distinct(flatten(collect_set(arr))))"),
        ("MINMAXRANGEMV(arr)", "max(array_max(arr)) - min(array_min(arr))"),
    ],
)
def test_pinot_agg_values_match_spark_equivalents(spark, agg_engine, pinot, spark_equiv):
    got = agg_engine.query(f"SELECT {pinot} AS x FROM aggsrc").collect()[0]["x"]
    want = spark.sql(f"SELECT {spark_equiv} AS x FROM aggsrc").collect()[0]["x"]
    assert got == want, (pinot, got, want)


def test_pinot_agg_group_by_through_broker_envelope(agg_engine):
    """The dashboard shape end-to-end: Pinot aggregate spellings inside a
    GROUP BY through query_broker_response — the exact SQL a Pinot console
    sends to POST /query/sql."""
    resp = agg_engine.query_broker_response(
        "SELECT u, DISTINCTCOUNT(t) AS d, MINMAXRANGE(v) AS r, "
        "LASTWITHTIME(v, t, 'DOUBLE') AS last_v "
        "FROM aggsrc GROUP BY u ORDER BY u LIMIT 3"
    )
    assert resp["exceptions"] == []
    schema = resp["resultTable"]["dataSchema"]
    assert schema["columnNames"] == ["u", "d", "r", "last_v"]
    rows = resp["resultTable"]["rows"]
    assert len(rows) == 3 and rows[0][0] == 0
    assert all(r[1] >= 14 for r in rows)  # ~100/7 timestamps per group


def test_pinot_agg_rewrite_keeps_codegen(spark, agg_engine):
    plan = (
        agg_engine.query("SELECT u, DISTINCTCOUNT(t) AS d FROM aggsrc GROUP BY u")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "pythonudf" not in plan.lower()
    assert "HashAggregate" in plan


# -- scalar call-site rewrites (literal-typed) --------------------------------


@pytest.mark.parametrize(
    "q,want",
    [
        # EPOCH->EPOCH with granularity bucketing: 90061000 ms = 1501.016
        # min; 15-min buckets floor to 1500 epoch-minutes
        ("SELECT DATETIMECONVERT(90061000, '1:MILLISECONDS:EPOCH', "
         "'1:MINUTES:EPOCH', '15:MINUTES') AS x", 1500),
        ("SELECT DATETIMECONVERT(90061000, '1:MILLISECONDS:EPOCH', "
         "'1:SECONDS:EPOCH', '1:HOURS') AS x", 90000),
        # SDF in / SDF out: return type follows the OUT format
        ("SELECT DATETIMECONVERT('2024-06-01 10:47:00', "
         "'1:SECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm:ss', "
         "'1:DAYS:SIMPLE_DATE_FORMAT:yyyy-MM-dd', '1:DAYS') AS x",
         "2024-06-01"),
        ('SELECT JSONEXTRACTSCALAR(\'{"a": {"b": 7}}\', \'$.a.b\', \'INT\') AS x', 7),
        ('SELECT JSONEXTRACTSCALAR(\'{"a": 1}\', \'$.miss\', \'LONG\', 42) AS x', 42),
        ('SELECT JSONEXTRACTSCALAR(\'{"n": "bob"}\', \'$.n\', \'STRING\', \'none\') AS x', "bob"),
    ],
)
def test_literal_typed_scalar_rewrites(agg_engine, q, want):
    assert agg_engine.query(q).collect()[0]["x"] == want


def test_datetimeconvert_requires_literal_formats(agg_engine):
    with pytest.raises(Exception, match="literal"):
        agg_engine.query(
            "SELECT DATETIMECONVERT(t, some_col, '1:MINUTES:EPOCH', "
            "'15:MINUTES') AS x FROM aggsrc"
        )


@pytest.mark.parametrize(
    "q,want",
    [
        ("SELECT TIMECONVERT(90061000, 'MILLISECONDS', 'SECONDS') AS x", 90061),
        ("SELECT TIMECONVERT(25, 'HOURS', 'DAYS') AS x", 1),
        ("SELECT ST_X(ST_GEOGFROMTEXT('POINT (-71.06 42.36)')) AS x", -71.06),
        ("SELECT ST_ASTEXT(ST_POINT(1.5, 2.5)) AS x", "POINT (1.5 2.5)"),
        ('SELECT JSONPATHLONG(\'{"a": {"b": 7}}\', \'$.a.b\') AS x', 7),
        ('SELECT JSONPATHARRAY(\'{"t": ["x","y"]}\', \'$.t\') AS x', ["x", "y"]),
        ("SELECT ISSUBNETOF('192.168.0.0/24', '192.168.0.5') AS x", True),
        ("SELECT ISSUBNETOF('192.168.0.0/24', '192.168.1.5') AS x", False),
        ("SELECT ISSUBNETOF('0.0.0.0/0', '8.8.8.8') AS x", True),
        ("SELECT ISSUBNETOF('10.0.0.0/8', '11.0.0.1') AS x", False),
        ("SELECT ROUNDDECIMAL(1.2345, 2) AS x", 1.23),
        ("SELECT FROMUTF8(TOUTF8('héllo')) AS x", "héllo"),
        ("SELECT HEXSTR(TOUTF8('AB')) AS x", "4142"),
    ],
)
def test_pinot_exact_scalar_macros(agg_engine, q, want):
    assert agg_engine.query(q).collect()[0]["x"] == want


def test_st_distance_two_point_signature(agg_engine):
    # one degree of latitude on the mean sphere ~ 111.195 km
    got = agg_engine.query(
        "SELECT ST_DISTANCE(ST_POINT(0.0, 0.0), ST_POINT(0.0, 1.0)) AS x"
    ).collect()[0]["x"]
    assert abs(got - 111194.9) < 200


def test_straggler_pinot_spellings(agg_engine):
    """Round-6 battery stragglers: AGO (java.time.Duration parse — exactly
    the D/H/M/S subset Duration itself accepts), TEXTCONTAINS,
    REGEXPEXTRACT, ARRAYCONCAT*, TOJSONMAPSTR, DISTINCTCOUNTRAWHLL."""
    import time as _t

    r = agg_engine.query("SELECT AGO('P1DT2H') AS x").collect()[0]["x"]
    assert abs(r - (_t.time() - 93600) * 1000) < 60_000
    assert agg_engine.query(
        "SELECT TEXTCONTAINS('abc def', 'abc') AS x"
    ).collect()[0]["x"] is True
    assert agg_engine.query(
        "SELECT REGEXPEXTRACT('a1b2', '([0-9])') AS x"
    ).collect()[0]["x"] == "1"
    assert agg_engine.query(
        "SELECT ARRAYCONCATINT(array(1,2), array(3)) AS x"
    ).collect()[0]["x"] == [1, 2, 3]
    assert agg_engine.query(
        "SELECT TOJSONMAPSTR(map('a','1')) AS x"
    ).collect()[0]["x"] == '{"a":"1"}'
    assert agg_engine.query(
        "SELECT DISTINCTCOUNTRAWHLL(u) AS x FROM aggsrc"
    ).collect()[0]["x"] == 7


def test_round6_review_fixes():
    """Pins for the round-6 review findings on the rewriter."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    # backslash-escaped quote inside a literal: content never rewrites
    src = r"SELECT 'it\'s DISTINCTCOUNT(x) here' AS s"
    assert R(src) == src
    # Spark's 3-arg frequency-weighted percentile passes through untouched
    assert (
        R("SELECT percentile(v, 0.5, w) FROM t")
        == "SELECT percentile(v, 0.5, w) FROM t"
    )
    # zero-arg calls are loud, not silently rewritten to 'count(DISTINCT )'
    with pytest.raises(ValueError, match="0 argument"):
        R("SELECT DISTINCTCOUNT() FROM t")
    # JSON_MATCH paths containing ' and '/'_and_' parse (AND split is
    # double-quote aware)
    assert Engine._parse_json_match_expr('"$.click_and_view" = 1') == [
        ("$.click_and_view", "=", "1")
    ]
    # numGroupsLimit only fires on a TOP-LEVEL group-by
    assert sqltext.search("GROUP BY", "SELECT g FROM t GROUP BY g", top_level=True)
    assert not sqltext.search(
        "GROUP BY", "SELECT * FROM (SELECT g FROM t GROUP BY g) x", top_level=True
    )


def test_ago_signs_and_loud_errors(agg_engine):
    """AGO mirrors java.time.Duration.parse: per-component and
    whole-duration negation both work, and anything Duration.parse rejects
    (months, empty durations, garbage) raises instead of silently
    returning now-0 (round-6 review)."""
    import time as _t

    for iso in ("PT-6H", "-PT6H"):
        r = agg_engine.query(f"SELECT AGO('{iso}') AS x").collect()[0]["x"]
        assert abs(r - (_t.time() + 21600) * 1000) < 60_000, iso
    for bad in ("P1M", "PT", "garbage"):
        with pytest.raises(Exception):
            agg_engine.query(f"SELECT AGO('{bad}') AS x").collect()


def test_regexpextract_two_arg_returns_whole_match(agg_engine):
    assert agg_engine.query(
        "SELECT REGEXPEXTRACT('xabc42y', 'abc[0-9]+') AS x"
    ).collect()[0]["x"] == "abc42"
    assert agg_engine.query(
        "SELECT REGEXPEXTRACTGROUP('a1b2', '([a-z])([0-9])', 2) AS x"
    ).collect()[0]["x"] == "1"


def test_funnel_sql_spellings_match_funnel_state(spark, agg_engine):
    """FUNNELMAXSTEP / FUNNELMATCHSTEP / FUNNELCOMPLETECOUNT **[P1.2]** as
    SQL text: the emitted single-aggregate fold reproduces
    operators/funnel.funnel_state exactly — ordered-step advancement,
    strictly-after ordering, and the windowSize bound on every step after
    the first."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import funnel as FN

    rows = [
        (1, "2024-06-01 10:00:00", "view"),
        (1, "2024-06-01 10:05:00", "click"),
        (1, "2024-06-01 10:10:00", "buy"),
        (2, "2024-06-01 10:00:00", "view"),
        (2, "2024-06-01 09:00:00", "click"),   # click BEFORE view
        (3, "2024-06-01 10:00:00", "click"),   # never step 1
        (4, "2024-06-01 10:00:00", "view"),
        (4, "2024-06-03 10:00:00", "click"),   # outside the 1-day window
        (5, "2024-06-01 10:00:00", "view"),
        (5, "2024-06-01 10:00:00", "click"),   # same ts: NOT strictly after
    ]
    df = spark.createDataFrame(rows, "u int, ts string, ev string").selectExpr(
        "u", "cast(ts as timestamp) AS ts", "ev"
    )
    df.createOrReplaceTempView("fev")
    steps = ["view", "click", "buy"]
    want = {
        r["u"]: r["max_step"]
        for r in FN.funnel_state(df, "u", "ts", "ev", steps, within="1 DAY").collect()
    }
    got = {
        r["u"]: r["ms"]
        for r in agg_engine.query(
            "SELECT u, FUNNELMAXSTEP(ts, '86400000', 3, "
            "'ev = ''view''', 'ev = ''click''', 'ev = ''buy''') AS ms "
            "FROM fev GROUP BY u"
        ).collect()
    }
    # funnel_state only emits users with at least one matching event; the
    # SQL group-by sees the same groups here by construction
    assert got == want
    m = {
        r["u"]: (r["m"], r["c"])
        for r in agg_engine.query(
            "SELECT u, FUNNELMATCHSTEP(ts, '0', 2, 'ev = ''view''', "
            "'ev = ''click''') AS m, FUNNELCOMPLETECOUNT(ts, '0', 2, "
            "'ev = ''view''', 'ev = ''click''') AS c FROM fev GROUP BY u"
        ).collect()
    }
    assert m[1] == ([1, 1], 1)
    assert m[2] == ([1, 0], 0)          # order matters
    assert m[3] == ([0, 0], 0)
    assert m[4] == ([1, 1], 1)          # windowMs '0' disables the bound
    assert m[5] == ([1, 0], 0)          # same-ts is not strictly after
    # arity / literal validation is loud
    with pytest.raises(ValueError, match="numberSteps"):
        R("SELECT FUNNELMAXSTEP(ts, '0', 3, 'a=1') FROM t")
    with pytest.raises(ValueError, match="literal"):
        R("SELECT FUNNELMAXSTEP(ts, w, 1, 'a=1') FROM t")
    # trailing MODE literals parse: STRICT_INCREASE accepted, unknown loud
    assert "aggregate" in R(
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a=1', 'STRICT_INCREASE') FROM t"
    )
    with pytest.raises(ValueError, match="unsupported mode"):
        R("SELECT FUNNELMAXSTEP(ts, '0', 1, 'a=1', 'STRICT_ORDER') FROM t")


def test_funnel_complete_count_counts_every_completion(spark, agg_engine):
    """FUNNELCOMPLETECOUNT resets the funnel state after each completion
    (round-6 review): a group completing the funnel twice counts 2, not 1;
    non-matching events fold to dropped NULLs (bounded per-group memory)."""
    rows = [
        ("2024-06-01 10:00:00", "view", 1),
        ("2024-06-01 10:01:00", "click", 1),
        ("2024-06-01 11:00:00", "view", 1),
        ("2024-06-01 11:01:00", "click", 1),
        ("2024-06-01 10:00:00", "view", 2),
        ("2024-06-01 10:05:00", "click", 2),
        ("2024-06-01 10:00:00", "view", 3),
        ("2024-06-01 10:00:00", "other", 4),
    ]
    spark.createDataFrame(rows, "ts string, ev string, u int").selectExpr(
        "u", "cast(ts as timestamp) AS ts", "ev"
    ).createOrReplaceTempView("fev2")
    view_step = "'ev = ''view'''"
    click_step = "'ev = ''click'''"
    got = {
        r["u"]: r["c"]
        for r in agg_engine.query(
            "SELECT u, FUNNELCOMPLETECOUNT(ts, '0', 2, "
            + view_step + ", " + click_step + ") AS c FROM fev2 GROUP BY u"
        ).collect()
    }
    assert got == {1: 2, 2: 1, 3: 0, 4: 0}


# ---------------------------------------------------------------------------
# Statement-level *MV distinct route (round-7: bounded exploded plan)
# ---------------------------------------------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (  # noqa: E402
    rewrite_mv_distinct_statement as RMV,
)


@pytest.mark.parametrize(
    "src,want",
    [
        (
            "SELECT g, DISTINCTCOUNTHLLMV(tags) AS u FROM t GROUP BY g",
            "SELECT g, greatest(hll_sketch_estimate(hll_sketch_agg(__mv0_elem)), 0) AS u "
            "FROM t LATERAL VIEW OUTER POSEXPLODE(tags) __mv0 "
            "AS __mv0_pos, __mv0_elem GROUP BY g",
        ),
        # co-occurring wrappable aggregates see only the first exploded copy
        (
            "SELECT DISTINCTCOUNTMV(tags) AS v, COUNT(*) AS c FROM t",
            "SELECT count(DISTINCT __mv0_elem) AS v, "
            "COUNT(if(coalesce(__mv0_pos, 0) = 0, 1, null)) AS c "
            "FROM t LATERAL VIEW OUTER POSEXPLODE(tags) __mv0 "
            "AS __mv0_pos, __mv0_elem",
        ),
        # distinct-form aggregates are duplication-immune: not wrapped
        (
            "SELECT count(DISTINCT g), DISTINCTCOUNTMV(tags) FROM t",
            "SELECT count(DISTINCT g), count(DISTINCT __mv0_elem) "
            "FROM t LATERAL VIEW OUTER POSEXPLODE(tags) __mv0 "
            "AS __mv0_pos, __mv0_elem",
        ),
    ],
)
def test_mv_statement_route_text(src, want):
    assert RMV(src) == want


@pytest.mark.parametrize(
    "src",
    [
        # duplication-unsafe co-aggregate -> fallback expression path
        "SELECT PERCENTILE(v, 90), DISTINCTCOUNTMV(tags) FROM t",
        # shapes the route cannot restructure (round 8: joins and
        # scalar subqueries route; round 11: comma-FROM routes — a
        # comma list MIXED with explicit JOIN is the residual bail)
        "SELECT DISTINCTCOUNTMV(tags) FROM t, u JOIN w ON u.k = w.k",
        "SELECT DISTINCTCOUNTMV(tags) OVER () FROM t",
        "WITH c AS (SELECT 1) SELECT DISTINCTCOUNTMV(tags) FROM t",
        "SELECT DISTINCT g, DISTINCTCOUNTMV(tags) FROM t GROUP BY g",
        # no MV call at all
        "SELECT count(*) FROM t",
    ],
)
def test_mv_statement_route_bails(src):
    assert RMV(src) is None


@pytest.fixture(scope="module")
def mv_engine(spark, tmp_path_factory):
    # permuted / subsetted duplicate arrays: the round-6 verdict's
    # unbounded-state shape (collect_set of whole arrays would hold one
    # entry per permutation; the routed plan's state is one HLL sketch)
    spark.sql(
        """
        SELECT * FROM VALUES
         ('a', array(1,2,3), 10.0), ('a', array(3,2,1), 20.0),
         ('a', array(2,3), 5.0),   ('a', array(4,5), 1.0),
         ('b', array(7), 2.0),     ('b', array(), 3.0),
         ('b', cast(null as array<int>), 4.0)
         AS t(g, tags, amount)
        """
    ).createOrReplaceTempView("mvsrc")
    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    return Engine(spark, str(tmp_path_factory.mktemp("mvwh")))


def test_mv_route_values_match_exploded_exact(spark, mv_engine):
    """HLLMV estimate == exploded exact (within rsd; exact here at these
    cardinalities), MV == exact, and the wrapped co-aggregates are NOT
    inflated by the explode."""
    got = {
        r["g"]: r
        for r in mv_engine.query(
            "SELECT g, DISTINCTCOUNTHLLMV(tags) AS u, "
            "DISTINCTCOUNTMV(tags) AS v, COUNT(*) AS c, SUM(amount) AS s, "
            "MAX(amount) AS m FROM mvsrc GROUP BY g"
        ).collect()
    }
    want = {
        r["g"]: r
        for r in spark.sql(
            "SELECT g, count(DISTINCT e) AS exact "
            "FROM mvsrc LATERAL VIEW OUTER explode(tags) x AS e GROUP BY g"
        ).collect()
    }
    plain = {
        r["g"]: r
        for r in spark.sql(
            "SELECT g, count(*) AS c, sum(amount) AS s, max(amount) AS m "
            "FROM mvsrc GROUP BY g"
        ).collect()
    }
    for g in ("a", "b"):
        assert got[g]["u"] == want[g]["exact"]  # exact at this cardinality
        assert got[g]["v"] == want[g]["exact"]
        assert got[g]["c"] == plain[g]["c"]
        assert got[g]["s"] == plain[g]["s"]
        assert got[g]["m"] == plain[g]["m"]


def test_mv_route_plan_is_bounded(mv_engine):
    """The verdict's pin: no collect_set of whole arrays anywhere in the
    DISTINCTCOUNTHLLMV plan — the state is the HLL sketch over exploded
    elements (Generate + hll_sketch_agg)."""
    df = mv_engine.query(
        "SELECT g, DISTINCTCOUNTHLLMV(tags) AS u FROM mvsrc GROUP BY g"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan
    assert "hll_sketch_agg" in plan
    assert "Generate" in plan


def test_mv_fallback_expression_is_normalized(spark, mv_engine):
    """Unroutable shape (subquery): the call-site fallback fires, its
    collected arrays normalized (sorted+deduped) so permutations of one
    element set fold to ONE state entry — and the answer still matches."""
    df = mv_engine.query(
        "WITH f AS (SELECT * FROM mvsrc), f_keep AS (SELECT * FROM f) "
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM f GROUP BY g"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" in plan and "array_sort" in plan
    got = {r["g"]: r["v"] for r in df.collect()}
    assert got == {"a": 5, "b": 1}


@pytest.mark.parametrize(
    "co_agg",
    [
        "approx_top_k(g, 3)",
        "approx_top_k_accumulate(g)",
        "kll_sketch_agg_double(amount)",
        "kll_merge_agg_double(kll_sketch_agg_double(amount))",
    ],
)
def test_mv_route_bails_on_sketch_family_co_aggregates(co_agg):
    """Round-7 ADVICE: approx_top_k / kll_*_agg_* over POSEXPLODE-
    duplicated rows silently inflate — they must bail the route."""
    assert RMV(f"SELECT DISTINCTCOUNTMV(tags), {co_agg} FROM t") is None


def test_mv_route_unclassified_aggregate_fails_safe():
    """The catalog predicate: a call-site name the static tables don't
    know bails the route iff the predicate marks it an aggregate — so a
    future Spark aggregate (or a registered UDAF) degrades to the
    fallback expression instead of a silently inflated answer."""
    src = "SELECT DISTINCTCOUNTMV(tags), mystery_agg(v) FROM t"
    assert RMV(src, is_aggregate=lambda n: n == "mystery_agg") is None
    # scalar per the predicate: the route proceeds (analysis would catch
    # a truly-misclassified name via the analyze-or-original contract)
    assert RMV(src, is_aggregate=lambda n: False) is not None
    # classified names never consult the predicate
    ok = "SELECT DISTINCTCOUNTMV(tags), max(v) FROM t"
    assert RMV(ok, is_aggregate=lambda n: True) is not None


def test_engine_catalog_aggregate_predicate(mv_engine):
    assert mv_engine._is_catalog_aggregate("approx_top_k")
    assert mv_engine._is_catalog_aggregate("KLL_SKETCH_AGG_DOUBLE")
    assert mv_engine._is_catalog_aggregate("mode")
    assert not mv_engine._is_catalog_aggregate("upper")
    # engine SQL macros are positively known scalars
    assert not mv_engine._is_catalog_aggregate("DATETRUNC")
    # unresolvable names fail SAFE (the statement errors anyway)
    assert mv_engine._is_catalog_aggregate("no_such_function")


def test_mv_route_bails_on_registered_udaf(spark, mv_engine):
    """Round-8 review: a pandas GROUPED_AGG UDAF's className is an opaque
    lambda — it must count as an aggregate (bail) even though it is not
    under expressions.aggregate, and even when registered AFTER the
    engine's first catalog read."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    mv_engine._is_catalog_aggregate("upper")  # prime the cache first

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def my_udaf_sum(v):
        return float(v.sum())

    spark.udf.register("my_udaf_sum", my_udaf_sum)
    assert mv_engine._is_catalog_aggregate("my_udaf_sum")
    # the route must bail (no silent evaluation over duplicated rows);
    # execution of the resulting mixed statement is then up to Spark,
    # which rejects pandas-UDAF + builtin-aggregate mixes LOUDLY
    assert RMV(
        "SELECT g, DISTINCTCOUNTMV(tags) AS v, my_udaf_sum(amount) AS s "
        "FROM mvsrc GROUP BY g",
        is_aggregate=mv_engine._is_catalog_aggregate,
    ) is None
    # a grouped-agg UDAF alone still answers through the engine
    rows = {
        r["g"]: r["s"]
        for r in mv_engine.query(
            "SELECT g, my_udaf_sum(amount) AS s FROM mvsrc GROUP BY g"
        ).collect()
    }
    assert rows == {"a": 36.0, "b": 9.0}


def test_mv_with_approx_top_k_not_inflated(spark, mv_engine):
    """End-to-end on the ADVICE's exact shape: approx_top_k weights must
    match the un-exploded frame (the fallback path serves the MV count)."""
    got = mv_engine.query(
        "SELECT g, DISTINCTCOUNTMV(tags) AS v, approx_top_k(amount, 2) AS t "
        "FROM mvsrc GROUP BY g"
    ).collect()
    want_top = {
        r["g"]: r["t"]
        for r in spark.sql(
            "SELECT g, approx_top_k(amount, 2) AS t FROM mvsrc GROUP BY g"
        ).collect()
    }
    for r in got:
        assert r["t"] == want_top[r["g"]]
    assert {r["g"]: r["v"] for r in got} == {"a": 5, "b": 1}


def test_mv_tail_routed_values(spark, mv_engine):
    """Round-8 MV aggregate tail: DISTINCTSUMMV/DISTINCTAVGMV/
    DISTINCTCOUNTBITMAPMV/PERCENTILEMV through the statement route."""
    rows = {
        r["g"]: r
        for r in mv_engine.query(
            "SELECT g, DISTINCTSUMMV(tags) AS s, DISTINCTAVGMV(tags) AS a, "
            "DISTINCTCOUNTBITMAPMV(tags) AS b, PERCENTILEMV(tags, 50) AS p "
            "FROM mvsrc GROUP BY g"
        ).collect()
    }
    # g='a': distinct elements {1,2,3,4,5}; all occurrences sorted
    # 1,1,2,2,2,3,3,3,4,5 -> median 2.5
    assert rows["a"]["s"] == 15.0 and rows["a"]["a"] == 3.0
    assert rows["a"]["b"] == 5 and rows["a"]["p"] == 2.5
    # g='b': elements {7} (one occurrence)
    assert rows["b"]["s"] == 7.0 and rows["b"]["a"] == 7.0
    assert rows["b"]["b"] == 1 and rows["b"]["p"] == 7.0


def test_mv_raw_and_hllplus_spellings(spark, mv_engine):
    """Round-8 tail-of-the-tail: the RAW / HLL++ MV spellings Pinot 1.2
    also serves — routed to the one HLL estimator family (exact in the
    sparse regime this fixture sits in) with exact normalized-set
    fallbacks; RAW MV percentiles serve the estimate."""
    sel = (
        "SELECT g, DISTINCTCOUNTRAWHLLMV(tags) AS r1, "
        "DISTINCTCOUNTHLLPLUSMV(tags) AS r2, "
        "DISTINCTCOUNTRAWHLLPLUSMV(tags) AS r3, "
        "PERCENTILERAWESTMV(tags, 50) AS p "
        "FROM {src} GROUP BY g"
    )
    rows = {
        r["g"]: r for r in mv_engine.query(sel.format(src="mvsrc")).collect()
    }
    assert (rows["a"]["r1"], rows["a"]["r2"], rows["a"]["r3"]) == (5, 5, 5)
    assert (rows["b"]["r1"], rows["b"]["r2"], rows["b"]["r3"]) == (1, 1, 1)
    # approx_percentile answers an actual element (no interpolation):
    # sorted occurrences 1,1,2,2,2,3,3,3,4,5 -> 2
    assert rows["a"]["p"] == 2 and rows["b"]["p"] == 7
    # unroutable shape: distincts fall back exact, RAW percentile is loud
    fb = {
        r["g"]: r
        for r in mv_engine.query(
            "WITH f AS (SELECT * FROM mvsrc), f_keep AS (SELECT * FROM f) "
            "SELECT g, DISTINCTCOUNTRAWHLLMV(tags) AS r1, "
            "DISTINCTCOUNTHLLPLUSMV(tags) AS r2 "
            "FROM f GROUP BY g"
        ).collect()
    }
    assert (fb["a"]["r1"], fb["a"]["r2"]) == (5, 5)
    with pytest.raises(Exception, match="not routable"):
        mv_engine.query(
            "WITH f AS (SELECT * FROM mvsrc), f_keep AS (SELECT * FROM f) "
            "SELECT PERCENTILERAWKLLMV(tags, 90) FROM f"
        )


def test_mv_tail_fallback_matches_route(spark, mv_engine):
    """Unroutable shape (subquery): the normalized-set fallbacks serve
    SUM/AVG/BITMAP with identical values and types (double/double/int)."""
    sel = (
        "SELECT g, DISTINCTSUMMV(tags) AS s, DISTINCTAVGMV(tags) AS a, "
        "DISTINCTCOUNTBITMAPMV(tags) AS b, DISTINCTCOUNTMV(tags) AS d, "
        "DISTINCTCOUNTHLLMV(tags) AS h FROM {src} GROUP BY g"
    )
    routed = mv_engine.query(sel.format(src="mvsrc"))
    folded = mv_engine.query(sel.format(src="(SELECT * FROM mvsrc)"))
    assert routed.schema == folded.schema
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, folded.collect())
    )


def test_mv_tail_null_and_empty_groups(spark, mv_engine):
    """A group whose arrays are all empty/NULL: SUM/AVG are NULL on both
    paths (the fallback's NULL fold seed; the route's empty DISTINCT)."""
    spark.sql(
        "SELECT * FROM VALUES ('e', array()), ('e', cast(null as array<int>)) "
        "AS t(g, tags)"
    ).createOrReplaceTempView("mvempty")
    sel = (
        "SELECT g, DISTINCTSUMMV(tags) AS s, DISTINCTAVGMV(tags) AS a "
        "FROM {src} GROUP BY g"
    )
    for src in ("mvempty", "(SELECT * FROM mvempty)"):
        r = mv_engine.query(sel.format(src=src)).collect()[0]
        assert r["s"] is None and r["a"] is None, src


def test_mv_percentile_masked_against_second_explode(spark, mv_engine):
    """PERCENTILEMV co-occurring with an MV distinct on ANOTHER column:
    the percentile's elements must NOT be duplicated by the second
    explode (first-copy mask)."""
    spark.sql(
        "SELECT * FROM VALUES (array(1, 2, 3), array(10, 20, 30, 40)) "
        "AS t(xs, ys)"
    ).createOrReplaceTempView("mvtwo")
    r = mv_engine.query(
        "SELECT PERCENTILEMV(xs, 50) AS p, DISTINCTCOUNTMV(ys) AS d "
        "FROM mvtwo"
    ).collect()[0]
    # xs elements {1,2,3} median 2.0 — unmasked it would be 10 copies
    assert r["p"] == 2.0 and r["d"] == 4


def test_mv_percentile_unroutable_is_loud(mv_engine):
    with pytest.raises(Exception, match="not routable"):
        mv_engine.query(
            "WITH f AS (SELECT * FROM mvsrc), f_keep AS (SELECT * FROM f) "
            "SELECT PERCENTILEESTMV(tags, 90) FROM f"
        )


def test_mv_percentile_route_matches_explicit_explode(spark, mv_engine):
    got = {
        r["g"]: r["p"]
        for r in mv_engine.query(
            "SELECT g, PERCENTILEMV(tags, 75) AS p FROM mvsrc GROUP BY g"
        ).collect()
    }
    want = {
        r["g"]: r["p"]
        for r in spark.sql(
            "SELECT g, percentile(e, 0.75) AS p FROM mvsrc "
            "LATERAL VIEW OUTER explode(tags) x AS e GROUP BY g"
        ).collect()
    }
    assert got == want


def test_mv_route_scalar_subquery_shapes(spark, mv_engine):
    """Round-8 extension: uncorrelated scalar subqueries / IN / EXISTS
    route — their aggregates run in their own scope and are neither
    masked nor duplicated."""
    routed = RMV(
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM mvsrc "
        "WHERE amount > (SELECT min(amount) FROM mvsrc) GROUP BY g"
    )
    assert routed is not None and "LATERAL VIEW" in routed
    # the subquery's min() must NOT be wrapped in the first-copy mask
    assert "(SELECT min(amount) FROM mvsrc)" in routed
    got = {
        r["g"]: r["v"]
        for r in mv_engine.query(
            "SELECT g, DISTINCTCOUNTMV(tags) AS v, COUNT(*) AS c FROM mvsrc "
            "WHERE amount > (SELECT min(amount) FROM mvsrc) GROUP BY g"
        ).collect()
    }
    # min(amount) = 1.0 (g='a' row with tags [4,5]): that row filters out,
    # so 'a' keeps elements {1,2,3}
    assert got == {"a": 3, "b": 1}


def test_mv_route_in_subquery_shape(spark, mv_engine):
    got = mv_engine.query(
        "SELECT DISTINCTCOUNTMV(tags) AS v FROM mvsrc "
        "WHERE g IN (SELECT g FROM mvsrc WHERE amount > 2.5)"
    ).collect()[0]["v"]
    assert got == 6  # both groups qualify: {1,2,3,4,5} + {7}


def test_mv_route_mv_inside_subquery_bails():
    assert RMV(
        "SELECT g, max(amount) FROM mvsrc WHERE g IN "
        "(SELECT g FROM mvsrc GROUP BY g HAVING DISTINCTCOUNTMV(tags) > 2)"
    ) is None


def test_mv_route_single_join_text():
    routed = RMV(
        "SELECT d.name, DISTINCTCOUNTMV(t.tags) AS v, COUNT(*) AS c "
        "FROM t JOIN d ON t.g = d.g GROUP BY d.name"
    )
    assert routed is not None
    assert "ON t.g = d.g LATERAL VIEW OUTER POSEXPLODE(t.tags)" in routed
    # the LATERAL VIEW lands before a comment ending the relation, not
    # inside it
    assert RMV(
        "/* dashboard */ SELECT d.name, DISTINCTCOUNTMV(t.tags) AS v, "
        "COUNT(*) AS c FROM t JOIN d ON t.g = d.g -- on\nGROUP BY d.name"
    ) == "/* dashboard */ " + routed.replace(
        " GROUP BY d.name", " -- on\nGROUP BY d.name"
    )
    # a JOIN CHAIN routes too (round 10): the LATERAL VIEW attaches
    # after the LAST join and the whole relation re-emits verbatim
    chained = RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t JOIN d ON t.k = d.k "
        "LEFT JOIN e ON d.k = e.k"
    )
    assert chained is not None
    assert "ON d.k = e.k LATERAL VIEW OUTER POSEXPLODE(tags)" in chained
    # comma FROM routes since round 11 (the LATERAL VIEW attaches
    # after the LAST comma operand); so do USING and the ON-less
    # CROSS/NATURAL flavors — verbatim re-emission carries each
    # flavor's semantics for free
    assert "FROM t, d LATERAL VIEW" in RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t, d"
    )
    assert "d USING (k) LATERAL VIEW" in RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t JOIN d USING (k)"
    )
    assert "CROSS JOIN e LATERAL VIEW" in RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t JOIN d ON t.k = d.k "
        "CROSS JOIN e"
    )
    assert "NATURAL JOIN e LATERAL VIEW" in RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t JOIN d ON t.k = d.k "
        "NATURAL JOIN e"
    )
    # an invalid flavor/condition pairing keeps the fold (the original
    # then raises its own loud parse error)
    assert RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t CROSS JOIN d ON t.k = d.k"
    ) is None
    assert RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t NATURAL JOIN d USING (k)"
    ) is None
    assert RMV(
        "SELECT DISTINCTCOUNTMV(tags) FROM t JOIN d"
    ) is None


def test_mv_route_join_values(spark, mv_engine):
    """Explode after the join: counts match the closed-form over the
    joined relation; a LEFT JOIN's unmatched side is handled by the
    OUTER POSEXPLODE."""
    spark.sql(
        "SELECT * FROM VALUES ('a', 'alpha'), ('b', 'beta') AS d(g, name)"
    ).createOrReplaceTempView("mvdim")
    got = {
        r["name"]: (r["v"], r["c"])
        for r in mv_engine.query(
            "SELECT d.name, DISTINCTCOUNTMV(m.tags) AS v, COUNT(*) AS c "
            "FROM mvsrc m JOIN mvdim d ON m.g = d.g GROUP BY d.name"
        ).collect()
    }
    assert got == {"alpha": (5, 4), "beta": (1, 3)}
    left = {
        r["g"]: r["v"]
        for r in mv_engine.query(
            "SELECT m.g, DISTINCTCOUNTMV(m.tags) AS v FROM mvsrc m "
            "LEFT JOIN mvdim d ON m.g = d.g AND d.name = 'alpha' GROUP BY m.g"
        ).collect()
    }
    assert left == {"a": 5, "b": 1}


def test_mv_route_theta_sketch_aggs_are_immune(spark, mv_engine):
    """theta_sketch_agg is distinct-based: it may co-occur unwrapped and
    the routed estimate still matches the un-exploded frame."""
    routed = RMV("SELECT DISTINCTCOUNTMV(tags), theta_sketch_agg(g) FROM t")
    assert routed is not None and "theta_sketch_agg(g)" in routed
    got = mv_engine.query(
        "SELECT theta_sketch_estimate(theta_sketch_agg(g)) AS e, "
        "DISTINCTCOUNTMV(tags) AS v FROM mvsrc"
    ).collect()[0]
    assert got["e"] == 2 and got["v"] == 6


# ---------------------------------------------------------------------------
# FUNNELCOUNT (round-7: Pinot's primary funnel aggregate spelling)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def funnel_engine(spark, tmp_path_factory):
    spark.sql(
        """
        SELECT * FROM VALUES
         (1, 'view', 'a', 10.0), (1, 'cart', 'a', 20.0),
         (1, 'buy', 'a', 30.0),
         (2, 'view', 'a', 5.0), (2, 'cart', 'b', cast(null as double)),
         (3, 'view', 'b', 7.0),
         (4, 'cart', 'b', 40.0), (4, 'buy', 'a', 2.0),
         (5, 'view', 'b', 1.0), (5, 'buy', 'b', 3.0),
         (cast(null as int), 'view', 'a', 100.0)
         AS t(uid, ev, g, amt)
        """
    ).createOrReplaceTempView("funnelsrc")
    from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

    return Engine(spark, str(tmp_path_factory.mktemp("fcwh")))


def test_funnelcount_cumulative_intersection(funnel_engine):
    """Pinot bitmap-strategy semantics: count_i = |distinct correlators
    matching steps 1..i| (set intersection, no time ordering); NULL
    correlators excluded; SETTINGS accepted as a no-op hint."""
    rows = funnel_engine.query(
        "SELECT FUNNELCOUNT(STEPS(ev = 'view', ev = 'cart', ev = 'buy'), "
        "CORRELATE_BY(uid), SETTINGS('bitmap')) AS fc FROM funnelsrc"
    ).collect()
    # view: {1,2,3,5}; view&cart: {1,2}; view&cart&buy: {1}
    assert rows[0]["fc"] == [4, 2, 1]


def test_funnelcount_group_by(funnel_engine):
    rows = {
        r["parity"]: r["fc"]
        for r in funnel_engine.query(
            "SELECT uid % 2 AS parity, "
            "FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), CORRELATE_BY(uid)) "
            "AS fc FROM funnelsrc WHERE uid IS NOT NULL GROUP BY uid % 2"
        ).collect()
    }
    # odd uids {1,3,5}: view {1,3,5}, view&buy {1,5}; even {2,4}: view {2}, none
    assert rows[1] == [3, 2]
    assert rows[0] == [1, 0]


def test_funnelcount_binary_correlator_no_collision(spark, funnel_engine):
    """Round-7 ADVICE: X'80' and X'81' are both invalid UTF-8, so a plain
    string cast collapses them into one replacement-char key and merges
    their runs; the to_json/base64 key encoding keeps them distinct."""
    spark.sql(
        "SELECT * FROM VALUES (X'80', 'a'), (X'81', 'b') AS t(bk, ev)"
    ).createOrReplaceTempView("binfunnel")
    rows = funnel_engine.query(
        "WITH bf AS (SELECT * FROM binfunnel), bf_keep AS (SELECT * FROM bf) "
        "SELECT FUNNELCOUNT(STEPS(ev = 'a', ev = 'b'), CORRELATE_BY(bk)) "
        "AS fc FROM bf"  # WITH-CTE shape: exercises the FOLD
    ).collect()
    # two DISTINCT correlators: one matched step1 only, one step2 only —
    # a merged run would report [1, 1]
    assert rows[0]["fc"] == [1, 0]


def test_funnelcount_microsecond_timestamp_correlators(spark, funnel_engine):
    """Round-8 review: to_json's DEFAULT timestamp format truncates to
    milliseconds, merging sub-millisecond correlators — the explicit
    SSSSSS format keeps them distinct (Spark timestamps are exactly
    microsecond-precision)."""
    spark.sql(
        "SELECT * FROM VALUES "
        "(timestamp'2020-01-01 00:00:00.000001', 'a'), "
        "(timestamp'2020-01-01 00:00:00.000002', 'b') AS t(tk, ev)"
    ).createOrReplaceTempView("usfunnel")
    rows = funnel_engine.query(
        "WITH uf AS (SELECT * FROM usfunnel), uf_keep AS (SELECT * FROM uf) "
        "SELECT FUNNELCOUNT(STEPS(ev = 'a', ev = 'b'), CORRELATE_BY(tk)) "
        "AS fc FROM uf"  # WITH-CTE shape: the FOLD path
    ).collect()
    assert rows[0]["fc"] == [1, 0]


def test_mv_distinct_sum_dedups_at_native_type(spark, mv_engine):
    """Round-8 review: DISTINCT must run at the NATIVE element type —
    two bigints >= 2^53 that collapse to one double must still count/sum
    as TWO distinct elements, identically on route and fallback."""
    spark.sql(
        "SELECT * FROM VALUES (array(9007199254740993L, 9007199254740992L)) "
        "AS t(tags)"
    ).createOrReplaceTempView("mvbig")
    sel = "SELECT DISTINCTSUMMV(tags) AS s FROM {src}"
    routed = mv_engine.query(sel.format(src="mvbig")).collect()[0]["s"]
    folded = mv_engine.query(
        sel.format(src="(SELECT * FROM mvbig)")
    ).collect()[0]["s"]
    assert routed == folded == float(9007199254740993 + 9007199254740992)


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("FUNNELCOUNT(STEPS(ev='a'))", "CORRELATE_BY"),
        ("FUNNELCOUNT(CORRELATE_BY(uid))", "STEPS"),
        ("FUNNELCOUNT(STEPS(), CORRELATE_BY(uid))", "predicate"),
        ("FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(uid, ev))", "one column"),
        ("FUNNELCOUNT(WINDOW(1), CORRELATE_BY(uid))", "unknown clause"),
    ],
)
def test_funnelcount_loud_errors(bad, msg):
    with pytest.raises(ValueError, match=msg):
        R(f"SELECT {bad} FROM t")


# ---------------------------------------------------------------------------
# Keyed two-level statement route (round 8): FUNNELCOUNT + tuple values
# ---------------------------------------------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (  # noqa: E402
    rewrite_keyed_agg_statement as RKA,
)


def test_keyed_route_text_funnelcount_group_by():
    routed = RKA(
        "SELECT g, FUNNELCOUNT(STEPS(ev = 'a', ev = 'b'), "
        "CORRELATE_BY(uid)) AS fc FROM t WHERE d > 1 GROUP BY g "
        "ORDER BY g LIMIT 5"
    )
    assert routed == (
        "SELECT g, "
        "array(coalesce(sum(if(__fc_k IS NOT NULL AND __fc0_s1, 1, 0)), 0), "
        "coalesce(sum(if(__fc_k IS NOT NULL AND __fc0_s1 AND __fc0_s2, "
        "1, 0)), 0)) AS fc "
        "FROM (SELECT g, (uid) AS __fc_k, "
        "bool_or(coalesce((ev = 'a'), false)) AS __fc0_s1, "
        "bool_or(coalesce((ev = 'b'), false)) AS __fc0_s2 "
        "FROM t WHERE d > 1 GROUP BY g, (uid)) __fc "
        "GROUP BY g ORDER BY g LIMIT 5"
    )
    # a leading comment stays where it was; a line comment ending the
    # WHERE clause goes with the FROM ... WHERE text the route replaces
    src = (
        "SELECT g, FUNNELCOUNT(STEPS(ev = 'a', ev = 'b'), "
        "CORRELATE_BY(uid)) AS fc FROM t WHERE d > 1 GROUP BY g "
        "ORDER BY g LIMIT 5"
    )
    assert RKA("/* dashboard */ " + src) == "/* dashboard */ " + routed
    assert RKA(src.replace(" GROUP BY g", " -- big\nGROUP BY g")) == routed
    assert RKA(
        src.replace("FROM t", "FROM t JOIN d ON t.k = d.k -- on\n")
    ) == routed.replace("FROM t", "FROM t JOIN d ON t.k = d.k")


def test_keyed_route_text_tuple_values_share_key():
    routed = RKA(
        "SELECT SUMVALUESINTEGERSUMTUPLESKETCH(k, v) AS s, "
        "AVGVALUEINTEGERSUMTUPLESKETCH(k, v) AS a FROM t"
    )
    # inner sums run at the NATIVE value type (round-8 review: a double
    # cast before the inner sum collapsed exact int64 sums above 2^53);
    # the double cast happens once, on the outer level
    assert routed == (
        "SELECT cast(sum(__fc0_v) as double) AS s, "
        "cast(avg(__fc1_v) as double) AS a "
        "FROM (SELECT (k) AS __fc_k, sum((v)) AS __fc0_v, "
        "sum((v)) AS __fc1_v FROM t GROUP BY (k)) __fc "
    )


@pytest.mark.parametrize(
    "src",
    [
        # shapes the route cannot restructure
        "WITH s AS (SELECT 1) SELECT FUNNELCOUNT(STEPS(ev='a'), "
        "CORRELATE_BY(u)) FROM t",
        "SELECT FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) "
        "FROM t, d JOIN w ON d.k = w.k",
        "WITH c AS (SELECT 1) SELECT FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t",
        # co-occurring NON-decomposable aggregates keep the fallback
        "SELECT stddev(x), FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t",
        "SELECT DISTINCTCOUNTMV(tags), SUMVALUESINTEGERSUMTUPLESKETCH(k, v) FROM t",
        # decomposition-breaking shapes of otherwise-decomposable co-aggs
        "SELECT count(DISTINCT x), FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t",
        # FILTER preds with a subquery keep the fold (span bookkeeping)
        "SELECT count(*) FILTER (WHERE g IN (SELECT g FROM d)), "
        "FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t",
        "SELECT sum(cast(x as decimal(20,2))), "
        "FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t",
        # min(a, b) is invalid SQL, but min((a, b)) would be a VALID
        # struct-min: wrapping must not silently serve the broken original
        "SELECT min(a, b), FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t",
        # GROUP BY ordinal naming an AGGREGATE select item: the
        # original's own error class — keep the fallback (plain/expr
        # ordinals route since round 10, see the groupexpr tests)
        "SELECT FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t GROUP BY 1",
        # different key expressions cannot share one inner grouping
        "SELECT SUMVALUESINTEGERSUMTUPLESKETCH(k1, v), "
        "SUMVALUESINTEGERSUMTUPLESKETCH(k2, v) FROM t",
        # window/rollup anywhere
        "SELECT FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)), row_number() OVER (ORDER BY g) FROM t",
        # no target at all
        "SELECT count(*) FROM t",
    ],
)
def test_keyed_route_bails(src):
    assert RKA(src) is None


def test_keyed_route_unclassified_aggregate_fails_safe():
    src = (
        "SELECT FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)), "
        "mystery_agg(v) FROM t"
    )
    assert RKA(src, is_aggregate=lambda n: n == "mystery_agg") is None
    assert RKA(src, is_aggregate=lambda n: False) is not None
    # scalar calls inside STEPS never consult the bail path
    ok = "SELECT FUNNELCOUNT(STEPS(lower(ev)='a'), CORRELATE_BY(u)) FROM t"
    assert RKA(ok, is_aggregate=lambda n: n != "lower") is not None


def test_funnelcount_routed_plan_is_bounded(funnel_engine):
    """Round-8 pin: the routed FUNNELCOUNT plan has NO collect_set /
    sort_array state — two hash aggregates only."""
    df = funnel_engine.query(
        "SELECT FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(uid)) AS fc FROM funnelsrc"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "aggregate(" not in plan
    # Catalyst rewrites bool_or(x) to max(x) over booleans — either
    # spelling is the bounded per-key flag state
    assert "bool_or" in plan or "max((ev" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels


def test_funnelcount_route_matches_fold(funnel_engine):
    """Route and fold must agree exactly — same statement, forced down
    each path via the subquery (fold) vs flat (route) shape."""
    fc = (
        "FUNNELCOUNT(STEPS(ev = 'view', ev = 'cart', ev = 'buy'), "
        "CORRELATE_BY(uid)) AS fc"
    )
    routed = funnel_engine.query(
        f"SELECT {fc} FROM funnelsrc"
    ).collect()[0]["fc"]
    folded = funnel_engine.query(
        f"WITH f AS (SELECT * FROM funnelsrc), f_keep AS (SELECT * FROM f) SELECT {fc} FROM f"
    ).collect()[0]["fc"]
    assert routed == folded == [4, 2, 1]


def test_funnelcount_route_null_only_group_still_emitted(spark, funnel_engine):
    """A group whose correlators are ALL NULL must still appear with
    zero counts (the route must not filter NULL keys in the inner
    WHERE), exactly like the fold."""
    spark.sql(
        "SELECT * FROM VALUES ('x', 1, 'a'), ('y', cast(null as int), 'a') "
        "AS t(g, u, ev)"
    ).createOrReplaceTempView("nullgrpfunnel")
    stmt = (
        "SELECT g, FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) AS fc "
        "FROM {src} GROUP BY g"
    )
    routed = {
        r["g"]: r["fc"]
        for r in funnel_engine.query(stmt.format(src="nullgrpfunnel")).collect()
    }
    folded = {
        r["g"]: r["fc"]
        for r in funnel_engine.query(
            stmt.format(src="(SELECT * FROM nullgrpfunnel)")
        ).collect()
    }
    assert routed == folded == {"x": [1], "y": [0]}


@pytest.fixture(scope="module")
def tuple_engine(spark, tmp_path_factory):
    spark.sql(
        """
        SELECT * FROM VALUES
         ('a', 'k1', 1), ('a', 'k1', 2), ('a', 'k2', 10),
         ('b', 'k1', 5), ('b', 'k3', 7), ('b', 'k3', 1)
         AS t(g, k, v)
        """
    ).createOrReplaceTempView("tuplesrc")
    return Engine(spark, str(tmp_path_factory.mktemp("tvwh")))


def test_tuple_value_aggregates_routed_exact(tuple_engine):
    """The 2-arg relational spelling routes to exact per-key sums — the
    quantity the Integer-Sum Tuple sketch estimates."""
    rows = {
        r["g"]: r
        for r in tuple_engine.query(
            "SELECT g, SUMVALUESINTEGERSUMTUPLESKETCH(k, v) AS s, "
            "AVGVALUEINTEGERSUMTUPLESKETCH(k, v) AS a "
            "FROM tuplesrc GROUP BY g"
        ).collect()
    }
    # a: k1=3, k2=10 -> sum 13, avg 6.5; b: k1=5, k3=8 -> sum 13, avg 6.5
    assert rows["a"]["s"] == 13.0 and rows["a"]["a"] == 6.5
    assert rows["b"]["s"] == 13.0 and rows["b"]["a"] == 6.5


def test_tuple_value_matches_operator_estimate(spark, tuple_engine):
    """Routed exact answer == operators/sketch.py tuple_sum/avg_estimate
    below k (the sketch is exact in that regime) — the b70 convention."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import sketch as SK

    tp = SK.tuple_sketch(
        spark.table("tuplesrc"), ["g"], "k", "v", k=256
    ).select(
        "g",
        SK.tuple_sum_estimate("tuples").alias("s"),
        SK.tuple_avg_estimate("tuples").alias("a"),
    )
    op = {r["g"]: r for r in tp.collect()}
    routed = {
        r["g"]: r
        for r in tuple_engine.query(
            "SELECT g, SUMVALUESINTEGERSUMTUPLESKETCH(k, v) AS s, "
            "AVGVALUEINTEGERSUMTUPLESKETCH(k, v) AS a "
            "FROM tuplesrc GROUP BY g"
        ).collect()
    }
    for g in ("a", "b"):
        assert routed[g]["s"] == pytest.approx(op[g]["s"])
        assert routed[g]["a"] == pytest.approx(op[g]["a"])


def test_tuple_value_unroutable_is_loud(tuple_engine):
    with pytest.raises(Exception, match="two-level exact route"):
        tuple_engine.query(
            "WITH f AS (SELECT * FROM tuplesrc), f_keep AS (SELECT * FROM f) "
            "SELECT SUMVALUESINTEGERSUMTUPLESKETCH(k, v) FROM f"
        )
    with pytest.raises(Exception, match="relational spelling"):
        tuple_engine.query(
            "SELECT SUMVALUESINTEGERSUMTUPLESKETCH(sketch_bytes) FROM tuplesrc"
        )


# ---------------------------------------------------------------------------
# Theta SET-EXPRESSION form (round 8): DISTINCTCOUNT[RAW]THETASKETCH with
# filter predicates + SET_UNION/SET_INTERSECT/SET_DIFF over $1..$n, served
# exactly by the keyed two-level statement route
# ---------------------------------------------------------------------------


def test_theta_set_route_text():
    routed = RKA(
        "SELECT g, DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=4096', "
        "'ev = ''p''', 'ev = ''e''', 'SET_INTERSECT($1, $2)') AS b "
        "FROM t WHERE d > 1 GROUP BY g"
    )
    assert routed == (
        "SELECT g, coalesce(sum(if(__fc_k IS NOT NULL AND "
        "(__fc0_s1 AND __fc0_s2), 1, 0)), 0) AS b "
        "FROM (SELECT g, (u) AS __fc_k, "
        "bool_or(coalesce((ev = 'p'), false)) AS __fc0_s1, "
        "bool_or(coalesce((ev = 'e'), false)) AS __fc0_s2 "
        "FROM t WHERE d > 1 GROUP BY g, (u)) __fc "
        "GROUP BY g"
    )


@pytest.fixture(scope="module")
def theta_engine(spark, tmp_path_factory):
    spark.sql(
        """
        SELECT * FROM VALUES
         ('x', 1, 'p', 10.0), ('x', 1, 'e', 200.0), ('x', 2, 'p', 10.0),
         ('x', 3, 'e', 5.0), ('x', cast(null as int), 'p', 300.0),
         ('y', 4, 'p', 100.0), ('y', 4, 'p', 50.0), ('y', 5, 'o', 1.0)
         AS t(g, u, ev, v)
        """
    ).createOrReplaceTempView("thetasrc")
    return Engine(spark, str(tmp_path_factory.mktemp("thwh")))


def test_theta_set_route_exact_values(theta_engine):
    """All three set ops + one nested expression, hand-computed on the
    fixture; NULL keys excluded like count(DISTINCT)."""
    theta = (
        "DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=4096', "
        "'ev = ''p''', 'ev = ''e''', 'v > 150', '{expr}')"
    )
    rows = {
        r["g"]: r
        for r in theta_engine.query(
            "SELECT g, "
            f"{theta.format(expr='SET_INTERSECT($1, $2)')} AS i, "
            f"{theta.format(expr='SET_UNION($1, $2)')} AS un, "
            f"{theta.format(expr='SET_DIFF($1, $2)')} AS d, "
            f"{theta.format(expr='SET_DIFF(SET_UNION($1, $2), $3)')} AS nested "
            "FROM thetasrc GROUP BY g"
        ).collect()
    }
    assert (rows["x"]["i"], rows["x"]["un"], rows["x"]["d"],
            rows["x"]["nested"]) == (1, 3, 1, 2)
    assert (rows["y"]["i"], rows["y"]["un"], rows["y"]["d"],
            rows["y"]["nested"]) == (0, 1, 1, 1)


def test_theta_set_route_plan_bounded(theta_engine):
    """The routed theta plan is two hash-aggregate levels — zero
    collection state, the same pin as the routed FUNNELCOUNT."""
    df = theta_engine.query(
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''p''', "
        "'ev = ''e''', 'SET_INTERSECT($1, $2)') AS b FROM thetasrc"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    assert plan.count("HashAggregate") >= 4
    assert df.collect()[0]["b"] == 1


def test_theta_plain_and_tuned_sites_not_routed(theta_engine):
    """1-2 arg theta sites stay on the single-level exact call-site
    rewrite — no restructuring, and the answer is count(DISTINCT)."""
    assert RKA("SELECT DISTINCTCOUNTTHETASKETCH(u) FROM t") is None
    assert RKA(
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=64') FROM t"
    ) is None
    got = theta_engine.query(
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=64') AS d "
        "FROM thetasrc"
    ).collect()[0]["d"]
    assert got == 5


def test_theta_set_zero_rows_is_zero(theta_engine):
    """WHERE filtering every row must answer 0 (Pinot's empty sketch),
    not NULL."""
    got = theta_engine.query(
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''p''', "
        "'ev = ''e''', 'SET_UNION($1, $2)') AS z "
        "FROM thetasrc WHERE v < -1"
    ).collect()[0]["z"]
    assert got == 0


@pytest.mark.parametrize(
    "expr,msg",
    [
        ("SET_UNION($1, $3)", r"references \$3"),
        ("SET_DIFF($1)", "exactly 2"),
        ("SET_DIFF($1, $2, $2)", "exactly 2"),
        ("SET_UNION($1)", ">= 2"),
        ("UNION($1, $2)", "must be"),
        ("$0", r"references \$0"),
    ],
)
def test_theta_set_loud_expression_errors(expr, msg):
    with pytest.raises(ValueError, match=msg):
        RKA(
            "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''a''', "
            f"'ev = ''b''', '{expr}') FROM t"
        )


def test_theta_set_three_arg_form_is_loud():
    with pytest.raises(ValueError, match="at least one filter predicate"):
        RKA(
            "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'SET_UNION($1, $2)') "
            "FROM t"
        )


def test_theta_set_non_literal_predicate_is_loud():
    with pytest.raises(ValueError, match="quoted string literal"):
        RKA(
            "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', ev = 'a', '$1') FROM t"
        )


def test_theta_set_unroutable_shape_is_loud(theta_engine):
    """A shape the route cannot restructure falls to the call-site
    fallback's loud redirect — never a silently-wrong plain distinct."""
    assert RKA(
        "WITH f AS (SELECT * FROM thetasrc), f_keep AS (SELECT * FROM f) "
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''a''', "
        "'SET_UNION($1, $1)') FROM f"
    ) is None
    with pytest.raises(Exception, match="set-expression form is served"):
        theta_engine.query(
            "WITH f AS (SELECT * FROM thetasrc), f_keep AS (SELECT * FROM f) "
            "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''p''', "
            "'SET_UNION($1, $1)') FROM f"
        )


def test_theta_set_cooccurring_aggregate_bails():
    # non-decomposable co-aggregates keep the fallback (decomposable
    # count/sum/min/max/avg ROUTE — test_theta_set_with_coaggs)
    assert RKA(
        "SELECT stddev(x), DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''a''', "
        "'$1') FROM t"
    ) is None
    # a plain theta site next to a real target also bails (both keep
    # their call-site service)
    assert RKA(
        "SELECT DISTINCTCOUNTTHETASKETCH(w), "
        "FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) FROM t"
    ) is None


def test_theta_set_single_ref_expression(theta_engine):
    """'$1' alone is the filtered-distinct shape (Pinot's simplest
    post-aggregation expression)."""
    got = theta_engine.query(
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''e''', '$1') AS d "
        "FROM thetasrc"
    ).collect()[0]["d"]
    assert got == 2  # users 1 and 3 have an 'e' event


# ---------------------------------------------------------------------------
# Co-occurring DECOMPOSABLE aggregates (round 8): count/sum/min/max/avg
# partials push into the inner per-key level and recombine exactly
# ---------------------------------------------------------------------------


def test_keyed_route_text_decomposable_coaggs():
    routed = RKA(
        "SELECT g, count(*) AS n, sum(x) AS sx, avg(x) AS ax, "
        "FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) AS fc "
        "FROM t GROUP BY g"
    )
    assert routed == (
        "SELECT g, coalesce(sum(__fca0), 0) AS n, sum(__fca1) AS sx, "
        "try_divide(sum(__fca2_s), sum(__fca2_c)) AS ax, "
        "array(coalesce(sum(if(__fc_k IS NOT NULL AND __fc0_s1, 1, 0)), "
        "0)) AS fc "
        "FROM (SELECT g, (u) AS __fc_k, "
        "bool_or(coalesce((ev = 'a'), false)) AS __fc0_s1, "
        "count(*) AS __fca0, sum((x)) AS __fca1, "
        "sum((x)) AS __fca2_s, count((x)) AS __fca2_c "
        "FROM t GROUP BY g, (u)) __fc "
        "GROUP BY g"
    )


def test_keyed_route_coaggs_match_fold(funnel_engine):
    """Route and fold agree on FUNNELCOUNT + every decomposable
    co-aggregate in one statement (same statement forced down each path
    via the flat vs subquery shape)."""
    sel = (
        "count(*) AS n, count(amt) AS na, sum(amt) AS s, avg(amt) AS a, "
        "min(amt) AS mn, max(amt) AS mx, "
        "FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), CORRELATE_BY(uid)) AS fc"
    )
    routed = funnel_engine.query(
        f"SELECT {sel} FROM funnelsrc"
    ).collect()[0]
    folded = funnel_engine.query(
        f"WITH f AS (SELECT * FROM funnelsrc), f_keep AS (SELECT * FROM f) SELECT {sel} FROM f"
    ).collect()[0]
    assert RKA(f"SELECT {sel} FROM funnelsrc") is not None
    assert RKA(
        f"WITH f AS (SELECT * FROM funnelsrc), f_keep AS (SELECT * FROM f) SELECT {sel} FROM f"
    ) is None
    assert tuple(routed) == tuple(folded)


def test_keyed_route_coaggs_in_having(funnel_engine):
    """Decomposable co-aggregates in HAVING bind against the recombined
    outer level.  (ORDER BY over a fresh aggregate next to HAVING is a
    shape Spark's analyzer rejects in the ORIGINAL statement too, so the
    route has nothing to preserve there.)"""
    stmt = (
        "SELECT g, max(amt) AS mx, "
        "FUNNELCOUNT(STEPS(ev = 'view'), CORRELATE_BY(uid)) AS fc "
        "FROM funnelsrc GROUP BY g HAVING count(*) >= 6 ORDER BY g"
    )
    assert RKA(stmt) is not None
    ref = (
        "WITH f AS (SELECT * FROM funnelsrc), f_keep AS (SELECT * FROM f) "
        "SELECT g, max(amt) AS mx, "
        "FUNNELCOUNT(STEPS(ev = 'view'), CORRELATE_BY(uid)) AS fc "
        "FROM f GROUP BY g "
        "HAVING count(*) >= 6 ORDER BY g"
    )
    got = [tuple(r) for r in funnel_engine.query(stmt).collect()]
    want = [tuple(r) for r in funnel_engine.query(ref).collect()]
    assert got == want and len(got) == 1  # only group 'a' has >= 6 rows


def test_theta_set_with_coaggs(theta_engine):
    """The theta set-expression route carries decomposable co-aggregates
    too — the dashboard shape `count(*), sum(v), theta(...)`."""
    row = theta_engine.query(
        "SELECT count(*) AS n, sum(v) AS s, "
        "DISTINCTCOUNTTHETASKETCH(u, 'p', 'ev = ''p''', 'ev = ''e''', "
        "'SET_INTERSECT($1, $2)') AS b FROM thetasrc"
    ).collect()[0]
    # fixture: 8 rows, v sums to 676.0, only user 1 has both p and e
    assert (row["n"], row["s"], row["b"]) == (8, 676.0, 1)


def test_tuple_value_with_count_star(tuple_engine):
    row = tuple_engine.query(
        "SELECT count(*) AS n, SUMVALUESINTEGERSUMTUPLESKETCH(k, v) AS s "
        "FROM tuplesrc"
    ).collect()[0]
    assert (row["n"], row["s"]) == (6, 26.0)


def test_keyed_route_where_subquery(spark, funnel_engine):
    """WHERE subqueries (IN / EXISTS) move verbatim into the inner query
    where the base table binds identically (round 8)."""
    spark.sql(
        "SELECT * FROM VALUES (1), (2), (5) AS t(uid)"
    ).createOrReplaceTempView("allowlist")
    stmt = (
        "SELECT g, count(*) AS n, "
        "FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), CORRELATE_BY(uid)) "
        "AS fc FROM funnelsrc "
        "WHERE uid IN (SELECT uid FROM allowlist) GROUP BY g ORDER BY g"
    )
    assert RKA(stmt) is not None
    ref = "WITH f AS (SELECT * FROM funnelsrc), f_keep AS (SELECT * FROM f) " + stmt.replace(
        "FROM funnelsrc", "FROM f"
    )
    assert RKA(ref) is None
    got = [tuple(r) for r in funnel_engine.query(stmt).collect()]
    want = [tuple(r) for r in funnel_engine.query(ref).collect()]
    assert got == want
    # kept uids 1, 2, 5: g='a' rows have uid 1 (view+buy) and 2 (view);
    # g='b' rows have uid 2 (cart only) and 5 (view+buy)
    assert dict((r[0], r[2]) for r in got) == {"a": [2, 1], "b": [1, 1]}


def test_keyed_route_scalar_select_subquery(funnel_engine):
    """A scalar subquery in the SELECT list evaluates in its own scope,
    untouched by the restructure."""
    stmt = (
        "SELECT (SELECT count(*) FROM funnelsrc) AS total, "
        "FUNNELCOUNT(STEPS(ev = 'view'), CORRELATE_BY(uid)) AS fc "
        "FROM funnelsrc WHERE g = 'a'"
    )
    assert RKA(stmt) is not None
    row = funnel_engine.query(stmt).collect()[0]
    assert row["total"] == 11  # whole fixture, not the WHERE-filtered slice
    assert row["fc"] == [2]  # uids 1, 2 viewed within g='a'


def test_keyed_route_target_inside_subquery_bails():
    assert RKA(
        "SELECT (SELECT FUNNELCOUNT(STEPS(ev='a'), CORRELATE_BY(u)) "
        "FROM t2) AS other FROM t WHERE x > 0"
    ) is None


# ---------------------------------------------------------------------------
# Ordered-funnel statement route (round 8): FUNNELMAXSTEP / FUNNELMATCHSTEP
# through the window-cascade plan — per-row state, no collected arrays
# ---------------------------------------------------------------------------

from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (  # noqa: E402
    rewrite_ordered_funnel_statement as ROF,
)


@pytest.fixture(scope="module")
def ordered_engine(spark, tmp_path_factory):
    spark.sql(
        """
        SELECT u, cast(ts as timestamp) AS ts, ev FROM VALUES
         (1, '2024-06-01 10:00:00', 'view'),
         (1, '2024-06-01 10:05:00', 'click'),
         (1, '2024-06-01 10:10:00', 'buy'),
         (2, '2024-06-01 10:00:00', 'view'),
         (2, '2024-06-01 09:00:00', 'click'),
         (3, '2024-06-01 10:00:00', 'click'),
         (4, '2024-06-01 10:00:00', 'view'),
         (4, '2024-06-03 10:00:00', 'click'),
         (5, '2024-06-01 10:00:00', 'view'),
         (5, '2024-06-01 10:00:00', 'click')
         AS t(u, ts, ev)
        """
    ).createOrReplaceTempView("ofev")
    return Engine(spark, str(tmp_path_factory.mktemp("ofwh")))


def test_ordered_funnel_route_fires_and_matches_fold(ordered_engine):
    """The flat statement routes; the subquery shape keeps the fold —
    both must agree on every user including the tie-order (u=5) and
    window-bound (u=4) cases."""
    sel = (
        "SELECT u, FUNNELMAXSTEP(ts, '86400000', 3, 'ev = ''view''', "
        "'ev = ''click''', 'ev = ''buy''') AS ms, "
        "FUNNELMATCHSTEP(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''') AS m "
        "FROM {src} GROUP BY u ORDER BY u"
    )
    fold_stmt = "WITH f AS (SELECT * FROM ofev), f_keep AS (SELECT * FROM f) " + sel.format(src="f")
    assert ROF(sel.format(src="ofev")) is not None
    assert ROF(fold_stmt) is None
    routed = [
        tuple(r) for r in ordered_engine.query(sel.format(src="ofev")).collect()
    ]
    folded = [
        tuple(r) for r in ordered_engine.query(fold_stmt).collect()
    ]
    assert routed == folded
    assert routed == [
        (1, 3, [1, 1]),
        (2, 1, [1, 0]),
        (3, 0, [0, 0]),
        (4, 1, [1, 1]),  # MAXSTEP bound by 1 day; MATCHSTEP unbounded
        (5, 1, [1, 0]),  # same-ts tie order: click processes first
    ]


def test_ordered_funnel_filter_folds(ordered_engine):
    """Round 11 (VERDICT r10 task 2): a trailing FILTER (WHERE pred) on
    a cascade target folds into its layer-0 step masks.  Reference: the
    fold with every step literal masked by the pred — the fold's
    collect-CASE drops rows matching no step, so masked steps ARE the
    FILTER exclusion — forced through the dead-CTE wrapper.  A second
    unfiltered target in the same statement keeps its own unmasked
    aliases (per-target masking)."""
    sel = (
        "SELECT u, FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''') AS a, "
        "FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', 'ev = ''click''') "
        "FILTER (WHERE ev <> 'click') AS b "
        "FROM {src} GROUP BY u ORDER BY u"
    )
    assert ROF(sel.format(src="ofev")) is not None  # the route ENGAGED
    fold = (
        "WITH f AS (SELECT * FROM ofev), f_keep AS (SELECT * FROM f) "
        "SELECT u, FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''') AS a, "
        "FUNNELMAXSTEP(ts, '0', 2, "
        "'(ev <> ''click'') AND (ev = ''view'')', "
        "'(ev <> ''click'') AND (ev = ''click'')') AS b "
        "FROM f GROUP BY u ORDER BY u"
    )
    assert ROF(fold) is None  # the reference REALLY takes the fold
    routed = [
        tuple(r)
        for r in ordered_engine.query(sel.format(src="ofev")).collect()
    ]
    folded = [tuple(r) for r in ordered_engine.query(fold).collect()]
    assert routed == folded
    # with click rows invisible to b, step 2 can never fire; u=3 is
    # click-only, so even step 1 stays 0
    assert routed == [
        (1, 2, 1),
        (2, 1, 1),
        (3, 0, 0),
        (4, 2, 1),
        (5, 1, 1),
    ]
    # duration stats ride the same mask: u=1 click invisible means the
    # view->click duration is NULL and MIN/MAX answer NULL, while the
    # unfiltered spelling sees 300s
    row = ordered_engine.query(
        "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''', 'durationFunctions=MIN,MAX') "
        "FILTER (WHERE ev <> 'click') AS ds, "
        "FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''', 'durationFunctions=MIN,MAX') AS ds_all "
        "FROM ofev WHERE u = 1"
    ).collect()[0]
    assert list(row.ds) == [None, None]
    assert list(row.ds_all) == [300000.0, 300000.0]


def test_ordered_funnel_routed_plan_is_windowed(ordered_engine):
    """Plan pin: the routed plan has Window operators and ZERO collected
    arrays — the fold's collect_list never appears."""
    df = ordered_engine.query(
        "SELECT u, FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''') AS ms FROM ofev GROUP BY u"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "Window" in plan
    # exactly ONE sort per window stack (same partition/order spec): the
    # cascade must not re-sort per layer
    assert plan.count("Sort ") <= 2


def test_ordered_funnel_coaggregates_untouched(ordered_engine):
    """Windows preserve rows 1:1, so ANY co-aggregate — including
    non-decomposable ones the keyed route would bail on — stays correct."""
    row = ordered_engine.query(
        "SELECT count(*) AS n, count(DISTINCT ev) AS d, "
        "percentile(u, 0.5) AS p, "
        "FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', 'ev = ''click''') AS ms "
        "FROM ofev"
    ).collect()[0]
    assert row["n"] == 10 and row["d"] == 3
    # global funnel: view exists, click strictly after a view exists
    assert row["ms"] == 2


@pytest.mark.parametrize(
    "src",
    [
        # COMPLETECOUNT resets state per completion: keeps the fold
        "SELECT FUNNELCOMPLETECOUNT(ts, '0', 2, 'a', 'b') FROM t",
        # comma mixed with explicit JOIN (plain comma routes, round 11)
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a') "
        "FROM t, d JOIN w ON d.k = w.k",
        "WITH s AS (SELECT 1) SELECT FUNNELMAXSTEP(ts, '0', 1, 'a') "
        "FROM t",
        # FILTER folds since round 11 — but only a mask-exact pred: a
        # window fn would analyze cleanly at layer 0 while the original
        # errors loudly, and an empty/subquery pred cannot mask
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a') "
        "FILTER (WHERE rank() OVER (ORDER BY u) = 1) FROM t",
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a') FILTER (WHERE ) FROM t",
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a') "
        "FILTER (WHERE u IN (SELECT u FROM d)) FROM t",
        # GROUP BY ordinal naming the aggregate itself
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a') FROM t GROUP BY 1",
        # window elsewhere in the statement
        "SELECT FUNNELMAXSTEP(ts, '0', 1, 'a'), row_number() OVER (ORDER BY u) FROM t",
    ],
)
def test_ordered_funnel_route_bails(src):
    assert ROF(src) is None


def test_ordered_funnel_with_mv_distinct_coagg(spark, ordered_engine):
    """Route precedence: a statement with BOTH an MV distinct and an
    ordered funnel — the MV route bails (funnel is duplication-unsafe),
    the keyed route bails (funnel is not decomposable), the ordered
    route fires, and the MV distinct call site falls to its exact
    normalized-set fallback over the 1:1 window rows."""
    spark.sql(
        "SELECT u, cast(ts as timestamp) AS ts, ev, tags FROM VALUES "
        "(1, '2024-06-01 10:00:00', 'view', array(1, 2)), "
        "(1, '2024-06-01 10:05:00', 'buy', array(2, 3)), "
        "(2, '2024-06-01 10:00:00', 'buy', array(9)) "
        "AS t(u, ts, ev, tags)"
    ).createOrReplaceTempView("ofmv")
    row = ordered_engine.query(
        "SELECT DISTINCTCOUNTMV(tags) AS d, "
        "FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', 'ev = ''buy''') AS ms "
        "FROM ofmv"
    ).collect()[0]
    assert row["d"] == 4  # {1,2,3,9}
    assert row["ms"] == 2  # user 1's view then buy (global funnel)


def test_ordered_funnel_route_strict_increase_and_window(ordered_engine):
    """STRICT_INCREASE mode and the windowSize bound survive the route:
    u=5's same-ts click fails '>' but would pass '>=' — except tie order
    already excludes it; u=4's 2-day click fails the 1-day bound."""
    sel = (
        "SELECT u, FUNNELMAXSTEP(ts, '86400000', 2, 'ev = ''view''', "
        "'ev = ''click''', 'STRICT_INCREASE') AS ms "
        "FROM {src} GROUP BY u"
    )
    routed = {
        r["u"]: r["ms"]
        for r in ordered_engine.query(sel.format(src="ofev")).collect()
    }
    folded = {
        r["u"]: r["ms"]
        for r in ordered_engine.query(
            "WITH f AS (SELECT * FROM ofev), f_keep AS (SELECT * FROM f) " + sel.format(src="f")
        ).collect()
    }
    assert routed == folded
    assert routed == {1: 2, 2: 1, 3: 0, 4: 1, 5: 1}


def test_keyed_route_coagg_zero_rows(funnel_engine):
    """Global aggregate over zero kept rows: count answers 0, sum/avg/
    min/max answer NULL — exactly the single-level semantics."""
    row = funnel_engine.query(
        "SELECT count(*) AS n, sum(amt) AS s, avg(amt) AS a, "
        "min(amt) AS mn, "
        "FUNNELCOUNT(STEPS(ev = 'view'), CORRELATE_BY(uid)) AS fc "
        "FROM funnelsrc WHERE amt < -1e9"
    ).collect()[0]
    assert row["n"] == 0 and row["s"] is None
    assert row["a"] is None and row["mn"] is None
    assert row["fc"] == [0]


@pytest.mark.parametrize(
    "expr,want",
    [
        # negative scale: HALF_UP to tens/hundreds (round-6 ADVICE: the
        # old power cast truncated to decimal 0 and returned 0.0)
        ("ROUNDDECIMAL(1234.5, -1)", 1230.0),
        ("ROUNDDECIMAL(1235.0, -1)", 1240.0),
        ("ROUNDDECIMAL(250.0, -2)", 300.0),
        ("ROUNDDECIMAL(-250.0, -2)", -300.0),
        ("ROUNDDECIMAL(5.0, -3)", 0.0),
        ("ROUNDDECIMAL(500.0, -3)", 1000.0),
        # |v| >= 1e13: past the decimal intermediate — double fallback,
        # not a NULL-returning overflow cast
        ("ROUNDDECIMAL(1e14 + 0.5, 0)", 1e14 + 1),
        ("ROUNDDECIMAL(-1e14, 2)", -1e14),
        # the decimal HALF_UP path is unchanged
        ("ROUNDDECIMAL(1.005, 2)", 1.01),
        ("ROUNDDECIMAL(-1.005, 2)", -1.01),
    ],
)
def test_rounddecimal_edge_scales(spark, agg_engine, expr, want):
    got = agg_engine.query(f"SELECT {expr} AS x FROM aggsrc LIMIT 1").collect()[0]["x"]
    assert got is not None
    assert abs(got - want) < 1e-9, (expr, got, want)


@pytest.mark.parametrize(
    "args,want",
    [
        ("'2001:db8::/32', '2001:db8:1:2::3'", True),
        ("'2001:db8::/32', '2001:db9::1'", False),
        ("'::/0', 'fe80::1'", True),                       # prefix 0
        ("'2001:db8:0:0:0:0:0:0/64', '2001:db8::ff'", True),
        ("'2001:db8::/64', '2001:db8:0:1::1'", False),
        ("'2001:db8::1/128', '2001:db8::1'", True),        # full-width
        ("'2001:db8::1/128', '2001:db8::2'", False),
        ("'fe80::/10', 'fe81::1'", True),                  # hi-half prefix
        ("'fe80::/10', 'fec0::1'", False),
        ("'2001:db8::8:0:0/97', '2001:db8::8:7fff:ffff'", True),  # lo-half
        ("'2001:db8::8:0:0/97', '2001:db8::8:8000:0'", False),
    ],
)
def test_issubnetof_ipv6(agg_engine, args, want):
    """Round-7: ISSUBNETOF handles IPv6 (128-bit compare as a hi/lo
    BIGINT pair over '::'-expanded groups), matching Pinot."""
    got = agg_engine.query(f"SELECT ISSUBNETOF({args}) AS x").collect()[0]["x"]
    assert got is want


@pytest.mark.parametrize(
    "args,msg",
    [
        ("'10.0.0.0/8', '::1'", "mixed address families"),
        ("'2001:db8::/32', '10.0.0.1'", "mixed address families"),
        ("'::ffff:10.0.0.1/96', '::ffff:10.0.0.2'", "IPv4-embedded"),
    ],
)
def test_issubnetof_raises_on_unsupported_forms(agg_engine, args, msg):
    """A silently-false compare would hide data bugs — unsupported
    address-family combinations raise loudly (Pinot throws too)."""
    with pytest.raises(Exception, match=msg):
        agg_engine.query(f"SELECT ISSUBNETOF({args}) AS x").collect()


def test_mv_route_and_fallback_agree_on_null_elements(spark, mv_engine):
    """Round-7 review: the SAME query text must not change its answer
    with statement shape — NULL array elements are ignored by BOTH the
    routed count(DISTINCT elem) and the fallback's filtered set."""
    spark.sql(
        "SELECT * FROM VALUES ('g', array(1, null, 2)), ('g', array(2, null)) "
        "AS t(g, tags)"
    ).createOrReplaceTempView("mvnullsrc")
    routed = mv_engine.query(
        "SELECT DISTINCTCOUNTMV(tags) AS v FROM mvnullsrc"
    ).collect()[0]["v"]
    fallback = mv_engine.query(
        "WITH f AS (SELECT * FROM mvnullsrc), f_keep AS (SELECT * FROM f) "
        "SELECT DISTINCTCOUNTMV(tags) AS v FROM f"
    ).collect()[0]["v"]
    assert routed == fallback == 2


def test_explain_head_behind_a_comment(mv_engine):
    """A comment before ``EXPLAIN PLAN FOR`` is not part of the
    statement: the explain route still reads the head."""
    rows = mv_engine.query(
        "/* console */ EXPLAIN PLAN FOR SELECT g, count(*) AS n "
        "FROM mvsrc GROUP BY g"
    ).collect()
    assert rows and "Operator" in rows[0].asDict()


def test_explain_shows_the_routed_mv_plan(mv_engine):
    """Round-7 review: EXPLAIN PLAN FOR over a DISTINCTCOUNTHLLMV
    statement must show the BOUNDED routed plan the statement actually
    runs (Generate + hll_sketch_agg), not the collect_set fallback."""
    ops = " ".join(
        r["Operator"]
        for r in mv_engine.query(
            "EXPLAIN PLAN FOR SELECT g, DISTINCTCOUNTHLLMV(tags) AS u "
            "FROM mvsrc GROUP BY g"
        ).collect()
    )
    assert "hll_sketch_agg" in ops
    assert "Generate" in ops
    assert "collect_set" not in ops


@pytest.mark.parametrize(
    "expr,want",
    [
        # |n| > 11: past the decimal(12,0) power intermediate — double
        # path, not an ANSI overflow error (round-7 review)
        ("ROUNDDECIMAL(1.5, 12)", 1.5),
        ("ROUNDDECIMAL(0.25, -12)", 0.0),
        ("ROUNDDECIMAL(5e12, -12)", 5e12),
        ("ROUNDDECIMAL(5e11, -12)", 1e12),  # HALF_UP at the midpoint
        # absurd scales: identity / zero, never inf or NaN
        ("ROUNDDECIMAL(1.25, 400)", 1.25),
        ("ROUNDDECIMAL(1.25, -400)", 0.0),
    ],
)
def test_rounddecimal_extreme_scales(agg_engine, expr, want):
    got = agg_engine.query(f"SELECT {expr} AS x").collect()[0]["x"]
    assert got == want, (expr, got, want)


@pytest.mark.parametrize(
    "pinot,want",
    [
        # DataSketches-named distincts (round 7): exact service, tuning
        # literal ignored; ULL = the HLL estimator family
        ("DISTINCTCOUNTTHETASKETCH(u)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTTHETASKETCH(u, 4096)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTRAWTHETASKETCH(u)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTCPCSKETCH(u)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTTUPLESKETCH(u)", "count(DISTINCT u)"),
        ("DISTINCTCOUNTULL(u)",
         "greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0)"),
        ("DISTINCTCOUNTRAWULL(u)",
         "greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0)"),
        ("DISTINCTCOUNTHLLPLUS(u, 14)",
         "greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0)"),
        ("DISTINCTCOUNTRAWHLLPLUS(u)",
         "greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0)"),
    ],
)
def test_datasketches_distinct_spellings(pinot, want):
    assert R(f"SELECT {pinot} FROM t") == f"SELECT {want} FROM t"


def test_theta_set_expression_form_rejects_loudly():
    with pytest.raises(ValueError, match="set-expression"):
        R("SELECT DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=4096', "
          "'dim=a', 'SET_INTERSECT($1, $2)') FROM t")


@pytest.mark.parametrize(
    "name", ["SUMVALUESINTEGERSUMTUPLESKETCH", "AVGVALUEINTEGERSUMTUPLESKETCH"]
)
def test_tuple_value_spellings_point_at_operator_api(name):
    with pytest.raises(ValueError, match="operators/sketch"):
        R(f"SELECT {name}(s) FROM t")


@pytest.mark.parametrize(
    "q,want",
    [
        # vector scalar family (round 7): (3,4) vs (4,3) — hand-checkable
        ("SELECT INNERPRODUCT(array(3.0d, 4.0d), array(4.0d, 3.0d)) AS x", 24.0),
        ("SELECT VECTORNORM(array(3.0d, 4.0d)) AS x", 5.0),
        ("SELECT VECTORDIMS(array(1.0d, 2.0d, 3.0d)) AS x", 3),
        ("SELECT L1DISTANCE(array(3.0d, 4.0d), array(4.0d, 3.0d)) AS x", 2.0),
        ("SELECT L2DISTANCE(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS x", 5.0),
        ("SELECT COSINEDISTANCE(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS x", 0.0),
        ("SELECT COSINEDISTANCE(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS x", 1.0),
        ("SELECT COSINEDISTANCE(array(1.0d, 0.0d), array(-1.0d, 0.0d)) AS x", 2.0),
    ],
)
def test_vector_scalar_functions(agg_engine, q, want):
    got = agg_engine.query(q).collect()[0]["x"]
    assert abs(got - want) < 1e-12, (q, got, want)


def test_vector_scalars_coerce_float_arrays(spark, agg_engine):
    """Embedding columns are ARRAY<FLOAT> in the fixtures — the DOUBLE
    signatures must coerce implicitly, and a zero-norm side yields NaN
    (Pinot's no-default cosineDistance behavior)."""
    import math

    spark.sql(
        "SELECT cast(array(1.0, 2.0) as array<float>) AS v, "
        "cast(array(0.0, 0.0) as array<float>) AS z"
    ).createOrReplaceTempView("vecsrc")
    row = agg_engine.query(
        "SELECT VECTORNORM(v) AS n, COSINEDISTANCE(v, z) AS cz FROM vecsrc"
    ).collect()[0]
    assert abs(row["n"] - math.sqrt(5.0)) < 1e-7
    assert math.isnan(row["cz"])


@pytest.mark.parametrize(
    "expr,want",
    [
        # round-7 review: floor(DOUBLE) returns BIGINT and saturates at
        # Long.MAX — scaled magnitudes >= 2^63 must return v, not 9.2e18
        ("ROUNDDECIMAL(1e13, 6)", 1e13),
        ("ROUNDDECIMAL(1e7, 12)", 1e7),
        ("ROUNDDECIMAL(1e20, -1)", 1e20),
        ("ROUNDDECIMAL(-1e20, -3)", -1e20),
    ],
)
def test_rounddecimal_no_long_saturation(agg_engine, expr, want):
    got = agg_engine.query(f"SELECT {expr} AS x").collect()[0]["x"]
    assert got == want, (expr, got, want)


@pytest.mark.parametrize("fn", ["INNERPRODUCT", "L1DISTANCE", "L2DISTANCE",
                                "COSINEDISTANCE"])
def test_vector_scalars_raise_on_dimension_mismatch(agg_engine, fn):
    """zip_with pads with NULLs — a dimension mismatch must raise like
    Pinot ('Vector lengths do not match'), never return silent NULL."""
    with pytest.raises(Exception, match="lengths do not match"):
        agg_engine.query(
            f"SELECT {fn}(array(1.0d), array(1.0d, 2.0d)) AS x"
        ).collect()


@pytest.mark.parametrize(
    "pinot,spark_equiv",
    [
        # Pinot's no-underscore stats spellings (B24/B25 wire forms)
        ("STDDEVPOP(v)", "stddev_pop(v)"),
        ("STDDEVSAMP(v)", "stddev_samp(v)"),
        ("VARPOP(v)", "var_pop(v)"),
        ("VARSAMP(v)", "var_samp(v)"),
        ("COVARPOP(v, u)", "covar_pop(v, u)"),
        ("COVARSAMP(v, u)", "covar_samp(v, u)"),
        # RAW percentile spellings serve the estimate like their kin
        ("PERCENTILERAWEST(v, 90)", "approx_percentile(v, 0.9)"),
        ("PERCENTILERAWTDIGEST(v, 50)", "approx_percentile(v, 0.5)"),
        ("PERCENTILERAWKLL(v, 75)", "approx_percentile(v, 0.75)"),
    ],
)
def test_stats_and_raw_percentile_spellings(spark, agg_engine, pinot, spark_equiv):
    got = agg_engine.query(f"SELECT {pinot} AS x FROM aggsrc").collect()[0]["x"]
    want = spark.sql(f"SELECT {spark_equiv} AS x FROM aggsrc").collect()[0]["x"]
    assert abs(got - want) < 1e-9, (pinot, got, want)


def test_cosinedistance_dimension_beats_zero_norm(agg_engine):
    """Round-7 second review: a mismatched pair with a zero-norm side must
    raise the mismatch, not return the zero-norm NaN."""
    with pytest.raises(Exception, match="COSINEDISTANCE: vector lengths"):
        agg_engine.query(
            "SELECT COSINEDISTANCE(array(0.0d), array(0.0d, 0.0d)) AS x"
        ).collect()


def test_histogram_equal_width_and_edges(spark, agg_engine):
    """Pinot HISTOGRAM semantics: [e_i, e_{i+1}) bins, last bin
    right-closed, values outside the range excluded; both the
    equal-width and explicit-edges forms unroll to count_if arrays."""
    # v = 0, 1.5, 3, ..., 148.5 (100 rows)
    got = agg_engine.query(
        "SELECT HISTOGRAM(v, 0, 150, 3) AS h FROM aggsrc"
    ).collect()[0]["h"]
    # [0,50): v<50 -> ids 0..33 (34); [50,100): 34..66 (33); [100,150]: 67..99 (33)
    assert got == [34, 33, 33]
    got2 = agg_engine.query(
        "SELECT HISTOGRAM(v, ARRAY[0, 10, 148.5]) AS h FROM aggsrc"
    ).collect()[0]["h"]
    # [0,10): ids 0..6 (7); [10,148.5]: ids 7..99 (93) — last bin CLOSED
    assert got2 == [7, 93]
    # outside-range exclusion: range that misses the tail
    got3 = agg_engine.query(
        "SELECT HISTOGRAM(v, 0, 30, 2) AS h FROM aggsrc"
    ).collect()[0]["h"]
    assert sum(got3) == 21  # v <= 30 -> ids 0..20 only
    # grouped: bins partial-merge per group like any aggregate
    rows = {
        r["u"]: r["h"]
        for r in agg_engine.query(
            "SELECT u, HISTOGRAM(v, 0, 150, 3) AS h FROM aggsrc "
            "GROUP BY u"
        ).collect()
    }
    assert sum(sum(h) for h in rows.values()) == 100


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("HISTOGRAM(v)", "argument"),
        ("HISTOGRAM(v, 10, 0, 4)", "upper > lower"),
        ("HISTOGRAM(v, 0, 10, 0)", "numBins"),
        ("HISTOGRAM(v, ARRAY[5, 5])", "strictly increasing"),
        ("HISTOGRAM(v, ARRAY[1])", "2 strictly increasing"),
        ("HISTOGRAM(v, some_col, 10, x)", "numeric literals"),
    ],
)
def test_histogram_loud_errors(bad, msg):
    with pytest.raises(ValueError, match=msg):
        R(f"SELECT {bad} FROM t")


@pytest.mark.parametrize(
    "name", ["FREQUENTSTRINGSSKETCH", "FREQUENTLONGSSKETCH"]
)
def test_frequent_sketch_spellings_point_at_operator_api(name):
    with pytest.raises(ValueError, match="operators/frequent"):
        R(f"SELECT {name}(c, 8) FROM t")


def test_histogram_exact_upper_endpoint_survives_float_rounding(spark, agg_engine):
    """Round-7 review: lo+(hi-lo)*n/n can round BELOW hi, silently
    dropping a value equal to upper from the closed last bin — the
    emitted endpoints must be the user's exact literals."""
    spark.sql(
        "SELECT * FROM VALUES (550.5754507072664d) AS t(v)"
    ).createOrReplaceTempView("histedge")
    got = agg_engine.query(
        "SELECT HISTOGRAM(v, -101.01787042252374, 550.5754507072664, 14) "
        "AS h FROM histedge"
    ).collect()[0]["h"]
    assert sum(got) == 1 and got[-1] == 1


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("HISTOGRAM(v, 0, 1e309, 2)", "finite"),
        ("HISTOGRAM(v, ARRAY[nan, 1])", "FINITE"),
        ("HISTOGRAM(v, 0, 1, 10000001)", "cap"),
    ],
)
def test_histogram_rejects_nonfinite_and_huge(bad, msg):
    with pytest.raises(ValueError, match=msg):
        R(f"SELECT {bad} FROM t")


def test_histogram_rejects_sub_ulp_bin_width():
    """Round-7 fifth review: a range whose bin width is below ulp(lower)
    collapses adjacent computed edges — silently-empty bins; the
    equal-width form must reject it like the explicit-edges form."""
    with pytest.raises(ValueError, match="representable bins"):
        R("SELECT HISTOGRAM(v, 10000000000000000, 10000000000000002, 4) "
          "FROM t")


# ---------------------------------------------------------------------------
# round 8: EXPRMIN/EXPRMAX (the functions Pinot parses ARG_MIN/ARG_MAX
# into — projection FIRST, multi-measure lexicographic) and
# ARRAYAGG(col, 'dataType'[, isDistinct])  **[P1.2]**


@pytest.mark.parametrize(
    "src,want",
    [
        ("SELECT EXPRMIN(p, m) FROM t", "SELECT min_by(p, m) FROM t"),
        ("SELECT exprmax(p, m) FROM t GROUP BY g",
         "SELECT max_by(p, m) FROM t GROUP BY g"),
        # multi-measure: lexicographic via struct ordering; the whole
        # ordering struct masks to NULL when ANY measure is NULL so the
        # N-measure form skips those rows exactly like min_by(p, m) does
        ("SELECT EXPRMIN(p, m1, m2) FROM t",
         "SELECT min_by(p, CASE WHEN (m1) IS NULL OR (m2) IS NULL THEN "
         "NULL ELSE struct((m1) AS _m1, (m2) AS _m2) END) FROM t"),
        ("SELECT ARRAYAGG(v, 'LONG') FROM t",
         "SELECT cast(collect_list(v) as array<bigint>) FROM t"),
        ("SELECT arrayagg(v, 'STRING', true) FROM t",
         "SELECT cast(collect_set(v) as array<string>) FROM t"),
        ("SELECT ARRAYAGG(v, 'DOUBLE', 'false') FROM t",
         "SELECT cast(collect_list(v) as array<double>) FROM t"),
    ],
)
def test_exprminmax_arrayagg_text_cases(src, want):
    assert R(src) == want


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("EXPRMIN(p)", "EXPRMIN"),
        ("EXPRMAX(p)", "EXPRMAX"),
        ("ARRAYAGG(v)", "ARRAYAGG"),
        ("ARRAYAGG(v, 'BYTES')", "dataType"),
        ("ARRAYAGG(v, 'INT', maybe)", "true/false"),
        ("ARRAYAGG(v, 'INT', true, 1)", "ARRAYAGG"),
    ],
)
def test_exprminmax_arrayagg_reject_loudly(bad, msg):
    with pytest.raises(ValueError, match=msg):
        R(f"SELECT {bad} FROM t")


def test_arg_min_multi_measure_error_points_at_exprmin():
    with pytest.raises(ValueError, match="EXPRMIN"):
        R("SELECT ARG_MIN(m1, m2, proj) FROM t")
    with pytest.raises(ValueError, match="EXPRMAX"):
        R("SELECT ARG_MAX(m1, m2, proj) FROM t")


@pytest.mark.parametrize(
    "pinot,spark_equiv",
    [
        ("EXPRMIN(v, t)", "min_by(v, t)"),
        ("EXPRMAX(v, t)", "max_by(v, t)"),
        # multi-measure == ORDER BY m1, m2 LIMIT 1's projection
        ("EXPRMIN(u, v, t)", "min_by(u, struct(v, t))"),
        ("EXPRMAX(u, v, t)", "max_by(u, struct(v, t))"),
        # ARRAYAGG order is unspecified in both engines: compare sorted
        ("sort_array(ARRAYAGG(u, 'LONG'))",
         "sort_array(cast(collect_list(u) as array<bigint>))"),
        ("sort_array(ARRAYAGG(u, 'INT', true))",
         "sort_array(cast(collect_set(u) as array<int>))"),
        ("sort_array(ARRAYAGG(v, 'DOUBLE', false))",
         "sort_array(cast(collect_list(v) as array<double>))"),
    ],
)
def test_exprminmax_arrayagg_values_match(spark, agg_engine, pinot, spark_equiv):
    got = agg_engine.query(f"SELECT {pinot} AS x FROM aggsrc").collect()[0]["x"]
    want = spark.sql(f"SELECT {spark_equiv} AS x FROM aggsrc").collect()[0]["x"]
    assert got == want, (pinot, got, want)


def test_exprmin_multi_measure_matches_order_by_limit(spark, agg_engine):
    """The lexicographic contract itself: EXPRMIN(proj, m1, m2) projects
    the row ORDER BY m1, m2 puts first (ties beyond the measures are
    arbitrary — aggsrc's (v, t) pairs are unique, so the answer here is
    exact)."""
    got = agg_engine.query(
        "SELECT EXPRMIN(u, v, t) AS x FROM aggsrc"
    ).collect()[0]["x"]
    want = spark.sql(
        "SELECT u FROM aggsrc ORDER BY v ASC, t ASC LIMIT 1"
    ).collect()[0]["u"]
    assert got == want


def test_mv_route_exprmin_immune_arrayagg_bails():
    """Route classification for the round-8 names: EXPRMIN/EXPRMAX are
    duplication-immune (extremes over identical copies); ARRAYAGG
    collects every duplicated row, so it must bail the MV route."""
    assert RMV(
        "SELECT DISTINCTCOUNTMV(tags), EXPRMIN(g, amount) FROM t"
    ) is not None
    assert RMV(
        "SELECT DISTINCTCOUNTMV(tags), ARRAYAGG(g, 'STRING') FROM t"
    ) is None


# ---------------------------------------------------------------------------
# round 8: the exact Pinot array-function spellings (arraySortString,
# arrayIndexOfInt, ... — full type suffixes) + the generic numeric MV
# transforms + variadic VALUEIN  **[P1.2]**


@pytest.mark.parametrize(
    "q,want",
    [
        ("SELECT ARRAYSORTINT(CAST(array(3,1,2) AS ARRAY<INT>)) AS x",
         [1, 2, 3]),
        ("SELECT ARRAYSORTSTRING(array('b','a')) AS x", ["a", "b"]),
        ("SELECT ARRAYREVERSESTRING(array('a','b')) AS x", ["b", "a"]),
        ("SELECT ARRAYREVERSEINT(CAST(array(1,2) AS ARRAY<INT>)) AS x",
         [2, 1]),
        ("SELECT ARRAYDISTINCTINT(CAST(array(1,2,1) AS ARRAY<INT>)) AS x",
         [1, 2]),
        ("SELECT ARRAYDISTINCTSTRING(array('a','b','a')) AS x", ["a", "b"]),
        # arrayUnion*: dedup keeping FIRST-seen order
        ("SELECT ARRAYUNIONSTRING(array('b','a'), array('a','c')) AS x",
         ["b", "a", "c"]),
        ("SELECT ARRAYUNIONINT(CAST(array(2,1) AS ARRAY<INT>), "
         "CAST(array(1,3) AS ARRAY<INT>)) AS x", [2, 1, 3]),
        ("SELECT ARRAYCONCATSTRING(array('a'), array('b')) AS x",
         ["a", "b"]),
        ("SELECT ARRAYCONTAINSSTRING(array('a','b'), 'b') AS x", True),
        ("SELECT ARRAYCONTAINSINT(CAST(array(1) AS ARRAY<INT>), 2) AS x",
         False),
        # arrayIndexOf*: 0-based, -1 when absent
        ("SELECT ARRAYINDEXOFSTRING(array('a','b'), 'b') AS x", 1),
        ("SELECT ARRAYINDEXOFINT(CAST(array(5) AS ARRAY<INT>), 9) AS x",
         -1),
        # arraySlice*: 0-based half-open [from, to)
        ("SELECT ARRAYSLICEINT(CAST(array(0,1,2,3) AS ARRAY<INT>), 1, 3)"
         " AS x", [1, 2]),
        ("SELECT ARRAYMIN(CAST(array(3,1) AS ARRAY<DOUBLE>)) AS x", 1.0),
        ("SELECT ARRAYMAX(CAST(array(3,1) AS ARRAY<DOUBLE>)) AS x", 3.0),
        ("SELECT ARRAYSUM(CAST(array(3,1) AS ARRAY<DOUBLE>)) AS x", 4.0),
        ("SELECT ARRAYAVERAGE(CAST(array(3,1) AS ARRAY<DOUBLE>)) AS x",
         2.0),
        # arrayAverage of an empty array: NULL (documented), not NaN
        ("SELECT ARRAYAVERAGE(CAST(array() AS ARRAY<DOUBLE>)) AS x", None),
    ],
)
def test_pinot_array_scalar_spellings(agg_engine, q, want):
    assert agg_engine.query(q).collect()[0]["x"] == want


def test_valuein_filters_preserving_document_order(agg_engine):
    got = agg_engine.query(
        "SELECT VALUEIN(arr, 0, 1, 2) AS x "
        "FROM (SELECT array(1, 5, 2, 1) AS arr)"
    ).collect()[0]["x"]
    assert got == [1, 2, 1]


def test_valuein_rewrite_text_and_arity():
    assert R("SELECT VALUEIN(c, 'a', 'b') FROM t") == (
        "SELECT filter(c, x -> x IN ('a', 'b')) FROM t"
    )
    with pytest.raises(ValueError, match="VALUEIN"):
        R("SELECT VALUEIN(c) FROM t")


def test_exprmin_multi_measure_skips_null_measure_rows(spark, agg_engine):
    """A NULL in ANY measure must exclude the row from the extreme search
    (matching the 1-measure min_by contract), not sort it first."""
    spark.sql(
        "SELECT * FROM VALUES ('picked', 5.0, 1L), ('nullm', NULL, 0L) "
        "AS t(p, m1, m2)"
    ).createOrReplaceTempView("exprnull")
    got = agg_engine.query(
        "SELECT EXPRMIN(p, m1, m2) AS x FROM exprnull"
    ).collect()[0]["x"]
    assert got == "picked"


# ---------------------------------------------------------------------------
# round 8: the B42 IdSet wire spellings — IN_SUBQUERY served exactly as a
# relational IN-subquery; the serialized-base64 forms redirect loudly


def test_in_subquery_rewrite_text():
    got = R(
        "SELECT id FROM t WHERE IN_SUBQUERY(g, "
        "'SELECT ID_SET(g) FROM t WHERE id < 2') = 1"
    )
    assert got == (
        "SELECT id FROM t WHERE (CASE WHEN (g) IN "
        "(SELECT g FROM t WHERE id < 2) THEN 1 ELSE 0 END) = 1"
    )
    # no-underscore spelling, IDSET tuning literal ignored, nested Pinot
    # spellings inside the inner query rewrite too
    got2 = R(
        "SELECT * FROM t WHERE INSUBQUERY(u, "
        "'SELECT IDSET(u, ''expectedInsertions=100'') FROM s "
        "WHERE DISTINCTCOUNT(x) > 1') = 1"
    )
    assert "IN (SELECT u FROM s WHERE count(DISTINCT x) > 1)" in got2
    # a comment before the inner FROM is not code
    got3 = R(
        "SELECT id FROM t WHERE IN_SUBQUERY(k, "
        "'SELECT ID_SET(k) /* ids */ FROM d') = 1"
    )
    assert "IN (SELECT k /* ids */ FROM d)" in got3


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("IN_SUBQUERY(g)", "IN_SUBQUERY"),
        ("IN_SUBQUERY(g, 'SELECT max(x) FROM s')", "ID_SET"),
        ("IN_SUBQUERY(g, some_col)", "literal"),
        ("ID_SET(u)", "IN_SUBQUERY"),
        ("IDSET(u)", "IN_SUBQUERY"),
        ("IN_ID_SET(u, 'AAAA')", "relational"),
        ("INIDSET(u, 'AAAA')", "relational"),
    ],
)
def test_idset_spellings_reject_or_redirect_loudly(bad, msg):
    with pytest.raises(ValueError, match=msg):
        R(f"SELECT {bad} FROM t")


def test_in_subquery_values_match_relational_in(spark, agg_engine):
    got = agg_engine.query(
        "SELECT count(*) AS n FROM aggsrc WHERE IN_SUBQUERY(u, "
        "'SELECT ID_SET(u) FROM aggsrc WHERE v > 120') = 1"
    ).collect()[0]["n"]
    want = spark.sql(
        "SELECT count(*) AS n FROM aggsrc "
        "WHERE u IN (SELECT u FROM aggsrc WHERE v > 120)"
    ).collect()[0]["n"]
    assert got == want and got > 0


def test_in_partitioned_subquery_same_contract(agg_engine):
    a = agg_engine.query(
        "SELECT count(*) AS n FROM aggsrc WHERE IN_PARTITIONED_SUBQUERY("
        "u, 'SELECT ID_SET(u) FROM aggsrc WHERE v > 120') = 1"
    ).collect()[0]["n"]
    b = agg_engine.query(
        "SELECT count(*) AS n FROM aggsrc WHERE IN_SUBQUERY(u, "
        "'SELECT ID_SET(u) FROM aggsrc WHERE v > 120') = 1"
    ).collect()[0]["n"]
    assert a == b


def test_funnelstepdurationstats_redirects_loudly():
    with pytest.raises(ValueError, match="operators/funnel"):
        R("SELECT FUNNELSTEPDURATIONSTATS(ts, '1000', 2, "
          "'a = 1', 'a = 2') FROM t")


def test_fourthmoment_matches_direct_sum(spark, agg_engine):
    """FOURTHMOMENT = the unnormalized sum((x - mean)^4) commons-math
    keeps (the skewness/kurtosis star-tree state); the rewrite's
    (kurtosis + 3) * var_pop^2 * n identity must be exact."""
    got = agg_engine.query(
        "SELECT FOURTHMOMENT(v) AS x FROM aggsrc"
    ).collect()[0]["x"]
    direct = spark.sql(
        "SELECT sum(power(v - m, 4)) AS x "
        "FROM aggsrc CROSS JOIN (SELECT avg(v) AS m FROM aggsrc)"
    ).collect()[0]["x"]
    assert abs(got - direct) <= 1e-9 * abs(direct)


def test_groovy_is_rejected_for_security():
    with pytest.raises(ValueError, match="never served"):
        R("SELECT GROOVY('{\"returnType\":\"INT\"}', 'arg0+1', v) FROM t")


@pytest.mark.parametrize(
    "q,want",
    [
        ("SELECT REMOVE('banana', 'an') AS x", "ba"),
        ("SELECT HAMMINGDISTANCE('karolin', 'kathrin') AS x", 3),
        ("SELECT HAMMINGDISTANCE('ab', 'abc') AS x", -1),
        ("SELECT HAMMINGDISTANCE('same', 'same') AS x", 0),
        ('SELECT ISJSON(\'{"a": 1}\') AS x', True),
        ("SELECT ISJSON('not json') AS x", False),
        ("SELECT ISJSON(NULL) AS x", None),
    ],
)
def test_string_json_tail_macros(agg_engine, q, want):
    assert agg_engine.query(q).collect()[0]["x"] == want


def test_millisecond_of_epoch_millis(agg_engine):
    assert agg_engine.query(
        "SELECT MILLISECOND(90061234) AS x"
    ).collect()[0]["x"] == 234


def test_round8_review_fixes(agg_engine):
    """Round-8 review findings: FOURTHMOMENT is 0 (not NULL) for
    zero-variance and single-row groups; MILLISECOND lands in 0-999 for
    pre-1970 epochs; IN_SUBQUERY rejects an empty ID_SET(); ARRAYAGG
    rejects malformed isDistinct quoting."""
    assert agg_engine.query(
        "SELECT FOURTHMOMENT(v) AS x FROM (SELECT 5.0 AS v UNION ALL "
        "SELECT 5.0 UNION ALL SELECT 5.0)"
    ).collect()[0]["x"] == 0.0
    assert agg_engine.query(
        "SELECT FOURTHMOMENT(v) AS x FROM (SELECT 7.0 AS v)"
    ).collect()[0]["x"] == 0.0
    assert agg_engine.query(
        "SELECT FOURTHMOMENT(v) AS x FROM (SELECT CAST(NULL AS DOUBLE) "
        "AS v)"
    ).collect()[0]["x"] is None
    assert agg_engine.query(
        "SELECT MILLISECOND(-1) AS x"
    ).collect()[0]["x"] == 999
    with pytest.raises(ValueError, match="ID_SET needs a column"):
        R("SELECT x FROM t WHERE IN_SUBQUERY(g, 'SELECT ID_SET() FROM t')"
          " = 1")
    with pytest.raises(ValueError, match="true/false|literal"):
        R("SELECT ARRAYAGG(v, 'INT', '''true') FROM t")
    # an unbalanced quote trips the call-site scanner itself — loud too
    with pytest.raises(ValueError, match="true/false|literal|unbalanced"):
        R("SELECT ARRAYAGG(v, 'INT', 'true) FROM t GROUP BY g")


def test_scalar_rewrite_names_do_not_bail_routes(mv_engine):
    """Round-8 review: the engine's own textual-rewrite scalars
    (JSONEXTRACTSCALAR/DATETIMECONVERT/VALUEIN) are deliberately absent
    from the catalog, so the fail-safe classified them as aggregates and
    bailed every routable statement that merely mentioned them."""
    assert not mv_engine._is_catalog_aggregate("JSONEXTRACTSCALAR")
    assert not mv_engine._is_catalog_aggregate("DATETIMECONVERT")
    assert not mv_engine._is_catalog_aggregate("valuein")
    src = (
        "SELECT g, DISTINCTCOUNTMV(tags) FROM t "
        "WHERE JSONEXTRACTSCALAR(js, '$.a', 'STRING') = 'x' GROUP BY g"
    )
    assert RMV(src, is_aggregate=mv_engine._is_catalog_aggregate) is not None


def test_catalog_predicate_is_a_point_lookup(mv_engine, monkeypatch):
    """The aggregate test asks the catalog for the one name: it never
    enumerates the session's functions (listFunctions took seconds on a
    session holding hundreds of them)."""
    def enumerate_all(*a, **k):
        raise AssertionError("listFunctions called")

    monkeypatch.setattr(mv_engine.spark.catalog, "listFunctions", enumerate_all)
    assert mv_engine._is_catalog_aggregate("definitely_not_a_function")
    assert mv_engine._is_catalog_aggregate("sum")
    assert not mv_engine._is_catalog_aggregate("upper")
    assert not mv_engine._is_catalog_aggregate("ARRAYMIN")  # Pinot macro


def test_tuple_value_route_sums_at_native_type(spark, agg_engine):
    """Round-8 review: per-key int64 sums above 2^53 must stay exact —
    the inner level sums at the native type, the double cast happens
    once on the outer level."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    big = 9007199254740993  # 2^53 + 1: not representable as double
    spark.sql(
        f"SELECT * FROM VALUES (1L, {big}L), (1L, 1L) AS t(k, v)"
    ).createOrReplaceTempView("tupnat")
    routed = rewrite_keyed_agg_statement(
        "SELECT SUMVALUESINTEGERSUMTUPLESKETCH(k, v) AS s FROM tupnat"
    )
    assert routed is not None
    got = agg_engine.query(routed).collect()[0]["s"]
    # exact int64 sum is 2^53 + 2, which IS double-representable; the
    # old cast-first form computed 2^53 + 1 -> 2^53, then + 1 = 2^53+... 
    assert got == float(big + 1)


def test_jsonextractindex_shares_the_scalar_contract(agg_engine):
    """Pinot 1.2 jsonExtractIndex: the json-index-backed twin of
    JSONEXTRACTSCALAR — same args, same answer (the index is an access
    path, not a semantic); the 5-arg filter form rejects loudly."""
    got = agg_engine.query(
        'SELECT JSONEXTRACTINDEX(\'{"a": {"b": 7}}\', \'$.a.b\', '
        "'LONG') AS x"
    ).collect()[0]["x"]
    assert got == 7
    with pytest.raises(ValueError, match="JSONEXTRACTINDEX"):
        R("SELECT JSONEXTRACTINDEX(js, '$.a', 'LONG', 0, '\"$.f\" = 1') "
          "FROM t")


def test_percentilemv_routes_past_scalar_rewrite_names(spark, mv_engine):
    """The round-8 review's exact hard-error repro: a loud-fallback-only
    spelling (PERCENTILEMV) co-occurring with JSONEXTRACTSCALAR must
    route, not raise."""
    spark.sql(
        "SELECT * FROM VALUES ('a', array(1.0D, 2.0D), '{\"f\": \"x\"}'), "
        "('a', array(3.0D), '{\"f\": \"x\"}') AS t(g, vals, js)"
    ).createOrReplaceTempView("pmv_scalar")
    got = mv_engine.query(
        "SELECT g, PERCENTILEMV(vals, 50) AS p50 FROM pmv_scalar "
        "WHERE JSONEXTRACTSCALAR(js, '$.f', 'STRING') = 'x' GROUP BY g"
    ).collect()
    assert got[0]["p50"] == 2.0


def test_keyed_route_survives_datetimeconvert(mv_engine):
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    src = (
        "SELECT SUMVALUESINTEGERSUMTUPLESKETCH(k, v) AS s FROM t "
        "WHERE DATETIMECONVERT(ts, '1:MILLISECONDS:EPOCH', "
        "'1:HOURS:EPOCH', '1:HOURS') > 10"
    )
    assert rewrite_keyed_agg_statement(
        src, is_aggregate=mv_engine._is_catalog_aggregate
    ) is not None


def test_jsonextractindex_is_a_known_scalar_for_routes(mv_engine):
    """Second round-8 review pass: JSONEXTRACTINDEX was missing from the
    scalar classification and re-bailed the routes; the set is now
    DERIVED from the scalar-rewrite dict so an omission is impossible."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _REWRITES,
        _SCALAR_REWRITES,
        SCALAR_REWRITE_NAMES,
    )

    assert "JSONEXTRACTINDEX" in SCALAR_REWRITE_NAMES
    assert SCALAR_REWRITE_NAMES == frozenset(_SCALAR_REWRITES)
    assert set(_SCALAR_REWRITES) <= set(_REWRITES)
    src = (
        "SELECT g, DISTINCTCOUNTMV(tags) FROM t "
        "WHERE JSONEXTRACTINDEX(js, '$.a', 'STRING') = 'x' GROUP BY g"
    )
    assert RMV(src, is_aggregate=mv_engine._is_catalog_aggregate) is not None


def test_catalog_predicate_sees_a_function_created_after_a_miss(
    spark, mv_engine
):
    """No miss is cached: a SQL macro created after the name was first
    looked up is classified as the scalar it is, not as the aggregate
    the earlier miss would have made it."""
    name = "late_scalar_fn"
    assert mv_engine._is_catalog_aggregate(name)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(x INT) RETURNS INT "
        "RETURN x + 1"
    )
    try:
        assert not mv_engine._is_catalog_aggregate(name)
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
    assert mv_engine._is_catalog_aggregate(name)


# ---------------------------------------------------------------------------
# round 8: Pinot strips underscores when resolving function names, so
# both spellings of each pair resolve on a real broker


@pytest.mark.parametrize(
    "src,want",
    [
        ("SELECT ARGMIN(ts, v) FROM t", "SELECT min_by(v, ts) FROM t"),
        ("SELECT argmax(ts, v) FROM t", "SELECT max_by(v, ts) FROM t"),
        ("SELECT EXPR_MIN(p, m) FROM t", "SELECT min_by(p, m) FROM t"),
        ("SELECT expr_max(p, m) FROM t", "SELECT max_by(p, m) FROM t"),
        # ARRAY_AGG arity-dispatch: 1 arg is Spark's own builtin
        ("SELECT ARRAY_AGG(v) FROM t", "SELECT array_agg(v) FROM t"),
        ("SELECT ARRAY_AGG(v, 'LONG') FROM t",
         "SELECT cast(collect_list(v) as array<bigint>) FROM t"),
        ("SELECT FASTHLL(u) FROM t",
         "SELECT greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0) FROM t"),
        ("SELECT DISTINCTCOUNTRAWCPCSKETCH(u) FROM t",
         "SELECT count(DISTINCT u) FROM t"),
        ("SELECT DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH(u) FROM t",
         "SELECT count(DISTINCT u) FROM t"),
    ],
)
def test_underscore_variant_spellings(src, want):
    assert R(src) == want


def test_sumarray_rejects_with_bounded_recipe():
    for name in ("SUMARRAYLONG", "SUMARRAYDOUBLE"):
        with pytest.raises(ValueError, match="POSEXPLODE"):
            R(f"SELECT {name}(arr) FROM t")


def test_underscore_stripping_serves_the_whole_table():
    """Pinot strips underscores for EVERY name, not a curated subset —
    the dispatch now mirrors that at lookup time."""
    assert R("SELECT MIN_MAX_RANGE(v) FROM t") == (
        "SELECT (max(v) - min(v)) FROM t"
    )
    assert R("SELECT DISTINCT_COUNT(u) FROM t") == (
        "SELECT count(DISTINCT u) FROM t"
    )
    assert R("SELECT SUM_PRECISION(v) FROM t") == (
        "SELECT sum(cast(v as decimal(38,18))) FROM t"
    )
    assert R("SELECT FAST_HLL(u) FROM t") == (
        "SELECT greatest(hll_sketch_estimate(hll_sketch_agg(u)), 0) FROM t"
    )


def test_underscore_stripping_never_shadows_spark_builtins(spark):
    """Audit invariant: no Spark builtin with an underscore may resolve
    through the stripped lookup to a DIFFERENT expression — the guard
    set must cover every collision in the live catalog."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _REWRITES,
        _UNDERSCORE_KEEP_NATIVE,
    )

    for f in spark.catalog.listFunctions():
        n = f.name.upper()
        if "_" in n and n.replace("_", "") in _REWRITES and n not in _REWRITES:
            assert n in _UNDERSCORE_KEEP_NATIVE, (
                f"{n} would be shadowed by the stripped lookup"
            )
    # and the guarded names stay native
    assert R("SELECT VAR_POP(v) FROM t") == "SELECT VAR_POP(v) FROM t"


def test_nontheta_set_expression_message_is_truthful():
    with pytest.raises(ValueError, match="THETA-sketch spelling"):
        R("SELECT DISTINCTCOUNTRAWCPCSKETCH(u, 'p', 'x', "
          "'SET_UNION($1)') FROM t")
    with pytest.raises(ValueError, match="restructure"):
        R("SELECT DISTINCTCOUNTTHETASKETCH(u, 'p', 'x', "
          "'SET_UNION($1)') FROM t")


def test_every_underscored_entry_has_its_stripped_twin():
    """Pinot's canonical (resolver) form is the underscore-FREE one, and
    the stripped lookup only helps users typing underscores — so every
    underscored table key must also register its stripped twin
    explicitly, or that canonical spelling falls through."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _REWRITES,
    )

    missing = [
        k for k in _REWRITES
        if "_" in k and k.replace("_", "") not in _REWRITES
    ]
    assert not missing, missing


def test_underscored_mv_spelling_routes_identically(spark, mv_engine):
    """Second review of the stripping change: canonicalization must run
    BEFORE the statement routes, so DISTINCT_COUNT_HLL_MV gets the same
    bounded routed plan (and the same HLL answer) as DISTINCTCOUNTHLLMV
    — not the exact unbounded fallback."""
    df = mv_engine.query(
        "SELECT g, DISTINCT_COUNT_HLL_MV(tags) AS d FROM mvsrc "
        "GROUP BY g ORDER BY g"
    )
    # values agree in HLL's sparse-exact regime either way, so pin the
    # PLAN: the underscored spelling must get the routed bounded shape
    # (explode + sketch agg), never the collect_set fallback
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "hll_sketch_agg" in plan and "collect_set" not in plan
    b = mv_engine.query(
        "SELECT g, DISTINCTCOUNTHLLMV(tags) AS d FROM mvsrc "
        "GROUP BY g ORDER BY g"
    ).collect()
    assert df.collect() == b


def test_underscored_percentile_mv_routes_not_errors(spark, mv_engine):
    spark.sql(
        "SELECT * FROM VALUES ('a', array(1.0D, 2.0D)), ('a', array(3.0D)) "
        "AS t(g, vals)"
    ).createOrReplaceTempView("pmv_us")
    got = mv_engine.query(
        "SELECT g, PERCENTILE_MV(vals, 50) AS p FROM pmv_us GROUP BY g"
    ).collect()
    assert got[0]["p"] == 2.0


def test_registered_udf_is_never_shadowed_by_stripping(spark, mv_engine):
    """A runtime-registered UDF whose name strips into a table key must
    keep resolving to the user's function through Engine.query."""
    spark.udf.register("fast_hll", lambda x: 777, "int")
    try:
        got = mv_engine.query("SELECT fast_hll(1) AS x").collect()[0]["x"]
        assert got == 777
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS fast_hll")


def test_underscored_scalar_mention_does_not_bail_routes(spark, mv_engine):
    """JSON_EXTRACT_SCALAR canonicalizes to a known scalar before route
    classification, so a routable statement mentioning it still routes."""
    spark.sql(
        "SELECT * FROM VALUES ('a', array(1.0D, 2.0D), '{\"f\": \"x\"}') "
        "AS t(g, vals, js)"
    ).createOrReplaceTempView("pmv_us2")
    got = mv_engine.query(
        "SELECT g, PERCENTILE_MV(vals, 50) AS p FROM pmv_us2 "
        "WHERE JSON_EXTRACT_SCALAR(js, '$.f', 'STRING') = 'x' GROUP BY g"
    ).collect()
    assert got[0]["p"] == 1.5


def test_cte_named_like_a_spelling_is_not_a_call_site(agg_engine):
    """Final round-8 review: a CTE column-list definition whose name
    matches a Pinot spelling (WITH funnel_count (a, b) AS ...) must not
    be treated as a call site — in either the canonicalizer or the
    rewrite dispatch."""
    rows = agg_engine.query(
        "WITH funnel_count (step, cnt) AS (SELECT 1, 2) "
        "SELECT step, cnt FROM funnel_count"
    ).collect()
    assert rows[0]["step"] == 1 and rows[0]["cnt"] == 2
    commented = (
        "WITH funnel_count (step, cnt) /* c */ AS (SELECT 1, 2) "
        "SELECT * FROM funnel_count"
    )
    assert R(commented) == commented
    rows2 = agg_engine.query(
        "WITH DISTINCTCOUNT (x) AS (SELECT 9) SELECT x FROM DISTINCTCOUNT"
    ).collect()
    assert rows2[0]["x"] == 9


def test_udf_registered_after_a_miss_is_not_shadowed(spark, mv_engine):
    """Final round-8 review: the keep-native guard must be a live point
    lookup — a cached catalog miss recorded BEFORE the UDF was
    registered must not shadow it afterwards."""
    try:
        mv_engine.query("SELECT fast_hll(1) AS x").collect()
    except Exception:
        pass  # expected: not registered yet (miss is now cached)
    spark.udf.register("fast_hll", lambda x: 555, "int")
    try:
        got = mv_engine.query("SELECT fast_hll(2) AS x").collect()[0]["x"]
        assert got == 555
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS fast_hll")


def test_in_subquery_inner_rewrite_inherits_keep_native(spark, mv_engine):
    """Final round-8 review: the IN_SUBQUERY builder rewrites its quoted
    inner SQL through a nested pass — the caller's live-catalog guard
    must apply there too, so a registered UDF inside the subquery is
    not stripped into a Pinot spelling."""
    spark.udf.register("fast_hll", lambda x: int(x), "bigint")
    spark.sql("SELECT * FROM VALUES (1L), (2L) AS t(u)").createOrReplaceTempView(
        "insub_kn"
    )
    try:
        got = mv_engine.query(
            "SELECT count(*) AS n FROM insub_kn WHERE IN_SUBQUERY(u, "
            "'SELECT ID_SET(fast_hll(u)) FROM insub_kn WHERE u < 2') = 1"
        ).collect()[0]["n"]
        assert got == 1
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS fast_hll")


# -- round-8 session tail: BOOLAND/BOOLOR, MODE reducers, ST_UNION ------------


@pytest.mark.parametrize(
    "src,want",
    [
        ("SELECT BOOLAND(b) FROM t",
         "SELECT bool_and(cast(b as boolean)) FROM t"),
        ("SELECT boolOr(b) FROM t GROUP BY g",
         "SELECT bool_or(cast(b as boolean)) FROM t GROUP BY g"),
        # Spark's native pair stays native (keep-native guard)
        ("SELECT BOOL_AND(b) FROM t", "SELECT BOOL_AND(b) FROM t"),
        ("SELECT bool_or(b) FROM t", "SELECT bool_or(b) FROM t"),
        # MODE: bare = Pinot's default MIN reducer, made deterministic
        ("SELECT MODE(v) FROM t", "SELECT mode(v, true) FROM t"),
        ("SELECT MODE(v, 'MIN') FROM t", "SELECT mode(v, true) FROM t"),
        ("SELECT MODE(v, 'MAX') FROM t",
         "SELECT (- mode((- (v)), true)) FROM t"),
        # Spark's own deterministic-flag form passes through untouched
        ("SELECT mode(v, true) FROM t", "SELECT mode(v, true) FROM t"),
        ("SELECT mode(v, false) FROM t", "SELECT mode(v, false) FROM t"),
    ],
)
def test_bool_mode_text_cases(src, want):
    assert R(src) == want


def test_booland_arity_error_is_loud():
    with pytest.raises(ValueError, match="BOOLAND"):
        R("SELECT BOOLAND(a, b) FROM t")


def test_mode_avg_reducer_rejected_loudly():
    with pytest.raises(ValueError, match="MODE.*tied modes"):
        R("SELECT MODE(v, 'AVG') FROM t")
    with pytest.raises(ValueError, match="reducer"):
        R("SELECT MODE(v, 'MEDIAN') FROM t")


def test_st_union_redirects_loudly():
    for name in ("ST_UNION", "STUNION", "st_union"):
        with pytest.raises(ValueError, match="POINT structs"):
            R(f"SELECT {name}(p) FROM t")


def test_booland_boolor_values(spark, agg_engine):
    """Pinot accepts the 0/1-int boolean storage directly; the rewrite's
    cast makes Spark agree.  t % 2 is 0/1 over 100 rows, so AND is
    false and OR is true; per-group u = 5 has only odd t when... (just
    compare against the explicit predicate forms)."""
    got = agg_engine.query(
        "SELECT BOOLAND(t % 2) AS a, BOOLOR(t % 2) AS o, "
        "BOOLAND(v >= 0) AS all_pos FROM aggsrc"
    ).collect()[0]
    want = spark.sql(
        "SELECT bool_and(t % 2 = 1) AS a, bool_or(t % 2 = 1) AS o, "
        "bool_and(v >= 0) AS all_pos FROM aggsrc"
    ).collect()[0]
    assert (got.a, got.o, got.all_pos) == (want.a, want.o, want.all_pos)
    assert (got.a, got.o, got.all_pos) == (False, True, True)


def test_mode_reducers_resolve_ties_like_pinot(spark, agg_engine):
    """aggsrc's u = id % 7 over 100 rows: u=0 and u=1 both appear 15
    times (the tied modes), u=2..6 appear 14.  Pinot's default reducer
    MIN returns 0, MAX returns 1 — exactly what the deterministic
    mode / negation identity give."""
    row = agg_engine.query(
        "SELECT MODE(u) AS dflt, MODE(u, 'MIN') AS lo, "
        "MODE(u, 'MAX') AS hi FROM aggsrc"
    ).collect()[0]
    assert (row.dflt, row.lo, row.hi) == (0, 0, 1)


def test_mode_max_reducer_on_doubles(agg_engine):
    """The negation identity must hold for fractional values too."""
    row = agg_engine.query(
        "SELECT MODE(v / 2, 'MAX') AS hi FROM aggsrc"
    ).collect()[0]
    # v = id * 1.5 is unique per row -> every value ties at count 1 ->
    # MAX reducer returns the largest value: 99 * 1.5 / 2
    assert row.hi == pytest.approx(99 * 1.5 / 2)


@pytest.mark.parametrize(
    "q,want",
    [
        # regexpReplace: Pinot's canonical no-underscore spelling
        ("SELECT REGEXPREPLACE('a1b2c3', '[0-9]', '_') AS x", "a_b_c_"),
        # timezoneMinute: the epoch-shift reading Pinot itself returns
        ("SELECT TIMEZONEMINUTE('Asia/Kolkata') AS x", 30),
        ("SELECT TIMEZONEMINUTE('UTC') AS x", 0),
        # toEpoch*Rounded: floored to the nearest multiple of n
        ("SELECT TOEPOCHSECONDSROUNDED(1613472303000, 10) AS x",
         1613472300),
        ("SELECT TOEPOCHMINUTESROUNDED(1613472303000, 15) AS x",
         26891205),
        ("SELECT TOEPOCHHOURSROUNDED(1613472303000, 6) AS x", 448182),
        ("SELECT TOEPOCHDAYSROUNDED(1613472303000, 7) AS x", 18669),
        # toEpoch*Bucket: the bucket ordinal
        ("SELECT TOEPOCHSECONDSBUCKET(1613472303000, 10) AS x",
         161347230),
        ("SELECT TOEPOCHDAYSBUCKET(1613472303000, 7) AS x", 2667),
        # fromEpoch*Bucket: the inverse, back to millis
        ("SELECT FROMEPOCHSECONDSBUCKET(161347230, 10) AS x",
         1613472300000),
        ("SELECT FROMEPOCHDAYSBUCKET(2667, 7) AS x", 1613001600000),
        # the Pinot doc hash spellings
        ("SELECT SHA256(TOUTF8('abc')) AS x",
         "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"),
        # arrayRemove*: every occurrence removed
        ("SELECT ARRAYREMOVEINT(array(1, 2, 1, 3), 1) AS x", [2, 3]),
        ("SELECT ARRAYREMOVESTRING(array('a', 'b', 'a'), 'a') AS x",
         ["b"]),
        ("SELECT ARRAYCONCATLONG(array(1L), array(2L, 3L)) AS x",
         [1, 2, 3]),
        ("SELECT ARRAYCONCATDOUBLE(array(1.5D), array(2.5D)) AS x",
         [1.5, 2.5]),
    ],
)
def test_scalar_tail_macros(agg_engine, q, want):
    assert agg_engine.query(q).collect()[0]["x"] == want


def test_epoch_bucket_roundtrip(agg_engine):
    """fromEpochXXXBucket(toEpochXXXBucket(m, n), n) floors m to the
    bucket start — the Pinot ingestion-rollup identity."""
    row = agg_engine.query(
        "SELECT FROMEPOCHMINUTESBUCKET("
        "TOEPOCHMINUTESBUCKET(1613472303000, 15), 15) AS x"
    ).collect()[0]
    assert row.x == 1613472300000
    assert row.x <= 1613472303000 < row.x + 15 * 60000


# -- SUMARRAYLONG/SUMARRAYDOUBLE positional statement route -------------------


from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (  # noqa: E402
    rewrite_sumarray_statement,
)


def test_sumarray_route_text_shape():
    routed = rewrite_sumarray_statement(
        "SELECT g, SUMARRAYLONG(arr) AS s FROM t WHERE g > 0 GROUP BY g"
    )
    assert routed is not None
    assert "LATERAL VIEW OUTER POSEXPLODE(arr)" in routed
    assert "GROUP BY g, __sa_pos" in routed
    assert "sum(__sa_elem) AS __sa_v" in routed
    assert "WHERE g > 0 GROUP BY" in routed  # WHERE moved inside
    assert "cast(x.__sa_v as bigint)" in routed
    # the double spelling differs only in the element cast
    routed_d = rewrite_sumarray_statement(
        "SELECT SUMARRAYDOUBLE(arr) FROM t"
    )
    assert "cast(x.__sa_v as double)" in routed_d
    # commented spellings route to the same text, apart from the comment
    src = "SELECT g, SUMARRAYLONG(arr) AS s FROM t WHERE g > 0 GROUP BY g"
    assert rewrite_sumarray_statement("/* dashboard */ " + src) == (
        "/* dashboard */ " + routed
    )
    assert rewrite_sumarray_statement(
        src.replace(" GROUP BY", " -- big\nGROUP BY")
    ) == routed
    # a literal is not code: 'select' in a FILTER pred is no subquery
    assert rewrite_sumarray_statement(
        "SELECT g, SUMARRAYLONG(arr) FILTER (WHERE s <> 'select') AS s "
        "FROM t GROUP BY g"
    ) == (
        "SELECT g, transform(array_sort(collect_list(CASE WHEN __sa_pos "
        "IS NOT NULL THEN struct(__sa_pos, __sa_v) END)), x -> "
        "cast(x.__sa_v as bigint)) AS s FROM (SELECT g, __sa_pos, "
        "sum(__sa_elem) AS __sa_v FROM t LATERAL VIEW OUTER POSEXPLODE("
        "CASE WHEN (s <> 'select') THEN (arr) END) __sa AS __sa_pos, "
        "__sa_elem GROUP BY g, __sa_pos) __sa GROUP BY g"
    )


@pytest.mark.parametrize(
    "stmt",
    [
        # two DIFFERENT array expressions cannot share one explode
        "SELECT SUMARRAYLONG(a), SUMARRAYLONG(b) FROM t",
        # non-decomposable co-aggregates keep the fallback
        "SELECT g, SUMARRAYLONG(a), count(DISTINCT u) FROM t GROUP BY g",
        "SELECT g, SUMARRAYLONG(a), percentile(v, 0.5) FROM t GROUP BY g",
        # windows / malformed joins / set-ops bail at the shape parse
        # (USING routes since round 11 — the residual bail is a flavor
        # with a condition it cannot carry)
        "SELECT SUMARRAYLONG(a), row_number() OVER (ORDER BY g) FROM t",
        "SELECT SUMARRAYLONG(a) FROM t CROSS JOIN d USING (k)",
        "SELECT SUMARRAYLONG(a) FROM t UNION ALL SELECT array(1L) FROM t",
        # a route target inside a subquery is another statement's
        "SELECT (SELECT SUMARRAYLONG(a) FROM u) FROM t",
        # arity is the call site's loud error, not the route's
        "SELECT SUMARRAYLONG(a, b) FROM t",
    ],
)
def test_sumarray_route_bails(stmt):
    assert rewrite_sumarray_statement(stmt) is None


def test_sumarray_unroutable_rejects_loudly():
    with pytest.raises(ValueError, match="SUMARRAYLONG.*positional"):
        R("SELECT SUMARRAYLONG(a), count(DISTINCT u) FROM t")


@pytest.fixture(scope="module")
def sumarray_engine(spark, tmp_path_factory):
    rows = [
        (1, [1, 2, 3]), (1, [10, 20]), (1, []),
        (2, None), (2, [5]),
        (3, None),
        (4, [None, 7]), (4, [4, None]),
    ]
    spark.createDataFrame(
        rows, "g INT, arr ARRAY<INT>"
    ).createOrReplaceTempView("sasrc")
    return Engine(spark, str(tmp_path_factory.mktemp("wh")))


def test_sumarray_route_values(sumarray_engine):
    """Ragged arrays sum per present position; empty/NULL-array groups
    stay alive answering []; NULL elements are skipped (an all-NULL
    position answers NULL)."""
    got = {
        r.g: (r.s, r.n)
        for r in sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(arr) AS s, count(*) AS n "
            "FROM sasrc GROUP BY g ORDER BY g"
        ).collect()
    }
    assert got == {
        1: ([11, 22, 3], 3),
        2: ([5], 2),
        3: ([], 1),
        4: ([4, 7], 2),
    }


def test_sumarray_route_global_and_double(sumarray_engine):
    row = sumarray_engine.query(
        "SELECT SUMARRAYDOUBLE(arr) AS s, avg(g) AS m, min(g) AS lo, "
        "sum(g) AS tot FROM sasrc WHERE g <= 2"
    ).collect()[0]
    assert row.s == [16.0, 22.0, 3.0]
    assert row.m == pytest.approx((1 + 1 + 1 + 2 + 2) / 5)
    assert (row.lo, row.tot) == (1, 7)


def test_sumarray_route_having_order(sumarray_engine):
    rows = sumarray_engine.query(
        "SELECT g, SUMARRAYLONG(arr) AS s FROM sasrc GROUP BY g "
        "HAVING count(*) > 1 ORDER BY g DESC"
    ).collect()
    assert [r.g for r in rows] == [4, 2, 1]
    assert rows[0].s == [4, 7]


def test_sumarray_route_plan_is_bounded(sumarray_engine):
    """The routed plan is posexplode + two hash-aggregate levels; the
    only collection is the outer (pos, sum) struct list — bounded by the
    max array length, never whole input arrays."""
    df = sumarray_engine.query(
        "SELECT g, SUMARRAYLONG(arr) AS s FROM sasrc GROUP BY g"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate posexplode" in plan
    assert "collect_list(CASE WHEN" in plan
    # the inner per-(g, pos) level partial-aggregates map-side
    assert plan.count("HashAggregate") >= 2 or (
        "HashAggregate" in plan and "ObjectHashAggregate" in plan
    )


def test_sumarray_route_fuzz_matches_reference(spark, sumarray_engine):
    """Property: the routed answer equals the per-position Python
    reference on random ragged data (NULL arrays, NULL elements, empty
    arrays, empty groups-after-WHERE)."""
    import random

    rng = random.Random(8)
    rows = []
    for _ in range(300):
        g = rng.randint(0, 6)
        if rng.random() < 0.15:
            arr = None
        else:
            arr = [
                None if rng.random() < 0.2 else rng.randint(-50, 50)
                for _ in range(rng.randint(0, 5))
            ]
        rows.append((g, arr))
    spark.createDataFrame(
        rows, "g INT, arr ARRAY<INT>"
    ).createOrReplaceTempView("safuzz")
    expect = {}
    for g, arr in rows:
        if g >= 5:
            continue  # the WHERE below filters these
        sums = expect.setdefault(g, [])
        for i, v in enumerate(arr or []):
            while len(sums) <= i:
                sums.append(None)
            if v is not None:
                sums[i] = (sums[i] or 0) + v
    got = {
        r.g: r.s
        for r in sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(arr) AS s FROM safuzz "
            "WHERE g < 5 GROUP BY g"
        ).collect()
    }
    assert got == expect


def test_mode_within_group_form_passes_through():
    """Post-review: Spark's zero-arg mode() WITHIN GROUP (ORDER BY ...)
    inverse-distribution form must not hit the arity error."""
    src = "SELECT mode() WITHIN GROUP (ORDER BY v) FROM t"
    assert R(src) == src


def test_mode_within_group_answers(agg_engine):
    got = agg_engine.query(
        "SELECT mode() WITHIN GROUP (ORDER BY u) AS m FROM aggsrc"
    ).collect()[0]["m"]
    assert got in (0, 1)  # the two tied modes; Spark picks one


def test_mode_max_long_min_value_fails_loudly(agg_engine):
    """Post-review: the MAX reducer's negation identity overflows on
    Long.MIN_VALUE — pinned as a LOUD ANSI failure (the keyed route's
    loud-over-silent policy), never a silently inverted answer."""
    import py4j.protocol

    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        agg_engine.query(
            "SELECT MODE(v, 'MAX') AS m FROM (SELECT "
            "cast(-9223372036854775808 as bigint) AS v)"
        ).collect()


def test_sumarray_target_filter_clause_folds(sumarray_engine):
    """Round 11: FILTER on a SUMARRAY target folds by masking the
    exploded array — pred-failing rows become NULL arrays (one
    first-copy row, zero positions), so positional sums AND the output
    length see only passing arrays.  Unfoldable preds and mixed preds
    across targets keep the loud reject (one shared explode)."""
    routed = rewrite_sumarray_statement(
        "SELECT g, SUMARRAYLONG(arr) FILTER (WHERE g > 1) "
        "FROM t GROUP BY g"
    )
    assert routed is not None
    assert "CASE WHEN (g > 1) THEN (arr) END" in routed
    assert rewrite_sumarray_statement(
        "SELECT SUMARRAYLONG(arr) FILTER (WHERE ) FROM t"
    ) is None
    assert rewrite_sumarray_statement(
        "SELECT SUMARRAYLONG(arr) FILTER (WHERE x > 0) AS a, "
        "SUMARRAYDOUBLE(arr) FILTER (WHERE x < 0) AS b FROM t"
    ) is None
    sumarray_engine.spark.createDataFrame(
        [
            (1, "k", [1, 2, 3]), (1, "x", [10, 20]), (1, "k", []),
            (2, "x", [5]), (2, "k", None),
            (3, "k", [None, 7]), (3, "k", [4, None]),
            (4, "x", [9]),
        ],
        "g INT, tag STRING, arr ARRAY<INT>",
    ).createOrReplaceTempView("saflt")
    got = {
        r.g: (r.s, r.n)
        for r in sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(arr) FILTER (WHERE tag = 'k') AS s, "
            "count(*) AS n FROM saflt GROUP BY g"
        ).collect()
    }
    # only 'k' arrays feed the positional sums AND the output length;
    # count(*) carries no FILTER and still counts every row; a group
    # whose every row fails answers [] but stays alive
    assert got == {
        1: ([1, 2, 3], 3),
        2: ([], 2),
        3: ([4, 7], 2),
        4: ([], 1),
    }


def test_st_union_both_spellings_share_one_message():
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions import aggsql

    msgs = []
    for n in ("ST_UNION", "STUNION"):
        with pytest.raises(ValueError) as ei:
            R(f"SELECT {n}(p) FROM t")
        msgs.append(str(ei.value).replace(n, "<NAME>", 1))
    assert msgs[0] == msgs[1]


def test_keyed_route_still_allows_multiarg_count(spark):
    """The shared co-site classifier must preserve the keyed route's
    multi-argument COUNT allowance (rows are not duplicated there)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    routed = rewrite_keyed_agg_statement(
        "SELECT g, SUMVALUESINTEGERSUMTUPLESKETCH(k, v), count(a, b) "
        "FROM t GROUP BY g"
    )
    assert routed is not None and "count((a, b))" not in routed


# -- MODE(col, 'AVG') three-level statement route ------------------------------


from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (  # noqa: E402
    rewrite_mode_avg_statement,
)


def test_mode_avg_route_text_shape():
    routed = rewrite_mode_avg_statement(
        "SELECT g, MODE(v, 'AVG') AS m FROM t WHERE v > 0 GROUP BY g"
    )
    assert routed is not None
    assert "GROUP BY g, (v)" in routed
    assert "GROUP BY g, __md_c" in routed
    assert "max_by(__md_sv, __md_c)" in routed
    assert "WHERE v > 0 GROUP BY" in routed  # WHERE moved inside
    # commented spellings route to the same text, apart from the comment
    src = "SELECT g, MODE(v, 'AVG') AS m FROM t WHERE v > 0 GROUP BY g"
    assert rewrite_mode_avg_statement("/* dashboard */ " + src) == (
        "/* dashboard */ " + routed
    )
    assert rewrite_mode_avg_statement(
        src.replace(" GROUP BY", " -- big\nGROUP BY")
    ) == routed
    # a literal is not code: 'select' in a GROUP BY item is no subquery
    assert rewrite_mode_avg_statement(
        "SELECT MODE(v, 'AVG') AS m FROM t GROUP BY concat(g, 'select')"
    ) == (
        "SELECT try_divide(max_by(__md_sv, __md_c), max_by(__md_n, "
        "__md_c)) AS m FROM (SELECT __mdg0, __md_c, sum(__md_v) AS "
        "__md_sv, count(*) AS __md_n FROM (SELECT (concat(g, 'select')) "
        "AS __mdg0, (v) AS __md_v, count((v)) AS __md_c FROM t GROUP BY "
        "(concat(g, 'select')), (v)) __md1 GROUP BY __mdg0, __md_c) __md "
        "GROUP BY __mdg0"
    )


@pytest.mark.parametrize(
    "stmt",
    [
        # another MODE form over re-grouped rows: keep everything exact
        "SELECT MODE(v, 'AVG'), MODE(v) FROM t",
        "SELECT MODE(v, 'AVG'), MODE(v, 'MAX') FROM t GROUP BY g",
        # two different value expressions cannot share one level-1 group
        "SELECT MODE(a, 'AVG'), MODE(b, 'AVG') FROM t",
        # non-decomposable co-aggregates keep the reject
        "SELECT MODE(v, 'AVG'), count(DISTINCT u) FROM t",
        # windows / comma-JOIN mixes bail at the shape parse (plain
        # comma-FROM routes since round 11)
        "SELECT MODE(v, 'AVG'), rank() OVER (ORDER BY g) FROM t",
        "SELECT MODE(v, 'AVG') FROM t, d JOIN w ON d.k = w.k",
        # FILTER folds since round 11 — but only a mask-exact pred, and
        # two targets with DIFFERENT preds cannot share one level-1
        # value group
        "SELECT MODE(v, 'AVG') FILTER (WHERE ) FROM t",
        "SELECT MODE(v, 'AVG') "
        "FILTER (WHERE u IN (SELECT u FROM d)) FROM t",
        "SELECT MODE(v, 'AVG') FILTER (WHERE a > 0), "
        "MODE(v, 'AVG') FILTER (WHERE a < 0) FROM t",
    ],
)
def test_mode_avg_route_bails(stmt):
    assert rewrite_mode_avg_statement(stmt) is None


@pytest.fixture(scope="module")
def modeavg_engine(spark, tmp_path_factory):
    rows = [
        # g=1: modes 10 and 20 tied at 2 -> AVG 15.0
        (1, 10), (1, 10), (1, 20), (1, 20), (1, 30),
        # g=2: single mode 7 -> 7.0
        (2, 7), (2, 7), (2, 9),
        # g=3: all NULL -> NULL
        (3, None),
        # g=4: NULLs never outvote values (3 NULLs vs 1 five) -> 5.0
        (4, None), (4, None), (4, None), (4, 5),
    ]
    spark.createDataFrame(rows, "g INT, v INT").createOrReplaceTempView(
        "mamode"
    )
    return Engine(spark, str(tmp_path_factory.mktemp("wh")))


def test_commented_positional_and_mode_statements_are_served(
    sumarray_engine, modeavg_engine
):
    """SUMARRAYLONG and MODE(v, 'AVG') have no call-site form, so a
    statement the routes cannot read is rejected loudly: a leading
    comment or a line comment ending the WHERE clause must not make
    them unreadable, nor leak into the routed text."""
    for engine, src in (
        (
            sumarray_engine,
            "SELECT g, SUMARRAYLONG(arr) AS s FROM sasrc WHERE g > 1 "
            "GROUP BY g ORDER BY g",
        ),
        (
            modeavg_engine,
            "SELECT g, MODE(v, 'AVG') AS m FROM mamode WHERE v > 5 "
            "GROUP BY g ORDER BY g",
        ),
    ):
        want = engine.query(src).collect()
        assert want
        for commented in (
            "/* dashboard */ " + src,
            src.replace(" GROUP BY", " -- big\nGROUP BY"),
        ):
            assert engine.query(commented).collect() == want


def test_mode_avg_route_values(modeavg_engine):
    got = {
        r.g: (r.m, r.n)
        for r in modeavg_engine.query(
            "SELECT g, MODE(v, 'AVG') AS m, count(*) AS n "
            "FROM mamode GROUP BY g ORDER BY g"
        ).collect()
    }
    assert got == {
        1: (15.0, 5),
        2: (7.0, 3),
        3: (None, 1),
        4: (5.0, 4),
    }


def test_mode_avg_filter_folds(modeavg_engine):
    """Round 11 (VERDICT r10 task 2): a trailing FILTER (WHERE pred) on
    MODE(v, 'AVG') folds into the level-1 value mask — pred-failing
    rows collapse into the count-0 NULL bucket that loses to any real
    frequency, exactly the rows FILTER excludes; a group with NO
    passing rows answers NULL.  Verified against hand-computed modes
    and against the plain-SQL closed form."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_mode_avg_statement,
    )

    stmt = (
        "SELECT g, MODE(v, 'AVG') FILTER (WHERE v < 25) AS m, "
        "count(*) AS n FROM mamode GROUP BY g ORDER BY g"
    )
    assert rewrite_mode_avg_statement(stmt) is not None  # route ENGAGED
    got = {
        r.g: (r.m, r.n) for r in modeavg_engine.query(stmt).collect()
    }
    # g=1 keeps 10,10,20,20 (30 masked) -> tied modes avg 15; g=3 all
    # NULL (pred NULL) -> NULL; g=4 keeps only the 5 -> 5.0; count(*)
    # carries no FILTER and still counts every row
    assert got == {
        1: (15.0, 5),
        2: (7.0, 3),
        3: (None, 1),
        4: (5.0, 4),
    }
    strict = {
        r.g: r.m
        for r in modeavg_engine.query(
            "SELECT g, MODE(v, 'AVG') FILTER (WHERE v > 25) AS m "
            "FROM mamode GROUP BY g ORDER BY g"
        ).collect()
    }
    # only g=1 has a row past 25; every other group answers NULL
    assert strict == {1: 30.0, 2: None, 3: None, 4: None}
    # closed form agreement (max-frequency value set of filtered rows)
    closed = {
        r.g: r.m
        for r in modeavg_engine.spark.sql(
            "SELECT grp.g, m.m FROM (SELECT DISTINCT g FROM mamode) grp "
            "LEFT JOIN (SELECT g, avg(v) AS m FROM ("
            "  SELECT g, v, count(*) AS c, "
            "  max(count(*)) OVER (PARTITION BY g) AS mc "
            "  FROM mamode WHERE v < 25 GROUP BY g, v) WHERE c = mc "
            "GROUP BY g) m ON grp.g = m.g"
        ).collect()
    }
    assert closed == {g: m for g, (m, _) in got.items()}


def test_mode_avg_route_global_with_coaggs(modeavg_engine):
    row = modeavg_engine.query(
        "SELECT MODE(v, 'AVG') AS m, min(v) AS lo, avg(v) AS a "
        "FROM mamode WHERE g <= 2"
    ).collect()[0]
    # across g<=2: 10x2, 20x2, 7x2 all tied at 2 -> avg(10,20,7)
    assert row.m == pytest.approx((10 + 20 + 7) / 3)
    assert row.lo == 7
    assert row.a == pytest.approx((10 + 10 + 20 + 20 + 30 + 7 + 7 + 9) / 8)


def test_mode_avg_unroutable_rejects_loudly(modeavg_engine):
    with pytest.raises(Exception, match="three-level statement route"):
        modeavg_engine.query(
            "SELECT MODE(v, 'AVG') AS m, MODE(v) AS plain "
            "FROM mamode"
        ).collect()


def test_mode_avg_route_fuzz_matches_reference(spark, modeavg_engine):
    """Property: route == the Python tied-mode-average on random data
    with NULLs and many tie collisions (values drawn from a small
    domain so ties are the COMMON case)."""
    import random

    rng = random.Random(88)
    rows = [
        (rng.randint(0, 4),
         None if rng.random() < 0.2 else rng.randint(0, 6))
        for _ in range(400)
    ]
    spark.createDataFrame(rows, "g INT, v INT").createOrReplaceTempView(
        "mafuzz"
    )
    expect = {}
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        counts: dict = {}
        for v in vs:
            if v is not None:
                counts[v] = counts.get(v, 0) + 1
        if not counts:
            expect[g] = None
            continue
        mc = max(counts.values())
        tied = [v for v, c in counts.items() if c == mc]
        expect[g] = sum(tied) / len(tied)
    got = {
        r.g: r.m
        for r in modeavg_engine.query(
            "SELECT g, MODE(v, 'AVG') AS m FROM mafuzz GROUP BY g"
        ).collect()
    }
    assert set(got) == set(expect)
    for g in expect:
        if expect[g] is None:
            assert got[g] is None
        else:
            assert got[g] == pytest.approx(expect[g])


def test_routed_probe_failure_surfaces_real_error(modeavg_engine):
    """Post-review: a routable statement whose ANALYSIS fails for a real
    reason (typo'd column) must surface that diagnostic — not the
    loud-reject fallback's false claim that the shape is unroutable."""
    with pytest.raises(Exception) as ei:
        modeavg_engine.query(
            "SELECT g, MODE(vv, 'AVG') AS m FROM mamode GROUP BY g"
        ).collect()
    msg = str(ei.value)
    assert "vv" in msg or "UNRESOLVED" in msg.upper()
    assert "three-level statement route" not in msg


def test_sumarray_probe_failure_surfaces_real_error(sumarray_engine):
    with pytest.raises(Exception) as ei:
        sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(nope) AS s FROM sasrc GROUP BY g"
        ).collect()
    msg = str(ei.value)
    assert "nope" in msg or "UNRESOLVED" in msg.upper()
    assert "positional statement route" not in msg


def test_underscored_sumarray_spelling_routes(sumarray_engine):
    """SUM_ARRAY_LONG canonicalizes (underscore strip) BEFORE the
    statement routes, so the underscored spelling takes the same
    bounded positional plan as the canonical one."""
    got = {
        r.g: r.s
        for r in sumarray_engine.query(
            "SELECT g, SUM_ARRAY_LONG(arr) AS s FROM sasrc "
            "WHERE g IN (1, 3) GROUP BY g"
        ).collect()
    }
    assert got == {1: [11, 22, 3], 3: []}


def test_mode_avg_with_sumarray_coagg_rejects_loudly(sumarray_engine):
    """Route precedence for the two session routes: each treats the
    other's target as a known non-decomposable aggregate, so the mixed
    statement falls through BOTH and the first call-site reject fires
    — never a silently restructured half-answer."""
    with pytest.raises(ValueError, match="SUMARRAYLONG|MODE"):
        sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(arr) AS s, MODE(g, 'AVG') AS m "
            "FROM sasrc GROUP BY g"
        ).collect()


# -- one-JOIN relations route (round-8 session) --------------------------------


@pytest.fixture(scope="module")
def joinroute_engine(spark, tmp_path_factory):
    spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'view', 10, array(1, 2)), (1, 'buy', 30, array(3)), "
        "(2, 'view', 10, array(1, 1)), (3, 'buy', 20, array(2, 5)) "
        "AS t(u, ev, v, arr)"
    ).createOrReplaceTempView("jr_fact")
    spark.sql(
        "SELECT * FROM VALUES (1, 'gold'), (2, 'gold'), (3, 'silver') "
        "AS d(u, tier)"
    ).createOrReplaceTempView("jr_dim")
    return Engine(spark, str(tmp_path_factory.mktemp("wh")))


def test_keyed_route_with_join(joinroute_engine):
    """FUNNELCOUNT over a dim-joined relation routes: the joined
    relation re-emits verbatim in the inner per-correlator level, so
    the answer equals the fold over the same join (forced through the
    derived-table shape, which bails to the fold)."""
    sel = (
        "SELECT tier, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n "
        "FROM {rel} GROUP BY tier ORDER BY tier"
    )
    join_stmt = sel.format(
        rel="jr_fact JOIN jr_dim ON jr_fact.u = jr_dim.u"
    )
    # the route must ENGAGE, not fall back (post-review: an
    # analysis-failing routed text would silently take the fold and
    # this test would pin fold == fold)
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
        rewrite_pinot_aggregates,
    )

    routed_text = rewrite_keyed_agg_statement(join_stmt)
    assert routed_text is not None
    joinroute_engine.spark.sql(  # analyzes cleanly
        rewrite_pinot_aggregates(routed_text)
    )
    routed = joinroute_engine.query(join_stmt).collect()
    folded = joinroute_engine.query(
        "WITH jr_fact AS (SELECT jr_fact.u, ev, tier FROM jr_fact "
        "JOIN jr_dim ON jr_fact.u = jr_dim.u) " + sel.format(rel="jr_fact")
    ).collect()
    assert [(r.tier, r.fc, r.n) for r in routed] == [
        (r.tier, r.fc, r.n) for r in folded
    ]
    assert [(r.tier, list(r.fc), r.n) for r in routed] == [
        ("gold", [2, 1], 3),
        ("silver", [0, 0], 1),
    ]


def test_sumarray_route_with_join(joinroute_engine):
    got = {
        r.tier: r.s
        for r in joinroute_engine.query(
            "SELECT tier, SUMARRAYLONG(arr) AS s FROM jr_fact "
            "JOIN jr_dim ON jr_fact.u = jr_dim.u GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": [5, 3], "silver": [2, 5]}


def test_mode_avg_route_with_join(joinroute_engine):
    got = {
        r.tier: r.m
        for r in joinroute_engine.query(
            "SELECT tier, MODE(v, 'AVG') AS m FROM jr_fact "
            "JOIN jr_dim ON jr_fact.u = jr_dim.u GROUP BY tier"
        ).collect()
    }
    # gold: v in {10, 30, 10} -> mode 10; silver: {20} -> 20
    assert got == {"gold": 10.0, "silver": 20.0}


def test_ordered_funnel_route_with_join(joinroute_engine):
    """The window cascade partitions the JOINED rows 1:1 — identical to
    the fold over the same derived relation."""
    sel = (
        "SELECT tier, FUNNELMAXSTEP(to_timestamp('2024-01-01') "
        "+ make_interval(0, 0, 0, 0, 0, jr_fact.u, 0), '0', 2, "
        "'ev = ''view''', 'ev = ''buy''') AS ms "
        "FROM {rel} GROUP BY tier ORDER BY tier"
    )
    join_stmt = sel.format(
        rel="jr_fact JOIN jr_dim ON jr_fact.u = jr_dim.u"
    )
    # route must ENGAGE even with the table-QUALIFIED ts argument —
    # layer 0 materializes it, upper layers touch only the alias
    # (post-review: the re-emitted raw expression failed analysis over
    # the derived layers and this test compared fold to fold)
    routed_text = ROF(join_stmt)
    assert routed_text is not None
    joinroute_engine.spark.sql(routed_text)  # analyzes cleanly
    routed = joinroute_engine.query(join_stmt).collect()
    folded = joinroute_engine.query(
        "WITH jr_fact AS (SELECT jr_fact.u, ev, tier FROM jr_fact "
        "JOIN jr_dim ON jr_fact.u = jr_dim.u) " + sel.format(rel="jr_fact")
    ).collect()
    assert [(r.tier, r.ms) for r in routed] == [
        (r.tier, r.ms) for r in folded
    ]


def test_keyword_named_column_in_on_condition(spark, joinroute_engine):
    """Post-review: `d.limit` is a valid qualified reference to a
    keyword-named column — the keyword scan must not truncate the
    relation there (it spliced garbled SQL); the '.'-predecessor guard
    in _top_level_keywords is the fix, and the engine's
    analyze-or-fallback probe contains any residual mis-model."""
    spark.sql(
        "SELECT * FROM VALUES (1, 5), (2, 0), (3, 9) AS d(u, limit)"
    ).createOrReplaceTempView("jr_lim")
    got = {
        r.ev: r.s
        for r in joinroute_engine.query(
            "SELECT ev, SUMARRAYLONG(arr) AS s FROM jr_fact "
            "JOIN jr_lim ON jr_fact.u = jr_lim.u AND jr_lim.limit >= 0 "
            "GROUP BY ev"
        ).collect()
    }
    assert got == {"view": [2, 3], "buy": [5, 5]}


# -- JOIN chains route (round 10, VERDICT r9 task 1) ---------------------------


@pytest.fixture(scope="module")
def joinchain_views(spark):
    spark.sql(
        "SELECT * FROM VALUES (1, 'eu'), (2, 'eu'), (3, 'us') "
        "AS r(u, region)"
    ).createOrReplaceTempView("jr_dim2")
    spark.sql(
        "SELECT * FROM VALUES (1, 'de'), (2, 'fr'), (3, 'en') "
        "AS l(u, lang)"
    ).createOrReplaceTempView("jr_dim3")


def test_keyed_route_with_join_chain(joinroute_engine, joinchain_views):
    """A funnel grouped by attributes from TWO dimension joins — the
    last high-volume fallback-traffic class (VERDICT r9 task 1) — takes
    the bounded per-correlator route: the whole join chain re-emits
    verbatim inside the derived table, the plan carries no collections,
    and the answer equals the fold over the same chain."""
    sel = (
        "SELECT tier, region, FUNNELCOUNT(STEPS(ev = 'view', "
        "ev = 'buy'), CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n "
        "FROM {rel} GROUP BY tier, region ORDER BY tier, region"
    )
    chain = (
        "jr_fact JOIN jr_dim ON jr_fact.u = jr_dim.u "
        "JOIN jr_dim2 ON jr_fact.u = jr_dim2.u"
    )
    join_stmt = sel.format(rel=chain)
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
        rewrite_pinot_aggregates,
    )

    routed_text = rewrite_keyed_agg_statement(join_stmt)
    assert routed_text is not None  # the route ENGAGED
    joinroute_engine.spark.sql(  # analyzes cleanly
        rewrite_pinot_aggregates(routed_text)
    )
    routed = joinroute_engine.query(join_stmt)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    rows = routed.collect()
    # the dead jr_keep CTE blocks the inliner, so the reference REALLY
    # takes the fold (round-10 review: a single-use CTE inlines to an
    # admitted derived table, making the old reference route too)
    folded = joinroute_engine.query(
        "WITH jr_fact AS (SELECT jr_fact.u, ev, tier, region FROM "
        + chain
        + "), jr_keep AS (SELECT * FROM jr_fact) "
        + sel.format(rel="jr_fact")
    ).collect()
    assert [(r.tier, r.region, r.fc, r.n) for r in rows] == [
        (r.tier, r.region, r.fc, r.n) for r in folded
    ]
    assert [(r.tier, r.region, list(r.fc), r.n) for r in rows] == [
        ("gold", "eu", [2, 1], 3),
        ("silver", "us", [0, 0], 1),
    ]


def test_keyed_route_with_derived_join_operand(
    joinroute_engine, joinchain_views
):
    """Round 11 (VERDICT r10 task 1): a JOIN-chain operand that is a
    DERIVED table — the fact table joined to a pre-filtered subquery,
    the common dashboard shape that still fell to the collection-state
    fold — routes: the balanced group re-emits verbatim inside the
    derived table, the plan carries no collections, and the answer
    equals the fold over the same chain (dead-CTE-blocked from
    inlining-and-routing itself)."""
    sel = (
        "SELECT tier, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n "
        "FROM {rel} GROUP BY tier ORDER BY tier"
    )
    chain = (
        "jr_fact JOIN (SELECT u, tier FROM jr_dim WHERE u <> 3) d "
        "ON jr_fact.u = d.u"
    )
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    routed_text = rewrite_keyed_agg_statement(sel.format(rel=chain))
    assert routed_text is not None  # the route ENGAGED
    assert "(SELECT u, tier FROM jr_dim WHERE u <> 3) d" in routed_text
    routed = joinroute_engine.query(sel.format(rel=chain))
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    rows = routed.collect()
    folded = joinroute_engine.query(
        "WITH jr_fact AS (SELECT jr_fact.u, ev, tier FROM "
        + chain
        + "), jr_keep AS (SELECT * FROM jr_fact) "
        + sel.format(rel="jr_fact")
    ).collect()
    assert [(r.tier, r.fc, r.n) for r in rows] == [
        (r.tier, r.fc, r.n) for r in folded
    ]
    assert [(r.tier, list(r.fc), r.n) for r in rows] == [
        ("gold", [2, 1], 3)
    ]
    # FROM-position derived relation + a chain segment routes too
    both = rewrite_keyed_agg_statement(
        sel.format(
            rel="(SELECT * FROM jr_fact WHERE u IS NOT NULL) jr_fact "
            "JOIN jr_dim ON jr_fact.u = jr_dim.u"
        )
    )
    assert both is not None


def test_keyed_route_target_filter_folds(joinroute_engine):
    """Round 11 (completing the FILTER surface): a trailing FILTER on a
    KEYED-ROUTE target folds into that target's inner partials — FC and
    theta flags become pred-conjoined, tuple-value partials pred-masked
    — so a key whose every row fails contributes nothing, exactly the
    key the FILTER'd aggregate never saw.  Previously the dangling
    clause errored on both the route and the fold.  The FC reference is
    the fold with pred-masked STEPS (dead-CTE-blocked from routing);
    per-target preds may differ (the key is shared, the masks are not)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    stmt = (
        "SELECT FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(u)) FILTER (WHERE v < 25) AS fc, "
        "count(*) AS n FROM jr_fact"
    )
    assert rewrite_keyed_agg_statement(stmt) is not None  # ENGAGED
    got = joinroute_engine.query(stmt).collect()[0]
    fold = joinroute_engine.query(
        "WITH f AS (SELECT * FROM jr_fact), f_keep AS (SELECT * FROM f) "
        "SELECT FUNNELCOUNT(STEPS((v < 25) AND (ev = 'view'), "
        "(v < 25) AND (ev = 'buy')), CORRELATE_BY(u)) AS fc, "
        "count(*) AS n FROM f"
    ).collect()[0]
    # u=1's buy (v=30) is invisible, so step 2 drops to 0; count(*)
    # still sees all 4 rows
    assert list(got.fc) == list(fold.fc) == [2, 0]
    assert got.n == fold.n == 4
    row = joinroute_engine.query(
        "SELECT DISTINCTCOUNTTHETASKETCH(u, 'nominalEntries=4096', "
        "'ev = ''view''', 'ev = ''buy''', 'SET_UNION($1, $2)') "
        "FILTER (WHERE v < 15) AS t, "
        "SUMVALUESINTEGERSUMTUPLESKETCH(u, v) "
        "FILTER (WHERE ev = 'view') AS sv, "
        "AVGVALUEINTEGERSUMTUPLESKETCH(u, v) "
        "FILTER (WHERE ev = 'view') AS av "
        "FROM jr_fact"
    ).collect()[0]
    # v<15 keeps only the two view rows (u=1, u=2): union = 2 keys;
    # per-key view sums are 10 and 10 -> total 20, avg 10
    assert row.t == 2
    assert row.sv == 20.0 and row.av == 10.0


def test_mv_route_with_join_chain(joinroute_engine, joinchain_views):
    """The MV-distinct explode attaches after the LAST join of the
    chain — per-element counts over exactly the joined rows."""
    got = {
        (r.tier, r.region): (r.v, r.c)
        for r in joinroute_engine.query(
            "SELECT tier, region, DISTINCTCOUNTMV(arr) AS v, "
            "count(*) AS c FROM jr_fact "
            "JOIN jr_dim ON jr_fact.u = jr_dim.u "
            "LEFT JOIN jr_dim2 ON jr_fact.u = jr_dim2.u "
            "GROUP BY tier, region"
        ).collect()
    }
    # gold rows: u=1 arr(1,2)+(3), u=2 arr(1,1) -> {1,2,3}; silver: {2,5}
    assert got == {
        ("gold", "eu"): (3, 3),
        ("silver", "us"): (2, 1),
    }


def test_sumarray_route_with_join_chain(joinroute_engine, joinchain_views):
    got = {
        (r.tier, r.region): r.s
        for r in joinroute_engine.query(
            "SELECT tier, region, SUMARRAYLONG(arr) AS s FROM jr_fact "
            "JOIN jr_dim ON jr_fact.u = jr_dim.u "
            "JOIN jr_dim2 ON jr_fact.u = jr_dim2.u "
            "GROUP BY tier, region"
        ).collect()
    }
    assert got == {("gold", "eu"): [5, 3], ("silver", "us"): [2, 5]}


def test_ordered_funnel_route_with_join_chain(joinroute_engine, joinchain_views):
    sel = (
        "SELECT tier, region, FUNNELMAXSTEP(to_timestamp('2024-01-01') "
        "+ make_interval(0, 0, 0, 0, 0, jr_fact.u, 0), '0', 2, "
        "'ev = ''view''', 'ev = ''buy''') AS ms "
        "FROM {rel} GROUP BY tier, region ORDER BY tier, region"
    )
    chain = (
        "jr_fact JOIN jr_dim ON jr_fact.u = jr_dim.u "
        "JOIN jr_dim2 ON jr_fact.u = jr_dim2.u"
    )
    join_stmt = sel.format(rel=chain)
    routed_text = ROF(join_stmt)
    assert routed_text is not None  # the route ENGAGED
    joinroute_engine.spark.sql(routed_text)  # analyzes cleanly
    routed = joinroute_engine.query(join_stmt).collect()
    # dead jr_keep CTE: the reference must take the FOLD, not the route
    folded = joinroute_engine.query(
        "WITH jr_fact AS (SELECT jr_fact.u, ev, tier, region FROM "
        + chain
        + "), jr_keep AS (SELECT * FROM jr_fact) "
        + sel.format(rel="jr_fact")
    ).collect()
    assert [(r.tier, r.region, r.ms) for r in routed] == [
        (r.tier, r.region, r.ms) for r in folded
    ]
    # gold-eu = u2 alone (u1 has no jr_dim2 row): view only -> 1;
    # silver-us = u3: buy without a prior view -> 0
    assert [(r.tier, r.region, r.ms) for r in routed] == [
        ("gold", "eu", 1), ("silver", "us", 0),
    ]


def test_join_chain_three_deep_routes(joinroute_engine, joinchain_views):
    """Three chained joins (self-joining the dims again) still parse:
    the admission is a CHAIN, not a pair."""
    got = {
        r.tier: r.s
        for r in joinroute_engine.query(
            "SELECT tier, SUMARRAYLONG(arr) AS s FROM jr_fact "
            "JOIN jr_dim ON jr_fact.u = jr_dim.u "
            "JOIN jr_dim2 ON jr_fact.u = jr_dim2.u "
            "JOIN jr_dim3 d3 ON jr_fact.u = d3.u "
            "GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": [5, 3], "silver": [2, 5]}


def test_join_flavor_segments_route(joinroute_engine, joinchain_views):
    """Round 11: USING, the ON-less CROSS/NATURAL flavors, and
    SEMI/ANTI all ride the chain admission — the relation re-emits
    verbatim, so each flavor's row/column semantics are exact."""
    # USING: merged join column, dim attribute grouped
    got = {
        r.tier: (list(r.fc), r.n)
        for r in joinroute_engine.query(
            "SELECT tier, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
            "CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n "
            "FROM jr_fact JOIN jr_dim USING (u) GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": ([2, 1], 3), "silver": ([0, 0], 1)}
    # NATURAL: common column u joins implicitly
    got = {
        r.tier: r.s
        for r in joinroute_engine.query(
            "SELECT tier, SUMARRAYLONG(arr) AS s "
            "FROM jr_fact NATURAL JOIN jr_dim GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": [5, 3], "silver": [2, 5]}
    # CROSS: every fact row pairs with every dim2 region (2 regions)
    got = {
        r.region: r.c
        for r in joinroute_engine.query(
            "SELECT region, DISTINCTCOUNTMV(arr) AS v, count(*) AS c "
            "FROM jr_fact CROSS JOIN (SELECT DISTINCT region "
            "FROM jr_dim2) r2 GROUP BY region"
        ).collect()
    }
    assert got == {"eu": 4, "us": 4}
    # LEFT SEMI: keeps fact rows with a dim match, left columns only
    row = joinroute_engine.query(
        "SELECT FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n FROM jr_fact "
        "LEFT SEMI JOIN jr_dim2 ON jr_fact.u = jr_dim2.u"
    ).collect()[0]
    # dim2 has u in {1,2,3}: all four fact rows survive the semi join
    assert list(row.fc) == [2, 1] and row.n == 4
    # LEFT ANTI: u=1..3 all match, so the anti join keeps nothing
    row = joinroute_engine.query(
        "SELECT count(*) AS n, FUNNELCOUNT(STEPS(ev = 'view'), "
        "CORRELATE_BY(jr_fact.u)) AS fc FROM jr_fact "
        "LEFT ANTI JOIN jr_dim ON jr_fact.u = jr_dim.u"
    ).collect()[0]
    assert row.n == 0 and list(row.fc) == [0]


# -- comma-FROM (implicit cross join) routes (round 11, VERDICT r10 item 6) ----


def test_comma_from_routes_keyed(joinroute_engine):
    """`FROM a, b WHERE a.k = b.k` — the pre-ANSI implicit-join spelling
    — routes: the comma list re-emits verbatim inside the derived
    table (with the WHERE), so the per-correlator plan sees exactly the
    rows the original aggregates saw; the answer equals the fold over
    the same relation (dead-CTE-blocked from routing itself)."""
    sel = (
        "SELECT tier, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n "
        "FROM {rel} {pred} GROUP BY tier ORDER BY tier"
    )
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    stmt = sel.format(
        rel="jr_fact, jr_dim", pred="WHERE jr_fact.u = jr_dim.u"
    )
    routed_text = rewrite_keyed_agg_statement(stmt)
    assert routed_text is not None  # the route ENGAGED
    assert "FROM jr_fact, jr_dim" in routed_text  # verbatim re-emission
    routed = joinroute_engine.query(stmt)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    rows = routed.collect()
    folded = joinroute_engine.query(
        "WITH jr_fact AS (SELECT jr_fact.u, ev, tier FROM jr_fact, "
        "jr_dim WHERE jr_fact.u = jr_dim.u), "
        "jr_keep AS (SELECT * FROM jr_fact) "
        + sel.format(rel="jr_fact", pred="")
    ).collect()
    assert [(r.tier, list(r.fc), r.n) for r in rows] == [
        (r.tier, list(r.fc), r.n) for r in folded
    ] == [("gold", [2, 1], 3), ("silver", [0, 0], 1)]


def test_comma_from_routes_mv_and_sumarray(joinroute_engine):
    """The MV/positional routes append their LATERAL VIEW after the
    LAST comma operand — Spark attaches it to the joined result, so
    per-element aggregation sees exactly the implicit-join rows."""
    got = {
        r.tier: (r.v, r.c)
        for r in joinroute_engine.query(
            "SELECT tier, DISTINCTCOUNTMV(arr) AS v, count(*) AS c "
            "FROM jr_fact, jr_dim WHERE jr_fact.u = jr_dim.u "
            "GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": (3, 3), "silver": (2, 1)}
    got = {
        r.tier: r.s
        for r in joinroute_engine.query(
            "SELECT tier, SUMARRAYLONG(arr) AS s "
            "FROM jr_fact, jr_dim WHERE jr_fact.u = jr_dim.u "
            "GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": [5, 3], "silver": [2, 5]}


def test_comma_from_routes_cascade_and_mode_avg(joinroute_engine):
    """The window-cascade and mode-avg routes take comma-FROM too —
    their derived layers copy `FROM <list> WHERE ...` verbatim."""
    stmt = (
        "SELECT tier, FUNNELMAXSTEP(to_timestamp('2024-01-01') "
        "+ make_interval(0, 0, 0, 0, 0, jr_fact.u, 0), '0', 2, "
        "'ev = ''view''', 'ev = ''buy''') AS ms "
        "FROM jr_fact, jr_dim WHERE jr_fact.u = jr_dim.u "
        "GROUP BY tier ORDER BY tier"
    )
    assert ROF(stmt) is not None  # the route ENGAGED
    got = [(r.tier, r.ms) for r in joinroute_engine.query(stmt).collect()]
    assert got == [("gold", 1), ("silver", 0)]
    got = {
        r.tier: r.m
        for r in joinroute_engine.query(
            "SELECT tier, MODE(v, 'AVG') AS m "
            "FROM jr_fact, jr_dim WHERE jr_fact.u = jr_dim.u "
            "GROUP BY tier"
        ).collect()
    }
    assert got == {"gold": 10.0, "silver": 20.0}


def test_comma_from_derived_operand_routes(joinroute_engine):
    """A comma operand may itself be a derived table `(SELECT ...) d` —
    the balanced group re-emits verbatim, its span scope-excluding its
    own call sites (the same contract as chain operands)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    stmt = (
        "SELECT d.tier, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc FROM jr_fact, "
        "(SELECT u, tier FROM jr_dim WHERE u <> 3) d "
        "WHERE jr_fact.u = d.u GROUP BY d.tier"
    )
    routed_text = rewrite_keyed_agg_statement(stmt)
    assert routed_text is not None  # the route ENGAGED
    assert "(SELECT u, tier FROM jr_dim WHERE u <> 3) d" in routed_text
    got = [
        (r.tier, list(r.fc))
        for r in joinroute_engine.query(stmt).collect()
    ]
    assert got == [("gold", [2, 1])]


def test_qualified_group_item_keeps_output_name(joinroute_engine):
    """Round 11 (found by the comma-FROM work, but join-shaped too): a
    QUALIFIED bare column as a group item (`SELECT d.tier ... GROUP BY
    d.tier`) must surface as `tier` in the result schema — Spark's own
    name for the projection — not the route's internal alias.  The
    full-select-item rewrite becomes `__fcg0 AS tier`; an explicit
    alias wins; an ordinal resolving to the qualified item gets the
    same treatment; and an UNQUALIFIED re-spelling of the item stays a
    raw reference the probe folds (rebinding it would serve an answer
    where an ambiguous original errors loudly)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
        rewrite_pinot_aggregates,
    )

    sel = (
        "SELECT {item}, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc FROM jr_fact "
        "JOIN jr_dim d ON jr_fact.u = d.u GROUP BY {grp}"
    )
    for item, grp, want in [
        ("d.tier", "d.tier", "tier"),
        ("d.tier", "1", "tier"),
        ("d.tier AS t2", "d.tier", "t2"),
    ]:
        stmt = sel.format(item=item, grp=grp)
        routed = rewrite_keyed_agg_statement(stmt)
        assert routed is not None  # the route ENGAGED
        df = joinroute_engine.spark.sql(rewrite_pinot_aggregates(routed))
        assert df.columns == [want, "fc"], (item, grp, df.columns)
        assert joinroute_engine.query(stmt).columns == [want, "fc"]
    # unqualified re-spelling: the routed text keeps the raw reference
    # (which cannot analyze — the engine serves the ORIGINAL's answer)
    respelled = sel.format(item="tier", grp="d.tier")
    routed = rewrite_keyed_agg_statement(respelled)
    assert routed is not None and "SELECT tier," in routed
    got = {
        r.tier: list(r.fc)
        for r in joinroute_engine.query(respelled).collect()
    }
    assert got == {"gold": [2, 1], "silver": [0, 0]}


def test_comma_from_cte_composes(joinroute_engine):
    """A CTE referenced as a comma operand inlines (round-11 inliner
    leg) and the inlined derived operand then routes — the full
    dashboard chain WITH → comma-FROM → keyed route."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        inline_route_ctes,
        rewrite_keyed_agg_statement,
    )

    stmt = (
        "WITH dim2 AS (SELECT u, tier FROM jr_dim WHERE u <> 3) "
        "SELECT tier, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(jr_fact.u)) AS fc, count(*) AS n "
        "FROM jr_fact, dim2 WHERE jr_fact.u = dim2.u GROUP BY tier"
    )
    inlined = inline_route_ctes(stmt)
    assert inlined is not None
    assert ", (SELECT u, tier FROM jr_dim WHERE u <> 3) AS dim2" in inlined
    assert rewrite_keyed_agg_statement(inlined) is not None  # ENGAGED
    got = {
        r.tier: (list(r.fc), r.n)
        for r in joinroute_engine.query(stmt).collect()
    }
    assert got == {"gold": ([2, 1], 3)}


def test_comma_from_bails():
    """Shapes outside the admission keep the fold: a comma list MIXED
    with explicit JOIN (precedence nests the join under the cross
    product), a trailing/empty operand, a (VALUES ...) operand, and a
    double-alias token residue."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    bad = [
        "SELECT d.tier, FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) "
        "AS fc FROM jr_fact, jr_dim d JOIN jr_dim2 ON d.u = jr_dim2.u "
        "WHERE jr_fact.u = d.u GROUP BY d.tier",
        "SELECT FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) AS fc "
        "FROM jr_fact, GROUP BY ev",
        "SELECT FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) AS fc "
        "FROM jr_fact, (VALUES (1)) v GROUP BY ev",
        "SELECT FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) AS fc "
        "FROM jr_fact f x, jr_dim GROUP BY ev",
    ]
    for stmt in bad:
        assert rewrite_keyed_agg_statement(stmt) is None


@pytest.mark.parametrize(
    "q,want",
    [
        # 3-arg jsonPath* forms: default on missing path / bad parse
        ('SELECT JSONPATHSTRING(\'{"a": "x"}\', \'$.a\', \'dflt\') AS x',
         "x"),
        ('SELECT JSONPATHSTRING(\'{"a": "x"}\', \'$.b\', \'dflt\') AS x',
         "dflt"),
        ('SELECT JSONPATHLONG(\'{"n": 7}\', \'$.n\', 0) AS x', 7),
        ('SELECT JSONPATHLONG(\'{"n": "abc"}\', \'$.n\', 42) AS x', 42),
        ('SELECT JSONPATHLONG(\'{"n": 7}\', \'$.missing\', 42) AS x', 42),
        ('SELECT JSONPATHDOUBLE(\'{"n": 1.5}\', \'$.m\', 9.5) AS x', 9.5),
        # 2-arg forms keep the fixed-type macro (NULL on missing)
        ('SELECT JSONPATHSTRING(\'{"a": "x"}\', \'$.b\') AS x', None),
        # the default-empty array extractor
        ('SELECT JSONPATHARRAYDEFAULTEMPTY(\'{"a": [1]}\', \'$.b\') AS x',
         []),
        ('SELECT JSONPATHARRAYDEFAULTEMPTY(\'{"a": [1, 2]}\', \'$.a\') '
         "AS x", ["1", "2"]),
    ],
)
def test_jsonpath_default_forms(agg_engine, q, want):
    assert agg_engine.query(q).collect()[0]["x"] == want


def test_jsonpath_default_arity_error():
    with pytest.raises(ValueError, match="JSONPATHLONG"):
        R("SELECT JSONPATHLONG(j) FROM t")


# -- derived-table relations route (round-8 session) ---------------------------


def test_routes_accept_derived_table_relation():
    routed = rewrite_sumarray_statement(
        "SELECT k, SUMARRAYLONG(nums) AS s "
        "FROM (SELECT k, nums FROM base WHERE k > 0) src GROUP BY k"
    )
    assert routed is not None
    assert "FROM (SELECT k, nums FROM base WHERE k > 0) src "\
        "LATERAL VIEW" in routed
    # a comma list whose FIRST operand is the derived table routes too
    # (round 11 — the whole list re-emits verbatim)
    assert "FROM (SELECT 1) a, b LATERAL VIEW" in (
        rewrite_sumarray_statement(
            "SELECT SUMARRAYLONG(nums) FROM (SELECT 1) a, b"
        )
    )
    # a route target INSIDE the derived table belongs to that scope
    assert rewrite_sumarray_statement(
        "SELECT x FROM (SELECT SUMARRAYLONG(nums) AS x FROM base) s"
    ) is None


def test_sumarray_route_derived_table_values(sumarray_engine):
    """The exact statement shape the quickstart had to work around with
    a temp view: an inline VALUES derived table."""
    got = {
        r.g: r.s
        for r in sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(arr) AS s "
            "FROM (SELECT g, arr FROM sasrc WHERE g <= 2) src "
            "GROUP BY g"
        ).collect()
    }
    assert got == {1: [11, 22, 3], 2: [5]}


def test_mv_route_derived_table_values(sumarray_engine, spark):
    spark.sql(
        "SELECT * FROM VALUES ('a', array('x', 'y')), "
        "('a', array('y', 'z')), ('b', array('z')) AS t(k, tags)"
    ).createOrReplaceTempView("mvdt")
    row = {
        r.k: (r.d, r.n)
        for r in sumarray_engine.query(
            "SELECT k, DISTINCTCOUNTMV(tags) AS d, count(*) AS n "
            "FROM (SELECT k, tags FROM mvdt) src GROUP BY k"
        ).collect()
    }
    assert row == {"a": (3, 2), "b": (1, 1)}


def test_reserved_non_calls_absent_from_catalog(spark):
    """Audit invariant for _RESERVED_NON_CALLS: every skipped word must
    be absent from the live function catalog — were Spark ever to ship
    a function under one of these names, skipping it would hide a real
    call site from the routes' duplication classifier."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _RESERVED_NON_CALLS,
    )

    for w in _RESERVED_NON_CALLS:
        with pytest.raises(Exception):
            spark.sql(f"DESCRIBE FUNCTION {w.lower()}")


def test_parenthesized_where_predicate_no_longer_bails(sumarray_engine):
    """Post-review: `WHERE (pred)` scanned as a call named WHERE, the
    fail-safe classified it as an unknown aggregate, and the route
    silently fell back — the pre-existing surface the derived-table
    work exposed."""
    stmt = (
        "SELECT g, SUMARRAYLONG(arr) AS s FROM sasrc "
        "WHERE (g <= 2) GROUP BY g"
    )
    routed = rewrite_sumarray_statement(
        stmt, is_aggregate=lambda n: True  # fail-safe at its strictest
    )
    assert routed is not None
    got = {
        r.g: r.s
        for r in sumarray_engine.query(stmt).collect()
    }
    assert got == {1: [11, 22, 3], 2: [5]}


def test_mv_route_derived_table_abutting_keyword(spark, sumarray_engine):
    """Post-review: `FROM (SELECT ...)GROUP BY g` (no whitespace after
    the ')' — legal SQL) must not glue the generator column onto the
    clause keyword."""
    spark.sql(
        "SELECT * FROM VALUES ('a', array(1, 2)), ('a', array(2, 3)) "
        "AS t(g, tags)"
    ).createOrReplaceTempView("mvabut")
    row = sumarray_engine.query(
        "SELECT g, DISTINCTCOUNTMV(tags) AS d "
        "FROM (SELECT * FROM mvabut)GROUP BY g"
    ).collect()[0]
    assert (row.g, row.d) == ("a", 3)


def test_non_select_parenthesized_relation_bails():
    """Post-review: only (SELECT ...) derived tables route — a (VALUES
    ...) or parenthesized-join relation is NOT a recorded subquery span,
    so admitting it would break the scope-exclusion invariant."""
    assert rewrite_sumarray_statement(
        "SELECT SUMARRAYLONG(nums) FROM (VALUES ('a', array(1, 2))) t"
    ) is None


# -- round 9: single-use CTE inlining / nondet bail / step-duration stats ------


from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (  # noqa: E402
    inline_route_ctes,
)


@pytest.mark.parametrize(
    "src,want",
    [
        # the canonical shape: one CTE, one FROM reference, no alias
        (
            "WITH f AS (SELECT * FROM t) SELECT g, count(*) FROM f GROUP BY g",
            " SELECT g, count(*) FROM (SELECT * FROM t) AS f GROUP BY g",
        ),
        # an existing alias is preserved and the CTE name dropped
        (
            "WITH f AS (SELECT * FROM t) SELECT x.g FROM f x",
            " SELECT x.g FROM (SELECT * FROM t) x",
        ),
        # chained single-use CTEs inline inside-out
        (
            "WITH a AS (SELECT * FROM t), b AS (SELECT g FROM a) "
            "SELECT * FROM b",
            " SELECT * FROM (SELECT g FROM (SELECT * FROM t) AS a) AS b",
        ),
        # a JOIN-position reference inlines too
        (
            "WITH d AS (SELECT k FROM dim) "
            "SELECT * FROM fact JOIN d ON fact.k = d.k",
            " SELECT * FROM fact JOIN (SELECT k FROM dim) AS d "
            "ON fact.k = d.k",
        ),
        # qualifier uses of the name keep binding through the kept alias
        (
            "WITH f AS (SELECT g FROM t) SELECT f.g FROM f GROUP BY f.g",
            " SELECT f.g FROM (SELECT g FROM t) AS f GROUP BY f.g",
        ),
        # round 10: a deterministic multi-reference CTE inlines at EVERY
        # site (Spark re-plans the duplicated subtree; exchange reuse
        # dedups the scan) — VERDICT r9 task 3
        (
            "WITH f AS (SELECT * FROM t) "
            "SELECT * FROM f a JOIN f b ON a.k = b.k",
            " SELECT * FROM (SELECT * FROM t) a "
            "JOIN (SELECT * FROM t) b ON a.k = b.k",
        ),
        # a commented `FROM name` is neither a reference nor a count
        # bump (round 10, r9 ADVICE): the real site still inlines
        (
            "WITH f AS (SELECT * FROM t) "
            "SELECT g, -- notes: FROM f\ncount(*) FROM f GROUP BY g",
            " SELECT g, -- notes: FROM f\ncount(*) "
            "FROM (SELECT * FROM t) AS f GROUP BY g",
        ),
        (
            "WITH f AS (SELECT * FROM t) "
            "SELECT g /* FROM f */ FROM f",
            " SELECT g /* FROM f */ FROM (SELECT * FROM t) AS f",
        ),
        # round 11 (the comma-FROM admission's inliner leg): a COMMA-
        # position reference inside a FROM region is a relation too
        (
            "WITH f AS (SELECT k FROM dim) "
            "SELECT * FROM fact, f WHERE fact.k = f.k",
            " SELECT * FROM fact, (SELECT k FROM dim) AS f "
            "WHERE fact.k = f.k",
        ),
        (
            "WITH f AS (SELECT k FROM dim) "
            "SELECT * FROM fact, f x, e WHERE fact.k = x.k",
            " SELECT * FROM fact, (SELECT k FROM dim) x, e "
            "WHERE fact.k = x.k",
        ),
        # relation list continuing past a join condition
        (
            "WITH f AS (SELECT k FROM dim) "
            "SELECT * FROM a JOIN b ON a.k = b.k, f WHERE f.k = a.k",
            " SELECT * FROM a JOIN b ON a.k = b.k, "
            "(SELECT k FROM dim) AS f WHERE f.k = a.k",
        ),
        # comments around a reference are not code: the keyword before
        # it and the alias after it are still read
        (
            "WITH f AS (SELECT * FROM t) "
            "SELECT g FROM /* c */ f -- it's\n x",
            " SELECT g FROM /* c */ (SELECT * FROM t) -- it's\n x",
        ),
    ],
)
def test_cte_inliner_rewrites(src, want):
    assert inline_route_ctes(src) == want
    # the same head behind and between comments inlines to the same
    # text: comments around a CTE body are not part of it
    head = src.replace(" AS (SELECT", " -- c\nAS ( /* y */ SELECT", 1)
    assert head != src
    assert inline_route_ctes("/* x */ " + head) == want


@pytest.mark.parametrize(
    "src",
    [
        # multi-reference with a NON-deterministic body: per-site
        # re-evaluation would draw independent rows — keep the fold
        "WITH f AS (SELECT * FROM t WHERE rand() < 0.5) "
        "SELECT * FROM f a JOIN f b ON a.k = b.k",
        # expression-level FROM (r9 ADVICE medium): substring's FROM is
        # no relation keyword — inlining would rewrite a COLUMN into a
        # scalar subquery that ANALYZES cleanly with different semantics
        "WITH f AS (SELECT max(x) FROM t2) "
        "SELECT substring(s FROM f FOR 3) FROM t",
        "WITH f AS (SELECT max(x) FROM t2) "
        "SELECT trim(LEADING 'x' FROM f) FROM t",
        "WITH f AS (SELECT max(x) FROM t2) "
        "SELECT extract(DAY FROM f) FROM t",
        # the fuzz fold-forcing shape: a dead second CTE
        "WITH f AS (SELECT * FROM t), f_keep AS (SELECT * FROM f) "
        "SELECT * FROM f",
        # zero references
        "WITH f AS (SELECT 1) SELECT * FROM t",
        # recursive
        "WITH RECURSIVE f AS (SELECT 1) SELECT * FROM f",
        # CTE column list renames: inlining would lose the rename
        "WITH f (a, b) AS (SELECT 1, 2) SELECT * FROM f",
        # referenced outside FROM/JOIN position
        "WITH f AS (SELECT 1 AS x) "
        "SELECT (SELECT max(x) FROM t WHERE t.x = f) FROM g",
        # duplicate names: Spark's scoping rules, not ours
        "WITH f AS (SELECT 1), f AS (SELECT 2) SELECT * FROM f",
        # non-SELECT body
        "WITH f AS (VALUES (1)) SELECT * FROM f",
        # name only inside a literal is zero references
        "WITH f AS (SELECT 1) SELECT 'FROM f' FROM t",
        # no WITH clause at all
        "SELECT * FROM t",
        # a comma-preceded occurrence OUTSIDE a FROM region is a column
        # or alias spelled like the CTE, never a relation (round 11)
        "WITH f AS (SELECT 1) SELECT a, f FROM t",
        "WITH f AS (SELECT 1) SELECT a FROM t GROUP BY a, f",
        "WITH f AS (SELECT 1) SELECT e FROM t "
        "LATERAL VIEW posexplode(arr) tt AS p, f",
    ],
)
def test_cte_inliner_bails(src):
    assert inline_route_ctes(src) is None


def test_cte_wrapped_mv_statement_routes_without_collections(mv_engine):
    """VERDICT r8 task 1 'done' pin: a CTE-wrapped MV-distinct statement
    routes to the bounded exploded plan — zero collect_set — and matches
    the multi-reference fold shape value-for-value."""
    routed = mv_engine.query(
        "WITH f AS (SELECT * FROM mvsrc WHERE g IS NOT NULL) "
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM f GROUP BY g"
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    assert "Generate" in plan  # the POSEXPLODE route engaged
    folded = mv_engine.query(
        "WITH f AS (SELECT * FROM mvsrc WHERE g IS NOT NULL), "
        "f_keep AS (SELECT * FROM f) "
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM f GROUP BY g"
    )
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, folded.collect())
    )


def test_cte_wrapped_funnelcount_routes(funnel_engine):
    """The keyed route serves the CTE-wrapped FUNNELCOUNT shape — the
    last executor-OOM shape on the wire surface (VERDICT r8)."""
    routed = funnel_engine.query(
        "WITH f AS (SELECT * FROM funnelsrc) "
        "SELECT FUNNELCOUNT(STEPS(ev = 'view', ev = 'cart', ev = 'buy'), "
        "CORRELATE_BY(uid)) AS fc FROM f"
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    assert routed.collect()[0]["fc"] == [4, 2, 1]


def test_cte_inline_probe_failure_falls_back(mv_engine):
    """An inlined statement that fails the analysis probe (alias spelled
    like a clause keyword — the documented mis-read) must fall back to
    the ORIGINAL statement, not error."""
    # `FROM f cross` reads `cross` as a keyword, emits `(body) AS f
    # cross`, fails analysis, and the original CTE statement stands
    rows = mv_engine.query(
        "WITH f AS (SELECT * FROM mvsrc) "
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM f `cross` GROUP BY g"
    ).collect()
    assert {r["g"] for r in rows} == {"a", "b"}


def test_mv_route_bails_on_nondeterministic_where(mv_engine):
    """VERDICT r8 task 2: `WHERE rand() < x` must NOT be re-evaluated
    per exploded copy — the route bails and the fold serves it."""
    stmt = (
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM mvsrc "
        "WHERE rand() < 2.0 GROUP BY g"
    )
    assert RMV(stmt) is None
    df = mv_engine.query(stmt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" in plan  # the fold path served it
    # rand() < 2.0 is always true, so the fold's answer is deterministic
    # and must equal the routed no-WHERE statement's
    want = {
        (r["g"], r["v"])
        for r in mv_engine.query(
            "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM mvsrc GROUP BY g"
        ).collect()
    }
    assert {(r["g"], r["v"]) for r in df.collect()} == want


@pytest.mark.parametrize(
    "fn", ["rand()", "uuid()", "shuffle(arr)", "monotonically_increasing_id()"]
)
def test_sumarray_route_bails_on_nondeterministic(fn):
    assert rewrite_sumarray_statement(
        f"SELECT g, SUMARRAYLONG(arr) FROM t WHERE length({fn}) > 0 "
        "GROUP BY g"
    ) is None


def test_nondet_gate_ignores_literals_and_suffix_names():
    """'rand(' inside a literal or as a name suffix must not bail the
    route."""
    assert RMV(
        "SELECT g, DISTINCTCOUNTMV(tags) AS v FROM t "
        "WHERE note <> 'rand() noise' AND brand(v) > 0 GROUP BY g"
    ) is not None


# -- FUNNELSTEPDURATIONSTATS through the window-cascade route ------------------


def test_step_duration_stats_route_values(ordered_engine):
    rows = {
        r["u"]: r["ds"]
        for r in ordered_engine.query(
            "SELECT u, FUNNELSTEPDURATIONSTATS(ts, '0', 3, "
            "'ev = ''view''', 'ev = ''click''', 'ev = ''buy''', "
            "'durationFunctions=min,max,avg,median') AS ds "
            "FROM ofev GROUP BY u ORDER BY u"
        ).collect()
    }
    # u=1 completes all 3 steps 5 minutes apart: both durations 300000ms
    assert rows[1] == [300000.0, 300000.0, 300000.0, 300000.0]
    # u=4 reaches step 2 after exactly 2 days
    assert rows[4] == [172800000.0] * 4
    # u=2 (click precedes view), u=3 (no view): zero durations -> NULLs
    assert rows[2] == [None] * 4 and rows[3] == [None] * 4
    # u=5 view and click share a timestamp: the pinned tie order (ts,
    # then step flags ASC) processes the click FIRST, before the view
    # arms t1 — exactly the fold's greedy order — so no duration
    assert rows[5] == [None] * 4


def test_step_duration_stats_median_even_count(spark, tmp_path_factory):
    """4-step funnel with three distinct durations: median of the even
    2-element prefix is the mean of the two middle values."""
    spark.sql(
        "SELECT cast(ts as timestamp) AS ts, ev FROM VALUES "
        " ('2024-06-01 10:00:00', 's1'), ('2024-06-01 10:00:10', 's2'), "
        " ('2024-06-01 10:00:40', 's3') AS t(ts, ev)"
    ).createOrReplaceTempView("sdmed")
    eng = Engine(spark, str(tmp_path_factory.mktemp("sdwh")))
    row = eng.query(
        "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 4, 'ev = ''s1''', "
        "'ev = ''s2''', 'ev = ''s3''', 'ev = ''s4''', "
        "'durationFunctions=median,avg') AS ds FROM sdmed"
    ).collect()[0]
    # durations: 10000, 30000 (s4 unmatched) -> median = avg = 20000
    assert row["ds"] == [20000.0, 20000.0]


def test_step_duration_stats_window_and_strict_modes(ordered_engine):
    """The windowMs bound and STRICT_INCREASE mode flow through the
    shared parser: u=4's 2-day click falls outside a 1-day window, and
    STRICT_INCREASE drops u=5's same-timestamp click."""
    rows = {
        r["u"]: r["ds"]
        for r in ordered_engine.query(
            "SELECT u, FUNNELSTEPDURATIONSTATS(ts, '86400000', 2, "
            "'ev = ''view''', 'ev = ''click''', "
            "'durationFunctions=max', 'STRICT_INCREASE') AS ds "
            "FROM ofev GROUP BY u"
        ).collect()
    }
    assert rows[1] == [300000.0]
    assert rows[4] == [None]  # outside the 1-day window
    assert rows[5] == [None]  # tie dropped by STRICT_INCREASE


def test_step_duration_stats_unroutable_is_loud(ordered_engine):
    with pytest.raises(Exception, match="window-cascade statement route"):
        ordered_engine.query(
            "WITH f AS (SELECT * FROM ofev), f_keep AS (SELECT * FROM f) "
            "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
            "'ev = ''click''', 'durationFunctions=min') AS ds FROM f"
        )


def test_step_duration_stats_settings_validation(ordered_engine):
    with pytest.raises(Exception, match="durationFunctions"):
        ordered_engine.query(
            "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
            "'ev = ''click''') AS ds FROM ofev"
        )
    with pytest.raises(Exception, match="unsupported durationFunction"):
        ordered_engine.query(
            "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
            "'ev = ''click''', 'durationFunctions=min,p95') AS ds FROM ofev"
        )


def test_step_duration_stats_coexists_with_maxstep(ordered_engine):
    """One statement mixing MAXSTEP and STEPDURATIONSTATS builds both
    cascades; values must agree with the single-target statements."""
    rows = {
        r["u"]: r
        for r in ordered_engine.query(
            "SELECT u, FUNNELMAXSTEP(ts, '0', 2, 'ev = ''view''', "
            "'ev = ''click''') AS ms, "
            "FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
            "'ev = ''click''', 'durationFunctions=avg') AS ds "
            "FROM ofev GROUP BY u"
        ).collect()
    }
    assert rows[1]["ms"] == 2 and rows[1]["ds"] == [300000.0]
    assert rows[3]["ms"] == 0 and rows[3]["ds"] == [None]


def test_step_duration_stats_routed_plan_is_windowed(ordered_engine):
    df = ordered_engine.query(
        "SELECT u, FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''click''', 'durationFunctions=min,max') AS ds "
        "FROM ofev GROUP BY u"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "collect_list" not in plan and "collect_set" not in plan


def test_jsonpathlong_default_coerces_fractional():
    """Round-8 ADVICE (medium): a present-but-fractional numeric must
    COERCE like Pinot (2.7 -> 2), not silently answer the default."""
    out = R("SELECT JSONPATHLONG(j, '$.x', 0) FROM t")
    assert "try_cast(try_cast(JSONPATHSTRING(j, '$.x') as double) as bigint)" in out


def test_jsonpathlong_default_coercion_values(agg_engine):
    rows = agg_engine.query(
        "SELECT JSONPATHLONG('{\"x\": 2.7}', '$.x', -1) AS frac, "
        "JSONPATHLONG('{\"x\": 9007199254740993}', '$.x', -1) AS big, "
        "JSONPATHLONG('{\"x\": \"abc\"}', '$.x', -1) AS bad, "
        "JSONPATHLONG('{}', '$.x', -1) AS missing, "
        "JSONPATHDOUBLE('{\"x\": 2}', '$.x', -1.0) AS dbl"
    ).collect()[0]
    assert rows["frac"] == 2  # Pinot coerces 2.7 -> 2
    # exact long parse first: full precision beyond double's 2^53
    assert rows["big"] == 9007199254740993
    assert rows["bad"] == -1 and rows["missing"] == -1
    assert rows["dbl"] == 2.0


def test_step_duration_stats_degenerate_depths(spark, tmp_path_factory):
    """1-step funnels have zero durations (all stats NULL, still routed);
    >12-step funnels keep the loud redirect (the cascade depth cap)."""
    spark.sql(
        "SELECT cast(ts as timestamp) AS ts, ev FROM VALUES "
        "('2024-06-01 10:00:00', 'a') AS t(ts, ev)"
    ).createOrReplaceTempView("sdone")
    eng = Engine(spark, str(tmp_path_factory.mktemp("sdonewh")))
    r = eng.query(
        "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 1, 'ev = ''a''', "
        "'durationFunctions=min,median,avg') AS ds FROM sdone"
    ).collect()[0]
    assert r["ds"] == [None, None, None]
    deep = ", ".join(f"'ev = ''s{i}'''" for i in range(13))
    with pytest.raises(Exception, match="window-cascade statement route"):
        eng.query(
            f"SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 13, {deep}, "
            "'durationFunctions=min') FROM sdone"
        )


def test_funnel_zero_steps_is_loud(ordered_engine):
    """Round-9 review: numberSteps=0 with trailing literals passed the
    vacuous steps-count check and crashed the route on steps[0] — now a
    loud contract error for every funnel kind, route and fold alike."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _parse_ordered_funnel_args,
    )

    with pytest.raises(ValueError, match="numberSteps must be >= 1"):
        _parse_ordered_funnel_args("MAXSTEP", ["ts", "'0'", "0", "'KEEP_ALL'"])
    with pytest.raises(Exception, match="numberSteps must be >= 1"):
        ordered_engine.query(
            "SELECT u, FUNNELSTEPDURATIONSTATS(ts, '0', 0, "
            "'durationFunctions=min', 'KEEP_ALL') AS ds "
            "FROM ofev GROUP BY u"
        )


def test_step_duration_stats_overcounted_steps_diagnostic(ordered_engine):
    """Round-9 review: numberSteps over-counting the given steps must
    report the steps-count mismatch, not falsely claim the settings
    literal is missing (the n-dependent split swallowed it)."""
    with pytest.raises(Exception, match="numberSteps=4 but only 2"):
        ordered_engine.query(
            "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 4, 'ev = ''view''', "
            "'ev = ''click''', 'durationFunctions=min') AS ds FROM ofev"
        )


def test_hll_family_empty_input_answers_zero(mv_engine):
    """Round-9 fuzz finding: an empty input (or all-NULL group) has ZERO
    distinct values — Pinot answers 0, the exact spellings answer 0, and
    the normalized-set fold answers size([]) = 0, so the DataSketches
    estimate coalesces to 0 on every HLL-named spelling, routed and
    fold shapes alike (a NULL sketch previously estimated to NULL on
    the routed path only)."""
    routed = mv_engine.query(
        "SELECT DISTINCTCOUNTHLLMV(tags) AS h, DISTINCTCOUNTHLL(g) AS s, "
        "DISTINCTCOUNTULL(g) AS u, FASTHLL(g) AS f, "
        "DISTINCTCOUNTMV(tags) AS d "
        "FROM mvsrc WHERE g = 'no-such-group'"
    ).collect()[0]
    assert tuple(routed) == (0, 0, 0, 0, 0)
    fold = mv_engine.query(
        "WITH f AS (SELECT * FROM mvsrc), f_keep AS (SELECT * FROM f) "
        "SELECT DISTINCTCOUNTHLLMV(tags) AS h FROM f "
        "WHERE g = 'no-such-group'"
    ).collect()[0]
    assert fold["h"] == 0


def test_hll_beside_two_distinct_sets_empty_input_answers_zero(spark, mv_engine):
    """Beside two DISTINCT argument sets Spark reads the HLL sketch
    through first() over an Expand, NULL on an empty input; the scalar
    estimate must still answer 0 there, as the MV route does."""
    spark.sql(
        "SELECT * FROM VALUES ('p', 'g1', 1), ('q', 'g1', 2), ('p', 'g2', 3),"
        " ('r', 'g2', 4) AS t(e, g, x)"
    ).createOrReplaceTempView("hll_two_distinct")
    row = mv_engine.query(
        "SELECT DISTINCTCOUNTHLL(e) AS h, DISTINCTCOUNT(e) AS a, "
        "DISTINCTCOUNT(g) AS dg FROM hll_two_distinct WHERE x > 10"
    ).collect()[0]
    assert tuple(row) == (0, 0, 0)
    row = mv_engine.query(
        "SELECT DISTINCTCOUNTHLL(e) AS h, DISTINCTCOUNT(e) AS a, "
        "DISTINCTCOUNT(g) AS dg FROM hll_two_distinct"
    ).collect()[0]
    assert tuple(row) == (3, 3, 2)


def test_funnel_step_duration_stats_operator_matches_route(spark, ordered_engine):
    """The operator-level twin (operators/funnel.funnel_step_duration_stats
    over funnel_state) agrees with the routed SQL spelling for matching
    modes: funnel_state advances strictly-after, so the SQL side runs
    STRICT_INCREASE."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import funnel as FN

    state = FN.funnel_state(
        spark.table("ofev"), "u", "ts", "ev", ["view", "click", "buy"]
    )
    op = {
        r["u"]: (r["dur_min"], r["dur_max"], r["dur_avg"], r["dur_median"])
        for r in FN.funnel_step_duration_stats(state, 3).collect()
    }
    sql = {
        r["u"]: tuple(r["ds"])
        for r in ordered_engine.query(
            "SELECT u, FUNNELSTEPDURATIONSTATS(ts, '0', 3, "
            "'ev = ''view''', 'ev = ''click''', 'ev = ''buy''', "
            "'durationFunctions=min,max,avg,median', 'STRICT_INCREASE') "
            "AS ds FROM ofev GROUP BY u"
        ).collect()
    }
    # funnel_state emits only users with >= 1 matching event; every one of
    # its rows must agree with the SQL answer
    assert op and all(sql[u] == v for u, v in op.items())
    with pytest.raises(ValueError, match="unsupported duration functions"):
        FN.funnel_step_duration_stats(state, 3, functions=("p95",))


def test_funnel_state_nonstrict_matches_default_mode_route(spark, ordered_engine):
    """funnel_state(strict=False) is the operator form of the SQL
    surface's DEFAULT (>=) mode — the round-9 review's twin-contract
    gap: u=5's same-timestamp view+click completes step 2 under >=."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import funnel as FN

    state = FN.funnel_state(
        spark.table("ofev"), "u", "ts", "ev", ["view", "click"],
        strict=False,
    )
    op = {
        r["u"]: (r["dur_min"],)
        for r in FN.funnel_step_duration_stats(
            state, 2, functions=("min",)
        ).collect()
    }
    sql = {
        r["u"]: tuple(r["ds"])
        for r in ordered_engine.query(
            "SELECT u, FUNNELSTEPDURATIONSTATS(ts, '0', 2, "
            "'ev = ''view''', 'ev = ''click''', "
            "'durationFunctions=min') AS ds FROM ofev GROUP BY u"
        ).collect()
    }
    assert op and all(sql[u] == v for u, v in op.items())
    # u=5's same-ts view+click stays None in BOTH modes on BOTH
    # surfaces: the tie ORDER (step-2 rows sort before step-1 rows at
    # equal timestamps) decides it before the >= / > comparison ever
    # runs — the comparison only distinguishes the modes when a LATER
    # event shares the timestamp of the one that armed the prior step
    assert op[5] == (None,)
    # ... which the repeated-step shape exhibits: two 'view' events at
    # one timestamp, steps (view, view) — >= completes with d=0, > does
    # not; operator and routed SQL agree in both modes
    spark.sql(
        "SELECT u, cast(ts as timestamp) AS ts, ev FROM VALUES "
        "(9, '2024-06-01 10:00:00', 'view'), "
        "(9, '2024-06-01 10:00:00', 'view') AS t(u, ts, ev)"
    ).createOrReplaceTempView("tieev")
    for strict, want in ((False, 0.0), (True, None)):
        st = FN.funnel_state(
            spark.table("tieev"), "u", "ts", "ev", ["view", "view"],
            strict=strict,
        )
        row = FN.funnel_step_duration_stats(
            st, 2, functions=("min",)
        ).collect()[0]
        assert row["dur_min"] == want, strict
    sql_tie = ordered_engine.query(
        "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''view''', 'durationFunctions=min') AS ds FROM tieev"
    ).collect()[0]["ds"]
    assert sql_tie == [0.0]
    sql_strict = ordered_engine.query(
        "SELECT FUNNELSTEPDURATIONSTATS(ts, '0', 2, 'ev = ''view''', "
        "'ev = ''view''', 'durationFunctions=min', 'STRICT_INCREASE') "
        "AS ds FROM tieev"
    ).collect()[0]["ds"]
    assert sql_strict == [None]


def test_funnel_duration_operator_degenerate_inputs_are_loud(spark):
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import funnel as FN

    state = FN.funnel_state(
        spark.table("ofev"), "u", "ts", "ev", ["view", "click"]
    )
    with pytest.raises(ValueError, match="n_steps must be >= 1"):
        FN.funnel_step_duration_stats(state, 0)
    with pytest.raises(ValueError, match="at least one duration"):
        FN.funnel_step_duration_stats(state, 2, functions=())
    with pytest.raises(ValueError, match="duplicate duration functions"):
        FN.funnel_step_duration_stats(state, 2, functions=("min", "MIN"))


# -- round 10: ADVICE hygiene pins ---------------------------------------------


def test_nondeterminism_bail_is_word_bounded():
    """VERDICT r9 hygiene: an identifier merely ENDING in a listed
    nondeterministic name must not trip the route bail (the failure
    direction was safe — fold, correct answer, unbounded plan — but a
    registered UDF named e.g. `my$rand` lost its bounded route)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _NONDETERMINISTIC_FN_RE,
    )
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.sqltext import (
        search as _search_unquoted_re,
    )

    assert _search_unquoted_re(
        _NONDETERMINISTIC_FN_RE, "SELECT x FROM t WHERE rand() < 0.1"
    )
    assert _search_unquoted_re(
        _NONDETERMINISTIC_FN_RE, "SELECT uuid(), x FROM t"
    )
    # alnum/_ predecessors were already rejected by the scanner; the
    # lookbehind closes the remaining $ case at the regex itself
    assert not _search_unquoted_re(
        _NONDETERMINISTIC_FN_RE, "SELECT my$rand(x) FROM t"
    )
    assert not _search_unquoted_re(
        _NONDETERMINISTIC_FN_RE, "SELECT myrand(x), brand(y) FROM t"
    )
    # a '.'-qualified spelling still bails — the safe direction
    assert _search_unquoted_re(
        _NONDETERMINISTIC_FN_RE, "SELECT builtin.rand() FROM t"
    )


def test_duration_functions_settings_spelling(ordered_engine):
    """r9 ADVICE: `durationFunctions = col` (whitespace) is a step
    PREDICATE comparing a column, not a settings literal — the parser
    must not blame a 'duplicate settings literal'; and the
    missing-settings error now names the whitespace near-miss."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        _parse_step_duration_args,
    )

    # a step predicate comparing a column named durationFunctions plus
    # the real settings literal: parses as (step, settings), no
    # duplicate-literal error
    ts, wms, steps, cmp, fns = _parse_step_duration_args(
        ["ts", "'0'", "2", "'ev = ''view'''",
         "'durationFunctions = ev'", "'durationFunctions=min'"]
    )
    assert steps == ["ev = 'view'", "durationFunctions = ev"]
    assert fns == ["MIN"]
    # the whitespace-spelled near-miss alone: loud, and the error names
    # the spelling problem instead of a misleading steps-count message
    with pytest.raises(ValueError, match="without spaces"):
        _parse_step_duration_args(
            ["ts", "'0'", "1", "'ev = ''view'''",
             "'durationFunctions = min,max'"]
        )


def test_funnel_state_mode_keyword(spark):
    """r9 ADVICE: the operator twin accepts the SQL surface's mode
    literals directly — mode='KEEP_ALL' is the statement default."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.operators import funnel as FN

    spark.sql(
        "SELECT u, cast(ts as timestamp) AS ts, ev FROM VALUES "
        "(9, '2024-06-01 10:00:00', 'view'), "
        "(9, '2024-06-01 10:00:00', 'view') AS t(u, ts, ev)"
    ).createOrReplaceTempView("modeev")
    df = spark.table("modeev")
    for mode, strict in (("KEEP_ALL", False), ("STRICT_INCREASE", True)):
        via_mode = FN.funnel_state(
            df, "u", "ts", "ev", ["view", "view"], mode=mode
        ).collect()
        via_strict = FN.funnel_state(
            df, "u", "ts", "ev", ["view", "view"], strict=strict
        ).collect()
        assert via_mode == via_strict, mode
    # mode wins over a contradicting strict flag (it IS the contract)
    keep = FN.funnel_state(
        df, "u", "ts", "ev", ["view", "view"], strict=True,
        mode="KEEP_ALL",
    ).collect()[0]
    assert keep["max_step"] == 2
    with pytest.raises(ValueError, match="unsupported funnel mode"):
        FN.funnel_state(df, "u", "ts", "ev", ["view"], mode="keep_all")


def test_mv_target_filter_clause_routes(mv_engine):
    """A `FILTER (WHERE pred)` clause on an MV TARGET folds into an
    element mask (round 10): pred is row-level, so masking every
    exploded copy keeps/drops a row's elements exactly like
    filter-then-explode, and the mask form serves the scalar-wrapped
    builders (HLL estimate) that a native FILTER attachment cannot.
    Values checked against filter-then-explode closed forms."""
    stmt = (
        "SELECT DISTINCTCOUNTMV(tags) FILTER (WHERE g = 'a') AS v, "
        "DISTINCTCOUNTHLLMV(tags) FILTER (WHERE g = 'a') AS h, "
        "DISTINCTSUMMV(tags) FILTER (WHERE g = 'a') AS s, "
        "PERCENTILEMV(tags, 50) FILTER (WHERE g = 'a') AS p, "
        "DISTINCTCOUNTHLLMV(tags) FILTER (WHERE g = 'zz') AS h0, "
        "count(*) AS n FROM mvsrc"
    )
    df = mv_engine.query(stmt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    row = df.collect()[0]
    want = mv_engine.spark.sql(
        "SELECT count(DISTINCT e) AS v, "
        "cast(sum(DISTINCT e) as double) AS s, "
        "percentile(e, 0.5) AS p FROM "
        "(SELECT explode(tags) AS e FROM mvsrc WHERE g = 'a')"
    ).collect()[0]
    n = mv_engine.spark.sql("SELECT count(*) AS n FROM mvsrc").collect()[0]["n"]
    assert (row["v"], row["s"], row["p"], row["n"]) == (
        want["v"], want["s"], want["p"], n,
    )
    assert row["h"] == row["v"]  # exact at fixture cardinality
    assert row["h0"] == 0  # empty-after-FILTER answers 0, like round 9


def test_keyed_route_filter_coaggs(joinroute_engine):
    """Round 10: FILTER (WHERE pred) on decomposable co-aggregates folds
    into the inner partial's mask (count(x) FILTER (WHERE c) ==
    count(if(c, x, null)) — the pred is row-level and the inner level is
    where the rows live).  Values checked against plain Spark over the
    same relation; the route must ENGAGE."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    stmt = (
        "SELECT FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(u)) AS fc, "
        "count(*) FILTER (WHERE ev = 'view') AS nv, "
        "sum(v) FILTER (WHERE ev = 'buy') AS sb, "
        "min(v) FILTER (WHERE ev = 'buy') AS mb, "
        "avg(v) FILTER (WHERE ev = 'view') AS av "
        "FROM jr_fact"
    )
    assert rewrite_keyed_agg_statement(stmt) is not None
    row = joinroute_engine.query(stmt).collect()[0]
    want = joinroute_engine.spark.sql(
        "SELECT count(*) FILTER (WHERE ev = 'view') AS nv, "
        "sum(v) FILTER (WHERE ev = 'buy') AS sb, "
        "min(v) FILTER (WHERE ev = 'buy') AS mb, "
        "avg(v) FILTER (WHERE ev = 'view') AS av FROM jr_fact"
    ).collect()[0]
    assert (row["nv"], row["sb"], row["mb"], row["av"]) == (
        want["nv"], want["sb"], want["mb"], want["av"],
    )
    assert list(row["fc"]) == [2, 1]


def test_sumarray_route_filter_coaggs(sumarray_engine):
    """The row-duplicating sumarray route masks FILTER preds AND the
    first-copy condition together; MIN/MAX mask only the pred."""
    got = {
        r["g"]: (r["s"], r["n"], r["mx"])
        for r in sumarray_engine.query(
            "SELECT g, SUMARRAYLONG(arr) AS s, "
            "count(*) FILTER (WHERE size(arr) > 1) AS n, "
            "max(size(arr)) FILTER (WHERE size(arr) < 3) AS mx "
            "FROM sasrc GROUP BY g"
        ).collect()
    }
    want = {
        r["g"]: (r["n"], r["mx"])
        for r in sumarray_engine.spark.sql(
            "SELECT g, count(*) FILTER (WHERE size(arr) > 1) AS n, "
            "max(size(arr)) FILTER (WHERE size(arr) < 3) AS mx "
            "FROM sasrc GROUP BY g"
        ).collect()
    }
    assert {g: (n, mx) for g, (_, n, mx) in got.items()} == want


# -- round 10: expression GROUP BY items route ---------------------------------


@pytest.fixture(scope="module")
def groupexpr_engine(spark, tmp_path_factory):
    spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'view', timestamp'2024-01-01 10:00', 10, array(1, 2)), "
        "(1, 'buy',  timestamp'2024-01-01 11:00', 30, array(3)), "
        "(2, 'view', timestamp'2024-01-02 09:00', 10, array(1, 1)), "
        "(3, 'buy',  timestamp'2024-01-02 10:00', 20, array(2, 5)), "
        "(3, 'view', timestamp'2024-01-02 11:00', 20, array(9)) "
        "AS t(u, ev, ts, v, arr)"
    ).createOrReplaceTempView("gxsrc")
    return Engine(spark, str(tmp_path_factory.mktemp("wh")))


def test_keyed_route_group_by_expression(groupexpr_engine):
    """`GROUP BY date_trunc('DAY', ts)` — the time-bucketed funnel
    dashboard staple — routes (round 10): the expression is aliased at
    the inner level, outer SELECT/GROUP/ORDER occurrences rewrite to
    the alias, and the plan carries no collections."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    stmt = (
        "SELECT date_trunc('DAY', ts) AS day, "
        "FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(u)) AS fc, count(*) AS n FROM gxsrc "
        "GROUP BY date_trunc('DAY', ts) ORDER BY date_trunc('DAY', ts)"
    )
    routed_text = rewrite_keyed_agg_statement(stmt)
    assert routed_text is not None  # the route ENGAGED
    assert "ORDER BY __fcg0" in routed_text  # outer occurrences rebound
    # a comment beside an outer occurrence is no operator next to it
    assert rewrite_keyed_agg_statement(
        stmt.replace(" AS day", " /* bucket */ AS day")
    ) == routed_text.replace(" AS day", " /* bucket */ AS day")
    groupexpr_engine.spark.sql(routed_text)  # analyzes cleanly
    df = groupexpr_engine.query(stmt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    assert [(str(r["day"]), list(r["fc"]), r["n"]) for r in df.collect()] == [
        ("2024-01-01 00:00:00", [1, 1], 2),
        ("2024-01-02 00:00:00", [2, 1], 3),
    ]


def test_sumarray_and_mode_routes_group_by_expression(groupexpr_engine):
    got = {
        str(r["day"]): r["s"]
        for r in groupexpr_engine.query(
            "SELECT date_trunc('DAY', ts) AS day, SUMARRAYLONG(arr) AS s "
            "FROM gxsrc GROUP BY date_trunc('DAY', ts)"
        ).collect()
    }
    assert got == {
        "2024-01-01 00:00:00": [4, 2],
        "2024-01-02 00:00:00": [12, 6],
    }
    modes = {
        str(r["day"]): r["m"]
        for r in groupexpr_engine.query(
            "SELECT date_trunc('DAY', ts) AS day, MODE(v, 'AVG') AS m "
            "FROM gxsrc GROUP BY date_trunc('DAY', ts)"
        ).collect()
    }
    # day 1: {10, 30} both once -> avg 20; day 2: {10, 20, 20} -> 20
    assert modes == {
        "2024-01-01 00:00:00": 20.0,
        "2024-01-02 00:00:00": 20.0,
    }


def test_ordered_route_group_by_expression(groupexpr_engine):
    """The window cascade partitions by the raw expression — every
    layer projects `SELECT *`, so outer clauses keep binding without
    aliasing."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_ordered_funnel_statement,
    )

    stmt = (
        "SELECT date_trunc('DAY', ts) AS day, FUNNELMAXSTEP(ts, '0', 2, "
        "'ev = ''view''', 'ev = ''buy''') AS ms "
        "FROM gxsrc GROUP BY date_trunc('DAY', ts)"
    )
    assert rewrite_ordered_funnel_statement(stmt) is not None
    got = {
        str(r["day"]): r["ms"]
        for r in groupexpr_engine.query(stmt).collect()
    }
    # day 1: view@10 then buy@11 -> 2; day 2: u3's buy precedes its view
    # but u2's view arms step 1 at 09:00, buy@10:00 completes -> 2
    assert got == {
        "2024-01-01 00:00:00": 2,
        "2024-01-02 00:00:00": 2,
    }


@pytest.mark.parametrize(
    "stmt",
    [
        # an ordinal naming an aggregate select item (invalid SQL the
        # fallback should reject with the original's error)
        "SELECT FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)), ev "
        "FROM gxsrc GROUP BY 1",
        # an out-of-range ordinal
        "SELECT ev, FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) "
        "FROM gxsrc GROUP BY 9",
        # subquery-bearing group expression
        "SELECT FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) "
        "FROM gxsrc GROUP BY (v > (SELECT avg(v) FROM gxsrc))",
        # quote-leading expression (exact-text matching could start at
        # a literal): keep the fallback
        "SELECT FUNNELCOUNT(STEPS(ev = 'a'), CORRELATE_BY(u)) "
        "FROM gxsrc GROUP BY 'p' || ev",
    ],
)
def test_group_expression_bails(stmt):
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    assert rewrite_keyed_agg_statement(stmt) is None


def test_group_by_ordinal_routes(groupexpr_engine):
    """`GROUP BY 1` resolves through the select list (round 10): the
    routes edit in place so select positions are stable and the ordinal
    text stays verbatim; only the resolved expression is aliased at the
    inner level.  Plain-column ordinals and expression ordinals both
    route."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    # expression ordinal (the `AS day` alias is stripped on resolution)
    stmt = (
        "SELECT date_trunc('DAY', ts) AS day, "
        "FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(u)) AS fc FROM gxsrc GROUP BY 1 ORDER BY 1"
    )
    routed_text = rewrite_keyed_agg_statement(stmt)
    assert routed_text is not None
    assert "GROUP BY 1" in routed_text  # the ordinal stays verbatim
    got = {
        str(r["day"]): list(r["fc"])
        for r in groupexpr_engine.query(stmt).collect()
    }
    assert got == {
        "2024-01-01 00:00:00": [1, 1],
        "2024-01-02 00:00:00": [2, 1],
    }
    # plain-column ordinal
    plain = (
        "SELECT ev, FUNNELCOUNT(STEPS(ev = 'view', ev = 'buy'), "
        "CORRELATE_BY(u)) AS fc FROM gxsrc GROUP BY 1"
    )
    assert rewrite_keyed_agg_statement(plain) is not None
    rows = {
        r["ev"]: list(r["fc"])
        for r in groupexpr_engine.query(plain).collect()
    }
    # per-ev funnels: 'buy' rows alone never complete step 1 ('view')
    assert rows["view"] == [3, 0] and rows["buy"] == [0, 0]


def test_group_expr_rebinding_safety(mv_engine):
    """Round-10 review pins: (1) an expression GROUP BY item spelled
    inside an ADMITTED SUBQUERY is the subquery's own scope — the
    rebinder must leave it raw (inner-first resolution is identical;
    outward correlation fails the probe into the fold); (2) an
    exact-byte match that is NOT a parse subtree (`y * x + 1` vs item
    `x + 1`) must not rewrite — the original's loud MISSING_AGGREGATION
    must surface, never silently-served numbers."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    sub = rewrite_keyed_agg_statement(
        "SELECT date_trunc('DAY', ts) AS day, "
        "FUNNELCOUNT(STEPS(ev = 'view'), CORRELATE_BY(u)) AS fc, "
        "(SELECT count(*) FROM cal WHERE date_trunc('DAY', ts) = cal.d) "
        "AS m FROM events GROUP BY date_trunc('DAY', ts)"
    )
    assert sub is not None
    assert "WHERE date_trunc('DAY', ts) = cal.d" in sub  # subquery raw
    tail = rewrite_keyed_agg_statement(
        "SELECT y * x + 1 AS z, FUNNELCOUNT(STEPS(ev = 'a'), "
        "CORRELATE_BY(u)) AS fc FROM t GROUP BY y, x + 1"
    )
    assert tail is None or "y * x + 1" in tail  # tail match left raw
    # ... and the ENGINE surfaces the original's loud analysis error
    # (the routed text carries the unbound select item, the probe
    # fails, and the fold re-raises MISSING_AGGREGATION)
    mv_engine.spark.sql(
        "SELECT * FROM VALUES (1, 2, 'a', 1) AS t(y, x, ev, u)"
    ).createOrReplaceTempView("magg")
    with pytest.raises(Exception, match="MISSING_AGGREGATION|grouping"):
        mv_engine.query(
            "SELECT y * x + 1 AS z, FUNNELCOUNT(STEPS(ev = 'a'), "
            "CORRELATE_BY(u)) AS fc FROM magg GROUP BY y, x + 1"
        ).collect()


def test_group_expr_rebinding_word_operators(mv_engine):
    """Round-11 ADVICE (high) pins: a WORD operator neighboring an
    exact-byte match means the match may not be a parse subtree —
    ``HAVING c AND a OR b`` parses ``(c AND a) OR b``, so the ``a OR
    b`` tail must stay raw even when the GROUP BY item is ``a OR b``;
    with ``c`` projected the old rewrite ANALYZED CLEANLY and silently
    regrouped the predicate.  The raw reference sends the statement to
    the fold, which serves the ORIGINAL precedence.  Also pins the
    round-11 comment-opacity fix (an occurrence inside a comment never
    rewrites; an unbalanced quote inside one cannot desync the scan
    into rewriting literal content)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.functions.aggsql import (
        rewrite_keyed_agg_statement,
    )

    routed = rewrite_keyed_agg_statement(
        "SELECT c, a, b, a OR b AS g, FUNNELCOUNT(STEPS(ev = 'v'), "
        "CORRELATE_BY(u)) AS fc FROM bops GROUP BY c, a, b, a OR b "
        "HAVING c AND a OR b"
    )
    assert routed is None or "HAVING c AND a OR b" in routed
    # word-operator neighbors on either side keep the match raw
    for shape in (
        "ORDER BY c AND a OR b",      # preceding AND binds into the tail
        "ORDER BY a OR b IN (true)",  # following IN takes the b operand
        "ORDER BY a OR b IS NULL",    # following IS takes the b operand
    ):
        out = rewrite_keyed_agg_statement(
            "SELECT a OR b AS g, FUNNELCOUNT(STEPS(ev = 'v'), "
            f"CORRELATE_BY(u)) AS fc FROM bops GROUP BY a OR b {shape}"
        )
        assert out is None or shape in out, shape
    # comment content is opaque: the occurrence inside /* */ stays
    out = rewrite_keyed_agg_statement(
        "SELECT x + 1 AS g, FUNNELCOUNT(STEPS(ev = 'v'), "
        "CORRELATE_BY(u)) AS fc FROM t GROUP BY x + 1 "
        "ORDER BY __a /* x + 1 */, x + 1"
    )
    assert out is not None and "/* x + 1 */" in out
    assert out.rstrip().endswith("__fcg0")
    # end-to-end: with c/a/b ALSO group keys the original is VALID SQL
    # and serves (c AND a) OR b — c=false/a=false/b=true rows survive;
    # the regrouped c AND (a OR b) would silently drop them
    mv_engine.spark.sql(
        "SELECT * FROM VALUES "
        "(false, false, true, 'v', 1), (true, true, false, 'v', 2), "
        "(true, false, false, 'v', 3), (false, true, false, 'v', 4) "
        "AS t(c, a, b, ev, u)"
    ).createOrReplaceTempView("bops")
    got = {
        (r["c"], r["a"], r["b"], r["g"])
        for r in mv_engine.query(
            "SELECT c, a, b, a OR b AS g, FUNNELCOUNT(STEPS(ev = 'v'), "
            "CORRELATE_BY(u)) AS fc FROM bops GROUP BY c, a, b, a OR b "
            "HAVING c AND a OR b"
        ).collect()
    }
    want = {
        (r["c"], r["a"], r["b"], r["g"])
        for r in mv_engine.spark.sql(
            "SELECT c, a, b, a OR b AS g FROM bops "
            "GROUP BY c, a, b, a OR b HAVING c AND a OR b"
        ).collect()
    }
    assert got == want and (False, False, True, True) in got


# -- one SQL-text lexer (functions/sqltext.py) ----------------------------------


def test_sqltext_is_the_only_quote_and_comment_scanner():
    """Every decision "is this character code?" is made in one module: no
    function outside ``functions/sqltext.py`` compares a character against
    a quote character, or looks for the ``--`` / ``/*`` comment markers."""
    import ast
    from pathlib import Path

    import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

    root = Path(pkg.__file__).parent
    markers = ("--", "/*", "*/")

    def lexer_const(node) -> bool:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            v = node.value
            return v in markers or (0 < len(v) <= 3 and ("'" in v or '"' in v))
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            return any(lexer_const(e) for e in node.elts)
        return False

    found = []

    def walk(node, fn, rel):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Compare) and any(
            lexer_const(x) for x in (node.left, *node.comparators)
        ):
            found.append((rel, fn, ast.unparse(node)))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("startswith", "endswith", "find", "index")
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in markers
        ):
            found.append((rel, fn, ast.unparse(node)))
        for child in ast.iter_child_nodes(node):
            walk(child, fn, rel)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != "functions/sqltext.py":
            walk(ast.parse(path.read_text(), filename=str(path)), None, rel)
    assert found == []


def test_engine_has_no_whole_statement_regex():
    """The engine reads the shape of a statement through
    ``sqltext.clauses``, never with a regex anchored on a whole
    ``SELECT ... FROM`` statement, which reads comments and literals as
    code."""
    import ast
    import re
    from pathlib import Path

    import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

    path = Path(pkg.__file__).parent / "engine.py"
    anchored = re.compile(r"\^\\s\*SELECT", re.IGNORECASE)
    found = [
        ast.unparse(node)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) == "re.compile"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and anchored.search(node.args[0].value)
    ]
    assert found == []


def test_no_table_reference_regex():
    """The engine and the statement routes find the relations a
    statement names through ``sqltext.relations`` (comments opaque),
    never with a regex pattern holding ``FROM`` or ``JOIN``, which
    misses a reference behind a comment."""
    import ast
    import re
    from pathlib import Path

    import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

    root = Path(pkg.__file__).parent
    word = re.compile(r"\b(?:FROM|JOIN)\b", re.IGNORECASE)
    found = [
        (rel, ast.unparse(node))
        for rel in ("engine.py", "functions/aggsql.py")
        for node in ast.walk(ast.parse((root / rel).read_text()))
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) in (
            "re.compile", "re.match", "re.search", "re.fullmatch"
        )
        and node.args
        and any(
            isinstance(c, ast.Constant)
            and isinstance(c.value, str)
            and word.search(c.value)
            for c in ast.walk(node.args[0])
        )
    ]
    assert found == []


def test_no_partition_path_outside_segments():
    """Only ``segments.py`` knows the ``ingest_date=<day>`` layout: no
    string or f-string outside docstrings in the engine or the ingest
    pipeline spells a partition path."""
    import ast
    from pathlib import Path

    import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

    root = Path(pkg.__file__).parent
    found = []
    for rel in ("engine.py", "streaming/ingest.py"):
        tree = ast.parse((root / rel).read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            )
            and node.body
            and isinstance(node.body[0], ast.Expr)
        }
        found += [
            (rel, node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and "ingest_date=" in node.value
        ]
    assert found == []


def test_aggsql_has_no_statement_head_regex():
    """The statement routes read a statement's head through
    ``sqltext`` (comments opaque), never with a regex anchored on a
    leading ``SELECT``, ``WITH`` or ``(SELECT``, which reads a comment
    before it as code."""
    import ast
    import re
    from pathlib import Path

    import real_time_analytics_with_apache_pinot_on_aws_spark as pkg

    path = Path(pkg.__file__).parent / "functions" / "aggsql.py"
    head = re.compile(
        r"^\^?\\s\*(?:SELECT|WITH|\\\(\\s\*SELECT)", re.IGNORECASE
    )
    assert head.search(r"\s*\(\s*SELECT\b") and head.search(r"^\s*WITH")
    found = [
        ast.unparse(node)
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) in ("re.match", "re.compile")
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and head.search(node.args[0].value)
    ]
    assert found == []


def test_sqltext_statement_shape():
    """The one statement shape: an optional WITH head, the clauses of
    one SELECT with their bodies trimmed of comments, the FROM
    operands with their aliases, and the subquery groups."""
    sql = (
        "/* a */ SELECT g, count(*) AS n FROM t x -- fact\n"
        "JOIN (SELECT k FROM d) dd ON x.k = dd.k LEFT JOIN e USING (k) "
        "WHERE v IN (/* c */ SELECT v FROM w) GROUP BY g HAVING n > 1 "
        "ORDER BY g LIMIT 3;"
    )
    s = sqltext.statement(sql)
    assert {n: sql[c.body_start : c.body_end] for n, c in s.clauses.items()} == {
        "SELECT": "g, count(*) AS n",
        "FROM": "t x -- fact\nJOIN (SELECT k FROM d) dd ON x.k = dd.k "
        "LEFT JOIN e USING (k)",
        "WHERE": "v IN (/* c */ SELECT v FROM w)",
        "GROUP BY": "g",
        "HAVING": "n > 1",
        "ORDER BY": "g",
        "LIMIT": "3",
    }
    assert [sql[a:b] for a, b in s.relation] == ["t x", "(SELECT k FROM d) dd", "e"]
    assert [sql[a:b] for a, b in s.subqueries] == [
        "(SELECT k FROM d)", "(/* c */ SELECT v FROM w)"
    ]
    assert s.clauses["LIMIT"].end == sql.index(";")
    assert sqltext.clauses(sql) is None  # HAVING: not a plain statement
    for rel, ops in (
        ("t, (SELECT 1) AS u", ["t", "(SELECT 1) AS u"]),
        ("t CROSS JOIN u", ["t", "u"]),
        ("t NATURAL LEFT JOIN u v", ["t", "u v"]),
    ):
        q = f"SELECT a FROM {rel}"
        assert [q[a:b] for a, b in sqltext.statement(q).relation] == ops
    for other in (
        "t CROSS JOIN u ON t.k = u.k",  # a CROSS join takes no condition
        "t JOIN u",  # ...a plain one needs one
        "t, u JOIN w ON u.k = w.k",  # commas mixed with JOIN
        "t LATERAL VIEW explode(a) e AS x",
        "VALUES (1) AS v(a)",
        "(VALUES (1)) v",
    ):
        shape = sqltext.statement(f"SELECT a FROM {other}")
        assert shape is not None and shape.relation is None, other
    w = "/* h */ WITH a AS (SELECT 1), b -- n\nAS (SELECT 2) SELECT * FROM a, b"
    s = sqltext.statement(w)
    assert [(n, w[x:y]) for n, x, y in s.ctes] == [("a", "SELECT 1"), ("b", "SELECT 2")]
    assert w[sqltext.ctes(w)[1]:] == " SELECT * FROM a, b"
    for bad in (
        "WITH a (x) AS (SELECT 1) SELECT * FROM a",
        "WITH a AS (VALUES 1) SELECT * FROM a",
        "SELECT a FROM t UNION SELECT a FROM u",
        "SELECT a FROM t WHERE x IN (SELECT 1",
    ):
        assert sqltext.statement(bad) is None, bad


def test_sqltext_clauses():
    """The clause splitter reads one plain SELECT at depth 0, with
    comments, literals and nested groups opaque, and rejects every other
    top-level shape."""
    assert sqltext.clauses(
        "/* a */ SELECT a, 'FROM x' AS b FROM t -- it's t\n"
        "WHERE k IN (SELECT k FROM u WHERE v) AND c = 'd' "
        "GROUP BY a ORDER BY a LIMIT 3 ; -- done"
    ) == {
        "SELECT": "a, 'FROM x' AS b",
        "FROM": "t",
        "WHERE": "k IN (SELECT k FROM u WHERE v) AND c = 'd'",
        "GROUP BY": "a",
        "ORDER BY": "a",
        "LIMIT": "3",
    }
    assert sqltext.clauses("SELECT a FROM t WHERE a IS NOT DISTINCT FROM b") == {
        "SELECT": "a", "FROM": "t", "WHERE": "a IS NOT DISTINCT FROM b"
    }
    # a phrase's words may have a comment between them
    assert sqltext.clauses("SELECT a FROM t GROUP /* c */ BY a") == {
        "SELECT": "a", "FROM": "t", "GROUP BY": "a"
    }
    assert sqltext.clauses("SELECT a FROM t WHERE a IS DISTINCT -- c\nFROM b") == {
        "SELECT": "a", "FROM": "t", "WHERE": "a IS DISTINCT -- c\nFROM b"
    }
    for other in (
        "SELECT a FROM t GROUP BY a HAVING count(*) > 1",
        "SELECT a FROM t UNION SELECT a FROM u",
        "SELECT a FROM t GROUP BY a WHERE a > 1",
        "SELECT a FROM t WHERE",
        "WITH w AS (SELECT 1) SELECT * FROM w",
        "SELECT 1",
    ):
        assert sqltext.clauses(other) is None, other


def test_sqltext_relations():
    """The one relation reader: every FROM / JOIN / FROM-list reference at
    every depth with its alias, comments anywhere between the tokens, and
    no reference read from an expression-level FROM."""

    def refs(sql):
        return [(r.name, r.alias) for r in sqltext.relations(sql)]

    sql = (
        "/* h */ SELECT a FROM /* c */ t x, -- n\n u AS sort "
        "JOIN /* j */ w ON x.k = w.k WHERE k IN (SELECT k FROM v AS limit) "
        "GROUP /* g */ BY a"
    )
    assert refs(sql) == [
        ("t", "x"), ("u", "sort"), ("w", None), ("v", "limit"),
    ]
    assert [sql[r.start : r.end] for r in sqltext.relations(sql)] == [
        "t", "u", "w", "v",
    ]
    for q, want in (
        ("SELECT * FROM db.t sort", [("db.t", "sort")]),
        ("SELECT * FROM `my t` AS `q`", [("my t", "q")]),
        ("SELECT * FROM t GROUP BY a", [("t", None)]),
        ("SELECT DISTINCT * FROM t", [("t", None)]),
        ("SELECT substring(s FROM 2 FOR 3) FROM t", [("t", None)]),
        ("SELECT extract(DAY FROM ts), trim(LEADING 'x' FROM s) FROM t",
         [("t", None)]),
        ("SELECT a FROM t WHERE a IS DISTINCT /* c */ FROM b", [("t", None)]),
        ("SELECT * FROM t LATERAL VIEW explode(x) e AS a, b", [("t", None)]),
        ("SELECT * FROM range(3), (WITH q AS (SELECT 1) SELECT * FROM q) z",
         [("q", None)]),
        ("SELECT 'FROM x' FROM t -- FROM y", [("t", None)]),
    ):
        assert refs(q) == want, q


def test_sqltext_backticks_and_nested_comments_are_opaque():
    """A backtick-quoted identifier is one opaque span (a doubled backtick
    escapes one), and ``/* */`` comments nest, as Spark lexes both."""
    import re

    quoted = "SELECT g AS `it's`, count(*) AS n FROM t GROUP BY g"
    assert sqltext.search("GROUP BY", quoted, top_level=True)
    assert sqltext.spans("a `x``y` b") == [(2, 8)]
    assert not sqltext.search("FROM", "SELECT `FROM t` AS x")
    # a pattern that starts in code still runs into a backticked name
    ref = re.compile(r"\bFROM\s+(`(?:[^`]|``)*`|\w+)", re.IGNORECASE)
    assert sqltext.search(ref, "SELECT 1 FROM `my table`").group(1) == (
        "`my table`"
    )
    nested = "SELECT 1 /* a /* b */ c, d */ AS x"
    assert sqltext.spans(nested) == [(9, 29)]
    assert sqltext.split(nested) == [nested]
    assert sqltext.skip_space("/* a /* b */ c */ SELECT") == 18
    assert sqltext.code_end("SELECT 1 /* a /* b */ c */ ") == 8
    assert sqltext.balanced("(a /* ) /* ( */ ) */)", 0)[1] == 21
    assert sqltext.spans("SELECT /* a /* b */") == [(7, 19)]  # unterminated


def test_sqltext_raw_search_reads_text_as_written():
    """A search reads comments as blanks, so a phrase runs across one; a
    ``raw`` search reads the text as written past the match's start,
    while the match must still start in code."""
    import re

    opt = re.compile(r"OPTION\((\w+)=([\w\-]+)\)$")
    sql = "SELECT 1 OPTION(a=--)"
    assert sqltext.search(opt, sql) is None
    assert sqltext.search(opt, sql, raw=True).group(2) == "--"
    assert sqltext.search(opt, "SELECT 1 /* OPTION(a=1)", raw=True) is None
    assert sqltext.search("GROUP BY", "GROUP /* c */ BY g")

def test_quote_in_comment_does_not_hide_pinot_calls(agg_engine):
    """An apostrophe inside a comment is comment text, not the start of a
    literal: the Pinot calls after it are still rewritten, and the
    commented statement answers exactly as the uncommented one."""
    comment = "-- it's p90\n "
    commented = (
        "SELECT u, DISTINCTCOUNTHLL(t) AS a, " + comment
        + "PERCENTILE(v, 90) AS p FROM aggsrc GROUP BY u"
    )
    plain = commented.replace(comment, "")
    assert R(commented).replace(comment, "") == R(plain)
    assert "PERCENTILE(" not in R(commented)

    def rows(sql):
        return sorted(tuple(r) for r in agg_engine.query(sql).collect())

    assert rows(commented) == rows(plain)
    # comment content is never rewritten: it is not code
    assert R("SELECT 1 /* DISTINCTCOUNT(u) */") == (
        "SELECT 1 /* DISTINCTCOUNT(u) */"
    )
    # bracketed comments nest, as in Spark: the call is still inside one
    assert R("SELECT 1 /* a /* b */ DISTINCTCOUNT(u) */ AS x") == (
        "SELECT 1 /* a /* b */ DISTINCTCOUNT(u) */ AS x"
    )
