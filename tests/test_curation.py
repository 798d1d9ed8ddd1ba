"""Corpus-curation operators (C10-C13): invariants the oracle gate can't see.

The oracle gate (test_queries_oracle) proves value parity with DuckDB; these
tests pin the SEMANTIC contracts — split exhaustiveness/disjointness, exact
stratum sizes, packing conservation laws, decontamination recall — plus the
plan shapes (broadcast on the eval-gram side, no corpus-text shuffle).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_analytics_with_apache_pinot_on_aws_spark.operators import curation as C
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    from real_time_analytics_with_apache_pinot_on_aws_spark import queries as Q

    Q._prep(spark, SF_DIR)
    return spark.table("documents")


def test_hash_split_partitions_every_row_exactly_once(docs):
    split = C.hash_split(docs)
    total = docs.count()
    by = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(by.values()) == total
    assert set(by) <= {"train", "val", "test"}
    # ~80/10/10 with binomial slack at n=500
    assert 0.70 <= by["train"] / total <= 0.88
    assert by.get("val", 0) > 0 and by.get("test", 0) > 0


def test_hash_split_is_stable_across_invocations(docs):
    a = C.hash_split(docs).select("doc_id", "split")
    b = C.hash_split(docs).select("doc_id", "split")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stratified_sample_exact_n_per_stratum(docs):
    sampled = C.stratified_sample_exact(docs, "source", 5)
    per = sampled.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] == 5 for r in per)
    assert len(per) == docs.select("source").distinct().count()
    # determinism: same five ids each time
    again = C.stratified_sample_exact(docs, "source", 5)
    assert sampled.select("doc_id").exceptAll(again.select("doc_id")).count() == 0


def test_bernoulli_sample_is_a_stable_subset(docs):
    s = C.bernoulli_sample(docs, "20")
    n, total = s.count(), docs.count()
    # 12.5% nominal; binomial slack at n=500
    assert 0.05 * total <= n <= 0.22 * total
    assert s.join(docs, "doc_id", "left_anti").count() == 0


def test_pack_sequences_conservation_laws(docs):
    toks = docs.select(
        "lang", "doc_id", C.whitespace_token_count(F.col("text")).alias("n_tokens")
    )
    packed = C.pack_sequences(toks, "lang", "n_tokens", 128)
    rows = packed.orderBy("lang", "doc_id").collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        # offsets are the exclusive prefix sums: contiguous, gap-free stream
        run = 0
        for r in rs:
            assert r["token_offset"] == run, (lang, r)
            run += r["n_tokens"]
            # chunk span arithmetic: first chunk holds the first token,
            # span covers through the last token
            assert r["first_chunk"] == r["token_offset"] // 128
            last = (r["token_offset"] + max(r["n_tokens"], 1) - 1) // 128
            assert r["chunks_spanned"] == last - r["first_chunk"] + 1
        # total chunks = ceil(stream/budget) — no tokens lost or invented
        n_chunks = max(r["first_chunk"] + r["chunks_spanned"] for r in rs)
        assert n_chunks == (run + 127) // 128


def test_decontaminate_flags_eval_members_planted_in_corpus(docs, spark):
    # plant: corpus containing an exact copy of an eval doc must be flagged
    eval_set = docs.filter(F.col("doc_id") % 17 == 3).limit(3)
    planted = eval_set.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    corpus = docs.filter(F.col("doc_id") % 17 != 3).unionByName(planted)
    out = C.decontaminate(corpus, eval_set, n=3, min_overlap=1)
    flagged = {r["doc_id"] for r in out.filter("contaminated").collect()}
    want = {r["doc_id"] for r in planted.select("doc_id").collect()}
    assert want <= flagged


def test_decontaminate_broadcasts_eval_grams(docs):
    eval_set = docs.filter(F.col("doc_id") % 17 == 3)
    corpus = docs.filter(F.col("doc_id") % 17 != 3)
    plan = C.decontaminate(corpus, eval_set)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_redact_pii_leaves_no_residual_matches(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+e@f.org, call +1 555 0100 99, host 10.1.2.3"),
            (2, "clean text"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in C.redact_pii(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ip"]) == (2, 1, 1)
    assert "<EMAIL>" in r1["redacted_text"] and "<PHONE>" in r1["redacted_text"]
    assert "@" not in r1["redacted_text"].replace("<EMAIL>", "")
    # re-running redaction on redacted text finds nothing (idempotent scrub)
    again = C.redact_pii(
        spark.createDataFrame([(1, r1["redacted_text"])], "doc_id long, text string")
    ).collect()[0]
    assert (again["n_email"], again["n_phone"], again["n_ip"]) == (0, 0, 0)
    assert out[2]["redacted_text"] == "clean text"


def test_chunking_covers_every_token_with_declared_overlap(docs):
    W_, S_ = 40, 30
    chunks = C.chunk_documents(docs, window=W_, stride=S_).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == docs.count()  # every doc yields >= 1 chunk
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_id"])
        n = rs[0]["n_tokens"]
        assert [r["chunk_id"] for r in rs] == list(range(len(rs)))
        for i, r in enumerate(rs):
            assert r["start_token"] == i * S_
            assert r["chunk_tokens"] == min(W_, max(n - i * S_, 0)) or n == 0
        # coverage: last chunk reaches the end of the token stream
        last = rs[-1]
        assert last["start_token"] + last["chunk_tokens"] >= n
        # no chunk starts beyond the stream (except the single-chunk empty doc)
        assert all(r["start_token"] < max(n, 1) for r in rs)


def test_repetition_stats_flags_planted_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham " * 30),                         # one 2-gram repeated
            (2, "each word here appears only once total"),  # no repetition
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in C.repetition_stats(df).collect()}
    assert out[1]["dup_2gram_fraction"] > 0.9      # 59 grams, 2 distinct
    assert out[2]["dup_2gram_fraction"] == 0.0
    assert out[2]["dup_3gram_fraction"] == 0.0


def test_hash_split_threshold_validation(docs):
    """Round-4 ADVICE: thresholds compare lexicographically against LOWERCASE
    md5 hex — uppercase is normalized (same assignment as lowercase), and a
    malformed threshold raises instead of silently mis-bucketing."""
    lower = {r["doc_id"]: r["split"] for r in C.hash_split(docs, train_hex="cc").select("doc_id", "split").collect()}
    upper = {r["doc_id"]: r["split"] for r in C.hash_split(docs, train_hex="CC").select("doc_id", "split").collect()}
    assert lower == upper
    with pytest.raises(ValueError, match="train_hex"):
        C.hash_split(docs, train_hex="c")
    with pytest.raises(ValueError, match="val_hex"):
        C.hash_split(docs, val_hex="zz")
    with pytest.raises(ValueError, match="rate_hex"):
        C.bernoulli_sample(docs, rate_hex="0x20")


def test_temperature_rebalance_flattens_distribution(docs):
    """The exponentiated-count rule: the rarest source keeps everything,
    larger sources are cut harder, and expected kept counts order by
    n^alpha (flatter than the input distribution)."""
    kept = C.temperature_rebalance(docs, "source", alpha=0.5)
    before = {r["source"]: r["n"] for r in docs.groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    after = {r["source"]: r["n"] for r in kept.groupBy("source").count()
             .withColumnRenamed("count", "n").collect()}
    n_min = min(before.values())
    for src, n in before.items():
        if n == n_min:
            assert after.get(src, 0) == n  # rate 1.0 -> keeps all
        else:
            assert after.get(src, 0) <= n
    # flattening: the max/min kept ratio must not exceed the input ratio
    if len(before) > 1 and min(after.values()) > 0:
        assert max(after.values()) / min(after.values()) <= \
               max(before.values()) / min(before.values()) + 1e-9
    # determinism
    again = {r["source"]: r["n"] for r in
             C.temperature_rebalance(docs, "source", alpha=0.5)
             .groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert again == after
    # alpha=1 keeps every row
    assert C.temperature_rebalance(docs, "source", alpha=1.0).count() == docs.count()


def test_shuffle_shards_partition_every_row_once(docs):
    sharded = C.shuffle_shards(docs, n_shards=8)
    assert sharded.count() == docs.count()
    shards = {r["shard"] for r in sharded.select("shard").distinct().collect()}
    assert shards <= set(range(8)) and len(shards) > 1
    # same id -> same shard on re-run (re-export moves nothing)
    a = {r["doc_id"]: r["shard"] for r in sharded.select("doc_id", "shard").collect()}
    b = {r["doc_id"]: r["shard"] for r in C.shuffle_shards(docs, 8).select("doc_id", "shard").collect()}
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError):
        C.shuffle_shards(docs, 0)


def test_token_budget_cap_fills_but_never_starves(docs):
    """Every group's kept set must reach the budget (or exhaust the group),
    and removing the LAST kept doc must drop it under budget — i.e. the
    boundary doc is included, nothing beyond it."""
    budget = 20000
    kept = C.token_budget_cap(docs, "lang", "n_chars", budget=budget)
    rows = kept.groupBy("lang").agg(
        F.sum("n_chars").alias("chars"), F.count("*").alias("n")).collect()
    group_totals = {r["lang"]: r["chars"] for r in docs.groupBy("lang")
                    .agg(F.sum("n_chars").alias("chars")).collect()}
    for r in rows:
        if group_totals[r["lang"]] >= budget:
            assert r["chars"] >= budget  # filled
    # max kept doc per group: kept_sum - its tokens < budget (nothing beyond
    # the boundary doc was taken)
    from pyspark.sql import Window as W
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    last = kept.withColumn(
        "rk", F.row_number().over(W.partitionBy("lang").orderBy(*[o.desc() for o in order]))
    ).filter(F.col("rk") == 1).select("lang", "n_chars")
    sums = {r["lang"]: r["chars"] for r in rows}
    for r in last.collect():
        assert sums[r["lang"]] - r["n_chars"] < budget


def test_classifier_filter_keeps_positive_scores(spark):
    """C22 semantics: filter == scores > 0, scoring is deterministic across
    invocations, and a weight flip inverts the kept set."""
    from real_time_analytics_with_apache_pinot_on_aws_spark import catalog as CAT
    from tests.conftest import SF_DIR

    emb = CAT.load_table(spark, SF_DIR, "embeddings")
    w = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
    scored = C.classifier_scores(emb, "embedding", w, -0.05)
    kept = C.classifier_filter(emb, "embedding", w, -0.05)
    assert kept.count() == scored.filter("quality_score > 0").count()
    assert 0 < kept.count() < emb.count()  # the probe separates the corpus
    again = C.classifier_filter(emb, "embedding", w, -0.05)
    assert kept.count() == again.count()
    flipped = C.classifier_filter(emb, "embedding", [-x for x in w], 0.05)
    # complements up to exact-zero scores (measure-zero for this data)
    assert kept.count() + flipped.count() == emb.count()


def test_classifier_rejects_dimension_mismatch(spark):
    """A probe whose weight count differs from the embedding dimension must
    fail loudly — zip_with would otherwise null-pad and silently keep 0
    rows (round-5 review)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from real_time_analytics_with_apache_pinot_on_aws_spark import catalog as CAT
    from tests.conftest import SF_DIR

    emb = CAT.load_table(spark, SF_DIR, "embeddings")
    bad = C.classifier_filter(emb, "embedding", [0.5] * 16, 0.0)  # 16 != 64
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="dimension"):
        bad.count()


def test_classifier_null_embedding_scores_null(spark):
    """One missing embedding must not abort a corpus-size job: NULL vector
    -> NULL score (filtered out), wrong dimension still raises (round-5
    review)."""
    import pytest as _pytest

    w = [0.5, -0.25, 1.0]
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, None)], "id int, vec array<float>"
    )
    rows = {r["id"]: r["quality_score"] for r in C.classifier_scores(df, "vec", w, 0.1).collect()}
    assert abs(rows[1] - (0.5 - 0.5 + 3.0 + 0.1)) < 1e-9
    assert rows[2] is None
    kept = C.classifier_filter(df, "vec", w, 0.1).collect()
    assert [r["id"] for r in kept] == [1]
    bad = spark.createDataFrame([(1, [1.0, 2.0])], "id int, vec array<float>")
    with _pytest.raises(Exception, match="embedding dimension"):
        C.classifier_scores(bad, "vec", w, 0.0).collect()


def test_shuffle_shards_32bit_balance(docs):
    """The 32-bit variate keeps large shard counts populated and balanced
    (a 16-bit variate would leave systematic 2:1 residue-class skew)."""
    n = docs.count()
    sharded = C.shuffle_shards(docs, n_shards=64)
    sizes = [r["c"] for r in sharded.groupBy("shard").count().withColumnRenamed("count", "c").collect()]
    assert sum(sizes) == n
    # with ~n/64 docs per shard, no shard should be empty or wildly off
    assert min(sizes) > 0


def test_dsir_upweights_target_like_candidates(spark):
    """DSIR semantics: a candidate sharing the target domain's distinctive
    vocabulary must out-weigh one written in the background vocabulary."""
    rows = (
        # target domain: medical-ish vocabulary
        [(i, "patient dose clinical trial symptom therapy", True) for i in range(10)]
        # candidate that looks like the target
        + [(100, "clinical therapy dose patient trial outcome", False)]
        # candidate in a disjoint vocabulary
        + [(101, "football match goal striker league season", False)]
        # background candidates diluting q toward the disjoint vocab
        + [(200 + i, "football match goal striker league season", False) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r["log_w"]
        for r in C.dsir_scores(df, F.col("tgt")).collect()
    }
    assert out[100] > out[101]
    # every candidate present exactly once, no target rows leak through
    assert set(out) == {100, 101} | {200 + i for i in range(10)}


def test_dsir_gram_strings_never_cross_an_exchange(docs):
    """100 TB posture: tokenize/gram/hash is map-side — only int bucket ids
    explode into the fit/score shuffles, never gram strings, and the
    1024-row ratio table broadcasts back to the scoring join."""
    out = C.dsir_scores(docs, F.col("source") == "src0")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # every shuffle output carries only narrow columns (ids/buckets/counts):
    # gram text appears in no Exchange's child output schema ("__t#" is the
    # token-array column ref; the boolean "__tgt#" key in the per-doc count
    # exchange is a legit 1-byte column, not text)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__t#" not in line and "gram" not in line.lower()
    # single text pass: BOTH the p/q fit and the scoring join read the
    # cached per-doc bucket counts, so the tokenize/gram/hash scan of the
    # corpus text plans exactly once (the other consumers hit the cache)
    assert plan.count("InMemoryTableScan") >= 2


def test_dsir_rebuild_keeps_the_per_doc_cache(docs):
    """Rebuilding the same DSIR plan must keep the single text pass.  Cache
    entries match by plan, so releasing the previous build's relation AFTER
    caching the new one would drop the new one's entry too."""
    for _ in range(2):
        out = C.dsir_scores(docs, F.col("source") == "src0")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2


def test_dsir_edge_inputs_get_no_row(spark):
    """Candidates with no gram (empty, null, punctuation-only text) or a
    null target flag get no row — never ``(id, 0, 0.0)`` or nulls — and a
    one-token candidate scores one gram.  The surviving values are the ones
    the per-(doc, bucket) count shape produced on this frame."""
    rows = [
        (1, "", False),
        (2, None, False),
        (3, "!!! ???", False),
        (4, "clinical trial dose", None),
        (5, "Therapy!", False),
        (6, "clinical trial outcome", False),
        (7, "football match, goal", False),
        (10, "patient dose clinical trial", True),
        (11, "clinical therapy dose", True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = sorted(tuple(r) for r in C.dsir_scores(df, F.col("tgt")).collect())
    assert out == [
        (5, 1, -0.000966, 2.187399),
        (6, 5, -0.985658, -1.87473),
        (7, 5, -3.470564, -2.928871),
    ]


def _final_shuffle_partitionings(df) -> list[str]:
    """Output partitioning of every shuffle in ``df``'s executed (AQE final)
    plan, each cached sub-plan walked once; a reused exchange is not a
    second shuffle."""
    out, seen = [], set()

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            if cached.hashCode() not in seen:
                seen.add(cached.hashCode())
                walk(cached)
            return
        if cls == "ReusedExchangeExec":
            return
        if cls == "ShuffleExchangeExec":
            out.append(node.outputPartitioning().toString())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_dsir_plan_has_one_fit_exchange_and_no_doc_shuffle(docs):
    """Every doc stays one row from text to score: no shuffle is keyed on
    the id column, and the <= n_buckets fit aggregate is planned once (its
    totals come from the same single-partition step, not a re-aggregate)."""
    out = C.dsir_scores(docs, F.col("source") == "src0")
    out.collect()
    parts = _final_shuffle_partitionings(out)
    assert not [p for p in parts if p.startswith("hashpartitioning(doc_id")]
    assert sum(p.startswith("hashpartitioning(b#") for p in parts) == 1


def test_c27_collect_runs_at_most_12_jobs(spark):
    """Building and collecting the c27 selection runs <= 12 Spark jobs (the
    per-(doc, bucket) count shape ran 17)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark import queries as Q

    builder = Q.all_queries()["c27_dsir_selection"].builder
    builder(spark, SF_DIR).collect()  # registers the views once
    sc = spark.sparkContext
    sc.setJobGroup("c27-collect", "c27 collect", False)
    try:
        builder(spark, SF_DIR).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("c27-collect")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(jobs) <= 12


# -- C28: Gopher rule-based quality filter -----------------------------------


def test_gopher_rules_signals_and_thresholds(spark):
    """Each rule trips on its designed violator and passes clean prose;
    `passes` is the conjunction.  Thresholds default to the paper's values
    (arXiv:2112.11446 Appendix A1)."""
    clean = ("The quick brown fox jumps over a lazy dog near the river bank "
             "and that was quite a sight to see with many other animals of "
             "every kind you could have imagined there ")
    docs = spark.createDataFrame(
        [
            (1, clean),                                    # passes all
            (2, "tiny doc"),                               # word count
            (3, "#### #tags ### " + clean),                # symbol ratio
            (4, "- one thing\n- two thing\n- red thing\n- blue thing"),  # bullets
            (5, ("trailing off... \n" * 10) + clean.replace(" ", " ... ")),  # ellipsis
            (6, " ".join(["spam"] * 80)),                  # dup 2/3-gram + stopwords
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in C.gopher_rules(docs, min_words=30).collect()}
    assert out[1]["passes"] is True
    assert out[2]["r_word_count"] is False and out[2]["passes"] is False
    assert out[3]["r_symbol_ratio"] is False
    assert out[4]["r_bullet_lines"] is False
    assert out[5]["r_ellipsis_lines"] is False
    assert out[6]["r_dup_2gram"] is False and out[6]["r_stopwords"] is False
    # signals are deterministic and rounded
    assert out[1]["stop_hits"] >= 2 and 3.0 <= out[1]["mean_word_len"] <= 10.0


def test_gopher_rules_is_shuffle_free(spark):
    """100 TB posture: every signal is a built-in expression over the same
    row — the plan has NO exchange and no Python."""
    docs = spark.createDataFrame([(1, "a few words here")], "doc_id int, text string")
    plan = C.gopher_rules(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "pythonudf" not in plan.lower()


# -- C29: C4-style line cleaning ----------------------------------------------


def test_c4_clean_line_and_doc_rules(spark):
    """Lines must end in terminal punctuation AND carry >= 3 words; docs
    need >= 5 kept sentences and no banned substring (arXiv:1910.10683
    §2.2)."""
    good = ("First sentence lands here. Second one follows right after! "
            "Third keeps going nicely? Fourth is also fine. Fifth wraps it up.")
    docs = spark.createDataFrame(
        [
            (1, good),                                      # passes
            (2, "no punct line at all\nok.\n" + good),      # drops 2 lines, passes
            (3, "Only one sentence here."),                  # < 5 sentences
            (4, good + " lorem ipsum"),                      # banned substring
            (5, good + " function() {"),                     # curly brace
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in C.c4_clean(docs).collect()}
    assert out[1]["doc_pass"] is True and out[1]["n_kept"] == 1
    assert out[2]["n_lines"] == 3 and out[2]["n_kept"] == 1  # 'ok.' has < 3 words
    assert out[2]["doc_pass"] is True
    assert out[3]["doc_pass"] is False and out[3]["n_sentences"] == 1
    assert out[4]["has_banned"] is True and out[4]["doc_pass"] is False
    assert out[5]["has_banned"] is True and out[5]["doc_pass"] is False
    # kept lines are trimmed and joined with \n; dropped lines leave no trace
    assert out[2]["clean_text"] == good


def test_c4_clean_is_shuffle_free(spark):
    docs = spark.createDataFrame([(1, "A line.")], "doc_id int, text string")
    plan = C.c4_clean(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "pythonudf" not in plan.lower()


# -- C32: URL/domain filtering (RefinedWeb stage 1) ---------------------------


def _url_docs(spark):
    return spark.createDataFrame(
        [
            (1, "https://www.good-site.com/article/1"),
            (2, "https://ads.tracker-net.com/banner"),          # soft 'ads' only
            (3, "https://play.mega-casino.net/slots"),          # strict word
            (4, "https://blog.nice-place.org/post?ref=gambling"),  # soft 0.5
            (5, "https://ads.spam-hub.net/x?tag=gambling"),     # 0.25+0.5 < 1.0
            (6, "https://ads.bad-apple.com/x?t=gambling&u=ads"),  # blocked domain
            (7, "https://sub.deep.rescued-domain.com/fine"),    # blocked+allowed
            (8, "not a url at all"),
        ],
        "doc_id int, url string",
    )


def test_url_filter_scoring_blocklist_and_allowlist(spark):
    """RefinedWeb App. G.1 semantics: strict word alone crosses the 1.0
    threshold, soft words only in combination; blocklist matches on the
    REGISTERED domain (subdomains stripped); allowlist overrides both."""
    docs = _url_docs(spark)
    bl = spark.createDataFrame(
        [("bad-apple.com",), ("rescued-domain.com",)], "domain string"
    )
    al = spark.createDataFrame([("rescued-domain.com",)], "domain string")
    out = {
        r["doc_id"]: r
        for r in C.url_filter(docs, bl, allowlist=al).collect()
    }
    assert out[1]["keep"] is True and out[1]["url_score"] == 0.0
    assert out[1]["domain"] == "good-site.com"
    # registered domain = last two labels, subdomains stripped
    assert out[2]["domain"] == "tracker-net.com"
    assert out[2]["url_score"] == 0.25 and out[2]["keep"] is True
    # strict word alone drops
    assert out[3]["url_score"] >= 1.0 and out[3]["keep"] is False
    # one soft word alone keeps
    assert out[4]["url_score"] == 0.5 and out[4]["keep"] is True
    # soft combination below threshold keeps
    assert out[5]["url_score"] == 0.75 and out[5]["keep"] is True
    # blocklist hit on registered domain drops regardless of score
    assert out[6]["blocked"] is True and out[6]["keep"] is False
    # allowlist rescues a blocked domain, multi-level subdomain stripped
    assert out[7]["domain"] == "rescued-domain.com"
    assert out[7]["blocked"] is True and out[7]["allowlisted"] is True
    assert out[7]["keep"] is True
    # an unparseable URL has NULL host/domain, scores 0, and keeps
    assert out[8]["host"] is None and out[8]["keep"] is True


def test_url_filter_broadcasts_blocklist_and_never_shuffles_corpus(spark):
    """100 TB posture: the corpus never crosses an exchange — scoring is a
    map-side projection and the blocklist join is a BROADCAST join (UT1 at
    ~4.6M domains fits executor memory); the opt-out path hash-shuffles
    the narrow domain key instead."""
    docs = _url_docs(spark)
    bl = spark.createDataFrame([("bad-apple.com",)], "domain string")
    plan = C.url_filter(docs, bl)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only hash exchanges are the LIST-side dedup (bounded by the
    # blocklist, not the corpus) — no corpus column ever partitions
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__bl_domain" in line or "__al_domain" in line, line
    assert "pythonudf" not in plan.lower()
    shuffled = C.url_filter(docs, bl, broadcast_blocklist=False)
    plan2 = shuffled._jdf.queryExecution().executedPlan().toString()
    # the opt-out path hash-partitions on the NARROW domain key — the
    # corpus-side exchange carries (id, url, host, domain, score) rows
    # keyed by domain, never a broadcast of an unbounded blocklist
    assert "BroadcastHashJoin" not in plan2
    assert any(
        "Exchange hashpartitioning" in ln and "domain" in ln
        for ln in plan2.splitlines()
    ), plan2
    assert shuffled.where("blocked").count() == 1


def test_url_filter_public_suffix_registered_domain(spark):
    """Round-7 verdict fix: under a two-level public suffix the
    registered domain is the last THREE labels — one blocklisted
    example.co.uk blocks its own subdomains but never an unrelated
    other.co.uk host, and a UT1 row that is itself a public suffix
    (co.uk) silently matches nothing instead of mass-dropping a ccTLD."""
    docs = spark.createDataFrame(
        [
            (1, "https://shop.example.co.uk/buy"),   # blocklisted reg. domain
            (2, "https://example.co.uk/"),            # the domain itself
            (3, "https://other.co.uk/fine"),          # unrelated co.uk host
            (4, "https://deep.sub.other.com.au/x"),   # com.au three-label
            (5, "https://www.plain.com/x"),           # gTLD: two-label as before
            (6, "https://co.uk/"),                    # host IS a public suffix
        ],
        "doc_id int, url string",
    )
    bl = spark.createDataFrame(
        [("example.co.uk",), ("co.uk",), ("other.com.au",)], "domain string"
    )
    out = {r["doc_id"]: r for r in C.url_filter(docs, bl).collect()}
    assert out[1]["domain"] == "example.co.uk"
    assert out[1]["blocked"] is True and out[1]["keep"] is False
    assert out[2]["domain"] == "example.co.uk" and out[2]["blocked"] is True
    # the silent-mass-drop shape: other.co.uk must SURVIVE 'co.uk' in UT1
    assert out[3]["domain"] == "other.co.uk"
    assert out[3]["blocked"] is False and out[3]["keep"] is True
    assert out[4]["domain"] == "other.com.au" and out[4]["blocked"] is True
    assert out[5]["domain"] == "plain.com" and out[5]["blocked"] is False
    # a bare public-suffix host: two labels, matches the (degenerate) row
    assert out[6]["domain"] == "co.uk"
