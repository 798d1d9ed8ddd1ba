"""TEXT_MATCH analog (SURVEY §2.B B13): inverted-index term search.

Pinot's ``TEXT_MATCH(col, 'lucene query')`` consults a per-segment Lucene
index **[P1.2]** (no text index is configured in the reference deployment —
kinesisTableConfigFile.json:12-27 — so this is surface parity, not config
parity).  The Spark-native equivalent of an inverted index is a *postings
relation* ``(token, doc_id)``: materialized once (at 100 TB: bucketed by
token, so every term lookup is a bucket-pruned scan), then term queries are
semi-joins instead of full-corpus regex scans.

Supported query grammar (the common TEXT_MATCH / Lucene QueryParser forms):
- ``term``                      — single term
- ``t1 AND t2 [AND ...]``       — all terms present
- ``t1 OR t2 [OR ...]``         — any term present
- ``"exact phrase"``            — all words present + substring verification
- ``t1 AND NOT t2``             — exclusion (round 4; any unit may be negated
                                  in an AND chain; pure-negative queries match
                                  nothing, as in Lucene)
- ``pre*`` / ``p?t``            — wildcard terms (* = any run, ? = one char);
                                  postings-dictionary scan like Lucene's term
                                  enumeration — prefix patterns stay
                                  bucket-prunable on a sorted token layout
- ``term~`` / ``term~1``        — fuzzy terms (Damerau-ish via levenshtein,
                                  default max edits 2 like Lucene), with a
                                  length-difference pre-filter so the distance
                                  only evaluates on plausible tokens

Terms are analyzed like the corpus: by default lowercased and split on
non-alphanumerics (Lucene StandardAnalyzer approximation, same tokenizer as
operators/dedup).  Pinot's text index additionally accepts an analyzer
config **[P1.2]** (``luceneAnalyzerClass``, ``stopWordInclude`` /
``stopWordExclude``, case sensitivity); the :class:`Analyzer` dataclass
covers that surface — case folding, a stopword set, and Lucene's
EnglishMinimalStem plural rule — with IDENTICAL chains on the corpus side
(pure codegen column expressions, no Python in the hot path) and the query
side (plain Python on the handful of query terms).  Phrases compose with
the boolean forms only as the whole query (Lucene's nested ``"a b" AND c``
raises here — documented divergence).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import lifecycle_cache, normalized_tokens

# Lucene's classic English stop set (EnglishAnalyzer.ENGLISH_STOP_WORDS_SET)
ENGLISH_STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)


@dataclass(frozen=True)
class Analyzer:
    """Text-analysis chain applied identically to corpus and query terms.

    Mirrors the knobs Pinot's text index exposes **[P1.2]**: case folding
    (``caseSensitive``), stopword include/exclude lists
    (``stopWordInclude`` / ``stopWordExclude``), and the analyzer class
    (``luceneAnalyzerClass`` — EnglishAnalyzer => stopwords + stemming).
    ``stem`` applies Lucene's EnglishMinimalStem rule (plural stripping
    only — deterministic, exactly reproducible on both engines).
    """

    lowercase: bool = True
    stopwords: frozenset = field(default_factory=frozenset)
    stem: bool = False

    def tokens(self, text_col) -> Column:
        """Corpus-side chain as ONE codegen column expression."""
        if self.lowercase:
            toks = normalized_tokens(text_col)
        else:
            toks = F.filter(
                F.split(text_col, "[^a-zA-Z0-9]+"), lambda t: t != F.lit("")
            )
        if self.stopwords:
            stops = sorted(self.stopwords)
            toks = F.filter(toks, lambda t: ~t.isin(*stops))
        if self.stem:
            toks = F.transform(toks, _en_minimal_stem_col)
        return toks

    def analyze(self, term: str) -> list[str]:
        """Query-side chain — must agree with :meth:`tokens` bit-for-bit."""
        if self.lowercase:
            words = [t for t in re.split(r"[^a-z0-9]+", term.lower()) if t]
        else:
            words = [t for t in re.split(r"[^a-zA-Z0-9]+", term) if t]
        words = [w for w in words if w not in self.stopwords]
        if self.stem:
            words = [_en_minimal_stem(w) for w in words]
        return words


STANDARD = Analyzer()
ENGLISH = Analyzer(stopwords=ENGLISH_STOPWORDS, stem=True)


def analyzer_from_config(props: dict) -> Analyzer:
    """Pinot text-index ``properties`` map -> :class:`Analyzer` **[P1.2]**.

    Recognized keys (Pinot FieldConfig text-index properties):
    ``luceneAnalyzerClass`` (``...EnglishAnalyzer`` => English chain, else
    standard), ``stopWordInclude`` / ``stopWordExclude`` (comma-separated),
    ``caseSensitive`` ('true'/'false').
    """
    base = (
        ENGLISH
        if "EnglishAnalyzer" in str(props.get("luceneAnalyzerClass", ""))
        else STANDARD
    )
    lowercase = str(props.get("caseSensitive", "false")).lower() != "true"
    # stop entries must match the TOKEN case the chain produces: folded
    # under the default analyzer, preserved under caseSensitive (an entry
    # lowercased under caseSensitive would be silently inert, round-5 review)
    fold = (lambda w: w.lower()) if lowercase else (lambda w: w)
    stops = set(base.stopwords)
    inc = str(props.get("stopWordInclude", "") or "")
    exc = str(props.get("stopWordExclude", "") or "")
    stops |= {fold(w.strip()) for w in inc.split(",") if w.strip()}
    stops -= {fold(w.strip()) for w in exc.split(",") if w.strip()}
    return Analyzer(lowercase=lowercase, stopwords=frozenset(stops), stem=base.stem)


def _en_minimal_stem(w: str) -> str:
    """Lucene EnglishMinimalStemFilter rule (plural-only), Python side."""
    if len(w) < 3 or w[-1] != "s":
        return w
    if w[-2] in "us":
        return w
    if w[-2] == "e":
        if len(w) > 3 and w[-3] == "i" and w[-4] not in "ae":
            return w[:-3] + "y"
        if w[-3] in "iaoe":
            return w
    return w[:-1]


def _en_minimal_stem_col(tok: Column) -> Column:
    """The same rule as :func:`_en_minimal_stem`, as a codegen expression
    (branch-for-branch identical so corpus and query sides always agree)."""
    n = F.length(tok)
    last = F.substring(tok, -1, 1)
    p2 = F.substring(tok, -2, 1)
    p3 = F.substring(tok, -3, 1)
    p4 = F.substring(tok, -4, 1)
    return (
        F.when((n < 3) | (last != "s") | p2.isin("u", "s"), tok)
        .when(
            (p2 == "e") & (n > 3) & (p3 == "i") & ~p4.isin("a", "e"),
            F.concat(tok.substr(F.lit(1), n - 3), F.lit("y")),
        )
        .when((p2 == "e") & p3.isin("i", "a", "o", "e"), tok)
        .otherwise(tok.substr(F.lit(1), n - 1))
    )


def build_postings(
    df: DataFrame, id_col: str, text_col: str, analyzer: Analyzer = STANDARD
) -> DataFrame:
    """(token, id) postings relation — the inverted index.

    One narrow shuffle-free pass (tokenize + explode); ``distinct`` per doc
    happens via ``array_distinct`` BEFORE the explode so the fan-out carries
    no duplicate (token, doc) pairs.  Persist with
    ``catalog.write_bucketed(postings, name, ["token"])`` to make every term
    lookup bucket-pruned at scale.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(analyzer.tokens(F.col(text_col)))).alias("token"),
    ).select("token", "id")


def _analyze(term: str, analyzer: Analyzer = STANDARD) -> list[str]:
    return analyzer.analyze(term)


def persist_text_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_table: str,
    num_buckets: int = 32,
    analyzer: Analyzer = STANDARD,
) -> None:
    """Materialize the inverted index as a TOKEN-BUCKETED catalog table.

    This is the Lucene-index-analog persistence the per-query path only
    documents: pay the tokenize+explode+shuffle ONCE at build time; every
    subsequent term lookup reads only hash(token)-selected buckets and any
    postings-side aggregate/join on ``token`` runs exchange-free (the bucket
    layout already satisfies the distribution).  Rebuild per ingest batch or
    compaction cycle, exactly like Pinot refreshes per-segment indexes.
    """
    from .. import catalog as _catalog

    postings = build_postings(df, id_col, text_col, analyzer)
    _catalog.write_bucketed(
        postings, index_table, ["token"], num_buckets=num_buckets, sort_cols=["token"]
    )


def text_match_indexed(
    df: DataFrame, id_col: str, text_col: str, index_table: str, query: str,
    analyzer: Analyzer = STANDARD,
) -> DataFrame:
    """TEXT_MATCH served from a :func:`persist_text_index` table.

    Same postings algebra as :func:`matching_ids`, but the postings scan is
    bucket-pruned on the query's terms and the AND-membership aggregate
    rides the bucket layout with no exchange on the postings side.  Phrase
    adjacency still verifies against the (semi-join-surviving) source rows.
    """
    spark = df.sparkSession
    ids = matching_ids(spark.table(index_table), query, analyzer)
    out = df.join(ids.withColumnRenamed("id", id_col), id_col, "left_semi")
    return _verify_phrase(out, text_col, query, analyzer)


def _verify_phrase(
    out: DataFrame, text_col: str, query: str, analyzer: Analyzer = STANDARD
) -> DataFrame:
    """Adjacency verification for phrase queries: analyzed words joined by
    single spaces must appear in the analyzed text; both sides space-padded
    so containment respects token boundaries ("cat dog" must not match
    tokens [cat, bobcat, dog]).  Non-phrase queries pass through."""
    q = query.strip()
    if not (q.startswith('"') and q.endswith('"')):
        return out
    phrase = " ".join(_analyze(q.strip('"'), analyzer))
    analyzed = F.array_join(analyzer.tokens(F.col(text_col)), " ")
    padded = F.concat(F.lit(" "), analyzed, F.lit(" "))
    return out.filter(F.contains(padded, F.lit(" " + phrase + " ")))


@dataclass(frozen=True)
class _Unit:
    """One boolean unit of a TEXT_MATCH query: term/wildcard/fuzzy, ± NOT."""

    kind: str  # "term" | "wildcard" | "fuzzy"
    value: str
    negated: bool = False
    max_edits: int = 0

    def predicate(self) -> Column:
        tok = F.col("token")
        if self.kind == "term":
            return tok == self.value
        if self.kind == "wildcard":
            return tok.like(self.value.replace("*", "%").replace("?", "_"))
        # fuzzy: length pre-filter keeps the edit distance off most of the
        # token dictionary (|len(a)-len(b)| > n implies distance > n)
        return (
            F.abs(F.length(tok) - len(self.value)) <= self.max_edits
        ) & (F.levenshtein(tok, F.lit(self.value)) <= self.max_edits)


_FUZZY_RE = re.compile(r"(.+?)~(\d*)$")
_WILDCARD_OK = re.compile(r"[a-z0-9*?]+$")


def _parse_units(query: str, analyzer: Analyzer = STANDARD) -> tuple[list[_Unit], str]:
    """Parse a non-phrase query into boolean units + connective.

    Lucene-parser subset: one flat AND or OR chain (mixing without parens
    raises), NOT allowed before any unit in an AND chain.
    """
    parts = query.split()
    ups = [p.upper() for p in parts]
    has_and, has_or = "AND" in ups, "OR" in ups
    if has_and and has_or:
        raise ValueError(f"mixed AND/OR without parentheses: {query!r}")
    conj = "OR" if has_or else "AND"
    units: list[_Unit] = []
    negate = False
    for raw, up in zip(parts, ups):
        if up in ("AND", "OR"):
            continue
        if up == "NOT":
            negate = True
            continue
        term = raw.lower() if analyzer.lowercase else raw
        if (m := _FUZZY_RE.match(term)) and "*" not in term and "?" not in term:
            words = _analyze(m.group(1), analyzer)
            if len(words) != 1:
                raise ValueError(f"fuzzy unit must be a single term: {raw!r}")
            units.append(_Unit("fuzzy", words[0], negate,
                               int(m.group(2)) if m.group(2) else 2))
        elif "*" in term or "?" in term:
            if not _WILDCARD_OK.match(term):
                raise ValueError(f"unsupported wildcard unit: {raw!r}")
            units.append(_Unit("wildcard", term, negate))
        else:
            # the analyzer may split one raw unit into several tokens
            # (e.g. 'foo-bar'); each becomes its own unit, NOT distributing
            # over all of them
            units.extend(_Unit("term", w, negate) for w in _analyze(term, analyzer))
        negate = False
    if negate:
        raise ValueError(f"dangling NOT: {query!r}")
    if conj == "OR" and any(u.negated for u in units):
        raise ValueError(f"NOT inside an OR chain needs parentheses: {query!r}")
    return units, conj


def matching_ids(
    postings: DataFrame, query: str, analyzer: Analyzer = STANDARD
) -> DataFrame:
    """ids matching the TEXT_MATCH query — pure postings algebra.

    AND = one postings pass annotating each row with the positive units it
    satisfies, then a |units|-way membership count (one aggregate, no
    self-joins); negated units become ONE further postings pass + anti-join;
    OR = a single disjunctive filter + distinct.  Phrases handle the
    membership part here and the adjacency part in :func:`text_match`
    (needs the original text).
    """
    q = query.strip()
    if q.startswith('"') and q.endswith('"'):
        units = [_Unit("term", w) for w in _analyze(q.strip('"'), analyzer)]
        conj = "AND"
    else:
        units, conj = _parse_units(q, analyzer)
    if not units:
        raise ValueError(f"empty TEXT_MATCH query: {query!r}")
    pos = [u for u in units if not u.negated]
    neg = [u for u in units if u.negated]
    if not pos:
        # Lucene: a pure-negative boolean query matches nothing
        return postings.select("id").limit(0)

    if conj == "OR":
        any_pred = reduce(lambda a, b: a | b, (u.predicate() for u in pos))
        return postings.filter(any_pred).select("id").distinct()

    if len(pos) == 1:
        ids = postings.filter(pos[0].predicate()).select("id").distinct()
    else:
        # one scan for all positive units: a disjunctive PREFILTER first —
        # for term/prefix units it is scan-pushable (token = .. OR token
        # LIKE 'p%'), keeping the bucketed-index pruning the all-term path
        # always had — then tag each surviving row with the unit indexes it
        # satisfies and count distinct units per doc
        any_pred = reduce(lambda a, b: a | b, (u.predicate() for u in pos))
        tags = F.array(
            *[F.when(u.predicate(), F.lit(i)) for i, u in enumerate(pos)]
        )
        ids = (
            postings.filter(any_pred)
            .select("id", F.explode(F.array_compact(tags)).alias("_u"))
            .groupBy("id")
            .agg(F.count_distinct("_u").alias("_nu"))
            .filter(F.col("_nu") == len(pos))
            .select("id")
        )
    if neg:
        neg_pred = reduce(lambda a, b: a | b, (u.predicate() for u in neg))
        neg_ids = postings.filter(neg_pred).select("id").distinct()
        ids = ids.join(neg_ids, "id", "left_anti")
    return ids


def text_match(
    df: DataFrame, id_col: str, text_col: str, query: str,
    analyzer: Analyzer = STANDARD,
) -> DataFrame:
    """Rows of ``df`` whose ``text_col`` matches the TEXT_MATCH ``query``.

    Builds postings inline (callers with a persisted index use
    :func:`matching_ids` + their own semi-join).  The semi-join broadcasts
    the (small) id set when Catalyst sizes it under the threshold.
    """
    ids = matching_ids(build_postings(df, id_col, text_col, analyzer), query, analyzer)
    out = df.join(ids.withColumnRenamed("id", id_col), id_col, "left_semi")
    return _verify_phrase(out, text_col, query, analyzer)


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: Analyzer = STANDARD,
) -> DataFrame:
    """BM25 relevance of every matching doc for a bag-of-terms query.

    The ranking layer Lucene puts on top of its inverted index (Pinot's
    TEXT_MATCH exposes matching, not scores — this is the natural extension).
    Everything is postings algebra: term frequencies from one explode pass,
    document frequencies from a tiny per-term aggregate (broadcast), doc
    lengths from the same tokenize pass; one final per-doc aggregate sums the
    per-term BM25 contributions.  Returns (id, score) for docs matching at
    least one term; deterministic double math (fixed per-term sum order via
    the aggregate over sorted terms).

    Fully lazy: corpus stats (N, avgdl) are a 1-row aggregate broadcast into
    the plan — building this DataFrame submits NO job (the round-1 version
    collect()ed avgdl eagerly, putting a driver round-trip in the pipeline).

    Round 11: ONE tokenize pass.  The former shape re-tokenized the corpus
    once per consumer — stats feeds two broadcast positions and the tf
    relation feeds both dfreq and contrib, so the full tokenize + explode
    ran ~4x, partly as CONCURRENT broadcast-exchange futures (measured
    7.5 s on the b13 query).  Now a single let-bound projection computes
    (dl, per-term tf) per doc — the token array is built once per ROW and
    the term counts are ``size(filter(toks, = term))`` over it, no explode
    of the corpus token stream at all — and that ints-only relation is
    cached (:func:`dedup.lifecycle_cache`).  Values are
    unchanged: per-(id, dl, token) counts, document frequencies, and the
    sorted-token score fold are the same integers and the same double
    arithmetic as the exploded shape (oracle replays the formula exactly).
    """
    from .dedup import let_bound

    # Dedupe terms order-preservingly (round-12 ADVICE): _analyze does not,
    # and a repeated term (typed twice, or two words stemmed to the same
    # token) would emit two identical structs in ``entries`` — explode +
    # sum(tf) then DOUBLES that term's tf and changes scores.  The pre-r11
    # exploded shape counted each (id, token) once regardless of query
    # duplicates; dict.fromkeys restores exactly that behavior.
    terms = list(dict.fromkeys(_analyze(query, analyzer)))
    if not terms:
        raise ValueError(f"empty BM25 query: {query!r}")
    toks = analyzer.tokens(F.col(text_col))

    def _tf_pred(term: str):
        return lambda x: x == F.lit(term)

    def _features(t: Column) -> Column:
        return F.struct(
            F.size(t).alias("dl"),
            *[
                F.size(F.filter(t, _tf_pred(term))).alias(f"tf{i}")
                for i, term in enumerate(terms)
            ],
        )

    perdoc = lifecycle_cache(
        df.select(F.col(id_col).alias("id"), let_bound(toks, _features).alias("_f")),
        "textmatch.bm25.per_doc",
    )
    base = perdoc.select(
        "id",
        F.col("_f.dl").alias("dl"),
        *[F.col(f"_f.tf{i}").alias(f"tf{i}") for i in range(len(terms))],
    )
    # corpus stats as a broadcastable 1-row relation (sum/count are exact
    # integer math, so the double division is deterministic)
    stats = base.agg(
        F.count("*").cast("double").alias("_n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("_avgdl"),
    )

    entries = F.array(
        *[
            F.struct(
                F.lit(term).alias("token"), F.col(f"tf{i}").cast("long").alias("tf")
            )
            for i, term in enumerate(terms)
        ]
    )
    tf = (
        base.select("id", "dl", F.explode(entries).alias("e"))
        .select("id", "dl", F.col("e.token").alias("token"), F.col("e.tf").alias("tf"))
        .filter(F.col("tf") > 0)
        .groupBy("id", "dl", "token")
        .agg(F.sum("tf").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count_distinct("id").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "token",
        F.log(
            (F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ).alias("idf"),
    )
    contrib = (
        tf.join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            "token",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl")))
            ).alias("c"),
        )
    )
    # fixed summation order (by token) keeps double addition deterministic
    return (
        contrib.groupBy("id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("token", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("c"),
            ).alias("score")
        )
    )
