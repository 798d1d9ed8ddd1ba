"""Seeded input generators for the benchmark.

Everything the engine receives is made here from one integer seed:

- ``write_tables``: the sf0.1-shaped fixture tables (TPC-H-style star schema,
  the ``events`` clickstream table, the ``documents`` and ``embeddings``
  corpora) as one parquet file per table.  The corpus carries the seeded
  perturbation: near-duplicate documents (copies with a few edited words)
  plus exact copies, and vectors bent towards a random earlier vector at a
  drawn cosine below 0.95.
- ``dashboard_statements`` / ``request_order``: the broker statement mix with
  its literals (event_type, day range, k) and the seeded request order.
- ``KdgEvents``: Kinesis-Data-Generator-shaped clickstream records
  (FIXTURES.md section B).

The same seed gives byte-identical outputs; ``perfbench/tests`` pins that.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_NEAR_DUP_DOCS = 250
N_EXACT_DUP_DOCS = 8
N_VECS = 2_000
N_NEAR_VECS = 100
DIM = 64

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

KDG_PRODUCTS = ("Keyboard", "Mouse", "Monitor", "Laptop", "Headphones", "Camera")
KDG_COLORS = ("red", "blue", "green", "black", "white", "silver")
KDG_DEPARTMENTS = ("Electronics", "Computers", "Home", "Toys", "Garden")
KDG_ADJECTIVES = ("Sleek", "Rustic", "Ergonomic", "Handcrafted", "Small")
KDG_CAMPAIGNS = ("BlackFriday", "10Percent", "NONE")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per input stream, so adding a stream never
    shifts the values of another."""
    key = [int(seed) & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _micros(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(offsets_us.astype(np.int64) + epoch_us, type=pa.timestamp("us"))


def _cents(values: np.ndarray) -> np.ndarray:
    return np.round(values, 2)


# -- fixture tables ------------------------------------------------------------


def _tpch_tables(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "tpch")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _cents(r.uniform(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": segments[r.integers(0, 5, N_CUSTOMER)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _cents(r.uniform(-999.99, 9999.99, N_SUPPLIER)),
    })
    adjectives = np.array(["large", "hot", "blue", "old", "cold", "small"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjectives[r.integers(0, 6, N_PART)], " "),
            nouns[r.integers(0, 6, N_PART)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, N_PART).astype(str)),
        "p_type": types[r.integers(0, 6, N_PART)],
        "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": _cents(900 + (np.arange(N_PART) % 1000) * 0.1),
    })
    day_us = 86_400 * 1_000_000
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDERS)],
        "o_totalprice": _cents(r.uniform(1000, 500_000, N_ORDERS)),
        "o_orderdate": _micros(
            dt.datetime(1995, 1, 1), r.integers(0, 2404, N_ORDERS) * day_us
        ),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, N_ORDERS)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(r.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": r.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _cents(r.uniform(900, 105_000, N_LINEITEM)),
        "l_discount": r.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": r.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _micros(
            dt.datetime(1995, 1, 2), r.integers(0, 2498, N_LINEITEM) * day_us
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def _events_table(seed: int) -> pa.Table:
    r = _rng(seed, "events")
    offsets = np.sort(r.integers(0, EVENT_DAYS * 86_400 * 1_000_000, N_EVENTS))
    ks = r.integers(0, 100, N_EVENTS)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _micros(EVENT_EPOCH, offsets),
        "user_id": pa.array(r.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, N_EVENTS)],
        "value": _cents(r.exponential(50.0, N_EVENTS)),
        "props": [f'{{"k": {k}}}' for k in ks.tolist()],
    })


def _documents_table(seed: int) -> pa.Table:
    """Base texts plus the seeded near-duplicate perturbation: copies of an
    earlier document with 1-3 words replaced and a ``dup`` marker appended,
    and a few exact copies (identical-text groups the MinHash oracle
    checks)."""
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    n_base = N_DOCS - N_NEAR_DUP_DOCS - N_EXACT_DUP_DOCS
    texts: list[str] = []
    for n_words in r.integers(10, 101, n_base).tolist():
        texts.append(" ".join(vocab[r.integers(0, len(vocab), n_words)]))
    for _ in range(N_NEAR_DUP_DOCS):
        words = texts[int(r.integers(0, len(texts)))].split()
        for pos in r.integers(0, len(words), int(r.integers(1, 4))).tolist():
            words[pos] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts.append(" ".join(words) + " dup")
    for _ in range(N_EXACT_DUP_DOCS):
        texts.append(texts[int(r.integers(0, n_base))])
    order = r.permutation(N_DOCS)
    texts = [texts[i] for i in order.tolist()]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings_table(seed: int) -> pa.Table:
    """Unit vectors plus the seeded vector-noise perturbation: each of the
    last ``N_NEAR_VECS`` rows is rebuilt at a drawn cosine in [0.45, 0.9]
    to a random earlier row.  The cap keeps the corpus free of >= 0.95
    pairs, which the semantic-dedup oracle relies on."""
    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in range(N_VECS - N_NEAR_VECS, N_VECS):
        u = vecs[int(r.integers(0, N_VECS - N_NEAR_VECS))]
        w = r.standard_normal(DIM)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        c = r.uniform(0.45, 0.9)
        vecs[i] = c * u + np.sqrt(1.0 - c * c) * w
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (N_VECS + 1) * DIM, DIM), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(r.integers(0, 10, N_VECS), pa.int32()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    tables = _tpch_tables(seed)
    tables["events"] = _events_table(seed)
    tables["documents"] = _documents_table(seed)
    tables["embeddings"] = _embeddings_table(seed)
    return tables


def write_tables(seed: int, out_dir: Path) -> Path:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir


# -- dashboard statement mix ---------------------------------------------------


def _ts(day: int) -> str:
    return (EVENT_EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d %H:%M:%S")


class Statement(NamedTuple):
    """One broker statement: the wire SQL sent to ``POST /query/sql``, the
    DuckDB SQL that answers it, and the columns compared within a relative
    tolerance (approximate aggregates) instead of exactly."""

    wire: str
    oracle: str
    approx_cols: tuple[str, ...] = ()


def dashboard_statements(seed: int) -> dict[str, Statement]:
    """The broker statement mix over ``events``, keyed by template name: the
    events-only part of the reference dashboard.  The seed draws the
    literals: one event_type, the first day of a ten-day range, one k and the
    funnel's user slice.  The range length is fixed so that the amount of
    work per statement does not swing with the seed."""
    r = _rng(seed, "dashboard")
    et = EVENT_TYPES[int(r.integers(0, len(EVENT_TYPES)))]
    d0 = int(r.integers(0, EVENT_DAYS - 10))
    d1 = d0 + 10
    k = int(r.integers(5, 26))
    mod = int(r.integers(0, 3))
    days = f"ts >= TIMESTAMP '{_ts(d0)}' AND ts < TIMESTAMP '{_ts(d1)}'"
    flagship = (
        "SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS day, "
        "count(*) AS n_events, count(DISTINCT user_id) AS n_users, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
        f"FROM events WHERE {days} "
        "GROUP BY event_type, CAST(date_trunc('DAY', ts) AS DATE)"
    )
    topk = (
        "SELECT event_id, user_id, value FROM events "
        f"WHERE event_type = '{et}' ORDER BY value DESC, event_id LIMIT {k}"
    )
    ranking = (
        "SELECT user_id, event_id, value FROM ("
        "SELECT user_id, event_id, value, row_number() OVER "
        "(PARTITION BY user_id ORDER BY value DESC, event_id) AS rn "
        f"FROM events WHERE event_type = '{et}' AND {days}) t "
        f"WHERE rn = 1 ORDER BY value DESC, event_id LIMIT {k}"
    )
    slice_ = f"user_id % 3 <> {mod}"
    return {
        "flagship": Statement(flagship, flagship),
        "pinot_aggs": Statement(
            "SELECT event_type, DISTINCTCOUNT(user_id) AS d_users, "
            "round(PERCENTILE(value, 90), 6) AS p90, "
            "LASTWITHTIME(value, event_id, 'DOUBLE') AS last_v, "
            "DISTINCTCOUNTHLL(user_id) AS hll_users "
            f"FROM events WHERE {days} GROUP BY event_type ORDER BY event_type",
            "SELECT event_type, count(DISTINCT user_id) AS d_users, "
            "round(quantile_cont(value, 0.9), 6) AS p90, "
            "arg_max(value, event_id) AS last_v, "
            "count(DISTINCT user_id) AS hll_users "
            f"FROM events WHERE {days} GROUP BY event_type ORDER BY event_type",
            approx_cols=("hll_users",),
        ),
        "funnel": Statement(
            "SELECT FUNNELCOUNT(STEPS(event_type = 'view', "
            "event_type = 'click', event_type = 'purchase'), "
            "CORRELATE_BY(user_id), SETTINGS('bitmap')) AS fc, "
            "count(*) AS n_events, max(value) AS max_value "
            f"FROM events WHERE {slice_}",
            "WITH m AS (SELECT user_id, "
            "max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1, "
            "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s2, "
            "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s3 "
            f"FROM events WHERE {slice_} GROUP BY user_id) "
            "SELECT [CAST(sum(s1) AS BIGINT), CAST(sum(s1 * s2) AS BIGINT), "
            "CAST(sum(s1 * s2 * s3) AS BIGINT)] AS fc, "
            f"(SELECT count(*) FROM events WHERE {slice_}) AS n_events, "
            f"(SELECT max(value) FROM events WHERE {slice_}) AS max_value FROM m",
        ),
        "json": Statement(
            "SELECT event_type, "
            "sum(JSONEXTRACTSCALAR(props, '$.k', 'LONG', 0)) AS k_sum, "
            f"count(*) AS n FROM events WHERE {days} GROUP BY event_type",
            "SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') "
            "AS BIGINT)) AS BIGINT) AS k_sum, "
            f"count(*) AS n FROM events WHERE {days} GROUP BY event_type",
        ),
        "topk": Statement(topk, topk),
        "ranking": Statement(ranking, ranking),
    }


def request_order(seed: int, names: tuple[str, ...], rounds: int) -> list[str]:
    """``rounds`` shuffled rounds, each naming every statement once: the mix
    stays balanced while the order depends on the seed."""
    r = _rng(seed, "order")
    out: list[str] = []
    for _ in range(rounds):
        out.extend(names[i] for i in r.permutation(len(names)).tolist())
    return out


# -- KDG clickstream events ----------------------------------------------------

KINESIS_SCHEMA = {
    "schemaName": "kinesisTable",
    "dimensionFieldSpecs": [
        {"name": "userID", "dataType": "STRING"},
        {"name": "productName", "dataType": "STRING"},
        {"name": "color", "dataType": "STRING"},
        {"name": "department", "dataType": "STRING"},
        {"name": "product", "dataType": "STRING"},
        {"name": "campaign", "dataType": "STRING"},
    ],
    "metricFieldSpecs": [
        {"name": "price", "dataType": "INT"},
        {"name": "seq", "dataType": "LONG"},
        {"name": "genMs", "dataType": "LONG"},
    ],
    "dateTimeFieldSpecs": [
        {
            "name": "creationTimestamp",
            "dataType": "STRING",
            "format": "1:DAYS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm:ss",
            "granularity": "1:DAYS",
        }
    ],
}


def kinesis_table_config(stream_dir: str) -> dict:
    """The reference's kinesisTable config with a ``file`` stream and a 1 s
    flush threshold."""
    return {
        "tableName": "kinesisTable",
        "tableType": "REALTIME",
        "segmentsConfig": {
            "timeColumnName": "creationTimestamp",
            "schemaName": "kinesisTable",
            "replicasPerPartition": "1",
        },
        "tableIndexConfig": {
            "loadMode": "MMAP",
            "streamConfigs": {
                "streamType": "file",
                "stream.file.path": stream_dir,
                "realtime.segment.flush.threshold.time": "1000",
            },
        },
        "metadata": {"customConfigs": {}},
    }


class KdgEvents:
    """Seeded KDG-shaped records; ``genMs`` is stamped by the caller at
    emission time, everything else is fixed by the seed."""

    def __init__(self, seed: int) -> None:
        self._r = _rng(seed, "kdg")
        self.seq = 0

    def next(self, gen_ms: int) -> dict:
        r = self._r
        self.seq += 1
        adj = KDG_ADJECTIVES[int(r.integers(0, len(KDG_ADJECTIVES)))]
        product = KDG_PRODUCTS[int(r.integers(0, len(KDG_PRODUCTS)))]
        return {
            "userID": str(int(r.integers(1, 101))),
            "productName": f"{adj} {product}",
            "color": KDG_COLORS[int(r.integers(0, len(KDG_COLORS)))],
            "department": KDG_DEPARTMENTS[int(r.integers(0, len(KDG_DEPARTMENTS)))],
            "product": product,
            "campaign": KDG_CAMPAIGNS[int(r.integers(0, len(KDG_CAMPAIGNS)))],
            "price": int(r.integers(10, 151)),
            "creationTimestamp": dt.datetime.fromtimestamp(
                gen_ms / 1000, dt.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S"),
            "seq": self.seq,
            "genMs": gen_ms,
        }
