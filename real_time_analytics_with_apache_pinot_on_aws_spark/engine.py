"""Engine facade: the user-facing API mirroring the reference's control plane.

Reference surface (SURVEY §2.A):
- A8  AddTable (schema + table config -> start consuming)  -> :meth:`add_table`
- A9  GET /tables                                          -> :meth:`list_tables`
- A10 rebalance                                            -> :meth:`rebalance` (no-op: storage/compute separated)
- A11 segment/server map                                   -> :meth:`table_detail`
- A12 instance deregistration                              -> n/a (no instance registry)
- B2  /query/sql                                           -> :meth:`query`
- B4  JSON result                                          -> :meth:`query_json` / :meth:`query_broker_response`
- EXPLAIN PLAN FOR                                         -> :meth:`explain_plan` (via :meth:`query`)
- star-tree-aware aggregation                              -> :meth:`query_agg` / :meth:`query_routed`
- skipUpsert=true query option                             -> :meth:`_apply_skip_upsert_rewrite` (via :meth:`query`)
- table-type suffix addressing (t_REALTIME / t_OFFLINE)    -> :meth:`register_view` aliases

Table config parsing follows the reference's REALTIME config shape
(resources/pinot/resources/kinesisTableConfigFile.json): time column +
retention (``segmentsConfig``), flush thresholds (``streamConfigs``).
"""

from __future__ import annotations

import dataclasses
import json
import re
import threading
from dataclasses import dataclass
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs as _fs
from .functions import aggsql, sqlfns, sqltext
from .schema import TableSchema, parse_schema
from .streaming.ingest import IngestPipeline, RawRecordSource
from .operators.dedup import cache_scope, lifecycle_cache
from .operators.clp import (
    clp_column_names as _clp_column_names,
    clp_encode as _clp_encode,
)
from .streaming.ingest import timestamp_index_column as _ts_index_column


class TableAlreadyExistsError(ValueError):
    """AddTable on a name that already has that table type — Pinot's
    controller answers 409 Conflict; raising a distinct class lets the
    HTTP facade map it without string-matching."""


@dataclass(frozen=True)
class TableConfig:
    """The slice of Pinot table config this engine honors."""

    name: str
    table_type: str = "REALTIME"
    time_column: str | None = None
    retention_days: int | None = None
    flush_threshold_seconds: int = 120  # reference: 2 min (json:24)
    # Pinot upsertConfig **[P1.2]** (not set in the reference deployment —
    # kinesisTableConfigFile.json has no upsertConfig): FULL/PARTIAL mode,
    # primary key from the schema, per-column partial strategies.
    upsert_mode: str | None = None  # None | "FULL" | "PARTIAL"
    # Pinot dedupConfig **[P1.2]** (sibling of upsertConfig): drop records
    # whose primary key was already ingested — first writer wins.  Resolved
    # at query time (earliest row per key), raw log kept as <name>_raw.
    dedup_enabled: bool = False
    primary_key_columns: tuple[str, ...] = ()
    partial_upsert_strategies: tuple[tuple[str, str], ...] = ()
    # Pinot upsert deleteRecordColumn **[P1.2]**: boolean tombstone column;
    # a key whose latest version is a tombstone drops from the resolved view.
    delete_record_column: str | None = None
    # Pinot ingestionConfig **[P1.2]**: per-column transforms applied at
    # ingest (transformConfigs) and a row-drop predicate (filterConfig —
    # rows MATCHING the function are dropped).  Expressions here are Spark
    # SQL (Pinot uses Groovy/inline functions; same role, documented
    # divergence).
    transform_configs: tuple[tuple[str, str], ...] = ()
    filter_function: str | None = None
    # Pinot tableIndexConfig **[P1.2]** storage-index fields this engine
    # honors at segment-seal time (kinesisTableConfigFile.json:12 carries
    # only loadMode/streamConfigs; these are the wider Pinot surface):
    # - sortedColumn: rows sorted within each sealed file -> parquet
    #   row-group min/max stats become tight, disjoint zone maps, so range
    #   predicates skip row groups (Pinot sorted + range index analog);
    # - bloomFilterColumns: parquet bloom filters written per column ->
    #   point lookups skip row groups (Pinot bloom filter analog).  For
    #   fully dictionary-encoded chunks parquet omits the bloom because the
    #   dictionary page already gives EXACT row-group filtering.
    sorted_column: str | None = None
    bloom_filter_columns: tuple[str, ...] = ()
    # Pinot segmentPartitionConfig **[P1.2]** (tableIndexConfig.
    # segmentPartitionConfig.columnPartitionMap): segments are partitioned
    # by a hash of one column so the broker prunes whole segments for
    # equality predicates.  Analog: optimize_layout() rewrites sealed data
    # into a Spark-bucketed offline table (hash(col) % numPartitions per
    # file), and Spark's bucket pruning reads ONE bucket for `col = x`.
    # Divergence: Spark buckets with Murmur3 over its own row format, not
    # Pinot's Murmur/Modulo functions — the pruning property is the parity,
    # not hash compatibility.
    partition_column: str | None = None
    partition_buckets: int = 0
    # Pinot ingestionConfig.complexTypeConfig.fieldsToUnnest **[P1.2]**:
    # multi-value collections exploded into one row per element at ingest
    # (Pinot's nested-JSON flattening).  Analog: explode_outer per field
    # between decode and transforms.
    unnest_fields: tuple[str, ...] = ()
    # Pinot tableIndexConfig.starTreeIndexConfigs **[P1.2]**: declared
    # pre-aggregation — dimensionsSplitOrder + functionColumnPairs
    # ("SUM__col"/"COUNT__col"/"MIN__col"/"MAX__col").  Analog: EVERY
    # config becomes its own ingest-maintained rollup stream (per-micro-
    # batch partial cells); Engine.query_agg routes a request to the first
    # covering config, like Pinot picks among a table's star-trees.
    star_tree_dims: tuple[str, ...] = ()
    star_tree_metrics: tuple[tuple[str, tuple[str, str]], ...] = ()
    # ALL declared star-tree configs as ((dims, metrics), ...) — Pinot allows
    # several per table; each becomes its own ingest-maintained cell log and
    # routing candidate (first covering config wins).  star_tree_dims/
    # star_tree_metrics mirror config 0 for convenience.
    star_trees: tuple = ()
    # Pinot fieldConfigList **[P1.2]**: per-column index declarations.  TEXT
    # entries carry the Lucene analyzer properties (luceneAnalyzerClass,
    # stopWordInclude/stopWordExclude, caseSensitive); each becomes a
    # persistable postings index served with the configured analyzer chain
    # (operators/textmatch.Analyzer) via Engine.build_text_index /
    # Engine.text_match.  Stored as ((column, ((prop, value), ...)), ...).
    text_index_columns: tuple = ()
    # Pinot 1.2's VECTOR index **[P1.2]** (fieldConfigList indexType VECTOR,
    # properties vectorIndexType/vectorDimension/vectorDistanceFunction,
    # queried via VECTOR_SIMILARITY): served by Engine.build_vector_index
    # (persisted partition-pruned IVF — the Spark-native ANN analog of
    # Pinot's per-segment HNSW; documented divergence) +
    # Engine.vector_similarity.  Same ((column, props), ...) shape.
    vector_index_columns: tuple = ()
    # Pinot TIMESTAMP index **[P1.2]** (fieldConfigList indexTypes
    # ["TIMESTAMP"] + timestampConfig.granularities): Pinot materializes
    # derived columns $col$DAY/... with a range index and rewrites
    # dateTrunc('DAY', col) to them.  Analog: ingest (and upload_segment)
    # materialize ``<col>__<gran>`` truncated columns — parquet min/max
    # stats on a stored column ARE the range index — and Engine.query
    # rewrites matching dateTrunc/date_trunc calls to the derived column,
    # so filters prune row groups instead of computing a per-row trunc.
    # Stored as ((column, (GRAN, ...)), ...).
    timestamp_index_columns: tuple = ()
    # Pinot CLP log columns **[P1.2]** (fieldConfigList compressionCodec
    # "CLP" — the pinot-clp-log plugin's fieldsForClpEncoding analog):
    # each named string column is split at decode time into
    # <col>_logtype / <col>_dictionaryVars / <col>_encodedVars
    # (operators/clp.py) and reassembled at query time via CLPDECODE;
    # Engine.query expands the 1-arg CLPDECODE(col) sugar.
    clp_columns: tuple[str, ...] = ()
    # Pinot tableIndexConfig.nullHandlingEnabled **[P1.2]**: false (Pinot's
    # default) stores NO null bitmaps — nulls land as the silent
    # type-default matrix (schema.pinot_type_default; declared
    # defaultNullValues still win).  THIS engine's default is True
    # (null-native storage, the documented SURVEY §1.2 divergence) and
    # explicit false is the opt-in to Pinot's fill.  At query time the
    # enableNullHandling=false option serves a null-enabled table through
    # default-substituted views (Engine._apply_null_disabled_rewrite).
    null_handling_enabled: bool = True
    # Pinot dimension table **[P1.2]** (`isDimTable: true` + OFFLINE type):
    # a small batch-loaded table replicated to every server and queried via
    # the scalar LOOKUP('dim','valueCol','pkCol', expr) UDF.  Analog:
    # Engine.add_dim_table registers the batch frame; Engine.query rewrites
    # LOOKUP calls into correlated scalar subqueries Catalyst plans as a
    # broadcast left-outer join (the replicated-join analog).
    is_dim_table: bool = False

    @classmethod
    def parse(cls, config_json: str | dict) -> "TableConfig":
        conf = json.loads(config_json) if isinstance(config_json, str) else config_json
        seg = conf.get("segmentsConfig", {})
        ups = conf.get("upsertConfig", {})
        ing = conf.get("ingestionConfig", {})
        retention = None
        if seg.get("retentionTimeUnit", "").upper() == "DAYS" and seg.get("retentionTimeValue"):
            retention = int(seg["retentionTimeValue"])
        tic = conf.get("tableIndexConfig", {})
        stream = tic.get("streamConfigs", {})
        sorted_cols = tic.get("sortedColumn", ())
        # invertedIndexColumns **[P1.2]** -> the equality-pruning analog we
        # have: parquet bloom filters (point predicates skip row groups; for
        # dictionary-encoded chunks the dictionary page filters exactly —
        # same effect as Pinot's inverted posting lists at the row-group
        # granularity Spark scans prune by).
        # rangeIndexColumns **[P1.2]** -> range predicates skip row groups
        # when min/max stats are tight, which requires sortedness: the first
        # range column becomes the in-file sort key when no sortedColumn is
        # declared (sortedColumn wins otherwise; further range columns get
        # bloom filters only — a file has one physical order).
        if not sorted_cols and tic.get("rangeIndexColumns"):
            sorted_cols = tuple(tic["rangeIndexColumns"])[:1]
        part_map = tic.get("segmentPartitionConfig", {}).get("columnPartitionMap", {})
        part_col, part_n = None, 0
        if part_map:
            # Pinot allows one partition column per table in practice; take
            # the first (sorted for determinism if several are declared).
            part_col = sorted(part_map)[0]
            part_n = int(part_map[part_col].get("numPartitions", 8))
        star_trees = []
        for st in tic.get("starTreeIndexConfigs", []):
            dims_i = tuple(st.get("dimensionsSplitOrder", ()))
            pairs = []
            for fcp in st.get("functionColumnPairs", ()):
                fn, _, col = fcp.partition("__")
                fn = fn.lower()
                if fn in ("distinctcounthll", "distinctcountrawhll"):
                    # Pinot's sketch functionColumnPair **[P1.2]**: the
                    # cell stores a mergeable DataSketches HLL sketch
                    pairs.append((f"hll__{col}", ("hll", col)))
                    continue
                if fn not in ("sum", "count", "min", "max"):
                    raise ValueError(
                        f"starTreeIndexConfigs: {fcp!r} is not mergeable "
                        "(algebraic or sketch only: count/max/min/sum/"
                        "distinctcounthll)"
                    )
                pairs.append((f"{fn}__{col}", (fn, col)))
            star_trees.append((dims_i, tuple(pairs)))
        st_dims = star_trees[0][0] if star_trees else ()
        st_metrics = star_trees[0][1] if star_trees else ()
        text_cols = []
        vector_cols = []
        timestamp_cols = []
        clp_cols = []
        for fc in conf.get("fieldConfigList", ()):
            if str(fc.get("compressionCodec", "")).upper() == "CLP":
                clp_cols.append(fc["name"])
            kinds = {str(fc.get("indexType", "")).upper()} | {
                str(k).upper() for k in fc.get("indexTypes", ())
            }
            props = tuple(
                sorted((str(k), str(v)) for k, v in (fc.get("properties", {}) or {}).items())
            )
            if "TEXT" in kinds:
                text_cols.append((fc["name"], props))
            if "VECTOR" in kinds:
                vector_cols.append((fc["name"], props))
            if "TIMESTAMP" in kinds:
                grans = tuple(
                    str(g).upper()
                    for g in (fc.get("timestampConfig", {}) or {}).get(
                        "granularities", ()
                    )
                    if str(g).upper() in _TRUNC_GRANULARITIES
                )
                if grans:
                    timestamp_cols.append((fc["name"], grans))
        flush_ms = stream.get("realtime.segment.flush.threshold.time")
        flush_s = 120
        if flush_ms:  # reference uses e.g. "2m"? value is millis or duration string
            text = str(flush_ms)
            if text.endswith("m"):
                flush_s = int(text[:-1]) * 60
            elif text.isdigit():
                flush_s = int(text) // 1000
        return cls(
            name=conf.get("tableName", "table"),
            table_type=conf.get("tableType", "REALTIME"),
            time_column=seg.get("timeColumnName"),
            retention_days=retention,
            flush_threshold_seconds=flush_s,
            upsert_mode=ups.get("mode", "").upper() or None,
            dedup_enabled=bool(conf.get("dedupConfig", {}).get("dedupEnabled", False)),
            primary_key_columns=tuple(conf.get("primaryKeyColumns", ())),
            partial_upsert_strategies=tuple(
                sorted(ups.get("partialUpsertStrategies", {}).items())
            ),
            delete_record_column=ups.get("deleteRecordColumn"),
            transform_configs=tuple(
                (t["columnName"], t["transformFunction"])
                for t in ing.get("transformConfigs", ())
            ),
            filter_function=ing.get("filterConfig", {}).get("filterFunction"),
            unnest_fields=tuple(
                ing.get("complexTypeConfig", {}).get("fieldsToUnnest", ())
            ),
            star_tree_dims=st_dims,
            star_tree_metrics=st_metrics,
            star_trees=tuple(star_trees),
            sorted_column=sorted_cols[0] if sorted_cols else None,
            bloom_filter_columns=tuple(
                dict.fromkeys(
                    tuple(tic.get("bloomFilterColumns", ()))
                    + tuple(tic.get("invertedIndexColumns", ()))
                )
            ),
            partition_column=part_col,
            partition_buckets=part_n,
            text_index_columns=tuple(text_cols),
            vector_index_columns=tuple(vector_cols),
            timestamp_index_columns=tuple(timestamp_cols),
            clp_columns=tuple(clp_cols),
            null_handling_enabled=bool(tic.get("nullHandlingEnabled", True)),
            is_dim_table=bool(conf.get("isDimTable", False)),
        )


# Pinot timestampConfig granularities this engine materializes — the subset
# Spark's date_trunc shares with Pinot's dateTrunc (Pinot's sub-second grains
# are identity truncations on epoch-millis storage and add nothing here).
_TRUNC_GRANULARITIES = frozenset(
    {"YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND"}
)


_PINOT_TYPES = {
    "bigint": "LONG", "int": "INT", "smallint": "INT", "tinyint": "INT",
    "double": "DOUBLE", "float": "FLOAT", "string": "STRING",
    "boolean": "BOOLEAN", "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
    "date": "TIMESTAMP", "binary": "BYTES",
}


def _pinot_column_type(dtype: str) -> str:
    """Spark simpleString dtype -> Pinot broker columnDataType.

    DECIMAL(p,s) maps to Pinot's BIG_DECIMAL (there is no parameterized
    decimal in the broker schema); array<T> maps to Pinot's MV form
    ``T_ARRAY``."""
    if dtype.startswith("decimal"):
        return "BIG_DECIMAL"
    if dtype.startswith("array<") and dtype.endswith(">"):
        return _pinot_column_type(dtype[len("array<"):-1]) + "_ARRAY"
    return _PINOT_TYPES.get(dtype, dtype.upper())


def _json_safe(v):
    """One result cell -> a value ``json.dumps`` accepts, encoded the way the
    Pinot broker encodes it (timestamps epoch-millis, BigDecimal as string,
    bytes as hex)."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1000)
    if isinstance(v, _dt.date):
        return int(
            _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc).timestamp()
            * 1000
        )
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # Row (struct column)
        return {k: _json_safe(x) for k, x in v.asDict().items()}
    return v


class Engine:
    """A Pinot-capability analytics engine on a SparkSession."""

    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.warehouse = Path(warehouse_dir)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self.pipelines: dict[str, IngestPipeline] = {}
        self.configs: dict[str, TableConfig] = {}
        # OFFLINE table configs keyed by table name — Pinot keys configs by
        # (name, type), so a hybrid table is one name with BOTH a REALTIME
        # config (self.configs, consuming pipeline) and an OFFLINE config
        # here (batch segments via upload_segment).
        self.offline_configs: dict[str, TableConfig] = {}
        # compiled schemas for OFFLINE tables: lets a just-added table with
        # no uploaded segments serve an EMPTY typed frame (Pinot answers
        # queries right after AddTable) instead of failing parquet schema
        # inference on an empty directory
        self.offline_structs: dict[str, "object"] = {}
        # memoized _offline_rollup_complete verdicts keyed (table, spec
        # index) — the manifest read is metadata-sized but still a Spark
        # job, and query_agg sits on the hot path; invalidated by
        # upload_segment / rebuild_offline_rollup (the only writers)
        self._rollup_complete_cache: dict[tuple[str, int], bool] = {}
        # controller-registered schemas (POST /schemas **[P1.2]**), keyed by
        # schemaName — AddTable-over-HTTP resolves the table's schema here,
        # exactly the two-step pinot-admin.sh AddTable flow the reference
        # runs (bastionUserData.sh:36: -schemaFile + -tableConfigFile)
        self.schemas: dict[str, dict] = {}
        # tables explicitly paused via pause_consumption — pauseStatus
        # reports THIS flag, not momentary StreamingQuery liveness (an
        # availableNow query between drains is idle, not paused)
        self._paused: set[str] = set()
        # parsed TableSchema per engine table (REALTIME and OFFLINE sides
        # share one) — the null-semantics query rewrite reads field specs
        # (type/class/defaultNullValue) from here
        self.table_schemas: dict[str, TableSchema] = {}
        # No catalog work here: each Pinot scalar (functions/sqlfns.py) is
        # registered on the session the first time a statement names it
        # (query() entry, and the text the engine's own rewrites emit).

    def _catalog_class(self, u: str) -> str | None:
        """className of the catalog function named ``u``, or None when the
        catalog does not know it.  A point lookup, never cached: a cached
        answer would go stale when a function is registered or dropped
        after it (a Pinot scalar is registered on first use)."""
        sqlfns.register(self.spark, u)
        try:
            return self.spark.catalog.getFunction(u).className or ""
        except AnalysisException:  # unknown or unparseable name
            return None

    def _catalog_has_function(self, name: str) -> bool:
        """Live-catalog keep-native guard for the underscore
        canonicalization: a name the session catalog RESOLVES (builtin,
        macro, or runtime-registered UDF) keeps its native meaning —
        e.g. a user UDF ``fast_hll`` is never silently rewritten into
        the FASTHLL estimate (round-8 review).  A POINT lookup, never
        cached: a stale cached miss would shadow a UDF registered AFTER
        it (and a stale hit would outlive a DROP FUNCTION) — and
        the canonicalizer only consults this for the rare underscored
        names whose stripped twin is a rewrite key (~6 ms each), so
        freshness costs nothing measurable."""
        try:
            return self.spark.catalog.functionExists(name)
        except Exception:
            return False  # unparseable identifier: nothing to shadow

    def _is_catalog_aggregate(self, name: str) -> bool:
        """Fail-safe aggregate test for the statement routes (round-7
        ADVICE + round-8 review): returns False only when the session
        catalog POSITIVELY knows ``name`` as a non-aggregate — a builtin
        catalyst expression outside expressions.aggregate (scalars,
        windows, generators) or a SQL macro (className 'sqlFunction.').
        Registered UDFs and UDAFs share an opaque UDFRegistration lambda
        className that cannot distinguish scalar from aggregate, so BOTH
        count as aggregates and bail the route — the call-site fallbacks
        stay correct, only the plan is heavier (the previous
        aggregates-only set let a pandas GROUPED_AGG UDAF route over
        POSEXPLODE-duplicated rows).  The engine's OWN textual-rewrite
        scalars (DATETIMECONVERT/JSONEXTRACTSCALAR/VALUEIN/IN_SUBQUERY)
        are positively-known per-row expressions deliberately absent
        from the catalog — round-8 review: without this short-circuit
        the fail-safe bailed every routable statement that merely
        mentioned one.  Every call asks the live catalog
        (:meth:`_catalog_class`), so a function registered after an
        earlier miss is classified by what it is."""
        u = name.upper()
        if u in aggsql.SCALAR_REWRITE_NAMES:
            return False
        cls = self._catalog_class(u)
        if cls is None:
            return True  # unresolvable name: the statement errors anyway
        if "expressions.aggregate" in cls:
            return True
        if cls == "sqlFunction." or cls.startswith(
            "org.apache.spark.sql.catalyst.expressions"
        ):
            return False
        return True

    def add_schema(self, schema_json: str | dict) -> dict:
        """POST /schemas analog: validate + register by schemaName."""
        raw = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
        if not raw.get("schemaName"):
            raise ValueError("schema JSON lacks schemaName")
        parsed = parse_schema(raw)  # loud on malformed fieldSpecs
        if not parsed.fields:
            raise ValueError(
                f"schema {parsed.name!r} declares no dimension/metric/dateTime "
                "fieldSpecs"
            )
        self.schemas[parsed.name] = raw
        return {"status": f"{parsed.name} successfully added"}

    def update_schema(self, schema_json: str | dict) -> dict:
        """PUT /schemas/{name} analog **[P1.2]**: replace a registered
        schema.  Pinot accepts only backward-compatible updates by default —
        existing columns keep their name and type, new columns append — and
        the same rule is enforced here because segments already written
        under the old schema must stay readable (old parquet + evolved read
        schema = NULL/defaultNullValue fill; the reload analog is stop →
        re-AddTable, pinned by test_schema_evolution_add_column).  An
        incompatible update (dropped column, changed type) raises, like
        Pinot's 400 without forceTableSchemaUpdate.
        """
        raw = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
        parsed = parse_schema(raw)
        old_raw = self.schemas.get(parsed.name)
        if old_raw is None:
            raise KeyError(parsed.name)
        old_types = {f.name: f.spark_type for f in parse_schema(old_raw).fields}
        new_types = {f.name: f.spark_type for f in parsed.fields}
        bad = sorted(
            n for n, t in old_types.items()
            if n not in new_types or new_types[n] != t
        )
        if bad:
            raise ValueError(
                f"backward-incompatible schema update for {parsed.name!r}: "
                f"columns {bad} dropped or re-typed (existing columns must "
                "keep name and type — Pinot rejects this without "
                "forceTableSchemaUpdate)"
            )
        self.schemas[parsed.name] = raw
        return {"status": f"{parsed.name} successfully updated"}

    def delete_schema(self, name: str) -> dict:
        """DELETE /schemas/{name} analog **[P1.2]**: deregister a schema.
        Pinot refuses while any table uses it — same here (REALTIME,
        OFFLINE, or dimension table sharing the schema's name), because the
        reload flow would otherwise lose the only copy of the table's
        declared types."""
        if name not in self.schemas:
            raise KeyError(name)
        if name in self.list_tables():
            raise ValueError(
                f"schema {name!r} is in use by a table — drop the table "
                "first (Pinot: DELETE /tables/{name})"
            )
        del self.schemas[name]
        return {"status": f"Schema {name} deleted"}

    # -- DDL / control plane (A8-A12) -----------------------------------

    def add_table(
        self,
        schema_json: str | dict,
        table_config_json: str | dict,
        source: RawRecordSource,
        start: bool = True,
        available_now: bool = False,
    ) -> IngestPipeline:
        """AddTable analog (bastionUserData.sh:36): compile schema, register
        the table, start consuming.  Returns the pipeline handle."""
        schema = parse_schema(schema_json)
        config = TableConfig.parse(table_config_json)
        # Pinot keeps primaryKeyColumns in the *schema* JSON **[P1.2]**; accept
        # it there (authoritative) or in the table config (convenience).
        if not config.primary_key_columns:
            raw = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
            pks = tuple(raw.get("primaryKeyColumns", ()))
            if pks:
                config = dataclasses.replace(config, primary_key_columns=pks)
        if self._is_dim(config.name):
            # Pinot keys configs by (name, type) and a dim table is OFFLINE:
            # silently clobbering it would make the stream disappear from
            # the SQL surface (round-5 review) — only REALTIME+OFFLINE may
            # share a name (hybrid), never a dimension table.
            raise ValueError(
                f"{config.name!r} is already a dimension table — choose a "
                "different tableName"
            )
        existing = self.pipelines.get(config.name)
        if (
            existing is not None
            and existing._query is not None
            and existing._query.isActive
        ):
            # a duplicate AddTable (e.g. an HTTP retry) must not replace a
            # LIVE pipeline — the original StreamingQuery would be orphaned
            # (unstoppable) and a second consumer on the same checkpoint /
            # table path appends duplicates.  Pinot's controller 409s.
            # Replacing a STOPPED pipeline is the schema-evolution reload
            # flow (stop -> re-AddTable with the evolved schema): the same
            # checkpoint resumes, so nothing is re-consumed.
            raise TableAlreadyExistsError(
                f"table {config.name!r} already exists and is consuming — "
                "stop it or drop_table() first (Pinot: DELETE /tables/{name})"
            )
        self.configs[config.name] = config
        table_path = str(self.warehouse / config.name / "data")
        checkpoint = str(self.warehouse / config.name / "_checkpoint")
        if config.star_trees and (config.upsert_mode or config.dedup_enabled):
            # Pinot parity **[P1.2]**: star-tree indexes are unsupported on
            # upsert/dedup tables — cells built over the append-only log
            # would aggregate superseded row versions the resolved view
            # hides, silently double-counting.  Fail at AddTable, like Pinot
            # rejects the config, rather than serve wrong aggregates.
            raise ValueError(
                f"table {config.name!r}: starTreeIndexConfigs cannot be "
                "combined with upsertConfig/dedupConfig"
            )
        if config.star_trees and config.retention_days is not None:
            # A rollup whose dims omit the day column aggregates ACROSS
            # days: run_retention can never expire its cells, ingest would
            # pay an ever-growing cell log no query may safely read
            # (query_agg refuses to route to it), and routing to it would
            # resurrect deleted data.  Fail at AddTable with guidance, like
            # the upsert x star-tree rejection above (round-5 review).
            for dims_i, _metrics_i in config.star_trees:
                if "ingest_date" not in dims_i:
                    raise ValueError(
                        f"table {config.name!r}: starTreeIndexConfigs entry "
                        f"with dimensionsSplitOrder {list(dims_i)} lacks the "
                        "day column 'ingest_date' while retention is set — "
                        "retention could never expire its cells.  Add "
                        "'ingest_date' to dimensionsSplitOrder or drop "
                        "segmentsConfig.retentionTimeValue."
                    )
        rollup_spec, rollup_path = None, None
        extra_rollups = []
        if config.star_trees:
            # starTreeIndexConfigs **[P1.2]**: every declared pre-agg becomes
            # an ingest-maintained rollup, served automatically by query_agg
            # (Pinot allows several star-trees per table).
            from .streaming.rollup import RollupSpec

            rollup_spec = RollupSpec(
                dims=config.star_trees[0][0], metrics=dict(config.star_trees[0][1])
            )
            rollup_path = str(self.warehouse / config.name / "startree")
            for i, (dims_i, metrics_i) in enumerate(config.star_trees[1:], start=1):
                extra_rollups.append(
                    (
                        RollupSpec(dims=dims_i, metrics=dict(metrics_i)),
                        str(self.warehouse / config.name / f"startree{i}"),
                    )
                )
        self.table_schemas[config.name] = schema
        # hybrid CLP coherence (round-6 review, symmetric with
        # add_offline_table): the stream encodes the UNION of both sides'
        # CLP declarations, and an already-registered OFFLINE side's struct
        # is refreshed to the same union so hybrid reads serve one shape
        off_cfg = self.offline_configs.get(config.name)
        clp_merged = tuple(
            dict.fromkeys(
                config.clp_columns
                + (off_cfg.clp_columns if off_cfg is not None else ())
            )
        )
        if off_cfg is not None and config.clp_columns:
            self.offline_structs[config.name] = self._build_offline_struct(
                schema, off_cfg, clp_merged
            )
        pipeline = IngestPipeline(
            self.spark,
            schema,
            table_path,
            checkpoint,
            source,
            retention_days=config.retention_days,
            rollup_spec=rollup_spec,
            rollup_path=rollup_path,
            extra_rollups=tuple(extra_rollups),
            transform_configs=config.transform_configs,
            filter_function=config.filter_function,
            unnest_fields=config.unnest_fields,
            sorted_column=config.sorted_column,
            bloom_filter_columns=config.bloom_filter_columns,
            timestamp_index=config.timestamp_index_columns,
            clp_columns=clp_merged,
            null_handling_enabled=config.null_handling_enabled,
        )
        self.pipelines[config.name] = pipeline
        if start:
            trigger = f"{config.flush_threshold_seconds} seconds"
            pipeline.start(trigger=trigger, available_now=available_now)
        return pipeline

    def add_dim_table(
        self,
        schema_json: str | dict,
        table_config_json: str | dict,
        frame: DataFrame,
    ) -> dict:
        """Pinot dimension table analog **[P1.2]**.

        Pinot dimension tables (`isDimTable: true`, OFFLINE) are small
        batch-uploaded tables replicated in memory on every server, queried
        through the scalar ``LOOKUP`` UDF.  Analog: the batch frame persists
        under the warehouse (the segment-upload step), registers as a SQL
        view, and :meth:`query` rewrites ``LOOKUP('dim','val','pk', expr)``
        into a correlated scalar subquery — Catalyst plans that as a
        broadcast left-outer join when the dim fits the broadcast threshold,
        which IS Pinot's replicated-join strategy in Spark terms.

        Pinot requires dimension tables to declare primaryKeyColumns; rows
        must be unique per key (the generated non-aggregated subquery keeps
        that contract LOUD — Spark raises on a duplicate-key match rather
        than silently picking a row).
        """
        schema = parse_schema(schema_json)
        config = TableConfig.parse(table_config_json)
        if not config.is_dim_table:
            raise ValueError(
                f"add_dim_table({config.name!r}): table config must set "
                "isDimTable: true (Pinot dimension-table contract)"
            )
        if config.name in self.pipelines or config.name in self.offline_configs:
            raise ValueError(
                f"{config.name!r} already exists as a REALTIME/OFFLINE "
                "table — a dimension table cannot share its name"
            )
        if not config.primary_key_columns:
            raw = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
            pks = tuple(raw.get("primaryKeyColumns", ()))
            if not pks:
                raise ValueError(
                    f"dimension table {config.name!r} declares no primaryKeyColumns"
                )
            config = dataclasses.replace(config, primary_key_columns=pks)
        missing = [c for c in config.primary_key_columns if c not in frame.columns]
        if missing:
            raise ValueError(
                f"dimension table {config.name!r}: primaryKeyColumns {missing} "
                "absent from the uploaded frame"
            )
        del schema  # compiled for validation; the uploaded frame is typed
        path = str(self.warehouse / config.name / "dim")
        frame.write.mode("overwrite").parquet(path)
        loaded = self.spark.read.parquet(path)
        n, distinct = loaded.count(), loaded.select(
            *config.primary_key_columns
        ).distinct().count()
        if n != distinct:
            # Pinot rejects duplicate-pk dim segments at load; enforcing it
            # here keeps LOOKUP's single-row subquery contract impossible
            # to violate at query time
            raise ValueError(
                f"dimension table {config.name!r}: {n - distinct} duplicate "
                f"primaryKeyColumns rows {list(config.primary_key_columns)}"
            )
        self.configs[config.name] = config
        loaded.createOrReplaceTempView(config.name)
        # Pinot table-type suffix addressing **[P1.2]**: a dimension table
        # is OFFLINE, so ``dim_OFFLINE`` must bind (Spark view names are
        # case-insensitive — the Pinot-cased suffix resolves here)
        loaded.createOrReplaceTempView(f"{config.name}_offline")
        return {"table": config.name, "path": path, "rows": n}

    # -- OFFLINE tables + hybrid (A8 batch side, B3) ---------------------

    def _offline_path(self, name: str) -> str:
        return str(self.warehouse / name / "offline_segments")

    def add_offline_table(
        self, schema_json: str | dict, table_config_json: str | dict
    ) -> dict:
        """OFFLINE table registration **[P1.2]** — the batch-ingestion
        counterpart of :meth:`add_table` (Pinot's
        LaunchDataIngestionJob / segment-upload path).  Segments arrive via
        :meth:`upload_segment`; sharing a name with a REALTIME table forms
        a HYBRID table whose view merges at the broker time boundary
        (:meth:`register_view`), exactly Pinot's hybrid read.
        """
        schema = parse_schema(schema_json)
        config = TableConfig.parse(table_config_json)
        if config.table_type.upper() != "OFFLINE":
            raise ValueError(
                f"add_offline_table({config.name!r}): tableType must be "
                f"OFFLINE, got {config.table_type!r}"
            )
        if config.name in self.offline_configs:
            raise TableAlreadyExistsError(
                f"OFFLINE table {config.name!r} already exists — "
                "drop_table() it first (Pinot: DELETE /tables/{name})"
            )
        if config.is_dim_table:
            raise ValueError(
                f"add_offline_table({config.name!r}): dimension tables "
                "register via add_dim_table"
            )
        if config.time_column is None:
            raise ValueError(
                f"OFFLINE table {config.name!r} needs segmentsConfig."
                "timeColumnName (the hybrid time boundary and retention "
                "both key on it)"
            )
        if self._is_dim(config.name):
            raise ValueError(
                f"{config.name!r} is already a dimension table — Pinot "
                "names are unique across kinds (only REALTIME+OFFLINE "
                "may share one, forming a hybrid table)"
            )
        self.table_schemas[config.name] = schema
        # hybrid CLP coherence (round-6 review): upload_segment encodes the
        # UNION of both sides' declared CLP columns, so the offline struct
        # must reflect the same union or the empty-offline schema flips
        # after the first upload (Pinot's fieldsForClpEncoding is ingest-
        # side config — declaring it realtime-only is the normal spelling)
        rt_cfg = self.configs.get(config.name)
        clp_all = tuple(
            dict.fromkeys(
                config.clp_columns
                + (rt_cfg.clp_columns if rt_cfg is not None else ())
            )
        )
        self.offline_structs[config.name] = self._build_offline_struct(
            schema, config, clp_all
        )
        self.offline_configs[config.name] = config
        # create the segments root so a just-added table is immediately
        # readable (as empty) — Pinot's AddTable behavior
        Path(self._offline_path(config.name)).mkdir(parents=True, exist_ok=True)
        return {"table": config.name, "type": "OFFLINE", "path": self._offline_path(config.name)}

    @staticmethod
    def _build_offline_struct(schema: TableSchema, config: "TableConfig",
                              clp_columns: tuple) -> "T.StructType":
        """The physical schema of an OFFLINE side: declared fields minus
        CLP logical columns, plus the derived ``__ts``/``ingest_date``/
        timestamp-index columns and the CLP physical triples (appended at
        the end, mirroring upload_segment's encode projection — the
        logical column itself never reaches storage)."""
        from pyspark.sql import types as T

        struct = T.StructType(
            [f for f in schema.struct.fields if f.name not in clp_columns]
        )
        tc_ts = f"{config.time_column}__ts"
        if tc_ts not in struct.fieldNames():
            struct = struct.add(tc_ts, T.TimestampType())
        struct = struct.add("ingest_date", T.DateType())
        for col, grans in config.timestamp_index_columns:
            for gran in grans:
                struct = struct.add(_ts_index_column(col, gran), T.TimestampType())
        for col in clp_columns:
            if col in schema.struct.fieldNames():
                lt, dv, ev = _clp_column_names(col)
                struct = (
                    struct.add(lt, T.StringType())
                    .add(dv, T.ArrayType(T.StringType()))
                    .add(ev, T.ArrayType(T.LongType()))
                )
        return struct

    def realtime_to_offline(self, name: str, cutoff_day=None) -> dict:
        """Pinot ``RealtimeToOfflineSegmentsTask`` analog **[P1.2]**: move
        sealed realtime days at or before ``cutoff_day`` into the OFFLINE
        side of a hybrid table, then drop them (data + star-tree cells)
        from the realtime store — the minion task that keeps a production
        hybrid table's realtime side small while the OFFLINE side accretes
        history.  Defaults to every day strictly BEFORE the newest realtime
        day (the consuming day is never moved — Pinot's bufferTimePeriod).

        Consistency: the time boundary advances to the moved days, so the
        hybrid read serves them from OFFLINE; late rows arriving for a
        moved day land in realtime but sit behind the boundary — hidden,
        exactly Pinot's documented hybrid semantics.  Days already at or
        before the current boundary are not moved (they would double-count
        on the OFFLINE side).  Requires the consuming query stopped or
        drained, same rule as :meth:`compact` — both rewrite sealed
        partitions.
        """
        from datetime import date as _date
        from datetime import timedelta

        from pyspark.sql import functions as F

        if name not in self.offline_configs:
            raise ValueError(
                f"{name!r} has no OFFLINE table — add_offline_table first "
                "(RealtimeToOffline moves segments of a HYBRID table)"
            )
        config = self.configs.get(name)
        if config is not None and (config.upsert_mode or config.dedup_enabled):
            # the raw realtime log holds superseded row versions the
            # query-time resolution hides; moving it offline (where no
            # resolution applies) would resurrect them permanently.  Pinot
            # likewise refuses RealtimeToOffline on upsert tables.
            raise ValueError(
                f"{name!r} is an upsert/dedup table — RealtimeToOffline "
                "would move superseded row versions into the unresolved "
                "OFFLINE store (Pinot refuses this too)"
            )
        pipeline = self._pipeline(name)
        q = pipeline._query
        if q is not None and q.isActive:
            raise RuntimeError(
                f"table {name!r} has an active streaming query; "
                "stop() or drain it before realtime_to_offline()"
            )

        def _days(root: str) -> list[str]:
            return sorted(
                _fs.basename(p["path"]).split("=", 1)[1]
                for p in _fs.glob_status(self.spark, f"{root}/ingest_date=*")
                if p["is_dir"]
            )

        rt_days = _days(pipeline.table_path)
        if not rt_days:
            return {"table": name, "moved_days": [], "rows_moved": 0}
        if cutoff_day is None:
            cutoff_day = _date.fromisoformat(rt_days[-1]) - timedelta(days=1)
        elif isinstance(cutoff_day, str):
            cutoff_day = _date.fromisoformat(cutoff_day)
        boundary = self.hybrid_time_boundary(name)
        move = [
            d
            for d in rt_days
            if _date.fromisoformat(d) <= cutoff_day
            and (boundary is None or _date.fromisoformat(d) > boundary)
        ]
        if not move:
            return {"table": name, "moved_days": [], "rows_moved": 0}
        # upload_segment re-derives ingest_date / derived columns and
        # appends the offline star-tree cells + coverage manifest rows —
        # the moved days become first-class OFFLINE segments.  The cache
        # keeps the count + write (+ per-spec cell rollups) at ONE read of
        # the moved partitions instead of one scan per consumer.
        with cache_scope():
            rows = lifecycle_cache(
                pipeline.table().where(F.col("ingest_date").isin(move)),
                "engine.realtime_to_offline.rows",
            )
            n = rows.count()
            self.upload_segment(name, rows.drop("ingest_date"))
        roots = [pipeline.table_path] + [
            path for spec, path in pipeline._rollups if "ingest_date" in spec.dims
        ]
        for root in roots:
            for d in move:
                part = f"{root}/ingest_date={d}"
                if _fs.exists(self.spark, part) and not _fs.delete(
                    self.spark, part, recursive=True
                ):
                    raise RuntimeError(
                        f"realtime_to_offline: delete of moved partition "
                        f"{part} returned false — data now DOUBLE-served"
                    )
        return {"table": name, "moved_days": move, "rows_moved": n}

    def upsert_compact(self, name: str) -> dict:
        """Pinot ``UpsertCompactionTask`` analog **[P1.2]**: rewrite the
        upsert/dedup table's raw log as its RESOLVED view — superseded row
        versions and tombstoned keys are physically dropped, the query-time
        resolution keeps producing identical answers, and the log stops
        growing with update traffic.  Requires the consuming query stopped
        or drained (it rewrites the store), same rule as :meth:`compact`.

        Semantics preserved going forward: the surviving rows keep their
        event time and arrival-order columns, so a future version of a key
        still resolves against the materialized row exactly as it did
        against the history (partial-upsert strategies fold
        associatively).  Documented caveat, same as Pinot's task: a LATE
        row whose (time, arrival) order sorts BELOW an already-compacted
        winner can no longer see the dropped intermediate versions — for
        OVERWRITE-style strategies the outcome is unchanged; for SUM-style
        partials late rows still merge into the materialized total.

        Swap protocol (FS layer, checked returns): write the resolved view
        to a sibling temp dir, rename data -> old, temp -> data, delete
        old.  A failure between the renames leaves both dirs on disk for
        operator recovery instead of losing rows.
        """
        config = self.configs.get(name)
        if config is None or (config.upsert_mode is None and not config.dedup_enabled):
            raise ValueError(
                f"{name!r} is not an upsert/dedup table — nothing to compact "
                "(use compact() for small-file merging)"
            )
        pipeline = self._pipeline(name)
        q = pipeline._query
        if q is not None and q.isActive:
            raise RuntimeError(
                f"table {name!r} has an active streaming query; "
                "stop() or drain it before upsert_compact()"
            )
        raw = pipeline.table()
        n_before = raw.count()
        resolved = self._realtime_resolved(name)
        # the resolved view DROPS the tombstone column (surviving rows are by
        # definition not deleted); the materialized log must stay
        # resolution-compatible, so re-add it as literal False — and fail
        # loudly on any other schema drift rather than write a log the
        # resolver can no longer read
        if (
            config.delete_record_column
            and config.delete_record_column not in resolved.columns
            and config.delete_record_column in raw.columns
        ):
            resolved = resolved.withColumn(
                config.delete_record_column,
                F.lit(False).cast(
                    dict(raw.dtypes)[config.delete_record_column]
                ),
            )
        missing = [c for c in raw.columns if c not in resolved.columns]
        if missing:
            raise RuntimeError(
                f"upsert_compact({name!r}): resolved view lacks log columns "
                f"{missing} — refusing to write an unresolvable log"
            )
        resolved = resolved.select(*raw.columns)
        data = pipeline.table_path
        tmp = str(self.warehouse / name / "data_upsert_tmp")
        old = str(self.warehouse / name / "data_upsert_old")
        writer = resolved.write.mode("overwrite")
        if "ingest_date" in resolved.columns:
            writer = writer.partitionBy("ingest_date")
        writer.parquet(tmp)
        n_after = self.spark.read.parquet(tmp).count()
        if not _fs.rename(self.spark, data, old):
            raise RuntimeError(
                f"upsert_compact({name!r}): rename {data} -> {old} failed; "
                f"log untouched, resolved output kept in {tmp}"
            )
        if not _fs.rename(self.spark, tmp, data):
            raise RuntimeError(
                f"upsert_compact({name!r}): rename {tmp} -> {data} failed; "
                f"original log preserved at {old} — restore it by renaming back"
            )
        if not _fs.delete(self.spark, old, recursive=True):
            raise RuntimeError(
                f"upsert_compact({name!r}): delete of {old} returned false — "
                "compacted data is live; remove the old dir manually"
            )
        return {"table": name, "rows_before": n_before, "rows_after": n_after}

    def upload_segment(self, name: str, frame: DataFrame) -> dict:
        """Segment upload analog **[P1.2]** (POST /v2/segments): append a
        typed batch frame into the OFFLINE table's day-partitioned storage —
        the same ``ingest_date=<day>`` layout the realtime side seals, so
        retention, compaction, and table_detail treat both sides alike.
        """
        from pyspark.sql import functions as F

        config = self.offline_configs.get(name)
        if config is None:
            raise ValueError(f"{name!r} has no OFFLINE table config")
        tc = config.time_column
        if tc not in frame.columns:
            raise ValueError(
                f"upload_segment({name!r}): frame lacks time column {tc!r}"
            )
        out = frame
        ts_col = f"{tc}__ts"
        if ts_col not in out.columns:
            # align with the realtime decode's parsed-timestamp column so a
            # hybrid union serves one consistent schema to queries
            out = out.withColumn(ts_col, F.col(tc).cast("timestamp"))
        out = out.withColumn("ingest_date", F.to_date(F.col(ts_col)))
        # TIMESTAMP-index derived columns (offline side of the hybrid):
        # declared on either config; both sides must store the same derived
        # schema or the boundary union and the query rewrite would diverge
        declared = dict(config.timestamp_index_columns)
        rt_cfg = self.configs.get(name)
        if rt_cfg is not None:
            for col, grans in rt_cfg.timestamp_index_columns:
                declared.setdefault(col, grans)
        for col, grans in declared.items():
            src = f"{col}__ts" if f"{col}__ts" in out.columns else col
            if src not in out.columns:
                continue
            for gran in grans:
                out = out.withColumn(
                    _ts_index_column(col, gran), F.date_trunc(gran, F.col(src))
                )
        # CLP columns (offline side): encode with the same scheme the
        # realtime decode applies, so hybrid unions serve one physical shape
        clp_declared = tuple(
            dict.fromkeys(
                config.clp_columns
                + (rt_cfg.clp_columns if rt_cfg is not None else ())
            )
        )
        for col in clp_declared:
            if col in out.columns:
                out = _clp_encode(out, col)
        out.write.mode("append").partitionBy("ingest_date").parquet(
            self._offline_path(name)
        )
        # Pinot builds star-trees on OFFLINE segments too **[P1.2]**: when
        # the hybrid's REALTIME config declares star-trees, each upload
        # appends its partial cells so query_agg can route hybrid
        # aggregates to cells instead of rescanning raw segments.  Only
        # day-partitioned specs participate (the boundary filter and
        # retention both key on ingest_date).
        manifest_rows: list[tuple[str, int, bool]] = []
        import uuid

        upload_id = uuid.uuid4().hex
        manifest_rows.append((upload_id, -1, True))  # the upload itself
        for i, spec in self._hybrid_rollup_specs(name):
            metric_cols = {col for (_fn, col) in spec.metrics.values()}
            covered = set(spec.dims) <= set(out.columns) and metric_cols <= set(
                out.columns
            )
            manifest_rows.append((upload_id, i, covered))
            if not covered:
                continue
            from .streaming.rollup import rollup_batch

            rollup_batch(out, spec).write.mode("append").partitionBy(
                "ingest_date"
            ).parquet(self._offline_rollup_path(name, i))
        # Per-upload cell-coverage manifest: day-set comparison cannot see a
        # day holding BOTH a covered and an uncovered upload (routing over
        # such a day silently drops the uncovered segment's rows), so
        # completeness is adjudicated per upload, not per partition.
        self.spark.createDataFrame(
            manifest_rows, "upload_id string, spec_index int, covered boolean"
        ).coalesce(1).write.mode("append").parquet(
            self._offline_manifest_path(name)
        )
        self._rollup_complete_cache = {
            k: v for k, v in self._rollup_complete_cache.items() if k[0] != name
        }
        parts = _fs.glob_status(self.spark, f"{self._offline_path(name)}/ingest_date=*")
        return {
            "table": name,
            "segments_partitions": sorted(
                _fs.basename(p["path"]) for p in parts if p["is_dir"]
            ),
        }

    def upload_segment_json(self, name: str, rows: list) -> dict:
        """JSON-record form of :meth:`upload_segment` — the wire analog of
        Pinot's batch segment push (``POST /v2/segments``) served by
        :mod:`controller_http`.  Documented divergence: Pinot's endpoint
        carries a binary segment tarball; the analog carries the records
        themselves, decoded through the SAME schema decode path as realtime
        ingest (:func:`schema.decoded_frame` — lenient string parse +
        try_cast + defaultNullValue + derived ``__ts`` columns), so both
        hybrid sides always share one typed schema.
        """
        import json as _json

        from .schema import decoded_frame

        if name not in self.offline_configs:
            raise ValueError(f"{name!r} has no OFFLINE table config")
        raw_schema = self.schemas.get(name)
        if raw_schema is None:
            raise ValueError(f"no schema registered for {name!r}")
        if not isinstance(rows, list) or not all(
            isinstance(r, dict) for r in rows
        ):
            raise ValueError("rows must be a JSON array of objects")
        if not rows:
            raise ValueError("rows must be non-empty")
        raw = self.spark.createDataFrame(
            [(_json.dumps(r),) for r in rows], "value string"
        )
        return self.upload_segment(
            name,
            decoded_frame(
                raw,
                parse_schema(raw_schema),
                null_handling_enabled=self.offline_configs[
                    name
                ].null_handling_enabled,
            ),
        )

    def _offline_rollup_path(self, name: str, index: int) -> str:
        return str(self.warehouse / name / f"offline_startree{index}")

    def _hybrid_rollup_specs(self, name: str):
        """(index, RollupSpec) for every REALTIME star-tree config whose
        dims include the day column — the only specs an offline cell log
        can serve consistently across the hybrid boundary."""
        config = self.configs.get(name)
        if config is None or not config.star_trees:
            return []
        from .streaming.rollup import RollupSpec

        out = []
        for i, (dims_i, metrics_i) in enumerate(config.star_trees):
            if "ingest_date" in dims_i:
                out.append((i, RollupSpec(dims=dims_i, metrics=dict(metrics_i))))
        return out

    def _offline_manifest_path(self, name: str) -> str:
        return str(self.warehouse / name / "offline_manifest")

    def _offline_rollup_complete(self, name: str, index: int) -> bool:
        """True iff EVERY upload contributed cells to spec ``index`` —
        uploads made before the REALTIME config existed (or whose frame
        lacked a spec column) have no cells, and routing over an incomplete
        log would silently drop their rows from every aggregate.

        Adjudicated from the per-upload coverage manifest, not by comparing
        partition day-sets: a day holding both a covered and an uncovered
        upload has cells for the day yet NOT for all its rows, which a
        day-set comparison cannot see.  Offline data with no manifest
        (unknown provenance) is conservatively incomplete — run
        :meth:`rebuild_offline_rollup` to recompute cells and reset the
        manifest.  Result memoized until the next upload/rebuild.
        """
        key = (name, index)
        if key in self._rollup_complete_cache:
            return self._rollup_complete_cache[key]
        has_data = any(
            p["is_dir"]
            for p in _fs.glob_status(
                self.spark, f"{self._offline_path(name)}/ingest_date=*"
            )
        )
        if not has_data:
            # no offline rows to drop — the (empty) cell log is trivially
            # consistent with the (empty) segment store
            verdict = True
        elif not _fs.glob_status(
            self.spark, f"{self._offline_manifest_path(name)}/*.parquet"
        ):
            verdict = False
        else:
            rows = self.spark.read.parquet(
                self._offline_manifest_path(name)
            ).collect()
            uploads = {r["upload_id"] for r in rows if r["spec_index"] == -1}
            covered = {
                r["upload_id"]
                for r in rows
                if r["spec_index"] == index and r["covered"]
            }
            verdict = uploads == covered
        self._rollup_complete_cache[key] = verdict
        return verdict

    def rebuild_offline_rollup(self, name: str) -> dict:
        """Recompute every hybrid star-tree's OFFLINE cell log from the
        current segments and reset the coverage manifest — the repair path
        when uploads predate the REALTIME config (their rows have no cells,
        so :meth:`query_agg` refuses to route).  Pinot's analog is the
        minion task that (re)builds star-trees inside existing segments
        **[P1.2]**.  One scan of the offline segments per spec.
        """
        from .streaming.rollup import rollup_batch

        rebuilt: dict[str, int] = {}
        specs = self._hybrid_rollup_specs(name)
        frame = self._offline_frame(name)
        missing = [
            c
            for _i, spec in specs
            for c in (*spec.dims, *(col for (_fn, col) in spec.metrics.values()))
            if c not in frame.columns
        ]
        if missing:
            raise ValueError(
                f"rebuild_offline_rollup({name!r}): offline schema lacks "
                f"star-tree columns {sorted(set(missing))}"
            )
        for i, spec in specs:
            cells = rollup_batch(frame, spec)
            cells.write.mode("overwrite").partitionBy("ingest_date").parquet(
                self._offline_rollup_path(name, i)
            )
            rebuilt[f"offline_startree{i}"] = cells.count()
        # reset the manifest: one synthetic fully-covered upload replaces
        # the history (subsequent uploads append normally)
        self.spark.createDataFrame(
            [("__rebuild__", -1, True)]
            + [("__rebuild__", i, True) for i, _spec in specs],
            "upload_id string, spec_index int, covered boolean",
        ).coalesce(1).write.mode("overwrite").parquet(
            self._offline_manifest_path(name)
        )
        self._rollup_complete_cache = {
            k: v for k, v in self._rollup_complete_cache.items() if k[0] != name
        }
        return {"table": name, "rebuilt_cells": rebuilt}

    def _offline_frame(self, name: str, with_virtual: bool = False) -> DataFrame:
        """The OFFLINE segments as a frame; a table with no uploads yet is
        an EMPTY typed frame (compiled schema), not a path error."""
        from .streaming.ingest import augment_virtual_columns, null_virtual_columns

        root = self._offline_path(name)
        if not _fs.glob_status(self.spark, f"{root}/ingest_date=*"):
            empty = self.spark.createDataFrame([], self.offline_structs[name])
            return null_virtual_columns(empty) if with_virtual else empty
        df = self.spark.read.parquet(root)
        return augment_virtual_columns(df) if with_virtual else df

    def hybrid_time_boundary(self, name: str):
        """Pinot's broker time boundary **[P1.2]**: the max time covered by
        OFFLINE segments.  Hybrid reads serve OFFLINE rows at or before it
        and REALTIME rows after it, so the overlap window (days present on
        both sides while the realtime->offline handoff runs) is never
        double-counted.  One-row aggregate, same driver-side scalar class
        as retention's cutoff."""
        from pyspark.sql import functions as F

        row = self._offline_frame(name).agg(
            F.max("ingest_date").alias("b")
        ).collect()[0]
        return row["b"]

    def register_view(self, name: str) -> None:
        """Expose a consuming table to SQL under its name.

        For upsert tables, the SQL surface serves the RESOLVED view — latest
        row per primary key (full mode) or per-column merge (partial mode) —
        exactly as Pinot's broker resolves upsert tables at query time
        **[P1.2]**; the raw append-only log stays available as ``<name>_raw``.
        """
        if self._is_dim(name):
            # dimension tables register at add_dim_table; re-register =
            # refresh the parquet listing, same as for consuming tables
            dim = self._resolved_frame(name)
            dim.createOrReplaceTempView(name)
            dim.createOrReplaceTempView(f"{name}_offline")
            return
        offline = self.offline_configs.get(name)
        if offline is not None and name not in self.pipelines:
            off = self._offline_frame(name)
            off.createOrReplaceTempView(name)
            # Pinot table-type suffix **[P1.2]**: ``mytable_OFFLINE`` binds
            # on a pure offline table too (view names are case-insensitive,
            # so the Pinot-cased form resolves to this view)
            off.createOrReplaceTempView(f"{name}_offline")
            return
        raw = self.pipelines[name].table()
        resolved = self._realtime_resolved(name)
        if offline is not None:
            # HYBRID **[P1.2]**: side views for inspection; the main view is
            # the boundary merge every read path shares (_resolved_frame)
            self._offline_frame(name).createOrReplaceTempView(f"{name}_offline")
            resolved.createOrReplaceTempView(f"{name}_realtime")
            self._resolved_frame(name).createOrReplaceTempView(name)
            return
        # Pinot table-type suffix **[P1.2]**: ``mytable_REALTIME`` binds on
        # a pure realtime table as well (the resolved view — suffixing never
        # bypasses upsert resolution; that is skipUpsert's job)
        resolved.createOrReplaceTempView(f"{name}_realtime")
        if resolved is raw:
            raw.createOrReplaceTempView(name)
            return
        raw.createOrReplaceTempView(f"{name}_raw")
        resolved.createOrReplaceTempView(name)

    def _resolved_frame(self, name: str, with_virtual: bool = False) -> DataFrame:
        """The frame queries must see: the raw log for plain tables, the
        query-time-resolved view for upsert/dedup tables (Pinot's broker
        resolution **[P1.2]**), the boundary-merged union for hybrid
        tables.  EVERY read path goes through this — register_view,
        query_agg's scan fallback, text/vector index builds alike — so an
        upsert table can never leak superseded row versions into an
        aggregate and a hybrid table can never drop its OFFLINE side.
        Dimension tables resolve to their batch-loaded parquet.

        ``with_virtual`` appends Pinot's ``$docId/$segmentName/$hostName``
        virtual columns **[P1.2]** at the SCAN level (so upsert resolution
        serves the winning physical row's segment identity, and both hybrid
        sides carry them into the union) — see
        :func:`streaming.ingest.augment_virtual_columns`.
        """
        if self._is_dim(name):
            from .streaming.ingest import augment_virtual_columns

            df = self.spark.read.parquet(str(self.warehouse / name / "dim"))
            return augment_virtual_columns(df) if with_virtual else df
        offline = self.offline_configs.get(name)
        if offline is not None:
            if name not in self.pipelines:
                return self._offline_frame(name, with_virtual=with_virtual)
            # HYBRID **[P1.2]**: the broker merge — OFFLINE serves
            # everything at or before the time boundary (max offline day),
            # REALTIME only what lies after it, so handoff-window days
            # present on both sides are never double-counted.
            from pyspark.sql import functions as F

            off = self._offline_frame(name, with_virtual=with_virtual)
            boundary = off.agg(F.max("ingest_date").alias("b")).collect()[0]["b"]
            rt = self._realtime_resolved(name, with_virtual=with_virtual)
            if boundary is not None:
                rt = rt.where(F.col("ingest_date") > F.lit(boundary))
            return off.unionByName(rt, allowMissingColumns=True)
        return self._realtime_resolved(name, with_virtual=with_virtual)

    def _realtime_resolved(self, name: str, with_virtual: bool = False) -> DataFrame:
        """The REALTIME side only: raw log, or query-time upsert/dedup
        resolution when the config declares it."""
        raw = self.pipelines[name].table(with_virtual=with_virtual)
        config = self.configs.get(name)
        if config is None or (config.upsert_mode is None and not config.dedup_enabled):
            return raw
        if not config.primary_key_columns:
            raise ValueError(f"upsert/dedup table {name!r} declares no primaryKeyColumns")
        from .operators import upsert as _upsert

        tc = config.time_column
        order = [f"{tc}__ts"] if tc and f"{tc}__ts" in raw.columns else ([tc] if tc else [])
        if not order:
            raise ValueError(f"upsert table {name!r} needs a time column to order versions")
        # Arrival-order tiebreaker (written by IngestPipeline.commit_batch):
        # when two versions of a key share a timestamp, the later-ingested row
        # wins deterministically — Pinot's upsert comparison rule.
        order += [c for c in ("__ingest_epoch", "__ingest_seq") if c in raw.columns]
        keys = list(config.primary_key_columns)
        if config.upsert_mode is None and config.dedup_enabled:
            # dedupConfig table **[P1.2]**: first writer wins per key
            return _upsert.first_by_key(raw, keys, order)
        if config.upsert_mode == "PARTIAL" and config.partial_upsert_strategies:
            # deleteRecordColumn under PARTIAL mode (Pinot 1.2 **[P1.2]**):
            # a tombstone wipes accumulated state; later partials rebuild the
            # row from scratch (see operators/upsert.py:partial_upsert)
            return _upsert.partial_upsert(
                raw, keys, order, dict(config.partial_upsert_strategies),
                delete_col=config.delete_record_column,
            )
        return _upsert.latest_by_key(
            raw, keys, order, delete_col=config.delete_record_column
        )

    def list_tables(self) -> list[str]:
        """GET /tables analog (stack ts:416-422) — consuming tables plus
        registered dimension and OFFLINE tables (Pinot lists all; a hybrid
        name appears once)."""
        dims = {n for n, c in self.configs.items() if c.is_dim_table}
        return sorted(set(self.pipelines) | dims | set(self.offline_configs))

    def delete_segments(self, name: str, table_type: str | None = None) -> dict:
        """``DELETE /segments/{table}[?type=]`` analog **[P1.2]**: remove
        every segment of the given side(s) but KEEP the table — schema,
        config, stream, and SQL view all stay registered and the table
        answers (empty) immediately, which is exactly what Pinot's
        delete-all-segments endpoint does.  Partition-dir removal through
        the FS layer, like retention — O(partitions), no rewrite, identical
        over ``file:`` and ``s3a://``.

        Realtime: the exactly-once checkpoint is deliberately NOT touched,
        so deleted data is never re-consumed (the stream continues from its
        committed offset — Pinot's consumer likewise keeps consuming).
        Star-tree cell logs and the offline upload manifest are removed
        with their data: stale cells would resurrect deleted rows through
        aggregate routing.  Dimension tables have no segment lifecycle
        (use drop_table / re-upload).
        """
        t = (table_type or "").upper() or None
        if t not in (None, "REALTIME", "OFFLINE"):
            raise ValueError(f"unknown table type {t!r}")
        self._reject_dim(name)
        if name not in self.pipelines and name not in self.offline_configs:
            raise KeyError(name)
        deleted: list[str] = []

        def _drop_partitions(root: str) -> None:
            for part in _fs.glob_status(self.spark, f"{root}/ingest_date=*"):
                if not _fs.delete(self.spark, part["path"], recursive=True):
                    raise RuntimeError(
                        f"delete_segments: delete of {part['path']} returned"
                        " false — data NOT dropped"
                    )

        if t in (None, "REALTIME") and name in self.pipelines:
            pipe = self.pipelines[name]
            _drop_partitions(pipe.table_path)
            for _spec, path in pipe._rollups:
                _fs.delete(self.spark, path, recursive=True)
            deleted.append("REALTIME")
        if t in (None, "OFFLINE") and name in self.offline_configs:
            _drop_partitions(self._offline_path(name))
            _fs.delete(self.spark, self._offline_manifest_path(name), recursive=True)
            n_trees = len(self._hybrid_rollup_specs(name))
            for i in range(max(n_trees, 8)):
                _fs.delete(self.spark, self._offline_rollup_path(name, i), recursive=True)
            deleted.append("OFFLINE")
        if not deleted:
            raise KeyError(f"{name} has no {t} table")
        self._rollup_complete_cache = {
            k: v for k, v in self._rollup_complete_cache.items() if k[0] != name
        }
        self.register_view(name)
        return {"table": name, "deleted": deleted}

    def drop_table(self, name: str, table_type: str | None = None) -> dict:
        """``DELETE /tables/{name}[?type=]`` analog **[P1.2]**: stop
        consumption, remove that type's segments (FS layer — local and
        ``s3a://`` alike), and deregister.  On a hybrid table, dropping one
        type leaves the other serving (Pinot keys configs by (name, type));
        with no ``type``, both go.  The SQL view drops only when no side
        remains.
        """
        t = (table_type or "").upper() or None
        if t not in (None, "REALTIME", "OFFLINE"):
            raise ValueError(f"unknown table type {t!r}")
        dropped: list[str] = []
        if self._is_dim(name):
            if t == "REALTIME":
                # a dimension table is Pinot-OFFLINE; nothing of that type
                # exists to drop — 404, never a silent no-op success
                raise KeyError(f"{name} has no REALTIME table")
            self.configs.pop(name, None)
            _fs.delete(self.spark, str(self.warehouse / name / "dim"), recursive=True)
            dropped.append("OFFLINE")
        else:
            if name not in self.pipelines and name not in self.offline_configs:
                raise KeyError(name)
            if t in (None, "REALTIME") and name in self.pipelines:
                pipe = self.pipelines.pop(name)
                self._paused.discard(name)
                pipe.stop()
                self.configs.pop(name, None)
                for sub in ("data", "_checkpoint"):
                    _fs.delete(
                        self.spark, str(self.warehouse / name / sub), recursive=True
                    )
                for _spec, path in pipe._rollups:
                    _fs.delete(self.spark, path, recursive=True)
                dropped.append("REALTIME")
            if t in (None, "OFFLINE") and name in self.offline_configs:
                n_trees = len(self._hybrid_rollup_specs(name))
                self.offline_configs.pop(name)
                self.offline_structs.pop(name, None)
                for sub in ("offline_segments", "offline_manifest"):
                    _fs.delete(
                        self.spark, str(self.warehouse / name / sub), recursive=True
                    )
                for i in range(max(n_trees, 8)):
                    # cell logs may outlive their specs (config edits); sweep
                    # a fixed superset of indexes rather than trusting state
                    _fs.delete(
                        self.spark, self._offline_rollup_path(name, i), recursive=True
                    )
                dropped.append("OFFLINE")
        if not dropped:
            # a specific type was requested but the table has no such side
            # (e.g. ?type=OFFLINE on a realtime-only table) — Pinot 404s;
            # a 200 with dropped=[] would read as success to automation
            raise KeyError(f"{name} has no {t} table")
        self._rollup_complete_cache = {
            k: v for k, v in self._rollup_complete_cache.items() if k[0] != name
        }
        gone = name not in self.pipelines and name not in self.offline_configs
        for view in (name, f"{name}_raw", f"{name}_offline", f"{name}_realtime"):
            # captured view plans still union the deleted side's files; drop
            # them all, then re-register the main view over the surviving
            # side so "the other keeps serving" holds without caller action
            try:
                self.spark.catalog.dropTempView(view)
            except Exception:
                pass
        if not gone and not self._is_dim(name):
            self.register_view(name)
        return {"table": name, "dropped": dropped}

    def _is_dim(self, name: str) -> bool:
        config = self.configs.get(name)
        return config is not None and config.is_dim_table

    def _reject_dim(self, name: str) -> None:
        """LOUD for dimension tables, which list_tables includes but which
        have no stream or segment lifecycle to maintain."""
        if self._is_dim(name):
            raise ValueError(
                f"{name!r} is a dimension table (batch-loaded, no consuming "
                "pipeline) — this operation applies to REALTIME tables"
            )

    def _pipeline(self, name: str) -> IngestPipeline:
        """The consuming pipeline for a table — LOUD for dimension tables."""
        self._reject_dim(name)
        if name not in self.pipelines and name in self.offline_configs:
            raise ValueError(
                f"{name!r} is an OFFLINE table (batch segments, no consuming "
                "stream) — this operation applies to REALTIME tables"
            )
        return self.pipelines[name]

    def table_detail(self, name: str) -> dict:
        """Segment/server map analog (stack ts:445-462): file-level layout.

        Hadoop FS API throughout — works identically over ``file:`` and the
        ``s3a://`` deep store (pinot-controller.conf:34-40).
        Dimension tables report their batch-loaded parquet instead of
        day partitions.
        """
        if self._is_dim(name):
            root = str(self.warehouse / name / "dim")
            files = _fs.list_files(self.spark, root, suffix=".parquet")
            return {
                "table": name,
                "type": "DIMENSION",
                "num_files": len(files),
                "total_bytes": sum(f["size"] for f in files),
            }
        def _layout(root: str) -> tuple[list[str], list[dict]]:
            parts = _fs.glob_status(self.spark, f"{root}/ingest_date=*")
            files = [
                f
                for p in parts
                if p["is_dir"]
                for f in _fs.list_files(self.spark, p["path"], suffix=".parquet")
            ]
            return [_fs.basename(p["path"]) for p in parts if p["is_dir"]], files

        detail: dict = {"table": name}
        partitions: list[str] = []
        files: list[dict] = []
        if name in self.pipelines:
            partitions, files = _layout(self.pipelines[name].table_path)
        if name in self.offline_configs:
            off_parts, off_files = _layout(self._offline_path(name))
            detail["offline_partitions"] = off_parts
            detail["type"] = "HYBRID" if name in self.pipelines else "OFFLINE"
            if name not in self.pipelines:
                partitions, files = off_parts, off_files
            else:
                files = files + off_files
        detail.update(
            partitions=partitions,
            num_files=len(files),
            total_bytes=sum(f["size"] for f in files),
        )
        return detail

    def rebalance(self, name: str) -> dict:
        """Rebalance analog (stack ts:424-443).

        Deliberate no-op: Spark separates storage from compute, so segment
        movement on scale-in/out has no equivalent — tasks schedule wherever
        executors are.  Returns a completed status for API parity.
        """
        return {"table": name, "status": "NO_OP", "reason": "storage/compute separated"}

    # -- query plane (B2, B4) --------------------------------------------

    _AGG_ITEM_RE = re.compile(
        r"^(?:(?P<fn>sum|count|min|max|avg|distinctcounthll|"
        r"distinctcountrawhll)\s*\(\s*(?P<col>\w+)\s*\)"
        r"\s+AS\s+(?P<alias>\w+)|(?P<dim>\w+))$",
        re.IGNORECASE,
    )
    _AGG_IN_RE = re.compile(
        r"^(?P<col>\w+)\s+IN\s*\((?P<vals>[^()]+)\)$", re.IGNORECASE
    )
    _AGG_EQ_RE = re.compile(r"^(?P<col>\w+)\s*=\s*(?P<val>'[^']*'|[\d.]+)$")

    def query_routed(self, sql: str) -> tuple[DataFrame, str]:
        """SQL with star-tree selection **[P1.2]**: the narrow group-by shape
        (``SELECT agg(col) AS a, dims FROM t [WHERE dim IN (...) [AND ...]]
        GROUP BY dims``) is parsed into an AggRequest and routed through
        :meth:`query_agg` — Pinot's broker applying the star-tree to plain
        SQL.  The statement is read through :func:`sqltext.clauses`, so
        comments and literals never change the shape.  ANYTHING the
        conservative parser does not recognize falls back
        to full Spark SQL (route ``'sql'``), so routing can only change the
        scan, never correctness or the supported surface.
        """
        from .streaming.rollup import AggRequest

        # Strip options for SHAPE DETECTION only; every fallback delegates
        # the ORIGINAL statement so query() sees (and applies) the full
        # option set — the old stripped-SQL delegation silently dropped
        # skipUpsert and every other non-useStarTree option (round-5
        # ADVICE).
        orig = sql
        sql, opts = self._strip_query_options(sql)
        if str(opts.get("useStarTree", "true")).lower() == "false":
            # Pinot's useStarTree query option **[P1.2]**: false forces the
            # raw-scan plan (the standard way to cross-check a star-tree
            # answer); the default leaves routing to the selection logic
            return self.query(orig), "sql"
        if str(opts.get("skipUpsert", "false")).lower() == "true":
            # skipUpsert asks for the RAW append-only log — star-tree cells
            # aggregate the RESOLVED view, so routing there would answer the
            # wrong question; always take the raw-scan path (query() applies
            # the skip-upsert rewrite itself)
            return self.query(orig), "sql"
        if str(opts.get("enableNullHandling", "true")).lower() == "false":
            # enableNullHandling=false asks for Pinot's sentinel-substituted
            # reading of null-enabled storage — star-tree cells aggregate
            # the null-NATIVE view, so a routed count/min over a nullable
            # column would silently diverge from query()'s substituted
            # answer (round-6 ADVICE: same bug class the skipUpsert fence
            # fixed); always take the raw-scan path, query() applies the
            # null-disabled rewrite itself
            return self.query(orig), "sql"
        c = sqltext.clauses(sql)
        if c is None or "GROUP BY" not in c or set(c) - {
            "SELECT", "FROM", "WHERE", "GROUP BY"
        }:
            return self.query(orig), "sql"
        table = c["FROM"]
        config = self.configs.get(table)
        if table not in self.pipelines or config is None or not config.star_trees:
            return self.query(orig), "sql"
        # every group item must be a single bare identifier or the query
        # is not the narrow routable shape — fall back (never mis-route)
        groups = tuple(sqltext.strip(g) for g in sqltext.split(c["GROUP BY"]))
        if not all(re.fullmatch(r"\w+", g) for g in groups):
            return self.query(orig), "sql"
        aggs: dict = {}
        sel_dims: list = []
        for item in sqltext.split(c["SELECT"]):
            im = self._AGG_ITEM_RE.match(sqltext.strip(item))
            if not im:
                return self.query(orig), "sql"
            if im.group("dim"):
                sel_dims.append(im.group("dim"))
            else:
                fn = im.group("fn").lower()
                if fn == "distinctcountrawhll":
                    fn = "distinctcounthll"  # same sketch, same cells
                aggs[im.group("alias")] = (fn, im.group("col"))
        if not aggs or set(sel_dims) - set(groups):
            return self.query(orig), "sql"
        filters: dict = {}
        for conj in sqltext.split(c["WHERE"], "AND") if "WHERE" in c else ():
            conj = sqltext.strip(conj)
            fm = self._AGG_IN_RE.match(conj)
            if fm:
                vals = self._parse_in_values(fm.group("vals"))
                if vals is None:
                    return self.query(orig), "sql"
                filters[fm.group("col")] = vals
                continue
            em = self._AGG_EQ_RE.match(conj)
            if em:
                filters[em.group("col")] = (em.group("val").strip("'"),)
                continue
            return self.query(orig), "sql"
        req = AggRequest(dims=groups, aggs=aggs, dim_filters=filters)
        out, route = self.query_agg(table, req)
        # present columns in the SELECT's order (dims first as written)
        ordered = sel_dims + [a for a in aggs if a not in sel_dims]
        try:
            out = out.select(*[c for c in ordered if c in out.columns],
                             *[c for c in out.columns if c not in ordered])
        except Exception:
            pass
        return out, route

    # one IN-list value: a quote-free single-quoted string or a bare token
    _IN_VALUE = r"\s*(?:'([^']*)'|([\w.+-]+))\s*"
    _IN_LIST_RE = re.compile(rf"{_IN_VALUE}(?:,{_IN_VALUE})*")

    @classmethod
    def _parse_in_values(cls, raw: str) -> tuple | None:
        """Parse a Pinot IN-list of values.

        ``'a,b', 'c'`` must parse to two values, not three — a bare
        ``split(',')`` silently mangles quoted commas into a WRONG answer
        (round-4 ADVICE).  Anything else (unbalanced quotes, doubled
        ``''`` escapes, stray text around a quoted value, an empty item)
        returns None so the caller falls back to full Spark SQL instead
        of mis-routing.
        """
        if cls._IN_LIST_RE.fullmatch(raw) is None:
            return None
        return tuple(
            q if b == "" else b
            for q, b in re.findall(cls._IN_VALUE, raw)
        )

    def query_agg(self, name: str, request) -> tuple[DataFrame, str]:
        """Star-tree-aware aggregation **[P1.2]**: route an AggRequest
        (streaming.rollup) through the table's declared star-tree rollup
        when it covers the request, else aggregate the raw table — the
        automatic index-use decision Pinot's servers make per query.
        Returns (result, route) with route 'rollup:startree' or 'scan'.
        """
        from .streaming.rollup import RollupRouter

        pipeline = self.pipelines.get(name)  # dims have no pipeline (and no star-trees)
        # scan fallback MUST see the resolved view on upsert/dedup tables
        # (and the boundary-merged union on hybrid tables)
        router = RollupRouter(lambda: self._resolved_frame(name))
        config = self.configs.get(name)
        if name in self.offline_configs:
            # HYBRID: the ingest-maintained rollup cells cover ONLY the
            # stream — routing to them alone would drop every OFFLINE row
            # and double-serve behind-boundary realtime rows.  Route
            # instead to the boundary-consistent MERGED cell relation:
            # offline cells (appended per upload) plus realtime cells
            # filtered past the boundary — but only for day-partitioned
            # specs whose offline cell log covers every offline partition
            # (uploads predating the REALTIME config have no cells).
            for i, spec in self._hybrid_rollup_specs(name):
                if pipeline is None or not self._offline_rollup_complete(name, i):
                    continue

                def _hybrid_cells(i=i, spec=spec):
                    from pyspark.sql import functions as F

                    from .streaming.rollup import rollup_batch

                    off_root = self._offline_rollup_path(name, i)
                    off = (
                        self.spark.read.parquet(off_root)
                        if _fs.glob_status(self.spark, f"{off_root}/ingest_date=*")
                        else None
                    )
                    # the realtime cell log materializes with the first
                    # committed micro-batch; before that the stream holds no
                    # rows, so "no path" means "no cells", not an error
                    rt_root = pipeline._rollups[i][1]
                    rt = (
                        self.spark.read.parquet(rt_root)
                        if _fs.glob_status(self.spark, f"{rt_root}/ingest_date=*")
                        else None
                    )
                    if rt is not None:
                        boundary = self.hybrid_time_boundary(name)
                        if boundary is not None:
                            rt = rt.where(F.col("ingest_date") > F.lit(boundary))
                    if off is None and rt is None:
                        # fresh hybrid table (no uploads, no batches): an
                        # EMPTY correctly-typed cell frame, same posture as
                        # _offline_frame on a segment-less table
                        return rollup_batch(
                            self._resolved_frame(name).limit(0), spec
                        )
                    if off is None:
                        return rt
                    if rt is None:
                        return off
                    return off.unionByName(rt, allowMissingColumns=True)

                router.register(f"hybrid_startree{i}", _hybrid_cells, spec)
            return router.answer(request)
        if config is not None and config.star_trees:
            from .streaming.rollup import RollupSpec

            for i, (dims_i, metrics_i) in enumerate(config.star_trees):
                if config.retention_days is not None and "ingest_date" not in dims_i:
                    # a rollup whose dims omit the day column aggregates
                    # ACROSS days, so run_retention cannot expire its cells —
                    # routing to it after a partition drop would resurrect
                    # deleted data.  Pinot expires star-trees per segment
                    # (they live inside segments) so it never has this skew;
                    # here the consistent move is to serve such tables from
                    # the retention-consistent scan instead.
                    continue
                spec = RollupSpec(dims=dims_i, metrics=dict(metrics_i))
                label = "startree" if i == 0 else f"startree{i}"
                router.register(
                    label, lambda i=i: pipeline.rollup_table(i), spec
                )
        return router.answer(request)

    # -- text index (B13 config loop, fieldConfigList) -------------------

    def _text_analyzer(self, name: str, column: str):
        """The analyzer a TEXT fieldConfig declares for ``column`` (STANDARD
        when the column has no declaration — Pinot's default analyzer)."""
        from .operators import textmatch as _textmatch

        config = self.configs.get(name)
        if config is not None:
            for col, props in config.text_index_columns:
                if col == column:
                    return _textmatch.analyzer_from_config(dict(props))
        return _textmatch.STANDARD

    def text_index_name(self, name: str, column: str) -> str:
        return f"{name}__{column}_text_idx"

    def build_text_index(self, name: str, column: str, id_col: str) -> str:
        """Materialize the Lucene-index analog for a declared TEXT column
        **[P1.2]**: a (token, id) postings table bucketed by token, analyzed
        with the column's configured chain (fieldConfigList properties).
        Rebuild after ingest batches/compaction, like Pinot refreshes
        per-segment text indexes.  Returns the index table name.
        """
        from .operators import textmatch as _textmatch

        idx = self.text_index_name(name, column)
        _textmatch.persist_text_index(
            self._resolved_frame(name),
            id_col,
            column,
            idx,
            analyzer=self._text_analyzer(name, column),
        )
        return idx

    def text_match(self, name: str, column: str, query: str, id_col: str) -> DataFrame:
        """TEXT_MATCH(column, query) over a table **[P1.2]**, honoring the
        column's declared analyzer.  Served from the persisted index when
        :meth:`build_text_index` has run (bucket-pruned postings semi-join),
        else from an inline postings pass over the resolved view.
        """
        from .operators import textmatch as _textmatch

        analyzer = self._text_analyzer(name, column)
        frame = self._resolved_frame(name)
        idx = self.text_index_name(name, column)
        if self.spark.catalog.tableExists(idx):
            return _textmatch.text_match_indexed(
                frame, id_col, column, idx, query, analyzer=analyzer
            )
        return _textmatch.text_match(frame, id_col, column, query, analyzer=analyzer)

    # -- vector index (Pinot 1.2 VECTOR fieldConfig) ---------------------

    def _vector_props(self, name: str, column: str) -> dict:
        config = self.configs.get(name)
        if config is not None:
            for col, props in config.vector_index_columns:
                if col == column:
                    return dict(props)
        return {}

    def vector_index_name(self, name: str, column: str) -> str:
        return f"{name}__{column}_vector_idx"

    def build_vector_index(
        self, name: str, column: str, id_col: str, n_cells: int = 8
    ) -> str:
        """Materialize the ANN index for a declared VECTOR column **[P1.2]**.

        Pinot 1.2 builds a per-segment HNSW graph; the Spark-native analog
        with the same serving property (probe reads a small fraction of the
        stored bytes) is a persisted IVF layout PARTITIONED BY cell — the
        probe's cell filter prunes whole partitions (documented divergence:
        recall comes from n_probe cells, not graph traversal).  Requires
        vectorDistanceFunction COSINE (the IVF assignment metric); other
        declared functions serve exactly via the brute path.
        """
        from .operators import similarity as _sim

        fn = self._vector_props(name, column).get(
            "vectorDistanceFunction", "COSINE"
        ).upper()
        if fn != "COSINE":
            raise ValueError(
                f"vector index on {name}.{column}: IVF layout assigns by "
                f"COSINE; declared {fn!r} serves via vector_similarity's "
                "exact scan instead"
            )
        idx = self.vector_index_name(name, column)
        _sim.persist_ivf_index(
            self._resolved_frame(name), idx, n_cells=n_cells,
            id_col=id_col, vec_col=column,
        )
        return idx

    def vector_similarity(
        self,
        name: str,
        column: str,
        query_vec,
        top_k: int = 10,
        id_col: str = "vec_id",
        n_probe: int = 2,
    ) -> DataFrame:
        """``VECTOR_SIMILARITY(column, literal, topK)`` **[P1.2]** — Pinot
        1.2's vector predicate as a method: top-k neighbors of one literal
        query vector, honoring the column's declared
        ``vectorDistanceFunction`` (COSINE / INNER_PRODUCT / EUCLIDEAN).

        Served from the persisted IVF index when :meth:`build_vector_index`
        has run and the declared function is COSINE (partition-pruned scan);
        otherwise one exact corpus scan with the score in codegen and
        ``TakeOrderedAndProject`` top-k (no global sort).  Returns
        (neighbor_id, score, rank).
        """
        from pyspark.sql import functions as F

        from .operators import similarity as _sim

        fn = self._vector_props(name, column).get(
            "vectorDistanceFunction", "COSINE"
        ).upper()
        frame = self._resolved_frame(name)
        vec_type = frame.schema[column].dataType.simpleString()
        q_vec = F.array(*[F.lit(float(x)) for x in query_vec]).cast(vec_type)
        idx = self.vector_index_name(name, column)
        if fn == "COSINE" and self.spark.catalog.tableExists(idx):
            queries = self.spark.range(1).select(
                F.lit(-1).cast("long").alias(id_col), q_vec.alias(column)
            )
            # external literal query: no self to exclude, and a sentinel
            # query id must never be compared against the corpus id column
            # (a string primary key would null-cast the comparison and drop
            # every row)
            return _sim.ivf_topk_indexed(
                self.spark, idx, queries, k=top_k, n_probe=n_probe,
                id_col=id_col, vec_col=column, exclude_self=False,
            ).select("neighbor_id", "score", "rank")
        scored = frame.select(
            F.col(id_col).alias("neighbor_id"),
            F.round(
                _sim.similarity_score(fn, q_vec, F.col(column)), 6
            ).alias("score"),
        )
        from pyspark.sql.window import Window as _W

        # TakeOrderedAndProject top-k first; the rank window then runs over
        # only k rows (single tiny partition by construction)
        out = scored.orderBy(F.desc("score"), F.asc("neighbor_id")).limit(top_k)
        w = _W.orderBy(F.desc("score"), F.asc("neighbor_id"))
        return out.withColumn("rank", F.row_number().over(w))

    _VIRTUAL_COL_RE = re.compile(r"\$(docId|segmentName|hostName)\b")
    _STAR_ITEM_RE = re.compile(r"(?:\w+\s*\.\s*)?\*")
    _SET_QUANTIFIER_RE = re.compile(r"(?:DISTINCT|ALL)\b", re.IGNORECASE)

    @classmethod
    def _selects_star(cls, sql: str) -> bool:
        """Whether any SELECT list in ``sql``, at any depth, has a ``*`` or
        ``t.*`` item.  Each list runs from its SELECT to the FROM at its
        own depth, and the lexer cuts it, so comments hide nothing."""
        for m in sqltext.finditer("SELECT", sql):
            f = sqltext.search("FROM", sql, m.end(), top_level=True)
            for item in sqltext.split(sql[m.end() : f.start() if f else None]):
                text = sqltext.strip(item)
                if q := cls._SET_QUANTIFIER_RE.match(text):
                    text = sqltext.strip(text[q.end() :])
                if cls._STAR_ITEM_RE.fullmatch(text):
                    return True
        return False

    def _query_virtual_columns(self, sql: str) -> DataFrame:
        """Pinot's built-in virtual columns **[P1.2]**: every table exposes
        ``$docId`` (position within the segment), ``$segmentName`` and
        ``$hostName`` without declaring them — the standard way to locate a
        physical row (``SELECT $segmentName, $docId FROM t WHERE ...``).

        Resolution: each engine table referenced after FROM/JOIN is
        re-registered under a unique per-query view name with the virtual
        columns appended AT THE SCAN (``_metadata.row_index`` /
        ``file_name`` — exact, since a sealed parquet file is the segment),
        ``$x`` tokens are backquoted for the Spark parser, the plan is
        forced eagerly, and the temp views are dropped.  Unique names keep
        concurrent broker requests isolated (same posture as gapfill's
        per-query views).

        ``SELECT *`` is rejected loudly in this branch: Pinot excludes
        virtual columns from ``*`` expansion, but the augmented view would
        include them — name the physical columns instead.  Virtual columns
        exist only on ENGINE tables (Pinot serves them per segment); a
        reference to a plain temp view raises.
        """
        if self._selects_star(sql):
            raise ValueError(
                "virtual columns ($docId/$segmentName/$hostName) cannot be "
                "combined with SELECT * here: Pinot excludes them from * "
                "expansion — list the physical columns explicitly"
            )
        import uuid as _uuid

        known = (
            set(self.pipelines)
            | set(self.offline_configs)
            | {n for n, c in self.configs.items() if c.is_dim_table}
        )
        views: dict[str, str] = {}
        edits = [
            (r.start, r.end, views.setdefault(
                r.name, f"__virt_{r.name}_{_uuid.uuid4().hex[:10]}"
            ))
            for r in sqltext.relations(sql)
            if r.name in known
        ]
        # the $x tokens in code are backquoted for the Spark parser
        edits += [
            (m.start(), m.end(), f"`{m.group()}`")
            for m in sqltext.finditer(self._VIRTUAL_COL_RE, sql)
        ]
        rewritten = aggsql.apply_text_edits(sql, edits)
        if rewritten is None:
            raise ValueError(
                "virtual-column resolution could not model this FROM "
                "shape (overlapping table-reference spans) — simplify "
                "the FROM clause or query the physical columns directly"
            )
        if not views:
            raise ValueError(
                "virtual columns ($docId/$segmentName/$hostName) are served "
                "only on engine tables (add_table/add_offline_table/"
                "add_dim_table) — the statement references none"
            )
        try:
            for t, v in views.items():
                self._resolved_frame(t, with_virtual=True).createOrReplaceTempView(v)
            df = self.spark.sql(rewritten)
            df._jdf.queryExecution().executedPlan()
        finally:
            for v in views.values():
                self.spark.catalog.dropTempView(v)
        return df

    _INDEX_CALL_RE = re.compile(
        r"(?<![\w.])(VECTOR_SIMILARITY|TEXT_MATCH|JSON_MATCH)\s*\(", re.IGNORECASE
    )

    def _query_index_predicate(self, sql: str) -> DataFrame | None:
        """The SQL forms of Pinot's index-backed predicates **[P1.2]**:
        ``SELECT items FROM t WHERE <predicate> [AND <residual>]`` with the
        predicate one of

        - ``VECTOR_SIMILARITY(col, ARRAY[...], k)``: the k nearest rows
          (:meth:`vector_similarity`);
        - ``TEXT_MATCH(col, 'lucene query')``: :meth:`text_match`, which
          honors the column's analyzer chain and serves from the
          persisted postings index when built;
        - ``JSON_MATCH(col, '"$.a"=1 AND "$.b" IS NOT NULL')``: the
          filter string's conjunction (:meth:`_parse_json_match_expr`)
          evaluated by operators/jsonindex.json_match_all.

        The predicate selects the candidate rows first, keyed on the
        table's first primaryKeyColumn (the id Pinot's index lookup
        returns); the residual conjuncts then filter the candidates, and
        the SELECT items project them.  Pinot 1.2 composes them the same
        way, so a VECTOR_SIMILARITY result can be FEWER than k rows.

        None when the statement is not this form: not the shape
        :func:`sqltext.clauses` reads, a source that is not an engine
        table, or a first top-level WHERE conjunct that is not exactly
        one of the three calls.  Spark SQL then answers it.

        A top-level OR in the WHERE is REJECTED loudly: SQL precedence
        makes ``P AND a=1 OR b=2`` mean ``(P AND a=1) OR b=2``, so rows
        outside the candidates would qualify, which this composition
        cannot express.  A parenthesized OR (``AND (a=1 OR b=2)``) binds
        inside its conjunct and is fine.  ORDER BY, LIMIT and OFFSET apply
        to the projected candidates; GROUP BY is rejected.
        """
        c = sqltext.clauses(sql)
        if c is None or "WHERE" not in c:
            return None
        table, where = c["FROM"], c["WHERE"]
        config = self.configs.get(table) or self.offline_configs.get(table)
        sep = sqltext.search(sqltext.keyword("AND", "OR"), where, top_level=True)
        pred = sqltext.strip(where if sep is None else where[: sep.start()])
        m = self._INDEX_CALL_RE.match(pred)
        if config is None or m is None:
            return None
        inner, end = sqltext.balanced(pred, m.end() - 1)
        if end != len(pred):
            return None
        name = m.group(1).upper()
        if "GROUP BY" in c:
            raise ValueError(
                f"{name} SQL form: GROUP BY is not supported — the form is "
                f"SELECT items FROM table WHERE {name}(...) [AND ...] "
                "[ORDER BY ...] [LIMIT n] [OFFSET m]"
            )
        if sqltext.search("OR", where, top_level=True):
            raise ValueError(
                f"{name} with a top-level OR in the WHERE clause is not "
                f"supported: SQL precedence would let rows outside the "
                f"{name} candidates qualify — parenthesize the disjunction "
                "(AND (a OR b)) or restructure the query"
            )
        if not config.primary_key_columns:
            raise ValueError(
                f"{name} on {table!r}: the table must be registered with "
                "primaryKeyColumns (the id the candidate semi-join keys on)"
            )
        args = [sqltext.strip(a) for a in sqltext.split(inner)]
        candidates = self._index_candidates(
            name, table, config.primary_key_columns[0], args
        )
        # the rest of the statement runs over the candidates, under the
        # table's name; analysis is eager, so the view can drop as soon as
        # the frame is resolved
        import uuid

        view = f"__index_{uuid.uuid4().hex[:12]}"
        rest = [f"SELECT {c['SELECT']}", f"FROM {view} {table}"]
        if sep is not None:
            rest.append(f"WHERE {where[sep.end() :]}")
        rest += [f"{k} {c[k]}" for k in ("ORDER BY", "LIMIT", "OFFSET") if k in c]
        candidates.createOrReplaceTempView(view)
        try:
            return self.spark.sql("\n".join(rest))
        finally:
            self.spark.catalog.dropTempView(view)

    def _index_candidates(
        self, name: str, table: str, id_col: str, args: list
    ) -> DataFrame:
        """The rows of ``table`` that the index predicate ``name(*args)``
        selects (``args``: the call's argument texts)."""
        arity = 3 if name == "VECTOR_SIMILARITY" else 2
        if len(args) != arity:
            raise ValueError(f"{name} takes {arity} arguments, got {len(args)}")
        col = args[0]
        if name == "VECTOR_SIMILARITY":
            am = re.fullmatch(r"ARRAY\s*\[(.*)\]", args[1], re.IGNORECASE | re.DOTALL)
            if am is None:
                raise ValueError(
                    f"VECTOR_SIMILARITY: the query vector must be ARRAY[...], "
                    f"got {args[1]!r}"
                )
            vec = [float(v) for v in am.group(1).split(",")]
            topk = self.vector_similarity(
                table, col, vec, top_k=int(args[2]), id_col=id_col
            )
            return self._resolved_frame(table).join(
                F.broadcast(topk.select(F.col("neighbor_id").alias(id_col))),
                id_col,
                "left_semi",
            )
        query = sqltext.string_value(args[1])
        if query is None:
            raise ValueError(
                f"{name}: the second argument must be one single-quoted "
                f"string, got {args[1]!r}"
            )
        if name == "TEXT_MATCH":
            return self.text_match(table, col, query, id_col)
        from .operators import jsonindex as _ji

        return _ji.json_match_all(
            self._resolved_frame(table), id_col, col,
            self._parse_json_match_expr(query),
        )

    _JM_PRED_RE = re.compile(
        r"^\s*\"(?P<path>\$[^\"]*)\"\s*"
        r"(?P<op>IS\s+NOT\s+NULL|IS\s+NULL|IN|=|<>|!=|>=|<=|>|<)\s*"
        r"(?P<val>.*?)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    @classmethod
    def _parse_json_match_expr(cls, expr: str) -> list[tuple]:
        """Pinot's JSON_MATCH filter string **[P1.2]** -> [(path, op,
        value), ...]: conjunctions of ``"$.path" op value`` with op in
        ``= <> != > >= < <= IN (...)`` and the existence forms ``IS [NOT]
        NULL``.  String values are single-quoted ('' escapes a quote),
        numbers are bare; OR is rejected loudly (the postings conjunction
        form cannot express it — same contract as json_match_all)."""

        def unq(v: str) -> str:
            lit = sqltext.string_value(v)
            return v.strip() if lit is None else lit

        preds: list[tuple] = []
        for part in sqltext.split(expr, "AND"):
            part = part.strip()
            if not part:
                continue
            if sqltext.search("OR", part, top_level=True):
                raise ValueError(
                    "JSON_MATCH with OR is not supported — the postings "
                    "evaluation is a conjunction (split the query or use "
                    "separate JSON_MATCH calls)"
                )
            m = cls._JM_PRED_RE.match(part)
            if m is None:
                raise ValueError(
                    f"unparseable JSON_MATCH predicate: {part!r} (expected "
                    "'\"$.path\" op value')"
                )
            op = re.sub(r"\s+", " ", m.group("op").upper())
            val = m.group("val").strip()
            if op in ("IS NULL", "IS NOT NULL"):
                if val:
                    raise ValueError(
                        f"unexpected trailing text after {op}: {val!r}"
                    )
                preds.append((m.group("path"), op))
            elif op == "IN":
                if not (val.startswith("(") and val.endswith(")")):
                    raise ValueError(f"IN needs a parenthesized list: {val!r}")
                items = sqltext.split(val[1:-1])
                if not all(x.strip() for x in items):
                    raise ValueError(f"empty item in IN list: {val!r}")
                items = [unq(x) for x in items]
                preds.append((m.group("path"), "IN", items))
            else:
                if op == "!=":
                    op = "<>"
                if not val:
                    raise ValueError(f"missing comparison value in {part!r}")
                preds.append((m.group("path"), op, unq(val)))
        return preds

    # Pinot query options **[P1.2]**: clients (the JDBC driver, the query
    # console) prefix statements with `SET key=value;` — e.g. SET
    # timeoutMs=3000; SET useMultistageEngine=true.  Recognized options that
    # have a Spark-side meaning are applied; the rest parse cleanly and are
    # recorded (Spark SQL would otherwise reject the whole statement).
    _SET_RE = re.compile(
        r"^\s*SET\s+(?P<key>\w+)\s*=\s*(?P<val>'[^']*'|\"[^\"]*\"|[\w.\-]+)\s*;\s*",
        re.IGNORECASE,
    )

    # Legacy Pinot trailing options **[P1.2]**: `SELECT ... OPTION(
    # timeoutMs=1000, skipUpsert=true)` — the pre-SET syntax older clients
    # still emit.  Same handling: parse, record, strip.
    _OPTION_SUFFIX_RE = re.compile(
        r"\s+OPTION\s*\(\s*(?P<body>\w+\s*=\s*[\w.\-]+"
        r"(?:\s*,\s*\w+\s*=\s*[\w.\-]+)*)\s*\)\s*;?\s*$",
        re.IGNORECASE,
    )

    def _strip_query_options(self, sql: str) -> tuple[str, dict]:
        # comments before a SET prefix or after an OPTION suffix are not
        # part of the statement, and an OPTION suffix inside a comment is
        # no option (an option value may itself hold "--")
        opts: dict = {}
        while True:
            rest = sql[sqltext.skip_space(sql):]
            m = self._SET_RE.match(rest)
            if m is None:
                break
            opts[m.group("key")] = m.group("val").strip("'\"")
            sql = rest[m.end():]
        m = sqltext.search(self._OPTION_SUFFIX_RE, sql) or sqltext.search(
            self._OPTION_SUFFIX_RE, sql[: sqltext.code_end(sql)]
        )
        if m:
            for pair in m.group("body").split(","):
                k, _, v = pair.partition("=")
                opts[k.strip()] = v.strip()
            sql = sql[: m.start()]
        return sql, opts

    # Pinot scalar LOOKUP UDF **[P1.2]**: LOOKUP('dimTable','valueCol',
    # 'pkCol', factExpr [, 'pkCol2', factExpr2 ...]) decorates fact rows
    # with dimension-table values.  Pinot serves it from the in-memory
    # replica every server holds of an isDimTable=true OFFLINE table; the
    # Spark-first form is a correlated scalar subquery — Catalyst rewrites
    # it to a left-outer join and broadcasts the dim side under the
    # autoBroadcastJoinThreshold, the same replicated-join shape.
    _LOOKUP_RE = re.compile(r"LOOKUP\s*\(", re.IGNORECASE)
    _IDENT_RE = re.compile(r"'(\w+)'\s*$")

    def _rewrite_lookup_calls(self, sql: str) -> str:
        """Replace every LOOKUP(...) call outside literals and comments
        with its subquery form (MY_LOOKUP() is untouched); calls nested
        in a LOOKUP's arguments rewrite with their argument."""
        out, pos = [], 0
        for name, start, open_idx in sqltext.calls(sql):
            if start >= pos and name.upper() == "LOOKUP":
                args, end = sqltext.balanced(sql, open_idx)
                out += [sql[pos:start], self._lookup_subquery(args)]
                pos = end
        return "".join(out) + sql[pos:]

    def _lookup_subquery(self, args_str: str) -> str:
        parts = [p.strip() for p in sqltext.split(args_str)]
        if len(parts) < 4 or len(parts) % 2 != 0:
            raise ValueError(
                "LOOKUP takes ('dimTable','valueColumn', 'pkColumn', factExpr"
                " [, 'pkColumn2', factExpr2 ...]) — got "
                f"{len(parts)} argument(s)"
            )
        names = []
        for p in parts[:2]:
            m = self._IDENT_RE.fullmatch(p)
            if not m:
                raise ValueError(
                    f"LOOKUP: argument {p!r} must be a quoted identifier"
                )
            names.append(m.group(1))
        table, val_col = names
        config = self.configs.get(table)
        if config is None or not config.is_dim_table:
            raise ValueError(
                f"LOOKUP target {table!r} is not a registered dimension "
                "table (add_dim_table with isDimTable: true)"
            )
        # The dim side projects to reserved names BEFORE the correlation
        # predicate: a bare fact column in the key expression must resolve
        # to the OUTER query, and SQL scoping prefers the inner relation —
        # if the dim still exposed a same-named column (`campaign = campaign`)
        # the correlation would silently self-capture and match every row.
        proj, conds = [f"`{val_col}` AS __lookup_val"], []
        for idx, k in enumerate(range(2, len(parts), 2)):
            m = self._IDENT_RE.fullmatch(parts[k])
            if not m:
                raise ValueError(
                    f"LOOKUP: join-key argument {parts[k]!r} must be a "
                    "quoted column name"
                )
            pk = m.group(1)
            if pk not in config.primary_key_columns:
                raise ValueError(
                    f"LOOKUP join key {pk!r} is not a primaryKeyColumn of "
                    f"dimension table {table!r} {list(config.primary_key_columns)}"
                )
            # a fact expression may itself contain LOOKUP calls
            expr = self._rewrite_lookup_calls(parts[k + 1])
            proj.append(f"`{pk}` AS __lookup_k{idx}")
            conds.append(f"__lookup_k{idx} = ({expr})")
        return (
            f"(SELECT __lookup_val FROM (SELECT {', '.join(proj)} "
            f"FROM {table}) WHERE {' AND '.join(conds)})"
        )

    # Pinot SQL gapfill **[P1.2]**: SELECT GAPFILL(timeExpr, 'outFmt',
    # 'start', 'end', 'bucket', FILL(col,'MODE')..., TIMESERIESON(dims...))
    # AS t, ... FROM src — fills missing time buckets per series.  All three
    # documented shapes route through operators/gapfill.gapfill: over a raw
    # table, over an aggregated subquery (src is a parenthesized SELECT),
    # and under an outer aggregation (the gapfill subquery's result splices
    # back into the outer statement as a temp view).
    _GAPFILL_RE = re.compile(r"\bSELECT\s+GAPFILL\s*\(", re.IGNORECASE)
    _GAPFILL_STEP_RE = re.compile(
        r"^(\d+):(SECONDS|MINUTES|HOURS|DAYS)$", re.IGNORECASE
    )

    def _gapfill_time_bound(self, literal: str, out_fmt: str):
        """A GAPFILL start/end literal -> a timestamp Column.  Pinot writes
        them in the declared output format: epoch numbers for ``EPOCH``
        formats (in the format's unit) or a datetime string for
        ``SIMPLE_DATE_FORMAT`` — both fold to TIMESTAMP here (the engine's
        time columns are real timestamps, SURVEY §1.2)."""
        from pyspark.sql import functions as F

        parts_raw = out_fmt.split(":")
        if "SIMPLE_DATE_FORMAT" in (p.upper() for p in parts_raw):
            # an all-digit literal under an SDF format ('20240601' for
            # yyyyMMdd) is a DATE STRING, not an epoch count — parse it with
            # the declared pattern (round-6 review: the epoch branch used to
            # swallow it and scale by the unit, ~year 57000)
            idx = next(
                i for i, p in enumerate(parts_raw)
                if p.upper() == "SIMPLE_DATE_FORMAT"
            )
            pattern = ":".join(parts_raw[idx + 1:])
            if pattern:
                return F.to_timestamp(F.lit(literal), pattern)
            return F.to_timestamp(F.lit(literal))
        if re.fullmatch(r"\d+", literal):
            parts = out_fmt.upper().split(":")
            unit = parts[1] if len(parts) > 1 else "MILLISECONDS"
            # Pinot datetime formats carry a SIZE prefix: '15:MINUTES:EPOCH'
            # means the value counts 15-minute units, so the bound scales by
            # size * unit (round-5 ADVICE — size was silently dropped)
            size = int(parts[0]) if parts[0].isdigit() else 1
            v = int(literal)
            if unit == "MILLISECONDS":
                return F.timestamp_millis(F.lit(v * size))
            # epoch bounds arrive in the declared format's unit (Pinot
            # writes '477710' for 1:HOURS:EPOCH) — scale to seconds
            scale = {"SECONDS": 1, "MINUTES": 60, "HOURS": 3600, "DAYS": 86400}.get(unit)
            if scale is None:
                raise ValueError(
                    f"GAPFILL: epoch bound {literal!r} with unsupported unit {unit!r}"
                )
            return F.timestamp_seconds(F.lit(v * size * scale))
        return F.to_timestamp(F.lit(literal))

    def _try_query_gapfill(self, sql: str) -> DataFrame | None:
        """Detect and serve the Pinot SQL gapfill forms; None = not gapfill."""
        m = sqltext.search(self._GAPFILL_RE, sql)
        if m is None:
            return None
        import uuid

        from pyspark.sql import functions as F
        from .operators.gapfill import gapfill as _gapfill_op

        # Unique per-query view name: the broker endpoint serves concurrent
        # clients on one SparkSession — a fixed shared name would let two
        # in-flight gapfill queries swap each other's results.
        view = f"__gapfill_{uuid.uuid4().hex[:12]}"

        # -- extent of the gapfill SELECT: the whole statement, or the
        # parenthesized subquery enclosing it (outer-aggregation / CTE form)
        sel_start = m.start()
        k = sel_start - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        if k >= 0 and sql[k] == "(":
            inner, after = sqltext.balanced(sql, k)
            # splice back as a parenthesized SELECT so every enclosing
            # context stays valid SQL (FROM (...) t, WITH x AS (...), ...)
            outer = sql[:k] + f"(SELECT * FROM {view})" + sql[after:]
        else:
            inner, outer = sql, None

        # -- parse: SELECT GAPFILL(args) AS alias [, items] FROM src
        #           [WHERE cond] [ORDER BY ... / LIMIT ...]
        c = sqltext.clauses(inner)
        first, *items = (
            [sqltext.strip(s) for s in sqltext.split(c["SELECT"])] if c else [""]
        )
        gm = re.match(r"GAPFILL\s*\(", first, re.IGNORECASE)
        if gm is None:
            raise ValueError(
                "GAPFILL select: expected SELECT GAPFILL(...) AS <name> "
                "[, items] FROM <source> [WHERE ...] [ORDER BY ... / LIMIT ...]"
            )
        args_str, pos = sqltext.balanced(first, gm.end() - 1)
        am = re.fullmatch(r"\s*AS\s+(\w+)", first[pos:], re.IGNORECASE)
        if not am:
            raise ValueError("GAPFILL(...) must be aliased: GAPFILL(...) AS <name>")
        alias = am.group(1)
        src = c["FROM"]
        if src.startswith("("):
            sub, src_end = sqltext.balanced(src, 0)
            src_df = self.spark.sql(sub)
        else:
            tm = re.match(r"\w+", src)
            if not tm:
                raise ValueError(f"GAPFILL select: unreadable source {src!r}")
            src_df = self.spark.table(tm.group())
            src_end = tm.end()
        # WHERE filters the source BEFORE filling (Pinot's gapfill select
        # semantics); ORDER BY / LIMIT apply to the FILLED result.  Anything
        # else after the source is an error, never silently dropped.
        leading = src[src_end:].strip() or (
            f"GROUP BY {c['GROUP BY']}" if "GROUP BY" in c else ""
        )
        if leading:
            raise ValueError(
                f"GAPFILL select: unsupported clause after the source: {leading!r}"
            )
        if "WHERE" in c:
            src_df = src_df.where(c["WHERE"])
        post = " ".join(
            f"{k} {c[k]}" for k in ("ORDER BY", "LIMIT", "OFFSET") if k in c
        )

        # -- GAPFILL arguments
        args = [a.strip() for a in sqltext.split(args_str)]
        if len(args) < 5:
            raise ValueError(
                "GAPFILL takes (timeExpr, 'outputFormat', 'start', 'end', "
                "'bucket' [, FILL(col,'MODE')..., TIMESERIESON(dims...)])"
            )
        time_expr = args[0]
        out_fmt, start_lit, end_lit, step_lit = (
            a.strip("'") for a in args[1:5]
        )
        sm = self._GAPFILL_STEP_RE.match(step_lit)
        if not sm:
            raise ValueError(
                f"GAPFILL bucket {step_lit!r}: expected 'N:SECONDS|MINUTES|HOURS|DAYS'"
            )
        step = f"{sm.group(1)} {sm.group(2).lower().rstrip('s')}"
        fill: dict[str, float | str] = {}
        group_cols: list[str] = []
        for extra in args[5:]:
            fm = re.match(r"FILL\s*\(", extra, re.IGNORECASE)
            tm2 = re.match(r"TIMESERIESON\s*\(", extra, re.IGNORECASE)
            if fm:
                body, _ = sqltext.balanced(extra, fm.end() - 1)
                col, _, mode = (p.strip() for p in body.partition(","))
                mode = mode.strip().strip("'").upper()
                if mode == "FILL_PREVIOUS_VALUE":
                    fill[col] = "previous"
                elif mode == "FILL_DEFAULT_VALUE":
                    # Pinot fills with the column's defaultNullValue;
                    # numeric metrics default to 0 (SURVEY §1.2)
                    fill[col] = 0
                else:
                    raise ValueError(f"GAPFILL FILL mode {mode!r} unknown")
            elif tm2:
                body, _ = sqltext.balanced(extra, tm2.end() - 1)
                group_cols = [
                    d.strip() for d in body.split(",") if d.strip()
                ]
            else:
                raise ValueError(
                    f"GAPFILL argument {extra!r}: expected FILL(...) or "
                    "TIMESERIESON(...)"
                )

        projected = src_df.selectExpr(f"({time_expr}) AS {alias}", *items)
        # both bounds are literals: the operator generates the spine from a
        # one-row range, so an empty (fully filtered) source still yields
        # the full spine of filled buckets (Pinot's explicit-bounds rule)
        filled = _gapfill_op(
            projected,
            alias,
            step,
            group_cols,
            fill,
            start=self._gapfill_time_bound(start_lit, out_fmt),
            end=self._gapfill_time_bound(end_lit, out_fmt),
        )
        if post:
            # ORDER BY / LIMIT on the filled relation; analysis is eager,
            # so the view can drop as soon as the frame is resolved
            pv = f"{view}_post"
            filled.createOrReplaceTempView(pv)
            try:
                filled = self.spark.sql(f"SELECT * FROM {pv} {post}")
            finally:
                self.spark.catalog.dropTempView(pv)
        if outer is None:
            return filled
        filled.createOrReplaceTempView(view)
        try:
            return self.spark.sql(outer)
        finally:
            self.spark.catalog.dropTempView(view)

    _UNION_PUSHDOWN_RULE = (
        "org.apache.spark.sql.catalyst.optimizer.PushProjectionThroughUnion"
    )
    # One lock for ALL engines on this driver: spark.conf is session-global,
    # and the broker is a ThreadingHTTPServer — without mutual exclusion one
    # request's finally-restore could re-enable PushProjectionThroughUnion
    # while another thread is still planning a LOOKUP-over-hybrid statement
    # (resurfacing the NoSuchElementException the exclusion prevents), or
    # clobber a concurrently-set user value.  Class-level because two Engine
    # instances can share one SparkSession; the window is plan-only (the
    # physical plan is forced eagerly inside it), so the serialization cost
    # is planning time, not execution time.
    _EXCLUDED_RULES_LOCK = threading.RLock()

    def _sql_without_union_pushdown(self, sql: str) -> DataFrame:
        """Plan a statement with ``PushProjectionThroughUnion`` excluded.

        Spark 4.1's optimizer loses correlated-subquery attributes when it
        pushes projections through a Union (``NoSuchElementException: key
        not found: __lookup_k0``) — every rewritten LOOKUP over a hybrid
        table's union view would die.  Excluding the rule for JUST this
        statement costs at most a wider projection on the union sides; the
        physical plan is forced eagerly inside the conf window so later
        actions on the returned frame reuse it.  The window runs under
        :data:`_EXCLUDED_RULES_LOCK` — concurrent broker threads each get a
        consistent set/plan/restore sequence.
        """
        conf = self.spark.conf
        key = "spark.sql.optimizer.excludedRules"
        with self._EXCLUDED_RULES_LOCK:
            prev = conf.get(key, None)
            rules = (
                f"{prev},{self._UNION_PUSHDOWN_RULE}"
                if prev
                else self._UNION_PUSHDOWN_RULE
            )
            conf.set(key, rules)
            try:
                df = self.spark.sql(sql)
                df._jdf.queryExecution().executedPlan()
            finally:
                if prev is None:
                    conf.unset(key)
                else:
                    conf.set(key, prev)
        return df

    # Pinot 1.2 explain spellings **[P1.2]**: the classic `EXPLAIN PLAN
    # FOR` and the multi-stage engine's `EXPLAIN IMPLEMENTATION PLAN FOR`
    # both answer the PHYSICAL operator tree (implementation = what runs
    # — Spark's executedPlan); `EXPLAIN PLAN WITHOUT IMPLEMENTATION FOR`
    # answers the LOGICAL plan (Pinot's Calcite rel tree — Spark's
    # Catalyst optimizedPlan).  The head is matched after leading
    # comments.
    _EXPLAIN_RE = re.compile(
        r"EXPLAIN\s+(?:IMPLEMENTATION\s+PLAN"
        r"|PLAN(?P<logical>\s+WITHOUT\s+IMPLEMENTATION)?)\s+FOR\s+",
        re.IGNORECASE,
    )

    def query(self, sql: str) -> DataFrame:
        """/query/sql analog — full Spark SQL + the Pinot function surface.

        ``EXPLAIN PLAN FOR <sql>`` is routed to :meth:`explain_plan`, same
        as the Pinot broker **[P1.2]** — the result is the operator tree as
        a table, so BI tools can introspect plans over the same endpoint.
        The index-backed predicates Spark SQL lacks, ``WHERE
        VECTOR_SIMILARITY(col, ARRAY[...], k)``, ``WHERE TEXT_MATCH(col,
        'query')`` and ``WHERE JSON_MATCH(col, 'filter')`` **[P1.2]**, each
        optionally ``AND <residual>``, are served by one handler,
        :meth:`_query_index_predicate`; it reads the statement through
        the clause splitter :func:`sqltext.clauses` (comments and
        literals opaque), which the star-tree route
        (:meth:`query_routed`) and GAPFILL use too.  Leading Pinot ``SET key=value;``
        query options **[P1.2]** (what the Pinot JDBC driver and console
        prefix statements with) and the legacy trailing ``OPTION(k=v, ...)``
        form parse and strip; ``useStarTree=false`` disables star-tree
        routing on :meth:`query_routed` (the raw-scan cross-check), the
        rest must still answer, not fail to parse.  Scalar
        ``LOOKUP('dim','valueCol','pkCol', expr)`` calls **[P1.2]** rewrite
        to correlated scalar subqueries against registered dimension tables
        (:meth:`add_dim_table`) — Catalyst plans them as a broadcast
        left-outer join, Pinot's replicated dim-join in Spark terms.
        ``SELECT GAPFILL(...) ...`` **[P1.2]** (Pinot's SQL gapfill, all
        three documented shapes) routes through
        :meth:`_try_query_gapfill` -> operators/gapfill.
        ``CLPDECODE(field)`` over a column a config declares CLP-encoded
        **[P1.2]** expands to the 3-argument form over its physical
        columns (:meth:`_expand_clpdecode_sugar`; operators/clp.py).
        """
        sql, _opts = self._strip_query_options(sql)
        # EXPLAIN delegates EVERYTHING to a re-entry on the inner
        # statement: options are re-prepended so the option-driven
        # rewrites (SELECT/WITH-gated, so they no-op on EXPLAIN-prefixed
        # text) apply on re-entry and the explained plan is the plan the
        # optioned query runs (round-6 ADVICE); stripping before the
        # OTHER rewrites also keeps the re-entry seeing the ORIGINAL
        # statement, which the LOOKUP hybrid path and the MV-distinct
        # statement route both require (round-6 review; round-7 review:
        # the post-aggsql EXPLAIN check consumed DISTINCTCOUNT*MV into
        # the fallback text, so EXPLAIN showed the unbounded plan).
        m = self._EXPLAIN_RE.match(sql, sqltext.skip_space(sql))
        if m:
            inner = sql[m.end():]
            if _opts:
                inner = (
                    "".join(f"SET {k}='{v}'; " for k, v in _opts.items())
                    + inner
                )
            return self.explain_plan(
                inner, logical=m.group("logical") is not None
            )
        # the Pinot scalars the statement calls are registered before any
        # rewrite or route below consults the catalog
        sqlfns.register_calls(self.spark, sql)
        if str(_opts.get("skipUpsert", "false")).lower() == "true":
            sql = self._apply_skip_upsert_rewrite(sql)
        if str(_opts.get("enableNullHandling", "true")).lower() == "false":
            # Pinot enableNullHandling=false **[P1.2]**: serve the
            # type-default-substituted reading of null-enabled tables
            # (engine default is TRUE — null-native — the inverse of
            # Pinot's; the option is how a caller asks for Pinot's
            # sentinel view of the same storage)
            sql = self._apply_null_disabled_rewrite(sql)
        sql = self._expand_clpdecode_sugar(sql)
        # Pinot aggregate spellings (DISTINCTCOUNTHLL, FIRSTWITHTIME,
        # PERCENTILE(x, 90), the *MV family ...) -> Spark aggregate
        # expressions **[P1.2]** — SQL macros cannot be aggregates, so the
        # wire surface rewrites call sites textually (quote-aware,
        # functions/aggsql.py)
        from .functions.aggsql import (
            canonicalize_pinot_spellings,
            inline_route_ctes,
            rewrite_keyed_agg_statement,
            rewrite_mode_avg_statement,
            rewrite_mv_distinct_statement,
            rewrite_ordered_funnel_statement,
            rewrite_pinot_aggregates,
            rewrite_sumarray_statement,
        )

        # Underscored Pinot spellings canonicalize BEFORE the statement
        # routes so every gate/classification sees one spelling —
        # DISTINCT_COUNT_HLL_MV routes to the same bounded plan as
        # DISTINCTCOUNTHLLMV (round-8 review: stripping only at the
        # call-site lookup split routed and fallback answers by spelling
        # choice).  The live-catalog guard keeps runtime-registered UDFs
        # resolving natively.
        sql = canonicalize_pinot_spellings(
            sql, keep_native=self._catalog_has_function
        )

        def rewrite(text: str) -> str:
            out = rewrite_pinot_aggregates(
                text, keep_native=self._catalog_has_function
            )
            if out != text:
                # a rewrite may emit a Pinot scalar the statement does not
                # name (the 3-argument JSONPATHLONG reads JSONPATHSTRING)
                sqlfns.register_calls(self.spark, out)
            return out

        # FROM/JOIN-position WITH-CTEs inline to the derived-table
        # relation shape the routes admit (round 9 single-use, round 10
        # multi-reference-with-deterministic-body — a CTE-wrapped
        # FUNNELCOUNT / MV-distinct / SUMARRAY statement was the last
        # wire shape still landing on the collection-state folds).  The
        # inlined text feeds the ROUTES ONLY: if every route bails or
        # the probe fails, the original statement (CTE intact) stands,
        # so uninlinable CTE statements keep today's fold paths.
        route_src = inline_route_ctes(sql)
        if route_src is None:
            route_src = sql

        # DISTINCTCOUNTHLLMV/DISTINCTCOUNTMV statements route to the
        # bounded exploded plan FIRST (hll_sketch_agg / count(DISTINCT)
        # over LATERAL VIEW POSEXPLODE elements — per-group state is the
        # sketch/distinct-element set, never a set of whole arrays); the
        # route bails (None) on shapes it cannot restructure and those
        # fall through to the normalized-set call-site fallback.  Same
        # analyze-cleanly-or-original-stands contract as the table-ref
        # rewrites.
        routed_mv = rewrite_mv_distinct_statement(
            route_src, is_aggregate=self._is_catalog_aggregate
        )
        if routed_mv is None:
            # FUNNELCOUNT / tuple value-aggregate statements route to the
            # bounded two-level per-(group, key) aggregate plan (round 8
            # — zero collected arrays; aggsql.py section comment).  The
            # two routes are mutually exclusive by construction: each
            # treats the other's target names as route-bailing aggregates.
            routed_mv = rewrite_keyed_agg_statement(
                route_src, is_aggregate=self._is_catalog_aggregate
            )
        if routed_mv is None:
            # FUNNELMAXSTEP / FUNNELMATCHSTEP statements route to the
            # window-cascade plan (round 8 — per-row state instead of the
            # fold's per-group collected event array; aggsql.py section
            # comment).  Mutually exclusive with the two routes above by
            # the same co-aggregate bail rules.
            routed_mv = rewrite_ordered_funnel_statement(
                route_src, is_aggregate=self._is_catalog_aggregate
            )
        if routed_mv is None:
            # SUMARRAYLONG/SUMARRAYDOUBLE statements route to the bounded
            # positional two-level plan (round-8 session — per-(group,
            # position) hash aggregate, outer collect bounded by the max
            # array length; aggsql.py section comment).  Unroutable
            # shapes keep the loud call-site reject.
            routed_mv = rewrite_sumarray_statement(
                route_src, is_aggregate=self._is_catalog_aggregate
            )
        if routed_mv is None:
            # MODE(col, 'AVG') statements route to the three-level
            # tied-mode-average plan (round-8 session — stacked hash
            # aggregates, no windows or collections; aggsql.py section
            # comment).  Unroutable shapes keep the loud reject.
            routed_mv = rewrite_mode_avg_statement(
                route_src, is_aggregate=self._is_catalog_aggregate
            )
        if routed_mv is not None:
            # loud arity/shape ValueErrors from the rewrite must surface,
            # so only the ANALYSIS is inside the try
            probed = rewrite(routed_mv)
            try:
                self.spark.sql(probed)  # analysis only, no execution
                sql = probed  # reuse the probed text: one rewrite, not two
            except Exception as probe_exc:
                try:
                    sql = rewrite(sql)
                except ValueError as fallback_err:
                    # the fallback is an unconditional loud REJECT
                    # (sumarray / mode-avg): the statement's shape DID
                    # route and the analysis failure has a real cause
                    # (e.g. an unresolved column), so the probe error
                    # leads — but CHAINED to the reject (round-8 ADVICE:
                    # `from None` discarded it, leaving route-generated
                    # analysis failures with no hint that a statement
                    # route engaged or what the manual recipe is)
                    raise probe_exc from fallback_err
        else:
            sql = rewrite(sql)
        has_lookup = False
        if self._LOOKUP_RE.search(sql):
            rewritten = self._rewrite_lookup_calls(sql)
            has_lookup = rewritten != sql
            sql = rewritten
        gf = self._try_query_gapfill(sql)
        if gf is not None:
            return gf
        if has_lookup:
            return self._sql_without_union_pushdown(sql)
        if sqltext.search(self._VIRTUAL_COL_RE, sql):
            return self._query_virtual_columns(sql)
        if self._INDEX_CALL_RE.search(sql):
            df = self._query_index_predicate(sql)
            if df is not None:
                return df
        return self.spark.sql(self._apply_ts_index_rewrite(sql))

    _CLPDECODE_SUGAR_RE = re.compile(
        r"\bCLPDECODE\s*\(\s*"
        r"(?P<q>(?:[A-Za-z_]\w*\.)?)"   # optional table/alias qualifier
        r"(?P<c>[A-Za-z_]\w*)\s*\)",
        re.IGNORECASE,
    )

    def _expand_clpdecode_sugar(self, sql: str) -> str:
        """Pinot's 1-argument ``CLPDECODE(field)`` sugar **[P1.2]**: when
        ``field`` is a column some table config declares CLP-encoded
        (fieldConfigList compressionCodec "CLP"), expand to the 3-argument
        form over its physical columns — the registered SQL macro
        (functions/sqlfns.py) does the actual reassembly, fully codegen.
        Literal-span aware; identifiers no config declares pass through
        untouched (same contract as the TIMESTAMP-index rewrite)."""
        if "clpdecode" not in sql.lower():
            return sql
        declared: dict[str, str] = {}
        for cfg in (*self.configs.values(), *self.offline_configs.values()):
            for c in cfg.clp_columns:
                declared[c.lower()] = c
        if not declared:
            return sql
        spans = sqltext.spans(sql)

        def repl(m: "re.Match") -> str:
            if any(s <= m.start() < e for s, e in spans):
                return m.group(0)
            col = declared.get(m.group("c").lower())
            if col is None:
                return m.group(0)
            q = m.group("q")  # "alias." qualifier carries onto all three
            lt, dv, ev = (f"{q}{c}" for c in _clp_column_names(col))
            return f"CLPDECODE({lt}, {dv}, {ev})"

        out = self._CLPDECODE_SUGAR_RE.sub(repl, sql)
        if out != sql:
            sqlfns.register(self.spark, "CLPDECODE")
        return out

    def _apply_skip_upsert_rewrite(self, sql: str) -> str:
        """Pinot ``skipUpsert=true`` **[P1.2]**: serve the raw append-only
        log — every row version and tombstone, no primary-key resolution
        (Pinot's standard way to audit what upsert resolution hides).

        FROM/JOIN-position references to a pure-realtime upsert/dedup table
        rewrite to its ``<name>_raw`` view (:meth:`_rewrite_table_refs`).
        Hybrid tables are deliberately NOT rewritten: their view is the
        offline/realtime boundary merge, and skipping resolution there
        would require a raw-side merge no Pinot option defines.
        """
        targets = {
            n.lower(): f"{n}_raw"
            for n, c in self.configs.items()
            if (c.upsert_mode is not None or c.dedup_enabled)
            and n not in self.offline_configs
            and n in self.pipelines
        }
        return self._rewrite_table_refs(sql, targets)

    # a WITH-prefixed COMMAND (CTE + INSERT/CREATE/...) would pass the
    # SELECT/WITH gate of the text rewrites and their analysis probe would
    # EXECUTE it; a command keyword anywhere in code stops the rewrite
    _COMMAND_RE = sqltext.keyword(
        "INSERT", "CREATE", "REPLACE", "DELETE", "UPDATE", "MERGE", "DROP",
        "ALTER",
    )

    def _guarded_rewrite(self, sql: str, edits) -> str:
        """``sql`` with the ``(start, end, text)`` edits that ``edits(sql)``
        lists spliced in, or ``sql`` itself unless the statement is a
        SELECT or WITH with no command keyword in code (the analysis probe
        would EXECUTE a command) and the rewritten text analyzes cleanly.
        Literals and comments are the caller's to skip."""
        if not sqltext.keyword("SELECT", "WITH").match(
            sql, sqltext.skip_space(sql)
        ) or sqltext.search(self._COMMAND_RE, sql):
            return sql
        rewritten = aggsql.apply_text_edits(sql, edits(sql))
        if rewritten is None or rewritten == sql:
            return sql
        try:
            self.spark.sql(rewritten)  # SELECT/WITH only: analysis, no exec
            return rewritten
        except Exception:
            return sql

    def _rewrite_table_refs(self, sql: str, targets: dict) -> str:
        """Replace each relation reference (:func:`sqltext.relations`) to
        a table ``targets`` names, through :meth:`_guarded_rewrite`.

        ``targets`` maps lower-cased table names to a replacement NAME, or
        to a callable returning a ``(SELECT ...)`` text.  Only the name is
        replaced, so a user alias stays as written; a subselect without
        one is aliased to the name, so qualified columns keep resolving.
        """
        low = sql.lower()
        targets = {k: v for k, v in targets.items() if k in low}
        if not targets:
            return sql

        def edits(sql: str) -> list:
            out = []
            for r in sqltext.relations(sql):
                sub = targets.get(r.name.lower())
                if callable(sub):
                    sub = sub() + (
                        "" if r.alias is not None
                        else f" AS {sql[r.start : r.end]}"
                    )
                if sub is not None:
                    out.append((r.start, r.end, sub))
            return out

        return self._guarded_rewrite(sql, edits)

    @staticmethod
    def _null_default_sql(spec) -> str:
        """SQL-literal text of :func:`schema.pinot_type_default` for
        ``spec`` — the sentinel Pinot substitutes for a null under
        ``nullHandlingEnabled=false`` **[P1.2]**, rendered for the
        string-level query rewrite (constant-folds in the plan)."""
        from .schema import _PINOT_TYPE_DEFAULTS

        t = spec.pinot_type.upper()
        val = _PINOT_TYPE_DEFAULTS[(t, spec.field_class == "metric")]
        if t in ("FLOAT", "DOUBLE"):
            scalar = (
                f"CAST({val!r} AS {t})"
                if val != float("-inf")
                else f"CAST('-Infinity' AS {t})"
            )
        elif t == "TIMESTAMP":
            scalar = "timestamp_seconds(0)"
        elif t == "BYTES":
            scalar = "X''"
        elif t == "BOOLEAN":
            scalar = "false"
        elif isinstance(val, str):
            scalar = f"'{val}'"
        else:
            scalar = str(val)
        return scalar if spec.single_value else f"array({scalar})"

    def _apply_null_disabled_rewrite(self, sql: str) -> str:
        """Pinot query option ``enableNullHandling=false`` **[P1.2]**: read
        null-enabled tables as if nulls were never stored — every schema
        field WITHOUT a declared defaultNullValue coalesces to the silent
        type-default sentinel (schema.pinot_type_default), so ``IS NULL``
        matches nothing and aggregates see the sentinels, exactly what a
        Pinot segment without null bitmaps serves.  FROM/JOIN-position
        references — to the table OR its ``_realtime/_offline/_raw`` suffix
        views, which serve the same storage — rewrite to an inline
        subselect aliased to the reference (user aliases preserved); no
        temp views, so nothing leaks and concurrent broker threads never
        race a view name (:meth:`_rewrite_table_refs`, shared with the
        skipUpsert rewrite).  Engine default is null-native
        (inverse of Pinot's option default, documented in the config
        field) — the option is the path BACK to Pinot's sentinel view.
        Subselect construction is LAZY (a callable per view name): the
        per-table catalog lookup only runs for names the statement
        actually references.
        """
        targets: dict = {}
        for name in set(self.configs) | set(self.offline_configs):
            cfg = self.configs.get(name) or self.offline_configs.get(name)
            schema = self.table_schemas.get(name)
            if schema is None and self.schemas.get(name) is not None:
                schema = parse_schema(self.schemas[name])
            if not cfg.null_handling_enabled or schema is None:
                continue
            subst = {
                f.name: self._null_default_sql(f)
                for f in schema.fields
                if f.default_null_value is None
            }
            if not subst:
                continue
            for view in (name, f"{name}_realtime", f"{name}_offline",
                         f"{name}_raw"):
                targets[view.lower()] = self._null_subselect_factory(
                    view, subst
                )
        return self._rewrite_table_refs(sql, targets)

    def _null_subselect_factory(self, view: str, subst: dict):
        """A lazy builder for the default-substituted inline subselect over
        ``view`` — invoked by :meth:`_rewrite_table_refs` only when the
        statement references the name."""

        def build() -> str:
            try:
                cols = self.spark.table(view).columns
            except Exception:
                # view not registered: leave the reference unchanged (the
                # original statement would fail on it identically)
                return view
            items = ", ".join(
                f"coalesce(`{c}`, {subst[c]}) AS `{c}`"
                if c in subst
                else f"`{c}`"
                for c in cols
            )
            return f"(SELECT {items} FROM {view})"

        return build

    # -- TIMESTAMP index (fieldConfigList timestampConfig) ---------------

    _DATETRUNC_RE = re.compile(
        r"\bdate_?trunc\s*\(\s*'(\w+)'\s*,\s*([A-Za-z_]\w*)\s*\)", re.IGNORECASE
    )

    def _timestamp_index_rewrites(self) -> dict:
        """(lowercased source column, GRAN) -> derived column, restricted to
        declarations whose EVERY serving side materializes the column —
        rewriting a partially-materialized column would read NULL for the
        unmaterialized rows (silent wrong groups/filters):

        - realtime-only table: the decode materializes from AddTable on;
        - offline-only table: every upload materializes from AddTable on
          (upload_segment requires the config);
        - hybrid: BOTH configs must declare the (col, gran) — uploads made
          between add_offline_table and the REALTIME AddTable consult only
          the OFFLINE config, so a realtime-only declaration leaves those
          segments (and an offline-only declaration leaves every realtime
          row) without the column.

        Both the raw declared column and its typed ``__ts`` decode output
        rewrite to the same derived column.  The map is keyed by column
        name with no table scoping (SQL binding is unknown here), so a
        (col, gran) that is PARTIALLY materialized on ANY table poisons
        the key globally — another table's fully-materialized declaration
        must not re-arm the rewrite for the partial one (the analysis
        probe passes there: the hybrid union surfaces the column with
        NULLs for the unmaterialized rows).
        """
        out: dict = {}
        poisoned: set = set()

        def _record(col: str, gran: str, complete: bool) -> None:
            key = (col.lower(), gran)
            if complete:
                out[key] = _ts_index_column(col, gran)
                out[(f"{col}__ts".lower(), gran)] = out[key]
            else:
                poisoned.add(key)
                poisoned.add((f"{col}__ts".lower(), gran))

        for name, cfg in self.configs.items():
            if cfg.is_dim_table:
                continue
            off = self.offline_configs.get(name)
            off_declared = dict(off.timestamp_index_columns) if off is not None else None
            for col, grans in cfg.timestamp_index_columns:
                for gran in grans:
                    complete = off_declared is None or gran in set(
                        off_declared.get(col, ())
                    )
                    _record(col, gran, complete)
        for name, off in self.offline_configs.items():
            if name in self.configs:
                # hybrid handled above from the realtime side; an
                # offline-ONLY declaration leaves realtime rows bare
                rt_declared = dict(self.configs[name].timestamp_index_columns)
                for col, grans in off.timestamp_index_columns:
                    for gran in grans:
                        if gran not in set(rt_declared.get(col, ())):
                            _record(col, gran, False)
                continue
            for col, grans in off.timestamp_index_columns:
                for gran in grans:
                    _record(col, gran, True)
        for key in poisoned:
            out.pop(key, None)
        return out

    def _apply_ts_index_rewrite(self, sql: str) -> str:
        """Pinot TIMESTAMP index query rewrite **[P1.2]**: replace
        ``dateTrunc('GRAN', col)`` / ``date_trunc('GRAN', col)`` over a
        declared column with its materialized ``<col>__<gran>`` derived
        column, so the truncation is READ (and range-filters prune via
        parquet min/max stats) instead of computed per row — exactly what
        Pinot's rewrite to ``$col$GRAN`` + range index buys.  Guarded by
        :meth:`_guarded_rewrite`: the statement may bind a same-named
        column of an undeclared table, so the rewrite must analyze
        cleanly.
        """
        if "trunc" not in sql.lower():
            return sql
        mapping = self._timestamp_index_rewrites()
        if not mapping:
            return sql

        def edits(sql: str) -> list:
            # the granularity literal inside the call is expected; what
            # must not match is a call-shaped substring inside an outer
            # literal or a comment, i.e. a match that STARTS there
            return [
                (m.start(), m.end(), derived)
                for m in sqltext.finditer(self._DATETRUNC_RE, sql)
                if (derived := mapping.get(
                    (m.group(2).lower(), m.group(1).upper())
                ))
            ]

        return self._guarded_rewrite(sql, edits)

    def explain_plan(self, sql: str, logical: bool = False) -> DataFrame:
        """Pinot ``EXPLAIN [IMPLEMENTATION] PLAN [WITHOUT IMPLEMENTATION]
        FOR`` analog **[P1.2]**.

        Pinot returns the plan as a result table with columns
        ``Operator / Operator_Id / Parent_Id`` (root parent = -1).  We emit
        the same shape from Spark's *executed* physical plan tree (post-
        Catalyst, post-AQE-initial-plan): each tree line becomes one
        operator row; parentage is recovered from the tree indentation
        (every nesting level is one 3-char ``+- `` / ``:- `` / ``:  ``
        segment).  This is the physical truth the scale story rests on —
        broadcast vs sort-merge joins, pushed filters, partial/final
        aggregates are all visible, exactly what Pinot's plan rows expose.

        ``logical=True`` serves the ``WITHOUT IMPLEMENTATION`` spelling
        (round 9): the pre-physical plan — Pinot's Calcite rel tree maps
        to Catalyst's ``optimizedPlan`` — in the same three-column shape.
        """
        # build the frame through query()'s own resolution so the engine's
        # SQL forms (TEXT_MATCH / JSON_MATCH / VECTOR_SIMILARITY / CLPDECODE
        # sugar / Pinot aggregate spellings) EXPLAIN the plan they actually
        # run, not an unresolved-function error (round-6)
        qe = self.query(sql)._jdf.queryExecution()
        plan = (
            qe.optimizedPlan() if logical else qe.executedPlan()
        ).toString()
        rows: list[tuple[str, int, int]] = []
        # stack of (depth, operator_id) for parent recovery
        stack: list[tuple[int, int]] = []
        for line in plan.splitlines():
            if not line.strip():
                continue
            stripped = line.lstrip(" :+-")
            prefix_len = len(line) - len(stripped)
            depth = prefix_len // 3
            if not stripped or stripped.startswith(("Arguments", "Output", "Input")):
                continue
            # AQE decorates the tree with section banners: '== Current Plan
            # ==' then a full '== Initial Plan ==' duplicate subtree.
            # Banners are not operators (emitting them fabricates rows with
            # bogus parents, round-4 ADVICE), and the initial-plan duplicate
            # would double every operator — keep only the current plan.
            if stripped.startswith("=="):
                if "Initial Plan" in stripped:
                    break
                continue
            op_id = len(rows)
            while stack and stack[-1][0] >= depth:
                stack.pop()
            parent = stack[-1][1] if stack else -1
            rows.append((stripped, op_id, parent))
            stack.append((depth, op_id))
        return self.spark.createDataFrame(
            rows, schema="Operator string, Operator_Id int, Parent_Id int"
        )

    def query_json(self, sql: str) -> list[str]:
        """JSON result rows (broker response analog).  Small results only —
        this collects to the driver like the broker gather stage.  The
        request owns its operator caches (released on return)."""
        with cache_scope():
            return self.query(sql).toJSON().collect()

    def query_broker_response(self, sql: str) -> dict:
        """Pinot broker-response-shaped result **[P1.2]**: the JSON envelope
        BI clients and the Pinot JDBC driver consume from POST /query/sql —
        ``resultTable.dataSchema`` (columnNames + columnDataTypes) + row
        arrays + execution stats.  Small results only (broker gather stage).

        Wire-safety: every cell is JSON-serializable the way Pinot encodes
        it — TIMESTAMP/DATE as epoch millis (Pinot broker responses carry
        timestamps as longs), DECIMAL as BIG_DECIMAL with string values
        (exact, like Pinot's BigDecimal serialization), BYTES as hex
        strings, arrays element-wise.  ``json.dumps`` on the returned dict
        is guaranteed to succeed (pinned by test_broker_response_json).
        Each request owns the operator caches its build opens
        (:func:`~.operators.dedup.cache_scope`), released on return, so
        concurrent requests never evict each other's.
        """
        import time as _time
        import uuid as _uuid

        t0 = _time.monotonic()
        # timeoutMs **[P1.2]** is ENFORCED, not just recorded: the collect
        # runs under a per-request Spark job group (job groups are
        # thread-local, so concurrent broker requests don't cancel each
        # other) and a watchdog cancels the group at the deadline — the
        # envelope answers with Pinot's EXECUTION_TIMEOUT errorCode 250
        # instead of hanging the HTTP client.
        _, _opts = self._strip_query_options(sql)
        try:
            timeout_ms = int(_opts["timeoutMs"]) if "timeoutMs" in _opts else None
        except (TypeError, ValueError):
            timeout_ms = None
        # Pinot numGroupsLimit **[P1.2]**: cap the groups a group-by answer
        # carries and FLAG the trim (numGroupsLimitReached).  The analog is
        # strictly more accurate than Pinot's: Pinot stops TRACKING groups
        # mid-execution (kept groups may hold wrong partial aggregates);
        # here every returned group is exact and only the result set is
        # truncated (arbitrary groups survive, like Pinot's).  Applied to
        # GROUP BY statements only, same as Pinot.
        groups_limit = None
        try:
            if "numGroupsLimit" in _opts:
                gl = int(_opts["numGroupsLimit"])
                if gl > 0 and sqltext.search(
                    "GROUP BY", sql, top_level=True
                ):
                    groups_limit = gl
        except (TypeError, ValueError):
            groups_limit = None
        timed_out: list[bool] = []
        done = threading.Event()
        watchdog = None
        sc = self.spark.sparkContext
        with cache_scope():
            try:
                # the job group and watchdog must cover query() itself, not
                # just the collect: planning can run Spark jobs too (hybrid
                # time-boundary collect, TEXT_MATCH/JSON_MATCH postings
                # builds, rewrite analysis probes) and a request slow THERE
                # must still be cancellable at the deadline (round-6 ADVICE)
                if timeout_ms is not None and timeout_ms > 0:
                    group = f"broker-{_uuid.uuid4().hex[:12]}"
                    sc.setJobGroup(group, f"timeoutMs={timeout_ms}", True)

                    def _watchdog() -> None:
                        # keep cancelling until the collect returns:
                        # cancelJobGroup only kills jobs RUNNING at call time,
                        # so a single shot fired while the driver is still
                        # planning would miss the job submitted a moment later
                        done.wait(timeout_ms / 1000.0)
                        while not done.is_set():
                            if not timed_out:
                                timed_out.append(True)
                            sc.cancelJobGroup(group)
                            done.wait(0.25)

                    watchdog = threading.Thread(target=_watchdog, daemon=True)
                    watchdog.start()
                df = self.query(sql)
                if groups_limit is not None:
                    rows = df.limit(groups_limit + 1).collect()
                    groups_trimmed = len(rows) > groups_limit
                    rows = rows[:groups_limit]
                else:
                    rows = df.collect()
                    groups_trimmed = False
            except Exception as e:
                # Pinot brokers never raise through /query/sql: failures come
                # back as a structured envelope with ``exceptions: [{errorCode,
                # message}]`` **[P1.2]**.  Codes follow Pinot's QueryException
                # taxonomy: 150 SQL parsing, 700 query validation (unknown
                # column/table), 200 execution, 250 execution timeout.
                ms = int((_time.monotonic() - t0) * 1000)
                if timed_out:
                    return {
                        "numRowsResultSet": 0,
                        "timeUsedMs": ms,
                        "exceptions": [
                            {
                                "errorCode": 250,
                                "message": (
                                    f"query exceeded timeoutMs={timeout_ms} "
                                    "and was cancelled"
                                ),
                            }
                        ],
                    }
                return {
                    "numRowsResultSet": 0,
                    "timeUsedMs": ms,
                    "exceptions": [
                        {
                            "errorCode": self._broker_error_code(e),
                            "message": f"{type(e).__name__}: {e}"[:4096],
                        }
                    ],
                }
            finally:
                done.set()
                if watchdog is not None:
                    watchdog.join(timeout=2)
                    sc.setLocalProperty("spark.jobGroup.id", None)
        ms = int((_time.monotonic() - t0) * 1000)
        return {
            "resultTable": {
                "dataSchema": {
                    "columnNames": df.columns,
                    "columnDataTypes": [
                        _pinot_column_type(t) for _, t in df.dtypes
                    ],
                },
                "rows": [
                    [_json_safe(row[c]) for c in df.columns] for row in rows
                ],
            },
            "numRowsResultSet": len(rows),
            "timeUsedMs": ms,
            "exceptions": [],
            # Pinot broker metadata fields clients parse **[P1.2]** — only
            # the ones this engine can report HONESTLY: one logical server
            # (the Spark cluster is one query surface); numGroupsLimitReached
            # reflects the numGroupsLimit option's result-set trim above
            # (false when no option is set — group-bys are otherwise never
            # trimmed); results are never partial (a
            # failure raises into the exceptions envelope instead).  Scan
            # counters (numDocsScanned etc.) are deliberately OMITTED
            # rather than fabricated — Pinot derives them from segment
            # metadata this engine does not keep per query.
            "requestId": _uuid.uuid4().hex[:16],
            "numServersQueried": 1,
            "numServersResponded": 1,
            "numGroupsLimitReached": groups_trimmed,
            "partialResult": False,
        }

    @staticmethod
    def _broker_error_code(e: Exception) -> int:
        """Map a Spark failure onto Pinot's broker errorCode taxonomy
        **[P1.2]**: 150 SQL_PARSING, 700 QUERY_VALIDATION, 200 EXECUTION."""
        try:
            from pyspark.errors import AnalysisException, ParseException
        except ImportError:  # older pyspark layout
            from pyspark.sql.utils import AnalysisException, ParseException
        if isinstance(e, ParseException):
            return 150
        if isinstance(e, (AnalysisException, ValueError)):
            # AnalysisException: unknown column/table; ValueError: the
            # engine's own query validation (e.g. VECTOR_SIMILARITY without
            # primaryKeyColumns) — both are Pinot's QUERY_VALIDATION class
            return 700
        return 200

    # -- maintenance -----------------------------------------------------

    def pause_consumption(self, name: str) -> dict:
        """Pinot pauseConsumption analog **[P1.2]** (POST
        /tables/{t}/pauseConsumption): stop the stream, keep the table fully
        queryable.  The checkpoint pins the source offset, so nothing is
        lost or re-ingested across the pause."""
        self._pipeline(name).stop()
        self._paused.add(name)
        return {"table": name, "consumption": "PAUSED"}

    def resume_consumption(self, name: str, available_now: bool = False) -> dict:
        """Pinot resumeConsumption analog **[P1.2]**: restart from the
        checkpointed offset — exactly-once across the pause/resume cycle."""
        pipeline = self._pipeline(name)  # loud dim/offline guard BEFORE config lookup
        config = self.configs[name]
        trigger = f"{config.flush_threshold_seconds} seconds"
        pipeline.start(trigger=trigger, available_now=available_now)
        self._paused.discard(name)
        return {"table": name, "consumption": "CONSUMING"}

    def pause_status(self, name: str) -> dict:
        """Pinot pauseStatus analog **[P1.2]** (GET
        /tables/{t}/pauseStatus): whether the stream is currently consuming.
        ``consumingSegments`` is the in-flight segment list in Pinot; the
        analog's consuming "segment" is the single active micro-batch
        stream, named like the ingesting view."""
        pipeline = self._pipeline(name)
        q = pipeline._query
        active = bool(q is not None and q.isActive)
        # the FLAG is the explicit pause state (round-6 review: an
        # availableNow query that drained and terminated is idle, not
        # paused — Pinot's flag tracks the operator intent, liveness only
        # feeds the consuming-segment list)
        paused = name in self._paused
        return {
            "pauseFlag": paused,
            "consumingSegments": [f"{name}__stream__0"] if active else [],
            "description": (
                "Consumption paused; table remains queryable and the "
                "checkpoint pins the resume offset"
                if paused
                else "Table is consuming from the checkpointed offset"
            ),
        }

    def run_retention(self, name: str) -> list[str]:
        """A7 on every table kind: realtime partitions via the pipeline,
        OFFLINE segments via the same FS-layer partition drop (Pinot's
        retention manager covers both types); dim tables carry none."""
        if self._is_dim(name):
            return []  # dimension tables carry no retention (Pinot skips them)
        if name not in self.pipelines and name not in self.offline_configs:
            raise KeyError(name)  # typo'd table must not report empty success
        dropped: list[str] = []
        if name in self.pipelines:
            dropped += self.pipelines[name].run_retention()
        off = self.offline_configs.get(name)
        if off is not None and off.retention_days is not None:
            from datetime import date, timedelta

            from pyspark.sql import functions as F

            row = self._offline_frame(name).agg(
                F.max("ingest_date").alias("m")
            ).collect()[0]
            if row["m"] is not None:
                cutoff = row["m"] - timedelta(days=off.retention_days)
                # expire offline star-tree cells WITH their day, same rule
                # as the realtime pipeline's rollup expiry — stale cells
                # would resurrect deleted data through query_agg routing
                roots = [self._offline_path(name)] + [
                    self._offline_rollup_path(name, i)
                    for i, _spec in self._hybrid_rollup_specs(name)
                ]
                for root in roots:
                    for part in _fs.glob_status(self.spark, f"{root}/ingest_date=*"):
                        if not part["is_dir"]:
                            continue
                        value = _fs.basename(part["path"]).split("=", 1)[1]
                        try:
                            expired = date.fromisoformat(value) < cutoff
                        except ValueError:
                            continue
                        if expired:
                            if not _fs.delete(self.spark, part["path"], recursive=True):
                                raise RuntimeError(
                                    f"retention: delete of expired OFFLINE "
                                    f"partition {part['path']} returned false — "
                                    "data NOT dropped"
                                )
                            if root == self._offline_path(name):
                                dropped.append(value)
        return dropped

    def compact(self, name: str, max_files_per_partition: int = 1) -> dict:
        """Segment-merge task analog (Pinot minion MergeRollupTask **[P1.2]**).

        Streaming ingest leaves one file per micro-batch per partition; at a
        2-minute flush cadence that is ~720 small files/day.  Compaction
        rewrites any day partition holding more files than the target down to
        ``max_files_per_partition`` — read, coalesce, swap — restoring scan
        efficiency without touching query code.  Run it like the reference
        runs minion tasks: scheduled, per partition, off the ingest path.

        Every file operation goes through the Hadoop FS API (fs.py), so the
        same code compacts a local warehouse and an ``s3a://`` deep store —
        the reference's S3 segment home (pinot-controller.conf:34-40).
        OFFLINE segments compact too (each upload_segment leaves one file
        per day), including their star-tree cell logs; an OFFLINE-only
        table has no stream to drain and compacts directly.
        """
        self._reject_dim(name)
        compacted: dict[str, int] = {}
        pipeline = self.pipelines.get(name)
        if pipeline is None and name not in self.offline_configs:
            raise KeyError(name)
        if pipeline is not None:
            q = pipeline._query
            if q is not None and q.isActive:
                # A micro-batch committing between our file snapshot and the
                # rewrite would be folded in but never unlinked (duplicates),
                # and concurrent readers could hit files we just removed.
                # Same rule as Pinot: merge tasks run on sealed segments, not
                # the consuming one — stop or drain the stream first.
                raise RuntimeError(
                    f"table {name!r} has an active streaming query; "
                    "stop() or drain it before compact()"
                )
            self._compact_root(name, pipeline.table_path, max_files_per_partition,
                               compacted, key_prefix="")
            for i, (spec_i, path_i) in enumerate(pipeline._rollups):
                # every star-tree cell log accretes one file per micro-batch
                # too; compact day-partitioned ones with the same swap
                # protocol (keys prefixed 'rollup:' / 'rollup{i}:')
                if "ingest_date" in spec_i.dims:
                    prefix = "rollup:" if i == 0 else f"rollup{i}:"
                    self._compact_root(name, path_i, max_files_per_partition,
                                       compacted, key_prefix=prefix)
        if name in self.offline_configs:
            self._compact_root(name, self._offline_path(name),
                               max_files_per_partition, compacted,
                               key_prefix="offline:")
            for i, _spec in self._hybrid_rollup_specs(name):
                self._compact_root(name, self._offline_rollup_path(name, i),
                                   max_files_per_partition, compacted,
                                   key_prefix=f"offline_rollup{i}:")
        return {"table": name, "compacted_partitions": compacted}

    def _compact_root(
        self,
        name: str,
        root: str,
        max_files_per_partition: int,
        compacted: dict,
        key_prefix: str = "",
    ) -> None:
        for part in _fs.glob_status(self.spark, f"{root}/ingest_date=*"):
            if not part["is_dir"]:
                continue
            part_dir = part["path"]
            part_name = _fs.basename(part_dir)
            files = [
                f["path"] for f in _fs.list_files(self.spark, part_dir, suffix=".parquet")
            ]
            if len(files) <= max_files_per_partition:
                continue
            # read the EXACT snapshotted file list (not the directory), so a
            # file that appears after the snapshot is neither duplicated into
            # the rewrite nor unlinked
            df = self.spark.read.parquet(*files)
            # '=' must not appear in the temp dir name: partition discovery
            # would read `_compact_ingest_date=...` as a partition column and
            # fail the whole table scan if a crash leaves the dir behind
            # (underscore-prefixed names without '=' are ignored as hidden)
            tmp = f"{root}/_compact_{part_name.replace('=', '_')}"
            df.coalesce(max_files_per_partition).write.mode("overwrite").parquet(tmp)
            # Hadoop FileSystem signals most failures (existing destination,
            # missing parent, S3A copy failure) by RETURNING FALSE, not
            # raising — every return below is checked.  Order matters for
            # durability: rename the compacted files IN first, only then
            # unlink the originals.  A failure therefore leaves extra data
            # (originals + compacted copies, at worst transiently double-
            # counted) instead of losing the partition, and the _compact_
            # temp dir is kept for operator inspection on any failure.
            for f in _fs.list_files(self.spark, tmp, suffix=".parquet"):
                dst = f"{part_dir}/{_fs.basename(f['path'])}"
                if not _fs.rename(self.spark, f["path"], dst):
                    raise RuntimeError(
                        f"compact({name!r}): rename {f['path']} -> {dst} failed; "
                        f"originals untouched, compacted output kept in {tmp}"
                    )
            for f in files:
                if not _fs.delete(self.spark, f):
                    raise RuntimeError(
                        f"compact({name!r}): delete of original {f} failed after "
                        f"the compacted files were installed — partition "
                        f"{part_name} temporarily holds duplicates; remove the "
                        f"listed original manually"
                    )
            _fs.delete(self.spark, tmp, recursive=True)
            compacted[key_prefix + part_name] = len(files)

    def optimize_layout(self, name: str) -> dict:
        """RealtimeToOfflineSegmentsTask analog **[P1.2]** honoring
        ``segmentPartitionConfig``: rewrite the sealed realtime data into a
        hash-bucketed OFFLINE table so equality predicates on the partition
        column scan ONE bucket (Pinot's broker segment pruning).

        The offline table is ``{name}_offline`` over
        ``<warehouse>/<name>/offline``; re-attach it in a fresh session with
        :meth:`register_offline` (bucketing metadata lives in the session
        catalog; the DDL recreates it over the same files).  Combines with
        ``sortedColumn`` (``sortBy`` per bucket file -> tight zone maps).
        Requires the stream stopped, same rule as :meth:`compact`.
        """
        config = self.configs[name]
        if not config.partition_column or config.partition_buckets <= 0:
            raise ValueError(
                f"table {name!r} has no segmentPartitionConfig; nothing to optimize"
            )
        pipeline = self._pipeline(name)
        q = pipeline._query
        if q is not None and q.isActive:
            raise RuntimeError(
                f"table {name!r} has an active streaming query; "
                "stop() or drain it before optimize_layout()"
            )
        offline_path = str(self.warehouse / name / "offline")
        offline_table = f"{name}_offline"
        df = self.spark.read.parquet(pipeline.table_path)
        self.spark.sql(f"DROP TABLE IF EXISTS {offline_table}")
        writer = (
            df.write.mode("overwrite")
            .option("path", offline_path)
            .bucketBy(config.partition_buckets, config.partition_column)
        )
        if config.sorted_column:
            writer = writer.sortBy(config.sorted_column)
        writer.saveAsTable(offline_table)
        return {
            "table": name,
            "offline_table": offline_table,
            "path": offline_path,
            "bucket_column": config.partition_column,
            "buckets": config.partition_buckets,
            "rows": self.spark.table(offline_table).count(),
        }

    def register_offline(self, name: str) -> None:
        """Re-attach ``{name}_offline`` in this session's catalog via DDL
        (CLUSTERED BY ... LOCATION) — bucket metadata is catalog state, the
        parquet files under the offline path are the durable truth."""
        config = self.configs[name]
        offline_path = str(self.warehouse / name / "offline")
        ddl = (
            self.spark.read.parquet(offline_path)._jdf.schema().toDDL()
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name}_offline ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({config.partition_column}) "
            f"INTO {config.partition_buckets} BUCKETS "
            f"LOCATION '{offline_path}'"
        )

    def stop(self) -> None:
        for p in self.pipelines.values():
            p.stop()
