"""The system catalog: sys / information_schema / pg_catalog relations
built on demand.

The reference's ``SysTableDefinitions``,
``InformationSchemaTableDefinitions`` and ``PgCatalogTableDefinitions``
each map a relation name to a row supplier that runs only for the
table being queried. ``SYSTEM_VIEWS`` is the same map keyed by the
temp-view name the dialect resolves ``schema.name`` to (``sys_jobs``,
``pg_catalog_pg_type``): each entry is the view's DDL schema and a
function of the session returning its rows. ``views_held`` builds
exactly the views a statement names, right before it runs, so
runtime-backed views (sys.jobs, pg_cursors) always show the current
state; the two file-backed views load once per SparkSession.
"""

from __future__ import annotations

import json
import os
import re
import socket
import statistics
import threading
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Callable
from urllib.parse import unquote

import pyarrow.parquet as pq

from crate_spark.cluster_settings import SETTING_DEFAULTS, SETTINGS_COLUMNS
from crate_spark.datatypes import PG_TYPES, crate_name, pg_oid
from crate_spark.session import local_frame

if TYPE_CHECKING:
    from crate_spark.engine import CrateSession
    from crate_spark.statement import Statement

#: temp-view name -> (DDL schema, session -> rows)
SYSTEM_VIEWS: dict[str, tuple[str, Callable[["CrateSession"], list]]] = {}

#: static data resources (resources/README.md) — loaded once per
#: SparkSession, not per read
_LOAD_ONCE = {"sys_summits", "information_schema_sql_features"}

_RESOURCES = os.path.join(os.path.dirname(__file__), "resources")


def _view(name: str, ddl: str):
    def add(rows: Callable[["CrateSession"], list]):
        SYSTEM_VIEWS[name] = (ddl, rows)
        return rows

    return add


#: SHOW statements read information_schema (ShowStatementAnalyzer)
_SHOW_VIEWS = {
    "show_tables": "information_schema_tables",
    "show_schemas": "information_schema_schemata",
    "show_columns": "information_schema_columns",
}


def views_read(st: "Statement") -> set[str]:
    """The system views ``st`` reads: the relations it names as
    ``schema.name`` or by their underscored view name, and the view a
    SHOW statement reads."""
    names = {_SHOW_VIEWS.get(st.kind)}
    for rel in st.relations:
        names |= {rel.replace(".", "_", 1), rel.partition(".")[2]}
    return names & SYSTEM_VIEWS.keys()


#: the views are temp views global to the SparkSession: a statement
#: that reads one holds this from building its views until its plan is
#: analyzed, so a concurrent reader cannot swap in its own snapshot
#: (of sys.jobs, say) in between
_VIEWS_LOCK = threading.RLock()


@contextmanager
def views_held(session: "CrateSession", st: "Statement"):
    """(Re)build the temp views ``st`` reads from the session's
    current state and keep them for the enclosed block, which plans
    the statement; a statement that reads no view takes no lock."""
    names = views_read(st)
    if not names:
        yield
        return
    spark = session.spark
    with _VIEWS_LOCK:
        for name in names:
            if name in _LOAD_ONCE and spark.catalog._jcatalog.tableExists(name):
                continue
            ddl, rows = SYSTEM_VIEWS[name]
            local_frame(spark, rows(session), ddl).createOrReplaceTempView(name)
        yield


# -- inventories ---------------------------------------------------------
#: the reference's fixed system-catalog inventory as listed by
#: information_schema.tables (information-schema.rst:67-156)
_SYSTEM_TABLE_INVENTORY = {
    "information_schema": (
        "administrable_role_authorizations", "applicable_roles",
        "character_sets", "collations", "columns",
        "constraint_column_usage", "enabled_roles",
        "foreign_server_options", "foreign_servers",
        "foreign_table_options", "foreign_tables", "key_column_usage",
        "referential_constraints", "role_table_grants", "routines",
        "schemata", "sql_features", "table_constraints",
        "table_partitions", "tables", "user_mapping_options",
        "user_mappings", "view_column_usage", "views",
    ),
    "pg_catalog": (
        "pg_am", "pg_attrdef", "pg_attribute", "pg_auth_members",
        "pg_class", "pg_constraint", "pg_cursors", "pg_database",
        "pg_depend", "pg_description", "pg_enum", "pg_event_trigger",
        "pg_index", "pg_indexes", "pg_locks", "pg_matviews",
        "pg_namespace", "pg_proc", "pg_publication",
        "pg_publication_tables", "pg_range", "pg_roles", "pg_settings",
        "pg_shdescription", "pg_stats", "pg_subscription",
        "pg_subscription_rel", "pg_tables", "pg_tablespace", "pg_type",
        "pg_user", "pg_views",
    ),
    "sys": (
        "allocations", "checks", "cluster", "cluster_health", "health",
        "jobs", "jobs_log", "jobs_metrics", "node_checks", "nodes",
        "operations", "operations_log", "privileges", "repositories",
        "roles", "segments", "sessions", "shards", "snapshot_restore",
        "snapshots", "summits", "users",
    ),
}

#: information_schema.routines built-in inventory: the reference's
#: Lucene analysis components (RoutineInfos.java; names extracted from
#: CommonAnalysisPlugin.java + AnalysisModule.java:95-130 +
#: AnalysisRegistry.java:169-170 synonym/synonym_graph +
#: FulltextAnalyzerResolver.java EXTENDED_* sets) — 45/16/61/3 per
#: information-schema.rst:770-783
_ROUTINE_INVENTORY = {
    "ANALYZER": (
        "arabic", "armenian", "basque", "bengali", "brazilian", "bulgarian",
        "catalan", "chinese", "cjk", "czech", "danish", "default", "dutch",
        "english", "fingerprint", "finnish", "french", "galician", "german",
        "greek", "hindi", "hungarian", "indonesian", "irish", "italian",
        "keyword", "latvian", "lithuanian", "norwegian", "pattern", "persian",
        "portuguese", "romanian", "russian", "simple", "snowball", "sorani",
        "spanish", "standard", "standard_html_strip", "stop", "swedish",
        "thai", "turkish", "whitespace",
    ),
    "TOKENIZER": (
        "PathHierarchy", "char_group", "classic", "edge_ngram", "keyword",
        "letter", "lowercase", "ngram", "path_hierarchy", "pattern",
        "simple_pattern", "simple_pattern_split", "standard", "thai",
        "uax_url_email", "whitespace",
    ),
    "TOKEN_FILTER": (
        "apostrophe", "arabic_normalization", "arabic_stem", "asciifolding",
        "bengali_normalization", "brazilian_stem", "cjk_bigram", "cjk_width",
        "classic", "common_grams", "czech_stem", "decimal_digit",
        "delimited_payload", "dictionary_decompounder", "dutch_stem",
        "edge_ngram", "elision", "fingerprint", "flatten_graph", "french_stem",
        "german_normalization", "german_stem", "hindi_normalization",
        "hunspell", "hyphenation_decompounder", "indic_normalization", "keep",
        "keep_types", "keyword_marker", "kstem", "length", "limit",
        "lowercase", "min_hash", "multiplexer", "ngram", "pattern_capture",
        "pattern_replace", "persian_normalization", "porter_stem",
        "remove_duplicates", "reverse", "russian_stem", "scandinavian_folding",
        "scandinavian_normalization", "serbian_normalization", "shingle",
        "snowball", "sorani_normalization", "standard", "stemmer",
        "stemmer_override", "stop", "synonym", "synonym_graph", "trim",
        "truncate", "unique", "uppercase", "word_delimiter",
        "word_delimiter_graph",
    ),
    "CHAR_FILTER": (
        "html_strip", "mapping", "pattern_replace",
    ),
}

#: information_schema.columns describing ITSELF — the reference's
#: fixed 44-column shape (information-schema.rst:395-447)
_COLUMNS_SELF_ROWS = [
    ("character_maximum_length", "integer"), ("character_octet_length", "integer"),
    ("character_set_catalog", "text"), ("character_set_name", "text"),
    ("character_set_schema", "text"), ("check_action", "integer"),
    ("check_references", "text"), ("collation_catalog", "text"),
    ("collation_name", "text"), ("collation_schema", "text"),
    ("column_default", "text"), ("column_details", "object"),
    ("column_details['name']", "text"), ("column_details['oid']", "bigint"),
    ("column_details['path']", "text_array"), ("column_details['policy']", "text"),
    ("column_name", "text"), ("data_type", "text"),
    ("datetime_precision", "integer"), ("domain_catalog", "text"),
    ("domain_name", "text"), ("domain_schema", "text"),
    ("generation_expression", "text"), ("identity_cycle", "boolean"),
    ("identity_generation", "text"), ("identity_increment", "text"),
    ("identity_maximum", "text"), ("identity_minimum", "text"),
    ("identity_start", "text"), ("interval_precision", "integer"),
    ("interval_type", "text"), ("is_generated", "text"),
    ("is_identity", "boolean"), ("is_nullable", "text"),
    ("numeric_precision", "integer"), ("numeric_precision_radix", "integer"),
    ("numeric_scale", "integer"), ("ordinal_position", "integer"),
    ("table_catalog", "text"), ("table_name", "text"),
    ("table_schema", "text"), ("udt_catalog", "text"),
    ("udt_name", "text"), ("udt_schema", "text"),
]

#: sys.node_checks rows: (id, severity, description) — the reference's
#: registered node checks with their documented description texts
#: (system-information.rst node-checks example + settings sections)
_NODE_CHECKS: list[tuple[int, int, str]] = [
    (1, 3,
     "It has been detected that the 'gateway.expected_data_nodes' "
     "setting is not set or does not match the current number of data "
     "nodes in the cluster."),
    (2, 3,
     "The cluster setting 'gateway.recover_after_data_nodes' (or the "
     "deprecated 'gateway.recover_after_nodes') is not set or has an "
     "invalid value relative to the expected number of data nodes."),
    (3, 3,
     'If any of the "expected data nodes" recovery settings are set, '
     'the "recover after time" setting should also be set so state '
     "recovery does not start prematurely."),
    (5, 3,
     "The high disk watermark is exceeded on the node. The cluster "
     "will attempt to relocate existing shards away from this node."),
    (6, 2,
     "The low disk watermark is exceeded on the node. The cluster "
     "will not allocate new shards to this node."),
    (7, 3,
     "The flood stage disk watermark is exceeded on the node. Tables "
     "on this node are enforced read-only to prevent running out of "
     "disk space."),
    (8, 2,
     "The amount of shards on the node reached 90 % of the limit of "
     "1000 shards per node."),
]

# -- shared row helpers ----------------------------------------------------
#: version['created'] for user tables (reference stamps the CrateDB
#: version that created the table; doc reindex example)
_TBL_VERSION = ("6.5.0", None)
_NODE = ("n1", "crate")


def _schema_of(s: "CrateSession", name: str) -> str:
    return s._table_schema.get(name, "doc")


def _shards_of(s: "CrateSession", name: str) -> int:
    # the reference's single-node default is 4 shards when CLUSTERED
    # INTO is not declared (NumberOfShards.java)
    ct = s._dml.crate_tables.get(name)
    return (ct.shards or 4) if ct is not None else 1


def _nest(flat) -> dict:
    """Flat dotted ``(key, value)`` pairs -> the nested settings object."""
    out: dict = {}
    for k, v in flat:
        node = out
        *parents, leaf = k.split(".")
        for p in parents:
            node = node.setdefault(p, {})
        node[leaf] = v
    return out


def _live_partitions(ct) -> list[str]:
    """Partitions of ``ct`` that hold live files, as the manifest lists
    them: the ``a=…/b=…`` directory prefix, one segment per partition
    column. A DELETE that empties a partition (partitioned-tables.rst:
    301-318) retires its files, which may stay on disk until no reader
    needs them."""
    depth = len(ct.partitioned_by)
    parts = set()
    for p, _ in ct.files():
        segs = os.path.relpath(p, ct.path).split(os.sep)[:depth]
        if len(segs) == depth and all("=" in s for s in segs):
            parts.add("/".join(segs))
    return sorted(parts)


def _parquet_files(ct) -> list[tuple[str, int, int | None]]:
    """(file name, bytes, rows) per data file of ``ct`` — row counts
    from the parquet footer, a metadata read with no scan job."""
    out = []
    for p, size in ct.files():
        try:
            rows = pq.read_metadata(p).num_rows
        except Exception:  # noqa: BLE001 - unreadable footer
            rows = None
        out.append((os.path.basename(p), size, rows))
    return out


def _shard_rows(s: "CrateSession") -> list[tuple]:
    """(table, schema, shard id, primary, state, size, segments, docs)
    per shard — SysShardsTableInfo with REAL storage stats for
    SQL-created tables; one routed shard row per CLUSTERED shard."""
    rows = []
    for n in sorted(s.tables):
        ct = s._dml.crate_tables.get(n)
        if ct is None:
            rows.append((n, "doc", 0, True, "STARTED", None, None, None))
            continue
        files = _parquet_files(ct)
        size = sum(f[1] for f in files)
        n_rows = sum(f[2] or 0 for f in files)
        n_shards = ct.shards or 4
        # partitioned tables shard PER PARTITION
        # (partitioned-tables.rst:481-489: count(*) over sys.shards =
        # live partitions x shards)
        n_parts = (len(_live_partitions(ct)) or 1) if ct.partitioned_by else 1
        total = n_shards * n_parts
        base, rem = divmod(n_rows, total)
        rows += [
            (n, "doc", i % n_shards, True, "STARTED", size // total, len(files),
             base + (1 if i < rem else 0))
            for i in range(total)
        ]
    return rows


def _jobs_now(s: "CrateSession") -> list[tuple]:
    # a snapshot: front-door threads add and remove entries meanwhile
    return list(s._jobs_running.values())


def _user_rows(s: "CrateSession") -> list[tuple]:
    return [(r[0], bool(r[1]), True) for r in s.roles.sys_users_rows()]


# -- information_schema --------------------------------------------------
@_view(
    "information_schema_tables",
    "table_name string, table_schema string, table_type string, "
    "number_of_shards int, number_of_replicas string, "
    "clustered_by string, partitioned_by array<string>, "
    "settings string, version struct<created:string,upgraded:string>, "
    # blob-storage custom location: always NULL here — blobs live in
    # the store's own directory
    "blobs_path string",
)
def _tables(s):
    def replicas(ct):
        # reference default is the '0-1' range (create-table.rst);
        # replicas is TEXT in the reference schema. Registered parquet
        # sources report '0' (no replication to configure)
        return "0" if ct is None else str(ct.settings.get("number_of_replicas", "0-1"))

    def clustered_by(ct):
        # routing column (information-schema.rst:163-177): the declared
        # CLUSTERED BY column, '_id' when none, first PK when only a PK
        # is declared
        if ct is None:
            return "_id"
        if ct.clustered_by:
            return ct.clustered_by[0]
        return ct.primary_key[0] if ct.primary_key else "_id"

    def settings(ct):
        # nested settings object from the flat dotted keys
        # (information-schema.rst:238-247; numbers stay numeric)
        if ct is None or not ct.settings:
            return None
        return json.dumps(_nest(
            (k, int(v) if isinstance(v, str) and v.lstrip("-").isdigit() else v)
            for k, v in ct.settings.items()
        ))

    rows = []
    for name in sorted(s.tables):
        if name in s._views:
            # SQL views list as VIEW with NULL shards/replicas
            rows.append((name, _schema_of(s, name), "VIEW") + (None,) * 7)
            continue
        ct = s._dml.crate_tables.get(name)
        rows.append(
            (name, _schema_of(s, name), "BASE TABLE", _shards_of(s, name),
             replicas(ct), clustered_by(ct),
             (list(ct.partitioned_by) or None) if ct is not None else None,
             settings(ct), _TBL_VERSION, None)
        )
    if s._blob_store is not None:
        rows += [
            (name, "blob", "BASE TABLE", 1, "0", "digest", None, None,
             _TBL_VERSION, None)
            for name in sorted(s._blob_store.tables)
        ]
    # the reference's fixed catalog inventory (information-schema.rst:
    # 67-156): every system table listed with NULL shards/replicas
    rows += [
        (t, sch, "BASE TABLE") + (None,) * 7
        for sch, names in _SYSTEM_TABLE_INVENTORY.items()
        for t in names
    ]
    return rows


@_view("information_schema_routines", "routine_name string, routine_type string")
def _routines(s):
    # RoutineInfos.java: the Lucene analysis inventory + custom
    # analyzers + CREATE FUNCTION UDFs
    return (
        [(n, rtype) for rtype, names in _ROUTINE_INVENTORY.items() for n in names]
        + [(n, "ANALYZER") for n in s._analyzers]
        + [(f"{sch}.{n}", "FUNCTION") for (sch, n) in s._udfs]
    )


@_view(
    "information_schema_sql_features",
    "feature_id string, feature_name string, sub_feature_id string, "
    "sub_feature_name string, is_supported string, "
    "is_verified_by string, comments string",
)
def _sql_features(s):
    # the SQL-standard feature conformance matrix
    # (resources/sql_features.tsv; information-schema.rst sql_features)
    rows = []
    with open(os.path.join(_RESOURCES, "sql_features.tsv")) as fh:
        for line in fh:
            parts = (line.rstrip("\n").split("\t") + [""] * 7)[:7]
            # YES/NO -> TRUE/FALSE (reference renders boolean)
            parts[4] = "TRUE" if parts[4] == "YES" else "FALSE"
            rows.append(tuple(parts[:5]) + tuple(p or None for p in parts[5:]))
    return rows


# single UTF8 row (information-schema.rst:938-944)
_view(
    "information_schema_character_sets",
    "character_set_name string, character_repertoire string, "
    "form_of_use string, character_set_catalog string, "
    "character_set_schema string, default_collate_name string",
)(lambda s: [("UTF8", "UCS", "UTF8", None, None, None)])

# single C.utf8 row (information-schema.rst:988-994)
_view(
    "information_schema_collations",
    "collation_catalog string, collation_schema string, "
    "collation_name string, pad_attribute string",
)(lambda s: [("crate", "pg_catalog", "C.utf8", "NO")])


@_view(
    "information_schema_views",
    "table_catalog string, table_schema string, table_name string, "
    "view_definition string, check_option string, "
    "is_updatable boolean, owner string",
)
def _views(s):
    # information-schema.rst:260-300: definition is the stored SQL
    # text (the reference re-prints its AST; we keep the user's text —
    # declared divergence)
    return [
        ("crate", _schema_of(s, n), n, d, "NONE", False, s.current_user)
        for n, d in sorted(s._views.items())
    ]


@_view("information_schema_schemata", "catalog_name string, schema_name string")
def _schemata(s):
    # InformationSchemataTableInfo: built-ins + implicit schemas of
    # live tables + explicitly created (possibly empty) schemas
    names = (
        {"blob", "doc", "information_schema", "pg_catalog", "sys"}
        | set(s._table_schema.values())
        | s._schemas
    )
    return [("crate", n) for n in sorted(names)]


def _partition_value(v: str, crate_type: str):
    """A partition directory value typed per its declared column
    (TablePartitionsTableInfo renders timestamps as epoch millis,
    numerics as numbers)."""
    try:
        if crate_type.startswith("timestamp") or crate_type == "date":
            dt = datetime.fromisoformat(v)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        if crate_type in ("integer", "bigint", "smallint", "byte"):
            return int(v)
    except ValueError:
        pass
    return v


@_view(
    "information_schema_table_partitions",
    "table_name string, table_schema string, partition_ident string, "
    "values string, number_of_shards int, number_of_replicas int",
)
def _table_partitions(s):
    # TablePartitionsTableInfo: one row per live partition of a
    # PARTITIONED BY table, values read from the directory layout
    # (segments are URL-encoded by the parquet writer)
    rows = []
    for name, ct in sorted(s._dml.crate_tables.items()):
        if not ct.partitioned_by:
            continue
        decl_types = {c["name"]: c["type"] for c in ct.crate_columns}
        for entry in _live_partitions(ct):
            vals = {}
            for seg in entry.split("/"):
                k, _, v = seg.partition("=")
                vals[k] = _partition_value(unquote(v), decl_types.get(k, ""))
            rows.append(
                (name, _schema_of(s, name), entry, json.dumps(vals),
                 _shards_of(s, name), 0)
            )
    return rows


@_view(
    "information_schema_columns",
    "table_name string, table_schema string, column_name string, "
    "ordinal_position int, data_type string, is_nullable boolean",
)
def _columns(s):
    # the reference's shape (information-schema.rst:363-381): crate
    # data_type names, object columns expanded into col['sub'] rows —
    # subcolumns take the ordinals right after their parent, in
    # declaration order — for SQL-created tables with declared DDL;
    # registered parquet sources fall back to spark-type-derived names
    rows = []
    for name, df in sorted(s.tables.items()):
        ct = s._dml.crate_tables.get(name)
        schema = _schema_of(s, name)
        if ct is not None and ct.crate_columns:
            pos = 0

            def emit(decl, prefix=""):
                nonlocal pos
                pos += 1
                path = f"{prefix}['{decl['name']}']" if prefix else decl["name"]
                rows.append((name, schema, path, pos, decl["type"], True))
                for child in decl.get("children") or []:
                    emit(child, path)

            for decl in ct.crate_columns:
                emit(decl)
        else:
            rows += [
                (name, schema, f.name, pos,
                 crate_name(f.dataType.simpleString()), f.nullable)
                for pos, f in enumerate(df.schema.fields, start=1)
            ]
    # self-description (information-schema.rst:395-447)
    rows += [
        ("columns", "information_schema", cname, pos, dtype, True)
        for pos, (cname, dtype) in enumerate(_COLUMNS_SELF_ROWS, start=1)
    ]
    # sys.cluster with the full documented settings subscript tree
    # (system-information.rst:86-215; CrateSettings registry)
    cluster_cols = (
        [("id", "text"), ("license", "object"), ("master_node", "text"),
         ("name", "text")]
        + SETTINGS_COLUMNS
        + [("state", "text")]
    )
    rows += [
        ("cluster", "sys", cname, pos, dtype, True)
        for pos, (cname, dtype) in enumerate(cluster_cols, start=1)
    ]
    return rows


@_view(
    "information_schema_table_constraints",
    "constraint_name string, table_name string, table_schema string, "
    "constraint_type string",
)
def _table_constraints(s):
    # PK constraints of SQL-created tables, what \d and ORMs
    # introspect, PG-style pkey naming; NOT NULL columns surface as
    # CHECK rows named {schema}_{table}_{col}_not_null; information_
    # schema's own tables table has a PK (information-schema.rst:600-608)
    rows = [("tables_pkey", "tables", "information_schema", "PRIMARY KEY")]
    for name, ct in sorted(s._dml.crate_tables.items()):
        sch = _schema_of(s, name)
        if ct.primary_key:
            rows.append((f"{name}_pkey", name, sch, "PRIMARY KEY"))
        rows += [
            (f"{sch}_{name}_{col}_not_null", name, sch, "CHECK") for col in ct.not_null
        ]
        rows += [(f"{name}_check_{i}", name, sch, "CHECK") for i in range(len(ct.checks))]
    return rows


@_view(
    "information_schema_key_column_usage",
    "constraint_name string, table_name string, table_schema string, "
    "column_name string, ordinal_position int",
)
def _key_column_usage(s):
    return [
        (f"{name}_pkey", name, _schema_of(s, name), col, pos)
        for name, ct in sorted(s._dml.crate_tables.items())
        for pos, col in enumerate(ct.primary_key, start=1)
    ]


# fdw/ServersMetadata; PG FDW catalog shape
_view(
    "information_schema_foreign_servers",
    "foreign_server_name string, foreign_data_wrapper_name string, "
    "authorization_identifier string",
)(lambda s: s._fdw_store.foreign_servers_rows() if s._fdw_store else [])
_view(
    "information_schema_foreign_tables",
    "foreign_table_name string, foreign_table_schema string, "
    "foreign_server_name string",
)(lambda s: s._fdw_store.foreign_tables_rows() if s._fdw_store else [])


# -- sys -------------------------------------------------------------------
@_view(
    "sys_cluster",
    "id string, name string, master_node string, license string, "
    "version string, parallelism int, settings string",
)
def _cluster(s):
    # the live settings object: SET GLOBAL overrides on top of the
    # full documented defaults tree (cluster_settings.py), rendered as
    # the nested JSON object settings['stats']['enabled'] subscripts
    # resolve against (runtime-config.rst, system-information.rst)
    settings = _nest({**SETTING_DEFAULTS, **s._cluster_settings}.items())
    spark = s.spark
    return [(
        "cluster-1", s.cluster_name, "n1", None, spark.version,
        spark.sparkContext.defaultParallelism, json.dumps(settings, sort_keys=True),
    )]


_view("sys_tables", "table_name string, schema_name string")(
    lambda s: [(n, "doc") for n in sorted(s.tables)]
)

# single-node analogs (SysNodesTableInfo, SysShardsTableInfo,
# SysHealth): one "node" = this Spark driver
_view(
    "sys_nodes",
    "id string, name string, hostname string, version string, "
    "cpus int, port struct<http:int,psql:int,transport:int>",
)(lambda s: [(
    "n1", socket.gethostname(), socket.gethostname(), s.spark.version,
    s.spark.sparkContext.defaultParallelism,
    {"http": 4200, "psql": 5432, "transport": 4300},
)])

# full SysShardsTableInfo routing columns: never relocating, routing
# == lifecycle state, no orphaned partitions on the parquet store
_view(
    "sys_shards",
    "table_name string, schema_name string, id int, "
    "primary boolean, state string, size bigint, num_segments int, "
    "num_docs bigint, partition_ident string, "
    "relocating_node string, routing_state string, "
    "orphan_partition boolean",
)(lambda s: [r + ("", None, r[4], False) for r in _shard_rows(s)])

# SysAllocationsTableInfo: one row per shard, mirroring sys.shards
# routing on the single node
_view(
    "sys_allocations",
    "table_schema string, table_name string, partition_ident string, "
    "shard_id int, node_id string, primary boolean, "
    "current_state string, explanation string",
)(lambda s: [
    (r[1], r[0], None, r[2], "n1", True, "STARTED", None) for r in _shard_rows(s)
])

# SysHealth (columns in alphabetical order — crate prints SELECT *
# alphabetically): every shard is a started primary here, so GREEN
_view(
    "sys_health",
    "health string, missing_shards int, partition_ident string, "
    "severity int, table_name string, table_schema string, "
    "underreplicated_shards int",
)(lambda s: [
    ("GREEN", 0, None, 1, n, _schema_of(s, n), 0) for n in sorted(s.tables)
])
_view(
    "sys_cluster_health",
    "description string, health string, missing_shards int, "
    "pending_tasks int, severity int, underreplicated_shards int",
)(lambda s: [("", "GREEN", 0, 0, 1, 0)])

# in-flight statements (SysJobsTableInfo): the statement being executed
# right now IS a job — the reference's doc examples select themselves
# out of sys.jobs
_view(
    "sys_jobs",
    "id string, stmt string, username string, started timestamp, "
    "node struct<id:string,name:string>, session_id int",
)(lambda s: [(j[0], j[1], j[2], j[3], _NODE, 1) for j in _jobs_now(s)])
_view(
    "sys_jobs_log",
    "id string, stmt string, username string, started timestamp, "
    "ended timestamp, error string",
)(lambda s: list(s._jobs_log))

# SysOperations(Log)TableInfo: one collect-phase operation per in-flight
# job; the log derives one collect-phase row per finished job
_view(
    "sys_operations",
    "id string, job_id string, name string, "
    "node struct<id:string,name:string>, started timestamp, "
    "used_bytes bigint",
)(lambda s: [
    (f"op-{j[0]}", j[0], "collect", _NODE, j[3], 0) for j in _jobs_now(s)
])
_view(
    "sys_operations_log",
    "id string, job_id string, name string, started timestamp, "
    "ended timestamp, used_bytes bigint, error string",
)(lambda s: [
    (f"op-{j[0]}", j[0], "collect", j[3], j[4], None, j[5]) for j in s._jobs_log
])


@_view(
    "sys_metrics",
    "total_count bigint, sum_of_durations bigint, failed_count bigint, "
    "mean double, stdev double, max bigint, min bigint, "
    "node_id string, classification string",
)
def _metrics(s):
    # SysMetricsTableInfo: per-statement-type latency histogram from
    # the jobs log; classification.type is the leading SQL keyword, as
    # the reference classifies plans
    by_type: dict[str, list] = defaultdict(list)
    for j in s._jobs_log:
        kind = (j[1].split() or ["UNKNOWN"])[0].upper()
        by_type[kind].append(((j[4] - j[3]).total_seconds() * 1000.0, j[5] is not None))
    rows = []
    for kind, vals in sorted(by_type.items()):
        durs = [v[0] for v in vals]
        rows.append((
            len(durs), int(sum(durs)), sum(1 for v in vals if v[1]),
            float(statistics.mean(durs)),
            float(statistics.pstdev(durs)) if len(durs) > 1 else 0.0,
            int(max(durs)), int(min(durs)), "n1", kind,
        ))
    return rows


# SysChecksTableInfo / SysNodeChecksTableInfo (severity 1=LOW..3=HIGH):
# the reference's registered checks with their documented descriptions
# (system-information.rst example output), all passing; acknowledged
# is UPDATE-able and transient
_view(
    "sys_checks", "id int, severity int, description string, passed boolean"
)(lambda s: [
    (2, 2,
     "The total number of partitions of one or more partitioned "
     "tables is approaching the soft limit. Consider reducing "
     "the partition count.", True),
    (3, 3,
     "The following tables need to be recreated for "
     "compatibility with future major versions of CrateDB: []. "
     "Use the reindexing procedure to upgrade them.", True),
])
_view(
    "sys_node_checks",
    "id int, node_id string, severity int, description string, "
    "passed boolean, acknowledged boolean",
)(lambda s: [
    (cid, "n1", sev, desc, True, cid in s._node_check_ack)
    for cid, sev, desc in _NODE_CHECKS
])


@_view(
    "sys_segments",
    "table_schema string, table_name string, partition_ident string, "
    "shard_id int, segment_name string, num_docs bigint, "
    "deleted_docs int, size bigint, committed boolean, "
    "primary boolean, search boolean",
)
def _segments(s):
    # SysSegmentsTableInfo: the storage-segment analog is one row per
    # parquet file, with REAL per-file row counts from the footer
    return [
        ("doc", n, None, 0, f, rows, 0, size, True, True, True)
        for n in sorted(s.tables)
        if n in s._dml.crate_tables
        for f, size, rows in _parquet_files(s._dml.crate_tables[n])
    ]


@_view(
    "sys_sessions",
    "id string, auth_user string, session_user string, "
    "handler_node string, client_address string, "
    "time_created timestamp, protocol string, ssl boolean, "
    "last_statement string, last_job_id string",
)
def _sessions(s):
    # SysSessionsTableInfo: this session
    last = s._jobs_log[-1] if s._jobs_log else (None, None)
    return [("s1", s.current_user, s.current_user, "n1", "local", datetime.now(),
             "http", False, last[1], last[0])]


# SysSnapshotRestoreTableInfo: populated by RESTORE SNAPSHOT
_view(
    "sys_snapshot_restore",
    "id string, repository string, name string, table_schema string, "
    "table_name string, partition_ident string, shard_id int, "
    "state string",
)(lambda s: [
    (str(i), r[0], r[1], "doc", r[2], None, 0, "SUCCESS")
    for i, r in enumerate(s._restores)
])


@_view(
    "sys_summits",
    "mountain string, height int, prominence int, "
    "coordinates array<double>, range string, "
    "classification string, region string, country string, "
    "first_ascent int",
)
def _summits(s):
    # SysSummitsTableInfo: the full 1605-row alpine dataset, vendored
    # as a DATA resource (resources/summits.tsv — public geographic
    # facts; the reference's SummitsIterable.java loads the same file)
    rows = []
    with open(os.path.join(_RESOURCES, "summits.tsv")) as fh:
        for line in fh:
            p = line.rstrip("\n").split("\t")
            pm = re.match(r"POINT\((-?[\d.]+) (-?[\d.]+)\)", p[3])
            rows.append((
                p[0],
                int(p[1]) if p[1] else None,
                int(p[2]) if p[2] else None,
                [float(pm.group(1)), float(pm.group(2))] if pm else None,
                p[4] or None, p[5] or None, p[6] or None, p[7] or None,
                int(p[8]) if len(p) > 8 and p[8] else None,
            ))
    return rows


# role/metadata/Sys*TableInfo.java, metadata/sys/Sys*TableInfo.java
_view(
    "sys_users",
    "name string, superuser boolean, password string, "
    "granted_roles string, session_settings string",
)(lambda s: s.roles.sys_users_rows())
_view("sys_roles", "name string, granted_roles string")(
    lambda s: s.roles.sys_roles_rows()
)
_view(
    "sys_privileges",
    "class string, grantee string, grantor string, "
    "ident string, state string, type string",
)(lambda s: s.roles.sys_privileges_rows())
_view("sys_repositories", "name string, type string, settings string")(
    lambda s: s.snapshots.sys_repositories_rows()
)
_view(
    "sys_snapshots",
    "id string, name string, repository string, tables array<string>, "
    "concrete_indices array<string>, "
    "started string, finished string, version string, state string",
)(lambda s: s.snapshots.sys_snapshots_rows())


# -- pg_catalog (metadata/pgcatalog/PgCatalogTableDefinitions.java) --------
_view(
    "pg_catalog_pg_tables", "schemaname string, tablename string, tableowner string"
)(lambda s: [("doc", n, "crate") for n in sorted(s.tables)])
_view("pg_catalog_pg_namespace", "oid int, nspname string")(
    lambda s: [(11, "doc"), (12, "information_schema"), (13, "sys"), (14, "pg_catalog")]
)
# PK and CHECK constraints of SQL-created tables, the shape \d+ and
# ORMs probe
_view("pg_catalog_pg_constraint", "conname string, contype string, relname string")(
    lambda s: [
        row
        for name, ct in sorted(s._dml.crate_tables.items())
        for row in ([(f"{name}_pkey", "p", name)] if ct.primary_key else [])
        + [(f"{name}_check_{i}", "c", name) for i in range(len(ct.checks))]
    ]
)
_view(
    "pg_catalog_pg_type",
    "oid int, typname string, typarray int, typelem int, "
    "typlen int, typtype string, typcategory string",
)(lambda s: PG_TYPES)

# pg_class / pg_attribute / pg_proc — what psql's \d and ORM
# introspection join (PgClassTable/PgAttributeTable/PgProcTable).
# Relation OIDs are deterministic: 16384 + position in sorted table order.
_view(
    "pg_catalog_pg_class",
    "oid int, relname string, relnamespace int, relkind string, relnatts int",
)(lambda s: [
    (16384 + i, n, 11, "r", len(s.tables[n].columns))
    for i, n in enumerate(sorted(s.tables))
])
_view(
    "pg_catalog_pg_attribute",
    "attrelid int, attname string, atttypid int, attnum int, attnotnull boolean",
)(lambda s: [
    (16384 + i, f.name, pg_oid(f.dataType.simpleString()), pos, not f.nullable)
    for i, n in enumerate(sorted(s.tables))
    for pos, f in enumerate(s.tables[n].schema.fields, start=1)
])
_view("pg_catalog_pg_proc", "oid int, proname string, pronamespace int")(
    lambda s: [
        (2100 + i, name, 11)
        for i, name in enumerate(
            ("abs", "avg", "count", "max", "min", "sum", "length", "substr",
             "upper", "lower", "coalesce", "now", "date_trunc", "concat", "round")
        )
    ]
)

# the single-catalog/single-node values, the role store, open cursors
# and views
_view(
    "pg_catalog_pg_database", "oid int, datname string, encoding int, datallowconn boolean"
)(lambda s: [(0, "crate", 6, True)])
_view("pg_catalog_pg_tablespace", "oid int, spcname string")(
    lambda s: [(0, "pg_default")]
)
_view("pg_catalog_pg_settings", "name string, setting string")(lambda s: [
    ("search_path", "doc"), ("datestyle", "ISO"), ("timezone", "UTC"),
    ("server_version", "14.0"), ("server_version_num", "140000"),
    ("max_index_keys", "32"), ("max_identifier_length", "255"),
    ("application_name", ""), ("enable_hashjoin", "on"),
])
_view("pg_catalog_pg_roles", "rolname string, rolsuper boolean, rolcanlogin boolean")(
    _user_rows
)
_view("pg_catalog_pg_user", "usename string")(
    lambda s: [(r[0],) for r in _user_rows(s)]
)
_view("pg_catalog_pg_cursors", "name string, schemaname string, statement string")(
    lambda s: [(name, "doc", cur["stmt"]) for name, cur in s._cursors.items()]
)
_view("pg_catalog_pg_views", "viewname string, schemaname string, viewowner string")(
    lambda s: [(n, "doc", "crate") for n in sorted(s._views)]
)
_view(
    "pg_catalog_pg_indexes", "indexname string, tablename string, schemaname string"
)(lambda s: [
    (f"{name}_pkey", name, "doc")
    for name, ct in sorted(s._dml.crate_tables.items())
    if ct.primary_key
])

# tables the reference itself serves EMPTY, so tooling that probes
# them succeeds
for _name, _ddl in (
    ("pg_enum", "oid int, enumtypid int, enumlabel string"),
    ("pg_locks", "locktype string, relation int, pid int, granted boolean"),
    ("pg_depend", "classid int, objid int, refclassid int, refobjid int"),
    ("pg_matviews", "schemaname string, matviewname string"),
    ("pg_event_trigger", "oid int, evtname string"),
    ("pg_range", "rngtypid int, rngsubtype int"),
    ("pg_shdescription", "objoid int, description string"),
    ("pg_am", "oid int, amname string"),
    ("pg_description", "objoid int, objsubid int, description string"),
    ("pg_attrdef", "oid int, adrelid int, adnum int"),
    ("pg_auth_members", "roleid int, member int"),
    ("pg_index", "indexrelid int, indrelid int, indisprimary boolean"),
    ("pg_stats", "schemaname string, tablename string, attname string, "
     "null_frac float, n_distinct float"),
):
    _view(f"pg_catalog_{_name}", _ddl)(lambda s: [])

# PgPublicationTableInfo et al.
_view(
    "pg_catalog_pg_publication",
    "pubname string, pubowner string, puballtables boolean, "
    "pubinsert boolean, pubupdate boolean, pubdelete boolean",
)(lambda s: [
    (name, p["owner"], p["all_tables"], True, True, True)
    for name, p in sorted((s._pub_store.pubs if s._pub_store else {}).items())
])
_view(
    "pg_catalog_pg_publication_tables",
    "pubname string, schemaname string, tablename string",
)(lambda s: [
    (name, "doc", t)
    for name, p in sorted((s._pub_store.pubs if s._pub_store else {}).items())
    for t in (sorted(s._dml.crate_tables) if p["all_tables"] else p["tables"])
])
_view(
    "pg_catalog_pg_subscription",
    "subname string, subowner string, subenabled boolean, "
    "subconninfo string, subpublications array<string>",
)(lambda s: [
    (sub.name, "crate", sub.enabled, sub.connection, [sub.publication])
    for sub in sorted(
        (s._sub_store.subs if s._sub_store else {}).values(), key=lambda x: x.name
    )
])
