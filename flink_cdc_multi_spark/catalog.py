"""Schema system: source-type → Spark type maps, table registry, and
Mongo-style sampling inference (SURVEY.md §1.3-§1.4).

Two schema modes:

- ``compat`` (default): reproduces the reference's deliberately lossy 6-type
  palette (java/utils/AVROUtils.java:54-154) so outputs are bit-compatible
  with the reference's lake layout — DECIMAL/TIMESTAMP as string, DATE as
  int days, temporal as epoch long, Oracle everything-string.
- ``typed``: the Spark-native improvement — DateType/TimestampType/
  DecimalType(38,18) where the source declares them.

Every field is nullable ("NULL is always allowed",
java/streamers/MySQLStreamer.java:430).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

from flink_cdc_multi_spark.envelope import SOURCE_KINDS, SourceKind
from flink_cdc_multi_spark.functions.sanitizer import sanitize

# Strip precision/length specifier to the base type token, same capture the
# reference uses (AVROUtils.java:56-59): e.g. 'varchar(255)' → 'VARCHAR',
# 'int(10) unsigned' → 'INT' (+ unsigned flag via substring check).
_BASE_TYPE_RE = re.compile(r"^\s*([A-Z]+[248]?)\s*(?:\([0-9,]+\))?.*$")

_MYSQL_COMPAT: dict[str, T.DataType] = {
    **dict.fromkeys(
        ["TINYINT", "SMALLINT", "MEDIUMINT", "INT2", "YEAR", "DATE"], T.IntegerType()
    ),
    **dict.fromkeys(["INT", "INTEGER", "INT4"], T.IntegerType()),
    **dict.fromkeys(["BIGINT", "INT8", "DATETIME", "TIME"], T.LongType()),
    **dict.fromkeys(["FLOAT", "REAL", "DOUBLE"], T.DoubleType()),
    **dict.fromkeys(["BIT", "BOOL", "BOOLEAN"], T.BooleanType()),
    **dict.fromkeys(["VARCHAR", "CHAR", "TEXT", "DECIMAL", "TIMESTAMP"], T.StringType()),
}

_MYSQL_TYPED_OVERRIDES: dict[str, T.DataType] = {
    "DATE": T.DateType(),
    "DATETIME": T.TimestampType(),
    "TIMESTAMP": T.TimestampType(),
    "DECIMAL": T.DecimalType(38, 18),
}

# Mongo runtime-class → type (AVROUtils.java:29-52); nested docs/arrays are
# stringified JSON in compat mode, never ArrayType/MapType.
_MONGO_CLASS_MAP: dict[str, T.DataType] = {
    "ObjectId": T.StringType(),
    "String": T.StringType(),
    "Document": T.StringType(),
    "JSONObject": T.StringType(),
    "JSONArray": T.StringType(),
    "Integer": T.IntegerType(),
    "Long": T.LongType(),
    "Double": T.DoubleType(),
    "Boolean": T.BooleanType(),
    # python-native spellings for our sampler
    "str": T.StringType(),
    "int": T.LongType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "dict": T.StringType(),
    "list": T.StringType(),
}


def mysql_to_spark(data_type: str, mode: str = "compat") -> T.DataType:
    """MySQL/Postgres column type → Spark type (AVROUtils.java:54-103)."""
    upper = data_type.upper()
    m = _BASE_TYPE_RE.match(upper)
    base = m.group(1) if m else upper
    unsigned = "UNSIGNED" in upper
    if base in ("INT", "INTEGER", "INT4") and unsigned:
        return T.LongType()
    if mode == "typed" and base in _MYSQL_TYPED_OVERRIDES:
        return _MYSQL_TYPED_OVERRIDES[base]
    return _MYSQL_COMPAT.get(base, T.StringType())


def oracle_to_spark(data_type: str, mode: str = "compat") -> T.DataType:
    """Oracle column type → Spark type: everything-is-string except BOOLEAN
    (AVROUtils.java:105-154); its deserializer also stringifies all scalars."""
    upper = data_type.upper()
    m = _BASE_TYPE_RE.match(upper)
    base = m.group(1) if m else upper
    if base in ("BIT", "BOOL", "BOOLEAN"):
        return T.BooleanType()
    if mode == "typed":
        if base in ("NUMBER", "DECIMAL"):
            return T.DecimalType(38, 18)
        if base in ("DATE", "TIMESTAMP"):
            return T.TimestampType()
    return T.StringType()


def mongo_class_to_spark(class_name: str) -> T.DataType:
    return _MONGO_CLASS_MAP.get(class_name, T.StringType())


class SchemaConflictError(ValueError):
    """Sampling saw two different types for one field in top-level-type mode
    (MongoDBStreamer.java:271-281)."""


class EmptySampleError(ValueError):
    """Zero sample documents — cannot infer (MongoDBStreamer.java:293-295)."""


def infer_mongo_schema(
    sample_docs: list[dict],
    mode: str = "top-level-type",
    max_sample: int = 100,
    min_warn: int = 50,
) -> tuple[T.StructType, list[str]]:
    """Union top-level field→type over ≤100 sampled documents, first type
    wins (NoOverwriteHashMap semantics, java/utils/NoOverwriteHashMap.java:6-13),
    conflicting re-types hard-fail in top-level-type mode.

    Returns (payload schema, warnings). Deserialization modes
    (MongoDBDebeziumToJSONDeserializer.java:30-34):
      top-level-type   typed top-level fields
      top-level-string all fields string
      doc-string       single `doc` string column with the whole document
    """
    docs = sample_docs[:max_sample]
    if not docs:
        raise EmptySampleError("empty collection: cannot infer schema")
    warnings: list[str] = []
    if len(docs) < min_warn:
        warnings.append(f"only {len(docs)} sample docs (<{min_warn}); schema may be partial")

    if mode == "doc-string":
        return (
            T.StructType(
                [
                    T.StructField("_id", T.StringType(), True),
                    T.StructField("doc", T.StringType(), True),
                ]
            ),
            warnings,
        )

    seen: dict[str, str] = {}
    for doc in docs:
        for key, val in doc.items():
            cls = type(val).__name__
            if key not in seen:
                seen[key] = cls  # first type wins — no overwrite
            elif seen[key] != cls and mode == "top-level-type":
                if val is None or seen[key] == "NoneType":
                    # null never conflicts; upgrade NoneType to the real one
                    if seen[key] == "NoneType" and val is not None:
                        seen[key] = cls
                    continue
                raise SchemaConflictError(
                    f"field '{key}' seen as both {seen[key]} and {cls}; "
                    f"use table.name.map to version the collection"
                )

    fields = []
    for key, cls in seen.items():
        dtype = (
            T.StringType() if mode == "top-level-string" else mongo_class_to_spark(cls)
        )
        fields.append(T.StructField(sanitize(key), dtype, True))
    return T.StructType(fields), warnings


@dataclass
class TableSpec:
    db: str
    table: str
    payload_schema: T.StructType
    is_ddl: bool = False

    @property
    def key(self) -> str:
        return f"{sanitize(self.db)}.{sanitize(self.table)}"

    @property
    def output_name(self) -> str:
        """Directory naming parity: <source_id>_<db>__<tbl> appended by the
        sink (FlinkCDCMulti.java:375-377); here just db__tbl."""
        return f"{sanitize(self.db)}__{sanitize(self.table)}"


def expand_table_list(
    table_list: list[str], catalog_tables: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Expand ``db.*`` wildcards against the discovered catalog
    (MySQLStreamer.java:352-359); plain ``db.table`` entries pass through.
    Unknown plain entries are kept (they fail later at routing with the
    standard unknown-table policy rather than silently vanishing)."""
    out: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()
    for entry in table_list:
        db, _, tbl = entry.partition(".")
        expanded = (
            [(d, t) for d, t in catalog_tables if d == db] if tbl == "*" else [(db, tbl)]
        )
        for pair in expanded:
            if pair not in seen:  # explicit entries may overlap a wildcard
                seen.add(pair)
                out.append(pair)
    return out


# Per-source offset columns of the synthetic DDL table (the reference builds
# a different Avro schema per streamer: MySQLStreamer.java:475-480 appends
# _binlog_file/_binlog_pos_end, PostgresStreamer.java:281-285 appends _lsn,
# OracleStreamer.java:291-294 has none beyond _ts). Types follow the repo
# envelope (envelope.py), not the reference's all-VARCHAR Avro.
_DDL_OFFSET_FIELDS: dict[str, list[T.StructField]] = {
    "mysql": [
        T.StructField("_binlog_file", T.StringType(), True),
        T.StructField("_binlog_pos_end", T.LongType(), True),
    ],
    "postgres": [T.StructField("_lsn", T.LongType(), True)],
    "oracle": [],
}


def ddl_table_spec(db: str, source_type: str = "mysql") -> TableSpec:
    """Synthetic `_<db>_ddl` schema-change table (MySQLStreamer.java:459-493),
    with the source's own offset columns — a postgres/oracle DDL record has
    no _binlog_file and routing it through a MySQL-shaped spec would raise
    UNRESOLVED_COLUMN instead of landing the event."""
    schema = T.StructType(
        [
            T.StructField("_ddl", T.StringType(), True),
            T.StructField("_ddl_tbl", T.StringType(), True),
            T.StructField("_ts", T.LongType(), True),
        ]
        + _DDL_OFFSET_FIELDS[source_type]
    )
    return TableSpec(db=db, table=f"_{sanitize(db)}_ddl", payload_schema=schema, is_ddl=True)


@dataclass
class TableRegistry:
    """The tag-schema map equivalent (Streamer.java:16): every known
    (db, table) → its payload StructType, plus per-db DDL tables."""

    source: SourceKind
    specs: dict[str, TableSpec] = field(default_factory=dict)
    database_name_map: dict[str, str] = field(default_factory=dict)
    table_name_map: dict[str, str] = field(default_factory=dict)
    fail_on_unknown_tables: bool = True
    # mongodb.deserialization.mode (MongoDBDebeziumToJSONDeserializer.java:30-34)
    mongo_mode: str = "top-level-type"

    @classmethod
    def build(
        cls,
        source_type: str,
        tables: dict[tuple[str, str], T.StructType],
        with_ddl_tables: bool = True,
        database_name_map: dict[str, str] | None = None,
        table_name_map: dict[str, str] | None = None,
        fail_on_unknown_tables: bool = True,
        mongo_mode: str = "top-level-type",
    ) -> "TableRegistry":
        reg = cls(
            source=SOURCE_KINDS[source_type],
            database_name_map=database_name_map or {},
            table_name_map=table_name_map or {},
            fail_on_unknown_tables=fail_on_unknown_tables,
            mongo_mode=mongo_mode,
        )
        dbs = set()
        for (db, tbl), schema in tables.items():
            spec = TableSpec(db=db, table=tbl, payload_schema=schema)
            reg.specs[spec.key] = spec
            dbs.add(db)
        if with_ddl_tables and source_type != "mongodb":
            for db in sorted(dbs):
                spec = ddl_table_spec(db, source_type)
                reg.specs[spec.key] = spec
        return reg

    def add(self, spec: TableSpec) -> None:
        """Adopt a table discovered mid-run (scan.newly.added.tables,
        MySQLStreamer.java:302 scanNewlyAddedTableEnabled)."""
        self.specs[spec.key] = spec

    def mapped_names(self, db: str, tbl: str) -> tuple[str, str]:
        """Sanitized (db, table) with name maps applied, mirroring
        SideInputProcessFunction.java:64-131: db map keyed by sanitized db;
        table map keyed by original `db.table` with the reference's lossy
        '_'→'-' reverse sanitization; DDL table names reconstructed under
        the mapped db. Anything that builds or looks up a spec for an
        observed source identity must go through this, so adopted specs
        (scan.newly.added.tables) land under the same key lookup() uses."""
        sdb, stbl = sanitize(db), sanitize(tbl)
        mapped_db = self.database_name_map.get(sdb)
        if mapped_db:
            sdb = sanitize(mapped_db)
        original_key = f"{db}.{stbl.replace('_', '-')}"
        mapped_tbl = self.table_name_map.get(original_key)
        if mapped_tbl:
            stbl = sanitize(mapped_tbl)
        if stbl.startswith("_") and stbl.endswith("_ddl"):
            stbl = f"_{sdb}_ddl"
        return sdb, stbl

    def lookup(self, db: str, tbl: str) -> TableSpec | None:
        sdb, stbl = self.mapped_names(db, tbl)
        return self.specs.get(f"{sdb}.{stbl}")

    def source_identities(self, spec: TableSpec) -> list[tuple[str, str]]:
        """Every envelope (db, tbl) that mapped_names() routes to ``spec`` —
        the inverse of the name maps over their configured entries. A
        database.name.map that merges shards gives one spec several
        identities; a spec whose own name is mapped away has none."""
        target = (sanitize(spec.db), sanitize(spec.table))
        dbs = {target[0], *self.database_name_map}
        tbls = {target[1]}
        for key in self.table_name_map:
            kdb, _, ktbl = key.partition(".")
            dbs.add(sanitize(kdb))
            tbls.add(sanitize(ktbl))  # undoes mapped_names' '_'→'-'
        return sorted(
            (d, t) for d in dbs for t in tbls if self.mapped_names(d, t) == target
        )

    def data_specs(self) -> list[TableSpec]:
        return [s for s in self.specs.values() if not s.is_ddl]

    def ddl_specs(self) -> list[TableSpec]:
        return [s for s in self.specs.values() if s.is_ddl]
