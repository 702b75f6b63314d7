"""Property-graph catalog: metadata objects, validation, persistence.

Reference parity (cited into /root/reference):
- PropertyGraphTable fields mirror
  src/include/duckpgq/parser/property_graph_table.hpp:21-105.
- Validation semantics mirror
  src/core/functions/table/create_property_graph.cpp:57-303 (table/column/
  key existence checked eagerly at DDL time; label inheritance via a
  discriminator column).
- Persistence mirrors the __duckpgq_internal catalog table
  (src/duckpgq_state.cpp:5-32): here a JSON document per graph under a
  catalog directory, reloaded on session start.  JSON instead of a Spark
  table because graph metadata is tiny driver-side state; at cluster scale
  this lives on shared storage (e.g. an object-store path) and is read once
  per driver.

Spark-first notes: vertex/edge data always stays in Spark tables/views or
parquet paths; the catalog holds only names + key mappings. Label lookups
are case-insensitive (the reference lowercases labels).
"""

from __future__ import annotations

import json
import os
import re
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import PGQBinderError


def _levenshtein(a: str, b: str) -> int:
    """Edit distance for did-you-mean label suggestions (reference analog:
    LevenshteinDistance in create_property_graph_info.hpp:182-196)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_PK_PROPS = ("duckpgq.key", "primarykey", "primary_key")
_FK_PROP_PREFIX = "duckpgq.fk."


def _table_properties(spark: SparkSession, name: str) -> dict[str, str]:
    q = ".".join(f"`{p}`" for p in name.split("."))
    try:
        return {r[0]: r[1] for r in spark.sql(f"SHOW TBLPROPERTIES {q}").collect()}
    except Exception:  # temp views / missing tables have no properties
        return {}


# Per-(session, catalog-prefix) cache of "does information_schema resolve
# here": the probe costs one failing spark.sql round-trip when absent, and
# key discovery runs once per short-form edge table in a DDL statement.
# Entries carry a weakref to the owning session so a recycled id() (CPython
# reuses addresses after GC) can never serve a stale probe verdict.
_INFOSCHEMA: dict = {}


def _sql_str(s: str) -> str:
    """Escape a value for interpolation into a SQL single-quoted literal."""
    return s.replace("'", "''")


def _split_table_name(spark: SparkSession, name: str) -> tuple[str, str, str]:
    """(catalog_prefix, schema, table) for a possibly-qualified name;
    catalog_prefix is ''  (session catalog) or 'cat.'."""
    parts = [p.replace("`", "") for p in name.split(".")]
    if len(parts) >= 3:
        return parts[0] + ".", parts[1], parts[2]
    if len(parts) == 2:
        return "", parts[0], parts[1]
    try:
        schema = spark.catalog.currentDatabase()
    except Exception:
        schema = "default"
    return "", schema, parts[0]


def _infoschema_available(spark: SparkSession, prefix: str) -> bool:
    key = (id(spark), prefix)
    cached = _INFOSCHEMA.get(key)
    if cached is not None:
        ref, hit = cached
        if ref is None or ref() is spark:
            return hit
    try:
        spark.sql(
            f"SELECT 1 FROM {prefix}information_schema.table_constraints "
            "LIMIT 1"
        ).collect()
        hit = True
    except Exception:
        hit = False
    try:
        ref = weakref.ref(spark)
    except TypeError:  # non-weakref-able session shim: cache best-effort
        ref = None
    _INFOSCHEMA[key] = (ref, hit)
    return hit


def constraint_primary_key(spark: SparkSession, name: str) -> list[str]:
    """PRIMARY KEY columns from the catalog's ANSI information_schema
    (`table_constraints` + `key_column_usage`) — the surface Unity
    Catalog and other constraint-bearing V2 catalogs (e.g. Delta tables
    under Unity) expose informational PK/FK constraints through.  This
    is the closest Spark analog of the reference reading DuckDB's
    constraint catalog (create_property_graph.cpp:117-153).  Returns []
    when the catalog has no information_schema (plain session catalog /
    temp views) or declares no PK; callers fall back to the duckpgq.*
    table-property convention."""
    prefix, schema, tbl = _split_table_name(spark, name)
    if not _infoschema_available(spark, prefix):
        return []
    try:
        rows = spark.sql(
            f"""
            SELECT k.column_name
            FROM {prefix}information_schema.table_constraints c
            JOIN {prefix}information_schema.key_column_usage k
              ON c.constraint_schema = k.constraint_schema
             AND c.constraint_name = k.constraint_name
             AND c.table_schema = k.table_schema
            WHERE lower(c.table_name) = lower('{_sql_str(tbl)}')
              AND lower(c.table_schema) = lower('{_sql_str(schema)}')
              AND c.constraint_type = 'PRIMARY KEY'
            ORDER BY k.ordinal_position
            """
        ).collect()
    except Exception:
        return []
    return [r[0] for r in rows]


def constraint_foreign_keys(
    spark: SparkSession, name: str
) -> list[tuple[list[str], str, list[str]]]:
    """[(fk_cols, referenced_table, pk_cols)] from the catalog's ANSI
    information_schema (`referential_constraints` joined back through
    `key_column_usage` on both the foreign and the unique side, matched
    by ordinal position).  Same availability contract as
    constraint_primary_key."""
    prefix, schema, tbl = _split_table_name(spark, name)
    if not _infoschema_available(spark, prefix):
        return []
    try:
        rows = spark.sql(
            f"""
            SELECT r.constraint_name, k.column_name,
                   uc.table_schema, uc.table_name,
                   uk.column_name, k.ordinal_position
            FROM {prefix}information_schema.referential_constraints r
            JOIN {prefix}information_schema.table_constraints c
              ON c.constraint_schema = r.constraint_schema
             AND c.constraint_name = r.constraint_name
            JOIN {prefix}information_schema.key_column_usage k
              ON k.constraint_schema = r.constraint_schema
             AND k.constraint_name = r.constraint_name
            JOIN {prefix}information_schema.table_constraints uc
              ON uc.constraint_schema = r.unique_constraint_schema
             AND uc.constraint_name = r.unique_constraint_name
            JOIN {prefix}information_schema.key_column_usage uk
              ON uk.constraint_schema = r.unique_constraint_schema
             AND uk.constraint_name = r.unique_constraint_name
             AND uk.ordinal_position = k.ordinal_position
            WHERE lower(c.table_name) = lower('{_sql_str(tbl)}')
              AND lower(c.table_schema) = lower('{_sql_str(schema)}')
            ORDER BY r.constraint_name, k.ordinal_position
            """
        ).collect()
    except Exception:
        return []
    by_con: dict[str, tuple[list[str], str, list[str]]] = {}
    for con, fk_col, ref_schema, ref_tbl, pk_col, _pos in rows:
        # Schema-qualify the referenced table unless it lives in the same
        # schema as the referencing table (keeps short names resolvable in
        # the common single-schema case).
        qualified = (
            ref_tbl
            if ref_schema is None or ref_schema.lower() == schema.lower()
            else f"{ref_schema}.{ref_tbl}"
        )
        entry = by_con.setdefault(con, ([], qualified, []))
        entry[0].append(fk_col)
        entry[2].append(pk_col)
    return list(by_con.values())


def declared_primary_key(spark: SparkSession, name: str) -> list[str]:
    """Primary-key columns for `name`: the catalog's information_schema
    PRIMARY KEY constraint when the catalog exposes one (Unity/Delta —
    see constraint_primary_key), else table properties ('duckpgq.key',
    'primaryKey' or 'primary_key', comma-separated).  The Spark analog
    of the reference's PRIMARY KEY constraint sniffing
    (create_property_graph.cpp:117-153) — session-catalog Spark tables
    carry no constraints, so the convention there is an explicit table
    property."""
    pk = constraint_primary_key(spark, name)
    if pk:
        return pk
    props = {k.lower(): v for k, v in _table_properties(spark, name).items()}
    for key in _PK_PROPS:
        v = props.get(key)
        if v:
            return [c.strip() for c in v.split(",") if c.strip()]
    return []


def declared_foreign_keys(
    spark: SparkSession, name: str
) -> list[tuple[list[str], str, list[str]]]:
    """[(fk_cols, referenced_table, pk_cols)] declared as table properties:
    'duckpgq.fk.<col[,col]>' = '<ref_table>' or '<ref_table>(<pk[,pk]>)',
    preceded by the catalog's information_schema FOREIGN KEY constraints
    when the catalog exposes them (constraint_foreign_keys).  The Spark
    analog of the reference's FOREIGN KEY constraint discovery."""
    cons = constraint_foreign_keys(spark, name)
    if cons:
        return cons
    out = []
    for k, v in _table_properties(spark, name).items():
        if not k.lower().startswith(_FK_PROP_PREFIX):
            continue
        fk_cols = [c.strip() for c in k[len(_FK_PROP_PREFIX):].split(",") if c.strip()]
        m = re.match(r"\s*([\w.$`]+)\s*(?:\(([^)]*)\))?\s*$", v or "")
        if not m or not fk_cols:
            continue
        ref = m.group(1).replace("`", "")
        pks = (
            [c.strip() for c in m.group(2).split(",") if c.strip()]
            if m.group(2)
            else []
        )
        out.append((fk_cols, ref, pks))
    return out


def table_ref(name: str) -> str:
    """A (possibly qualified) table name with every part backtick-quoted,
    so reserved words and exotic identifiers work as backing tables
    (generated_sql_quoting.test uses tables named "select" / "group")."""
    return ".".join(f"`{p}`" for p in name.split("."))


def table_df(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(table_ref(name))


@dataclass
class PropertyGraphTable:
    """Metadata for one vertex or edge table registered in a property graph."""

    table_name: str
    is_vertex: bool = True
    # property columns exposed on this element: {source_column: exposed_name}
    properties: dict[str, str] = field(default_factory=dict)
    all_properties: bool = True
    except_columns: list[str] = field(default_factory=list)
    no_properties: bool = False
    main_label: str = ""
    sub_labels: list[str] = field(default_factory=list)
    discriminator: str | None = None
    # edge-only key mappings
    source_reference: str | None = None  # vertex table name
    source_pk: list[str] = field(default_factory=list)
    source_fk: list[str] = field(default_factory=list)
    destination_reference: str | None = None
    destination_pk: list[str] = field(default_factory=list)
    destination_fk: list[str] = field(default_factory=list)
    # optional unique edge-id column (Spark extension `EDGE ID (col)`):
    # stands in for the reference's implicit rowid in path output
    # (shortest_path.cpp:213-216); without it path edge-ids fall back to
    # per-query monotonically_increasing_id values
    edge_id_col: str | None = None

    def to_dict(self) -> dict:
        return {
            "table_name": self.table_name,
            "is_vertex": self.is_vertex,
            "properties": self.properties,
            "all_properties": self.all_properties,
            "except_columns": self.except_columns,
            "no_properties": self.no_properties,
            "main_label": self.main_label,
            "sub_labels": self.sub_labels,
            "discriminator": self.discriminator,
            "source_reference": self.source_reference,
            "source_pk": self.source_pk,
            "source_fk": self.source_fk,
            "destination_reference": self.destination_reference,
            "destination_pk": self.destination_pk,
            "destination_fk": self.destination_fk,
            "edge_id_col": self.edge_id_col,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "PropertyGraphTable":
        return cls(**d)

    def labels(self) -> list[str]:
        return [self.main_label] + list(self.sub_labels)


class PropertyGraph:
    """A named property graph: vertex + edge table metadata over Spark tables.

    Reference analog: CreatePropertyGraphInfo registered in DuckPGQState
    (src/duckpgq_state.cpp:133-160).
    """

    def __init__(self, name: str, spark: SparkSession):
        self.name = name
        self.spark = spark
        self.vertex_tables: list[PropertyGraphTable] = []
        self.edge_tables: list[PropertyGraphTable] = []
        # label (lowercased) -> (table, sublabel_index or None)
        self._label_map: dict[str, tuple[PropertyGraphTable, int | None]] = {}

    # -- registration ------------------------------------------------------
    def add_table(self, t: PropertyGraphTable) -> None:
        (self.vertex_tables if t.is_vertex else self.edge_tables).append(t)
        main = t.main_label.lower()
        if main in self._label_map:
            raise PGQBinderError(f"Label '{t.main_label}' is registered more than once")
        self._label_map[main] = (t, None)
        for i, sub in enumerate(t.sub_labels):
            key = sub.lower()
            if key in self._label_map:
                raise PGQBinderError(f"Label '{sub}' is registered more than once")
            self._label_map[key] = (t, i)

    # -- lookup ------------------------------------------------------------
    def resolve_label(
        self, label: str, kind: str | None = None
    ) -> tuple[PropertyGraphTable, int | None]:
        """Resolve a label to its table (+ sublabel index).

        With `kind` ("vertex"/"edge") the lookup mirrors the reference's
        GetTableByName (create_property_graph_info.hpp:140-210): exact label
        must be of the right kind; a table-name hit or the
        Levenshtein-closest label of the right kind produces a
        did-you-mean error instead of a bare not-found.
        """
        got = self._label_map.get(label.lower())
        if got is not None:
            if kind is not None and got[0].is_vertex != (kind == "vertex"):
                raise PGQBinderError(
                    f"Exact label '{label}' found, but it is not a {kind} table."
                )
            return got
        if kind is None:
            raise PGQBinderError(
                f"Label '{label}' is not registered in property graph '{self.name}'"
            )
        tables = self.vertex_tables if kind == "vertex" else self.edge_tables
        closest, min_d = None, None
        for t in tables:
            # case-SENSITIVE like the reference's table-name probe
            # (create_property_graph_info.hpp:173): a case-mismatched table
            # name falls through to the Levenshtein suggestion instead
            if t.table_name == label:
                raise PGQBinderError(
                    f"Table '{label}' found in the property graph, but does "
                    f"not have the correct label. Did you mean the label "
                    f"'{t.main_label}' instead?"
                )
            for cand in t.labels():
                d = _levenshtein(label.lower(), cand.lower())
                if min_d is None or d < min_d:
                    closest, min_d = cand, d
        if closest is not None:
            raise PGQBinderError(
                f"Label '{label}' not found. Did you mean the {kind} label "
                f"'{closest.lower()}'?"
            )
        raise PGQBinderError(
            f"Label '{label}' not found in the property graph for a {kind} table."
        )

    def table_for_label(self, label: str, kind: str | None = None) -> PropertyGraphTable:
        return self.resolve_label(label, kind)[0]

    def element_df(self, label: str) -> DataFrame:
        """DataFrame for a label, with sublabel discriminator filter applied.

        Sublabel semantics mirror CheckInheritance
        (src/core/functions/table/match.cpp:278-296): sublabel i compiles to
        the predicate (discriminator & 2^i) = 2^i.
        """
        t, sub_idx = self.resolve_label(label)
        df = table_df(self.spark, t.table_name)
        if sub_idx is not None:
            mask = 1 << sub_idx
            df = df.where(F.col(t.discriminator).bitwiseAND(F.lit(mask)) == F.lit(mask))
        return df

    def element_sql(self, label: str) -> str:
        """element_df as a SQL FROM-clause source."""
        t, sub_idx = self.resolve_label(label)
        if sub_idx is None:
            return table_ref(t.table_name)
        mask = 1 << sub_idx
        return (
            f"(SELECT * FROM {table_ref(t.table_name)} "
            f"WHERE (`{t.discriminator}` & {mask}) = {mask})"
        )

    def property_columns(
        self, t: PropertyGraphTable, columns: list[str] | None = None
    ) -> list[tuple[str, str]]:
        """[(source_column, exposed_name)] for an element table; `columns`
        is the table's column list when the caller already holds it."""
        if t.no_properties:
            return []
        if t.properties:
            return list(t.properties.items())
        cols = columns if columns is not None else table_df(self.spark, t.table_name).columns
        exc = {c.lower() for c in t.except_columns}
        return [(c, c) for c in cols if c.lower() not in exc]

    # -- validation --------------------------------------------------------
    def validate(self) -> None:
        """Eager DDL-time validation, mirroring
        create_property_graph.cpp:57-303: every table exists, every declared
        property/discriminator/key column exists, edge references point at
        registered vertex tables, pk/fk arity matches.
        """
        vertex_names = {t.table_name for t in self.vertex_tables}
        for t in self.vertex_tables + self.edge_tables:
            try:
                df = table_df(self.spark, t.table_name)
            except Exception as exc:  # AnalysisException
                raise PGQBinderError(
                    f"Table '{t.table_name}' not found in the Spark catalog"
                ) from exc
            cols = {c.lower() for c in df.columns}
            for c in t.properties:
                if c.lower() not in cols:
                    raise PGQBinderError(
                        f"Property '{c}' not found in table '{t.table_name}'"
                    )
            for c in t.except_columns:
                if c.lower() not in cols:
                    raise PGQBinderError(
                        f"EXCEPT column '{c}' not found in table '{t.table_name}'"
                    )
            if t.discriminator and t.discriminator.lower() not in cols:
                raise PGQBinderError(
                    f"Discriminator column '{t.discriminator}' not found in "
                    f"table '{t.table_name}'"
                )
            if not t.is_vertex:
                for side, kind in (("source", "SOURCE"), ("destination", "DESTINATION")):
                    ref = getattr(t, f"{side}_reference")
                    pk = getattr(t, f"{side}_pk")
                    fk = getattr(t, f"{side}_fk")
                    if ref is None:
                        raise PGQBinderError(
                            f"Edge table '{t.table_name}' must declare "
                            f"{kind} [KEY ... REFERENCES] <vertex table>"
                        )
                    if not pk or not fk:
                        # short form `SOURCE v`: discover keys from declared
                        # metadata, mirroring the reference's FK-constraint
                        # sniffing (create_property_graph.cpp:117-153;
                        # error text parity with create_pg_with_pk_fk.test)
                        cands = [
                            (fkc, r, pkc)
                            for fkc, r, pkc in declared_foreign_keys(
                                self.spark, t.table_name
                            )
                            if r.lower() == ref.lower()
                        ]
                        if len(cands) > 1:
                            raise PGQBinderError(
                                f"Multiple primary key - foreign key "
                                f"relationships detected between {t.table_name} "
                                f"and {ref}. Please explicitly define the "
                                f"primary key and foreign key columns using "
                                f"`{kind} KEY <foreign key> REFERENCES {ref} "
                                f"<primary key>`"
                            )
                        if not cands:
                            raise PGQBinderError(
                                f"Edge table '{t.table_name}' must declare "
                                f"explicit {kind} KEY ... REFERENCES ... "
                                "(no declared key metadata found; Spark has no "
                                "FOREIGN KEY constraints — declare table "
                                "properties 'duckpgq.fk.<col>' = "
                                "'<vertex_table>(<key>)' to enable discovery)"
                            )
                        fk = cands[0][0]
                        pk = cands[0][2] or declared_primary_key(self.spark, ref)
                        if not pk:
                            raise PGQBinderError(
                                f"Vertex table '{ref}' declares no primary key "
                                "metadata ('duckpgq.key' table property) and "
                                f"the '{_FK_PROP_PREFIX}' property names no "
                                "referenced columns"
                            )
                        setattr(t, f"{side}_fk", fk)
                        setattr(t, f"{side}_pk", pk)
                    if ref not in vertex_names:
                        raise PGQBinderError(
                            f"Referenced vertex table '{ref}' of edge table "
                            f"'{t.table_name}' is not registered in the property graph"
                        )
                    if len(pk) != len(fk):
                        raise PGQBinderError(
                            f"{kind} KEY arity mismatch on edge table '{t.table_name}'"
                        )
                    for c in fk:
                        if c.lower() not in cols:
                            raise PGQBinderError(
                                f"{kind} KEY column '{c}' not found in edge table "
                                f"'{t.table_name}'"
                            )
                    ref_cols = {c.lower() for c in table_df(self.spark, ref).columns}
                    for c in pk:
                        if c.lower() not in ref_cols:
                            raise PGQBinderError(
                                f"{kind} REFERENCES column '{c}' not found in "
                                f"vertex table '{ref}'"
                            )
                if t.edge_id_col and t.edge_id_col.lower() not in cols:
                    raise PGQBinderError(
                        f"EDGE ID column '{t.edge_id_col}' not found in edge "
                        f"table '{t.table_name}'"
                    )

    # -- serialization -----------------------------------------------------
    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "vertex_tables": [t.to_dict() for t in self.vertex_tables],
            "edge_tables": [t.to_dict() for t in self.edge_tables],
        }

    @classmethod
    def from_dict(cls, d: dict, spark: SparkSession) -> "PropertyGraph":
        pg = cls(d["name"], spark)
        for td in d["vertex_tables"]:
            pg.add_table(PropertyGraphTable.from_dict(td))
        for td in d["edge_tables"]:
            pg.add_table(PropertyGraphTable.from_dict(td))
        return pg


class GraphCatalog:
    """Session-level registry of property graphs with optional persistence.

    Reference analog: __duckpgq_internal table + per-connection registry
    (src/duckpgq_state.cpp:5-32,34-160).
    """

    def __init__(self, spark: SparkSession, path: str | None = None):
        self.spark = spark
        self.path = path  # directory for JSON persistence; None = in-memory only
        self.graphs: dict[str, PropertyGraph] = {}
        self._mtimes: dict[str, float] = {}
        self._sync()

    def _sync(self) -> None:
        """Refresh the in-memory registry from the persistence directory.

        Reference parity: DuckPGQ registers graphs in database-level state,
        so a CREATE/DROP in one connection is immediately visible in every
        other open connection (create_pg_multiple_connections.test).  Here
        the shared store is the JSON directory; for a persisted catalog the
        directory is the source of truth and each access re-syncs against
        it (mtime-cached, so unchanged graphs are never re-parsed).
        """
        if not self.path or not os.path.isdir(self.path):
            return
        seen = set()
        for fn in sorted(os.listdir(self.path)):
            if not fn.endswith(".json"):
                continue
            key = fn[: -len(".json")]
            seen.add(key)
            p = os.path.join(self.path, fn)
            try:
                m = os.path.getmtime(p)
            except OSError:  # dropped by a concurrent session mid-listing
                continue
            if self._mtimes.get(key) != m:
                with open(p) as f:
                    self.graphs[key] = PropertyGraph.from_dict(json.load(f), self.spark)
                self._mtimes[key] = m
        for key in list(self.graphs):
            if key not in seen:
                del self.graphs[key]
                self._mtimes.pop(key, None)

    def create(self, pg: PropertyGraph, or_replace: bool = False, if_not_exists: bool = False) -> None:
        self._sync()
        key = pg.name.lower()
        if key in self.graphs:
            if if_not_exists:
                return
            if not or_replace:
                raise PGQBinderError(
                    f"Property graph '{pg.name}' already exists (use CREATE OR "
                    "REPLACE or IF NOT EXISTS)"
                )
        pg.validate()
        self.graphs[key] = pg
        if self.path:
            os.makedirs(self.path, exist_ok=True)
            p = os.path.join(self.path, f"{key}.json")
            # write-to-temp + atomic rename: a concurrent session's _sync
            # can never observe a partially written JSON file
            tmp = f"{p}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(pg.to_dict(), f, indent=1)
            os.replace(tmp, p)
            try:
                self._mtimes[key] = os.path.getmtime(p)
            except OSError:
                self._mtimes.pop(key, None)

    def drop(self, name: str, if_exists: bool = False) -> None:
        self._sync()
        key = name.lower()
        if key not in self.graphs:
            if if_exists:
                return
            raise PGQBinderError(f"Property graph '{name}' does not exist")
        del self.graphs[key]
        # forget the mtime too: a later re-create with an identical mtime
        # (same-second write) must not be skipped by _sync's cache
        self._mtimes.pop(key, None)
        if self.path:
            p = os.path.join(self.path, f"{key}.json")
            if os.path.exists(p):
                os.remove(p)

    def get(self, name: str) -> PropertyGraph:
        self._sync()
        pg = self.graphs.get(name.lower())
        if pg is None:
            raise PGQBinderError(f"Property graph '{name}' does not exist")
        return pg

    def names(self) -> list[str]:
        self._sync()
        return sorted(pg.name for pg in self.graphs.values())
