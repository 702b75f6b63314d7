"""MATCH-pattern -> SQL text compiler.

This is the Spark equivalent of the reference's bind-replace step
(PGQMatchFunction::MatchBindReplace,
/root/reference/src/core/functions/table/match.cpp:969-1093): a MATCH
pattern is rewritten, source to source, into one plain SQL query — joins +
filters + projection — which `PGQSession.sql` splices into the user's
statement as a derived table, so Spark parses and analyzes the whole
statement once.  Unlike the reference (which emits cross joins + WHERE and
relies on the host optimizer to recover hash joins, match.cpp:64-73), each
join carries its equi-join ON condition, so Catalyst never sees an
accidental cartesian product.

Edge-direction semantics (match.cpp:365-444):
  (a)-[e]->(b)  e.src=a, e.dst=b
  (a)<-[e]-(b)  e.src=b, e.dst=a
  (a)-[e]-(b)   undirected: edge table unioned with its swapped self
  (a)<-[e]->(b) edge required in both directions (second aliased copy)

Variable-length quantifiers and ANY SHORTEST compile to a batched
multi-source BFS (operators/paths.py) producing a (src, dst, dist, path)
"virtual edge table" — the Spark analog of the reference's CSR +
iterativelength/shortestpath scalar kernels (match.cpp:497-707).  The
kernel output is a DataFrame; the SQL text names it as a `{field}` that
spark.sql binds (see CompiledMatch).
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import PropertyGraph, PropertyGraphTable, table_df
from ..errors import PGQBinderError, PGQConstraintError, PGQNotImplementedError
from ..operators import paths as pathops
from ..parser.ast import (
    EDGE_ANY,
    EDGE_BOTH,
    EDGE_LEFT,
    EDGE_RIGHT,
    ColumnItem,
    EdgeElement,
    MatchExpression,
    PathPattern,
    VertexElement,
)

_AGG_RE = re.compile(
    r"^\s*(count|sum|avg|min|max|stddev|variance|first|last|collect_list|collect_set"
    r"|approx_count_distinct|percentile_approx)\s*\(",
    re.IGNORECASE,
)
_PROP_REF_RE = re.compile(r"\b([A-Za-z_][\w$]*)\s*\.\s*([A-Za-z_][\w$]*)")
# double-quoted ANSI/PGQ identifiers inside expression text ("" = escaped ")
_DQUOTE_IDENT_RE = re.compile(r'"((?:[^"]|"")*)"')
# a bare `binding.prop` reference (plain or quoted prop) — its output column
# defaults to the property name, like the reference's generated SQL
_SIMPLE_REF_RE = re.compile(
    r'^\s*([A-Za-z_][\w$]*)\s*\.\s*(?:([A-Za-z_][\w$]*)|"([^"]+)")\s*$'
)


_log = logging.getLogger("duckpgq_extension_spark")


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def esc_braces(text: str) -> str:
    """Escape literal text for a str.format template (spark.sql with
    bound frames formats the whole statement)."""
    return text.replace("{", "{{").replace("}", "}}")


@dataclass
class CompiledMatch:
    """One GRAPH_TABLE as a SQL query.  `sql` is a str.format template:
    literal braces are doubled and each kernel output is a `{field}` bound
    from `frames` (spark.sql(sql, **frames) registers them only while the
    statement is analyzed)."""

    sql: str
    frames: dict


_NUM_SIMPLE = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _is_numeric_type(simple: str | None) -> bool:
    return bool(simple) and (simple in _NUM_SIMPLE or simple.startswith("decimal"))


def _key_canon_flags(vdf, pk_lists, edf, fk_lists) -> list[bool]:
    """Per key position: numeric-canonicalize iff the vertex pk(s) and
    every edge fk at that position are ALL numeric.  Mixed numeric/string
    positions keep the plain string rendering (where INT 5 vs VARCHAR '5'
    already agree); any residual divergence is caught loudly by the
    hash-resolution guard in _check_path_vertices."""
    vt, et = pathops.col_types(vdf), pathops.col_types(edf)
    n = len(pk_lists[0])
    return [
        all(_is_numeric_type(vt.get(lst[i].lower())) for lst in pk_lists)
        and all(_is_numeric_type(et.get(lst[i].lower())) for lst in fk_lists)
        for i in range(n)
    ]


def _key_hash(cols, canon: list[bool] | None = None, tag: str | None = None) -> "F.Column":
    """Surrogate long vertex id for composite keys: xxhash64 over the
    string-rendered key tuple.  Positions flagged in `canon` (all-numeric
    fk/pk per _key_canon_flags) render through DECIMAL(38,15) so
    numerically-equal values hash identically across physical types
    (INT 5, DOUBLE 5.0, DECIMAL(10,2) 5.00 -> '5.000000000000000');
    plain string casts otherwise.  Per-column hashing (not concat) avoids
    tuple ambiguity.  Values outside DECIMAL(38,15) range canonicalize to
    NULL, which the collision/resolution guards in _check_path_vertices
    turn into a PGQConstraintError instead of a silent empty traversal.

    `tag` (heterogeneous vertex domains only) prepends a vertex-table
    discriminator literal so vertex identity is (table, key): supplier 3
    and nation 3 hash to DIFFERENT surrogate ids.  The reference's union
    CSR conflates rowids of distinct tables into one dense-id space
    (compressed_sparse_row.cpp:132-143,164-172 sizes the domain by the
    SOURCE table only) — tagging is the principled fix, not a port."""
    if canon is None:
        canon = [False] * len(cols)
    rendered = [
        c.cast("decimal(38,15)").cast("string") if k else c.cast("string")
        for c, k in zip(cols, canon)
    ]
    if tag is not None:
        rendered = [F.lit(tag)] + rendered
    return F.xxhash64(*rendered)


def _sql(text: str) -> str:
    """User expression text with PGQ/ANSI double-quoted identifiers
    translated to Spark backticks (generated_sql_quoting.test exercises
    "Name Value"-style columns; Spark reads double quotes as string
    literals).  Single-quoted string literals pass through untouched."""
    parts = re.split(r"('(?:[^']|'')*')", text)
    return "".join(
        p
        if p.startswith("'")
        else _DQUOTE_IDENT_RE.sub(lambda m: _q(m.group(1).replace('""', '"')), p)
        for p in parts
    )


class MatchCompiler:
    def __init__(self, pg: PropertyGraph, expr: MatchExpression):
        self.pg = pg
        self.expr = expr
        # the FROM clause: (source, alias, ON condition or None for a cross
        # join); a source is SQL text or a kernel-output DataFrame
        self.joins: list[tuple[str | DataFrame, str, str | None]] = []
        # internal conditions (path modes, quantifier bounds, closures),
        # trusted SQL unlike the user text in self.filters
        self.conds: list[str] = []
        self._schemas: dict = {}  # table name -> StructType, once per compile
        # binding -> {"kind": "vertex"|"edge"|"path", "pgt": PropertyGraphTable|None}
        self.bound: dict[str, dict] = {}
        self.filters: list[str] = []
        # path variable -> binding of its first contributing segment (used
        # for the bare-variable rejection); the actual path value is the
        # concatenation of per-segment SQL exprs in path_segments
        self.path_vars: dict[str, str] = {}
        # path variable -> list of SQL exprs, each an array<bigint> segment
        # of the interleaved [v,e,v,...] path in pattern order (the Spark
        # analog of the reference's list_value/list_concat/array_pop_front
        # composition, match.cpp:497-707)
        self.path_segments: dict[str, list[str]] = {}
        # path variables that already consumed a quantified segment
        self.path_quantified: set[str] = set()
        # which path functions COLUMNS applies to each path variable: a var
        # used only through path_length (or not at all) never needs the
        # interleaved [v,e,v,...] array — the BFS can skip path tracking
        # (no per-level array concat, no lex-min tie-break shuffle) and
        # path_length compiles to a sum of per-segment hop counts
        self.path_fn_uses: dict[str, set[str]] = {}
        for item in expr.columns:
            if item.kind == "path_fn" and item.path_var is not None:
                self.path_fn_uses.setdefault(item.path_var, set()).add(item.fn)
        # path variable -> list of SQL hop-count exprs (parallel to
        # path_segments, for length-only vars: "1" per fixed segment, the
        # BFS dist column per quantified segment)
        self.path_len_segments: dict[str, list[str]] = {}
        # path variable -> SQL expr of its ANY CHEAPEST cost column
        self.path_cost_cols: dict[str, str] = {}

    def _len_only(self, path_var: str | None) -> bool:
        """True when a named path's COLUMNS usage needs lengths only."""
        return path_var is not None and self.path_fn_uses.get(path_var, set()) <= {
            "path_length"
        }

    def _cost_only(self, path_var: str | None) -> bool:
        """True when an ANY CHEAPEST path's COLUMNS usage needs only
        path_cost — the cost column exists without array tracking, so the
        Bellman-Ford rounds can skip per-row concat + lexicographic
        min entirely (the cheapest analog of length-only compilation)."""
        return path_var is not None and self.path_fn_uses.get(path_var, set()) <= {
            "path_cost"
        }

    # ------------------------------------------------------------------
    def compile(self) -> CompiledMatch:
        for pattern in self.expr.patterns:
            self._compile_pattern(pattern)
        if self.expr.where:
            self.filters.append(self.expr.where)
        if not self.joins:
            raise PGQBinderError("MATCH requires at least one pattern element")
        for f in self.filters:
            self._validate_expr_refs(f)
        sql = esc_braces(f"SELECT {', '.join(self._project())} FROM")
        frames: dict = {}
        for i, (src, alias, on) in enumerate(self.joins):
            if isinstance(src, str):
                src = esc_braces(src)
            else:
                # named by object identity: unique among the live frames
                # that one statement binds, however many GRAPH_TABLEs it has
                frames[name := f"__pgq_frame_{id(src):x}"] = src
                src = "{" + name + "}"
            join = " " if i == 0 else " CROSS JOIN " if on is None else " JOIN "
            sql += join + src + esc_braces(f" AS {_q(alias)}" + (f" ON {on}" if on else ""))
        where = [f"({c})" for c in self.conds + [_sql(f) for f in self.filters]]
        if where:
            sql += esc_braces(" WHERE " + " AND ".join(where))
        return CompiledMatch(sql, frames)

    def _schema(self, table: str):
        if table not in self._schemas:
            self._schemas[table] = table_df(self.pg.spark, table).schema
        return self._schemas[table]

    def _props(self, pgt: PropertyGraphTable) -> list[tuple[str, str]]:
        listed = pgt.properties or pgt.no_properties
        cols = None if listed else self._schema(pgt.table_name).names
        return self.pg.property_columns(pgt, cols)

    # -- pattern walking ----------------------------------------------
    def _compile_pattern(self, pattern: PathPattern) -> None:
        elems = pattern.elements
        if not elems:
            return
        if len(elems) % 2 == 0:
            raise PGQBinderError("Path pattern must alternate vertex-edge-vertex")
        if pattern.path_mode != "WALK":
            # beyond-reference (the reference rejects all non-WALK modes,
            # match.cpp:96-99): validate applicability BEFORE any eager BFS
            self._check_path_mode_scope(pattern)
        # reference parity: vertex labels resolve before edge labels, so an
        # unknown VERTEX label is the reported error even when an earlier
        # edge label in the same pattern is also unknown
        # (create_or_replace_pg.test:24-27 expects 'University', not 'workAt').
        # Reused bindings are skipped: `(a:Person)-..->(a)` parses the second
        # `(a)` with label == binding, and _bind_vertex ignores the label on
        # the reuse path — pre-resolving it would reject a legal closure.
        seen = set(self.bound)
        for v in elems[0::2]:
            if isinstance(v, VertexElement):
                if v.label is not None and v.binding not in seen:
                    self.pg.table_for_label(v.label)
                seen.add(v.binding)
        self._bind_vertex(elems[0])
        for i in range(1, len(elems), 2):
            edge, nxt = elems[i], elems[i + 1]
            if not isinstance(edge, EdgeElement) or not isinstance(nxt, VertexElement):
                raise PGQBinderError("Path pattern must alternate vertex-edge-vertex")
            # ANY SHORTEST over a plain edge unwraps to an ordinary join,
            # like the reference's {1,1} unwrap (match.cpp:590-597).  BFS is
            # used ONLY for truly quantified edges; fixed edges always
            # plain-bind, and when the pattern names a path variable each
            # fixed segment contributes [v, e, v] directly to the path —
            # matching the reference's CreatePathFindingFunction, which
            # list_value's fixed segments and only calls shortestpath for
            # subpaths with upper > 1 (match.cpp:497-620).
            if pattern.cheapest and not edge.quantified:
                # without a quantifier there is nothing to optimize over —
                # a plain edge would silently bind as an ordinary join and
                # return EVERY parallel edge, not the cheapest
                raise PGQNotImplementedError(
                    "ANY CHEAPEST requires a quantified edge (* or +)"
                )
            if edge.cost_col is not None and not (
                pattern.cheapest and edge.quantified
            ):
                raise PGQBinderError(
                    "COST is only valid on the quantified edge of an "
                    "ANY CHEAPEST pattern"
                )
            if edge.quantified:
                self._bind_path_edge(pattern, elems[i - 1], edge, nxt)
            else:
                self._bind_plain_edge(pattern, elems[i - 1], edge, nxt)
        if pattern.path_mode != "WALK" and not any(
            e.quantified for e in elems[1::2]
        ):
            self._apply_path_mode_filters(pattern)

    def _check_path_mode_scope(self, pattern: PathPattern) -> None:
        """TRAIL/ACYCLIC/SIMPLE supported on (a) fixed-edge-only patterns
        (pairwise-distinctness filters) and (b) a single quantified
        segment (per-expansion filter in the BFS, paths.bfs_all_paths).
        Cross-segment repetition checks (mixed fixed+quantified, or
        several quantified segments) are not implemented — raise before
        any traversal runs rather than silently returning WALK results."""
        mode = pattern.path_mode
        edges_el = pattern.elements[1::2]
        n_quant = sum(1 for e in edges_el if e.quantified)
        if n_quant > 0 and len(edges_el) > 1:
            raise PGQNotImplementedError(
                f"Path mode {mode} across multiple pattern segments is not "
                "supported; use a single quantified segment or fixed edges "
                "only"
            )
        if pattern.topk and pattern.topk > 1 and n_quant:
            raise PGQNotImplementedError(
                f"SHORTEST k with path mode {mode} is not supported "
                "(k-best enumeration is defined over walks)"
            )
        # ANY SHORTEST + mode needs no special handling: a shortest walk
        # never repeats a vertex or an edge, so it is already a trail, an
        # acyclic path, and a simple path — compiled as WALK.

    def _apply_path_mode_filters(self, pattern: PathPattern) -> None:
        """Pairwise-distinctness semantics of TRAIL/ACYCLIC/SIMPLE on a
        fixed-edge pattern, applied as plan filters:
          ACYCLIC — all vertex positions pairwise distinct;
          SIMPLE  — like ACYCLIC but the first and last position may
                    coincide (closed walk);
          TRAIL   — all edge positions pairwise distinct (needs EDGE ID
                    to tell parallel edges apart).
        """
        mode = pattern.path_mode
        elems = pattern.elements
        verts = elems[0::2]
        edges_el = elems[1::2]
        n = len(verts)
        # vertex binding -> (vertex table name, its unique-key columns as
        # referenced by an adjacent edge table)
        vkeys: dict[str, tuple[str, list[str]]] = {}
        for i, eel in enumerate(edges_el):
            pgt = self.pg.table_for_label(eel.label)
            for vel in (verts[i], verts[i + 1]):
                vpgt = self.bound[vel.binding]["pgt"]
                if vel.binding not in vkeys:
                    vkeys[vel.binding] = (
                        vpgt.table_name,
                        list(self._endpoint_pks(pgt, vpgt, prefer_source=True)),
                    )
        if mode in ("ACYCLIC", "SIMPLE"):
            for i in range(n):
                for j in range(i + 1, n):
                    endpoints = i == 0 and j == n - 1
                    bi, bj = verts[i].binding, verts[j].binding
                    if mode == "SIMPLE" and endpoints:
                        continue  # closure allowed
                    if bi == bj:
                        # the same binding at two positions IS a repeated
                        # vertex by construction
                        self.conds.append("false")
                        continue
                    ti, ki = vkeys[bi]
                    tj, kj = vkeys[bj]
                    if ti != tj:
                        continue  # different vertex tables: never the same
                    neq = " OR ".join(
                        f"{_q(bi)}.{_q(a)} <> {_q(bj)}.{_q(b)}"
                        for a, b in zip(ki, kj)
                    )
                    self.conds.append(neq)
        if mode == "TRAIL":
            items = []
            for eel in edges_el:
                pgt = self.pg.table_for_label(eel.label)
                items.append((eel.binding, pgt))
            for i in range(len(items)):
                for j in range(i + 1, len(items)):
                    (bi, pi), (bj, pj) = items[i], items[j]
                    if pi.table_name != pj.table_name:
                        continue
                    if pi.edge_id_col is None:
                        raise PGQNotImplementedError(
                            f"TRAIL over edge table '{pi.table_name}' needs "
                            "an EDGE ID column to tell parallel edges apart"
                        )
                    self.conds.append(
                        f"{_q(bi)}.{_q(pi.edge_id_col)} <> "
                        f"{_q(bj)}.{_q(pj.edge_id_col)}"
                    )

    def _vertex_pgt(self, v: VertexElement) -> PropertyGraphTable:
        if v.label is None:
            raise PGQBinderError(
                f"Vertex binding '{v.binding}' needs a label (unlabeled vertices "
                "are not supported)"
            )
        return self.pg.table_for_label(v.label)

    def _bind_vertex(self, v: VertexElement) -> None:
        if v.binding in self.bound:
            if self.bound[v.binding]["kind"] != "vertex":
                raise PGQBinderError(f"Binding '{v.binding}' is not a vertex")
            if v.where:
                self.filters.append(v.where)
            return
        pgt = self._vertex_pgt(v)
        self.joins.append((self.pg.element_sql(v.label), v.binding, None))
        self.bound[v.binding] = {"kind": "vertex", "pgt": pgt, "label": v.label}
        if v.where:
            self.filters.append(v.where)

    def _single_key(self, cols: list[str], what: str) -> str:
        """Named-path FIXED segments splice natural vertex ids into the
        interleaved path array, so they need one integral key (quantified
        segments route composite/string keys through the xxhash64
        surrogate instead — mixing natural and surrogate ids in one path
        array would corrupt it, hence the loud error here)."""
        if len(cols) != 1:
            raise PGQNotImplementedError(
                f"Composite {what} keys are not supported for named-path "
                "fixed segments (quantified patterns and whole-graph "
                "algorithms support them via surrogate ids); derive a "
                "single key column first"
            )
        return cols[0]

    def _endpoint_pks(self, pgt: PropertyGraphTable, vertex_pgt: PropertyGraphTable, prefer_source: bool) -> list[str]:
        """pk columns of the vertex table as referenced by this edge table
        (multi-column for composite keys, property_graph_table.hpp:56-71)."""
        side = self._endpoint_side(pgt, vertex_pgt, prefer_source)
        return pgt.source_pk if side == "src" else pgt.destination_pk

    def _endpoint_pk(self, pgt: PropertyGraphTable, vertex_pgt: PropertyGraphTable, prefer_source: bool) -> str:
        pks = self._endpoint_pks(pgt, vertex_pgt, prefer_source)
        what = "SOURCE" if pgt.source_reference == vertex_pgt.table_name else "DESTINATION"
        return self._single_key(pks, what)

    def _key_canon(self, pgt: PropertyGraphTable) -> list[bool]:
        """Canonicalization flags for this edge table's key positions,
        shared by every surrogate-hash site (edge fks, vertex pks, SQL and
        Column forms) so they can never diverge."""
        vtab = self._schema(pgt.source_reference)
        etab = self._schema(pgt.table_name)
        return _key_canon_flags(
            vtab,
            [list(pgt.source_pk), list(pgt.destination_pk)],
            etab,
            [list(pgt.source_fk), list(pgt.destination_fk)],
        )

    def _endpoint_side(
        self, pgt: PropertyGraphTable, vertex_pgt: PropertyGraphTable, prefer_source: bool
    ) -> str:
        """Which side of the edge table this vertex table binds to — the one
        resolution order behind _endpoint_pks, so the pk list and the
        surrogate tag/canon always come from the same side."""
        if prefer_source and pgt.source_reference == vertex_pgt.table_name:
            return "src"
        if pgt.destination_reference == vertex_pgt.table_name:
            return "dst"
        if pgt.source_reference == vertex_pgt.table_name:
            return "src"
        raise PGQBinderError(
            f"Edge table '{pgt.table_name}' does not reference vertex table "
            f"'{vertex_pgt.table_name}'"
        )

    def _surrogate_parts(
        self, pgt: PropertyGraphTable, side: str
    ) -> tuple[list[bool], str | None]:
        """(canon flags, tag) for surrogate-hashing one side of this edge
        table.  Homogeneous graphs keep the joint flags and NO tag —
        byte-identical hashes to the pre-heterogeneous compiler, so
        existing surrogate path results are unchanged.  Heterogeneous
        edges (source_reference != destination_reference) compute flags
        per (vertex-table, fk-list) pair — the two sides may even have
        different key arities — and tag with the vertex table name so the
        two key domains can never collide."""
        if pgt.source_reference == pgt.destination_reference:
            return self._key_canon(pgt), None
        if side == "src":
            vref, pks, fks = pgt.source_reference, pgt.source_pk, pgt.source_fk
        else:
            vref, pks, fks = (
                pgt.destination_reference,
                pgt.destination_pk,
                pgt.destination_fk,
            )
        canon = _key_canon_flags(
            self._schema(vref), [list(pks)], self._schema(pgt.table_name), [list(fks)]
        )
        return canon, vref.lower()

    def _endpoint_key_sql(
        self,
        pgt: PropertyGraphTable,
        vertex_pgt: PropertyGraphTable,
        prefer_source: bool,
        binding: str,
        surrogate: bool,
    ) -> str:
        """BFS vertex id of an endpoint as SQL over the `binding` alias: the
        natural long key, or the xxhash64 surrogate (must mirror
        _bind_path_edge's decision — passed in explicitly so edge and
        vertex sides can never diverge when fk/pk physical types differ)."""
        side = self._endpoint_side(pgt, vertex_pgt, prefer_source)
        pks = self._endpoint_pks(pgt, vertex_pgt, prefer_source)
        if not surrogate:
            return f"cast({_q(binding)}.{_q(pks[0])} as bigint)"
        canon, tag = self._surrogate_parts(pgt, side)
        parts = []
        if tag is not None:
            parts.append("'" + tag.replace("'", "''") + "'")
        for c, k in zip(pks, canon):
            ref = f"{_q(binding)}.{_q(c)}"
            parts.append(
                f"cast(cast({ref} as decimal(38,15)) as string)"
                if k
                else f"cast({ref} as string)"
            )
        return f"xxhash64({', '.join(parts)})"

    def _bind_plain_edge(
        self, pattern: PathPattern, prev: VertexElement, edge: EdgeElement, nxt: VertexElement
    ) -> None:
        if edge.binding in self.bound:
            raise PGQBinderError(
                f"Edge binding '{edge.binding}' is used more than once"
            )
        if edge.label is None:
            raise PGQBinderError(
                f"Edge binding '{edge.binding}' needs a label"
            )
        pgt = self.pg.table_for_label(edge.label)
        if pgt.is_vertex:
            raise PGQBinderError(f"Label '{edge.label}' is a vertex label, not an edge")
        # composite (multi-column) keys join on every fk/pk pair
        # (property_graph_table.hpp:56-71 models pk/fk as vectors)
        src_fks = list(pgt.source_fk)
        dst_fks = list(pgt.destination_fk)
        e = edge.binding
        edge_sql = self.pg.element_sql(edge.label)
        path_var = pattern.path_variable
        len_only = self._len_only(path_var)
        eid_col = None
        if path_var is not None and not len_only:
            # this fixed segment will contribute [v, e, v] to the named
            # path; it needs an edge id (the reference uses rowid,
            # match.cpp:602-620)
            if pgt.edge_id_col is not None:
                eid_col = pgt.edge_id_col
                pathops.require_integral_keys(
                    self._schema(pgt.table_name), [eid_col],
                    f"edge table '{pgt.table_name}' (EDGE ID)",
                )
            else:
                # per-query fallback id, fully distributed (see paths.py)
                eid_col = "__pgq_eid"
                edge_sql = (
                    f"(SELECT *, monotonically_increasing_id() AS {eid_col} "
                    f"FROM {edge_sql} AS __pgq_t)"
                )

        nxt_new = nxt.binding not in self.bound
        prev_pgt = self.bound[prev.binding]["pgt"]

        if edge.direction == EDGE_ANY:
            # undirected: union of both orientations (match.cpp:365-392)
            def oriented(froms: list[str], tos: list[str]) -> str:
                keys = [f"{_q(c)} AS __pgq_from_{i}" for i, c in enumerate(froms)]
                keys += [f"{_q(c)} AS __pgq_to_{i}" for i, c in enumerate(tos)]
                return f"SELECT {', '.join(keys)}, * FROM {edge_sql} AS __pgq_t"

            edge_sql = (
                f"({oriented(src_fks, dst_fks)} UNION ALL {oriented(dst_fks, src_fks)})"
            )
            from_cols = [f"__pgq_from_{i}" for i in range(len(src_fks))]
            to_cols = [f"__pgq_to_{i}" for i in range(len(dst_fks))]
        elif edge.direction == EDGE_LEFT:
            from_cols, to_cols = src_fks, dst_fks  # e.src = b, e.dst = a
        else:  # RIGHT and BOTH share the forward orientation
            from_cols, to_cols = src_fks, dst_fks

        def endpoint_cond(binding_v: str, vpgt, cols_e: list[str], is_source: bool) -> str:
            pks = self._endpoint_pks(pgt, vpgt, prefer_source=is_source)
            if len(pks) != len(cols_e):
                raise PGQBinderError(
                    f"Edge table '{pgt.table_name}': key column count mismatch "
                    f"({len(cols_e)} fk vs {len(pks)} pk)"
                )
            return " AND ".join(
                f"{_q(e)}.{_q(c)} = {_q(binding_v)}.{_q(pk)}"
                for c, pk in zip(cols_e, pks)
            )

        # figure out which side condition mentions prev (already in plan) vs nxt
        swapped = edge.direction == EDGE_LEFT
        if nxt_new:
            nxt_pgt = self._vertex_pgt(nxt)
        else:
            nxt_pgt = self.bound[nxt.binding]["pgt"]

        if swapped:
            cond_prev = endpoint_cond(prev.binding, prev_pgt, to_cols, is_source=False)
            cond_nxt = endpoint_cond(nxt.binding, nxt_pgt, from_cols, is_source=True)
        else:
            cond_prev = endpoint_cond(prev.binding, prev_pgt, from_cols, is_source=True)
            cond_nxt = endpoint_cond(nxt.binding, nxt_pgt, to_cols, is_source=False)

        if nxt_new:
            self.joins.append((edge_sql, e, cond_prev))
            self.joins.append((self.pg.element_sql(nxt.label), nxt.binding, cond_nxt))
            self.bound[nxt.binding] = {"kind": "vertex", "pgt": nxt_pgt, "label": nxt.label}
        else:
            self.joins.append((edge_sql, e, f"({cond_prev}) AND ({cond_nxt})"))
        self.bound[e] = {"kind": "edge", "pgt": pgt, "label": edge.label}

        if edge.direction == EDGE_BOTH:
            # require the reverse edge too (match.cpp:416-444): second aliased copy
            e2 = f"__rev_{e}"
            nxt_pks = self._endpoint_pks(pgt, nxt_pgt, prefer_source=True)
            prev_pks = self._endpoint_pks(pgt, prev_pgt, prefer_source=False)
            rev_cond = " AND ".join(
                [
                    f"{_q(e2)}.{_q(c)} = {_q(nxt.binding)}.{_q(pk)}"
                    for c, pk in zip(src_fks, nxt_pks)
                ]
                + [
                    f"{_q(e2)}.{_q(c)} = {_q(prev.binding)}.{_q(pk)}"
                    for c, pk in zip(dst_fks, prev_pks)
                ]
            )
            self.joins.append((self.pg.element_sql(edge.label), e2, rev_cond))
        if path_var is not None and len_only:
            # length-only named path: a fixed segment is exactly one hop —
            # no array, no edge id, no integral-key requirement
            self.path_vars.setdefault(path_var, e)
            self.path_len_segments.setdefault(path_var, []).append("1")
        elif path_var is not None:
            # contribute this fixed segment to the named path, in pattern
            # order (direction does not reorder the contribution — the
            # reference appends prev/edge/next rowids as written,
            # match.cpp:602-620)
            prev_pk = self._endpoint_pk(pgt, prev_pgt, prefer_source=not swapped)
            nxt_pk = self._endpoint_pk(pgt, nxt_pgt, prefer_source=swapped)
            for vt, pk in ((prev_pgt, prev_pk), (nxt_pgt, nxt_pk)):
                pathops.require_integral_keys(
                    self._schema(vt.table_name), [pk],
                    f"vertex table '{vt.table_name}' (named path)",
                )
            self.path_vars.setdefault(path_var, e)
            segs = self.path_segments.setdefault(path_var, [])
            eid_sql = f"cast({_q(e)}.{_q(eid_col)} as bigint)"
            nxt_sql = f"cast({_q(nxt.binding)}.{_q(nxt_pk)} as bigint)"
            if segs:
                segs.append(f"array({eid_sql}, {nxt_sql})")
            else:
                prev_sql = f"cast({_q(prev.binding)}.{_q(prev_pk)} as bigint)"
                segs.append(f"array({prev_sql}, {eid_sql}, {nxt_sql})")
        if edge.where:
            self.filters.append(edge.where)
        if nxt.where:
            self.filters.append(nxt.where)

    # -- variable-length / shortest-path edges -------------------------
    def _bind_path_edge(
        self,
        pattern: PathPattern,
        prev: VertexElement,
        edge: EdgeElement,
        nxt: VertexElement,
    ) -> None:
        if edge.direction in (EDGE_LEFT, EDGE_BOTH):
            # parity with the reference, which rejects these for path finding
            # (match.cpp:550-555,686-690)
            raise PGQNotImplementedError(
                "Shortest path/quantified edges over <-[e]- or <-[e]-> are not supported"
            )
        if edge.label is None:
            raise PGQBinderError(f"Edge binding '{edge.binding}' needs a label")
        pgt = self.pg.table_for_label(edge.label)
        # heterogeneous vertex domains (SNB-style Person-likes->Message):
        # vertex identity is (table, key), realised as table-tagged
        # xxhash64 surrogates, so the two key domains traverse as one
        # union graph without ever colliding.  The reference's union CSR
        # sizes the dense-id space by the source table alone
        # (compressed_sparse_row.cpp:132-143), conflating distinct tables'
        # rowids — tagged surrogates are the principled Spark-side fix.
        hetero = pgt.source_reference != pgt.destination_reference
        src_fks, dst_fks = list(pgt.source_fk), list(pgt.destination_fk)
        e = edge.binding

        edf = self.pg.element_df(edge.label)
        # surrogate ids whenever the natural key is not a single integral
        # column: composite keys AND string/decimal/etc. single keys both
        # hash (the reference renumbers arbitrary key types to dense rowids
        # at CSR build; hashing needs no global sort).  Heterogeneous
        # domains always hash — raw integral keys of different tables
        # would collide (supplier 3 == nation 3).
        composite = (
            hetero
            or len(src_fks) > 1
            or not pathops.integral_keys(self._schema(pgt.table_name), src_fks + dst_fks)
            or not pathops.integral_keys(
                self._schema(pgt.source_reference), pgt.source_pk
            )
        )
        # integrity guard before any traversal (reference error parity:
        # non-unique/missing vertices report the CSR constraint error
        # regardless of key type, non-unique-vertices.test); on the
        # surrogate route it also proves hash collision-freedom AND that
        # edge-side hashes resolve against vertex-side hashes
        self._check_path_vertices(
            edge.label, pgt, edf, src_fks, dst_fks, surrogate=composite
        )
        if composite:
            # surrogate long vertex ids: xxhash64 over the string-rendered
            # key tuple (string casts make INT fk vs BIGINT pk hash alike).
            # The reference renumbers composite keys to dense rowids at CSR
            # build (csr_creation.cpp) — same idea, but hashing needs no
            # global sort; _check_path_vertices proves the hash is
            # collision-free on this graph before any traversal runs.
            # Path arrays/element ids then contain surrogate ids, exactly
            # as the reference's contain rowids.  On heterogeneous edges
            # each side hashes with its OWN vertex table's tag and canon
            # flags (the sides may differ in arity and key types).
            s_canon, s_tag = self._surrogate_parts(pgt, "src")
            d_canon, d_tag = self._surrogate_parts(pgt, "dst")
            edf = edf.withColumn(
                "__pgq_src_h", _key_hash([F.col(c) for c in src_fks], s_canon, s_tag)
            ).withColumn(
                "__pgq_dst_h", _key_hash([F.col(c) for c in dst_fks], d_canon, d_tag)
            )
            src_fk, dst_fk = "__pgq_src_h", "__pgq_dst_h"
        else:
            src_fk, dst_fk = src_fks[0], dst_fks[0]
            pathops.require_integral_keys(
                self._schema(pgt.table_name), [src_fk, dst_fk],
                f"edge table '{pgt.table_name}'",
            )
            pathops.require_integral_keys(
                self._schema(pgt.source_reference),
                pgt.source_pk,
                f"vertex table '{pgt.source_reference}'",
            )
        # TRAIL/ACYCLIC/SIMPLE on a quantified segment enumerate ALL
        # non-repeating paths (beyond-reference); under ANY SHORTEST the
        # mode is a no-op (a shortest walk already repeats nothing)
        enumerate_mode = (
            pattern.path_mode
            if pattern.path_mode != "WALK" and not pattern.shortest
            else None
        )
        topk = pattern.topk or 1
        if pattern.cheapest:
            # beyond-reference (GQL-style ANY CHEAPEST): weighted cheapest
            # walk via the Bellman-Ford kernel; only unbounded quantifiers
            # make sense (the unconstrained optimum may exceed any hop cap,
            # so a bounded {l,u} cannot be answered by filtering it)
            if pattern.path_mode != "WALK":
                raise PGQNotImplementedError(
                    "ANY CHEAPEST does not combine with TRAIL/ACYCLIC/SIMPLE"
                )
            if edge.upper is not None or edge.lower not in (0, 1):
                raise PGQNotImplementedError(
                    "ANY CHEAPEST supports only the * and + quantifiers"
                )
            if edge.cost_col is None:
                raise PGQBinderError(
                    "ANY CHEAPEST requires COST <column> inside the "
                    "quantified edge, e.g. -[e:Label COST w]->*"
                )
            edge_cols = self._schema(pgt.table_name).names
            cost_lookup = {c.lower(): c for c in edge_cols}
            if edge.cost_col not in cost_lookup:
                raise PGQBinderError(
                    f"COST column '{edge.cost_col}' does not exist on edge "
                    f"table '{pgt.table_name}' (columns: {edge_cols})"
                )
            edge_cost_col = cost_lookup[edge.cost_col]
        len_only = self._len_only(pattern.path_variable) and not pattern.cheapest
        # track path arrays only when something observes them: a path
        # variable used beyond path_length, path-mode enumeration, ALL
        # SHORTEST multiplicities, or SHORTEST k tie-breaking.  ANY
        # SHORTEST with length-only (or no) path usage needs just the dist
        # column — skipping arrays drops the per-level concat + lex-min
        # groupBy from every BFS level.
        cost_only = pattern.cheapest and self._cost_only(pattern.path_variable)
        need_path = (
            (
                pattern.path_variable is not None
                and not len_only
                and not cost_only
            )
            or enumerate_mode is not None
            or pattern.all_shortest
            or topk > 1
            # `+` under CHEAPEST excludes the zero-hop self row, detected
            # from the path array length — so the array must exist
            or (pattern.cheapest and edge.lower == 1)
        )
        edges = pathops.edge_frame(
            edf,
            src_fk,
            dst_fk,
            undirected=edge.direction == EDGE_ANY,
            edge_id_col=pgt.edge_id_col,
            with_edge_ids=need_path,
            weight_col=edge_cost_col if pattern.cheapest else None,
        )
        # restrict the BFS to sources actually joinable from the left vertex;
        # an inline WHERE on the source element prunes the source set BEFORE
        # the traversal (BFS from 10 seeds instead of |V| — the difference
        # between a seeded expansion and an all-pairs closure at scale)
        prev_info = self.bound[prev.binding]
        src_key = self._endpoint_key_sql(pgt, prev_info["pgt"], True, prev.binding, composite)
        src_vdf = self.pg.element_df(prev.label or prev_info["label"]).alias(prev.binding)
        if prev.where:
            src_vdf = src_vdf.where(_sql(prev.where))
        sources = src_vdf.selectExpr(src_key)
        # effective quantifier bounds: ANY SHORTEST over a plain edge = one hop
        if not edge.quantified:
            lower, upper = 1, 1
        else:
            lower, upper = edge.lower, edge.upper
        if upper is not None and lower > upper:
            raise PGQConstraintError("Lower bound greater than upper bound")
        if upper is None and not pattern.shortest and not pattern.cheapest and enumerate_mode is None:
            # reference parity (match.cpp:100-104): plain (ALL-walks)
            # unbounded quantifiers are rejected — only ANY SHORTEST may
            # traverse without an upper bound.  Non-WALK modes consume a
            # vertex/edge per step, so unbounded IS allowed there (that is
            # exactly what the reference's error message suggests).
            raise PGQConstraintError(
                "ALL unbounded with path mode WALK is not possible as this "
                "could lead to infinite results. Consider specifying an upper "
                "bound or path mode other than WALK"
            )
        if pattern.cheapest:
            dist = pathops.cheapest_path_distances(
                edges, sources=sources, track_paths=need_path
            )
        elif enumerate_mode is not None:
            # one row PER distinct non-repeating path (not per pair)
            dist = pathops.bfs_all_paths(
                edges, sources=sources, mode=enumerate_mode, max_hops=upper
            )
        elif (
            pattern.shortest
            and not need_path
            and nxt.binding not in self.bound
            and self._point_eq_where(prev, self._endpoint_pks(pgt, prev_info["pgt"], True))
            and self._point_eq_where(
                nxt, self._endpoint_pks(pgt, self._vertex_pgt(nxt), False)
            )
        ):
            # both endpoints pinned to single vertices by key-equality
            # predicates and only distances observed: meet-in-the-middle
            # BFS touches O(B^(L/2)) vertices per side instead of O(B^L)
            # (the reference's iterativelength_bidirectional variant)
            dst_pgt = self._vertex_pgt(nxt)
            dst_vdf = self.pg.element_df(nxt.label).alias(nxt.binding)
            dst_vdf = dst_vdf.where(_sql(nxt.where))
            dst_key = self._endpoint_key_sql(pgt, dst_pgt, False, nxt.binding, composite)
            pairs = sources.toDF("src").crossJoin(dst_vdf.selectExpr(dst_key).toDF("dst"))
            dist = pathops.bidirectional_length(edges, pairs, max_hops=upper)
        else:
            dist = pathops.bfs_distances(
                edges,
                sources=sources,
                max_hops=upper,
                track_paths=need_path,
                k=topk,
                all_shortest=pattern.all_shortest,
            )
        # virtual edge table (src, dst, dist [, path])
        prev_pgt = self.bound[prev.binding]["pgt"]
        nxt_new = nxt.binding not in self.bound
        nxt_pgt = self._vertex_pgt(nxt) if nxt_new else self.bound[nxt.binding]["pgt"]

        cond_prev = (
            f"{_q(e)}.`src` = "
            f"{self._endpoint_key_sql(pgt, prev_pgt, True, prev.binding, composite)}"
        )
        cond_nxt = (
            f"{_q(e)}.`dst` = "
            f"{self._endpoint_key_sql(pgt, nxt_pgt, False, nxt.binding, composite)}"
        )
        self.joins.append((dist, e, cond_prev))
        if nxt_new:
            self.joins.append((self.pg.element_sql(nxt.label), nxt.binding, cond_nxt))
            self.bound[nxt.binding] = {"kind": "vertex", "pgt": nxt_pgt, "label": nxt.label}
        else:
            self.conds.append(cond_nxt)
        self.bound[e] = {"kind": "path", "pgt": pgt, "label": edge.label}

        # quantifier bounds filter (BETWEEN semantics of match.cpp:657-671)
        if pattern.cheapest:
            # no dist column — `+` excludes the zero-hop self row via the
            # interleaved array length ([v] alone = 0 hops).  Like ANY
            # SHORTEST with `+`, (a, a) pairs then disappear entirely even
            # on cyclic graphs: the per-pair optimum is the 0-hop row, and
            # the cheapest CLOSED walk is a different query (house
            # semantics, shared with the shortest route's dist >= 1)
            if lower == 1:
                self.conds.append(f"size({_q(e)}.`path`) >= 3")
        elif upper is not None:
            self.conds.append(f"{_q(e)}.`dist` BETWEEN {lower} AND {upper}")
        elif lower > 0:
            self.conds.append(f"{_q(e)}.`dist` >= {lower}")
        if pattern.path_variable:
            if pattern.path_variable in self.path_quantified:
                raise PGQNotImplementedError(
                    f"Path variable '{pattern.path_variable}' spans multiple "
                    "quantified segments; bind at most one quantified edge "
                    "per named path"
                )
            self.path_quantified.add(pattern.path_variable)
            self.path_vars.setdefault(pattern.path_variable, e)
            if pattern.cheapest:
                self.path_cost_cols[pattern.path_variable] = (
                    f"cast({_q(e)}.`cost` as double)"
                )
                if not need_path:
                    # cost-only compilation: no array exists to register
                    if nxt.where:
                        self.filters.append(nxt.where)
                    return
            if len_only:
                # length-only named path: the BFS dist column IS the
                # segment's hop count; no array was tracked
                self.path_len_segments.setdefault(pattern.path_variable, []).append(
                    f"cast({_q(e)}.`dist` as bigint)"
                )
                if nxt.where:
                    self.filters.append(nxt.where)
                return
            segs = self.path_segments.setdefault(pattern.path_variable, [])
            p = f"{_q(e)}.`path`"
            if segs:
                # the segment's source vertex equals the previous segment's
                # endpoint: drop it (array_pop_front, match.cpp:580-589)
                segs.append(f"slice({p}, 2, greatest(size({p}) - 1, 0))")
            else:
                segs.append(p)
        if nxt.where:
            self.filters.append(nxt.where)

    def _check_path_vertices(
        self,
        label,
        pgt,
        edf,
        src_fks: list[str],
        dst_fks: list[str],
        surrogate: bool = False,
    ) -> None:
        """Edge-integrity guard for path finding, mirroring the reference's
        CSR build check (csr_creation.cpp:121-125; error text matched for
        test parity, non-unique-vertices.test): every edge endpoint must
        resolve to exactly one vertex.  On the surrogate route the same
        pass also proves the xxhash64 surrogate key is collision-free on
        this vertex set (distinct hashes == distinct key tuples, NULL-key
        rows excluded from both counts so they cannot fake a collision)
        AND that every edge-side key hash resolves against a vertex-side
        hash — so fk/pk rendering divergence (e.g. exotic type mixes the
        canonicalization doesn't cover) fails loudly instead of silently
        returning empty paths.  Cached per edge label for the session —
        one validation pass per graph, not per query.
        """
        cache = getattr(self.pg, "_path_vertex_checked", None)
        if cache is None:
            cache = self.pg._path_vertex_checked = set()
        key = label.lower()
        if key in cache:
            return
        if pgt.source_reference != pgt.destination_reference:
            self._check_path_vertices_hetero(pgt, edf, src_fks, dst_fks)
            cache.add(key)
            return
        pks = list(pgt.source_pk)
        vtab = table_df(self.pg.spark, pgt.source_reference)
        vkeys = vtab.select(*[F.col(c).alias(f"__vk{i}") for i, c in enumerate(pks)])
        if surrogate or len(pks) > 1 or not pathops.integral_keys(vtab, pks):
            canon = self._key_canon(pgt)
            nn = vtab
            for c in pks:  # NULL-key vertices are unaddressable; exclude
                nn = nn.where(F.col(c).isNotNull())
            stats = nn.agg(
                F.countDistinct(*[F.col(c) for c in pks]).alias("n_tuples"),
                F.countDistinct(_key_hash([F.col(c) for c in pks], canon)).alias(
                    "n_hashes"
                ),
            ).first()
            if stats["n_tuples"] != stats["n_hashes"]:
                raise PGQConstraintError(
                    f"Surrogate-key hash collision on vertex table "
                    f"'{pgt.source_reference}' composite key {pks}; "
                    "path-finding over this graph needs an explicit "
                    "single-column key"
                )
        def cond(fks, prefix):
            c = None
            for i, fk in enumerate(fks):
                eq = F.col(fk) == F.col(f"{prefix}{i}")
                c = eq if c is None else (c & eq)
            return c

        n_edges = edf.count()
        resolved = (
            edf.join(vkeys, cond(src_fks, "__vk"), "inner")
            .drop(*[f"__vk{i}" for i in range(len(pks))])
            .join(
                vkeys.select(
                    *[F.col(f"__vk{i}").alias(f"__vl{i}") for i in range(len(pks))]
                ),
                cond(dst_fks, "__vl"),
                "inner",
            )
            .count()
        )
        if resolved != n_edges:
            raise PGQConstraintError(
                "Non-existent/non-unique vertices detected. Make sure all "
                "vertices referred by edge tables exist and are unique for "
                "path-finding queries."
            )
        if surrogate:
            # natural keys resolve (above) — now prove the HASHES resolve
            # too, i.e. fk-side and pk-side renderings agree for every edge
            # (they can diverge on type mixes canonicalization doesn't
            # cover, which would otherwise silently produce empty paths)
            canon = self._key_canon(pgt)
            nn = vtab
            for c in pks:
                nn = nn.where(F.col(c).isNotNull())
            vh = nn.select(_key_hash([F.col(c) for c in pks], canon).alias("__vh"))
            eh = edf.select(
                _key_hash([F.col(c) for c in src_fks], canon).alias("__sh"),
                _key_hash([F.col(c) for c in dst_fks], canon).alias("__dh"),
            )
            n_resolved_h = (
                eh.join(vh, F.col("__sh") == F.col("__vh"), "left_semi")
                .join(
                    vh.select(F.col("__vh").alias("__vh2")),
                    F.col("__dh") == F.col("__vh2"),
                    "left_semi",
                )
                .count()
            )
            if n_resolved_h != n_edges:
                raise PGQConstraintError(
                    f"Surrogate key hashes of edge table '{pgt.table_name}' "
                    f"do not all resolve against vertex table "
                    f"'{pgt.source_reference}' — fk and pk key types render "
                    "differently (mixed string/numeric key positions?); "
                    "use matching key types or a single integral key"
                )
        cache.add(key)

    def _check_path_vertices_hetero(
        self, pgt, edf, src_fks: list[str], dst_fks: list[str]
    ) -> None:
        """Heterogeneous-edge variant of the edge-integrity guard: the two
        endpoint domains are different tables, so each side resolves
        against its OWN vertex table, each table proves its tagged hash is
        collision-free, and the two tagged hash sets are proven disjoint
        (a cross-table collision would silently merge two vertices into
        one traversal node).  All checks are one-pass aggregates over the
        vertex tables plus one semi-join pass over the edges — cached per
        edge label like the homogeneous guard."""
        n_edges = edf.count()
        side_hashes = {}
        for side, vref, pks, fks in (
            ("src", pgt.source_reference, list(pgt.source_pk), src_fks),
            ("dst", pgt.destination_reference, list(pgt.destination_pk), dst_fks),
        ):
            vtab = table_df(self.pg.spark, vref)
            canon, tag = self._surrogate_parts(pgt, side)
            # natural-key resolution + uniqueness (reference error parity,
            # csr_creation.cpp:121-125): inner-join count equals edge
            # count iff every fk resolves to EXACTLY one vertex
            vkeys = vtab.select(
                *[F.col(c).alias(f"__vk{i}") for i, c in enumerate(pks)]
            )
            cond = None
            for i, fk in enumerate(fks):
                eq = F.col(fk) == F.col(f"__vk{i}")
                cond = eq if cond is None else (cond & eq)
            if edf.join(vkeys, cond, "inner").count() != n_edges:
                raise PGQConstraintError(
                    "Non-existent/non-unique vertices detected. Make sure all "
                    "vertices referred by edge tables exist and are unique for "
                    "path-finding queries."
                )
            # tagged-hash collision proof within this vertex table
            nn = vtab
            for c in pks:
                nn = nn.where(F.col(c).isNotNull())
            stats = nn.agg(
                F.countDistinct(*[F.col(c) for c in pks]).alias("n_tuples"),
                F.countDistinct(
                    _key_hash([F.col(c) for c in pks], canon, tag)
                ).alias("n_hashes"),
            ).first()
            if stats["n_tuples"] != stats["n_hashes"]:
                raise PGQConstraintError(
                    f"Surrogate-key hash collision on vertex table '{vref}' "
                    f"key {pks}; path-finding over this graph needs an "
                    "explicit single-column key"
                )
            # edge-side hashes must resolve against vertex-side hashes
            # (fk/pk rendering divergence fails loudly, not as empty paths)
            vh = nn.select(
                _key_hash([F.col(c) for c in pks], canon, tag).alias("__vh")
            )
            eh = edf.select(
                _key_hash([F.col(c) for c in fks], canon, tag).alias("__eh")
            )
            if eh.join(vh, F.col("__eh") == F.col("__vh"), "left_semi").count() != n_edges:
                raise PGQConstraintError(
                    f"Surrogate key hashes of edge table '{pgt.table_name}' "
                    f"({side} side) do not all resolve against vertex table "
                    f"'{vref}'; use matching key types or a single integral key"
                )
            side_hashes[side] = vh
        # the two tagged domains must be disjoint — a cross-table hash
        # collision would alias a source-domain vertex to a dest-domain one
        overlap = (
            side_hashes["src"]
            .join(
                side_hashes["dst"].select(F.col("__vh").alias("__vh2")),
                F.col("__vh") == F.col("__vh2"),
                "left_semi",
            )
            .count()
        )
        if overlap:
            raise PGQConstraintError(
                f"Tagged surrogate hash collision across vertex tables "
                f"'{pgt.source_reference}' and '{pgt.destination_reference}'"
            )

    # -- projection ----------------------------------------------------
    def _prop_cols(self, binding: str) -> list[str]:
        return [
            f"{_q(binding)}.{_q(src)} AS {_q(exposed)}"
            for src, exposed in self._props(self.bound[binding]["pgt"])
        ]

    def _validate_expr_refs(self, text: str) -> None:
        # strip string literals so 'a.b' inside quotes is not mistaken for a ref
        stripped = re.sub(r"'(?:[^']|'')*'", "''", text)
        for m in _PROP_REF_RE.finditer(stripped):
            binding, prop = m.group(1).lower(), m.group(2)
            info = self.bound.get(binding)
            if info is None:
                raise PGQBinderError(
                    f"Binding '{m.group(1)}' in '{text}' is not defined in the "
                    "MATCH pattern"
                )
            if info["kind"] == "path":
                continue
            pgt = info["pgt"]
            registered = {c.lower() for c, _ in self._props(pgt)}
            keys = {
                c.lower()
                for c in (
                    pgt.source_fk + pgt.destination_fk + pgt.source_pk + pgt.destination_pk
                )
            }
            if prop.lower() not in registered | keys:
                raise PGQBinderError(
                    f"Property '{prop}' is never registered on binding '{binding}'"
                )

    _POINT_EQ_RE = re.compile(
        r"^\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s*=\s*(\d+|'[^']*')\s*$"
    )

    def _point_eq_where(self, el, pks: list[str]) -> bool:
        """True when a vertex element's inline WHERE pins it to (at most)
        one vertex: a single `binding.pk = literal` equality on the vertex
        key this edge joins on.  The trigger for bidirectional point
        queries — conservative by design (a non-key equality may still
        select millions of rows, which the batched multi-source BFS
        handles better)."""
        if not el.where or len(pks) != 1:
            return False
        m = self._POINT_EQ_RE.match(el.where)
        return (
            m is not None
            and m.group(1).lower() == el.binding.lower()
            and m.group(2).lower() == pks[0].lower()
        )

    def _path_fn_sql(self, item: ColumnItem) -> str:
        if item.fn == "path_cost":
            src = self.path_cost_cols.get(item.path_var)
            if not src:
                raise PGQBinderError(
                    f"path_cost() requires an ANY CHEAPEST path; "
                    f"'{item.path_var}' carries no cost"
                )
            return src
        if item.path_var in self.path_len_segments:
            # length-only path: no array exists; path_length is the sum of
            # per-segment hop counts (1 per fixed segment, dist per
            # quantified segment)
            lens = self.path_len_segments[item.path_var]
            if item.fn != "path_length":  # pragma: no cover — gated upstream
                raise PGQBinderError(
                    f"Path variable '{item.path_var}' was compiled length-only"
                )
            return "cast(" + " + ".join(lens) + " as bigint)"
        segs = self.path_segments.get(item.path_var)
        if not segs:
            raise PGQBinderError(f"Path variable '{item.path_var}' is not defined")
        # full-pattern path: concatenation of every segment in pattern order
        # (fixed [v,e,v] triples and pop-fronted BFS arrays alike,
        # CreatePathFindingFunction, match.cpp:497-707)
        p = segs[0] if len(segs) == 1 else "concat(" + ", ".join(segs) + ")"
        if item.fn == "element_id":
            return p
        if item.fn == "path_length":
            # interleaved [v,e,v,...,v]: length = size // 2 (match.cpp:745-760);
            # BIGINT like the reference's result type (iterativelength.cpp:149-151)
            return f"cast(size({p}) div 2 as bigint)"
        if item.fn == "vertices":
            return f"transform(sequence(0, size({p}) - 1, 2), i -> element_at({p}, i + 1))"
        if item.fn == "edges":
            return (
                f"IF(size({p}) < 3, cast(array() as array<bigint>), "
                f"transform(sequence(1, size({p}) - 2, 2), i -> element_at({p}, i + 1)))"
            )
        raise PGQBinderError(f"Unknown path function '{item.fn}'")  # pragma: no cover

    def _project(self) -> list[str]:
        """The select list; aggregate-only COLUMNS need no GROUP BY."""
        select_cols = []
        agg_flags = []
        # duplicate defaulted names get _1/_2 suffixes like the reference's
        # generated SQL (nested_subquery.test: COLUMNS(p.id, p2.id) -> id,
        # id_1); explicitly-aliased columns are never renamed
        used_names: dict[str, int] = {}

        def uniq(name: str) -> str:
            key = name.lower()
            if key not in used_names:
                used_names[key] = 0
                return name
            used_names[key] += 1
            return f"{name}_{used_names[key]}"

        for item in self.expr.columns:
            if item.kind == "star" or (item.kind == "expr" and item.text == "*"):
                if item.kind == "star":
                    if item.binding not in self.bound:
                        raise PGQBinderError(f"Unknown binding '{item.binding}'")
                    select_cols.extend(self._prop_cols(item.binding))
                    agg_flags.append(False)
                else:
                    for b, info in self.bound.items():
                        if not b.startswith("__") and info["kind"] != "path":
                            select_cols.extend(self._prop_cols(b))
                    agg_flags.append(False)
            elif item.kind == "binding":
                if item.binding in self.bound and self.bound[item.binding]["kind"] != "path":
                    cols = ", ".join(self._prop_cols(item.binding))
                    select_cols.append(f"struct({cols}) AS {_q(item.alias or item.binding)}")
                    agg_flags.append(False)
                elif item.binding in self.path_vars:
                    # parity with the reference, which rejects a bare path
                    # variable in COLUMNS (shortest_path.test:88-95)
                    raise PGQBinderError(
                        f"Property {item.binding} is never registered! "
                        "(use element_id/path_length/vertices/edges)"
                    )
                else:
                    # bare property name: resolve across bindings if unique
                    # (the reference allows COLUMNS(firstName, ...),
                    # test/sql/snb/snb.test IS1)
                    matches = []
                    for b, info in self.bound.items():
                        if info["kind"] == "path" or b.startswith("__"):
                            continue
                        for src_col, exposed in self._props(info["pgt"]):
                            if exposed.lower() == item.binding:
                                matches.append((b, src_col, exposed))
                    if len(matches) == 1:
                        b, src_col, exposed = matches[0]
                        select_cols.append(
                            f"{_q(b)}.{_q(src_col)} AS {_q(item.alias or uniq(exposed))}"
                        )
                        agg_flags.append(False)
                    elif len(matches) > 1:
                        raise PGQBinderError(
                            f"Property '{item.binding}' is ambiguous across bindings "
                            f"{sorted({m[0] for m in matches})}"
                        )
                    else:
                        raise PGQBinderError(f"Unknown binding '{item.binding}'")
            elif item.kind == "path_fn":
                select_cols.append(f"{self._path_fn_sql(item)} AS {_q(item.alias or item.fn)}")
                agg_flags.append(False)
            else:
                self._validate_expr_refs(item.text)
                if item.alias:
                    alias = item.alias
                else:
                    mref = _SIMPLE_REF_RE.match(item.text)
                    alias = uniq(mref.group(2) or mref.group(3)) if mref else item.text
                select_cols.append(f"{_sql(item.text)} AS {_q(alias)}")
                agg_flags.append(bool(_AGG_RE.match(item.text)))
        if any(agg_flags) and not all(agg_flags):
            raise PGQBinderError(
                "COLUMNS mixing aggregates and plain columns requires GROUP BY in "
                "the outer query; aggregate-only COLUMNS are supported"
            )
        return select_cols


def compile_match(pg: PropertyGraph, expr: MatchExpression) -> CompiledMatch:
    compiled = MatchCompiler(pg, expr).compile()
    if _log.isEnabledFor(logging.DEBUG):
        _log.debug("GRAPH_TABLE on graph %s compiled to: %s", pg.name, compiled.sql)
    return compiled
