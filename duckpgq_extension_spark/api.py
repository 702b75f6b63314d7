"""Public engine facade: DDL execution, MATCH compilation, algorithm table
functions, introspection — the Spark equivalent of everything duckpgq
registers on a DuckDB connection.

Reference surface covered here (SURVEY.md §2A):
- CREATE / DROP PROPERTY GRAPH (create_property_graph.cpp, drop_property_graph.cpp)
- DESCRIBE / SUMMARIZE PROPERTY GRAPH (describe_property_graph.cpp:13-160,
  summarize_property_graph.cpp:54-92)
- PRAGMA show_property_graphs / create_vertex_table (src/core/pragma/*)
- GRAPH_TABLE(...) pattern matching (match.cpp:969-1093) including inside
  arbitrary SQL via a light preprocessor (`PGQSession.sql`)
- pagerank / weakly_connected_component / local_clustering_coefficient
  table functions (src/core/functions/table/{pagerank,weakly_connected_component,
  local_clustering_coefficient}.cpp)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from . import algorithms
from .catalog import GraphCatalog, PropertyGraph, table_df
from .errors import PGQBinderError, PGQNotImplementedError, PGQParseError
from .operators import paths as pathops
from .parser.ast import CreatePropertyGraph, DropPropertyGraph
from .parser.pgq_parser import Parser, parse_graph_table_body, parse_match
from .plans.compiler import (
    CompiledMatch,
    _key_canon_flags,
    _key_hash,
    compile_match,
    esc_braces,
)

# `GRAPH TABLE` (space) is an accepted spelling alongside `GRAPH_TABLE`
# (graph_table_keyword.test:22-27)
_GRAPH_TABLE_RE = re.compile(r"\bGRAPH(?:_|\s+)TABLE\s*\(", re.IGNORECASE)


def _skip_special(query: str, i: int) -> int | None:
    """If query[i] opens a quoted string ('...'), quoted identifier ("..."
    or `...`), or a -- / slash-star comment, return the index just past its
    end (clamped to len); else None.  Shared by the GRAPH_TABLE detector
    and the paren matcher so both agree on what is 'inside a literal'."""
    c = query[i]
    n = len(query)
    if c in ("'", '"', "`"):
        j = query.find(c, i + 1)
        return n if j == -1 else j + 1
    if c == "-" and query[i + 1 : i + 2] == "-":
        j = query.find("\n", i)
        return n if j == -1 else j + 1
    if c == "/" and query[i + 1 : i + 2] == "*":
        j = query.find("*/", i + 2)
        return n if j == -1 else j + 2
    return None


def _close_paren(query: str, i: int) -> int:
    """Index just past the paren closing the one opened before `i`,
    skipping quoted strings, double-quoted identifiers, and -- / /* */
    comments (a paren inside any of those must not affect nesting depth)."""
    depth, n = 1, len(query)
    while i < n and depth > 0:
        skip = _skip_special(query, i)
        if skip is not None:
            i = skip
            continue
        depth += {"(": 1, ")": -1}.get(query[i], 0)
        i += 1
    if depth != 0:
        raise PGQParseError("Unbalanced parentheses in GRAPH_TABLE(...)")
    return i


# words that can legally follow a derived table WITHOUT being its alias —
# used to decide whether GRAPH_TABLE(...) needs the implicit
# `unnamed_subquery` alias (DuckDB's convention for aliasless subqueries)
_CLAUSE_KEYWORDS = {
    "", "where", "group", "order", "limit", "offset", "fetch", "having",
    "qualify", "window", "union", "intersect", "except", "join", "inner",
    "left", "right", "full", "cross", "natural", "on", "using",
}


def _next_word(text: str, pos: int) -> str:
    m = re.match(r"\s*([A-Za-z_][\w$]*)?", text[pos:])
    return (m.group(1) or "").lower() if m else ""


def _prev_word(text: str, pos: int) -> str:
    """The word (or ',') immediately before `pos`, lowercased — table
    position test for FROM-clause function substitution."""
    m = re.search(r"([A-Za-z_][\w$]*|,)\s*$", text[:pos])
    return m.group(1).lower() if m else ""


class PGQSession:
    """Wraps a SparkSession with property-graph state, like the reference's
    connection-local DuckPGQState (src/duckpgq_state.cpp:133-186)."""

    def __init__(self, spark: SparkSession, catalog_path: str | None = None):
        self.spark = spark
        self.catalog = GraphCatalog(spark, catalog_path)

    def set_checkpoint_dir(self, path: str | None) -> None:
        """Switch every iterative kernel (BFS / Bellman-Ford / pagerank /
        wcc / lcc) from executor-local `localCheckpoint` to reliable
        `.checkpoint()` under `path` — survives executor loss, the right
        setting for long runs on large clusters.  Pass None to switch back
        to local checkpoints (the default)."""
        from .operators.paths import RELIABLE_CHECKPOINT_CONF

        if path is None:
            self.spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")
        else:
            try:
                self.spark.sparkContext.setCheckpointDir(path)
            except Exception:  # noqa: BLE001 - Spark Connect session
                # no sparkContext on Connect; Dataset.checkpoint reads the
                # server-side conf instead
                self.spark.conf.set("spark.checkpoint.dir", path)
            self.spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")

    def clear_adjacency_cache(self) -> None:
        """Invalidate this session's cached adjacency frames and MinHash
        signatures — the reference's `delete_csr` analog
        (duckpgq_state.cpp:167-185).

        The iterative kernels cache the shuffled/persisted edge frame per
        (session, analyzed plan, file listing) so repeated queries over a
        standing graph skip the re-shuffle, like the reference keeps a
        built CSR until delete_csr.  A view over different files, or over
        a directory a file was appended to, misses on its own; local files
        also carry their sizes and mtimes.  The one case that serves a
        stale snapshot is a file REWRITTEN IN PLACE on non-local storage
        (same path, no mtime in the key) — call this after such a
        mutation."""
        from .operators.paths import clear_prep_cache

        clear_prep_cache(self.spark)

    # -- DDL ------------------------------------------------------------
    def execute(self, statement: str) -> DataFrame:
        stmt = Parser(statement).parse_statement()
        if isinstance(stmt, CreatePropertyGraph):
            pg = PropertyGraph(stmt.name, self.spark)
            for t in stmt.vertex_tables + stmt.edge_tables:
                pg.add_table(t)
            self.catalog.create(
                pg, or_replace=stmt.or_replace, if_not_exists=stmt.if_not_exists
            )
        elif isinstance(stmt, DropPropertyGraph):
            self.catalog.drop(stmt.name, if_exists=stmt.if_exists)
        else:  # pragma: no cover
            raise PGQParseError("Unsupported statement")
        # reference DDL returns a single-row Success column
        # (create_property_graph.cpp:197-198)
        return self.spark.createDataFrame([Row(Success=True)])

    def graph(self, name: str) -> PropertyGraph:
        return self.catalog.get(name)

    def show_property_graphs(self) -> DataFrame:
        names = self.catalog.names()
        return self.spark.createDataFrame(
            [Row(property_graph=n) for n in names] or [],
            schema="property_graph string",
        )

    # -- MATCH ----------------------------------------------------------
    def match(
        self,
        graph: str,
        pattern: str,
        where: str | None = None,
        columns: str = "*",
    ) -> DataFrame:
        expr = parse_match(graph, pattern, where=where, columns=columns)
        compiled = compile_match(self.catalog.get(graph), expr)
        return self._run(compiled.sql, compiled.frames)

    def graph_table(self, body: str) -> DataFrame:
        """Compile a `pg MATCH ... COLUMNS (...)` body to a DataFrame."""
        compiled = self._compile_body(body)
        return self._run(compiled.sql, compiled.frames)

    def _compile_body(self, body: str) -> CompiledMatch:
        expr = parse_graph_table_body(body)
        return compile_match(self.catalog.get(expr.graph_name), expr)

    def _run(self, template: str, frames: dict) -> DataFrame:
        """The one spark.sql call of a statement.  `template` is a
        str.format template over `frames`, which PySpark registers only
        while the statement is analyzed."""
        if frames:
            return self.spark.sql(template, **frames)
        return self.spark.sql(template.format())

    def sql(self, query: str) -> DataFrame:
        """Run SQL that may contain GRAPH_TABLE(...) references and
        FROM-clause algorithm table functions, as one spark.sql statement.

        Each GRAPH_TABLE(...) is compiled to SQL text and spliced in as a
        derived table `(<compiled>) AS <alias>` — the same source-to-source
        strategy as the reference's parser override + bind-replace
        (duckpgq_parser.cpp:40-75, match.cpp:969-1093), done as a
        preprocessor because Spark's parser is not extensible from Python.
        Path-kernel outputs and algorithm results are DataFrames bound by
        name through spark.sql's `{name}` parameters, so no temp view
        outlives the statement.
        """
        dispatch = self._algorithm_dispatch()
        call_re = re.compile(
            r"\b(" + "|".join(dispatch) + r")\s*\(\s*"
            r"(\"[^\"]+\"|\w+)\s*,\s*(\"[^\"]+\"|\w+)\s*,\s*(\"[^\"]+\"|\w+)\s*\)",
            re.IGNORECASE,
        )
        out, frames = [], {}
        # algorithm calls found, run only once the statement parses:
        # (frame name, bound method, args)
        pending: list[tuple[str, object, list[str]]] = []
        pos, n = 0, len(query)
        while True:
            # linear scan for the next GRAPH_TABLE( or table-position
            # algorithm call OUTSIDE quoted strings / identifiers / comments
            # — `SELECT 'graph_table('` must pass through untouched
            # (duckdb_columns.test analog)
            m = algo = None
            j = pos
            while j < n:
                skip = _skip_special(query, j)
                if skip is not None:
                    j = skip
                    continue
                m = _GRAPH_TABLE_RE.match(query, j)
                if m:
                    break
                # FROM/JOIN only — a ',' would also match SELECT-list or
                # argument positions, rewriting a same-named scalar call
                # (comma-style FROM lists are not supported for table
                # functions; use JOIN)
                algo = call_re.match(query, j)
                if algo and _prev_word(query, j) in ("from", "join"):
                    break
                algo = None
                j += 1
            if not (m or algo):
                out.append(esc_braces(query[pos:]))
                break
            out.append(esc_braces(query[pos:j]))
            if algo:
                # Algorithm table functions — `SELECT id, pagerank FROM
                # pagerank(pg, student, know)` — the reference's
                # bind-replace surface for its algorithm wrappers
                # (pagerank.cpp:10-23, weakly_connected_component.cpp:10-25,
                # local_clustering_coefficient.cpp:17-32; golden syntax
                # test/sql/scalar/pagerank.test:24).  Like DuckDB, the
                # aliasless result is referenceable by the function's name.
                fname = algo.group(1).lower()
                args = [a.strip().strip('"') for a in algo.groups()[1:]]
                name = f"__pgq_algo_{len(pending)}"
                pending.append((name, dispatch[fname], args))
                out.append("{" + name + "}")
                alias, i = fname, algo.end()
            else:
                i = _close_paren(query, m.end())
                compiled = self._compile_body(query[m.end() : i - 1])
                frames.update(compiled.frames)
                out.append(f"({compiled.sql})")
                # DuckDB names an aliasless derived table `unnamed_subquery`
                # and lets queries reference its columns through that name
                # (unnamed_subquery.test)
                alias = "unnamed_subquery"
            if _next_word(query, i) in _CLAUSE_KEYWORDS:
                out.append(f" AS {alias}")
            pos = i
        text = "".join(out)
        # DuckDB's FROM-first shorthand (`FROM t LIMIT 10`,
        # unnamed_subquery.test) — Spark requires an explicit SELECT
        if re.match(r"\s*FROM\b", text, re.IGNORECASE):
            text = "SELECT * " + text
        if pending:
            # Algorithm table functions run their iteration eagerly (SCC,
            # k-truss) the moment they're invoked — gate that on the
            # statement actually PARSING, so a syntax error elsewhere costs
            # a parse, not a full algorithm run.
            names = [name for name, _, _ in pending]
            self._assert_parses(text.format(**{k: k for k in [*frames, *names]}))
            for name, fn, args in pending:
                frames[name] = fn(*args)
        return self._run(text, frames)

    def _assert_parses(self, sql: str) -> None:
        """Syntax-check `sql` without resolving views or running anything.

        Uses the JVM session parser when reachable (classic py4j session);
        on Spark Connect the handle is absent and we skip — spark.sql will
        still surface the error, just after the algorithm ran.
        """
        try:
            parser = self.spark._jsparkSession.sessionState().sqlParser()
        except Exception:  # noqa: BLE001 - Connect / no py4j access
            return
        try:
            parser.parsePlan(sql)
        except Exception:
            # surface Spark's canonical captured ParseException (parse fails
            # before any name resolution)
            self.spark.sql(sql)
            raise  # defensive: parsers disagreed — surface the JVM error

    def _algorithm_dispatch(self) -> dict:
        """Table functions `sql` rewrites in FROM/JOIN position; our
        beyond-reference algorithms with the same (pg, vertex, edge) shape
        dispatch too."""
        return {
            "pagerank": self.pagerank,
            "weakly_connected_component": self.weakly_connected_component,
            "local_clustering_coefficient": self.local_clustering_coefficient,
            "strongly_connected_component": self.strongly_connected_component,
            "hits": self.hits,
            "katz_centrality": self.katz_centrality,
            "global_clustering": self.global_clustering,
            "degree_assortativity": self.degree_assortativity,
            "label_propagation": self.label_propagation,
            "eigenvector_centrality": self.eigenvector_centrality,
            "modularity": self.modularity,
            "modularity_refine": self.modularity_refine,
            "contract_communities": self.contract_communities,
            "community_conductance": self.community_conductance,
        }

    # -- algorithm table functions --------------------------------------
    def _graph_frames(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        undirected: bool,
        weight_col: str | None = None,
        with_edge_ids: bool = False,
    ):
        pg = self.catalog.get(graph)
        vt = pg.table_for_label(vertex_label, kind="vertex")
        et = pg.table_for_label(edge_label, kind="edge")
        if vt is et or not et.source_fk:
            raise PGQBinderError(f"'{edge_label}' is not an edge label")
        self._require_single_domain(vertex_label, vt, edge_label, et)
        pks = list(et.source_pk)
        vdf = pg.element_df(vertex_label)
        edf = pg.element_df(edge_label)
        src_expr, dst_expr, surrogate, canon = self._edge_vid_exprs(
            pg, vt, et, vdf, edf
        )
        if surrogate:
            # composite or non-integral (e.g. VARCHAR) keys: xxhash64
            # surrogate vertex ids (same scheme as the MATCH compiler's
            # path route, including numeric canonicalization flags),
            # collision-checked against the actual vertex set before any
            # iteration runs; NULL-key rows excluded from both counts so
            # xxhash64's NULL-skipping can't fake a collision
            nn = vdf
            for c in pks:
                nn = nn.where(F.col(c).isNotNull())
            stats = nn.agg(
                F.countDistinct(*[F.col(c) for c in pks]).alias("t"),
                F.countDistinct(_key_hash([F.col(c) for c in pks], canon)).alias("h"),
            ).first()
            if stats["t"] != stats["h"]:
                from .errors import PGQConstraintError

                raise PGQConstraintError(
                    f"Surrogate-key hash collision on vertex table "
                    f"'{vt.table_name}' key {pks}; whole-graph "
                    "algorithms need an explicit integral key column"
                )
            edf = edf.withColumn("__pgq_src_h", src_expr).withColumn(
                "__pgq_dst_h", dst_expr
            )
            src_c, dst_c = "__pgq_src_h", "__pgq_dst_h"
            vkey = _key_hash([F.col(c) for c in pks], canon)
        else:
            src_c, dst_c = et.source_fk[0], et.destination_fk[0]
            pathops.require_integral_keys(
                edf, [src_c, dst_c], f"edge table '{et.table_name}'"
            )
            pathops.require_integral_keys(vdf, pks, f"vertex table '{vt.table_name}'")
            vkey = F.col(pks[0]).cast("long")
        # match Spark's resolver: name comparison follows
        # spark.sql.caseSensitive so the guard never passes where
        # resolution would fail (or vice versa)
        cs = str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower() == "true"
        norm = (lambda c: c) if cs else (lambda c: c.lower())
        if weight_col is not None and norm(weight_col) not in (
            norm(c) for c in edf.columns
        ):
            raise PGQBinderError(
                f"Weight column '{weight_col}' does not exist on edge table "
                f"'{et.table_name}' (columns: {edf.columns})"
            )
        edges = pathops.edge_frame(
            edf, src_c, dst_c, undirected=undirected, weight_col=weight_col,
            edge_id_col=et.edge_id_col, with_edge_ids=with_edge_ids,
        )
        vertices = vdf.select(vkey)
        return pg, vt, et, pks, vdf, vkey, vertices, edges

    @staticmethod
    def _seed_vids(vdf, vkey, pks, seeds, what: str):
        """Translate a natural-key seed DataFrame (columns positionally
        matching the vertex key) to internal vertex ids through the SAME
        vkey expression as the graph — one definition so the surrogate
        hash / canonicalization can never drift between callers."""
        scols = seeds.columns
        if len(scols) != len(pks):
            raise PGQBinderError(
                f"{what} must have {len(pks)} column(s) matching the "
                f"vertex key {pks}, got {scols}"
            )
        cond = None
        for pk_c, s_c in zip(pks, scols):
            eq = vdf[pk_c] == seeds[s_c]
            cond = eq if cond is None else cond & eq
        return vdf.join(seeds, cond, "left_semi").select(vkey.alias("vid"))

    def pagerank(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        weight_col: str | None = None,
        sources: DataFrame | None = None,
        **kw,
    ) -> DataFrame:
        """(pk, pagerank) — directed graph, like the reference table function
        (src/core/functions/table/pagerank.cpp:10-23).

        `weight_col` names a column ON THE EDGE TABLE (weighted walk);
        `sources` is a DataFrame whose columns positionally match the
        vertex key columns (personalized walk) — key values are routed
        through the same integral-cast / surrogate-hash translation as
        the graph itself, so string/composite-key graphs work."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False, weight_col=weight_col
        )
        if sources is not None:
            sources = self._seed_vids(vdf, vkey, pks, sources, "sources")
        ranks = algorithms.pagerank(
            edges,
            vertices,
            sources=sources,
            weight_col="weight" if weight_col is not None else None,
            **kw,
        )
        return vdf.join(ranks, vkey == ranks["vid"]).select(
            *[vdf[c] for c in pks], F.col("pagerank")
        )

    def weakly_connected_component(
        self, graph: str, vertex_label: str, edge_label: str
    ) -> DataFrame:
        """(pk, componentId) — undirected, min-member representative
        (reference: src/core/functions/table/weakly_connected_component.cpp:10-25;
        representative convention differs, see algorithms.py)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        comp = algorithms.weakly_connected_component(edges, vertices)
        return vdf.join(comp, vkey == comp["vid"]).select(
            *[vdf[c] for c in pks], F.col("component_id").alias("componentId")
        )

    def local_clustering_coefficient(
        self, graph: str, vertex_label: str, edge_label: str
    ) -> DataFrame:
        """(pk, local_clustering_coefficient) — undirected doubled-edge
        convention (src/core/functions/table/local_clustering_coefficient.cpp:17-32)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        lcc = algorithms.local_clustering_coefficient(edges, vertices)
        # FLOAT output for reference type parity (local_clustering_coefficient.cpp:78-80)
        return vdf.join(lcc, vkey == lcc["vid"]).select(
            *[vdf[c] for c in pks],
            F.col("local_clustering_coefficient").cast("float").alias(
                "local_clustering_coefficient"
            ),
        )

    def k_core(
        self, graph: str, vertex_label: str, edge_label: str, k: int
    ) -> DataFrame:
        """(pk...) — the vertices of the undirected k-core
        (beyond-reference; algorithms.k_core peeling to the unique
        fixpoint).  Same surrogate-key routing as the other whole-graph
        algorithms, so composite/string keys work."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        core = algorithms.k_core(edges, vertices, k)
        return vdf.join(core, vkey == core["vid"]).select(*[vdf[c] for c in pks])

    def hits(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(pk..., hub, authority) — Kleinberg HITS on the directed edge
        table (beyond-reference; algorithms.hits, L1-normalized)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        scores = algorithms.hits(edges, vertices, **kw)
        return vdf.join(scores, vkey == scores["vid"]).select(
            *[vdf[c] for c in pks], F.col("hub"), F.col("authority")
        )

    def strongly_connected_component(
        self, graph: str, vertex_label: str, edge_label: str
    ) -> DataFrame:
        """(pk..., componentId) — strongly connected components on the
        DIRECTED edge table (beyond-reference; the reference only ships
        the weakly variant).  Min-member representative; when keys are
        non-integral the representative is the min SURROGATE id, a
        deterministic but opaque label (compare up to relabeling)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        comp = algorithms.strongly_connected_component(edges, vertices)
        return vdf.join(comp, vkey == comp["vid"]).select(
            *[vdf[c] for c in pks], F.col("scc_id").alias("componentId")
        )

    def global_clustering(
        self, graph: str, vertex_label: str, edge_label: str
    ) -> DataFrame:
        """One row (triangles, wedges, global_clustering) — whole-graph
        transitivity (beyond-reference; algorithms.global_clustering)."""
        _, _, _, _, _, _, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        return algorithms.global_clustering(edges, vertices)

    def closeness_centrality(
        self, graph: str, vertex_label: str, edge_label: str, seeds: DataFrame
    ) -> DataFrame:
        """(pk..., reached, closeness) for each seed vertex — out-closeness
        over the directed edge table (beyond-reference).  `seeds` columns
        positionally match the vertex key columns, like pagerank's
        `sources`."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        seed_ids = self._seed_vids(vdf, vkey, pks, seeds, "seeds")
        scores = algorithms.closeness_centrality(edges, seed_ids)
        return vdf.join(scores, vkey == scores["vid"]).select(
            *[vdf[c] for c in pks], F.col("reached"), F.col("closeness")
        )

    def label_propagation(
        self, graph: str, vertex_label: str, edge_label: str, max_iter: int = 5
    ) -> DataFrame:
        """(pk..., label) — deterministic synchronous LPA communities
        (beyond-reference; algorithms.label_propagation).  Labels are
        vertex ids on integral-key graphs, surrogate ids otherwise
        (compare up to relabeling)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        labels = algorithms.label_propagation(edges, vertices, max_iter=max_iter)
        return vdf.join(labels, vkey == labels["vid"]).select(
            *[vdf[c] for c in pks], F.col("label")
        )

    def degree_assortativity(
        self, graph: str, vertex_label: str, edge_label: str
    ) -> DataFrame:
        """One row (assortativity) — Newman degree correlation over the
        undirected edge set (beyond-reference)."""
        _, _, _, _, _, _, _, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        return algorithms.degree_assortativity(edges)

    def random_walks(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        seeds: DataFrame,
        length: int,
        salt: str = "",
    ) -> DataFrame:
        """Deterministic random walks from `seeds` (columns positionally
        match the vertex key), `length` steps along the directed edge
        table (beyond-reference; algorithms.random_walks).  Returns
        (walk-id key columns..., step, vid key columns...) with natural
        keys on both ends."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        seed_ids = self._seed_vids(vdf, vkey, pks, seeds, "seeds")
        walks = algorithms.random_walks(edges, seed_ids, length, salt=salt)
        # one key->vid map built from the SAME vkey expression (so the
        # surrogate hash and its canonicalization flags can never drift),
        # aliased twice to decode both walk endpoints to natural keys
        vmap = vdf.select(*[vdf[c] for c in pks], vkey.alias("__vid"))
        out = (
            walks.alias("w")
            .join(vmap.alias("wv"), F.col("w.walk_id") == F.col("wv.__vid"))
            .join(vmap.alias("cv"), F.col("w.vid") == F.col("cv.__vid"))
            .select(
                *[F.col(f"wv.{c}").alias(f"walk_{c}") for c in pks],
                F.col("w.step").alias("step"),
                *[F.col(f"cv.{c}").alias(f"at_{c}") for c in pks],
            )
        )
        return out

    def katz_centrality(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(pk..., katz) — damped-walk Katz centrality over the directed
        edge table (beyond-reference; algorithms.katz_centrality)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        x = algorithms.katz_centrality(edges, vertices, **kw)
        return vdf.join(x, vkey == x["vid"]).select(
            *[vdf[c] for c in pks], F.col("katz")
        )

    def eigenvector_centrality(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(pk..., eigenvector) — L1 power-iteration eigenvector
        centrality over the directed edge table (beyond-reference;
        algorithms.eigenvector_centrality)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        x = algorithms.eigenvector_centrality(edges, vertices, **kw)
        return vdf.join(x, vkey == x["vid"]).select(
            *[vdf[c] for c in pks], F.col("eigenvector")
        )

    def modularity(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(community, internal_half_edges, degree_sum, contribution) —
        Newman-Girvan modularity contributions of the label-propagation
        communities (beyond-reference; algorithms.modularity over
        algorithms.label_propagation labels; kwargs pass to LPA)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        labels = algorithms.label_propagation(edges, vertices, **kw)
        return algorithms.modularity(edges, labels)

    def modularity_refine(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(vid, label) — one Louvain local-move pass over the
        label-propagation communities (beyond-reference;
        algorithms.modularity_refine over algorithms.label_propagation
        labels; kwargs pass to LPA)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        labels = algorithms.label_propagation(edges, vertices, **kw)
        return algorithms.modularity_refine(edges, labels)

    def contract_communities(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(src, dst, weight) — the weighted community graph of the
        label-propagation communities (beyond-reference, Louvain
        aggregation phase; algorithms.contract_communities; kwargs pass
        to LPA)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        labels = algorithms.label_propagation(edges, vertices, **kw)
        return algorithms.contract_communities(edges, labels)

    def community_conductance(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(community, cut_edges, volume, conductance) — boundary
        leakage of the label-propagation communities (beyond-reference;
        algorithms.community_conductance; kwargs pass to LPA)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        labels = algorithms.label_propagation(edges, vertices, **kw)
        return algorithms.community_conductance(edges, labels)

    def link_prediction(
        self, graph: str, vertex_label: str, edge_label: str, **kw
    ) -> DataFrame:
        """(u key columns..., v key columns..., common_neighbors,
        adamic_adar, jaccard) — link-prediction scores for non-adjacent
        pairs sharing neighbors (beyond-reference;
        algorithms.link_prediction; pass max_center_degree to cap hub
        wedge generators)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        out = algorithms.link_prediction(edges, **kw)
        vmap = vdf.select(*[vdf[c] for c in pks], vkey.alias("__vid"))
        return (
            out.alias("p")
            .join(vmap.alias("uv"), F.col("p.u") == F.col("uv.__vid"))
            .join(vmap.alias("vv"), F.col("p.v") == F.col("vv.__vid"))
            .select(
                *[F.col(f"uv.{c}").alias(f"u_{c}") for c in pks],
                *[F.col(f"vv.{c}").alias(f"v_{c}") for c in pks],
                F.col("p.common_neighbors"),
                F.col("p.adamic_adar"),
                F.col("p.jaccard"),
            )
        )

    def temporal_reachability(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        seeds: DataFrame,
        ts_col: str,
        start_ts: int | None = None,
    ) -> DataFrame:
        """(seed key columns..., reached key columns..., arrival) —
        earliest time-respecting arrival from each seed along edges whose
        `ts_col` timestamps never decrease (beyond-reference;
        operators.paths.temporal_reachability).  `seeds` columns
        positionally match the vertex key."""
        _, _, et, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        cs = str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower() == "true"
        norm = (lambda c: c) if cs else (lambda c: c.lower())
        edf = self.catalog.get(graph).element_df(edge_label)
        if norm(ts_col) not in (norm(c) for c in edf.columns):
            raise PGQBinderError(
                f"Timestamp column '{ts_col}' does not exist on edge table "
                f"'{et.table_name}' (columns: {edf.columns})"
            )
        # rebuild the edge frame with the timestamp column carried along
        # (the _graph_frames edge frame drops non-key columns)
        tedges = self._edges_with_col(graph, vertex_label, edge_label, ts_col)
        seed_ids = self._seed_vids(vdf, vkey, pks, seeds, "seeds")
        reach = pathops.temporal_reachability(
            tedges, seed_ids, ts_col="__ts", start_ts=start_ts
        )
        vmap = vdf.select(*[vdf[c] for c in pks], vkey.alias("__vid"))
        return (
            reach.alias("r")
            .join(vmap.alias("sv"), F.col("r.src") == F.col("sv.__vid"))
            .join(vmap.alias("tv"), F.col("r.dst") == F.col("tv.__vid"))
            .select(
                *[F.col(f"sv.{c}").alias(f"seed_{c}") for c in pks],
                *[F.col(f"tv.{c}").alias(f"at_{c}") for c in pks],
                F.col("r.arrival"),
            )
        )

    @staticmethod
    def _require_single_domain(vertex_label, vt, edge_label, et) -> None:
        """Whole-graph kernels return per-vertex rows keyed by ONE vertex
        table's natural key — a heterogeneous edge (endpoints in two
        tables) has no such key space, and keying it by either side would
        silently conflate the two domains (the reference union CSR's
        rowid bug, compressed_sparse_row.cpp:132-143).  Hetero traversal
        IS supported, via MATCH var-length patterns (table-tagged
        surrogate union domain) — point there instead of mis-answering."""
        if et.source_reference.lower() != et.destination_reference.lower():
            raise PGQBinderError(
                f"Whole-graph algorithms need a single vertex domain; edge "
                f"label '{edge_label}' connects '{et.source_reference}' to "
                f"'{et.destination_reference}'.  Traverse heterogeneous "
                "edges with variable-length MATCH patterns instead"
            )
        if vt.table_name.lower() != et.source_reference.lower():
            raise PGQBinderError(
                f"Vertex label '{vertex_label}' (table '{vt.table_name}') "
                f"is not the vertex table of edge label '{edge_label}' "
                f"(which references '{et.source_reference}')"
            )

    @staticmethod
    def _edge_vid_exprs(pg, vt, et, vdf, edf):
        """(src_expr, dst_expr, surrogate, canon): the vertex-id
        expressions for an edge frame, via the SAME surrogate decision
        and canonicalization as _graph_frames — one definition so the
        two can never drift."""
        pks = list(et.source_pk)
        surrogate = (
            len(pks) > 1
            or not pathops.integral_keys(vdf, pks)
            or not pathops.integral_keys(
                edf, list(et.source_fk) + list(et.destination_fk)
            )
        )
        if surrogate:
            canon = _key_canon_flags(
                vdf,
                [pks, list(et.destination_pk)],
                edf,
                [list(et.source_fk), list(et.destination_fk)],
            )
            return (
                _key_hash([F.col(c) for c in et.source_fk], canon),
                _key_hash([F.col(c) for c in et.destination_fk], canon),
                True,
                canon,
            )
        return (
            F.col(et.source_fk[0]).cast("long"),
            F.col(et.destination_fk[0]).cast("long"),
            False,
            None,
        )

    def _edges_with_col(
        self, graph: str, vertex_label: str, edge_label: str, extra_col: str
    ) -> DataFrame:
        """The (src, dst, __ts) edge frame with an extra edge-table column
        carried along, keyed through _edge_vid_exprs (the shared
        surrogate/canonicalization route of _graph_frames)."""
        pg = self.catalog.get(graph)
        et = pg.table_for_label(edge_label, kind="edge")
        vt = pg.table_for_label(vertex_label, kind="vertex")
        self._require_single_domain(vertex_label, vt, edge_label, et)
        edf = pg.element_df(edge_label)
        vdf = pg.element_df(vertex_label)
        src_e, dst_e, _, _ = self._edge_vid_exprs(pg, vt, et, vdf, edf)
        return edf.select(
            src_e.alias("src"), dst_e.alias("dst"), F.col(extra_col).alias("__ts")
        )

    def neighbor_agg(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        feature_col: str,
        aggs: list[str] = ("mean",),
        direction: str = "out",
    ) -> DataFrame:
        """(pk..., nbr_<agg>...) — aggregate a vertex property over each
        vertex's neighbors (beyond-reference; algorithms.neighbor_agg)."""
        _, vt, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        cs = str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower() == "true"
        norm = (lambda c: c) if cs else (lambda c: c.lower())
        if norm(feature_col) not in (norm(c) for c in vdf.columns):
            raise PGQBinderError(
                f"Feature column '{feature_col}' does not exist on vertex "
                f"table '{vt.table_name}' (columns: {vdf.columns})"
            )
        feats = vdf.select(vkey.alias("vid"), F.col(feature_col).alias("value"))
        out = algorithms.neighbor_agg(edges, feats, aggs=list(aggs), direction=direction)
        return vdf.join(out, vkey == out["vid"]).select(
            *[vdf[c] for c in pks],
            *[F.col(f"nbr_{a}") for a in aggs],
        )

    def ego_network(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        seeds: DataFrame,
        radius: int,
    ) -> DataFrame:
        """(src key columns..., dst key columns...) — the edge multiset of
        the subgraph within `radius` directed hops of `seeds`
        (beyond-reference; algorithms.ego_network)."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        seed_ids = self._seed_vids(vdf, vkey, pks, seeds, "seeds")
        sub = algorithms.ego_network(edges, seed_ids, radius)
        vmap = vdf.select(*[vdf[c] for c in pks], vkey.alias("__vid"))
        return (
            sub.alias("e")
            .join(vmap.alias("sv"), F.col("e.src") == F.col("sv.__vid"))
            .join(vmap.alias("tv"), F.col("e.dst") == F.col("tv.__vid"))
            .select(
                *[F.col(f"sv.{c}").alias(f"src_{c}") for c in pks],
                *[F.col(f"tv.{c}").alias(f"dst_{c}") for c in pks],
            )
        )

    def _seeded_scores(
        self, graph, vertex_label, edge_label, seeds, fn, out_cols, **kw
    ) -> DataFrame:
        """Shared wrapper shape for seed-set algorithms (closeness,
        harmonic, eccentricity, betweenness, path counting): translate
        natural-key seeds, run, decode vids back to natural keys."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        seed_ids = self._seed_vids(vdf, vkey, pks, seeds, "seeds")
        scores = fn(edges, seed_ids, **kw)
        return vdf.join(scores, vkey == scores["vid"]).select(
            *[vdf[c] for c in pks], *[F.col(c) for c in out_cols]
        )

    def harmonic_centrality(
        self, graph: str, vertex_label: str, edge_label: str, seeds: DataFrame
    ) -> DataFrame:
        """(pk..., harmonic, reached) — inverse-distance centrality of the
        seed vertices (beyond-reference)."""
        return self._seeded_scores(
            graph, vertex_label, edge_label, seeds,
            algorithms.harmonic_centrality, ["harmonic", "reached"],
        )

    def eccentricity(
        self, graph: str, vertex_label: str, edge_label: str, seeds: DataFrame
    ) -> DataFrame:
        """(pk..., eccentricity, reached) — max finite BFS distance from
        each seed (beyond-reference; sampled diameter estimator)."""
        return self._seeded_scores(
            graph, vertex_label, edge_label, seeds,
            algorithms.eccentricity, ["eccentricity", "reached"],
        )

    def betweenness_centrality(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        seeds: DataFrame,
        max_hops: int | None = None,
    ) -> DataFrame:
        """(pk..., betweenness) — source-sampled Brandes betweenness
        (beyond-reference); `seeds` are the sources."""
        return self._seeded_scores(
            graph, vertex_label, edge_label, seeds,
            algorithms.betweenness_centrality, ["betweenness"],
            max_hops=max_hops,
        )

    def k_truss(
        self, graph: str, vertex_label: str, edge_label: str, k: int
    ) -> DataFrame:
        """(src key columns..., dst key columns...) — the canonical edges
        of the undirected k-truss (beyond-reference; algorithms.k_truss),
        decoded to natural keys."""
        _, _, _, pks, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        sub = algorithms.k_truss(edges, k)
        vmap = vdf.select(*[vdf[c] for c in pks], vkey.alias("__vid"))
        return (
            sub.alias("e")
            .join(vmap.alias("sv"), F.col("e.src") == F.col("sv.__vid"))
            .join(vmap.alias("tv"), F.col("e.dst") == F.col("tv.__vid"))
            .select(
                *[F.col(f"sv.{c}").alias(f"src_{c}") for c in pks],
                *[F.col(f"tv.{c}").alias(f"dst_{c}") for c in pks],
            )
        )

    # -- introspection ---------------------------------------------------
    def describe_property_graph(self, graph: str) -> DataFrame:
        """One row per registered table with the reference's exact
        14-column schema (describe_property_graph.cpp:34-61; golden shape
        describe_pg.test): property_graph leads, catalog/schema trail
        (parsed from a qualified table name; unqualified tables get NULL
        catalog + empty schema, matching the reference's display of
        temp-catalog tables)."""
        pg = self.catalog.get(graph)
        rows = []
        for t in pg.vertex_tables + pg.edge_tables:
            parts = t.table_name.split(".")
            cat = parts[-3] if len(parts) >= 3 else None
            sch = parts[-2] if len(parts) >= 2 else ""
            rows.append(
                Row(
                    property_graph=pg.name,
                    table_name=t.table_name,
                    label=t.main_label,
                    is_vertex_table=t.is_vertex,
                    source_table=t.source_reference,
                    source_pk=t.source_pk or None,
                    source_fk=t.source_fk or None,
                    destination_table=t.destination_reference,
                    destination_pk=t.destination_pk or None,
                    destination_fk=t.destination_fk or None,
                    discriminator=t.discriminator,
                    sub_labels=t.sub_labels or None,
                    catalog=cat,
                    schema=sch,
                )
            )
        schema = (
            "property_graph string, table_name string, label string, "
            "is_vertex_table boolean, "
            "source_table string, source_pk array<string>, source_fk array<string>, "
            "destination_table string, destination_pk array<string>, "
            "destination_fk array<string>, discriminator string, "
            "sub_labels array<string>, catalog string, schema string"
        )
        return self.spark.createDataFrame(rows, schema=schema)

    def summarize_property_graph(self, graph: str) -> DataFrame:
        """One row per registered table with the reference's exact
        22-column schema and semantics (summarize_property_graph.cpp:30-130;
        golden shape: summarize_property_graph.test:22-27):

        - vertex-table rows carry only (table_name, is_vertex_table,
          vertex_count); every edge statistic is NULL.
        - edge-table rows: edge_count, unique source/destination fk
          counts, isolated sources/destinations (vertices of the
          referenced table with no edge), and in-/out-degree stats
          (avg/min/max/q25/q50/q75) computed over the EDGE TABLE's fk
          occurrences — vertices with zero edges do not participate, so
          min_* >= 1, exactly like the reference's GROUP-BY-fk CTE.
        - like the reference, degree/distinct/isolated stats use the
          first fk/pk column (summarize_property_graph.cpp:72,84 index
          [0]); quantiles here are exact percentiles where the reference
          uses approx_quantile (documented determinism choice).
        """
        pg = self.catalog.get(graph)
        null_l = F.lit(None).cast("long")
        null_d = F.lit(None).cast("double")
        null_s = F.lit(None).cast("string")
        edge_null_cols = [
            null_l.alias("edge_count"),
            null_l.alias("unique_source_count"),
            null_l.alias("unique_destination_count"),
            null_l.alias("isolated_sources"),
            null_l.alias("isolated_destinations"),
        ] + [
            null_d.alias(f"{s}_{d}_degree")
            for d in ("in", "out")
            for s in ("avg", "min", "max", "q25", "q50", "q75")
        ]
        out = None
        for vt in pg.vertex_tables:
            vdf = table_df(pg.spark, vt.table_name)
            row = vdf.agg(F.count("*").alias("vertex_count")).select(
                F.lit(vt.table_name).alias("table_name"),
                F.lit(True).alias("is_vertex_table"),
                null_s.alias("source_table"),
                null_s.alias("destination_table"),
                F.col("vertex_count"),
                *edge_null_cols,
            )
            out = row if out is None else out.unionByName(row)
        for et in pg.edge_tables:
            edf = table_df(pg.spark, et.table_name)
            src_fk, dst_fk = et.source_fk[0], et.destination_fk[0]

            def degree_stats(fk: str, name: str):
                deg = edf.groupBy(fk).agg(F.count("*").alias("deg"))
                return deg.agg(
                    F.avg("deg").cast("double").alias(f"avg_{name}_degree"),
                    F.min("deg").cast("double").alias(f"min_{name}_degree"),
                    F.max("deg").cast("double").alias(f"max_{name}_degree"),
                    F.expr("percentile(deg, 0.25)").alias(f"q25_{name}_degree"),
                    F.expr("percentile(deg, 0.50)").alias(f"q50_{name}_degree"),
                    F.expr("percentile(deg, 0.75)").alias(f"q75_{name}_degree"),
                )

            def isolated(ref_table: str, pk: str, fk: str, alias: str):
                vdf = table_df(pg.spark, ref_table)
                return (
                    vdf.join(edf, vdf[pk] == edf[fk], "left_anti")
                    .agg(F.count("*").alias(alias))
                )

            row = (
                edf.agg(
                    F.count("*").alias("edge_count"),
                    F.countDistinct(src_fk).alias("unique_source_count"),
                    F.countDistinct(dst_fk).alias("unique_destination_count"),
                )
                .crossJoin(
                    isolated(et.source_reference, et.source_pk[0], src_fk,
                             "isolated_sources")
                )
                .crossJoin(
                    isolated(et.destination_reference, et.destination_pk[0],
                             dst_fk, "isolated_destinations")
                )
                .crossJoin(degree_stats(dst_fk, "in"))
                .crossJoin(degree_stats(src_fk, "out"))
                .select(
                    F.lit(et.table_name).alias("table_name"),
                    F.lit(False).alias("is_vertex_table"),
                    F.lit(et.source_reference).alias("source_table"),
                    F.lit(et.destination_reference).alias("destination_table"),
                    null_l.alias("vertex_count"),
                    "edge_count",
                    "unique_source_count",
                    "unique_destination_count",
                    "isolated_sources",
                    "isolated_destinations",
                    "avg_in_degree", "min_in_degree", "max_in_degree",
                    "q25_in_degree", "q50_in_degree", "q75_in_degree",
                    "avg_out_degree", "min_out_degree", "max_out_degree",
                    "q25_out_degree", "q50_out_degree", "q75_out_degree",
                )
            )
            out = row if out is None else out.unionByName(row)
        if out is None:
            raise PGQBinderError(f"Property graph '{graph}' has no tables")
        return out

    # metadata accessors, mirroring get_pg_vtablenames / etablenames /
    # vcolnames / ecolnames (src/core/functions/table/pgq_scan.cpp:155-266)
    def get_vertex_table_names(self, graph: str) -> DataFrame:
        pg = self.catalog.get(graph)
        return self.spark.createDataFrame(
            [Row(table=t.table_name) for t in pg.vertex_tables], "table string"
        )

    def get_edge_table_names(self, graph: str) -> DataFrame:
        pg = self.catalog.get(graph)
        return self.spark.createDataFrame(
            [Row(table=t.table_name) for t in pg.edge_tables], "table string"
        )

    def get_column_names(self, graph: str, label: str) -> DataFrame:
        pg = self.catalog.get(graph)
        t = pg.table_for_label(label)
        rows = [
            Row(table=t.table_name, column=src, property=exposed)
            for src, exposed in pg.property_columns(t)
        ]
        return self.spark.createDataFrame(
            rows, "table string, column string, property string"
        )

    def get_csr_v(
        self, graph: str, vertex_label: str, edge_label: str
    ) -> DataFrame:
        """(dense_id, vid, out_degree, ptr) — the Spark-native analog of
        the reference's CSR debug dumps `get_csr_v` / `get_csr_ptr`
        (getpgschema.test:84-117, get_csr_ptr.test:1-40,
        csr_segfault.test:22-47: an in-memory offsets array built by
        CREATE_CSR_VERTEX over rowid-dense vertices).  This engine keeps
        the adjacency as a checkpointed DataFrame rather than a CSR
        memory object, so the dump is DERIVED: dense_id ranks vertices
        by internal vid (DataFrames have no insertion rowid — key order
        is the deterministic analog), out_degree counts outgoing edges,
        and ptr is the exclusive prefix sum, i.e. exactly the CSR offset
        array the reference materializes.

        Debug surface, not a scale path: the prefix sum runs in a single
        unpartitioned window, correct at any size but serialized — the
        query engine itself never builds this array (BFS joins the edge
        frame directly).
        """
        from pyspark.sql import Window

        *_, vdf, vkey, vertices, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False
        )
        deg = edges.groupBy(F.col("src").alias("vid")).agg(
            F.count("*").alias("out_degree")
        )
        w = Window.orderBy("vid")
        return (
            vertices.toDF("vid")
            .join(deg, "vid", "left")
            .fillna(0, subset=["out_degree"])
            .select(
                (F.row_number().over(w) - 1).alias("dense_id"),
                "vid",
                "out_degree",
                F.coalesce(
                    F.sum("out_degree").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ).alias("ptr"),
            )
        )

    def get_csr_e(
        self,
        graph: str,
        vertex_label: str,
        edge_label: str,
        weight_col: str | None = None,
    ) -> DataFrame:
        """(pos, src, dst [, edge_id] [, weight]) in CSR order — the
        analog of the reference's `get_csr_e` / `get_csr_w` dumps
        (getpgschema.test:84-98, get_csr_w_type.test): the edge array
        sorted by (source, destination) vertex id with its position
        index.  When the table declares EDGE ID, the id column is
        included and breaks (src, dst) ties so `pos` is deterministic
        on multigraphs — the reference's CSR `edge_ids` lane.  Derived
        from the same edge frame the kernels traverse, so what this
        dump shows is by construction what the algorithms saw.
        """
        from pyspark.sql import Window

        has_eid = (
            self.catalog.get(graph)
            .table_for_label(edge_label, kind="edge")
            .edge_id_col
            is not None
        )
        *_, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False,
            weight_col=weight_col, with_edge_ids=has_eid,
        )
        order = ["src", "dst"] + (["edge_id"] if has_eid else [])
        cols = order + (["weight"] if weight_col is not None else [])
        w = Window.orderBy(*order)
        return edges.select(*cols).select(
            (F.row_number().over(w) - 1).alias("pos"), *cols
        )

    def csr_get_w_type(
        self, graph: str, vertex_label: str, edge_label: str,
        weight_col: str | None = None,
    ) -> str:
        """Weight-type introspection, mirroring the reference's
        `csr_get_w_type` (get_csr_w_type.test:30-45: INTEGER / DOUBLE /
        'unweighted').  Integral Spark types report INTEGER, fractional
        report DOUBLE, absent weight reports 'unweighted'."""
        if weight_col is None:
            return "unweighted"
        *_, edges = self._graph_frames(
            graph, vertex_label, edge_label, undirected=False,
            weight_col=weight_col,
        )
        t = dict(edges.dtypes)["weight"]
        return "DOUBLE" if t in ("double", "float") or t.startswith(
            "decimal"
        ) else "INTEGER"

    def create_vertex_table(
        self,
        edges_df: DataFrame,
        src_col: str,
        dst_col: str,
        view_name: str,
        id_col: str = "id",
    ) -> DataFrame:
        """PRAGMA create_vertex_table equivalent
        (src/core/pragma/create_vertex_table.cpp:6-22)."""
        v = (
            edges_df.select(F.col(src_col).alias(id_col))
            .unionByName(edges_df.select(F.col(dst_col).alias(id_col)))
            .distinct()
        )
        v.createOrReplaceTempView(view_name)
        return v
