"""Tests of the benchmark itself.

    python -m pytest pgqbench/tests -q

The first three groups need no Spark.  `test_runs_*` start the engine
(about a minute each on four cores).
"""

from __future__ import annotations

import filecmp
import importlib
import json
import os
import pkgutil

import pytest

from pgqbench import check, gen, spans

SMALL = gen.Scale(persons=400, messages=800, batch_edges=30, batches=2)


def _write_all(ds: gen.Dataset, root: str) -> tuple[dict[str, str], list[str]]:
    base = gen.write_base(ds, root)
    batches = []
    for c, table in enumerate(ds.batches):
        batches.append(gen.batch_path(root, c))
        gen.write_table(table, batches[-1])
    return base, batches


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


# -- generator ------------------------------------------------------------
def test_same_seed_gives_identical_bytes(tmp_path):
    _write_all(gen.generate(7, SMALL), str(tmp_path / "a"))
    _write_all(gen.generate(7, SMALL), str(tmp_path / "b"))
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b"))
    assert len(names) == len(gen.TABLES) + SMALL.batches
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_gives_other_bytes(tmp_path):
    _write_all(gen.generate(7, SMALL), str(tmp_path / "a"))
    _write_all(gen.generate(8, SMALL), str(tmp_path / "b"))
    names = _files(str(tmp_path / "a"))
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert sorted(mismatch) == names


def test_generated_graph_shape():
    ds = gen.generate(3, SMALL)
    src, dst = ds.knows["src"].to_pylist(), ds.knows["dst"].to_pylist()
    pairs = [frozenset(p) for p in zip(src, dst)]
    for b in ds.batches:
        pairs += [frozenset(p) for p in zip(b["src"].to_pylist(), b["dst"].to_pylist())]
    assert all(len(p) == 2 for p in pairs), "self-loop"
    assert len(set(pairs)) == len(pairs), "a Knows pair is stored twice"
    degree: dict[int, int] = {}
    for s, d in zip(src, dst):
        degree[s] = degree.get(s, 0) + 1
        degree[d] = degree.get(d, 0) + 1
    mean = sum(degree.values()) / len(degree)
    assert max(degree.values()) > 4 * mean, "degrees are not skewed"
    assert set(ds.persons_with_friends.tolist()) == set(degree)


# -- checker --------------------------------------------------------------
@pytest.fixture(scope="module")
def reference(tmp_path_factory):
    ds = gen.generate(5, SMALL)
    base, batches = _write_all(ds, str(tmp_path_factory.mktemp("data")))
    ref = check.Reference(base, batches)
    yield ds, ref
    ref.close()


def _cases(ds):
    a = int(ds.persons_with_friends[0])
    s, d = ds.reach_pairs[0]
    return [
        ("is3_friends", (a,)), ("ic2_recent_messages", (a, ds.message_cutoff)),
        ("fof_count", (a,)), ("triangle_count", (a,)), ("pagerank", ()), ("wcc", ()),
        ("lcc", ()), ("shortest_path", (s, d)), ("cheapest_path", (s, d)), ("reach_1_3", (s,)),
    ]


def _perturb(kind: str, answer):
    if kind in ("pagerank", "lcc"):
        v = next(iter(answer))
        return {**answer, v: answer[v] + 1e-3}
    if kind == "wcc":
        big = max(answer, key=len)
        v = next(iter(big))
        return (answer - {big}) | {big - {v}, frozenset({v})}
    if kind in ("shortest_path", "cheapest_path"):
        return [answer + 1]
    if kind == "reach_1_3":
        return set(list(answer)[1:])
    if kind in ("fof_count", "triangle_count"):
        return [(answer[0][0] + 1,)]
    return list(reversed(answer)) if len(answer) > 1 else answer + answer


def _as_engine_answer(kind: str, answer):
    """The reference answer in the shape `canonical` gives engine rows."""
    return [answer] if kind in ("shortest_path", "cheapest_path") else answer


def test_checker_accepts_reference_answers(reference):
    ds, ref = reference
    for kind, args in _cases(ds):
        want = ref.expected(kind, args)
        assert check.compare(kind, _as_engine_answer(kind, want), want) is None, kind


def test_checker_rejects_perturbed_answers(reference):
    ds, ref = reference
    for kind, args in _cases(ds):
        want = ref.expected(kind, args)
        assert check.compare(kind, _perturb(kind, want), want) is not None, kind


def test_checker_versions_follow_appended_batches(reference):
    ds, ref = reference
    edges = [len(ref._graph(v).edges) for v in range(SMALL.batches + 1)]
    assert edges == [ds.knows.num_rows + v * SMALL.batch_edges for v in range(SMALL.batches + 1)]


def test_checker_never_imports_the_engine():
    assert "duckpgq_extension_spark" not in open(check.__file__).read()


# -- spans ----------------------------------------------------------------
def _package_attributes() -> dict[str, int]:
    """id() of every attribute of every engine module and of PGQSession."""
    import duckpgq_extension_spark as pkg

    out = {}
    names = [pkg.__name__] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    ]
    modules = [importlib.import_module(name) for name in names]
    for mod in modules:  # after every import, which adds submodule attributes
        out.update({f"{mod.__name__}.{k}": id(v) for k, v in vars(mod).items()})
    out.update({f"PGQSession.{k}": id(v) for k, v in vars(pkg.PGQSession).items()})
    return out


def test_uninstall_restores_every_attribute():
    before = _package_attributes()
    tracer = spans.Tracer()
    tracer.install()
    patched = _package_attributes()
    tracer.uninstall()
    assert _package_attributes() == before
    changed = {k for k in before if before[k] != patched[k]}
    assert len(changed) == len(spans.WRAP_POINTS)


def test_wrappers_record_nested_spans():
    from duckpgq_extension_spark import api

    tracer = spans.Tracer()
    tracer.install()
    try:
        tracer.qid = "q1"
        with tracer.span("query"):
            api.parse_graph_table_body("g MATCH (a:P)-[e:E]->(b:P) COLUMNS (a.id)")
    finally:
        tracer.uninstall()
    query, parse = tracer.spans
    assert (parse.name, parse.parent, parse.qid) == ("parser", query.sid, "q1")
    assert query.start <= parse.start <= parse.end <= query.end
    m = spans.layer_metrics(tracer.spans)
    assert m["parser.calls"] == 1 and m["parser.self_s"] == pytest.approx(parse.duration)


def test_self_time_subtracts_children():
    ticks = iter(range(100))
    tracer = spans.Tracer(clock=lambda: float(next(ticks)))
    with tracer.span("query"):  # 0 .. 7
        with tracer.span("api.sql"):  # 1 .. 4
            with tracer.span("compiler"):  # 2 .. 3
                pass
        with tracer.span("spark.action"):  # 5 .. 6
            pass
    own = spans.self_times(tracer.spans)
    assert [own[s.sid] for s in tracer.spans] == [3.0, 2.0, 1.0, 1.0]


# -- end to end (start Spark) ---------------------------------------------
def _spans_file(tag: str) -> str:
    from pgqbench import run

    return os.path.join(run.WORK, "reports", f"{tag}-spans.jsonl")


def test_runs_untraced_without_patching(capsys):
    from pgqbench import run

    before = _package_attributes()
    rc = run.main(["--workload", "interactive", "--seed", "11", "--seconds", "2", "--trace", "0"])
    out = capsys.readouterr().out.strip().splitlines()
    assert _package_attributes() == before
    summary = json.loads(out[-1])
    assert rc == 0 and summary["correct"] and summary["failed"] == 0
    assert set(summary["metrics"]) == {m["name"] for m in run.load_contract()["end_to_end"]}


def test_runs_traced_spans_fit_in_query_wall(capsys):
    from pgqbench import run

    before = _package_attributes()
    rc = run.main(["--workload", "analytics", "--seed", "12", "--seconds", "2", "--trace", "1"])
    out = capsys.readouterr().out.strip().splitlines()
    assert _package_attributes() == before
    summary = json.loads(out[-1])
    assert rc == 0 and summary["correct"]
    assert set(summary["metrics"]) == {m["name"] for m in run.load_contract()["per_layer"]}
    records = [json.loads(line) for line in open(_spans_file("analytics-seed12-trace1"))]
    roots = [r for r in records if r["parent"] is None]
    assert {r["name"] for r in roots} == {"query"} and len(roots) == 6
    for root in roots:
        children = [r for r in records if r["parent"] == root["id"]]
        covered = sum(c["end"] - c["start"] for c in children)
        assert covered <= root["end"] - root["start"], root["qid"]
        assert all(root["start"] <= c["start"] <= c["end"] <= root["end"] for c in children)
    names = {r["name"] for r in records}
    assert {"algorithms.pagerank", "paths.kernel", "paths.materialize", "paths.adj_prep"} <= names
    assert summary["metrics"]["paths.adj_cache_hits"]["value"] > 0


@pytest.mark.xfail(
    strict=True,
    reason="engine defect: the adjacency cache matches a view re-read from the same "
    "directory by its root path, so kernels do not see a file appended to it; the "
    "evolving workload fails on this at the same point",
)
def test_runs_directory_append_reaches_kernels(tmp_path):
    import pyarrow as pa

    from duckpgq_extension_spark import PGQSession, get_spark
    from pgqbench import run

    gen.write_table(pa.table({"id": [1, 2, 3, 4]}), str(tmp_path / "person" / "p.parquet"))
    knows = tmp_path / "knows"
    gen.write_table(pa.table({"id": [1], "src": [1], "dst": [2]}), str(knows / "part-0.parquet"))
    ddl = """CREATE OR REPLACE PROPERTY GRAPH g VERTEX TABLES (person LABEL Person)
        EDGE TABLES (knows SOURCE KEY (src) REFERENCES person (id)
        DESTINATION KEY (dst) REFERENCES person (id) EDGE ID (id) LABEL knows)"""
    query = "SELECT id, componentId FROM weakly_connected_component(g, Person, knows)"
    spark = get_spark(app_name="pgqbench-tests", cpus=2, extra_conf={
        "spark.driver.memory": "1g", "spark.local.dir": str(tmp_path / "spark")})
    try:
        spark.read.parquet(str(tmp_path / "person")).createOrReplaceTempView("person")
        pgq = PGQSession(spark)
        partitions = []
        for batch in ([], [(2, 3, 4)]):
            for eid, s, d in batch:
                gen.write_table(pa.table({"id": [eid], "src": [s], "dst": [d]}),
                                str(knows / f"batch-{eid}.parquet"))
            spark.read.parquet(str(knows)).createOrReplaceTempView("knows")
            pgq.execute(ddl)
            partitions.append(check.canonical("wcc", pgq.sql(query).collect()))
    finally:
        run.stop_spark(spark)
    assert partitions[0] == {frozenset({1, 2}), frozenset({3}), frozenset({4})}
    assert partitions[1] == {frozenset({1, 2}), frozenset({3, 4})}
