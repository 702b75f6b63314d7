import hashlib
import importlib.util
import os


def _loc():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "loc.py")
    spec = importlib.util.spec_from_file_location("loc", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_loc_counts_code_lines_only():
    src = '''"""Module docstring
over two lines."""

# a comment
def f(x):
    """Function docstring."""
    y = x + 1  # trailing comment

    return """not a docstring
    """
'''
    assert _loc().code_lines(src) == 4


def test_registry_order_and_pairs_pinned():
    # Pins key order, query-to-oracle pairing and oracle text: the driver's
    # CORRECTNESS gate reads the first 50 rows, and every oracle is a DuckDB
    # hash reference, so an accidental reorder or re-pairing must fail here.
    from duckpgq_extension_spark import entry_queries as EQ

    assert list(EQ.QUERIES) == list(EQ.ORACLES)
    assert len(EQ.QUERIES) == 156
    keys = "\n".join(EQ.QUERIES)
    assert hashlib.sha256(keys.encode()).hexdigest() == (
        "d2ddc887d43878c9bf1fd45ec30b4b063bd00b33a4e8bc4013e0e76c0ed1bcd9")
    rows = "\n".join(f"{k}\t{EQ.QUERIES[k].__name__}\t{EQ.ORACLES[k]}"
                     for k in EQ.QUERIES)
    assert hashlib.sha256(rows.encode()).hexdigest() == (
        "5654412db5e329f819edddd75f01c0ed57a5c14fa36110aa857193ae1e51a28b")


def _bench():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _scripted(walls, members=None):
    """A fake clock whose i-th pass of a unit takes walls[i] seconds, and
    a run that returns members[i] (a group's thread walls) or None.  A
    pass beyond the script raises StopIteration."""
    ticks = iter([t for w in walls for t in (0.0, w)])
    runs = iter(members or [None] * len(walls))
    return (lambda clock: next(runs)), (lambda: next(ticks))


def test_bench_protocol_median_spread_and_passes():
    # bench.measure with a scripted run and clock: no Spark session, under
    # 0.1 s once the package is imported
    measure = _bench().measure

    def rows(walls, members=None, **kw):
        run, clock = _scripted(walls, members)
        return measure("q", run, clock=clock, **kw)

    # the cold pass (10 s) is recorded and left out of the median of 3
    assert rows([10.0, 1.0, 1.2, 1.1]) == {"q": {
        "median": 1.1, "spread": 0.2, "passes": 3, "cold": 10.0,
        "unstable": False}}
    # spread above half the median: one extra pass, whose 1.6 s raises
    # the median to 1.3 and clears the flag
    assert rows([2.0, 1.0, 1.0, 1.6, 1.6])["q"] == {
        "median": 1.3, "spread": 0.6, "passes": 4, "cold": 2.0,
        "unstable": False}
    # still above after 2 extra passes: listed unstable, no 6th pass
    assert rows([2.0, 1.0, 1.0, 3.0, 1.0, 1.0, 9.0])["q"] == {
        "median": 1.0, "spread": 2.0, "passes": 5, "cold": 2.0,
        "unstable": True}
    # a cold pass above the single-pass bound is the only pass
    assert rows([100.0], single_pass_above=90)["q"] == {
        "median": 100.0, "spread": None, "passes": 1, "cold": 100.0,
        "unstable": False}
    assert rows([80.0, 5.0, 5.0, 5.0], single_pass_above=90)["q"]["passes"] == 3
    # a group: per-member thread-wall medians plus the group wall row
    got = rows([4.0, 2.5, 2.0, 2.2],
               [{"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 1.5},
                {"a": 1.8, "b": 1.4}, {"a": 2.1, "b": 1.6}])
    assert {r: (v["median"], v["cold"], v["passes"]) for r, v in got.items()} == {
        "a": (2.0, 3.0, 3), "b": (1.5, 1.0, 3), "q": (2.2, 4.0, 3)}
