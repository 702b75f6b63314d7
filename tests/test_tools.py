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
