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
