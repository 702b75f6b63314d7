"""The checkout these tools belong to, and the import check that keeps a
tool run from a second checkout from testing the first one's engine."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def use_checkout() -> None:
    """Put this checkout first on sys.path and import the engine from it;
    exit with a message when the engine is found in another tree."""
    sys.path.insert(0, ROOT)
    import duckpgq_extension_spark

    engine = os.path.realpath(duckpgq_extension_spark.__file__)
    if not engine.startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(
            f"{os.path.basename(sys.argv[0])}: the engine was imported from "
            f"{engine}, not from this checkout ({ROOT})"
        )
