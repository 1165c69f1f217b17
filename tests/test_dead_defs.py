"""tools/dead_defs.py classifies package definitions by who references them."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import dead_defs  # noqa: E402

_MODULE = '''
def used():
    return helper_by_name()


def helper_by_name():
    return 1


def only_tested():
    return 2


def recursive(n):
    return recursive(n - 1) if n else 0


class Shape:
    def __init__(self):
        self.k = 0

    def area(self):
        return 0.0

    def perimeter(self):
        return 0.0


REGISTRY = {"looked_up": None}


def looked_up():
    return 3
'''


def test_dead_defs_classifies_references(tmp_path):
    pkg = tmp_path / "nettopologysuite_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(_MODULE)
    (tmp_path / "entry.py").write_text(
        "from nettopologysuite_spark.mod import used, Shape\n"
        "print(used(), Shape().area())\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from nettopologysuite_spark.mod import only_tested\n"
        "def test_it():\n    assert only_tested() == 2\n"
    )
    found = {qual: kind for kind, _, _, qual in dead_defs.scan(tmp_path)}
    assert found == {
        "only_tested": "TESTONLY",
        "recursive": "DEAD",
        "Shape.perimeter": "DEAD",
    }
