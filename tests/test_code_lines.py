"""``scripts/code_lines.py``: the code-line count the simplicity changes
quote (blank, comment and docstring lines excluded). Spark-free."""

import importlib.util
import pathlib

_PATH = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "code_lines.py"
_spec = importlib.util.spec_from_file_location("code_lines", _PATH)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

_SRC = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


# a comment line
class C:
    """Class docstring."""

    X = """not a docstring:
    an assigned string counts"""

    def f(self, a,
          b):
        """Function docstring
        over two lines."""
        "a later bare string is code"
        return (a +
                b)
'''


def test_counts_code_lines_only():
    # import; class; X = (2 lines); def (2 lines); later string; return (2)
    assert code_lines.count_source(_SRC) == 9


def test_empty_and_docstring_only_sources_count_zero():
    assert code_lines.count_source("") == 0
    assert code_lines.count_source('"""Only a docstring."""\n\n# and a comment\n') == 0
