"""tools/count_code_lines.py on a short source string (no Spark)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.count_code_lines import count_code_lines  # noqa: E402

_SRC = '''"""Module docstring,
two lines."""
import os  # a trailing comment keeps the line


class A:
    """Class docstring."""

    # a comment line
    x = 1


def f(a,
      b):
    """Function docstring."""
    s = """a multi-line
string that is not a docstring"""
    return (a +
            b)
'''


def test_counts_code_lines_only():
    # counted: import, class, x = 1, the two def lines, the two lines of
    # the string assignment, the two return lines
    assert count_code_lines(_SRC) == 9


def test_blank_and_comment_only_source_counts_zero():
    assert count_code_lines("\n# only a comment\n\n") == 0
