"""Spark SQL literal text for Python values spliced into ``F.expr`` /
``selectExpr`` strings (word lists, lexicon keys, vocabulary words)."""

from __future__ import annotations


def sql_str(s: str) -> str:
    """A Spark SQL string literal (backslash escapes are on by default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
