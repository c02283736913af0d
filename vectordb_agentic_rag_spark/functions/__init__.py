"""Reusable column-expression libraries (no UDFs in the hot path)."""


def _quote(name: str) -> str:
    """A column name as one SQL identifier: a dot or a backtick in it is
    part of the name (backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _ident(name: str) -> str:
    """``_quote`` for a ``spark.sql`` text given DataFrames (braces doubled)."""
    return _quote(name).replace("{", "{{").replace("}", "}}")
