def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled): Spark parses an unquoted column name for dots and backticks,
    so any name handed to ``F.col``, ``groupBy`` or a SQL string goes
    through this first."""
    return "`" + name.replace("`", "``") + "`"
