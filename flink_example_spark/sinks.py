"""Sinks (S4-S7, SURVEY.md §2.1).

The reference writes its changelog to the console and a text file
(``print()`` / ``writeAsText("output.txt", OVERWRITE)``, App.java:83-85).
Spark batch equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_console(df: DataFrame, n: int = 20, truncate: bool = False) -> None:
    """S4 console sink (App.java:84)."""
    df.show(n=n, truncate=truncate)


def serialize_row(df: DataFrame, sep: str = ", ") -> DataFrame:
    """Render each row as a single text line (Flink's ``Row.toString``-ish:
    ``a, b, c``), so text sinks can consume any schema."""
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(F.concat_ws(sep, *cols).alias("value"))


def write_text(df: DataFrame, path: str, overwrite: bool = True) -> None:
    """S5 text-file sink with overwrite mode (App.java:85)."""
    mode = "overwrite" if overwrite else "error"
    serialize_row(df).write.mode(mode).text(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Columnar sink — what a real deployment uses instead of text; partition
    columns give downstream readers partition pruning."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
