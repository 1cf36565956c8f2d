"""One-row result digests and the DuckDB oracle gate.

The timed action is a digest, not ``count()``: Catalyst prunes every column a
``count()`` does not need, so a count under-measures queries whose cost sits
in output columns (x4_lm_backoff_score ran 5 jobs under ``count()`` and 12
under a full-result action; tpch_q1 skipped its aggregates). The digest reads
every output column but ships a single row back to the driver, so it costs
what a user's full-result action costs without timing a large ``collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _has_map(t: T.DataType) -> bool:
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.ArrayType):
        return _has_map(t.elementType)
    if isinstance(t, T.StructType):
        return any(_has_map(f.dataType) for f in t.fields)
    return False


def _hashable(field: T.StructField):
    """``xxhash64`` rejects maps; a top-level map is hashed as its entries
    sorted by key, which is the same for any insertion order."""
    col = F.col(f"`{field.name}`")
    if isinstance(field.dataType, T.MapType):
        if _has_map(field.dataType.keyType) or _has_map(field.dataType.valueType):
            raise ValueError(f"nested map column {field.name!r} has no canonical form")
        return F.array_sort(F.map_entries(col))
    if _has_map(field.dataType):
        raise ValueError(f"nested map column {field.name!r} has no canonical form")
    return col


def digest(df: DataFrame) -> tuple[int, int | None]:
    """(row count, order-insensitive sum of per-row xxhash64 over all columns).

    The sum is taken as decimal(38,0): Spark runs in ANSI mode, where a
    plain ``sum`` of 64-bit hashes overflows and raises.
    """
    cols = [_hashable(f) for f in df.schema.fields]
    h = (F.xxhash64(*cols) if cols else F.lit(0)).cast("decimal(28,0)")
    row = (
        df.select(h.alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return int(row["n"]), (None if row["s"] is None else int(row["s"]))


class Oracle:
    """DuckDB over the same parquet directory, compared the way
    ``tools/check.py`` compares: row count, column names, then
    order-insensitive values (float last-bit differences tolerated)."""

    def __init__(self, check, sf_dir: str, spill_dir: str):
        self._check = check
        self._con = check.duck_connect(sf_dir)
        # duck_connect points spills at a shared system directory; keep
        # every byte this benchmark writes inside its own work directory.
        self._con.execute(f"SET temp_directory='{spill_dir}'")

    def compare(self, pdf, sql: str) -> str | None:
        """None when the Spark rows match the oracle, else a reason."""
        odf = self._con.execute(sql).fetchdf()
        if len(pdf) != len(odf):
            return f"rowcount spark={len(pdf)} oracle={len(odf)}"
        if sorted(pdf.columns) != sorted(odf.columns):
            return f"columns spark={sorted(pdf.columns)} oracle={sorted(odf.columns)}"
        a, b = self._check.normalize(pdf), self._check.normalize(odf)
        _exact, tolerant, diff = self._check.values_equal(a, b)
        return None if tolerant else diff

    def close(self) -> None:
        self._con.close()
