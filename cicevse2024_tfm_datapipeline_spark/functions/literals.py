"""JVM-side literal relations for tiny lookup/dimension tables.

``spark.createDataFrame(rows)`` routes local data through the Python-RDD
path (``applySchemaToPythonRDD``): it pickles the rows, launches Python
worker processes, and plans a ``Scan ExistingRDD`` whose partitioning is
unknown to Catalyst. Inside a timed query that worker spin-up dominates
(measured ~1.5-2 s of a 3 s query at sf0.1), and on a real cluster the
RDD scan blocks constant folding.

``literal_df`` instead builds the same relation as a pure Catalyst
expression — ``explode`` of a literal array of structs over ``range(1)``
— so the "table" lives entirely in the JVM plan: no Python workers, no
pickling, broadcast-friendly, and foldable.

Intended for small dimension/lookup/quota tables (≲ thousands of rows);
large frames should come from real sources.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """Parse ``"name type, name type"`` honoring nested ``<...>`` brackets
    (``array<double>``, ``map<string,int>``)."""
    fields: list[tuple[str, str]] = []
    depth = 0
    start = 0
    parts: list[str] = []
    for i, ch in enumerate(schema):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema[start:i])
            start = i + 1
    parts.append(schema[start:])
    for p in parts:
        name, typ = p.strip().split(None, 1)
        fields.append((name, typ.strip()))
    return fields


def _sql_str(s: str) -> str:
    """A Spark SQL string expression for ``s`` that parses the same under
    either ``spark.sql.parser.escapedStringLiterals`` setting: a quoted
    literal when ``s`` has no quote or backslash (the only characters the
    setting reads differently), else its UTF-8 bytes as a hex binary
    literal cast to string (foldable, as ``named_struct`` names must be)."""
    if "'" not in s and "\\" not in s:
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def _sql_scalar(v, typ: str) -> str:
    """Render one Python value as a Spark SQL literal of ``typ`` —
    bit-exact for doubles (repr is the shortest round-trip string and
    Java's parseDouble applies the same IEEE round-to-nearest, so the
    parsed double is identical to ``F.lit(v)``'s)."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    t = typ.strip().lower()
    if t.startswith("array<"):
        inner = typ.strip()[6:-1]
        items = ", ".join(_sql_scalar(x, inner) for x in v)
        return f"array({items})"
    if isinstance(v, bool):
        return f"CAST({'TRUE' if v else 'FALSE'} AS {typ})"
    if isinstance(v, float):
        r = repr(float(v))
        if r in ("inf", "-inf", "nan"):
            mapped = {"inf": "Infinity", "-inf": "-Infinity", "nan": "NaN"}[r]
            return f"CAST('{mapped}' AS {typ})"
        return f"CAST({r}D AS {typ})"
    if isinstance(v, int):
        return f"CAST({int(v)}L AS {typ})"
    return f"CAST({_sql_str(str(v))} AS {typ})"


def literal_array_expr(rows: Sequence[Sequence], fields: Sequence[tuple[str, str]]) -> str:
    """SQL text for ``array(named_struct(...), ...)`` over driver rows —
    ONE parser call instead of one py4j round trip per value (r12,
    guide §5: a 16x64 centroid literal built ~1,100 Column objects
    through py4j per query build; as a single expr string the whole
    relation costs one call)."""
    structs = []
    for row in rows:
        parts = []
        for v, (name, typ) in zip(row, fields):
            parts.append(f"{_sql_str(name)}, {_sql_scalar(v, typ)}")
        structs.append(f"named_struct({', '.join(parts)})")
    return f"array({', '.join(structs)})"


def literal_df(
    spark: SparkSession, rows: Sequence[Sequence], schema: str
) -> DataFrame:
    """Build a tiny DataFrame from driver-side rows without touching the
    Python-RDD path. ``schema`` is the usual DDL string, e.g.
    ``"event_type string, category string"``."""
    fields = _split_schema(schema)
    if not rows:
        return spark.createDataFrame([], schema=schema)
    return (
        spark.range(1)
        .select(F.explode(F.expr(literal_array_expr(rows, fields))).alias("__r"))
        .select("__r.*")
    )
