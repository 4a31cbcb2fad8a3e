"""Config-driven schema construction.

Generalizes the reference's 3-type YAML→StructType mapping
(reference: data_process.py:56-73, which supports only
string/double/integer and raises on anything else) to the full Spark
DDL type vocabulary — date, timestamp, decimal(p,s), arrays, maps,
structs, binary — which the multimodal/embedding columns need
(SURVEY.md §1.2, §7.4). Declaration style stays the same: a list of
``{name, type, nullable}`` field dicts.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import types as T

# Friendly aliases on top of Spark's DDL parser. Everything else
# (decimal(10,2), array<float>, map<string,int>, struct<...>) goes
# straight through ``_parse_datatype_string`` semantics via fromDDL.
_ALIASES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "str": T.StringType(),
    "text": T.StringType(),
    "double": T.DoubleType(),
    "float64": T.DoubleType(),
    "float": T.FloatType(),
    "float32": T.FloatType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "int32": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "int64": T.LongType(),
    "short": T.ShortType(),
    "byte": T.ByteType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def parse_type(name: str) -> T.DataType:
    """Resolve a config type name to a Spark DataType.

    Accepts the aliases above plus compound DDL type expressions —
    ``decimal(p,s)``, ``array<…>``, ``map<k,v>``, ``struct<a:t,…>`` —
    parsed locally (Spark's own ``DataType.fromDDL`` needs an active
    session, which schema declaration shouldn't require). Raises
    ``ValueError`` on unknown names — same contract as the reference
    (data_process.py:64-65), wider vocabulary.
    """
    key = name.strip().lower()
    if key in _ALIASES:
        return _ALIASES[key]
    if key.startswith("decimal"):
        inner = key[len("decimal") :].strip()
        if not inner:
            return T.DecimalType()
        if inner.startswith("(") and inner.endswith(")"):
            p, _, s = inner[1:-1].partition(",")
            return T.DecimalType(int(p), int(s or 0))
    if key.startswith("array<") and key.endswith(">"):
        return T.ArrayType(parse_type(key[len("array<") : -1]))
    if key.startswith("map<") and key.endswith(">"):
        k, v = _split_top_level(key[len("map<") : -1])
        return T.MapType(parse_type(k), parse_type(v))
    if key.startswith("struct<") and key.endswith(">"):
        fields = []
        for part in _split_top_level(key[len("struct<") : -1], many=True):
            fname, _, ftype = part.partition(":")
            fields.append(T.StructField(fname.strip(), parse_type(ftype)))
        return T.StructType(fields)
    raise ValueError(f"Unsupported type in schema config: {name!r}")


def _split_top_level(s: str, *, many: bool = False) -> list[str]:
    """Split on commas not nested inside ``<>``/``()``."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    if not many and len(parts) != 2:
        raise ValueError(f"expected two type arguments in {s!r}")
    return parts


def build_schema(fields: Iterable[Mapping[str, Any]]) -> T.StructType:
    """``[{name, type, nullable?}]`` → ``StructType``.

    ``nullable`` defaults to True, matching the reference's config shape
    (config.yaml:26-53).
    """
    out = []
    for f in fields:
        out.append(
            T.StructField(
                f["name"], parse_type(str(f["type"])), bool(f.get("nullable", True))
            )
        )
    return T.StructType(out)
