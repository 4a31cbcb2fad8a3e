"""Custom connector via the Spark 4 Python DataSource API.

The reference reads only local CSV (SURVEY §2.1); real estates also
pull from systems with no built-in connector. Spark 4's Python
DataSource API is the sanctioned way to add one without JVM code:
implement partition planning driver-side and a per-partition row
generator executor-side, and the source composes with everything else
(pushdown of LIMIT/COUNT stays with Spark; the reader is the
parallelism unit).

``synthetic_docs`` here is a deterministic document generator (id,
text, lang) — the pattern stands in for a REST/queue/scan connector:
``partitions()`` is where a real source would split by shard/offset
range, ``read()`` where it would fetch its slice.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_WORDS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
_LANGS = ("en", "de", "fr", "es")


class SyntheticDocsDataSource(DataSource):
    """format("synthetic_docs") with options rows (default 100) and
    partitions (default 4)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id long, text string, lang string"

    def reader(self, schema) -> "SyntheticDocsReader":
        return SyntheticDocsReader(
            rows=int(self.options.get("rows", 100)),
            partitions=int(self.options.get("partitions", 4)),
        )


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, *, rows: int, partitions: int):
        self.rows, self.n_parts = rows, max(1, partitions)
        # doc_id range narrowed by pushFilters; partitions() plans only
        # slices intersecting it (a real connector would prune
        # shards/offset ranges the same way)
        self.lo, self.hi = 0, rows

    def pushFilters(self, filters):
        """Spark 4.1 filter pushdown for Python data sources: CONSUME
        range/equality predicates on doc_id — applied exactly via the
        [lo, hi) clip in partitions()/read(), so Spark need not
        re-evaluate them — and hand every other filter back. Planning
        sees the narrowed range, so whole partitions disappear before
        any row is generated."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            col = getattr(f, "attribute", None)
            if col is not None and tuple(col) == ("doc_id",) and isinstance(
                getattr(f, "value", None), int
            ):
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                    continue
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, f.value + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, f.value)
                    self.hi = min(self.hi, f.value + 1)
                    continue
            yield f  # not consumed — Spark evaluates it

    def partitions(self):
        per = -(-self.rows // self.n_parts)  # ceil
        out = []
        for i in range(self.n_parts):
            start = max(i * per, self.lo)
            end = min((i + 1) * per, self.rows, self.hi)
            if start < end:
                out.append(_Slice(start, end))
        # Spark requires >= 1 partition; an empty range yields no rows
        return out or [_Slice(0, 0)]

    def read(self, partition: _Slice):
        for i in range(partition.start, partition.end):
            words = [_WORDS[(i * 7 + j) % len(_WORDS)] for j in range(3 + i % 5)]
            yield (i, " ".join(words), _LANGS[i % len(_LANGS)])


def register(spark) -> None:
    """Register ``synthetic_docs``. Its reader implements pushFilters(),
    which Spark 4.1 refuses unless ``spark.sql.python.filterPushdown.enabled``
    is on; the engine's session turns it on (``session._DEFAULTS``)."""
    spark.dataSource.register(SyntheticDocsDataSource)
