"""The one staging kernel every lakehouse data file is written through.

Delta, Iceberg and Hudi all write parquet the same way: Spark writes the
rows under ``<table>/.staging-<uuid>`` (hive directories for the
partition expressions), the part files are read back with their
partition values, and the format moves each into the table under its own
name and records it in its own commit (Delta add/cdc actions, Iceberg
``data_file`` records, Hudi write stats). Reference analog: Trino's
TableWriterOperator writes every connector's rows through a
ConnectorPageSink; only the commit differs per connector.

``stage`` owns that shared part: the partitionBy write, the '' escape
that keeps '' distinct from NULL in directory names, one footer read per
file, dropping zero-row files, decoding the directory names, and removing
the staging directory whatever happens. ``footer_stats`` is the one fold
of a footer's per-column min/max/null/value counts that every format's
file statistics and the Hudi key-range pruning read.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from typing import NamedTuple
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Spark's hive-style directory writer renders BOTH NULL and '' partition
# values as __HIVE_DEFAULT_PARTITION__, so a writer that recovers
# partition values from staged directory names would record '' as NULL,
# and pruning for ``col = ''`` would drop files that DO hold matching
# rows. '' is escaped to this sentinel before partitionBy (a genuine
# value starting with the sentinel gets it prefixed once more, so the
# mapping stays bijective). The sentinel only ever names directories:
# partitionBy drops the column from file content, and the decoded value
# is what lands in the table metadata.
EMPTY_PARTITION_SENTINEL = "__WITDB_EMPTY_STRING__"


def _escape(col: Column) -> Column:
    sentinel = F.lit(EMPTY_PARTITION_SENTINEL)
    return (
        F.when(col == "", sentinel)
        .when(
            col.startswith(EMPTY_PARTITION_SENTINEL),
            F.concat(sentinel, col),
        )
        .otherwise(col)
    )


def _unescape(v: str) -> str:
    if v == EMPTY_PARTITION_SENTINEL:
        return ""
    if v.startswith(EMPTY_PARTITION_SENTINEL):
        return v[len(EMPTY_PARTITION_SENTINEL):]
    return v


class StagedFile(NamedTuple):
    """One non-empty part file of a staged write, still in the staging
    directory: the caller moves ``path`` into the table under its own
    name."""

    path: str
    #: the file's pyarrow FileMetaData, read once
    footer: object
    #: decoded partition values, one per partition expression (None =
    #: NULL)
    values: tuple
    #: the staged directory value per partition expression: Spark's
    #: percent-encoded rendering, with '' escaped and NULL as the hive
    #: marker
    dirs: tuple

    @property
    def plain_dirs(self) -> tuple:
        """``dirs`` with the '' escape undone; percent-encoding and the
        NULL marker stay."""
        return tuple(_unescape(d) for d in self.dirs)


@contextmanager
def stage(
    df: DataFrame,
    table_path: str,
    parts: Sequence[tuple[str, Column]] = (),
    keep_empty: bool = False,
) -> Iterator[list[StagedFile]]:
    """Write ``df`` as parquet under ``<table_path>/.staging-<uuid>``
    and yield its part files, sorted by path. ``parts`` are (name,
    expression) pairs: each expression becomes column ``name`` (an
    existing column of that name is replaced in place, so it leaves the
    file content) and the write is partitionBy those names in order.
    Zero-row files are dropped unless ``keep_empty`` (a Delta CDC commit
    keeps its one authoritative empty file). The staging directory is
    removed on exit, also when the write or the caller fails."""
    import pyarrow.parquet as pq

    staging = os.path.join(table_path, f".staging-{uuid.uuid4().hex}")
    try:
        names = [n for n, _ in parts]
        if parts:
            df = df.withColumns(dict(parts))
            strings = [
                n for n in names
                if isinstance(df.schema[n].dataType, StringType)
            ]
            if strings:
                df = df.withColumns({n: _escape(F.col(n)) for n in strings})
        writer = df.write.mode("overwrite")
        if names:
            writer = writer.partitionBy(*names)
        writer.parquet(staging)
        files = []
        for f in sorted(
            glob.glob(os.path.join(staging, "**", "*.parquet"), recursive=True)
        ):
            footer = pq.read_metadata(f)
            if footer.num_rows == 0 and not keep_empty:
                continue
            rel_dir = os.path.relpath(os.path.dirname(f), staging)
            dirs = tuple(
                seg.partition("=")[2] for seg in rel_dir.split(os.sep)
            ) if names else ()
            files.append(
                StagedFile(
                    f,
                    footer,
                    tuple(
                        None if d == _HIVE_NULL else _unescape(unquote(d))
                        for d in dirs
                    ),
                    dirs,
                )
            )
        yield files
    finally:
        shutil.rmtree(staging, ignore_errors=True)


class ColumnStats(NamedTuple):
    """One column's statistics over a whole file. ``min``/``max`` are
    None when a file-wide bound is unknown; ``nulls`` is None when the
    null count is."""

    min: object
    max: object
    nulls: int | None
    #: parquet num_values: counts nulls too
    values: int


def _bounds(st) -> tuple | None:
    """A row group's (min, max) for one column, or None when the footer
    holds none that pyarrow can extract (INT32/INT64-backed DECIMAL
    raises ArrowNotImplementedError) or decode (non-UTF-8 bytes)."""
    import pyarrow as pa

    if st is None or not st.has_min_max:
        return None
    try:
        lo, hi = st.min, st.max
    except pa.ArrowNotImplementedError:
        return None
    if isinstance(lo, bytes):
        try:
            return lo.decode("utf-8"), hi.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return lo, hi


def footer_stats(footer) -> dict[str, ColumnStats]:
    """Fold a parquet footer's row-group statistics into per-column
    file statistics, keyed by ``path_in_schema`` (nested leaves are
    dotted). Sound for file skipping: a row group without statistics
    drops the column's bounds AND its null count (it may hold values
    outside the other groups' bounds, and nulls); a missing null count
    drops only the count; a bound pyarrow cannot extract or decode
    drops only that column's bounds. A file without row groups has no
    bounds."""
    names = [
        footer.schema.column(i).path for i in range(footer.num_columns)
    ]
    lo = dict.fromkeys(names)
    hi = dict.fromkeys(names)
    nulls: dict = dict.fromkeys(names, 0)
    values = dict.fromkeys(names, 0)
    unbounded = set() if footer.num_row_groups else set(names)
    for rg in range(footer.num_row_groups):
        g = footer.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            values[name] += col.num_values
            st = col.statistics
            if st is None or st.null_count is None:
                nulls[name] = None
            elif nulls[name] is not None:
                nulls[name] += st.null_count
            if name in unbounded:
                continue
            b = _bounds(st)
            if b is None:
                unbounded.add(name)
                continue
            lo[name] = b[0] if lo[name] is None else min(lo[name], b[0])
            hi[name] = b[1] if hi[name] is None else max(hi[name], b[1])
    return {
        n: ColumnStats(
            None if n in unbounded else lo[n],
            None if n in unbounded else hi[n],
            nulls[n],
            values[n],
        )
        for n in names
    }
