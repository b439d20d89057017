"""The lakehouse staging kernel (sources/staging.py): every Delta,
Iceberg and Hudi data file is written through it, zero-row files never
reach a commit, a failed write leaves neither a staging directory nor a
claimed instant, and footer bounds come from one fold."""

from __future__ import annotations

import decimal
import json
import os

import pytest


def _delta_adds(path: str, version: int) -> list[dict]:
    log = os.path.join(path, "_delta_log", f"{version:020d}.json")
    with open(log) as f:
        return [
            a["add"] for a in map(json.loads, filter(str.strip, f))
            if "add" in a
        ]


def test_delta_commits_no_zero_row_file(spark, tmp_path):
    """A COW DELETE that empties a whole file, and a CREATE from an
    empty frame, commit no add of a zero-row file."""
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        read_delta_snapshot,
        write_delta,
    )

    t = str(tmp_path / "d3")
    df = spark.range(30).repartitionByRange(3, "id")
    write_delta(spark, df, t, mode="create")
    assert len(_delta_adds(t, 0)) == 3
    delta_delete_where(spark, t, "id < 10")
    assert all(
        json.loads(a["stats"])["numRecords"] > 0 for a in _delta_adds(t, 1)
    )
    got = sorted(r.id for r in read_delta_snapshot(spark, t).collect())
    assert got == list(range(10, 30))

    e = str(tmp_path / "empty")
    write_delta(spark, df.limit(0), e, mode="create")
    assert _delta_adds(e, 0) == []
    back = read_delta_snapshot(spark, e)
    assert back.columns == ["id"] and back.count() == 0


def _listing(root: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


@pytest.mark.parametrize("fmt", ["delta", "iceberg", "hudi"])
def test_failed_write_leaves_no_trace(spark, tmp_path, fmt):
    """A statement whose query overflows mid-write leaves the table's
    metadata (Delta log, Iceberg metadata, Hudi timeline) as it was,
    claims no Hudi instant and leaves no .staging-* directory."""
    from witdb_spark.sources import delta_log, hudi_meta, iceberg_meta

    t = str(tmp_path / fmt)
    df = spark.createDataFrame(
        [(i, i) for i in range(4)], "id bigint, x int"
    ).coalesce(1)
    if fmt == "delta":
        delta_log.write_delta(spark, df, t, mode="create")
        update, meta = delta_log.delta_update_where, "_delta_log"
    elif fmt == "iceberg":
        iceberg_meta.write_iceberg(spark, df, t, mode="create")
        update, meta = iceberg_meta.iceberg_update_where, "metadata"
    else:
        hudi_meta.write_hudi(spark, df, t, mode="create", record_key="id")
        update, meta = hudi_meta.hudi_update_where, ".hoodie"
    before = _listing(os.path.join(t, meta))
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        update(spark, t, "id = 1", {"x": "x + 3000000000"})
    assert _listing(os.path.join(t, meta)) == before
    assert not [p for p in _listing(t) if ".staging-" in p]


def test_iceberg_cow_snapshot_lineage(spark, tmp_path):
    """A copy-on-write DELETE snapshot carries v2 lineage: the next
    sequence number, its parent, the bumped last-sequence-number; a
    kept file keeps its data sequence number and the rewritten file
    takes the new one."""
    from witdb_spark.sources import iceberg_meta as I
    from witdb_spark.sources.avro_codec import read_avro_file

    t = str(tmp_path / "lineage")
    mk = "id bigint, v double"
    I.write_iceberg(
        spark,
        spark.createDataFrame([(i, 1.0) for i in range(4)], mk).coalesce(1),
        t, mode="create",
    )
    I.write_iceberg(
        spark,
        spark.createDataFrame([(i, 2.0) for i in range(4, 8)], mk)
        .coalesce(1),
        t, mode="append",
    )
    I.iceberg_delete_where(spark, t, "id = 5")
    meta = I._current_metadata(t)
    snap = meta["snapshots"][-1]
    assert snap["snapshot-id"] == 3
    assert snap["sequence-number"] == 3
    assert snap["parent-snapshot-id"] == 2
    assert meta["last-sequence-number"] == 3
    _, mfs = read_avro_file(I._resolve(t, snap["manifest-list"]))
    seqs = {}
    for mf in mfs:
        data, _ = I._manifest_rows(t, mf, None)
        seqs.update(data)
    rows = I.read_iceberg_snapshot(spark, t).collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3, 4, 6, 7]
    assert sorted(seqs.values()) == [1, 3]


def test_hudi_upsert_on_decimal_key(spark, tmp_path):
    """Spark writes DECIMAL(9,2) as INT32, whose footer bounds pyarrow
    cannot extract: the key-range pruning makes such a file a scan
    candidate instead of failing."""
    from witdb_spark.sources.hudi_meta import (
        hudi_upsert,
        read_hudi_snapshot,
        write_hudi,
    )

    schema = "k decimal(9,2), v string"
    D = decimal.Decimal
    t = str(tmp_path / "hdec")
    write_hudi(
        spark,
        spark.createDataFrame(
            [(D("1.50"), "a"), (D("2.25"), "b")], schema
        ).coalesce(1),
        t, mode="create", record_key="k",
    )
    hudi_upsert(
        spark, t,
        spark.createDataFrame([(D("2.25"), "B"), (D("3.00"), "c")], schema),
    )
    got = sorted((r.k, r.v) for r in read_hudi_snapshot(spark, t).collect())
    assert got == [(D("1.50"), "a"), (D("2.25"), "B"), (D("3.00"), "c")]
