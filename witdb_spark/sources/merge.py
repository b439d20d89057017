"""SQL MERGE semantics as a DataFrame operator (reference
MergeWriterOperator.java:46 + DeleteAndInsertMergeProcessor; SQL MERGE
grammar SqlBase.g4). Without a transactional table format in the container
(Delta/Iceberg), merge produces the post-merge dataset; the caller writes it
as the new snapshot (copy-on-write, which is exactly what those formats do
under the hood per touched file).

Plan shape: one full-outer shuffle join on the merge keys — the same
distribution the reference plans for MERGE (redistribution on row id).

Row-level DML on the lakehouse formats runs here once, as the reference
runs it once in MergeWriterOperator and lets each connector only commit.
A statement is a ``RowRule``: a matcher that picks the rows whose files
must be rewritten, a rewrite that turns those files' rows into the rows
that replace them (``delete_where`` / ``update_where`` / ``merge_into``),
and the change rows a change feed records. ``rewrite_files`` is the
copy-on-write kernel every format's DELETE/UPDATE/MERGE, compaction and
keyed upsert scans through; Delta, Iceberg and Hudi keep only their
commits. The merge-on-read paths apply the same rules to the matched
rows.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from witdb_spark.sources.paths import norm_path


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Column] | None = None,
    when_matched_delete: Column | None = None,
    insert_not_matched: bool = True,
    when_matched_update_cond: Column | None = None,
    insert_values: dict[str, Column] | None = None,
    insert_cond: Column | None = None,
) -> DataFrame:
    """MERGE INTO target USING source ON <keys>
    [WHEN MATCHED AND <delete_cond> THEN DELETE]
    [WHEN MATCHED [AND <update_cond>] THEN UPDATE SET <assignments>]
    [WHEN NOT MATCHED [AND <insert_cond>] THEN INSERT
        * | (cols) VALUES (exprs)].

    Assignments may reference source columns as ``src.<col>`` via the
    aliased join (use F.col('src.x')). Target schema is preserved.

    r9 clause surface (reference core/trino-parser tree/MergeUpdate.java
    and MergeInsert.java carry a per-clause condition; MergeInsert
    carries a column list): ``when_matched_update_cond`` gates the
    UPDATE to matched rows satisfying it (first-match-wins with a
    preceding DELETE clause is preserved because the delete filter runs
    first); ``insert_values`` projects the inserted row — listed target
    columns get their expressions (evaluated over src.*), unlisted ones
    NULL; ``insert_cond`` gates the INSERT, non-matching source rows
    are simply not inserted.
    """
    # Plain equality, not eqNullSafe: SQL MERGE ON never matches NULL keys —
    # a NULL-keyed target row is kept as-is and a NULL-keyed source row
    # inserts as a separate row. Side-presence after the full-outer join is
    # read from non-nullable marker columns, never from key nullness.
    t = target.withColumn("__tgt_present", F.lit(True)).alias("tgt")
    s = source.withColumn("__src_present", F.lit(True)).alias("src")
    cond = [F.col(f"tgt.{k}") == F.col(f"src.{k}") for k in on]
    joined = t.join(s, cond, "full_outer")

    matched = (
        F.col("tgt.__tgt_present").isNotNull()
        & F.col("src.__src_present").isNotNull()
    )
    src_only = F.col("tgt.__tgt_present").isNull()

    # WHEN MATCHED THEN DELETE evaluates BEFORE the update projection (SQL
    # MERGE clause semantics: each clause's condition sees the ORIGINAL
    # matched row), and on the joined frame, so the condition may reference
    # tgt.* and src.* qualified columns.
    if when_matched_delete is not None:
        joined = joined.filter(
            ~(matched & F.coalesce(when_matched_delete, F.lit(False)))
        )

    # SQL identifiers fold case-insensitively: match SET keys to target
    # columns by lower-case, and an assignment naming NO target column is
    # an error, never a silent no-op
    updates = {
        k.lower(): v for k, v in (when_matched_update or {}).items()
    }
    known = {f.name.lower() for f in target.schema.fields}
    unknown = sorted(set(updates) - known)
    if unknown:
        raise ValueError(
            f"MERGE UPDATE SET names no target column: {unknown}"
        )
    ivals = (
        None
        if insert_values is None
        else {k.lower(): v for k, v in insert_values.items()}
    )
    if ivals is not None:
        unknown = sorted(set(ivals) - known)
        if unknown:
            raise ValueError(
                f"MERGE INSERT names no target column: {unknown}"
            )
    upd_gate = matched
    if when_matched_update_cond is not None:
        upd_gate = matched & F.coalesce(
            when_matched_update_cond, F.lit(False)
        )
    ins_gate = src_only
    if insert_cond is not None:
        ins_gate = src_only & F.coalesce(insert_cond, F.lit(False))
    out_cols = []
    for field in target.schema.fields:
        c = field.name
        tgt_c = F.col(f"tgt.{c}")
        if ivals is not None:
            src_c = ivals.get(c.lower(), F.lit(None))
        else:
            src_c = (
                F.col(f"src.{c}") if c in source.columns else F.lit(None)
            )
        val = tgt_c
        if c.lower() in updates:
            val = F.when(upd_gate, updates[c.lower()]).otherwise(tgt_c)
        if insert_not_matched:
            val = F.when(src_only, src_c).otherwise(val)
        out_cols.append(val.cast(field.dataType).alias(c))

    if not insert_not_matched:
        joined = joined.filter(~src_only)
    elif insert_cond is not None:
        # an unmatched source row failing the insert condition simply
        # does not insert (SQL MERGE: no clause applies -> no row)
        joined = joined.filter(~src_only | ins_gate)
    return joined.select(*out_cols)


def _expr(e) -> Column:
    return F.expr(e) if isinstance(e, str) else e


def delete_where(target: DataFrame, predicate: Column | str) -> DataFrame:
    """DELETE FROM t WHERE p (reference TableDeleteOperator.java:33):
    anti-filter producing the new snapshot. A row whose ``p`` is NULL
    stays: ``NOT (p)`` is not the complement of ``p`` when ``p`` can be
    NULL."""
    return target.filter(~F.coalesce(_expr(predicate), F.lit(False)))


def update_where(
    target: DataFrame,
    predicate: Column | str,
    assignments: dict[str, Column | str],
) -> DataFrame:
    """UPDATE t SET ... WHERE p: one conditional projection. Every
    assignment and the predicate see the PRE-update row ({'a': 'b',
    'b': 'a'} swaps; an assignment that falsifies ``p`` cannot suppress
    the others), and each assigned value is cast to the column's
    declared type, as INSERT casts — under ANSI an out-of-range value
    raises instead of widening the column. An assignment naming no
    column is an error, never a silent no-op."""
    unknown = sorted(set(assignments) - set(target.columns))
    if unknown:
        raise ValueError(f"UPDATE SET names no such column: {unknown}")
    p = _expr(predicate)
    cols = []
    for field in target.schema.fields:
        c = field.name
        if c in assignments:
            cols.append(
                F.when(p, _expr(assignments[c]))
                .otherwise(F.col(c))
                .cast(field.dataType)
                .alias(c)
            )
        else:
            cols.append(F.col(c))
    return target.select(*cols)


def _change_rows(before: DataFrame, after: DataFrame, on: list[str]):
    """Row-level change rows between two images of the same rows keyed
    by ``on`` (MERGE's change stream): rows common to both images drop
    out; a key in both diffs emits an update_preimage/update_postimage
    pair, a key only in the before diff a delete, only in the after
    diff an insert. Pure set algebra over DataFrames — exceptAll +
    semi/anti joins, no driver collect."""
    pre = before.exceptAll(after)
    post = after.exceptAll(before)
    k_pre = pre.select(*on).distinct()
    k_post = post.select(*on).distinct()
    ct = "_change_type"
    return (
        pre.join(k_post, on, "left_semi")
        .withColumn(ct, F.lit("update_preimage"))
        .unionByName(
            pre.join(k_post, on, "left_anti").withColumn(
                ct, F.lit("delete")
            )
        )
        .unionByName(
            post.join(k_pre, on, "left_semi").withColumn(
                ct, F.lit("update_postimage")
            )
        )
        .unionByName(
            post.join(k_pre, on, "left_anti").withColumn(
                ct, F.lit("insert")
            )
        )
    )


@dataclass(frozen=True)
class RowRule:
    """One row-level statement. ``matcher(scan)`` returns the rows that
    make their file a rewrite target (None: every file is, as in
    compaction); ``rewrite(rows)`` turns the rows of those files into
    the rows that replace them; ``changes(touched, survivors)`` labels
    the rows the statement changed with ``_change_type`` for a change
    feed."""

    matcher: Callable[[DataFrame], DataFrame] | None
    rewrite: Callable[[DataFrame], DataFrame]
    changes: Callable[[DataFrame, DataFrame], DataFrame] | None = None


def delete_rule(predicate: Column | str) -> RowRule:
    p = _expr(predicate)
    return RowRule(
        lambda scan: scan.where(p),
        lambda rows: delete_where(rows, p),
        lambda touched, _survivors: touched.where(p).withColumn(
            "_change_type", F.lit("delete")
        ),
    )


def update_rule(
    predicate: Column | str, assignments: dict[str, Column | str]
) -> RowRule:
    p = _expr(predicate)

    def changes(touched, _survivors):
        pre = touched.where(p)
        return pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            update_where(pre, p, assignments).withColumn(
                "_change_type", F.lit("update_postimage")
            )
        )

    return RowRule(
        lambda scan: scan.where(p),
        lambda rows: update_where(rows, p, assignments),
        changes,
    )


def merge_rule(source: DataFrame, on: list[str], **merge_kwargs) -> RowRule:
    """MERGE: a file is a target when it holds a key-matched row. The
    rewrite merges just those files' rows with the whole source — a
    source row matching a row of an untouched file is impossible (that
    file would be touched), so untouched files stay and unmatched
    source rows insert."""
    keys = source.select(*on).distinct()
    return RowRule(
        lambda scan: scan.join(keys, on=on, how="left_semi"),
        lambda rows: merge_into(rows, source, on, **merge_kwargs),
        lambda touched, survivors: _change_rows(touched, survivors, on),
    )


@dataclass(frozen=True)
class FileRewrite:
    """A copy-on-write rewrite ready to commit: ``removed`` holds the
    format's handles of the matched files, ``touched`` every row of
    those files, ``survivors`` the rows that replace them. No removed
    file means a pure insert."""

    removed: list
    touched: DataFrame
    survivors: DataFrame


def rewrite_files(
    scan: DataFrame, known: dict, rule: RowRule, error: type
) -> FileRewrite | None:
    """The copy-on-write kernel (reference connectors' COW write mode):
    ``scan`` holds the rows of exactly the files in ``known`` (absolute
    path -> the format's handle for it), or is a typed empty frame when
    ``known`` is empty. The scan is tagged with input_file_name(), the
    files holding matches are collected and mapped to snapshot files —
    a file the snapshot does not know fails loudly — and the rule
    rewrites those files' rows. Returns None when the statement changes
    nothing: no file matched and no row survives."""
    cols = scan.columns
    if rule.matcher is None:
        # compaction: every file is matched, known driver-side — no
        # scan-and-collect pass, and zero-row files (invisible to a
        # row matcher) retire too
        removed = list(known.values())
        touched = scan
    else:
        tagged = scan.withColumn("__sf", F.input_file_name())
        uris = [
            r["__sf"]
            for r in rule.matcher(tagged).select("__sf").distinct().collect()
        ]
        removed = []
        for u in uris:
            ap = os.path.abspath(norm_path(u))
            if ap not in known:
                raise error(f"scanned file {ap} not in the current snapshot")
            removed.append(known[ap])
        touched = (
            tagged.where(F.col("__sf").isin(uris)).drop("__sf")
            if uris
            else scan.limit(0)
        )
    survivors = rule.rewrite(touched).select(*cols)
    if not removed and survivors.isEmpty():
        return None
    return FileRewrite(removed, touched, survivors)
