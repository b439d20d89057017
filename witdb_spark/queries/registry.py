"""Query registry: every implemented operator from SURVEY.md §2 registers a
(spark_fn, duckdb_oracle_sql) pair here. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this dict — the driver's correctness
gate (CORRECTNESS_r{N}.json) runs both sides at sf0.01 and hash-compares.

Determinism rules every query follows (so the order-insensitive value hash
matches bit-for-bit between Spark and DuckDB):
  - Floating aggregates go through a per-row cast to DECIMAL, are summed
    exactly, and only the final value is cast back to DOUBLE. Double summation
    order varies between engines/partitions; decimal summation does not.
  - Averages are computed as CAST(exact_sum AS DOUBLE) / COUNT — one IEEE
    division, identical in both engines.
  - Timestamp columns are returned as DATE or formatted strings, never raw
    (parquet is timestamp_ntz; string form is engine-neutral).
  - Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered views; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 names from queries().
# Rotation rule (every round): lead with (a) anything never driver-verified
# or whose engine/oracle changed this round, (b) the oldest driver-green
# queries. Cumulative ledger after r14 (recomputed from all fourteen
# CORRECTNESS files): 319/323 registered queries ever driver-checked, ZERO
# latest-row failures; staleness by latest driver row entering r15:
# r8: 34, r9: 47, r10: 44, r11: 48, r12: 46, r13: 50, r14: 50;
# never-checked: the four late-r14 registrations.
# Round-15 window: positions 1-4 the never-driver-checked late-r14
# registrations (hudi_changes_stream_drain: hudi incremental change
# STREAM completing the 3x3 source/sink matrix;
# delta_v2_checkpoint_roundtrip: V2 checkpoint WRITER + bootstrap;
# dedup_passage_boilerplate: CCNet/C4-style common-passage removal;
# similarity_pq_topk: product-quantization ANN) — after this window
# lands, every registered query has a driver row for the first time;
# 5-38 the ENTIRE remaining r8-era staleness — all 34 deferred tpcds
# texts — draining r8 to zero the way r14 drained r7; 39-50 r15-new
# registrations + engine-changed re-drives + shape-diverse r9
# backfills: similarity_ivfpq_topk (IVF cell probe composed with PQ
# ADC scoring — the 100 TB ANN shape, bench-tagged) and
# similarity_ivfpq_residual_topk (Faiss IVFADC's default residual
# encoding — the recall lever at the same plan shape);
# iceberg_cherry_pick_dynamic + iceberg_cherry_pick_conflict
# (dynamic-overwrite cherry-pick with the library's
# changed-partition conflict validation, clean + refused);
# hudi_rewrite_stream_drain (COW rewrite commits attributed by
# executor-side anti-diff against the retired groups instead of
# refusing) + hudi_cow_incremental_read (the batch twin — latest
# image per key, deleted keys dropped, retiring the MOR-only gate);
# cbo_broadcast_from_stats (persisted ANALYZE stats fed into
# broadcast decisions); engine-changed re-drives
# iceberg_cherry_pick_scan (cherry-pick generalized past appends),
# iceberg_analyze_puffin_stats (iceberg_analyze now stashes
# table-size blob properties), similarity_ivf_topk + similarity_topk
# (the composition's parents / baseline); r9 backfills
# hudi_timeline_reader_snapshot, lakehouse_merge_roundtrip chosen
# for shape diversity (lakehouse timeline, MERGE). The remaining r9 texts keep local DuckDB
# coverage every pytest run (tests/test_queries_oracle.py
# parameterizes the whole registry) and lead r16 with whatever r15
# registers late.
# Current window: the SUM decimal-narrowing rewrite is deleted, so every
# SQL text it used to fire on (79 of the 121 sql_text texts) reaches
# Spark with a different text: its per-row DECIMAL(30,6) casts are no
# longer rewritten to DECIMAL(18,6) under a CAST back to SUM's type. No
# other text and no DataFrame query changes. The window leads with the
# texts whose executor CPU moved most when the pass was ablated
# (tpcds_sql_q65, q78, q14, tpch_sql_q1, tpcds_sql_q64, q67), then the
# rest of the 79 by the size of their measured CPU change at sf0.1
# (min of 3 interleaved runs on 4 cores); the last 29 fall outside the
# 50-name sample and keep local DuckDB coverage through
# tests/test_queries_oracle.py.
_PRIORITY: tuple[str, ...] = (
    "tpcds_sql_q65", "tpcds_sql_q78", "tpcds_sql_q14", "tpch_sql_q1",
    "tpcds_sql_q64", "tpcds_sql_q67", "tpcds_sql_q48", "tpcds_sql_q44",
    "tpcds_sql_q68", "tpcds_sql_q79", "tpcds_sql_q20", "tpcds_sql_q39",
    "tpch_sql_q17", "tpch_sql_q15", "tpcds_sql_q26", "tpcds_sql_q89",
    "tpcds_sql_q23", "tpch_sql_q14", "tpch_sql_q19", "tpcds_sql_q19",
    "tpcds_sql_q56", "tpcds_sql_q9", "tpcds_sql_q8", "tpch_sql_q22",
    "tpcds_sql_q42", "tpcds_sql_q31", "tpcds_sql_q46", "tpcds_sql_q35",
    "tpcds_sql_q3", "tpcds_sql_q55", "tpcds_sql_q32", "tpcds_sql_q61",
    "tpcds_sql_q47", "tpcds_sql_q98", "tpcds_sql_q24", "tpcds_sql_q81",
    "tpcds_sql_q77", "tpcds_sql_q45", "tpcds_sql_q94", "tpch_sql_q3",
    "tpcds_sql_q36", "tpcds_sql_q15", "tpcds_sql_q12", "tpcds_sql_q16",
    "tpcds_sql_q53", "tpcds_sql_q22", "tpcds_sql_q6", "tpch_sql_q5",
    "tpcds_sql_q52", "tpcds_sql_q18", "tpcds_sql_q4", "tpch_sql_q10",
    "tpcds_sql_q54", "tpcds_sql_q25", "tpcds_sql_q80", "tpcds_sql_q92",
    "tpcds_sql_q57", "tpcds_sql_q91", "tpcds_sql_q85", "tpcds_sql_q33",
    "tpcds_sql_q11", "tpcds_sql_q17", "tpcds_sql_q86", "tpcds_sql_q30",
    "tpcds_sql_q28", "tpcds_sql_q7", "tpcds_sql_q27", "tpcds_sql_q29",
    "tpcds_sql_q51", "tpcds_sql_q63", "tpcds_sql_q95", "tpcds_sql_q70",
    "tpch_sql_q6", "tpcds_sql_q13", "tpcds_sql_q1", "tpcds_sql_q60",
    "tpch_sql_q18", "tpcds_sql_q58", "tpcds_sql_q74",
)


def _ordered_names() -> list[str]:
    prio = [n for n in _PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(prio)]
    return prio + rest


def all_queries() -> dict[str, QueryFn]:
    return {name: QUERIES[name].fn for name in _ordered_names()}


def all_oracles() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }
