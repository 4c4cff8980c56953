"""Correctness gates for benchmark ops.

* ``digests``: an order-independent fingerprint per table: row count
  plus two sums over per-row 64-bit hashes (low and high halves, so
  the sums cannot overflow) and their XOR. Two tables with the same
  rows, in any order and partitioning, give the same digest.
* ``oracle_answer`` / ``oracle_check``: the same four tables against
  the pure-Python oracle (``oracle.pipeline_oracle``): triple
  precision/recall must be 1.0, and entities, canonical map and
  community membership must be equal as sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_rag_agent_spark.oracle.pipeline_oracle import (
    oracle_build,
    precision_recall,
)

# the tables a KG build hands downstream consumers
DIGEST_TABLES = ("triples", "entities", "canonical_map", "membership")


def digests(tables: dict[str, DataFrame]) -> dict[str, list[int]]:
    """Digest of each of DIGEST_TABLES, all in one Spark job."""
    hashed = None
    for name in DIGEST_TABLES:
        df = tables[name]
        part = df.select(
            F.lit(name).alias("t"), F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("h")
        )
        hashed = part if hashed is None else hashed.unionByName(part)
    rows = hashed.groupBy("t").agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftright("h", 32)).alias("hi"),
        F.bit_xor("h").alias("x"),
    ).collect()
    out = {name: [0, 0, 0, 0] for name in DIGEST_TABLES}
    for r in rows:
        out[r["t"]] = [int(r["n"]), int(r["lo"]), int(r["hi"]), int(r["x"])]
    return out


# the columns of each table the oracle computes, in the oracle's
# field order (canonical_map is a dict there, entity_id -> canonical_id)
ORACLE_COLUMNS = {
    "triples": ("subj", "pred", "obj"),
    "entities": ("entity_id", "entity_type", "description"),
    "canonical_map": ("entity_id", "canonical_id"),
    "membership": ("entity_id", "community_id", "level"),
}


def oracle_answer(rows: list[dict]) -> dict:
    """The oracle's tables as sets of tuples, and corpus sizes; pure
    Python, no Spark."""
    res = oracle_build(rows)
    tables = {"canonical_map": set(res.canonical_map.items())}
    for name, source in (("triples", res.triples), ("entities", res.entities),
                         ("membership", res.membership)):
        tables[name] = {tuple(r[c] for c in ORACLE_COLUMNS[name]) for r in source}
    return {
        "tables": tables,
        "chunks": len(res.chunks),
        "distinct_chunks": len({c["chunk_id"] for c in res.chunks}),
        "catalog_size": len(res.entities),
    }


def oracle_check(answer: dict, tables: dict[str, DataFrame]) -> tuple[list[float], list[str]]:
    """Triple (precision, recall) against the oracle, and the names of
    the tables that differ from it (triples when P/R is not 1.0)."""
    differ = []
    pr = [1.0, 1.0]
    for name, cols in ORACLE_COLUMNS.items():
        want = answer["tables"][name]
        got = {tuple(r) for r in tables[name].select(*cols).collect()}
        if name == "triples":
            pr = list(precision_recall(got, want))
        if got != want:
            differ.append(name)
    return pr, differ
