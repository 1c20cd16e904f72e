"""Keyed document store — the local stand-in for a DynamoDB table.

Layout (FIXTURES.md "DynamoDB-shaped fixture"):

    <store_dir>/<table>/
      _meta.json            # {hash_key, range_key?, rcu, wcu, gsis, format}
      data/part-*.parquet   # N segment files, hash-partitioned on hash_key
      gsi/<name>/part-*.parquet   # materialized GSI, re-keyed
      data/docs-*.jsonl     # (format="jsonl") schemaless document segments

The reference's table semantics mapped here (SURVEY §1.1):
- partition key → files are hash-partitioned by ``hash_key``, so a key
  lives in exactly one segment. Two partition functions assign the
  segments: ``create_table`` uses Spark's ``repartition(n, key)``
  (murmur3), while ``DynamoWriter._rewrite`` uses
  ``pd.util.hash_pandas_object(key) % n``. So the key → segment map
  changes after the first commit. The one-segment-per-key property
  holds under both, and it is all the reader relies on (a hash-key
  lookup plans one partition); pruning a lookup to the owning segment
  must wait until both paths share one function;
- sort key → rows sorted by (hash_key, range_key) within segments
  (``sortWithinPartitions``);
- GSI → a *materialized* copy re-partitioned by the index keys, like
  DynamoDB's async-replicated index (``connector/TableIndexConnector``);
- provisioned RCU/WCU → stored in _meta.json, consumed by the reader/
  writer token buckets;
- schemalessness → optional jsonl format whose schema only exists by
  sampling (exercises the reference's inference path, A3).

Store creation/maintenance runs as Spark jobs (repartition + write) —
at 100 TB this is a normal shuffled write, not a driver loop.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

DEFAULT_STORE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
    "dynamo",
)


def meta_path(store_dir: str, table: str) -> str:
    return os.path.join(store_dir, table, "_meta.json")


def data_dir(store_dir: str, table: str, index_name: str | None = None) -> str:
    if index_name:
        return os.path.join(store_dir, table, "gsi", index_name)
    return os.path.join(store_dir, table, "data")


def read_meta(store_dir: str, table: str) -> dict:
    with open(meta_path(store_dir, table)) as f:
        return json.load(f)


def write_meta(store_dir: str, table: str, meta: dict) -> None:
    os.makedirs(os.path.join(store_dir, table), exist_ok=True)
    with open(meta_path(store_dir, table), "w") as f:
        json.dump(meta, f, indent=2)


def list_segments(store_dir: str, table: str, index_name: str | None = None) -> list[str]:
    d = data_dir(store_dir, table, index_name)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") or f.endswith(".jsonl")
    )


def _write_partitioned(
    df: DataFrame, key: str, range_key: str | None, out_dir: str, n_segments: int
) -> None:
    # INT96 (the default) reads back as Arrow timestamp[ns], which the
    # Arrow batch path rejects — write explicit micros.
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    part = df.repartition(n_segments, key)
    sort_cols = [key] + ([range_key] if range_key else [])
    part.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(out_dir)
    # Drop Spark's _SUCCESS marker; segments are the parquet files only.
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)


def create_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    hash_key: str,
    range_key: str | None = None,
    gsis: list[dict] | None = None,
    store_dir: str = DEFAULT_STORE_DIR,
    n_segments: int = 8,
    rcu: float = 0.0,
    wcu: float = 0.0,
    set_columns: list[str] | None = None,
) -> dict:
    """Create (or replace) a keyed table from a DataFrame.

    rcu/wcu = 0 means on-demand (no throttling unless the reader's
    ``throughput`` option supplies a budget, mirroring the reference's
    on-demand default of 100).

    ``set_columns`` declares array columns with DynamoDB set semantics
    (SS/NS/BS, SURVEY §1.2): uniqueness is enforced on every write —
    the writer sorts+dedups them, like the reference's set conversion.
    """
    gsis = gsis or []
    tdir = os.path.join(store_dir, table)
    tmp = tdir + ".tmp-" + uuid.uuid4().hex[:8]
    try:
        _write_partitioned(df, hash_key, range_key, os.path.join(tmp, "data"), n_segments)
        for gsi in gsis:
            _write_partitioned(
                df,
                gsi["hash_key"],
                gsi.get("range_key"),
                os.path.join(tmp, "gsi", gsi["name"]),
                n_segments,
            )
        if os.path.isdir(tdir):
            shutil.rmtree(tdir)
        os.makedirs(os.path.dirname(tdir), exist_ok=True)
        os.rename(tmp, tdir)
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
    meta = {
        "table": table,
        "hash_key": hash_key,
        "range_key": range_key,
        "rcu": rcu,
        "wcu": wcu,
        "gsis": gsis,
        "format": "parquet",
        "n_segments": n_segments,
        "set_columns": set_columns or [],
    }
    write_meta(store_dir, table, meta)
    return meta
