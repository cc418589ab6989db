"""Training-shard writer — controlled output layout for curated data.

The last stage of a curation pipeline: write N equal-ish shards, rows
spread by a DETERMINISTIC hash (not round-robin: retries/speculative
tasks must land rows in the same shard) and sorted within each shard so
downstream readers stream in a stable order. At 100 TB this is the
layout knob that decides loader parallelism: one file per shard, shard
count = training-job reader count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str,
    sort_within: list[str] | None = None,
) -> None:
    """Write ``df`` as exactly ``n_shards`` parquet files under ``path``.

    Shard assignment is ``pmod(xxhash64(key), n_shards)`` — stable across
    retries and re-runs (repartition(n) round-robin is NOT: it depends on
    input partition order). The exchange is repartitionByRange on the
    shard id: contiguous shard ranges map to distinct tasks, so write
    parallelism tracks n_shards (hash-repartition(n, col) re-hashes the
    id and can collide two shards onto one task, leaving empty tasks).
    Range bounds come from sampling, so a rare boundary tie can still
    co-locate two shards — the hive ``shard=K/`` partitionBy is what
    GUARANTEES the one-dir-per-shard layout and per-shard file content
    regardless of task mapping; rows are sorted by ``sort_within``
    (default: the key) for stable reader order.
    """
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)).cast("int")
    )
    (
        sharded.repartitionByRange(n_shards, "shard")
        .sortWithinPartitions("shard", *(sort_within or [key]))
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )
