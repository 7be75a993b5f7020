"""Deterministic training-data shuffle + sharding.

Every LLM training pipeline ends with "globally shuffle the corpus and
write N shards". Doing that with ``ORDER BY rand()`` is non-reproducible
and needs a global sort; the standard scale trick is a SEEDED HASH
shuffle: position = md5(seed || id). That is

- deterministic (same seed -> same permutation, resumable pipelines),
- uniform (md5 is avalanche — any id pattern becomes a uniform order),
- distributed: shard assignment is a pure projection, and the per-shard
  order is a partition-local sort after one hash repartition — exactly
  ``repartition(n_shards).sortWithinPartitions(key)``, no global sort.

Shards map 1:1 to training files; n_shards is sized so a shard fits one
writer task (at 100 TB: thousands of shards, each ~tens of GB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _key_and_shard(n_shards: int, seed: str, id_col: str):
    """The seeded permutation key md5(seed:id) and the shard it assigns."""
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(key, 1, 4), 16, 10).cast("long") % n_shards).cast(
        "int"
    )
    return key, shard


def seeded_shuffle(df: DataFrame, n_shards: int = 8, seed: str = "42",
                   id_col: str = "doc_id") -> DataFrame:
    """Assign each row a (shard, pos) under the seeded permutation.

    The window is partitioned by shard, so each rank is a partition-local
    sort (one shuffle on shard). The md5 key is its own unique tiebreak
    except on id collisions, so (key, id) ordering is total and the output
    is bit-deterministic.
    """
    key, shard = _key_and_shard(n_shards, seed, id_col)
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    )
    return (
        df.select(F.col(id_col), key.alias("shuffle_key"), shard.alias("shard"))
        .withColumn("pos", pos.cast("int"))
        .drop("shuffle_key")
    )


def write_shards(df: DataFrame, path: str, n_shards: int = 8,
                 seed: str = "42", id_col: str = "doc_id") -> None:
    """Materialize the shuffled corpus as ``shard=K`` parquet partitions,
    rows stored in permutation order (the streaming-read order a trainer
    consumes). One hash repartition + partition-local sort — the 100 TB
    write path."""
    key, shard = _key_and_shard(n_shards, seed, id_col)
    (
        df.withColumn("shuffle_key", key)
        .withColumn("shard", shard)
        .repartition(n_shards, "shard")
        # shard leads the sort so the dynamic-partition writer's required
        # ordering (partition columns first) is already satisfied and it
        # does NOT re-sort — re-sorting is keyed on shard alone and would
        # destroy the permutation order within each shard.
        .sortWithinPartitions("shard", "shuffle_key", id_col)
        .drop("shuffle_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
