"""Persisted-index LIFECYCLE: build -> append -> compact -> probe, for both
index families (bucketed LSH dedup index and cell-partitioned IVF vector
index).

This is the shape a production 100 TB corpus runs nightly:

- BUILD once at snapshot time (pay the corpus shuffle exactly once);
- APPEND each ingest batch at O(batch) cost — new files only, existing
  files byte-untouched, co-partitioning/pruning preserved;
- COMPACT when fragmentation accumulates — generation-then-swap: the new
  generation is written and verified at a versioned sibling location,
  committed atomically (ALTER TABLE SET LOCATION / ordered rename), and
  the old generation is RETIRED in place (deferred GC: readers mid-scan
  on the old file listing finish undisturbed; gc_generations sweeps it
  at the start of the next compaction), so the live index is never at
  risk;
- PROBE between any of the above: answers are certified identical to a
  full rebuild at every step (the registry operators dedup_index_append/
  dedup_index_compact/sim_ivf_append/sim_ivf_compact share their
  oracles with the one-shot builds).

Run: python examples/index_lifecycle.py [sf_dir]
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datafusion_ray_spark.operators import dedup, similarity
from datafusion_ray_spark.operators.suite7 import (
    _ivf_codebook,
    _ivf_search,
    _ivf_write,
)
from datafusion_ray_spark.session import build_session
from datafusion_ray_spark.sources.bucketing import (
    append_bucketed,
    compact_bucketed,
    compact_partitioned,
    table_location,
    write_bucketed,
)
from datafusion_ray_spark.sources.tables import load_table, spread


def lsh_lifecycle(spark, sf_dir: str, scratch: str) -> None:
    docs = spread(load_table(spark, sf_dir, "documents"))
    snapshot = docs.where(~F.col("source").isin("src0", "src1"))
    batch = docs.where(F.col("source") == "src1")
    probe_docs = docs.where(F.col("source") == "src0")

    table = "example_lsh_index"
    path = os.path.join(scratch, "lsh_index")
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    # BUILD: corpus (band, bucket, doc_id) rows as a bucketed+sorted table.
    write_bucketed(
        dedup.lsh_buckets(snapshot).select("band", "bucket", "doc_id"),
        table, key=["band", "bucket"], n_buckets=32, path=path,
    )
    n_files = len(glob.glob(os.path.join(path, "*.parquet")))
    print(f"[lsh] built: {n_files} bucket files")

    # APPEND: O(batch) — 32 new files, the snapshot's untouched.
    append_bucketed(
        dedup.lsh_buckets(batch).select("band", "bucket", "doc_id"),
        table, key=["band", "bucket"], n_buckets=32,
    )
    n_files = len(glob.glob(os.path.join(path, "*.parquet")))
    print(f"[lsh] after append: {n_files} files (fragmented)")

    # PROBE the appended index: the ingest batch joins the bucketed scan
    # with NO Exchange above the index side.
    pairs = dedup.incremental_dedup_pairs(
        docs.where(F.col("source") != "src0"), probe_docs,
        corpus_index=spark.table(table),
    )
    before = pairs.count()
    print(f"[lsh] probe vs appended index: {before} candidate pairs")

    # COMPACT: generation-then-swap; one file per bucket again, the old
    # generation intact until the catalog swap commits.
    compact_bucketed(spark, table, key=["band", "bucket"], n_buckets=32)
    loc = table_location(spark, table)
    n_files = len(glob.glob(os.path.join(loc, "*.parquet")))
    print(f"[lsh] after compaction: {n_files} files at {os.path.basename(loc)}")

    after = dedup.incremental_dedup_pairs(
        docs.where(F.col("source") != "src0"), probe_docs,
        corpus_index=spark.table(table),
    ).count()
    assert after == before, "compaction must never change answers"
    print(f"[lsh] probe vs compacted index: {after} pairs (identical)")
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def ivf_lifecycle(spark, sf_dir: str, scratch: str) -> None:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    centroids = _ivf_codebook(emb)  # frozen at snapshot time
    path = os.path.join(scratch, "ivf_index")

    # BUILD the snapshot, APPEND a batch under the FROZEN codebook
    # (boundaries never move, so prior assignments stay valid).
    _ivf_write(emb.where(F.col("vec_id") % 7 != 3), centroids, path,
               "overwrite")
    _ivf_write(emb.where(F.col("vec_id") % 7 == 3), centroids, path,
               "append")
    n_files = len(glob.glob(os.path.join(path, "cell=*", "*.parquet")))
    print(f"[ivf] after build+append: {n_files} files across "
          f"{len(glob.glob(os.path.join(path, 'cell=*')))} cells")

    top_before = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in _ivf_search(spark, sf_dir, path, centroids).collect()
    ]
    print(f"[ivf] top-3 vs appended index: {top_before[:3]}")

    # COMPACT: verified new generation + ordered rename swap.
    compact_partitioned(spark, path, "cell")
    n_files = len(glob.glob(os.path.join(path, "cell=*", "*.parquet")))
    print(f"[ivf] after compaction: {n_files} files (one per cell)")

    top_after = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in _ivf_search(spark, sf_dir, path, centroids).collect()
    ]
    assert top_after == top_before, "compaction must never change answers"
    print(f"[ivf] search result identical across the swap: "
          f"{similarity.N_PROBE}-cell probe, {len(top_after)} hits")


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = build_session(app_name="index_lifecycle")
    with tempfile.TemporaryDirectory(prefix="dfrs_example_idx_") as scratch:
        lsh_lifecycle(spark, sf_dir, scratch)
        ivf_lifecycle(spark, sf_dir, scratch)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
