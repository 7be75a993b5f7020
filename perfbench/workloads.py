"""The benchmark's workloads.

Each workload drives the engine only through public calls and exposes:

- ``oracle(data_dir)``: untimed reference answers, computed in a separate
  process and stored as ``expected``;
- ``register()``: table registration, timed as ``sources.register_s``;
- ``pass_ops(rng)``: one pass as a list of ``(label, fn)`` operations in
  seeded order; ``fn()`` runs one operation and returns what ``check`` and
  ``inspect`` need;
- ``check(label, value)``: ``None`` when the output is correct, else why not;
- ``inspect(label, value)``: traced runs only, after the operation's clock
  stopped: reads plan and scan counters into the tracer.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datafusion_ray_spark import plans
from datafusion_ray_spark.context import DFRayContext, DFRayDataFrame
from datafusion_ray_spark.operators import dedup, shuffleop, text, tfidf
from datafusion_ray_spark.queries.tpch import TPCH_QUERIES
from datafusion_ray_spark.sources import bucketing
from datafusion_ray_spark.sources.tables import duckdb_register, load_table, register_tables, spread
from datafusion_ray_spark.testing import assert_frames_match


def _duckdb() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def _record_executed(tracer, df) -> None:
    """Scan, shuffle and Python-runner counters of an executed DataFrame."""
    with tracer.span("context.execution_metrics"):
        nodes = DFRayDataFrame(df).execution_metrics()
    for node, vals in nodes.items():
        if node.startswith("Scan"):
            tracer.add("sources.scan_rows", vals.get("numOutputRows", 0))
            tracer.add("sources.scan_bytes", vals.get("filesSize", 0))
        tracer.add("operators.python_bytes_sent", vals.get("pythonDataSent", 0))
        tracer.add("operators.python_bytes_received", vals.get("pythonDataReceived", 0))
    with tracer.span("plans.runtime_shuffle_metrics"):
        shuffle = plans.runtime_shuffle_metrics(df)
    for key in ("shuffle_bytes", "shuffle_rows", "n_exchange", "n_broadcast",
                "n_reused_exchange"):
        tracer.add(f"plans.{key}", shuffle[key])
    with tracer.span("plans.uses_python_workers"):
        tracer.add("plans.python_worker_plans", int(plans.uses_python_workers(df)))


class TpchSql:
    """The 22 TPC-H queries of ``queries/tpch.py``; one operation is one
    ``ctx.sql(q)`` + ``execution_plan()`` + ``collect()``."""

    name = "tpch_sql"

    def __init__(self, data_dir: str, census: dict, tracer, work_dir: str) -> None:
        self.data_dir = data_dir
        self.tracer = tracer
        self.input_rows = census["tpch_rows"]
        self.expected: dict = {}
        self.spark = self.ctx = None

    @staticmethod
    def oracle(data_dir: str) -> dict:
        con = _duckdb()
        duckdb_register(con, data_dir)
        expected = {name: con.execute(q.oracle_sql).df() for name, q in TPCH_QUERIES.items()}
        con.close()
        return expected

    def register(self, spark) -> None:
        self.spark = spark
        register_tables(spark, self.data_dir)
        self.ctx = DFRayContext(spark=spark)

    def warm_ops(self):
        return [(name, self._op(name)) for name in TPCH_QUERIES]

    def pass_ops(self, rng):
        names = list(TPCH_QUERIES)
        return [(names[i], self._op(names[i])) for i in rng.permutation(len(names))]

    def _op(self, name: str):
        sql = TPCH_QUERIES[name].sql

        def run():
            tr = self.tracer
            with tr.span("context.sql"):
                df = self.ctx.sql(sql)
            with tr.span("context.plan"):
                df.execution_plan()
            with tr.span("context.collect"):
                batches = df.collect()
            return df, batches

        return run

    def check(self, name: str, value) -> str | None:
        df, batches = value
        table = pa.Table.from_batches(batches) if batches else df.to_arrow_schema().empty_table()
        got = table.to_pandas()
        try:
            assert_frames_match(got, self.expected[name], name)
        except AssertionError as exc:
            return str(exc).splitlines()[0]
        return None

    @staticmethod
    def corrupt(value):
        df, batches = value
        return df, batches + batches  # every row twice; empty results stay empty

    def inspect(self, name: str, value) -> None:
        df, batches = value
        tr = self.tracer
        rows = sum(b.num_rows for b in batches)
        tr.add("context.result_rows", rows)
        tr.add("context.result_bytes", sum(b.nbytes for b in batches))
        _record_executed(tr, df.df)

    def after_op(self, value) -> None:
        pass

    def end_pass(self) -> str | None:
        return None


class LlmDedup:
    """The north-star data-prep chain over the seeded corpus; one
    operation is one pass of the seven stages, each consumed by its own
    action so per-stage times exist in every run."""

    name = "llm_dedup"

    def __init__(self, data_dir: str, census: dict, tracer, work_dir: str) -> None:
        self.data_dir = data_dir
        self.tracer = tracer
        self.census = census["corpus"]
        self.input_rows = self.census["n_docs"]
        self.shard_dir = os.path.join(work_dir, "shards")
        self.docs = self.spark = self.expected = None

    @staticmethod
    def oracle(data_dir: str):
        """The exact-dedup keep set."""
        con = _duckdb()
        path = os.path.join(data_dir, "documents.parquet")
        expected = con.execute(
            "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, "
            f"CAST(count(*) AS BIGINT) AS dup_count FROM read_parquet('{path}') GROUP BY 1"
        ).df()
        con.close()
        return expected

    def register(self, spark) -> None:
        self.spark = spark
        self.docs = spread(load_table(spark, self.data_dir, "documents"))

    def warm_ops(self):
        return self.pass_ops(None)

    def pass_ops(self, rng):
        return [("pass", self._pass)]

    def _stage(self, name: str):
        return self.tracer.span(f"operators.{name}")

    def _collect(self, df) -> list[pa.RecordBatch]:
        with self.tracer.span("context.collect"):
            return DFRayDataFrame(df).collect()

    def _pass(self) -> dict:
        docs, out = self.docs, {}
        with self._stage("quality_score"):
            q = text.quality_score(docs).agg(
                F.count("*").alias("n"), F.sum("n_tokens").alias("tokens"))
            out["quality"] = (q, self._collect(q))
        with self._stage("exact_dedup"):
            ex = dedup.exact_dedup(docs)
            out["exact"] = (ex, self._collect(ex))
        with self._stage("minhash_dedup_pairs"):
            pairs = dedup.minhash_dedup_pairs(docs).persist()
            out["pairs"] = (pairs, self._collect(pairs))
        with self._stage("duplicate_groups"):
            groups = dedup.duplicate_groups(
                pairs.where("is_near_dup").select("doc_a", "doc_b"))
            out["groups"] = (groups, self._collect(groups))
        with self._stage("hash_embedding"):
            emb = text.hash_embedding(docs).agg(
                F.count("*").alias("n"), F.sum("n_tokens").alias("tokens"),
                F.sum(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
                .alias("norm2"))
            out["embedding"] = (emb, self._collect(emb))
        with self._stage("tfidf_topk"):
            tf = tfidf.tfidf_topk(docs).agg(F.count("*").alias("n"))
            out["tfidf"] = (tf, self._collect(tf))
        with self._stage("write_shards"), self.tracer.span("sources.write"):
            shuffleop.write_shards(docs, self.shard_dir)
        return out

    @staticmethod
    def _row(batches) -> dict:
        return pa.Table.from_batches(batches).to_pylist()[0]

    def check(self, label: str, out: dict) -> str | None:
        c = self.census
        q = self._row(out["quality"][1])
        if (q["n"], q["tokens"]) != (c["n_docs"], c["tokens"]):
            return f"quality_score saw {q['n']} docs / {q['tokens']} tokens"
        exact = pa.Table.from_batches(out["exact"][1]).to_pandas()
        try:
            assert_frames_match(exact, self.expected, "exact_dedup")
        except AssertionError as exc:
            return str(exc).splitlines()[0]
        groups = out["groups"][1]
        err = check_groups(pa.Table.from_batches(out["pairs"][1]),
                           pa.Table.from_batches(groups) if groups else None)
        if err:
            return err
        e = self._row(out["embedding"][1])
        if (e["n"], e["tokens"]) != (c["n_docs"], c["tokens"]) or abs(e["norm2"] - e["n"]) > 1e-3 * e["n"]:
            return f"hash_embedding rows/tokens/norms off: {e}"
        if self._row(out["tfidf"][1])["n"] != c["tfidf_rows"]:
            return "tfidf_topk row count differs from the corpus census"
        files = glob.glob(os.path.join(self.shard_dir, "shard=*", "*.parquet"))
        if sum(pq.ParquetFile(f).metadata.num_rows for f in files) != c["n_docs"]:
            return "write_shards lost or duplicated rows"
        return None

    @staticmethod
    def corrupt(out: dict) -> dict:
        df, batches = out["exact"]
        return {**out, "exact": (df, pa.Table.from_batches(batches).slice(1).to_batches())}

    def inspect(self, label: str, out: dict) -> None:
        tr = self.tracer
        table = pa.Table.from_batches(out["pairs"][1])
        near = sum(table.column("is_near_dup").to_pylist())
        tr.add("operators.candidate_pairs", table.num_rows)
        tr.add("operators.near_dup_pairs", near)
        for df, batches in out.values():
            tr.add("context.result_rows", sum(b.num_rows for b in batches))
            tr.add("context.result_bytes", sum(b.nbytes for b in batches))
            _record_executed(tr, df)
        files = glob.glob(os.path.join(self.shard_dir, "shard=*", "*.parquet"))
        tr.add("sources.files_written", len(files))
        written = sum(os.path.getsize(f) for f in files)
        tr.add("sources.bytes_written_per_input_byte",
               written / os.path.getsize(os.path.join(self.data_dir, "documents.parquet")))

    def after_op(self, out) -> None:
        self.spark.catalog.clearCache()

    def end_pass(self) -> str | None:
        return None


def check_groups(pairs: pa.Table, groups: pa.Table | None) -> str | None:
    """Duplicate groups must partition the docs of the near-duplicate
    pairs exactly as the connected components of those pairs do, each
    labelled by its smallest doc id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, near in zip(pairs.column("doc_a").to_pylist(), pairs.column("doc_b").to_pylist(),
                          pairs.column("is_near_dup").to_pylist()):
        if near:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    expected = {d: find(d) for d in list(parent)}
    got_ids = groups.column("doc_id").to_pylist() if groups is not None else []
    got = dict(zip(got_ids, groups.column("group_id").to_pylist())) if groups is not None else {}
    if len(got) != len(got_ids):
        return "duplicate_groups lists a doc twice"
    if got != expected:
        return f"duplicate_groups differ from the pair components ({len(got)} vs {len(expected)} docs)"
    return None


class IndexIngest:
    """Writes beside reads: the docs with ``doc_id % 10 < 5`` are built into
    a bucketed LSH index, then five ingest batches each probe the index with
    ``incremental_dedup_pairs`` and append their buckets; compaction and a
    re-probe of the last batch close the cycle. One operation is one ingest
    batch; the build, compaction and re-probe run outside the operation
    clock (``end_pass``)."""

    name = "index_ingest"
    N_BUCKETS = 8
    KEYS = ["band", "bucket"]

    def __init__(self, data_dir: str, census: dict, tracer, work_dir: str) -> None:
        self.data_dir = data_dir
        self.tracer = tracer
        self.input_rows = census["corpus"]["n_docs"] // 2
        self.batch_bytes = os.path.getsize(os.path.join(data_dir, "documents.parquet")) / 10
        self.index_dir = os.path.join(work_dir, "lsh_index")
        self.docs = self.spark = self.corpus = self.table = None
        self.cycle = 0
        self.last: tuple | None = None

    @staticmethod
    def oracle(data_dir: str) -> None:
        return None

    def register(self, spark) -> None:
        self.spark = spark
        self.docs = spread(load_table(spark, self.data_dir, "documents"))

    def warm_ops(self):
        return self.pass_ops(None)

    def pass_ops(self, rng):
        """A fresh index, then the five batches."""
        self.cycle += 1
        self.table = f"perfbench_lsh_{self.cycle}"
        self.location = f"{self.index_dir}_{self.cycle}"
        self.corpus = self.docs.where("doc_id % 10 < 5")
        bucketing.write_bucketed(
            dedup.lsh_buckets(self.corpus).select(*self.KEYS, "doc_id"), self.table,
            key=self.KEYS, n_buckets=self.N_BUCKETS, path=self.location)
        return [(f"batch{b}", self._batch(b)) for b in range(5)]

    def _probe(self, new):
        pairs = dedup.incremental_dedup_pairs(
            self.corpus, new, corpus_index=self.spark.table(self.table))
        return pairs, DFRayDataFrame(pairs).collect()

    def _files(self) -> set[str]:
        return set(glob.glob(os.path.join(self.location, "*.parquet")))

    def _batch(self, b: int):
        def run():
            new = self.docs.where(f"doc_id % 10 = {5 + b}")
            with self.tracer.span("operators.incremental_dedup_pairs"):
                pairs, batches = self._probe(new)
            before = self._files()
            with self.tracer.span("sources.write"):
                bucketing.append_bucketed(
                    dedup.lsh_buckets(new).select(*self.KEYS, "doc_id"), self.table,
                    key=self.KEYS, n_buckets=self.N_BUCKETS)
            self.last = (new, self.corpus, batches)
            self.corpus = self.corpus.unionByName(new)
            return pairs, batches, before

        return run

    def end_pass(self) -> str | None:
        """Compact, then probe the last batch again with the corpus it was
        first probed against: compaction must not change the answer."""
        new, probed, first = self.last
        with self.tracer.span("sources.compact"):
            bucketing.compact_bucketed(self.spark, self.table, key=self.KEYS,
                                       n_buckets=self.N_BUCKETS, gc_old=True)
        self.corpus = probed
        _, again = self._probe(new)
        self.spark.catalog.clearCache()
        if sorted(_pair_list(first)) != sorted(_pair_list(again)):
            return "probe after compaction differs from the probe before it"
        return None

    def check(self, label: str, value) -> str | None:
        """Every pair is ordered, listed once, and has a member from the
        batch (``doc_id % 10 == 5 + b``)."""
        _, batches, _ = value
        residue = 5 + int(label[len("batch"):])
        rows = [p[:2] for p in _pair_list(batches)]
        if len(rows) != len(set(rows)):
            return "a pair is listed twice"
        if any(a >= b or residue not in (a % 10, b % 10) for a, b in rows):
            return "a pair is unordered or has no member from the batch"
        return None

    @staticmethod
    def corrupt(value):
        pairs, batches, before = value
        return pairs, batches + batches, before

    def inspect(self, label: str, value) -> None:
        pairs, batches, before = value
        tr = self.tracer
        tr.add("operators.incremental_pairs", sum(b.num_rows for b in batches))
        new_files = self._files() - before
        tr.add("sources.files_written", len(new_files))
        tr.add("sources.bytes_written_per_input_byte",
               sum(os.path.getsize(f) for f in new_files) / self.batch_bytes)
        _record_executed(tr, pairs)

    def after_op(self, value) -> None:
        pass


def _pair_list(batches) -> list[tuple]:
    if not batches:
        return []
    t = pa.Table.from_batches(batches)
    return list(zip(t.column("doc_a").to_pylist(), t.column("doc_b").to_pylist(),
                    t.column("is_near_dup").to_pylist()))


WORKLOADS = {w.name: w for w in (TpchSql, LlmDedup, IndexIngest)}
