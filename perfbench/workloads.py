"""The benchmark's workloads. Each is a closed loop with one client:
the harness calls the ops of one round after another and starts the
next op when the previous one has returned.

A workload makes its inputs from the seed in ``generate`` (harness
work, untimed), hands them to the engine in ``register`` (one set-up
pass, after the session started), hands out rounds of ``Op``s, and
checks every output outside the timed interval. ``warmup`` calls each
distinct op once. Only public engine functions run inside an op:
``OlapEngine.execute_query`` / ``query_pandas``,
``QueryResult.to_pandas`` / ``write_parquet``, the registry callables
of ``queries.load_all()`` and the public ``sources.table_format``
functions.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.check import mismatch
from perfbench.lake_model import LakeModel


@dataclass
class Op:
    """One operation: ``call`` is timed, ``check`` is not. ``check``
    gets the call's return value and returns None or a mismatch."""

    name: str
    call: Callable[[Any], Any]
    check: Callable[[Any], str | None]


@dataclass
class Ctx:
    """What a workload's ops may use: the engine, its session, a
    scratch directory and the span recorder of the current op."""

    engine: Any
    spark: Any
    work: str
    seed: int
    spans: Any = None  # harness span recorder: ``with ctx.spans("build"):``


def chain(name: str, steps: list[Op]) -> Op:
    """One op that runs ``steps`` in order. Its check replays the
    steps' checks in the same order afterwards, so a check that reads
    state left by an earlier step's check sees it as the step did."""

    def call(ctx):
        return [step.call(ctx) for step in steps]

    def check(results):
        for step, got in zip(steps, results):
            problem = step.check(got)
            if problem:
                return f"{step.name}: {problem}"
        return None

    return Op(name, call, check)


def _duck_views(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t, p in tables.items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


class OlapSql:
    """Registry DuckDB-oracle SQL text through ``execute_query`` on the
    cached star schema; one op in 6 through ``query_pandas``."""

    name = "olap_sql"
    SF = 0.01
    # Entries whose oracle text Spark SQL also runs, and whose Spark
    # result hash-matches DuckDB's on this generator's tables.
    QUERIES = (
        "q01_filter_project_topk", "q03_join_agg_topk", "q05_star_join_having",
        "q11_count_distinct", "q19_cube", "q20_window_rank", "q29_cte",
        "q77_tpch_q1", "q80_tpch_q5", "q107_tpch_q21",
    )
    PANDAS_SQL = {
        "pandas_group": "SELECT g, COUNT(*) AS n, SUM(q) AS sq, MAX(v) AS mv FROM df GROUP BY g",
        "pandas_window": (
            "SELECT g, k, RANK() OVER (PARTITION BY g ORDER BY v DESC, k) AS r "
            "FROM df WHERE q < 5"
        ),
    }
    PANDAS_ROWS = 20_000
    # A run times at least two rounds of 12 ops; p60 is the highest
    # ladder percentile with 10 of those 24 samples beyond it. Fixed,
    # so every run reports the same percentile.
    MIN_ROUNDS = 2
    TAIL = 0.6

    def __init__(self):
        from gpu_olap_engine_spark.queries import load_all

        reg = load_all()
        self.sql = {n: reg[n].oracle for n in self.QUERIES}
        self.expected: dict[str, pd.DataFrame] = {}

    def generate(self, ctx: Ctx) -> None:
        self.tables = gen.write_star_schema(ctx.seed, self.SF, os.path.join(ctx.work, "star"))
        rng = np.random.default_rng([ctx.seed, 3])
        self.frame = pd.DataFrame({
            "k": np.arange(self.PANDAS_ROWS, dtype=np.int64),
            "g": rng.integers(0, 50, self.PANDAS_ROWS).astype(np.int64),
            "q": rng.integers(0, 10, self.PANDAS_ROWS).astype(np.int64),
            "v": rng.random(self.PANDAS_ROWS),
        })
        self.duck = _duck_views(self.tables)
        self.duck.register("df", self.frame)

    def register(self, ctx: Ctx) -> None:
        for t, p in self.tables.items():
            with ctx.spans("load_table"):
                ctx.engine.load_table(t, p)

    def _want(self, name: str, sql: str) -> pd.DataFrame:
        if name not in self.expected:
            self.expected[name] = self.duck.sql(sql).df()
        return self.expected[name]

    def _sql_op(self, ctx: Ctx, name: str) -> Op:
        sql = self.sql[name]

        def call(_):
            with ctx.spans("execute_query"):
                res = ctx.engine.execute_query(sql)
            with ctx.spans("to_pandas"):
                return res.to_pandas()

        return Op(name, call, lambda got: mismatch(got, self._want(name, sql)))

    def _pandas_op(self, ctx: Ctx, name: str) -> Op:
        sql = self.PANDAS_SQL[name]

        def call(_):
            with ctx.spans("query_pandas"):
                return ctx.engine.query_pandas(self.frame, sql)

        return Op(name, call, lambda got: mismatch(got, self._want(name, sql)))

    def round(self, ctx: Ctx, i: int) -> list[Op]:
        """Every SQL entry in seeded order, with the pandas ops at
        seeded positions (2 of 12)."""
        rng = random.Random(f"{ctx.seed}:olap:{i}")
        names = list(self.QUERIES)
        rng.shuffle(names)
        ops = [self._sql_op(ctx, n) for n in names]
        for n in sorted(self.PANDAS_SQL):
            ops.insert(rng.randrange(len(ops) + 1), self._pandas_op(ctx, n))
        return ops

    def warmup(self, ctx: Ctx) -> list[Op]:
        return self.round(ctx, -1)

    def close(self) -> None:
        self.duck.close()


class CorpusCuration:
    """A curation pipeline over one fresh seeded corpus shard per
    round: the shard is committed to a ``sources.table_format`` corpus
    table, four registry callables curate it (outputs written with
    ``QueryResult.write_parquet``), a label fix is merged, the shard
    committed two rounds ago is retired, the table is read, and small
    files are compacted and unreferenced ones vacuumed."""

    name = "corpus_curation"
    N_DOCS = 500
    N_VECS = 250
    ID_STRIDE = 1_000_000  # shard n holds ids [n * stride, n * stride + N_DOCS)
    CHAIN = (
        "dedup_exact_key", "dedup_minhash_lsh", "q73_decontaminate",
        "sim_near_dup_pairs",
    )
    DOC_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")
    KEEP_SHARDS = 2
    MERGE_ROWS = 25
    SMALL_FILE_ROWS = 400
    # rows each table write call names, the base of table.write_amp
    USER_ROWS = {"append": N_DOCS, "merge": MERGE_ROWS, "delete": N_DOCS}
    # One chain per run: no percentile above the median has samples
    # beyond it.
    MIN_ROUNDS = 1
    TAIL = 0.5

    def __init__(self):
        from gpu_olap_engine_spark.queries import load_all

        reg = load_all()
        self.entries = {n: reg[n] for n in self.CHAIN}

    def generate(self, ctx: Ctx) -> None:
        self.docs, self.emb = gen.base_corpus(ctx.seed, self.N_DOCS, self.N_VECS)
        # distinct replica salts, one per shard; none repeats in a run
        self.salts = random.Random(f"{ctx.seed}:salts").sample(range(1, 1_000_000), 4096)
        self.shards = os.path.join(ctx.work, "shards")
        self.passes = 0

    def _shard(self, n: int) -> tuple[str, pd.DataFrame]:
        d = os.path.join(self.shards, f"s{n}")
        docs, emb = gen.salt_corpus(self.docs, self.emb, self.salts[n], id_offset=n * self.ID_STRIDE)
        if not os.path.isdir(d):
            gen.write_corpus(docs, emb, d)
        return d, docs

    def register(self, ctx: Ctx) -> None:
        """Create the corpus table from shard 0 (a new directory per
        set-up pass)."""
        from gpu_olap_engine_spark.sources import table_format as tf

        self.passes += 1
        self.path = os.path.join(ctx.work, f"corpus_table{self.passes}")
        d, docs = self._shard(0)
        df = ctx.spark.read.parquet(os.path.join(d, "documents.parquet"))
        with ctx.spans("create_table"):
            tf.create_table(df, self.path, bloom_columns=["doc_id"])
        self.model = LakeModel(self._rows(docs), value=4)
        self.pruned: list[float] = []

    def _rows(self, docs: pd.DataFrame) -> list[tuple]:
        return list(docs[list(self.DOC_COLUMNS)].itertuples(index=False, name=None))

    def round(self, ctx: Ctx, i: int) -> list[Op]:
        """One op: the pipeline over shard ``i + 2`` (shard 0 seeds the
        table, shard 1 is the warm-up's). Steps run in pipeline order,
        with the three reads at seeded positions after the commit."""
        from pyspark.sql import functions as F

        from gpu_olap_engine_spark.engine import QueryResult
        from gpu_olap_engine_spark.sources import table_format as tf

        spark, path = ctx.spark, self.path
        n = i + 2
        shard, docs = self._shard(n)
        old = os.path.join(self.shards, f"s{n - 2}")
        if n > 2 and os.path.isdir(old):
            shutil.rmtree(old)
        con = _duck_views({
            "documents": os.path.join(shard, "documents.parquet"),
            "embeddings": os.path.join(shard, "embeddings.parquet"),
        })
        rng = np.random.default_rng([ctx.seed, 5, n])

        def ingest(_):
            with ctx.spans("append"):
                return tf.append_table(spark.read.parquet(os.path.join(shard, "documents.parquet")), path)

        def ingest_check(_):
            self.model.append(self._rows(docs))
            return None

        steps = [Op("ingest", ingest, ingest_check)]
        for name, entry in self.entries.items():
            out = os.path.join(shard, f"out_{name}")

            def call(_, entry=entry, out=out):
                with ctx.spans("build"):
                    df = entry.fn(spark, shard)
                with ctx.spans("sink"):
                    QueryResult(df).write_parquet(out)
                return out

            def check(out, entry=entry):
                got = duckdb.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
                return mismatch(got, con.sql(entry.oracle).df())

            steps.append(Op(name, call, check))

        fix = docs.iloc[rng.choice(len(docs), self.MERGE_ROWS, replace=False)].assign(lang="und")

        def merge(_):
            with ctx.spans("merge"):
                batch = spark.createDataFrame(fix[list(self.DOC_COLUMNS)])
                return tf.merge_into(spark, path, batch, ["doc_id"])

        def merge_check(_):
            self.model.merge(self._rows(fix))
            return None

        steps.append(Op("merge", merge, merge_check))

        lo = (n - self.KEEP_SHARDS) * self.ID_STRIDE
        hi = lo + self.ID_STRIDE

        def retire(_):
            with ctx.spans("delete"):
                return tf.delete_where(spark, path, f"doc_id >= {lo} AND doc_id < {hi}")

        def retire_check(deleted):
            want = self.model.delete_range(lo, hi)
            return None if deleted == want else f"deleted {deleted} != {want}"

        steps.append(Op("retire", retire, retire_check))

        for kind in ("point", "point", "range"):
            base = (n - int(rng.integers(0, self.KEEP_SHARDS))) * self.ID_STRIDE
            if kind == "point":
                key = base + int(rng.integers(0, self.N_DOCS))
                pred = [("doc_id", "=", key)]

                def read(_, pred=pred):
                    with ctx.spans("read"):
                        got = tf.read_snapshot(spark, path, predicate=pred).toPandas()
                    self._note_prune(ctx, pred)
                    return got

                def read_check(got, key=key):
                    want = pd.DataFrame(self.model.point(key), columns=list(self.DOC_COLUMNS))
                    return mismatch(got[list(self.DOC_COLUMNS)], want)

                op = Op("read_point", read, read_check)
            else:
                a = base + int(rng.integers(0, self.N_DOCS // 2))
                b = a + self.N_DOCS // 2
                pred = [("doc_id", ">=", a), ("doc_id", "<", b)]

                def read(_, pred=pred):
                    with ctx.spans("read"):
                        row = tf.read_snapshot(spark, path, predicate=pred).agg(
                            F.count("*").alias("n"), F.sum("n_chars").alias("chars")
                        ).collect()[0]
                    self._note_prune(ctx, pred)
                    return int(row["n"]), int(row["chars"] or 0)

                def read_check(got, a=a, b=b):
                    want = self.model.range_agg(a, b)
                    return None if got == want else f"range [{a},{b}) {got} != {want}"

                op = Op("read_range", read, read_check)
            steps.insert(int(rng.integers(1, len(steps) + 1)), op)

        def upkeep(_):
            with ctx.spans("compact"):
                tf.compact_small_files(spark, path, self.SMALL_FILE_ROWS, target_files=1)
            with ctx.spans("vacuum"):
                return tf.vacuum_table(path, keep_versions=2)

        steps.append(Op("upkeep", upkeep, lambda _: None))
        return [chain("curation_chain", steps)]

    def warmup(self, ctx: Ctx) -> list[Op]:
        return self.round(ctx, -1)

    def _note_prune(self, ctx: Ctx, pred) -> None:
        """Traced runs only: the share of the snapshot's files the read
        just planned (it runs inside the timed chain, so untraced runs
        skip it)."""
        from gpu_olap_engine_spark.sources import table_format as tf

        if ctx.spans.tracer is not None:
            kept, total = tf.prune_files(self.path, None, pred)
            self.pruned.append(len(kept) / total if total else 1.0)

    def table_stats(self) -> dict:
        from gpu_olap_engine_spark.sources import table_format as tf

        live, total = tf.prune_files(self.path, None, [])
        live_bytes = sum(os.path.getsize(os.path.join(self.path, f)) for f in live)
        all_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.path) for f in fs
        )
        return {
            "table.files_live": float(total),
            "table.versions": float(tf.latest_version(self.path)),
            "table.bytes_per_live_byte": all_bytes / live_bytes if live_bytes else 0.0,
            "table.prune_ratio": float(np.mean(self.pruned)) if self.pruned else 0.0,
        }

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (OlapSql, CorpusCuration)}
