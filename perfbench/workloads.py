"""The workloads: their ops, set-up builds and output checks.

An op is one public call into the engine: ``plan()`` builds the plan
(the construct phase, which may run eager jobs), ``execute(plan)``
materializes it (noop sink, or the store write / lookup).  The check
pass uses ``collect(plan)`` instead and hands the result to
``verify``, which returns None or a reason for failing.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import gen
import stats

# The registry ops of the ``relational-llm`` workload: relational and
# LLM-data ops, trimmed so that one run (cold set-up, checked pass,
# timed passes) fits the per-run budget on 4 cores; README.md lists
# what was dropped and why.
RELATIONAL_OPS = [
    "q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "window_topk_orders_per_customer",
    "asof_join_purchase_click",
    "bucketed_join_lineitem_orders",
]
LLM_OPS = [
    "dedup_exact",
    "kmeans_int8_lloyd",
    "ann_ivf_topk",
]

# metric keys of the mapreduce-text ops (the lookups share one)
MAPREDUCE_OPS = [
    "df_word_count",
    "df_inverted_index",
    "rdd_word_count",
    "rdd_inverted_index",
    "kv_upsert",
    "kv_get",
]

CORPUS_BYTES = 400_000
NUM_REDUCERS = 3  # the reference's R, with its len(word) % R partitioner
KV_BATCH_ROWS = 400
# the lookups are 8 of a pass's 13 executions, so op_p50_s falls
# inside them, not on the slowest one
LOOKUPS_HOT, LOOKUPS_MISSING = 6, 2


def sf_dir() -> str:
    """The engine's read-only synthetic tables at the scale its DuckDB
    oracle tests use (lineitem 60k rows); fixed, whatever the seed."""
    from tests.conftest import SF_DIR_001

    return SF_DIR_001


@dataclass
class Op:
    name: str
    layer: str
    plan: Callable[[], Any]
    execute: Callable[[Any], Any]
    collect: Callable[[Any], Any]
    verify: Callable[[Any], str | None]
    # rows-only ops: run again, checked, at the end of the run; every
    # result must hash the same
    recheck: bool = False


@dataclass
class Workload:
    name: str
    ops: list[Op]
    # set-up builds, timed into setup_s: name -> callable
    builds: dict[str, Callable[[], None]] = field(default_factory=dict)
    # checks run once after the timed passes: callables -> reason|None
    final_checks: list[Callable[[], str | None]] = field(default_factory=list)
    # input facts recorded in the result's env line
    info: dict = field(default_factory=dict)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect_rows(df) -> list[tuple]:
    return stats.canon_rows(df.collect(), df.columns)


# ---------------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------------


class Oracle:
    """DuckDB views over the tables in ``sf_dir``; runs a registry
    query's oracle (its staged form where one exists)."""

    def __init__(self, sf_dir: str, threads: int) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        for fname in sorted(os.listdir(sf_dir)):
            t, ext = os.path.splitext(fname)
            if ext != ".parquet":
                continue
            path = os.path.join(sf_dir, fname)
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def rows(self, query) -> list[tuple]:
        if query.staged_oracle:
            for stmt in query.staged_oracle[:-1]:
                self.con.execute(stmt)
            res = self.con.sql(query.staged_oracle[-1])
        else:
            res = self.con.sql(query.oracle)
        return stats.canon_rows(res.fetchall(), res.columns)

    def close(self) -> None:
        self.con.close()


def registry_workload(
    name: str, spark, sf_dir: str, op_names: list[str], oracle: Oracle
) -> Workload:
    from distributedmapreduce_spark.plans import core
    from distributedmapreduce_spark.plans.registry import QUERIES

    reg = core.registry()
    first_hash: dict[str, str] = {}

    def make(op_name: str) -> Op:
        q = reg[op_name]

        def verify(rows: list[tuple]) -> str | None:
            if q.oracle:
                want = oracle.rows(q)
                if not stats.rows_match(rows, want):
                    return (
                        f"differs from DuckDB oracle ({len(rows)} vs "
                        f"{len(want)} rows)"
                    )
                return None
            # rows-only: non-empty, same hash on every checked execution
            if not rows:
                return "empty result"
            h = stats.rows_hash(rows)
            if first_hash.setdefault(op_name, h) != h:
                return f"hash {h} differs from first execution {first_hash[op_name]}"
            return None

        return Op(
            op_name,
            "registry",
            lambda: QUERIES[op_name](spark, sf_dir),
            noop,
            _collect_rows,
            verify,
            recheck=not q.oracle,
        )

    wl = Workload(name, [make(n) for n in op_names], info={"sf_dir": sf_dir})
    if "bucketed_join_lineitem_orders" in op_names:
        from distributedmapreduce_spark.operators.bucketed import bucketed_table

        def buckets() -> None:
            bucketed_table(spark, sf_dir, "orders", "o_orderkey", 8)
            bucketed_table(spark, sf_dir, "lineitem", "l_orderkey", 8)

        wl.builds["operators.bucket_build_s"] = buckets
    return wl


# ---------------------------------------------------------------------------
# mapreduce-text
# ---------------------------------------------------------------------------


def mapreduce_text_workload(spark, run_dir: str, seed: int) -> Workload:
    from distributedmapreduce_spark.operators import mapreduce as MR
    from distributedmapreduce_spark.operators import text as T
    from distributedmapreduce_spark.operators.kvstore import SolutionStore
    from tests import reference_replay as R

    vocab = gen.make_vocab(seed)
    corpus = gen.make_corpus(seed, CORPUS_BYTES, vocab)
    path = os.path.join(run_dir, "corpus.txt")
    with open(path, "w") as f:
        f.write(corpus)
    # four input splits, so the distributed prefix sum has work
    split = len(corpus.encode()) // 4 + 1
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    pairs = R.replay_tokens(R.replay_lines(R.load_reference_input(path)))
    want_wc = R.replay_word_count(pairs)
    want_ii = R.replay_inverted_index(pairs)

    def raw():
        return spark.read.text(path)

    def check_wc(rows: list[tuple]) -> str | None:
        got = {w: c for c, w in rows}  # canon_rows orders columns by name
        return None if got == want_wc else "word counts differ from replay"

    def check_ii(rows: list[tuple]) -> str | None:
        got = {w: list(p) for p, w in rows}
        return None if got == want_ii else "postings differ from replay"

    ops = [
        Op("df_word_count", "text.wordcount",
           lambda: T.word_count(T.pipeline(raw())), noop, _collect_rows, check_wc),
        Op("df_inverted_index", "text.inverted_index",
           lambda: T.inverted_index(T.pipeline(raw())), noop, _collect_rows,
           check_ii),
        Op("rdd_word_count", "mapreduce.wordcount",
           lambda: MR.word_count_job(T.lines(raw()), NUM_REDUCERS), noop,
           _collect_rows, check_wc),
        Op("rdd_inverted_index", "mapreduce.inverted_index",
           lambda: MR.inverted_index_job(T.lines(raw()), NUM_REDUCERS), noop,
           _collect_rows, check_ii),
    ]

    # the solution store starts as the corpus word count; each upsert
    # applies the next seeded batch; ``model`` is its expected content
    store = SolutionStore(spark, os.path.join(run_dir, "store"))
    model = dict(want_wc)
    batches = gen.make_kv_batches(seed, vocab, 64, KV_BATCH_ROWS)
    upserts = [0]

    def seed_store() -> None:
        store.upsert(
            spark.createDataFrame(sorted(want_wc.items()), "key string, value long")
        )

    def upsert_plan():
        batch = batches[upserts[0] % len(batches)]
        upserts[0] += 1
        return batch, spark.createDataFrame(batch, "key string, value long")

    def upsert_execute(plan) -> None:
        batch, df = plan
        store.upsert(df)
        model.update(batch)

    def store_matches() -> str | None:
        return None if store.to_local() == model else "store differs from model"

    ops.append(
        Op("kv_upsert", "kvstore.upsert", upsert_plan, upsert_execute,
           upsert_execute, lambda _: store_matches())
    )
    keys = gen.make_lookup_keys(seed, vocab, LOOKUPS_HOT, LOOKUPS_MISSING)
    for i, key in enumerate(keys):

        def get_verify(got, key=key) -> str | None:
            want = model.get(key)
            return None if got == want else f"get({key!r}) = {got!r}, want {want!r}"

        ops.append(
            Op(f"kv_get_{i:02d}", "kvstore.get", lambda key=key: key,
               store.get, store.get, get_verify)
        )
    wl = Workload("mapreduce-text", ops, info={"corpus_bytes": len(corpus.encode())})
    wl.builds["operators.kvstore.seed_s"] = seed_store
    wl.final_checks.append(store_matches)
    return wl
