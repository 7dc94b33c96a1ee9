"""The benchmark's workloads: fixed op lists, their checks and set-up.

An op is one call into the engine that a user waits on, timed on its
own and checked on its own: a registered query collected to the
driver (analyst, corpus), or a pipeline, snapshot, index-builder or
streaming call (writes, where each micro-batch of a stream is an op).
The seed sets the generated inputs of the writes workload; the op
lists and their order are fixed, so every seed runs the same work.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from . import inputs

# One or two floor-bound queries from each of the eight relational,
# window, temporal, funnel, validation and profiling modules.
ANALYST_QUERIES = (
    "revenue_per_day", "top10_units",                       # relational
    "nation_trade_balance", "acctbal_grouping_sets",        # relational_ext
    "returned_item_customers", "forecast_revenue_change",   # tpch_more
    "revenue_running_total", "events_hourly",               # windows
    "purchase_click_context",                               # temporal
    "event_transition_matrix",                              # funnels
    "invalid_values",                                       # validation
    "totalprice_histogram",                                 # profiling
)
# One consumer per shared corpus kernel.
CORPUS_QUERIES = (
    "minhash_precision_audit",  # _minhash_signatures + exact verify
    "phash_pairs",              # Arrow fingerprint pass
    "user_value_trend",         # applyInPandas
    "sessionize_events",        # the window trio
    "ngram_jaccard_pairs",      # sorted gram-hash arrays, map-side intersect
    "duplicate_spans",          # positional gram postings
    "bpe_token_counts",         # persisted pre-sort projection
)
# gram postings and MinHash signatures: the two index shapes the
# nightly probes and the landing stream read
INDEX_FAMILIES = ("span", "minhash")
# the registered query each nightly probe must reproduce
PROBE_QUERIES = {
    "span": "incremental_duplicate_spans",
    "minhash": "incremental_dedup",
}

SF = 0.01  # tools/gen_sf.py scale factor of every workload's tables
CSV_ROWS = 10_000
STREAM_CHUNKS = 4
NEAR_DUPS = 60  # near-duplicate documents added to the 500 of sf0.01


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    # returns None when the output is right, else what is wrong
    check: Callable[[Any], str | None]
    # per-sample latencies inside the op (micro-batches); None = the op
    samples: Callable[[Any], list[float]] | None = None


@dataclass
class Context:
    spark: Any
    tracer: Any
    probe: Any  # trace.SparkProbe
    seed: int
    run_dir: str
    data: str  # the generated sf tables
    extra: dict[str, float] = field(default_factory=dict)


def _check_rows(cols: list[str], rows: list[tuple], expect: dict) -> str | None:
    from data_engineering_challenge_spark import testing

    if sorted(cols) != expect["cols"]:
        return f"columns {sorted(cols)} != oracle {expect['cols']}"
    try:
        n, digest = testing.fingerprint(cols, rows)
    except testing.DriverUnsafeValue as e:
        return f"driver-unsafe output: {e}"
    if (n, digest) != (expect["n"], expect["hash"]):
        return f"rows/fingerprint {n}/{digest} != oracle {expect['n']}/{expect['hash']}"
    return None


class QueryWorkload:
    """Registered queries over one table directory, each collected and
    compared with its DuckDB oracle."""

    op_groups: list[str] = []

    def __init__(self, name: str, queries: tuple[str, ...], near_dups: int = 0):
        self.name, self.queries, self.near_dups = name, queries, near_dups

    def prepare(self, ctx: Context) -> None:
        from data_engineering_challenge_spark import registry

        specs = registry.all_queries()
        self.table_dir = ctx.data
        if self.near_dups:
            # a fixed seed: the corpus is the same for every run
            self.table_dir = inputs.with_near_duplicates(self.table_dir, 0, self.near_dups)
        self.specs = {q: specs[q] for q in self.queries}
        self.expect = {
            q: inputs.oracle_expectation(self.table_dir, s.oracle)
            for q, s in self.specs.items()
        }

    def prime(self, ctx: Context) -> None:
        from data_engineering_challenge_spark.catalog import load_tables

        load_tables(ctx.spark, self.table_dir)

    def ops(self, ctx: Context, pass_no: int) -> list[Op]:
        # a fixed order: a pass runs cold, and the first calls of a
        # session pay the JVM's compile costs, so a shuffled order moves
        # those costs between ops from seed to seed
        return [self._op(ctx, q) for q in self.queries]

    def _op(self, ctx: Context, q: str) -> Op:
        from data_engineering_challenge_spark import registry

        spec, t = self.specs[q], ctx.tracer

        def run():
            registry.drain_cache_ledger()
            with t.span("build", layer="registry.build_s"):
                df = spec.fn(ctx.spark, self.table_dir)
            t.add("registry.ledger_persists", len(registry._CACHE_LEDGER))
            with t.span("collect", layer="collect.s"):
                rows = df.collect()
            t.add("collect.rows", len(rows))
            ctx.probe.plan(df)
            return df.columns, rows

        return Op(q, run, lambda out: _check_rows(out[0], [tuple(r) for r in out[1]], self.expect[q]))

    def end_pass(self, ctx: Context) -> None:
        from data_engineering_challenge_spark import registry

        registry.drain_cache_ledger()


class WritesWorkload:
    """The write path, from a fresh and empty index directory on every
    pass: messy-CSV ingest through the pipeline runner, versioned
    snapshots, a night (public index builders, then the incremental
    pipeline over their indexes), and the landing stream that reads the
    frozen MinHash index."""

    name = "writes"
    # job groups beside the caller's that the last op ran jobs under
    # (a streaming query runs its batches under its own run id)
    op_groups: list[str] = []

    def prepare(self, ctx: Context) -> None:
        from data_engineering_challenge_spark import registry

        self.table_dir = inputs.with_near_duplicates(ctx.data, ctx.seed, NEAR_DUPS)
        self.tx = inputs.transactions(ctx.seed, CSV_ROWS)
        self.drops = inputs.document_drops(self.table_dir, ctx.seed, STREAM_CHUNKS)
        specs = registry.all_queries()
        self.probe_expect = {
            kind: inputs.oracle_expectation(self.table_dir, specs[q].oracle)
            for kind, q in PROBE_QUERIES.items()
        }
        self.pairs_expect = inputs.oracle_expectation(
            self.table_dir, specs["incremental_dedup"].oracle, keep_rows=True
        )

    def prime(self, ctx: Context) -> None:
        from data_engineering_challenge_spark.catalog import load_tables

        load_tables(ctx.spark, self.table_dir, ("documents",))

    def ops(self, ctx: Context, pass_no: int) -> list[Op]:
        d = os.path.join(ctx.run_dir, f"writes-{pass_no}")
        index_dir = os.path.join(d, "index")
        os.makedirs(index_dir)
        if os.listdir(index_dir):
            raise RuntimeError(f"index directory {index_dir} is not empty at a cold start")
        os.environ["SPARK_GRAFT_INDEX_DIR"] = index_dir
        self.index_dir, self.pass_dir = index_dir, d
        self.index_seen = {"reads": 0, "builds": 0}
        return (
            [self._ingest(ctx), *self._snapshots(ctx)]
            + [self._build(ctx, kind) for kind in INDEX_FAMILIES]
            + [self._night(ctx), self._landing(ctx)]
        )

    # -- ingest and snapshots --------------------------------------------

    def _ingest(self, ctx: Context) -> Op:
        from data_engineering_challenge_spark.pipeline import run_pipeline

        sink = os.path.join(self.pass_dir, "transactions")
        cfg = {
            "source": {"format": "csv", "table": "transactions", "paths": self.tx["paths"],
                       "sep": "|", "surrogate_key": "transaction_id"},
            "validate": {"table": "transactions", "max_invalid_fraction": 0.05,
                         "drop_invalid": True},
            "sink": {"mode": "partitioned", "path": sink, "partition_col": "date_transaction"},
        }
        self.sink = sink

        def run():
            t0 = time.perf_counter()
            with ctx.tracer.span("pipeline.run_pipeline", layer="pipeline.s"):
                stats = run_pipeline(ctx.spark, cfg)
            dt = time.perf_counter() - t0
            ctx.extra["ingest_rows_per_s"] = self.tx["rows_in"] / dt
            ctx.tracer.add("sources.csv.ingest_s", dt)
            return stats

        def check(stats):
            want = {k: self.tx[k] for k in ("rows_in", "invalid_rows", "rows_out")}
            got = {k: stats.get(k) for k in want}
            if got != want:
                return f"pipeline stats {got} != injected {want}"
            counts = {c: n for c, n in stats["invalid_counts"].items() if n}
            if counts != {c: n for c, n in self.tx["invalid_counts"].items() if n}:
                return f"invalid counts {counts} != injected {self.tx['invalid_counts']}"
            return None

        return Op("ingest", run, check)

    def _summary(self, df) -> tuple:
        from pyspark.sql import functions as F

        cols = [c for c in df.columns if c != "part_month"]
        row = df.agg(
            F.count(F.lit(1)),
            F.sum("quantite_vendue"),
            F.bit_xor(F.xxhash64(*cols)),
        ).collect()[0]
        return tuple(row)

    def _snapshots(self, ctx: Context) -> list[Op]:
        from data_engineering_challenge_spark.sinks import versioned

        snap = os.path.join(self.pass_dir, "snapshots")
        t = ctx.tracer

        def write(n):
            def run():
                with t.span("sinks.versioned.write", layer="sinks.versioned.write_s"):
                    return versioned.write_snapshot(ctx.spark.read.parquet(self.sink), snap)
            return Op(f"snapshot_write_v{n}", run, lambda v: None if v == n else f"version {v} != {n}")

        def read():
            with t.span("sinks.versioned.read", layer="sinks.versioned.read_s"):
                df = versioned.read_snapshot(ctx.spark, snap)
                with t.span("collect", layer="collect.s"):
                    out = self._summary(df)
            ctx.probe.plan(df)
            return out

        def check_read(got):
            sink = self._summary(ctx.spark.read.parquet(self.sink))
            want = (self.tx["rows_out"], self.tx["valid_quantity"])
            if got[:2] != want:
                return f"snapshot rows/quantity {got[:2]} != injected {want}"
            if got != sink:
                return f"snapshot summary {got} != sink {sink}"
            return None

        def vacuum():
            with t.span("sinks.versioned.vacuum", layer="sinks.versioned.vacuum_s"):
                removed = versioned.vacuum_snapshots(snap, keep_last=1)
            t.add("sinks.versioned.bytes_per_input_byte", _du(snap) / self.tx["bytes"])
            return removed, versioned.history(snap)["versions"]

        return [
            write(1), write(2), Op("snapshot_read", read, check_read),
            Op("snapshot_vacuum", vacuum,
               lambda out: None if out == ([1], [2]) else f"vacuum removed/kept {out}"),
        ]

    # -- nightly index lifecycle -----------------------------------------

    def _build(self, ctx: Context, kind: str) -> Op:
        build, index_dir = _builders()[kind]

        def run():
            t0 = time.perf_counter()
            with ctx.tracer.span(f"index.build.{kind}", layer=f"index.build_s.{kind}"):
                v = build(ctx.spark, self.table_dir, index_dir(self.table_dir))
            ctx.extra["index_build_s"] = ctx.extra.get("index_build_s", 0.0) + time.perf_counter() - t0
            return v

        return Op(f"build_{kind}", run, lambda v: None if v == 1 else f"built version {v} != 1")

    def _night(self, ctx: Context) -> Op:
        """The incremental pipeline over the freshly built indexes:
        probe the delta against each frozen index, fold it in as
        version 2, vacuum. Every index is read, none rebuilt."""
        from data_engineering_challenge_spark.pipeline import run_pipeline

        probe_out = os.path.join(self.pass_dir, "night")
        cfg = {"incremental": {"sf_dir": self.table_dir, "indexes": list(INDEX_FAMILIES),
                               "probe_out": probe_out, "vacuum_keep": 2}}

        def run():
            before = set(os.listdir(self.index_dir))
            with ctx.tracer.span("pipeline.run_pipeline", layer="pipeline.s"):
                stats = run_pipeline(ctx.spark, cfg)
            built = len(set(os.listdir(self.index_dir)) - before)
            self.index_seen["builds"] += built
            self.index_seen["reads"] += len(INDEX_FAMILIES) - built
            return stats

        def check(stats):
            for kind in INDEX_FAMILIES:
                s = stats[kind]
                if s["index_version"] != 2 or s["versions_retained"] != [1, 2]:
                    return (f"{kind} at version {s['index_version']} keeping "
                            f"{s['versions_retained']}, not 2 keeping [1, 2]")
                df = ctx.spark.read.parquet(s["probe_path"])
                bad = _check_rows(df.columns, [tuple(r) for r in df.collect()], self.probe_expect[kind])
                if bad:
                    return f"{kind} probe: {bad}"
            return None

        return Op("night", run, check)

    # -- landing stream --------------------------------------------------

    def _landing(self, ctx: Context) -> Op:
        """Replay the seeded document drops through the landing-zone
        near-dup filter, one file per trigger, until the backlog is
        done. The filter probes the frozen MinHash index every
        micro-batch; each micro-batch is a latency sample. The output
        must equal its batch twin, incremental_dedup, without the
        delta-delta pairs a stateless stream cannot see."""
        from data_engineering_challenge_spark.operators.dedup import (
            INCR_DELTA_BUCKETS, INCR_DELTA_FROM,
        )
        from data_engineering_challenge_spark.streaming import pipelines as P

        spark, drop, pairs = ctx.spark, self.drops, []

        def run():
            P.apply_streaming_confs(spark)
            schema = spark.read.parquet(drop).schema
            raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drop)
            t0 = time.perf_counter()
            q = (
                P.landing_dedup_transform(spark, self.table_dir, raw).writeStream
                .option("checkpointLocation", os.path.join(self.pass_dir, "ckpt"))
                .foreachBatch(lambda b, _i: pairs.extend(b.collect()))
                .start()
            )
            q.processAllAvailable()
            wall = time.perf_counter() - t0
            progress = list(q.recentProgress)
            q.stop()
            self.op_groups = [str(q.runId)]
            ctx.extra["docs_per_s"] = sum(p["numInputRows"] for p in progress) / wall
            _stream_layers(ctx.tracer, progress)
            return progress

        def bucket(doc_id: int) -> int:
            h = hashlib.md5(f"inc:{doc_id}".encode()).hexdigest()[:8]
            return int(h, 16) % INCR_DELTA_BUCKETS

        def check(_progress):
            names = self.pairs_expect["names"]
            a, b, e = (names.index(c) for c in ("doc_a", "doc_b", "est_jaccard"))
            want = {
                (r[a], r[b]): r[e] for r in self.pairs_expect["rows"]
                if not (bucket(r[a]) >= INCR_DELTA_FROM and bucket(r[b]) >= INCR_DELTA_FROM)
            }
            got = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs}
            return None if got == want else f"{len(got)} landing pairs != {len(want)} batch pairs"

        return Op("landing_dedup", run, check,
                  samples=lambda progress: [p["durationMs"]["triggerExecution"] / 1000 for p in progress])

    def end_pass(self, ctx: Context) -> None:
        from data_engineering_challenge_spark import registry

        registry.drain_cache_ledger()
        ctx.tracer.add("index.reads", self.index_seen["reads"])
        ctx.tracer.add("index.builds", self.index_seen["builds"])
        shutil.rmtree(self.pass_dir, ignore_errors=True)


def _stream_layers(t, progress: list[dict]) -> None:
    rows = mem = 0
    for p in progress:
        dur = p.get("durationMs", {})
        t.add("streaming.batch_s", dur.get("triggerExecution", 0) / 1000)
        t.add("streaming.add_batch_s", dur.get("addBatch", 0) / 1000)
        for so in p.get("stateOperators", []):
            t.add("streaming.state_commit_s", (so.get("commitTimeMs") or 0) / 1000)
    if progress:
        for so in progress[-1].get("stateOperators", []):
            rows += so.get("numRowsTotal") or 0
            mem += so.get("memoryUsedBytes") or 0
    t.add("streaming.state_rows", rows)
    t.add("streaming.state_bytes", mem)


def _builders() -> dict[str, tuple[Callable, Callable]]:
    from data_engineering_challenge_spark.operators import dedup, span_dedup

    return {
        "span": (span_dedup.build_span_index, span_dedup.span_index_dir),
        "minhash": (dedup.build_minhash_index, dedup.minhash_index_dir),
    }


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {
    "analyst": lambda: QueryWorkload("analyst", ANALYST_QUERIES),
    "corpus": lambda: QueryWorkload("corpus", CORPUS_QUERIES, NEAR_DUPS),
    "writes": WritesWorkload,
}
