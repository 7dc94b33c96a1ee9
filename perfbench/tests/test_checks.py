"""Output checks on sf0.001 tables made by tools/gen_sf.py: a query
whose result matches its DuckDB oracle passes, a changed result fails,
and the ingest check holds the pipeline to the generator's injected
counts."""

import os
import re

import pytest

from perfbench import inputs, workloads
from perfbench.trace import Tracer
from perfbench.workloads import Context

SF = 0.001  # smaller than the benchmark's own tables


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    d = tmp_path_factory.mktemp("perfbench")
    old = inputs.WORK
    inputs.WORK = str(d)
    os.environ["SPARK_GRAFT_ORACLE_TMP"] = str(d / "duckdb")
    try:
        yield d
    finally:
        inputs.WORK = old


@pytest.fixture(scope="module")
def data(work):
    return inputs.ensure_scales([SF], dict(os.environ))[SF]


@pytest.fixture(scope="module")
def spark(data, work):
    from data_engineering_challenge_spark.session import get_session

    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(work / "index")
    s = get_session("perfbench-tests", cpus=2)
    yield s


class _NoProbe:
    def plan(self, _df):
        pass


def _ctx(spark, data, tmp_path, seed=7):
    return Context(spark, Tracer(False, "t"), _NoProbe(), seed, str(tmp_path), data)


def test_query_output_is_checked_against_its_oracle(spark, data, tmp_path):
    wl = workloads.QueryWorkload("t", ("revenue_per_day", "top10_units"))
    ctx = _ctx(spark, data, tmp_path)
    wl.prepare(ctx)
    for op in wl.ops(ctx, 1):
        out = op.run()
        assert op.check(out) is None, op.name
        cols, rows = out
        assert rows, op.name
        # one changed cell must fail the check
        first = list(rows[0])
        i = next(k for k, v in enumerate(first) if isinstance(v, (int, float)))
        first[i] = first[i] + 1
        assert op.check((cols, [tuple(first)] + list(rows[1:]))) is not None
        assert op.check((cols, rows[1:])) is not None  # a missing row too


def test_op_list_and_order_are_the_same_for_every_seed(tmp_path):
    wl = workloads.QueryWorkload("t", workloads.ANALYST_QUERIES)
    wl._op = lambda ctx, q: q
    orders = {tuple(wl.ops(_ctx(None, "", tmp_path, seed), p)) for seed in (1, 2) for p in (1, 2)}
    assert orders == {workloads.ANALYST_QUERIES}


def test_generated_csv_counts_match_the_contract(work):
    from data_engineering_challenge_spark.schemas import TRANSACTIONS_PATTERNS

    exp = inputs.transactions(5, 2_000)
    assert inputs.transactions(5, 2_000) == exp  # cached and seeded
    assert inputs.transactions(6, 2_000)["paths"] != exp["paths"]
    bad: dict[str, int] = {}
    rows = 0
    for p in exp["paths"]:
        with open(p) as f:
            header = [c.lower() for c in f.readline().rstrip("\n").split("|")]
            for line in f:
                rows += 1
                row = dict(zip(header, line.rstrip("\n").split("|")))
                for c in inputs._BREAKS:
                    if not re.match(TRANSACTIONS_PATTERNS[c], row[c]):
                        bad[c] = bad.get(c, 0) + 1
    assert rows == exp["rows_in"]
    assert bad == {c: n for c, n in exp["invalid_counts"].items() if n}
    assert sum(bad.values()) == exp["invalid_rows"] == exp["rows_in"] - exp["rows_out"]


def test_ingest_check_holds_the_pipeline_to_injected_counts(spark, data, tmp_path, monkeypatch):
    wl = workloads.WritesWorkload()
    ctx = _ctx(spark, data, tmp_path)
    wl.table_dir = data
    wl.tx = inputs.transactions(ctx.seed, 2_000)
    wl.pass_dir = str(tmp_path / "pass")
    op = wl._ingest(ctx)
    stats = op.run()
    assert op.check(stats) is None
    wrong = dict(stats, rows_out=stats["rows_out"] + 1)
    assert "rows_out" in op.check(wrong)
    counts = dict(stats["invalid_counts"])
    col = next(c for c, n in counts.items() if n)
    counts[col] -= 1
    assert "invalid counts" in op.check(dict(stats, invalid_counts=counts))
