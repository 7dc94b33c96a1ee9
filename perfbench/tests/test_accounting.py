"""Failure accounting of a pass: an op that raises or returns a wrong
result is counted as failed and the pass goes on. No Spark needed."""

import contextlib

from perfbench import run
from perfbench.trace import Tracer
from perfbench.workloads import Context, Op


class _NoProbe:
    def jobs(self, *_a, **_k):
        return contextlib.nullcontext()

    def plan(self, _df):
        pass


class _Workload:
    name = "fake"
    op_groups: list = []

    def __init__(self, ops):
        self._ops = ops
        self.ended = 0

    def ops(self, ctx, pass_no):
        return self._ops

    def end_pass(self, ctx):
        self.ended += 1


def _ctx(tmp_path):
    return Context(None, Tracer(False, "t"), _NoProbe(), 1, str(tmp_path), "")


def _boom():
    raise RuntimeError("boom")


def test_raising_and_wrong_ops_fail_and_the_pass_continues(tmp_path):
    ran = []
    ops = [
        Op("ok", lambda: ran.append("ok") or 1, lambda out: None),
        Op("raises", _boom, lambda out: None),
        Op("wrong", lambda: ran.append("wrong") or 2, lambda out: "2 != 3"),
        Op("bad_check", lambda: ran.append("bad_check") or 3, lambda out: 1 / 0),
        Op("after", lambda: ran.append("after") or 4, lambda out: None),
    ]
    wl = _Workload(ops)
    wall, samples = run.run_pass(_ctx(tmp_path), wl, 1)
    assert ran == ["ok", "wrong", "bad_check", "after"]
    assert [name for name, _, _ in samples] == ["ok", "raises", "wrong", "bad_check", "after"]
    failed = {name: err for name, _, err in samples if err}
    assert set(failed) == {"raises", "wrong", "bad_check"}
    assert failed["raises"].startswith("raised RuntimeError")
    assert failed["wrong"] == "2 != 3"
    assert failed["bad_check"].startswith("check raised ZeroDivisionError")
    assert wl.ended == 1 and wall >= 0


def test_an_op_with_samples_counts_each_sample_and_fails_as_one_when_wrong(tmp_path):
    ops = [
        Op("stream", lambda: [0.1, 0.2, 0.3], lambda out: None, samples=lambda out: out),
        Op("stream_bad", lambda: [0.1, 0.2], lambda out: "wrong pairs", samples=lambda out: out),
    ]
    _, samples = run.run_pass(_ctx(tmp_path), _Workload(ops), 1)
    assert [(n, s) for n, s, _ in samples[:3]] == [("stream", 0.1), ("stream", 0.2), ("stream", 0.3)]
    # a wrong op counts once, with its own wall time
    assert [n for n, _, err in samples if err] == ["stream_bad"]
    assert len(samples) == 4
