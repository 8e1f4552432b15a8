"""The benchmark's own pieces that need no Spark session: metric names
against BENCHMARK.json, span bookkeeping, failure counting, oracles and
the committed inputs."""

import json
import os

from perfbench import inputs, oracle
from perfbench.run import end_to_end_metrics, iteration, layer_metrics
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class FakeContext:
    def __init__(self):
        self.props: dict = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description

    def setLocalProperty(self, key, value):
        self.props[key] = value


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {(m["name"], m["unit"]) for m in json.load(f)[kind]}


def test_reported_metrics_match_benchmark_json():
    e2e = end_to_end_metrics(100, 1.0, 2.0, 0.5, 10.0)
    assert {(k, u) for k, (_, u) in e2e.items()} == _declared("end_to_end")
    assert e2e["pages_per_s"][0] == 200.0
    layers = layer_metrics(Tracer(FakeContext()), [], 1.0, 10.0, 11.5)
    assert {(k, u) for k, (_, u) in layers.items()} == _declared("per_layer")
    assert layers["trace_overhead_s"][0] == 0.5


def test_spans_nest_and_restore_the_job_group():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer"):
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == "inner"
        assert sc.props["spark.jobGroup.id"] == "outer"
    assert sc.props["spark.jobGroup.id"] is None
    (_, o0, o1, _), (_, i0, i1, parent) = tr.spans
    assert parent == 0 and o0 <= i0 <= i1 <= o1
    self_s = tr.self_seconds()
    assert abs(self_s["outer"] - ((o1 - o0) - (i1 - i0))) < 1e-9
    assert tr.innermost(i0) == "inner" and tr.innermost(o1) == "outer"
    assert tr.innermost(o1 + 1) is None
    assert tr.covered(o0, o1) == o1 - o0 and tr.covered(i0, o1) == 0


def test_patch_wraps_and_undoes():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer(FakeContext())
    undo = tr.patch(Box, "f", "box.f")
    assert Box.f(1) == 2 and [s[0] for s in tr.spans] == ["box.f"]
    undo()
    Box.f(1)
    assert len(tr.spans) == 1


def test_digest_is_order_independent_and_counts_duplicates():
    rows = [("a", "p", "b"), ("c", "p", "d"), ("e", "q", "f")]
    assert oracle.digest(rows) == oracle.digest(reversed(rows))
    assert oracle.digest(rows).rows == 3
    assert oracle.digest(rows + rows[:1]) != oracle.digest(rows)


def test_corpus_golden_window_matches_fixture_golden():
    from web3_knowledge_graph_spark.fixtures import corpus

    n = 150
    want = set(corpus.golden_triples(n).itertuples(index=False, name=None))
    assert oracle.corpus_golden(0, n) == want
    shifted = oracle.corpus_golden(n, 2 * n)
    assert shifted != want and len(shifted) > len(want) / 2


def test_pinned_flagship_digest_matches_the_duckdb_oracle():
    assert oracle.flagship_expected(inputs.SF01_DIR) == oracle.FLAGSHIP_SF01
    assert oracle.FLAGSHIP_SF01.rows == 87_979


def test_a_raising_iteration_counts_as_failed():
    class Raises:
        cleaned = False

        def prepare(self):
            pass

        def run(self):
            raise RuntimeError("boom")

        def cleanup(self):
            self.cleaned = True

    w = Raises()
    dt, ok = iteration(w, oracle.FLAGSHIP_SF01)
    assert not ok and dt >= 0 and w.cleaned
