"""Self-tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


# -- generator ---------------------------------------------------------------


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.materialize(workload, 7, str(tmp_path / "a"))
    b = gen.materialize(workload, 7, str(tmp_path / "b"))
    c = gen.materialize(workload, 8, str(tmp_path / "c"))
    for role in a["tables"]:
        assert a["tables"][role]["sha256"] == b["tables"][role]["sha256"]
        assert a["tables"][role]["sha256"] != c["tables"][role]["sha256"]
        with open(a["tables"][role]["header"], "rb") as f1, open(b["tables"][role]["header"], "rb") as f2:
            assert f1.read() == f2.read()
    # the cached arrays the checks load are the generator's own
    fresh = gen.tables_for(workload, 7)
    for role, t in gen.load_tables(a).items():
        assert t.header == fresh[role].header
        assert np.array_equal(t.tag, fresh[role].tag)
        for k, v in fresh[role].numeric.items():
            assert np.array_equal(t.numeric[k], v, equal_nan=True)
        for k, v in fresh[role].categorical.items():
            assert np.array_equal(t.categorical[k], v)


def test_sidecar_is_not_a_dot_file(tmp_path):
    m = gen.materialize("stats_wide", 1, str(tmp_path))
    name = os.path.basename(m["tables"]["data"]["header"])
    assert name == "data.txt.pig_header" and not name.startswith(".")


def test_stats_wide_shape_and_malformed_rows():
    t = gen.tables_for("stats_wide", 3)["data"]
    assert len(t.numeric) >= 16 and len(t.categorical) >= 4
    assert max(len(set(s.tolist())) for s in t.categorical.values()) >= 200
    width = len(t.header)
    bad = [ln for ln in t.lines if ln.count("|") + 1 != width]
    assert len(bad) == t.n_malformed > 0
    miss = np.mean([np.isnan(v).mean() for v in t.numeric.values()])
    assert 0.01 < miss < 0.03


def test_numpy_reference_parses_the_written_text():
    t = gen.tables_for("stats_wide", 2)["data"]
    good = [ln.split("|") for ln in t.lines if ln.count("|") + 1 == len(t.header)]
    col = t.header.index("n03")
    for i in range(0, len(good), 97):
        s = good[i][col]
        v = t.numeric["n03"][i]
        assert (s in gen.MISSING_TOKENS and np.isnan(v)) or float(s) == v


# -- AUC helpers -----------------------------------------------------------------


def _pairwise_auc(y, s):
    pos, neg = s[y == 1], s[y == 0]
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    return (gt + 0.5 * eq) / (len(pos) * len(neg))


def test_rank_auc_matches_pairwise_with_ties():
    rng = np.random.default_rng(0)
    y = rng.integers(0, 2, 300)
    s = np.round(rng.normal(size=300) + y, 1)  # many ties
    assert W.rank_auc(y, s) == pytest.approx(_pairwise_auc(y, s), abs=1e-12)


def test_scorecard_auc_uses_engine_bins_on_the_holdout(tmp_path):
    from shifu_spark.catalog.column_config import ColumnConfig, ColumnType

    h = gen.holdout("stats_wide", str(tmp_path))
    assert gen.holdout("stats_wide", str(tmp_path)).tag.tolist() == h.tag.tolist()  # cached copy
    v = h.numeric["n00"]
    edges = [float(np.nanmin(v)), float(np.nanmedian(v))]
    idx = W.bin_index(v, edges)
    neg = np.bincount(idx[h.tag == 0], minlength=3)
    pos = np.bincount(idx[h.tag == 1], minlength=3)
    cc = ColumnConfig(0, "n00", column_type=ColumnType.NUMERICAL)
    cc.column_binning.bin_boundary = edges
    cc.column_binning.bin_count_woe = np.log((neg / neg.sum()) / (pos / pos.sum())).tolist()
    # one column's scorecard is that column's binned AUC, oriented so
    # that higher is better
    rate = (pos / (pos + neg))[idx]
    assert W.scorecard_auc([cc], h) == pytest.approx(W.rank_auc(h.tag, rate), abs=1e-12)
    assert W.scorecard_auc([], h) == 0.5


def test_auc_check_flags_mismatch_and_floor():
    y = np.array([0, 1, 0, 1, 1, 0])
    s = np.array([0.1, 0.9, 0.3, 0.8, 0.2, 0.4])
    ref = W.rank_auc(y, s)
    assert W._auc_errors("score_batch", round(ref, 6), y, s) == []
    assert W._auc_errors("score_batch", ref + 0.01, y, s)
    assert any("floor" in e for e in W._auc_errors("score_batch", 0.5, y, 1 - s + 0.5))


def test_category_check_reports_the_missing_token_defect_apart():
    values = np.array(["L0_000", "L0_001", "", "?", "L0_001"])
    assert W.category_errors("c0", ["L0_001", "L0_000"], values) == ([], [])
    errs, defects = W.category_errors("c0", ["L0_001", "L0_000", "?"], values)
    assert errs == [] and defects == ["c0: missing token(s) ['?'] binned as categories"]
    # any other difference fails the pass
    assert W.category_errors("c0", ["L0_001"], values)[0]
    assert W.category_errors("c0", ["L0_001", "L0_000", "L0_009"], values)[0]
    assert W.category_errors("c0", ["L0_001", "L0_000", "L0_000"], values)[0]
    assert W.category_errors("c0", ["L0_001", "L0_000", "?"], values[:3])[0]  # no "?" in the data


# -- set-up artifacts ------------------------------------------------------------


def test_artifact_dir_follows_the_program_sources(tmp_path):
    pkg = tmp_path / "shifu_spark"
    pkg.mkdir()
    (pkg / "pipeline.py").write_text("A = 1\n")
    cache = str(tmp_path / "cache")
    first = W.artifact_dir(cache, str(tmp_path))
    assert W.artifact_dir(cache, str(tmp_path)) == first
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "pipeline.cpython-311.pyc").write_bytes(b"x")
    assert W.artifact_dir(cache, str(tmp_path)) == first  # build output is not the program
    (pkg / "pipeline.py").write_text("A = 2\n")
    assert W.artifact_dir(cache, str(tmp_path)) != first
    assert W.missing_artifacts("stats_wide", first) == W.missing_artifacts("train_eval", first)
    assert W.missing_artifacts("score_batch", first) == [W.COLUMN_CONFIG, W.CHAMPION_SET, W.GBT_SET]


# -- self-time and job arithmetic -------------------------------------------------


def test_union_length():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.union_length([(0, 10)], lo=2, hi=5) == 3.0
    assert tracing.union_length([(4, 6), (0, 1)], lo=5) == 1.0


def _span(i, parent, layer, start, end):
    return tracing.Span(i, parent, layer, layer, f"g{i}", start, end)


def _job(i, group, start, end, cpu=0.0):
    return tracing.Job(i, group, start, end, tasks=2, failed_tasks=0, exec_cpu_s=cpu)


def test_self_and_driver_time():
    spans = [
        _span(0, None, "pass", 0.0, 10.0),
        _span(1, 0, "pipeline", 1.0, 5.0),
        _span(2, 1, "operators.stats", 2.0, 3.0),
        _span(3, 0, "sources", 4.0, 8.0),  # overlaps pipeline: union counts once
    ]
    jobs = [_job(0, "g2", 2.0, 2.5, cpu=1.0), _job(1, "g1", 3.5, 4.5), _job(2, "g0", 9.0, 9.5)]
    rows = {r["layer"]: r for r in tracing.span_table(spans, jobs)}
    assert rows["pass"]["wall_s"] == 10.0
    assert rows["pass"]["self_s"] == pytest.approx(10.0 - 7.0)  # children cover [1, 8]
    assert rows["pipeline"]["self_s"] == pytest.approx(3.0)
    # pass subtree jobs cover [2, 2.5] + [3.5, 4.5] + [9, 9.5] = 2.0
    assert rows["pass"]["driver_s"] == pytest.approx(8.0)
    assert rows["pipeline"]["driver_s"] == pytest.approx(4.0 - 1.5)
    # counters go to the span that launched the job only
    assert rows["operators.stats"]["jobs"] == 1 and rows["operators.stats"]["exec_cpu_s"] == 1.0
    assert rows["pipeline"]["jobs"] == 1 and rows["pipeline"]["exec_cpu_s"] == 0.0
    assert rows["sources"]["jobs"] == 0


def test_layer_metrics_are_per_pass_and_complete():
    spans = [_span(0, None, "pass", 0, 4), _span(1, 0, "operators.binning", 0, 1),
             _span(2, 0, "operators.binning", 1, 2), _span(3, None, "pass", 4, 8)]
    spans[1].extra["columns"] = spans[2].extra["columns"] = 1
    jobs = [_job(0, "g1", 0, 0.5), _job(1, "g1", 0.5, 1), _job(2, "g2", 1, 2)]
    m = tracing.layer_metrics(tracing.span_table(spans, jobs), 2, [0.5, 0.7, 0.6], 3.0, 0.01)
    assert list(m) == tracing.per_layer_metric_names()
    assert m["operators.binning.calls"] == 1.0  # 2 calls over 2 passes
    assert m["operators.binning.jobs_per_column"] == 1.5
    assert m["ml.nn.supersteps"] == 1.5 and m["ml.nn.superstep_s"] == 0.6
    assert m["session.wall_s"] == 3.0 and m["pass.wall_s"] == 4.0
    assert len(m) <= 128


# -- lazy-job attribution ---------------------------------------------------------


class _FakeJsc:
    def __init__(self, sc):
        self.sc = sc

    def clearJobGroup(self):
        self.sc.group = None


class _FakeSc:
    """Records the job group in force, as SparkContext.setJobGroup does."""

    def __init__(self):
        self.group = None
        self.jobs: list[tracing.Job] = []
        self._jsc = _FakeJsc(self)

    def setJobGroup(self, group, description):
        self.group = group

    def run_job(self, t):
        self.jobs.append(tracing.Job(len(self.jobs), self.group, t, t + 0.1, 1, 0))


def test_lazy_plan_jobs_are_charged_to_the_collecting_span():
    sc = _FakeSc()
    tr = tracing.Tracer()
    tr.attach(sc)
    tr.active = True
    with tr.span("pass", "p"):
        with tr.span("pipeline", "run_stats"):
            with tr.span("operators.ksiv", "bin_counts_df"):
                plan = object()  # a lazy plan: building it runs no job
            assert plan is not None
            sc.run_job(0.0)  # collect() after the child span closed
            with tr.span("operators.stats", "numeric_column_stats"):
                sc.run_job(1.0)
            with tr.span("operators.stats", "nested same-layer call"):
                with tr.span("operators.stats", "inner") as inner:
                    assert inner is None  # one span per layer level
        sc.run_job(2.0)
    assert sc.group is None  # cleared once no span is active
    jobs: dict[str, int] = {}
    for r in tracing.span_table(tr.spans, sc.jobs):
        jobs[r["layer"]] = jobs.get(r["layer"], 0) + r["jobs"]
    assert jobs == {"operators.ksiv": 0, "pipeline": 1, "operators.stats": 1, "pass": 1}


def test_install_patches_the_attributes_callers_look_up():
    from shifu_spark.operators import ksiv, stats

    import shifu_spark.sources as sources_pkg
    from shifu_spark.sources import reader

    orig = stats.numeric_column_stats
    tr = tracing.Tracer()
    tr.install()
    try:
        assert stats.numeric_column_stats.__wrapped__ is orig
        assert ksiv.bin_counts_df.__wrapped__ is not None
        # the package re-export shares the module's wrapper
        assert sources_pkg.read_dataset is reader.read_dataset
    finally:
        tr.uninstall()
    assert stats.numeric_column_stats is orig
    assert not hasattr(reader.read_dataset, "__wrapped__")


# -- BENCHMARK.json and the metrics note ------------------------------------------------


def _bench():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert [m["name"] for m in b["per_layer"]] == tracing.per_layer_metric_names()
    assert all(m["unit"] == tracing.unit_of(m["name"]) for m in b["per_layer"])
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in b["workloads"]} <= set(W.WORKLOADS)
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_metrics_note_lists_every_layer():
    with open(os.path.join(HERE, "METRICS.md")) as f:
        text = f.read()
    table = [ln for ln in text.splitlines() if ln.startswith("| `")]
    layers = {re.match(r"\| `([^`]+)`", ln).group(1) for ln in table}
    assert set(tracing.LAYER_METRICS) - {tracing.PASS} <= layers
    for w in W.WORKLOADS:
        assert w in text
