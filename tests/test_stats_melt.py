"""``shifu init -> stats`` as melted grouped aggregates: a fixed number of
Spark jobs for any column count, boundaries equal to the per-column
builder, categories equal to a pandas recomputation, missing tokens never
binned as categories."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shifu_spark.catalog import DataSetConf, ModelConfig


def _mc(columns, cats, method="EqualPositive", cate_max=0, missing_tokens=None):
    mc = ModelConfig()
    mc.dataset = DataSetConf(
        target_column="tag", pos_tags=["1"], neg_tags=["0"], meta_columns=["id"],
        categorical_columns=[c for c in columns if c in cats],
    )
    if missing_tokens is not None:
        mc.dataset.missing_tokens = missing_tokens
    mc.stats.max_num_bin = 5
    mc.stats.binning_method = method
    mc.stats.cate_max_num_bin = cate_max
    return mc


def _wide_frame(spark, n_num, n_cat, rows=60):
    cols = ["id", "tag"] + [f"x{i}" for i in range(n_num)] + [f"c{i}" for i in range(n_cat)]
    data = [
        [str(r), "1" if r % 3 == 0 else "0"]
        + [str((r * (i + 3)) % 17 * 0.5) for i in range(n_num)]
        + ["abcde"[(r + i) % 5] for i in range(n_cat)]
        for r in range(rows)
    ]
    return spark.createDataFrame(data, ", ".join(f"{c} string" for c in cols)), cols


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_count_does_not_grow_with_columns(spark):
    """init_columns and run_stats launch the same number of Spark jobs on
    6 candidate columns as on 40: no job is launched per column."""
    from shifu_spark.pipeline import init_columns, run_stats

    counts = []
    for n_num, n_cat in ((4, 2), (32, 8)):
        df, cols = _wide_frame(spark, n_num, n_cat)
        mc = _mc(cols, {c for c in cols if c.startswith("c")})
        ccs, init_jobs = _jobs(spark, f"melt-init-{n_num}", lambda: init_columns(df, mc))
        ccs, stats_jobs = _jobs(spark, f"melt-stats-{n_num}", lambda: run_stats(df, mc, ccs))
        assert all(c.column_binning.bin_boundary for c in ccs if c.column_name.startswith("x"))
        counts.append((init_jobs, stats_jobs))
    assert counts[0] == counts[1], counts
    assert counts[0][0] >= 1 and counts[0][1] >= 1


def _dirty_lines():
    """40 rows of ``id|tag|x|y|c`` text with missing tokens, NaN, ±Infinity,
    junk, a tag outside pos/neg (dropped by run_stats) and a malformed row
    (dropped on read). Categories a, c, d and e occur 5 times each among
    the kept rows, b 4 times."""
    x_dirty = {3: "", 4: "NaN", 5: "Infinity", 7: "?"}
    y_dirty = {2: "?", 6: "-Infinity", 9: "", 20: "NaN"}
    lines = []
    for r in range(1, 41):
        tag = "2" if r == 17 else ("1" if r % 2 else "0")
        x = x_dirty.get(r, str(r % 9 * 0.5 + 1))
        y = y_dirty.get(r, str(r * 10))
        c = ["a", "b", "c", "d", "e", "", "?", "NA"][r % 8]
        lines.append(f"{r}|{tag}|{x}|{y}|{c}")
    return lines + ["41|1|2.5"]


@pytest.fixture(scope="module")
def dirty_df(spark, tmp_path_factory):
    from shifu_spark.sources.reader import read_dataset

    d = tmp_path_factory.mktemp("dirty")
    (d / "data.txt").write_text("\n".join(_dirty_lines()) + "\n")
    (d / "data.txt.pig_header").write_text("id|tag|x|y|c\n")
    return read_dataset(spark, str(d / "data.txt"), str(d / "data.txt.pig_header"))


def _pandas_categories(pdf, col, tokens, k):
    v = pdf[col][pdf[col].notna() & ~pdf[col].isin(tokens)]
    counts = sorted((-n, val) for val, n in v.value_counts().items())
    return [val for _, val in counts][: k or None]


@pytest.mark.parametrize("method", ["EqualPositive", "EqualNegative", "EqualTotal"])
def test_stats_parity_on_dirty_frame(spark, dirty_df, method):
    """Boundaries equal binning.equal_population_boundaries per column and
    categories equal a pandas recomputation, with cate_max_num_bin cutting
    through a tie (c, d and e occur equally often)."""
    from shifu_spark.operators.binning import equal_population_boundaries
    from shifu_spark.pipeline import init_columns, run_stats

    mc = _mc(dirty_df.columns, {"c"}, method=method, cate_max=3, missing_tokens=["", "?", "NA"])
    ccs = run_stats(dirty_df, mc, init_columns(dirty_df, mc))
    by = {c.column_name: c for c in ccs}
    work = dirty_df.filter(F.col("tag").isin("1", "0"))
    for c in ("x", "y"):
        assert by[c].is_numerical
        want = equal_population_boundaries(work, c, 5, method=method, tag_col="tag",
                                           pos_tags=["1"], neg_tags=["0"])
        assert by[c].column_binning.bin_boundary == want, (c, method)
        assert by[c].column_stats.total_count == 39
    pdf = work.toPandas()
    assert by["c"].column_binning.bin_category == _pandas_categories(pdf, "c", ["", "?", "NA"], 3)
    assert by["c"].column_binning.bin_category == ["a", "c", "d"]


def test_missing_tokens_are_not_categories(spark):
    """'', '?' and a configured token are missing, not categories — in
    categorical_bins and through run_stats."""
    from shifu_spark.operators.binning import categorical_bins
    from shifu_spark.pipeline import init_columns, run_stats

    rows = [("1", "1", "a"), ("2", "0", ""), ("3", "1", "?"), ("4", "0", "-999"),
            ("5", "1", "b"), ("6", "0", "a"), ("7", "1", None), ("8", "0", "-999")]
    df = spark.createDataFrame(rows, "id string, tag string, c string")
    assert categorical_bins(df, ["c"], missing_tokens=["", "?", "-999"]) == {"c": ["a", "b"]}
    assert categorical_bins(df, ["c"]) == {"c": ["-999", "a", "", "?", "b"]}
    mc = _mc(df.columns, {"c"}, missing_tokens=["", "?", "-999"])
    cc = {c.column_name: c for c in run_stats(df, mc, init_columns(df, mc))}["c"]
    assert cc.column_binning.bin_category == ["a", "b"]
    assert cc.column_binning.length == 3
