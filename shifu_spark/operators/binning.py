"""Binning / discretization operators — the reference's signature family.

Reference algorithms (SURVEY §2.5):
  * EqualPopulation — SPDT streaming histogram (EqualPopulationBinning.java,
    693 LoC, ≤10k centroids)           -> Spark: exact `percentile` at test
    scale / `percentile_approx` (KLL) at 100 TB — same approximation
    guarantee class, bounded memory.
  * MunroPat — multi-pass quantiles (MunroPatBinning.java)  -> same.
  * EqualInterval — (max-min)/k edges (EqualIntervalBinning.java:30).
  * Native — exact sort + equal-count cut (NativeBinning.java:27)
    -> `ntile(k)` window.
  * Categorical — frequency-ordered categories (CategoricalBinning.java:33).
  * BinningMethod variants (ModelStatsConf.java:34-36): EqualPositive
    (default!) / EqualNegative / EqualTotal / WeightEqual* — which
    population the equal-frequency quantiles run over -> filter-then-
    quantile; weighted variants via a weighted-quantile Aggregator.

Boundary semantics: ``bin_boundary[0]`` is conceptually -inf; bin i covers
[b_i, b_{i+1}); lookup is binary-search with ``low==0 ? 0 : low-1``
(BinUtils.java:53-104); missing -> dedicated LAST bin slot.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# boundary builders
# ---------------------------------------------------------------------------

def equal_interval_boundaries(df: DataFrame, col: str, num_bins: int) -> list[float]:
    """(max-min)/k fixed-width left edges — EqualIntervalBinning.java:30."""
    row = df.agg(F.min(F.col(col).try_cast("double")), F.max(F.col(col).try_cast("double"))).collect()[0]
    mn, mx = row[0], row[1]
    if mn is None or mx is None or not num_bins:
        return []
    width = (mx - mn) / num_bins
    return [mn + i * width for i in range(num_bins)]


def boundary_quantiles(num_bins: int) -> list[float]:
    """The left-edge quantiles of ``num_bins`` equal-population bins."""
    return [i / num_bins for i in range(num_bins)]


def boundary_population(
    method: str,
    tag_col: str | None = None,
    pos_tags: list[str] | None = None,
    neg_tags: list[str] | None = None,
) -> Column | None:
    """Row predicate of the population a BinningMethod quantiles over:
    positives for EqualPositive, negatives for EqualNegative, every row
    (``None``) otherwise (ModelStatsConf.java:34-36)."""
    if method == "EqualPositive":
        return F.col(tag_col).isin(pos_tags or [])
    if method == "EqualNegative":
        return F.col(tag_col).isin(neg_tags or [])
    return None


def dedupe_boundaries(arr) -> list[float]:
    """Drop NULL and repeated edges, keeping the first of each run of
    equal quantiles (MunroPatBinning.java:60-99 merges dups)."""
    out: list[float] = []
    for b in arr or []:
        if b is not None and (not out or b > out[-1]):
            out.append(b)
    return out


def equal_population_boundaries(
    df: DataFrame,
    col: str,
    num_bins: int,
    method: str = "EqualTotal",
    tag_col: str | None = None,
    pos_tags: list[str] | None = None,
    neg_tags: list[str] | None = None,
    exact: bool = True,
) -> list[float]:
    """Equal-frequency left edges over the method-selected population,
    for one column.

    EqualPositive (reference default) quantiles over positive rows only;
    EqualNegative over negatives; EqualTotal over all valid rows
    (ModelStatsConf.java:34-36, udf/stats/NumericalVarStats.java:55-130).
    ``exact=False`` uses percentile_approx (KLL, 10k accuracy — the scale
    path matching the reference's 10k-centroid SPDT bound).
    ``stats.numeric_column_stats`` computes the same edges for many
    columns in one grouped aggregate.
    """
    v = F.col(col).try_cast("double")
    pop = df.filter(v.isNotNull())
    in_pop = boundary_population(method, tag_col, pos_tags, neg_tags)
    if in_pop is not None:
        pop = pop.filter(in_pop)
    qs = boundary_quantiles(num_bins)
    if exact:
        # aggregate over the SAME cast the filter used: the raw column
        # may be string-typed (shifu-style raw text input) — exact
        # percentile over the uncast column would throw or, with mixed
        # junk tokens, disagree with the try_cast-filtered population
        arr = pop.agg(F.percentile(v, qs)).collect()[0][0]
    else:
        arr = pop.agg(F.percentile_approx(v, qs, 10000)).collect()[0][0]
    return dedupe_boundaries(arr)


def weighted_equal_population_boundaries(
    df: DataFrame, col: str, weight_col: str, num_bins: int
) -> list[float]:
    """Weighted equal-frequency edges (WeightEqual* methods).

    percentile_approx has no weight argument; the reference feeds
    frequency-expanded values into its histogram. Spark's exact
    ``percentile(col, q, frequency)`` takes an integer frequency — we
    scale weights to integer millis (precision contract: weights are
    honored to 3 decimal places and anything below 0.001 clamps to 1
    milli-unit; callers needing finer resolution should pre-scale their
    weight column). At 100 TB scale this becomes a two-pass approximate
    weighted quantile (bucket by value, sum weights, cumulative scan) —
    implemented in :func:`weighted_quantile_scalable`; route through it
    when the input is more than a driver-friendly sample.
    """
    v = F.col(col).try_cast("double")
    qs = boundary_quantiles(num_bins)
    arr = (
        df.filter(v.isNotNull())
        .agg(F.expr(f"percentile({col}, array({','.join(str(q) for q in qs)}), greatest(cast({weight_col}*1000 as bigint), 1L))"))
        .collect()[0][0]
    )
    return dedupe_boundaries(arr)


def weighted_quantile_scalable(df: DataFrame, col: str, weight_col: str, qs: list[float], resolution: int = 10000) -> list[float]:
    """Scale-path weighted quantiles: value-bucket histogram + cumulative scan.

    One groupBy over ``resolution`` buckets (map-side combined), then a
    driver-side cumulative walk — O(resolution) memory, any data size.
    """
    v = F.col(col).try_cast("double")
    row = df.agg(F.min(v), F.max(v)).collect()[0]
    mn, mx = row[0], row[1]
    if mn is None or mx == mn:
        return [mn for _ in qs]
    bucket = F.least(F.floor((v - mn) / (mx - mn) * resolution), F.lit(resolution - 1))
    hist = (
        df.filter(v.isNotNull())
        .groupBy(bucket.alias("b"))
        .agg(F.sum(F.col(weight_col).cast("double")).alias("w"))
        .orderBy("b")
        .collect()
    )
    total = sum(r["w"] for r in hist)
    out = []
    for q in qs:
        target = q * total
        cum = 0.0
        val = mx
        for r in hist:
            cum += r["w"]
            if cum >= target:
                val = mn + (r["b"] + 0.5) / resolution * (mx - mn)
                break
        out.append(val)
    return out


def categorical_bins(
    df: DataFrame,
    columns: list[str],
    max_cate_size: int = 0,
    missing_tokens: list[str] | None = None,
) -> dict[str, list[str]]:
    """Frequency-ordered category list per column (CategoricalBinning.java:33),
    for all ``columns`` from one melted ``groupBy(col_id, value).count()``.

    Values are compared as strings (the reference's binCategory is a
    list of strings). NULL and every value in ``missing_tokens`` are
    missing, not categories. Deterministic order: count desc, then
    category asc; only the ``max_cate_size`` most frequent are kept when
    it is positive (the reference auto-collapses when > maxCateSize).
    """
    from shifu_spark.operators.stats import melt

    if not columns:
        return {}
    tokens = list(missing_tokens or [])
    cells = []
    for c in columns:
        v = F.col(c).cast("string")
        cells.append([F.when(~v.isin(tokens), v).alias("value")])
    rows = melt(df, cells).filter(F.col("value").isNotNull()).groupBy("col_id", "value").count().collect()
    ranked: list[list[tuple[int, str]]] = [[] for _ in columns]
    for r in rows:
        ranked[r["col_id"]].append((-r["count"], r["value"]))
    keep = max_cate_size if max_cate_size and max_cate_size > 0 else None
    return {c: [v for _, v in sorted(ranked[i])[:keep]] for i, c in enumerate(columns)}


# ntile_boundaries cap: a single-task sort of ~10M doubles is the most a
# driver-adjacent exactness path should ever absorb (same quarantine
# policy as dedup.EXACT_PAIRS_MAX_DOCS / similarity's exact kernel)
NTILE_MAX_ROWS = 10_000_000


def ntile_boundaries(
    df: DataFrame, col: str, num_bins: int, max_rows: int | None = None
) -> list[float]:
    """Exact equal-count cut via ntile window — NativeBinning.java:27.

    Left edge of tile i = min value inside tile i. O(n log n) global sort
    through ONE task (unpartitioned window); test-scale / exactness path
    only.  The guard raises above ``max_rows`` (default the module's
    ``NTILE_MAX_ROWS``) instead of funnelling a data-scale sort through a
    single task — use :func:`equal_population_boundaries`
    (percentile_approx / KLL) for data-scale corpora.
    """
    from pyspark.sql import Window

    if max_rows is None:
        max_rows = NTILE_MAX_ROWS  # read at call time (tunable)
    # bounded probe: stops at cap+1 rows instead of a full count
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"exact ntile binning refused: > {max_rows} rows. "
            "This is the single-task global-sort exactness path; use "
            "equal_population_boundaries (percentile_approx/KLL, "
            "distributed) for data-scale inputs, or raise max_rows "
            "explicitly."
        )
    v = F.col(col).try_cast("double")
    w = Window.orderBy(v)
    tiles = (
        df.filter(v.isNotNull())
        .select(v.alias("v"), F.ntile(num_bins).over(w).alias("t"))
        .groupBy("t")
        .agg(F.min("v").alias("edge"))
        .orderBy("t")
        .collect()
    )
    return dedupe_boundaries(r["edge"] for r in tiles)


# ---------------------------------------------------------------------------
# lookup expressions (BinUtils semantics)
# ---------------------------------------------------------------------------

def bin_index_expr(col: Column | str, boundaries: list[float], missing_index: int | None = None) -> Column:
    """JVM-side bin lookup: index = #{edges <= x} - 1, clamped at 0.

    Reproduces BinUtils.java:53-104 (binary search, ``low==0 ? 0 : low-1``);
    first edge acts as -inf so any x < b1 lands in bin 0. Missing (NULL)
    maps to ``missing_index`` (defaults to len(boundaries) — the dedicated
    last slot, Normalizer.java:579-596).

    Emitted as a fold over an array literal -> whole-stage-codegen'd,
    no UDF, O(k) per row (k = bins, small).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.try_cast("double")
    if missing_index is None:
        missing_index = len(boundaries)
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    idx = F.greatest(F.size(F.filter(arr, lambda b: c >= b)) - 1, F.lit(0))
    # NaN/Infinity are MISSING (Normalizer.java:569-573), not values: under
    # Spark's NaN-is-largest ordering a NaN would satisfy `>= b` for every
    # edge and silently land in the LAST REAL BIN instead of the missing
    # slot — poisoning every transform built on this lookup (woe, onehot,
    # hybrid, index, streaming drift).
    from shifu_spark.functions.nonvalue import is_nonvalue

    return F.when(is_nonvalue(c), F.lit(missing_index)).otherwise(idx)


def bin_index_sql(col: str, boundaries: list[float], missing_index: int | None = None) -> str:
    """ANSI-SQL CASE chain equivalent of :func:`bin_index_expr` (for oracles).

    NaN/±Infinity route to the missing slot exactly like the Spark path
    (Normalizer.java:569-573) — DuckDB's NaN-is-greatest comparison would
    otherwise put NaN in the last real bin (ADVICE r9)."""
    if missing_index is None:
        missing_index = len(boundaries)
    whens = [
        f"WHEN {col} IS NULL THEN {missing_index}",
        f"WHEN NOT isfinite(CAST({col} AS DOUBLE)) THEN {missing_index}",
    ]
    for i in range(len(boundaries) - 1, 0, -1):
        whens.append(f"WHEN {col} >= {boundaries[i]!r} THEN {i}")
    return "CASE " + " ".join(whens) + " ELSE 0 END"


def categorical_index_expr(col: Column | str, categories: list[str], missing_index: int | None = None) -> Column:
    """Category -> bin index via a broadcast map expression; miss -> last slot.

    Reference: binCateMap lookup (ColumnBinning.java:56, BinUtils.java).
    Uses a map literal (JVM-side) rather than a UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    if missing_index is None:
        missing_index = len(categories)
    if not categories:
        return F.lit(missing_index)
    pairs: list = []
    for i, cat in enumerate(categories):
        pairs.extend([F.lit(cat), F.lit(i)])
    m = F.create_map(*pairs)
    return F.coalesce(m.getItem(c), F.lit(missing_index))


# ---------------------------------------------------------------------------
# Dynamic binning (core/binning/DynamicBinning.java, AutoDynamicBinning.java,
# ColumnConfigDynamicBinning.java; driven by pig/StatsDynamicBinning.pig)
# ---------------------------------------------------------------------------

def small_bin_counts(
    df: DataFrame,
    col: str,
    num_small_bins: int = 100,
    pos_expr: Column | None = None,
) -> DataFrame:
    """Pass 1 (GenSmallBinningInfoUDF): fine equal-interval small bins with
    per-bin pos/neg/total counts. One groupBy — the small-bin table is
    ≤ num_small_bins rows per column regardless of data size, so pass 2
    (the merge) is driver-side array math like the reference's rebin path.

    Returns (small_bin, lo, cnt, pos, neg) ordered by small_bin.
    """
    v = F.col(col).cast("double")
    # valid values only: F.least SKIPS nulls, so a NULL/unparseable value
    # would otherwise land in the TOP small bin (floor(NULL)=NULL,
    # least(NULL, k-1)=k-1) and corrupt the equal-population merge —
    # missing values are counted separately by the stats path, never
    # inside value bins (UpdateBinningInfoReducer missing-slot handling).
    # NaN must go too: ONE NaN makes max(v)=NaN (Spark sorts NaN
    # largest), turning EVERY row's bin index into least(NaN,k-1)=k-1 —
    # the whole binning silently collapses into one bin. ±Inf likewise
    # (one Inf makes the bin width infinite and every finite row lands
    # in bin 0) — the unified missing class covers all of it (r10
    # review: this site excluded NaN but kept Inf in value space).
    from shifu_spark.functions.nonvalue import is_value

    df = df.filter(is_value(v))
    mm = df.agg(F.min(v).alias("mn"), F.max(v).alias("mx"))
    k = num_small_bins
    # try_divide + coalesce 0: an all-equal column has width 0 and the
    # bare division is an ANSI DIVIDE_BY_ZERO job kill (double included);
    # the degenerate distribution is one small bin at lo = mn
    b = F.least(  # coalesce INSIDE least: least IGNORES NULLs (width 0 => bin 0)
        F.coalesce(
            F.floor(F.try_divide(v - F.col("mn"), (F.col("mx") - F.col("mn")) / k)),
            F.lit(0).cast("long"),
        ),
        F.lit(k - 1).cast("long"),
    )
    binned = df.crossJoin(F.broadcast(mm)).select(
        b.alias("small_bin"),
        (F.col("mn") + b * ((F.col("mx") - F.col("mn")) / k)).alias("lo"),
        (pos_expr if pos_expr is not None else F.lit(False)).cast("int").alias("y"),
    )
    return (
        binned.groupBy("small_bin", "lo")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("y").alias("pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
        )
        .orderBy("small_bin")
    )


def dynamic_bin_merge(small_bins: list[tuple[float, int]], target_bins: int) -> list[float]:
    """Pass 2 (DynamicBinning/ColumnConfigDynamicBinning rebin): merge
    adjacent small bins into ``target_bins`` equal-population bins.

    ``small_bins`` = [(lo_boundary, count)] ascending. A small bin joins
    the current merged bin until the running count reaches the ideal
    per-bin share; boundaries are small-bin los (never invented values —
    same rule as EqualPopulationBinning quantile snapping). Pure driver
    array op over ≤ num_small_bins entries.
    """
    total = sum(c for _, c in small_bins)
    if total == 0 or not small_bins:
        return []
    share = total / target_bins
    boundaries = [small_bins[0][0]]
    run = 0
    for lo, cnt in small_bins:
        if run >= share * len(boundaries) and len(boundaries) < target_bins:
            boundaries.append(lo)
        run += cnt
    return boundaries


# ---------------------------------------------------------------------------
# Hybrid columns (ColumnType.H: numeric below hybridThreshold, categorical
# at/above it — ColumnConfig.java:76-79, BinUtils hybrid split)
# ---------------------------------------------------------------------------

def hybrid_bin_index_expr(
    col: Column | str,
    threshold: float,
    boundaries: list[float],
    categories: list[str],
) -> Column:
    """Bin lookup for hybrid columns (ColumnType.H), matching the
    reference's lookup order (Normalizer.woeNormalize:622-640):

      1. the raw token is looked up in the categorical map FIRST —
         hit -> category slot + len(boundaries);
      2. miss -> parse as number -> numeric boundary bin;
      3. null / unparseable -> the final missing slot.

    ``threshold`` governs which values were COLLECTED as categories at
    binning time (BinningPartialDataUDF:119-135: NaN or value <
    hybridThreshold go to the categorical binning; default -inf = only
    non-numeric tokens), so at lookup time a value on the numeric side
    simply misses the map — categorical-first lookup is the reference's
    exact order and needs no threshold gate here.

    Index layout (BinUtils hybrid split): [numeric bins][cate bins][missing].

    Category key contract: NUMERIC category values MUST be stored as
    their plain ``%.2f`` rendering — fixed two decimals, '.' separator,
    NO thousands grouping (e.g. ``"1234.00"``, not ``"1,234.00"``;
    ``format_string`` is locale-free, unlike ``format_number`` whose
    grouping separators would silently miss every value >= 1000) —
    which normalizes numeric-token spellings ("10" == "10.0" ==
    "10.00"). NON-numeric category tokens (e.g. ``"N/A"``) are stored
    raw, and the lookup tries the RAW token first (the reference's
    map-over-raw-string order) so they resolve to their category slot
    rather than falling through to the missing slot.
    """
    _ = threshold  # binning-time parameter; lookup is categorical-first
    c = F.col(col) if isinstance(col, str) else col
    cd = c.try_cast("double")
    n_num = len(boundaries)
    missing = n_num + len(categories)
    num_idx = bin_index_expr(cd, boundaries, missing_index=missing)
    raw_idx = categorical_index_expr(
        c.cast("string"), categories, missing_index=-1 - n_num
    ) + n_num
    fmt_idx = categorical_index_expr(
        F.format_string("%.2f", cd), categories, missing_index=-1 - n_num
    ) + n_num
    return (
        F.when(raw_idx >= n_num, raw_idx)
        .when(cd.isNull(), F.lit(missing))
        .when(fmt_idx >= n_num, fmt_idx)
        .otherwise(num_idx)
    )


def hybrid_is_category_expr(col: Column | str, threshold: float | None) -> Column:
    """Binning-time split predicate for hybrid columns
    (BinningPartialDataUDF:119-135): a token goes to the CATEGORICAL
    binning when it is non-numeric/NaN or its numeric value is below
    ``hybridThreshold`` (null threshold -> -inf: only non-numeric)."""
    c = F.col(col) if isinstance(col, str) else col
    cd = c.try_cast("double")
    is_cat = c.isNotNull() & cd.isNull()  # unparseable token
    if threshold is not None:
        is_cat = is_cat | (cd < F.lit(float(threshold)))
    return is_cat
