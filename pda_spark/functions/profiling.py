"""Table profiling: per-column data-quality summaries, exact and
engine-portable (cross-checked by the q132 DuckDB oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-profiling summary — one row per column: (column, n_rows,
    n_null, n_distinct). The schema-drift / data-quality primitive a
    pipeline runs on every ingested partition before trusting it.

    Values are compared through a CAST to string, which is injective
    per engine (Spark and DuckDB may format a double differently, but
    each maps distinct values to distinct strings — and only the COUNT
    crosses engines), so exact n_distinct is engine-portable without
    normalizing representations. NULLs stay NULL through the cast and
    are excluded by count(DISTINCT) in both engines.

    Shape: the table melts to (column, value) via ONE projection — an
    explode over an array of (lit(column), cast value) structs, so the
    source is scanned exactly once regardless of column count (a
    unionAll-per-column melt would re-scan the table n_cols times) —
    then one grouped aggregate; distinct counts shuffle on
    (column, value), so a wide hot column spreads over the value space
    rather than one task. A broadcast join back to the literal column
    list guarantees one output row per requested column even for an
    EMPTY table (n_rows=0 — "this partition is empty" is exactly the
    report a quality check must not stay silent about). At 100 TB swap
    count_distinct for the q121 HLL registers per column (documented
    alternative, not a code path — the gate needs the exact integer).
    """
    cols = columns or df.columns
    if not cols:
        raise ValueError("profile_table needs at least one column")
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("_p")
    ).select("_p.column", "_p._v")
    agg = melted.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.count_distinct(F.col("_v")).cast("long").alias("n_distinct"),
    )
    spine = df.sparkSession.createDataFrame([(c,) for c in cols], "column string")
    # right-outer with the aggregate as the (broadcast) build side: the
    # spine is the preserved side, so an outer-join build hint on it
    # would be ignored; agg is at most n_cols rows — always tiny.
    return F.broadcast(agg).join(spine, "column", "right").select(
        "column",
        F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce("n_null", F.lit(0)).cast("long").alias("n_null"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization (percentile clipping) — the outlier-robustness
    primitive of feature cleaning: clip ``value_col`` to its per-group
    [lower, upper] exact percentiles. Exact ``percentile`` interpolates
    at p*(n-1) identically to DuckDB's quantile_cont (the q67
    bit-exactness), so the clip boundaries — and therefore every
    clipped value — replay across engines.

    Shape: one grouped percentile aggregate (tiny: one row per group)
    joined back onto the fact table — AQE broadcasts it — then a pure
    Catalyst least/greatest. The fact table is scanned twice (agg +
    clip): at 100 TB feed a pre-aggregated percentile dim instead, or
    accept the two scans (both pushdown-pruned to one column)."""
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(f"need 0 <= lower <= upper <= 1, got {lower}, {upper}")
    gcols = list(group_cols or [])
    v = F.col(value_col).cast("double")
    agg = (df.groupBy(*gcols) if gcols else df.groupBy()).agg(
        F.percentile(v, F.lit(lower)).alias("_wlo"),
        F.percentile(v, F.lit(upper)).alias("_whi"),
    )
    if gcols:
        # null-SAFE equi-join: groupBy keeps a NULL-key group, and a
        # plain inner join would silently DROP every NULL-key fact row
        # (the q132 no-silent-row-loss lesson)
        cond = None
        for g in gcols:
            c = df[g].eqNullSafe(agg[g])
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(agg), cond).drop(*[agg[g] for g in gcols])
    else:
        joined = df.crossJoin(F.broadcast(agg))
    # NULL in -> NULL out: greatest/least SKIP null arguments, so an
    # unguarded clip would invent a p05 measurement from a missing value
    clipped = F.when(
        v.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(v, F.col("_wlo")), F.col("_whi")))
    return joined.withColumn(out_col or f"{value_col}_wins", clipped).drop("_wlo", "_whi")


def mad(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Median absolute deviation per group — the robust-scale sibling
    of ``winsorize`` (robust location+spread replaces mean/stddev when
    the column has heavy tails): med = median(x), mad = median(|x -
    med|). Two grouped exact percentiles with a join between (the
    med must be bound per row before the second pass); Spark's exact
    ``percentile(0.5)`` interpolates identically to DuckDB's
    ``median``/``quantile_cont`` (the q67 bit-exactness), and |x -
    med| over integer x and a .5-exact med stays dyadic-exact, so
    both medians replay bit-for-bit. Returns one row per group:
    (group..., n, med, mad)."""
    gcols = list(group_cols or [])
    key = [F.col(c) for c in gcols] if gcols else [F.lit(1).alias("_g")]
    base = df.select(*key, F.col(value_col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    gnames = gcols if gcols else ["_g"]
    med = base.groupBy(*gnames).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("percentile(_v, 0.5)").alias("med"),
    )
    dev = base.join(med, gnames).select(
        *gnames, F.abs(F.col("_v") - F.col("med")).alias("_d")
    )
    out = (
        dev.groupBy(*gnames)
        .agg(F.expr("percentile(_d, 0.5)").alias("mad"))
        .join(med, gnames)
        .select(*gnames, "n", F.round("med", 6).alias("med"), F.round("mad", 6).alias("mad"))
    )
    return out.drop("_g") if not gcols else out


def mode_per_group(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Most frequent value per group, deterministic: ties resolve to
    the MINIMUM value (textbook mode() leaves ties engine-defined,
    which no cross-engine operator should; min is the total order
    every engine agrees on). Two-phase shape that works for any
    orderable value type including strings: (group, value) counts
    (map-side combinable) -> per-group max count -> equi-join filter
    -> min(value). NULL values are excluded (mode is over observed
    values; SQL's mode() skips NULLs too)."""
    counts = df.filter(F.col(value_col).isNotNull()).groupBy(
        *group_cols, F.col(value_col).alias("value")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    mx = counts.groupBy(*group_cols).agg(F.max("cnt").alias("cnt"))
    return (
        counts.join(mx, [*group_cols, "cnt"])
        .groupBy(*group_cols)
        .agg(F.min("value").alias("mode"), F.max("cnt").cast("long").alias("mode_count"))
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    n_mads: int = 3,
) -> DataFrame:
    """Per-row robust outlier flags — the ``mad`` consumer: a row is an
    outlier when |x - med| > n_mads * mad under its group's median/MAD
    (the robust z-score rule that survives the contamination that
    wrecks mean/stddev z-scores). The compare is over exact dyadic
    values (integer x, .5-exact med/mad), multiplied through so no
    division exists: |x - med| and n_mads * mad replay identically in
    any engine. Groups with mad == 0 flag every x != med (the strict
    reading; degenerate groups are the caller's lookout). Returns the
    group columns + (value, med, mad, is_outlier)."""
    stats = mad(df, value_col, group_cols)
    base = df.select(*group_cols, F.col(value_col).cast("double").alias("value")).filter(
        F.col("value").isNotNull()
    )
    st = stats.select(*group_cols, "med", "mad")
    cond = None
    for g in group_cols:
        c = base[g].eqNullSafe(st[g])
        cond = c if cond is None else (cond & c)
    j = base.join(st, cond).drop(*[st[g] for g in group_cols])
    return j.select(
        *group_cols,
        "value",
        "med",
        "mad",
        (F.abs(F.col("value") - F.col("med")) > F.lit(float(n_mads)) * F.col("mad")).alias(
            "is_outlier"
        ),
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Lower weighted median per group (integer weights): the smallest
    value v whose cumulative weight reaches half the total —
    2 * cumw(v) >= W, all integer compares, so the pick is exact and
    deterministic in any engine (the interpolating variant would need
    a float division per boundary; the LOWER median is the
    order-statistic form warehouses use for rating/price aggregation
    with multiplicities). One per-(group, value) pre-aggregate (ties
    collapse), one ordered window cumsum, one argmin. Returns
    (group..., w_total, wmedian). Rows with a NULL or non-positive
    weight are excluded, so a group with no positive weight yields no
    row."""
    # NULL weights would NULL the running cumsum (silently failing every
    # later 2*cumw >= W boundary) and non-positive weights break the
    # order statistic — both are excluded up front (ADVICE r06)
    agg = (
        df.filter(
            F.col(value_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .groupBy(*group_cols, F.col(value_col).alias("value"))
        .agg(F.sum(F.col(weight_col).cast("long")).alias("_w"))
    )
    w = Window.partitionBy(*group_cols).orderBy("value")
    tot = Window.partitionBy(*group_cols)
    cum = agg.select(
        *group_cols,
        "value",
        F.sum("_w").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_cw"),
        F.sum("_w").over(tot).alias("_tw"),
    )
    hit = cum.filter(F.lit(2) * F.col("_cw") >= F.col("_tw"))
    return hit.groupBy(*group_cols).agg(
        F.max("_tw").cast("long").alias("w_total"),
        F.min("value").alias("wmedian"),
    )


def hhi_concentration(
    df: DataFrame,
    group_cols: list[str],
    member_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: with member
    shares s_i = x_i / X, HHI = sum s_i^2 = (sum x_i^2) / X^2 — the
    market-concentration / load-imbalance statistic (1/n uniform -> 1
    monopoly). Carried as exact int64 numerator (sum of squared member
    totals) and denominator (grand total), one final division (round
    6). Overflow contract: member totals^2 summed must fit int64 —
    pre-scale values (the q150 discipline). Two map-side-combinable
    aggregations (member totals, then group sums)."""
    member = (
        df.groupBy(*group_cols, F.col(member_col).alias("member"))
        .agg(F.sum(F.col(value_col).cast("long")).alias("_x"))
    )
    g = member.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("hhi_num"),
        F.sum("_x").cast("long").alias("total"),
    )
    return g.select(
        *group_cols,
        "n_members",
        "hhi_num",
        "total",
        F.round(
            F.when(
                F.col("total") != 0,
                F.col("hhi_num").cast("double")
                / (F.col("total").cast("double") * F.col("total").cast("double")),
            ),
            6,
        ).alias("hhi"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Relational diff between two table versions (the change-data-feed
    primitive: what a Delta/Iceberg CDF emits, computed from plain
    snapshots): one row per key that was ADDED (new only), REMOVED
    (old only) or CHANGED (present in both, any compared column
    differing under null-safe IS DISTINCT FROM — the q158 lesson).
    Unchanged keys emit nothing. One full outer join on the keys; the
    change tag is pure Catalyst. Keys must be unique per side (the
    caller's version contract — dedup first if not), and must be
    NON-NULL: a NULL in any key column never matches across the plain
    full outer join, so such a logical key surfaces as an
    'added' + 'removed' pair rather than 'changed'/unchanged (ADVICE
    r06 — documented rather than eqNullSafe-joined: NULL dimension
    keys are a data bug this diff should surface, not paper over)."""
    o = old.select(*key_cols, *[F.col(c).alias(f"_o_{c}") for c in compare_cols]).withColumn(
        "_in_old", F.lit(1)
    )
    n = new.select(*key_cols, *[F.col(c).alias(f"_n_{c}") for c in compare_cols]).withColumn(
        "_in_new", F.lit(1)
    )
    j = o.join(n, key_cols, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def benford_digits(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """First-significant-digit histogram per group (Benford's-law
    screening — the fraud/fabrication smell test for naturally-grown
    magnitudes): counts of leading digits 1..9 over POSITIVE integer
    values (zeros/negatives/NULLs are excluded — they have no Benford
    digit). The digit comes from the decimal string head (pure
    Catalyst, no log10 — libm-free and engine-exact). Returns
    (group..., digit, n) — the consumer compares against
    log10(1 + 1/d) expectations."""
    gcols = list(group_cols or [])
    base = df.select(
        *gcols, F.col(value_col).cast("long").alias("_v")
    ).filter(F.col("_v") > 0)
    digit = F.substring(F.col("_v").cast("string"), 1, 1).cast("long")
    return (
        base.select(*gcols, digit.alias("digit"))
        .groupBy(*gcols, "digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def minmax_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group min-max feature scaling: (x - min) / (max - min) —
    integer numerator and denominator, ONE division per row (round 6),
    so both engines replay every output. Degenerate groups
    (max == min) emit NULL (no scale exists — the caller decides the
    fill; silently emitting 0 or 0.5 bakes in a policy). NULL x stays
    NULL. One tiny grouped min/max broadcast-joined back — the
    winsorize shape."""
    gcols = list(group_cols or [])
    v = F.col(value_col).cast("long")
    agg = (df.groupBy(*gcols) if gcols else df.groupBy()).agg(
        F.min(v).alias("_mn"), F.max(v).alias("_mx")
    )
    if gcols:
        # null-SAFE join (the winsorize lesson): a NULL group key has a
        # stats row too, and a plain equi-join would silently DROP all
        # its fact rows (round-6 review)
        cond = None
        for g in gcols:
            c = df[g].eqNullSafe(agg[g])
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(agg), cond).drop(*[agg[g] for g in gcols])
    else:
        joined = df.crossJoin(F.broadcast(agg))
    norm = F.when(
        v.isNotNull() & (F.col("_mx") > F.col("_mn")),
        (v - F.col("_mn")).cast("double") / (F.col("_mx") - F.col("_mn")).cast("double"),
    )
    return joined.withColumn(out_col or f"{value_col}_norm", F.round(norm, 6)).drop(
        "_mn", "_mx"
    )


def label_encode(
    df: DataFrame,
    value_col: str,
    start: int = 0,
) -> DataFrame:
    """Deterministic categorical label encoding: every distinct
    non-NULL value of ``value_col`` maps to a dense integer id in
    VALUE SORT ORDER (the one total order every engine agrees on —
    hash-order ids, like StringIndexer's frequency-then-arbitrary
    ties, cannot be replayed cross-engine). Returns the (value,
    label_id) DICTIONARY — callers broadcast-join it onto facts. The
    ranking window runs over the DISTINCT values only (vocabulary-
    bounded, the q60 contract — never over the fact table)."""
    vals = df.select(F.col(value_col).alias("value")).filter(
        F.col("value").isNotNull()
    ).distinct()
    w = Window.orderBy("value")
    return vals.select(
        "value",
        (F.row_number().over(w) + F.lit(start - 1)).cast("long").alias("label_id"),
    )


def auc_exact(
    df: DataFrame,
    key_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC per key from integer rank sums (the Mann-Whitney
    U identity: AUC = U / (n_pos * n_neg)) — the model-evaluation
    aggregate, computed without a single float until the one final
    division. Ties get average ranks, carried DOUBLED so they stay
    integer: for a score bucket with c rows starting after cum_before
    smaller rows, 2 * avg_rank = 2 * cum_before + c + 1. Scores must
    be integer-valued (pre-scale floats — the q150 discipline);
    labels are 0/1. Keys with no positives or no negatives emit NULL
    auc. One per-(key, score) pre-aggregate, one ordered window
    cumsum (bounded by distinct scores per key), one grouped sum."""
    # NULL scores would rank NULLS FIRST (engine-defined) and NULL
    # labels would count as negatives — both silently skew AUC; a
    # scored-eval row without both fields carries no information
    # (round-6 review).
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(score_col).cast("long").alias("_s"),
        F.col(label_col).cast("long").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    per_score = base.groupBy("key", "_s").agg(
        F.count(F.lit(1)).alias("_c"), F.sum("_y").alias("_pos")
    )
    w = Window.partitionBy("key").orderBy("_s")
    cum = per_score.withColumn(
        "_cb", F.coalesce(F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    )
    # sum over positive rows of doubled average rank
    g = cum.groupBy("key").agg(
        F.sum("_pos").cast("long").alias("n_pos"),
        (F.sum("_c") - F.sum("_pos")).cast("long").alias("n_neg"),
        F.sum(F.col("_pos") * (F.lit(2) * F.col("_cb") + F.col("_c") + F.lit(1)))
        .cast("long")
        .alias("rank2_pos"),
    )
    # 2U = rank2_pos - n_pos*(n_pos+1); AUC = 2U / (2 * n_pos * n_neg)
    u2 = F.col("rank2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        u2.cast("double") / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
    )
    return g.select(
        "key", "n_pos", "n_neg", u2.cast("long").alias("u2"), F.round(auc, 6).alias("auc")
    )


def calibration_bins(
    df: DataFrame,
    key_col: str,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    score_max: int = 1000,
) -> DataFrame:
    """Reliability-diagram bins per key: scores in [0, score_max)
    bucket into ``n_bins`` equal-width bins; each bin reports row and
    positive counts (exact integers — the consumer divides for the
    observed rate and compares with the bin midpoint). The q83
    integer-sums discipline applied to model calibration."""
    if n_bins < 1 or score_max < n_bins:
        raise ValueError(f"bad bins: n_bins={n_bins}, score_max={score_max}")
    width = score_max // n_bins
    b = F.least(
        F.expr(f"CAST({score_col} AS BIGINT) div {width}"), F.lit(n_bins - 1)
    )
    return (
        df.select(
            F.col(key_col).alias("key"),
            b.alias("bin"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy("key", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_y").cast("long").alias("n_pos"),
        )
    )


def feature_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 256,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): word tokens map to
    a fixed ``dim``-dimensional index by the md5 fold (the portable
    hash both engines share), emitting the SPARSE (doc, feature_idx,
    count) rows — the bag-of-words featurization that needs no
    vocabulary pass, the property that makes it THE streaming/100 TB
    featurizer. Exact integer counts; a signed-hash variant (+-1 to
    debias) is the documented extension."""
    from pda_spark.functions.dedup import hex_to_long

    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(words).alias("_w"))
    idx = F.pmod(hex_to_long(F.md5(F.col("_w"))), F.lit(dim))
    return (
        tok.select("doc_id", idx.alias("feature_idx"))
        .groupBy("doc_id", "feature_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
