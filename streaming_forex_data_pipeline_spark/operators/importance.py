"""Feature importance (SURVEY §2.11 P7) + consensus ranking (P8) +
feature↔target alignment join (J3).

Reference: app/services/analysis/feature_importance.py.  The sklearn
methods map as:
- pearson/spearman correlation (:69-115) -> corr aggregates; spearman
  = pearson over average-ranked values (scipy tie handling).
- f_statistic (:316-376, sklearn f_regression) -> closed form
  F = r²/(1-r²)·(n-2) from the pearson r — no ML library needed.
- random forest (:181-245) -> pyspark.ml RandomForestRegressor
  featureImportances (JVM MLlib; sklearn is not in this container).
- consensus (:495-563) -> per-method max-normalized scores + inverted
  normalized ranks, averaged then re-ranked.

The feature matrix derives from candles; the target is the NEXT
period's return, aligned with an inner join on (symbol, ts) — the J3
equi-join the reference performs via index intersection.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import session_memo

FEATURES = ("ret_1", "mom_5", "range_frac", "body_frac", "activity")


def feature_matrix(candles: DataFrame) -> DataFrame:
    """J3 — per-(symbol, ts) feature columns + next-period-return
    target, inner-aligned (rows with any null feature/target drop,
    matching the reference's dropna + index intersection)."""
    w = Window.partitionBy("symbol").orderBy("ts")
    prev = F.lag("close").over(w)
    prev5 = F.lag("close", 5).over(w)
    nxt = F.lead("close").over(w)
    out = candles.select(
        "symbol",
        "ts",
        F.when(prev != 0, (F.col("close") - prev) / prev).alias("ret_1"),
        F.when(prev5 != 0, F.col("close") / prev5 - 1.0).alias("mom_5"),
        ((F.col("high") - F.col("low")) / F.col("close")).alias("range_frac"),
        (F.abs(F.col("close") - F.col("open")) / F.col("close")).alias(
            "body_frac"
        ),
        F.col("n_events").cast("double").alias("activity"),
        F.when(nxt.isNotNull(), nxt / F.col("close") - 1.0).alias("target"),
    )
    cond = F.lit(True)
    for c in (*FEATURES, "target"):
        cond = cond & F.col(c).isNotNull()
    return out.filter(cond)


def stacked(matrix: DataFrame) -> DataFrame:
    """Unpivot to (symbol, ts, feature, x, y) rows so every per-feature
    statistic is one grouped aggregation instead of N passes."""
    pairs = F.array(
        *[
            F.struct(F.lit(f).alias("feature"), F.col(f).alias("x"))
            for f in FEATURES
        ]
    )
    return matrix.select(
        "symbol", "ts", F.col("target").alias("y"), F.explode(pairs).alias("p")
    ).select("symbol", "ts", F.col("p.feature").alias("feature"), F.col("p.x").alias("x"), "y")


def _avg_rank(col: str, part: list[str]) -> F.Column:
    """scipy 'average' tie rank: min-rank + (ties-1)/2."""
    w_rank = Window.partitionBy(*part).orderBy(col)
    w_ties = Window.partitionBy(*part, col)
    return F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_ties) - 1) / 2.0


def importance_scores(
    candles: DataFrame, matrix: DataFrame | None = None
) -> DataFrame:
    """P7 — per (symbol, feature): |pearson|, |spearman|, F-statistic,
    and per-method ranks (rank 1 = highest score).  Pass ``matrix`` to
    score a prebuilt frame instead (the pooled consensus relabels the
    per-symbol matrix with one constant symbol, so 'pooled' is just
    'per-symbol with a single symbol' — no second code path)."""
    s = stacked(matrix if matrix is not None else feature_matrix(candles))
    # zero-variance guard (r14): corr over a constant column is 0/0 —
    # NULL in DuckDB but a DIVIDE_BY_ZERO *error* under Spark ANSI
    # mode (the driver's vanilla-ANSI session) — so a (symbol,
    # feature) group whose x or y never varies is excluded from the
    # correlation methods entirely, in both engines (the oracles
    # carry the matching HAVING): a method that cannot define a score
    # does not report the feature.  No-op on any corpus with real
    # price variation.
    gv = Window.partitionBy("symbol", "feature")
    s = (
        s.withColumn(
            "__varies",
            (F.min("x").over(gv) != F.max("x").over(gv))
            & (F.min("y").over(gv) != F.max("y").over(gv)),
        )
        .filter(F.col("__varies"))
        .drop("__varies")
    )
    s = s.withColumn("rx", _avg_rank("x", ["symbol", "feature"])).withColumn(
        "ry", _avg_rank("y", ["symbol", "feature"])
    )
    agg = s.groupBy("symbol", "feature").agg(
        F.count(F.lit(1)).alias("n"),
        F.abs(F.corr("x", "y")).alias("pearson_score"),
        F.abs(F.corr("rx", "ry")).alias("spearman_score"),
        F.corr("x", "y").alias("__r"),
    )
    # F is derived from the 6dp-ROUNDED r, not the raw corr: the
    # 1/(1-r²) amplification (~100×+ here) would otherwise lift
    # aggregation-order double drift (thread/partition dependent in
    # either engine) across the output's own round(,6) grid.  round(r)
    # is drift-immune (r is O(1), drift ~1e-15), and every downstream
    # value is then a pure per-row function of (rounded r, n) —
    # bit-identical across engines and runs.  The oracle mirrors this.
    r6 = F.round("__r", 6)
    r2 = r6 * r6
    f_stat = F.when(r2 < 1.0, r2 / (1.0 - r2) * (F.col("n") - 2))
    agg = agg.withColumn("f_stat", f_stat).drop("__r")
    out = agg
    for m in ("pearson_score", "spearman_score", "f_stat"):
        # rank on scores ROUNDED to the output precision: near-equal
        # scores otherwise flip order on last-bit engine differences
        w = Window.partitionBy("symbol").orderBy(
            F.desc(F.round(m, 6)), F.asc("feature")
        )
        out = out.withColumn(f"{m}_rank", F.row_number().over(w))
    return out


def mutual_info_scores(
    candles: DataFrame, bins: int = 10, matrix: DataFrame | None = None
) -> DataFrame:
    """P7 mutual-information method (reference
    feature_importance.py:378-448, sklearn mutual_info_regression).

    sklearn's kNN estimator is not SQL-expressible, so this is the
    classical DISCRETIZED estimator: equal-width bin x and y per
    (symbol, feature), then MI = Σ p(i,j)·ln(p(i,j)/(p(i)p(j))) over
    the contingency counts.  Binning uses floor over an exact
    min/max-derived fraction, so bin assignment — and hence every
    count — is bit-identical across engines; only ln carries a
    last-ulp libm difference, absorbed by the 6dp output rounding.
    One stacked pass: bin (map-side), one groupBy for the joint
    counts, marginals as window sums over the (tiny) contingency
    cells.  ``matrix`` as in :func:`importance_scores`."""
    s = stacked(matrix if matrix is not None else feature_matrix(candles))
    g = Window.partitionBy("symbol", "feature")

    def binned(c: F.Column, mn: F.Column, mx: F.Column) -> F.Column:
        frac = (c - mn) / (mx - mn)
        return F.when(mx == mn, F.lit(0)).otherwise(
            F.least(F.floor(frac * float(bins)), F.lit(bins - 1))
        )

    b = s.select(
        "symbol",
        "feature",
        binned(F.col("x"), F.min("x").over(g), F.max("x").over(g)).alias("bx"),
        binned(F.col("y"), F.min("y").over(g), F.max("y").over(g)).alias("by"),
    )
    joint = b.groupBy("symbol", "feature", "bx", "by").agg(
        F.count(F.lit(1)).alias("c")
    )
    wf = Window.partitionBy("symbol", "feature")
    wx = Window.partitionBy("symbol", "feature", "bx")
    wy = Window.partitionBy("symbol", "feature", "by")
    n = F.sum("c").over(wf)
    cx = F.sum("c").over(wx)
    cy = F.sum("c").over(wy)
    term = (F.col("c") / n) * F.log((F.col("c") * n) / (cx * cy))
    mi = (
        joint.withColumn("t", term)
        .groupBy("symbol", "feature")
        .agg(F.sum("t").alias("mi_score"))
    )
    w = Window.partitionBy("symbol").orderBy(
        F.desc(F.round("mi_score", 6)), F.asc("feature")
    )
    return mi.withColumn("mi_score_rank", F.row_number().over(w))


def consensus_ranking(
    scores: DataFrame, mi: DataFrame | None = None, top_n: int = 15
) -> DataFrame:
    """P8 — consensus: per method normalize score by the method's max
    and invert-normalize rank ((max_rank - rank + 1)/max_rank), then
    consensus = (mean norm score + mean norm rank)/2, re-ranked
    (feature_importance.py:495-563).  Pass ``mi`` (mutual_info_scores)
    to widen the panel to four methods, mirroring the reference's
    all-methods consensus endpoint (advanced_features.py:300-372)."""
    methods = ["pearson_score", "spearman_score", "f_stat"]
    if mi is not None:
        scores = scores.join(mi, ["symbol", "feature"])
        methods.append("mi_score")
    w_sym = Window.partitionBy("symbol")
    norm_scores, norm_ranks = [], []
    for m in methods:
        max_s = F.max(m).over(w_sym)
        max_r = F.max(f"{m}_rank").over(w_sym)
        norm_scores.append(F.when(max_s > 0, F.col(m) / max_s).otherwise(0.0))
        norm_ranks.append((max_r - F.col(f"{m}_rank") + 1) / max_r)
    avg_score = sum(norm_scores) / len(norm_scores)
    avg_rank = sum(norm_ranks) / len(norm_ranks)
    consensus = (avg_score + avg_rank) / 2.0
    out = scores.select(
        "symbol",
        "feature",
        avg_score.alias("avg_score"),
        avg_rank.alias("avg_rank"),
        consensus.alias("consensus_score"),
    )
    w_rank = Window.partitionBy("symbol").orderBy(
        F.desc(F.round("consensus_score", 6)), F.asc("feature")
    )
    return (
        out.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_n)
    )


# Fits are pure functions of (candle frame, feature subset, hyperparams)
# shared by rf/lasso/rfe + consensus_all_methods, so each is memoized on
# the candle frame, which candles_from_events makes once per session and
# corpus (r13, wired r14); a cold fit is logged as ``fit:<key>``.


def _pinned_matrix(candles: DataFrame) -> DataFrame:
    """The pinned-layout feature matrix, built and .cache()d once per
    candle singleton: every fit (and every RFE round) re-reads the
    same materialized rows, so the window-function matrix derivation
    runs once per session, not once per fit."""

    def build() -> DataFrame:
        m = _pin_fit_layout(feature_matrix(candles)).cache()
        m.count()  # materialize under the pinned layout now
        return m

    return session_memo(candles, "matrix", build, log="fit:matrix")


def _rf_importances(
    candles: DataFrame,
    features: tuple,
    n_trees: int,
    seed: int,
) -> list:
    """featureImportances for one RF fit on a feature subset, cached
    per (candle singleton, subset, hyperparams).  RFE's first round
    (all features) therefore shares the random_forest_importance
    face's fit, and consensus_all_methods replays every fit free."""

    def build() -> list:
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import RandomForestRegressor

        assembled = VectorAssembler(
            inputCols=list(features), outputCol="fv"
        ).transform(_pinned_matrix(candles))
        model = RandomForestRegressor(
            featuresCol="fv",
            labelCol="target",
            numTrees=n_trees,
            seed=seed,
            maxDepth=5,
        ).fit(assembled)
        return model.featureImportances.toArray().tolist()

    key = f"rf:{','.join(features)}:{n_trees}:{seed}"
    return session_memo(candles, key, build, log=f"fit:{key}")


def _pin_fit_layout(matrix: DataFrame) -> DataFrame:
    """One partition, (symbol, ts)-sorted: spark.ml's RF bagging draws
    per-partition seeded Poisson counts in row order and L-BFGS sums
    gradients per partition, so partition COUNT and row ORDER both
    leak into fitted models.  Pinning them makes every model output a
    pure function of (data, seed) — identical under local[4] and
    local[32], any shuffle-partition setting — which is what lets the
    rf/lasso/rfe faces carry golden-parquet DRIVER oracles (round 13)
    instead of rows-only checks.  Scale note: the matrix is the
    post-aggregation candle matrix (thousands of rows per symbol-year,
    orders of magnitude smaller than the event corpus), so a
    single-partition fit is the right trade for a deterministic,
    oracle-checkable model; a 100 TB deployment fitting on a
    genuinely large matrix would skip the pin and accept run-to-run
    model variance (standard MLlib behavior).

    Scale guard (r14 verdict Next #7): repartition(1) funnels the
    whole fit input through ONE task, so an unbounded input would OOM
    an executor long before the fit starts.  The guard counts the
    matrix (one extra aggregate over the cached candle singleton,
    attributed to the one-time fit:matrix build) and refuses loudly
    above the cap instead of dying inside a shuffle — the remedy at
    scale is to SAMPLE the fit input down (documented here), never to
    raise the cap past executor memory."""
    n = matrix.count()
    cap = int(os.environ.get("SFDP_PIN_FIT_MAX_ROWS", str(2_000_000)))
    if n > cap:
        raise ValueError(
            f"_pin_fit_layout: {n} rows exceed the single-partition "
            f"fit cap ({cap}); sample the fit input (deterministically,"
            " e.g. pmod(xxhash64(id), k) = 0) before pinning, or raise"
            " SFDP_PIN_FIT_MAX_ROWS if executor memory truly allows"
        )
    return matrix.repartition(1).sortWithinPartitions("symbol", "ts")


def random_forest_importance(
    candles: DataFrame, n_trees: int = 50, seed: int = 42
) -> DataFrame:
    """P7 random-forest method via pyspark.ml (JVM MLlib — the
    container has no sklearn): one model over the pooled matrix,
    featureImportances unpacked to (feature, importance) rows.
    The fit is memoized on the candle frame (r14), so a
    session's later consumers — consensus_all_methods, RFE's first
    elimination round — replay it instead of re-fitting."""
    imps = _rf_importances(candles, tuple(FEATURES), n_trees, seed)
    spark = candles.sparkSession
    return spark.createDataFrame(
        [(f, float(v)) for f, v in zip(FEATURES, imps)],
        ["feature", "importance"],
    )


def rfe_importance(
    candles: DataFrame, n_select: int = 2, n_trees: int = 50, seed: int = 42
) -> DataFrame:
    """P7 recursive feature elimination (reference
    feature_importance.py:376-448, sklearn RFE with a RandomForest
    estimator, step=1): repeatedly fit the estimator on the surviving
    features and drop the one with the lowest importance until
    ``n_select`` remain.  sklearn's ranking convention is kept:
    selected features rank 1, the last-eliminated ranks 2, and so on;
    score = 1/rank.

    The pooled feature matrix is derived and materialized once per
    session (`_pinned_matrix`) — each elimination round re-fits on a
    column subset of the same cached rows, so the candle aggregation
    and alignment join run once, not len(FEATURES)-n_select times —
    and every round's fit is memoized on the candle frame
    (r14): the first round (all features) shares
    random_forest_importance's fit, and a repeat invocation in the
    same session (consensus_all_methods) replays all rounds free.
    Deterministic under the fixed seed (golden-parquet driver check,
    like rf_importance)."""
    remaining = list(FEATURES)
    eliminated: list[str] = []  # chronological: weakest first
    while len(remaining) > n_select:
        imps = _rf_importances(
            candles, tuple(remaining), n_trees, seed
        )
        # deterministic tie-break: lowest importance, then name
        weakest = min(zip(imps, remaining))[1]
        remaining.remove(weakest)
        eliminated.append(weakest)
    ranks = {f: 1 for f in remaining}
    for step, f in enumerate(reversed(eliminated), start=2):
        ranks[f] = step
    spark = candles.sparkSession
    return spark.createDataFrame(
        [
            (f, ranks[f], 1.0 / ranks[f], f in remaining)
            for f in FEATURES
        ],
        ["feature", "rfe_rank", "rank_score", "selected"],
    )


def lasso_importance(
    candles: DataFrame, reg_param: float = 0.001
) -> DataFrame:
    """P7 Lasso method (reference feature_importance.py:247-314,
    sklearn LassoCV): importance = |standardized L1 coefficient|.
    pyspark.ml LinearRegression with elasticNetParam=1 is the JVM
    Lasso; the reference's CV alpha search is replaced by a fixed
    regularization (deterministic — this query has no SQL oracle, so
    reproducibility is the check, like rf_importance).  Coefficients
    are fit with standardization=True, matching the reference's
    StandardScaler preprocessing.  Fit memoized on the candle frame
    (r14) — consensus_all_methods replays it free."""

    def build() -> list:
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import LinearRegression

        assembled = VectorAssembler(
            inputCols=list(FEATURES), outputCol="fv"
        ).transform(_pinned_matrix(candles))
        model = LinearRegression(
            featuresCol="fv",
            labelCol="target",
            elasticNetParam=1.0,  # pure L1
            regParam=reg_param,
            standardization=True,
            maxIter=100,
            tol=1e-9,
        ).fit(assembled)
        return model.coefficients.toArray().tolist()

    key = f"lasso:{reg_param}"
    coefs = session_memo(candles, key, build, log=f"fit:{key}")
    spark = candles.sparkSession
    return spark.createDataFrame(
        [(f, abs(float(v)), float(v)) for f, v in zip(FEATURES, coefs)],
        ["feature", "importance", "coefficient"],
    )


# the reference endpoint's method registry (advanced_features.py:
# 249-257) in ALPHABETICAL order — the fixed operand order of every
# mean/std expression below, so Spark and the DuckDB oracle run the
# IDENTICAL left-associated float op sequence (no aggregation-order
# freedom anywhere downstream of the per-method scores)
ALL_METHODS = (
    "correlation",
    "f_statistic",
    "lasso",
    "mutual_info",
    "random_forest",
    "rfe",
)


def consensus_all_methods(candles: DataFrame) -> DataFrame:
    """P8 — the reference's POOLED all-methods consensus
    (advanced_features.py:230-372 + feature_importance.py:495-563):
    `comprehensive_analysis` runs every method on ONE pooled feature
    matrix, then `create_consensus_ranking` averages the per-method
    max-normalized scores and inverted normalized ranks, with
    methods_count and the np.std population spreads.  Six methods:
    correlation (|pearson|), f_statistic, mutual_info (discretized),
    random_forest, lasso, rfe — the three model tiers come from the
    same deterministic pinned-layout fits as their standalone faces
    (so the oracle can replay them from the golden parquets while the
    SQL methods replay from events).

    Exactness design: every method score is 6dp-ROUNDED before
    normalization (one division of two identical doubles per cell),
    ranks are row_number on the rounded scores, and the means/stds
    are FIXED-ORDER per-row arithmetic over pivoted columns
    (`ALL_METHODS` order) divided by the per-feature count of
    methods that actually reported a (non-NULL) score — the
    reference's np.mean-over-methods-present (r14; a NULL f_stat at
    |rounded r| >= 1 previously nulled the whole feature) — zero
    aggregation freedom after the score stage, the per-row
    boundary-audit class."""
    matrix = feature_matrix(candles)
    pooled = matrix.withColumn("symbol", F.lit("_pooled_"))
    sql_scores = importance_scores(candles, matrix=pooled)
    mi = mutual_info_scores(candles, matrix=pooled)

    r6 = lambda c: F.round(c, 6)  # noqa: E731
    tall = (
        sql_scores.select(
            F.lit("correlation").alias("method"),
            "feature",
            r6("pearson_score").alias("s"),
        )
        .unionByName(
            sql_scores.select(
                F.lit("f_statistic").alias("method"),
                "feature",
                r6("f_stat").alias("s"),
            )
        )
        .unionByName(
            mi.select(
                F.lit("mutual_info").alias("method"),
                "feature",
                r6("mi_score").alias("s"),
            )
        )
        .unionByName(
            random_forest_importance(candles).select(
                F.lit("random_forest").alias("method"),
                "feature",
                F.col("importance").alias("s"),
            )
        )
        .unionByName(
            lasso_importance(candles).select(
                F.lit("lasso").alias("method"),
                "feature",
                F.col("importance").alias("s"),
            )
        )
        .unionByName(
            rfe_importance(candles).select(
                F.lit("rfe").alias("method"),
                "feature",
                F.col("rank_score").alias("s"),
            )
        )
    )
    # the three model faces round their OUTPUT columns to 6dp; mirror
    # that here so this face's inputs equal the goldens bit-for-bit
    tall = tall.withColumn("s", r6("s"))
    # a NULL score means the method did not report the feature (the
    # only producible case: f_statistic's guard yields NULL at
    # |rounded r| >= 1) — the reference's create_consensus_ranking
    # averages over METHODS PRESENT per feature (np.mean over the
    # collected scores), so drop the row here and average over the
    # per-feature non-null count below (advice r13; previously a
    # single NULL method nulled the whole feature while
    # methods_count still claimed 6)
    tall = tall.filter(F.col("s").isNotNull())
    w_m = Window.partitionBy("method")
    w_rank = Window.partitionBy("method").orderBy(
        F.desc("s"), F.asc("feature")
    )
    n_feat = F.count(F.lit(1)).over(w_m)
    normed = tall.select(
        "method",
        "feature",
        F.when(F.max("s").over(w_m) > 0, F.col("s") / F.max("s").over(w_m))
        .otherwise(0.0)
        .alias("ns"),
        (
            (
                n_feat.cast("double")
                - F.row_number().over(w_rank)
                + 1.0
            )
            / n_feat
        ).alias("nr"),
    )
    pv = normed.groupBy("feature").agg(
        *[
            F.max(F.when(F.col("method") == m, F.col("ns"))).alias(f"ns_{m}")
            for m in ALL_METHODS
        ],
        *[
            F.max(F.when(F.col("method") == m, F.col("nr"))).alias(f"nr_{m}")
            for m in ALL_METHODS
        ],
        F.count(F.lit(1)).alias("methods_count"),
    )
    # fixed-order arithmetic over the per-feature NON-NULL method
    # count (the reference's np.mean over methods present).  With all
    # six present — every real corpus so far — coalesce is identity
    # and the divisor is the same 6.0 double as the old fixed k, so
    # the outputs (and the golden-checked hashes) are bit-identical.
    kc = F.col("methods_count").cast("double")

    def _mean(prefix: str) -> F.Column:
        acc = F.coalesce(F.col(f"{prefix}_{ALL_METHODS[0]}"), F.lit(0.0))
        for m in ALL_METHODS[1:]:
            acc = acc + F.coalesce(F.col(f"{prefix}_{m}"), F.lit(0.0))
        return acc / kc

    def _std(prefix: str, mean: F.Column) -> F.Column:
        acc = None
        for m in ALL_METHODS:
            d = F.col(f"{prefix}_{m}") - mean
            term = F.coalesce(d * d, F.lit(0.0))
            acc = term if acc is None else acc + term
        return F.sqrt(acc / kc)

    avg_score = _mean("ns")
    avg_rank = _mean("nr")
    out = pv.select(
        "feature",
        avg_score.alias("avg_score"),
        avg_rank.alias("avg_rank"),
        ((avg_score + avg_rank) / 2.0).alias("consensus_score"),
        F.col("methods_count").cast("int").alias("methods_count"),
        _std("ns", avg_score).alias("score_std"),
        _std("nr", avg_rank).alias("rank_std"),
    )
    w_final = Window.orderBy(
        F.desc(F.round("consensus_score", 6)), F.asc("feature")
    )
    return out.withColumn("rank", F.row_number().over(w_final))
