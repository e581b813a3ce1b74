"""Embedding similarity search (mandated LLM-pipeline extension).

Brute-force cosine top-k is the exact baseline: one broadcast of the
query vector(s), one scan of the embeddings table, JVM-side
``zip_with``/``aggregate`` arithmetic (no Python in the loop).

Scale path (IVF-style): assign each vector to a coarse bucket (sign-bit
LSH over a fixed set of hyperplanes), bucket the query the same way,
and only score vectors sharing a band — turns the O(N·d) scan into
O(N/buckets·d) with the same DataFrame shape. Implemented in
``lsh_bucket`` below; the correctness tier uses the exact scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import read_parquet


def lit_double_array(values) -> Column:
    """array<double> literal built by ONE SQL parse instead of
    ``len(values)`` py4j ``F.lit`` roundtrips (r14 optimization round:
    driver-side expression CONSTRUCTION was a measured per-query cost
    — a 64-weight plane built element-wise costs ~65 py4j calls at
    1-3 ms each, and lsh_bucket builds eight of them).  The parsed
    tree is the same CreateArray-of-Literal Catalyst constant-folds
    either way; ``repr`` round-trips every IEEE double exactly and
    Spark's ``D`` suffix parses the same double back.

    Finite values only (asserted): ``repr`` of inf/nan ('inf', 'nan')
    is not parseable SQL, so a non-finite element would otherwise
    surface as an opaque ParseException at a distance (ADVICE r14)."""
    import math as _math

    vals = list(values)
    if not all(_math.isfinite(v) for v in vals):
        raise ValueError(
            "lit_double_array requires finite values "
            "(repr of inf/nan is not parseable SQL)"
        )
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<float> columns, accumulated in double
    (left-to-right, matching DuckDB list_dot_product over DOUBLE[]).

    Pass plain column NAMES when you have them: the whole fold is then
    built by one SQL parse instead of ~15 py4j Column-API roundtrips
    (r14 optimization round — the ANN report faces construct dozens of
    these per query build).  Both forms produce the identical
    zip_with/aggregate tree, lambda variable names included.

    The str fast path requires SIMPLE top-level column names: a name
    containing '.' (a struct field path, which F.col would traverse)
    or '`' (would break the quoting) falls back to the Column path,
    so every public call site resolves names identically either way
    (ADVICE r14)."""
    simple = (
        isinstance(a, str)
        and isinstance(b, str)
        and not any(ch in n for n in (a, b) for ch in ".`")
    )
    if simple:
        return F.expr(
            f"aggregate(zip_with(`{a}`, `{b}`, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x)"
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    # str dispatch happens inside dot() — one parse for the fold
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def guarded_cos(num: Column, n1: Column, n2: Column) -> Column:
    """``num / (n1*n2)`` with a zero denominator guarded to NULL —
    the uniform degenerate-vector contract across every ANN tier
    (r14, extending the r13 graph-chain fix): Spark's raw 0/0 is IEEE
    NaN, which both SORTS first descending and satisfies ``>=``
    threshold predicates (Spark orders NaN above every value), while
    DuckDB's double division-by-zero yields NULL, which sorts last
    and fails every predicate.  Guarding to NULL makes Spark match
    the oracle exactly: a zero-norm vector scores NULL against
    everything, ranks last, and passes no threshold — in BOTH
    engines.  On any corpus without degenerate vectors the branch is
    never taken and values are bit-identical to the raw division."""
    denom = n1 * n2
    return F.when(denom != 0, num / denom)


def brute_force_topk(
    embeddings: DataFrame, query: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (tiny) query side, scan the
    corpus once, TakeOrderedAndProject for the top-k — no full sort."""
    q = query.select(F.col("embedding").alias("q_embedding"))
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        "vec_id",
        cosine(F.col("embedding"), F.col("q_embedding")).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(k)


def lsh_planes(
    n_planes: int = 8, dim: int = 64, seed: int = 42
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a fixed LCG, shared
    by the Spark bucketing expression and the DuckDB oracle (which
    embeds the same floats as SQL literals) — reproducible engine-side
    without a fitted model."""
    planes = []
    state = seed
    for _ in range(n_planes):
        weights = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            weights.append((state / float(2**31)) * 2.0 - 1.0)
        planes.append(weights)
    return planes


def lsh_bucket(
    vec: Column | str, n_planes: int = 8, dim: int = 64, seed: int = 42
) -> Column:
    """Sign-bit LSH bucket id: sign pattern of dot products against
    ``n_planes`` deterministic hyperplanes (lsh_planes).

    At scale: GROUP BY bucket co-locates candidates; query vectors probe
    only their own bucket (plus optional neighboring buckets for
    recall) — the O(N·d) exact scan becomes O(N/2^planes·d).

    Pass a plain column NAME when you have one (r15, the dot()/r14
    doctrine finished): the whole bucket expression — n_planes fold
    aggregates plus the CASE chain — is then built by ONE SQL parse
    instead of ~20 py4j roundtrips per plane (~0.3 s per call site
    measured warm; the ANN report builds five such sites).  The parsed
    tree is operator-identical to the Column form, lambda variable
    names included, so plans and results are bit-for-bit unchanged.
    Names containing '.' or '`' fall back to the Column path, as in
    dot()."""
    if isinstance(vec, str) and not any(ch in vec for ch in ".`"):
        terms = []
        for p, weights in enumerate(lsh_planes(n_planes, dim, seed)):
            arr = "array(" + ",".join(f"{v!r}D" for v in weights) + ")"
            agg = (
                f"aggregate(zip_with(`{vec}`, {arr}, "
                "(x, y) -> CAST(x AS DOUBLE) * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
            terms.append(
                f"CASE WHEN {agg} >= 0 THEN {2 ** p} ELSE 0 END"
            )
        return F.expr("0 + " + " + ".join(terms))
    vec = F.col(vec) if isinstance(vec, str) else vec
    bucket = F.lit(0)
    for p, weights in enumerate(lsh_planes(n_planes, dim, seed)):
        # one parse per plane instead of dim+1 py4j roundtrips — see
        # lit_double_array (identical constant-folded literal)
        plane = lit_double_array(weights)
        d = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def multiprobe_buckets(qbucket: Column, n_planes: int = 8) -> Column:
    """Multi-probe LSH probe set (Lv et al. 2007): the query's own
    bucket plus every bucket at Hamming distance 1 (each sign bit
    flipped) — n_planes+1 probes.  A sign bit flips exactly when the
    query sits close to that hyperplane, so the Hamming-1 neighbors
    are precisely where near neighbors that straddled a plane landed:
    the classic recall lever that multiplies probed candidates by
    ~(n_planes+1)/2^n_planes of the corpus instead of building more
    hash tables.  Pure bit arithmetic on the bucket id — the probe
    set ships as a broadcast array; recall-vs-single-probe is
    measured in tests."""
    return F.array(
        qbucket, *[qbucket.bitwiseXOR(F.lit(2 ** p)) for p in range(n_planes)]
    )


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: all (a, b) pairs with cosine >=
    threshold — the exact tier, an upper-triangle self-join with a
    broadcast build side.  The scale path buckets both sides with
    `lsh_bucket` first (see embedding_near_dup_candidates), trading
    guaranteed recall for ~n_buckets× less pair work."""
    # precompute each vector's norm ONCE per side (N values) instead of
    # re-aggregating it inside every one of the N²/2 pair evaluations —
    # the pair loop then does a single interpreted dot product per pair
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        norm(vec_col).alias("n_a"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        norm(vec_col).alias("n_b"),
    )
    from ..sources.tables import fan_out

    return (
        fan_out(a)
        .join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            guarded_cos(dot("v_a", "v_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dup_candidates(
    emb: DataFrame, threshold: float, id_col: str = "vec_id",
    vec_col: str = "embedding", n_planes: int = 8,
) -> DataFrame:
    """LSH-bucketed variant: only same-bucket pairs are scored.  Recall
    < 1 (a near-dup pair can straddle a hyperplane); the differential
    test measures it against the exact tier.

    Scale shape: bucketing is one narrow scan (fanned out so the
    single-row-group testdata parallelizes); the self-join shuffles
    both sides on `bucket`, so pair work is Σ bucket_k² instead of N² —
    with 2^n_planes roughly-uniform buckets that is ~N²/2^n_planes,
    and each bucket's pairs build on co-located partitions."""
    from ..sources.tables import fan_out

    base = fan_out(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    b = base.select(
        "id",
        "v",
        norm("v").alias("n"),
        lsh_bucket("v", n_planes).alias("bucket"),
    )
    x = b.select(
        "bucket", F.col("id").alias("id_a"), F.col("v").alias("v_a"),
        F.col("n").alias("n_a"),
    )
    y = b.select(
        "bucket", F.col("id").alias("id_b"), F.col("v").alias("v_b"),
        F.col("n").alias("n_b"),
    )
    return (
        x.join(y, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            guarded_cos(dot("v_a", "v_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def incremental_embedding_pairs(
    emb: DataFrame,
    is_new: Column,
    threshold: float,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental semantic near-dup over the LSH-bucketed tier — the
    `incremental_near_dup_pairs` daily-crawl shape carried to the
    embedding modality: same-bucket pairs scored only where at least
    one side is NEW (new x new upper-triangle plus old x new; the
    historical corpus is NEVER re-paired against itself), verified
    with the exact cosine >= ``threshold``.  Exactly
    `embedding_near_dup_candidates(emb, threshold, n_planes)`
    filtered to new-sided pairs, which is what the oracle checks.

    Daily cost at 100 TB: the old side reduces to the touched
    buckets' members via the bucket equi-join (new-batch buckets are
    a small set), so work is O(new x same-bucket) instead of
    O(corpus²/2^planes).  NULL ``is_new`` coalesces to the OLD/index
    side (the left-join-derived-flag contract shared with the other
    incremental tiers)."""
    from ..sources.tables import fan_out

    flags = fan_out(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.coalesce(is_new, F.lit(False)).alias("is_new"),
        )
    )
    b = flags.select(
        "id",
        "v",
        norm("v").alias("n"),
        lsh_bucket("v", n_planes).alias("bucket"),
        "is_new",
    )
    new = b.filter(F.col("is_new"))
    old = b.filter(~F.col("is_new"))

    def sides(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            "bucket",
            F.col("id").alias(f"id_{tag}"),
            F.col("v").alias(f"v_{tag}"),
            F.col("n").alias(f"n_{tag}"),
        )

    nn = sides(new, "a").join(sides(new, "b"), "bucket").filter(
        F.col("id_a") < F.col("id_b")
    )
    on = sides(old, "a").join(sides(new, "b"), "bucket")
    cos = guarded_cos(dot("v_a", "v_b"), F.col("n_a"), F.col("n_b"))
    return (
        nn.unionByName(on)
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cos_sim",
        )
    )


def _bootstrap_centroids(
    emb: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic data-sampled centroid frame: the ``n_cells``
    lowest-id vectors, as (cid, cv, cn)."""
    return emb.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
    )


def assign_to_cells(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Argmax-cosine cell assignment against an explicit centroid
    frame (cid, cv, cn) — the quantizer-agnostic core both the
    deterministic bootstrap tier and the k-means tier share.

    Scale shape: assignment is the textbook IVF N×K scan — one
    broadcast of K centroid vectors, one fanned-out pass, a map-side
    max_by per vector (no window, no extra shuffle)."""
    from ..sources.tables import fan_out

    base = fan_out(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(vec_col).alias("n"),
        )
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "id",
        "v",
        "n",
        "cid",
        guarded_cos(dot("v", "cv"), F.col("n"), F.col("cn")).alias(
            "ccos"
        ),
    )
    # argmax cell via max(struct): lexicographic (ccos, -cid) max picks
    # the highest cosine, then the LOWEST centroid id on exact ties —
    # deterministic on both engines since the dot products are
    # bit-identical (sequential accumulation, see `dot`)
    return (
        scored.groupBy("id")
        .agg(
            F.max(
                F.struct(
                    F.col("ccos"), (-F.col("cid")).alias("ncid"),
                    F.col("v"), F.col("n"),
                )
            ).alias("best")
        )
        .select(
            "id",
            (-F.col("best.ncid")).alias("cell"),
            F.col("best.v").alias("v"),
            F.col("best.n").alias("n"),
        )
    )


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer, deterministic flavor: the ``n_cells``
    lowest-id vectors ARE the centroids (data-sampled, no iterative
    fit — a standard IVF-flat bootstrap that keeps assignment pure
    column algebra, reproducible, and SQL-expressible, unlike a
    k-means fit whose float-aggregation order can drift between runs).
    Every vector scores against the broadcast centroid set and joins
    its argmax-cosine cell (ties broken by lowest centroid id).
    `kmeans_centroids` + `assign_to_cells` is the recall-tuned
    production tier over the same core."""
    return assign_to_cells(
        emb, _bootstrap_centroids(emb, n_cells, id_col, vec_col),
        id_col, vec_col,
    )


def probe_cells_for(
    cents: DataFrame, query: DataFrame, nprobe: int, vec_col: str
) -> DataFrame:
    """(cid) of the query's ``nprobe`` nearest centroids by cosine over
    an explicit centroid frame — the coarse-probe core shared by every
    IVF tier (one construction, or the tiers' probe sets silently
    diverge)."""
    q = query.select(
        F.col(vec_col).alias("qv"), norm(vec_col).alias("qn")
    )
    return (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cid",
            guarded_cos(
                dot("qv", "cv"), F.col("qn"), F.col("cn")
            ).alias(
                "qcos"
            ),
        )
        .orderBy(F.desc("qcos"), F.asc("cid"))
        .limit(nprobe)
        .select("cid")
    )


def _probe_cells(
    emb: DataFrame,
    query: DataFrame,
    n_cells: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Coarse probe against the deterministic bootstrap centroids —
    kept as the stable entry ivf_topk/ivf_pq_topk call."""
    return probe_cells_for(
        _bootstrap_centroids(emb, n_cells, id_col, vec_col),
        query, nprobe, vec_col,
    )


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: probe the query's ``nprobe`` nearest
    cells, exact cosine only within them — the classic inverted-file
    trade (scores ~nprobe/n_cells of the corpus; recall measured
    against the exact tier in the differential test).  At scale the
    assignment is precomputed once (a silver table partitioned by
    cell) and each query touches nprobe partitions."""
    assigned = ivf_assign(emb, n_cells, id_col, vec_col)
    q = query.select(
        F.col(vec_col).alias("qv"), norm(vec_col).alias("qn")
    )
    probe = _probe_cells(emb, query, n_cells, nprobe, id_col, vec_col)
    return (
        assigned.join(F.broadcast(probe), assigned.cell == probe.cid)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("id").alias(id_col),
            guarded_cos(
                dot("v", "qv"), F.col("n"), F.col("qn")
            ).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def kmeans_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    seed: int = 7,
    max_iter: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fitted coarse quantizer: seeded spark.ml KMeans (k-means||
    init) over the embedding column, returned in the same
    (cid, cv, cn) centroid-frame contract as `_bootstrap_centroids`
    so `assign_to_cells` / `probe_cells_for` compose unchanged.

    This is the recall-tuned production tier the bootstrap quantizer
    trades away: data-distribution-aware cells balance the inverted
    lists on skewed corpora (the bootstrap's lowest-id vectors can
    land arbitrarily).  Cost: one iterative fit (O(max_iter) passes,
    each a broadcast-scan + tree-aggregated centroid update — no
    driver-side data movement beyond the K centroid vectors, which is
    exactly what every IVF index materializes).  Not DuckDB-replayable
    (float-aggregation order inside the fit), hence no oracle — the
    recall differential vs the bootstrap tier in
    tests/test_operators.py is the evidence.

    Layout pin (r14): the fit input is repartition(1) +
    sortWithinPartitions(id_col) — the `_pin_fit_layout` doctrine the
    importance tiers use — because the k-means|| init and the
    per-iteration centroid aggregation are PARTITION-LAYOUT-dependent
    (measured: local[16] and local[32] sessions fit different
    centroids over the identical single-row-group corpus once the old
    fan_out spread it to defaultParallelism partitions).  The pinned
    fit is bit-identical across core counts, which is what lets the
    golden-parquet oracle hash-check this tier at any driver core
    count.  The pinned frame is the k-row-bounded embedding table of
    the fixture corpus, never a 100 TB corpus — a production
    deployment fits on a sampled subset and would skip the pin,
    accepting run-to-run fit drift."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # scale guard (r14 verdict Next #7, same doctrine as
    # operators/importance._pin_fit_layout): the repartition(1) pin
    # funnels the fit input through one task — refuse loudly on an
    # input that cannot fit, instead of OOMing inside the fit.  The
    # remedy at scale is a deterministic SAMPLE of the fit input, not
    # a bigger cap.  The guard counts the CACHED pinned frame, so the
    # upstream chain is scanned once for the count and the fit both.
    import os as _os

    feats = (
        emb.select(
            F.col(id_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("fv"),
        )
        .repartition(1)
        .sortWithinPartitions(id_col)
        .select("fv")
        .cache()
    )
    try:
        n_fit_rows = feats.count()
        cap = int(_os.environ.get("SFDP_PIN_FIT_MAX_ROWS", str(2_000_000)))
        if n_fit_rows > cap:
            raise ValueError(
                f"kmeans_centroids: {n_fit_rows} rows exceed the "
                f"single-partition fit cap ({cap}); sample the fit input "
                "deterministically before pinning, or raise "
                "SFDP_PIN_FIT_MAX_ROWS if executor memory truly allows"
            )
        model = KMeans(
            k=n_cells, seed=seed, maxIter=max_iter, featuresCol="fv"
        ).fit(feats)
    finally:
        feats.unpersist()
    spark = emb.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cid int, cv array<double>",
    )
    return cents.select("cid", "cv", norm("cv").alias("cn"))


def ivf_topk_kmeans(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat top-k over the fitted k-means quantizer — identical
    probe/scan shape to `ivf_topk`, only the centroid frame differs.
    At scale the fit and the assignment are precomputed once into a
    cell-partitioned silver table; queries touch nprobe partitions.
    Pass ``cents`` (a (cid, cv, cn) frame, e.g. read back from a
    fit-once centroid cache) to skip the in-query fit entirely — the
    registered query does exactly that via the content-hash-keyed
    scratch cache."""
    if cents is None:
        cents = kmeans_centroids(
            emb, n_cells, seed, vec_col=vec_col, id_col=id_col
        )
    assigned = assign_to_cells(emb, cents, id_col, vec_col)
    q = query.select(
        F.col(vec_col).alias("qv"), norm(vec_col).alias("qn")
    )
    probe = probe_cells_for(cents, query, nprobe, vec_col)
    return (
        assigned.join(F.broadcast(probe), assigned.cell == probe.cid)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("id").alias(id_col),
            guarded_cos(
                dot("v", "qv"), F.col("n"), F.col("qn")
            ).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array columns, accumulated in
    double left-to-right (matches DuckDB list_reduce over an ascending
    generate_series — bit-identical on both engines)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _subchunks(vec: Column, m: int, dsub: int) -> Column:
    """Split a vector into ``m`` contiguous ``dsub``-dim sub-vectors as
    an array of (sub, s) structs — one Generate input for the subspace
    explode."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.struct(
            j.cast("int").alias("sub"),
            F.slice(vec, j * dsub + 1, dsub).alias("s"),
        ),
    )


def _pq_codebook(
    emb: DataFrame,
    m: int,
    dsub: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(cid, sub, c): the m×n_codes sub-vector codebook from the
    n_codes lowest-id vectors — the SINGLE construction both the
    encoder (pq_codes) and the query LUT (pq_topk) must share, or
    codes and lookup distances silently diverge."""
    return (
        emb.filter(F.col(id_col) < n_codes)
        .select(
            F.col(id_col).alias("cid"),
            F.explode(_subchunks(F.col(vec_col), m, dsub)).alias("x"),
        )
        .select("cid", F.col("x.sub").alias("sub"), F.col("x.s").alias("c"))
    )


def pq_codes(
    emb: DataFrame,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoder (Jégou et al. 2011), deterministic
    flavor: the ``n_codes`` lowest-id vectors' sub-chunks ARE each
    subspace's codebook (data-sampled, no k-means fit — same bootstrap
    rationale as `ivf_assign`: assignment stays pure column algebra and
    exactly reproducible).  Every vector is encoded as ``m`` codebook
    indices — the 64-dim float vector compresses to m bytes, the
    memory trade that makes billion-scale ANN fit in RAM.

    Returns (id, sub, code).  Plan: one broadcast of the m×n_codes
    codebook, one fanned-out subspace explode (m rows per vector), a
    map-side min(struct) argmin per (vector, subspace) — ties break to
    the lowest code id, deterministic because the L2 folds are
    sequential (see `_l2sq`).
    """
    from ..sources.tables import fan_out

    cb = _pq_codebook(emb, m, dsub, n_codes, id_col, vec_col)
    vs = fan_out(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).select(
        "id", F.explode(_subchunks(F.col("v"), m, dsub)).alias("x")
    ).select("id", F.col("x.sub").alias("sub"), F.col("x.s").alias("s"))
    scored = vs.join(F.broadcast(cb), "sub").select(
        "id", "sub", "cid", _l2sq(F.col("s"), F.col("c")).alias("l2")
    )
    return (
        scored.groupBy("id", "sub")
        .agg(F.min(F.struct(F.col("l2"), F.col("cid"))).alias("best"))
        .select("id", "sub", F.col("best.cid").alias("code"))
    )


def pq_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance computation (ADC):
    the query precomputes its squared-L2 distance to every codebook
    entry (an m×n_codes lookup table, broadcast), and each vector's
    approximate distance is the sum of m table lookups over its codes —
    no float vector is touched at query time, the scan is
    codes-joined-to-LUT.

    The per-vector sum over the m subspace partials is assembled as a
    conditional-aggregation pivot (one non-null element per subspace
    slot) and added in fixed subspace order as PER-ROW arithmetic, so
    no parallel float partial aggregation exists anywhere in the
    lineage — approx_dist is bit-identical across engines and cluster
    layouts, and the top-k ranking is exactly hash-checkable.

    Recall vs the exact tier is measured in tests (like IVF/LSH).
    """
    codes = pq_codes(emb, m, dsub, n_codes, id_col, vec_col)
    return _adc_topk(codes, emb, query, k, m, dsub, n_codes, id_col, vec_col)


def _adc_topk(
    codes: DataFrame,
    emb: DataFrame,
    query: DataFrame,
    k: int,
    m: int,
    dsub: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC tail shared by pq_topk and ivf_pq_topk: broadcast query LUT,
    code-joined lookups, the conditional-agg pivot summed in fixed
    subspace order (no parallel float partials).  ``codes`` may be the
    full encoding or a cell-restricted subset — ONE construction, or
    the two tiers' distances silently diverge."""
    cb = _pq_codebook(emb, m, dsub, n_codes, id_col, vec_col)
    qs = query.select(
        F.explode(_subchunks(F.col(vec_col), m, dsub)).alias("x")
    ).select(F.col("x.sub").alias("sub"), F.col("x.s").alias("qs"))
    lut = qs.join(cb, "sub").select(
        "sub", "cid", _l2sq(F.col("qs"), F.col("c")).alias("qd")
    )
    parts = codes.join(
        F.broadcast(lut),
        (codes.sub == lut.sub) & (codes.code == lut.cid),
    ).select(codes.id, codes.sub, lut.qd)
    piv = parts.groupBy("id").agg(
        *[
            F.max(F.when(F.col("sub") == j, F.col("qd"))).alias(f"p{j}")
            for j in range(m)
        ]
    )
    total = piv.select(
        F.col("id").alias(id_col),
        sum(
            (F.col(f"p{j}") for j in range(1, m)), F.col("p0")
        ).alias("approx_dist"),
    )
    return total.orderBy(F.asc("approx_dist"), F.asc(id_col)).limit(k)


def semdedup(
    emb: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then deduplicate WITHIN each cluster by cosine —
    pairs the corpus-level near-dup passes miss because the texts
    differ while the meanings coincide.

    Clustering reuses `ivf_assign`'s deterministic data-sampled
    quantizer (lowest-id vectors are centroids; argmax-cosine cell,
    ties to the lowest centroid id).  Keep policy, deterministic
    greedy-by-id: a vector is dropped iff some LOWER-id vector in the
    SAME cell has cosine >= ``threshold`` with it — one survivor per
    duplicate chain, no RNG (the paper samples a random keeper).

    Returns (id, cell, keep) — integers and booleans only: the
    threshold comparison runs on bit-identical sequentially-folded
    doubles, so the DECISION is exactly hash-checkable.

    Scale shape: the all-pairs step is confined within cells — the
    paper's own cost model (O(N²/K) per cell, K sized so a cell fits
    a worker); the join is keyed by cell (the parallel axis), the
    lower/higher sides pre-projected so no vector column survives
    past the pair filter.  Reference scope: the reference has no
    embedding surface; cites SURVEY §2.13's LLM mandate.
    """
    # three consumers (both pair sides + the keep-flag join) would
    # re-run the N x K centroid assignment; checkpoint it lazily
    assigned = ivf_assign(emb, n_cells, id_col, vec_col).localCheckpoint(
        eager=False
    )
    lo = assigned.select(
        "cell",
        F.col("id").alias("id_lo"),
        F.col("v").alias("v_lo"),
        F.col("n").alias("n_lo"),
    )
    hi = assigned.select(
        "cell",
        F.col("id").alias("id_hi"),
        F.col("v").alias("v_hi"),
        F.col("n").alias("n_hi"),
    )
    dups = (
        lo.join(hi, "cell")
        .filter(F.col("id_lo") < F.col("id_hi"))
        .filter(
            guarded_cos(
                dot("v_lo", "v_hi"),
                F.col("n_lo"),
                F.col("n_hi"),
            )
            >= threshold
        )
        .select(F.col("id_hi").alias("dup_id"))
        .distinct()
    )
    return assigned.join(
        dups, assigned.id == dups.dup_id, "left"
    ).select(
        F.col("id").alias(id_col),
        "cell",
        F.col("dup_id").isNull().alias("keep"),
    )


def pq_rerank_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: PQ-ADC shortlists ``n_candidates`` by
    approximate distance (codes + lookup table, no float vectors
    touched), then the shortlist alone is re-scored with EXACT cosine
    and cut to ``k`` — the standard IVF-PQ + refine architecture
    (Jégou et al. 2011 §V; every production ANN service's shape).
    Recall approaches the exact tier at a fraction of its cost: the
    full-precision reads are O(n_candidates), not O(N).

    Returns (id, approx_dist, cos_sim) ordered by exact cosine — the
    approximate stage-1 distance rides along so callers can audit the
    re-ranking shift.  The candidate id set broadcasts into the
    re-score join (tiny by construction); both stages' floats are
    sequentially folded, so ranking hash-checks exactly.
    """
    cands = pq_topk(
        emb, query, n_candidates, m, dsub, n_codes, id_col, vec_col
    )
    q = query.select(
        F.col(vec_col).alias("qv"), norm(vec_col).alias("qn")
    )
    return (
        emb.join(F.broadcast(cands), id_col)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            "approx_dist",
            guarded_cos(
                dot(vec_col, "qv"),
                norm(vec_col),
                F.col("qn"),
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch kNN-graph construction: every vector's top-``k`` cosine
    neighbors WITHIN its LSH bucket — the index-building job behind
    semantic dedup sweeps, graph-based retrieval (HNSW seeding), and
    cluster-balance audits; the all-vectors counterpart to the
    single-query ANN tiers.

    Returns (src, dst, cos_sim, rank), both directions (kNN is a
    directed relation).  Fewer planes than the query tier (4 → 16
    buckets) trade pair volume for recall, the right default when the
    consumer is a graph that tolerates missing edges but not sparse
    neighborhoods.

    Scale shape: the self-join is keyed by bucket (never all-pairs);
    the top-k window partitions by the source vector.  At 100 TB the
    bucket column is precomputed once (a silver table bucketed on it),
    making the join co-located and shuffle-free.
    """
    from ..sources.tables import fan_out

    b = fan_out(
        emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        )
    ).select(
        "id",
        "v",
        norm("v").alias("n"),
        lsh_bucket("v", n_planes=n_planes).alias("bucket"),
    )
    lhs = b.select(
        "bucket",
        F.col("id").alias("src"),
        F.col("v").alias("v_s"),
        F.col("n").alias("n_s"),
    )
    rhs = b.select(
        "bucket",
        F.col("id").alias("dst"),
        F.col("v").alias("v_d"),
        F.col("n").alias("n_d"),
    )
    pairs = (
        lhs.join(rhs, "bucket")
        .filter(F.col("src") != F.col("dst"))
        # zero-norm guard (advice r13): a degenerate vector's cosine
        # is NaN in Spark (IEEE 0/0) but NULL in DuckDB (div-by-zero
        # -> NULL), and NaN ranks ABOVE every finite value descending
        # while NULL ranks last — so an unguarded build would hand
        # Spark a garbage top-1 edge the oracle never sees.  Dropping
        # the pair in BOTH engines (the oracle CTEs carry the same
        # predicate) makes degenerate vectors edgeless-by-construction
        # on either side.
        .filter(F.col("n_s") * F.col("n_d") != 0)
        .select(
            "src",
            "dst",
            (
                dot("v_s", "v_d")
                / (F.col("n_s") * F.col("n_d"))
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        F.desc("cos_sim"), F.asc("dst")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )


def knn_graph_delta(
    emb: DataFrame,
    old_graph: DataFrame,
    is_new: Column,
    k: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental kNN-graph maintenance — the daily-refresh shape for
    the graph silver (`incremental_near_dup_pairs`' doctrine carried
    to the INDEX itself): given the prebuilt graph of the historical
    corpus and today's batch, produce the full corpus's graph while
    recomputing ONLY the buckets today's vectors land in.

    Correctness rests on a locality property of the bucketed build: a
    vector's top-k depends solely on its bucket's MEMBERSHIP, so an
    edge whose src sits in a bucket that gained no new member is
    byte-identical in the old and new graphs (copied through,
    cos_sim/rank untouched), and every other src is re-ranked inside
    its (old + new members) bucket exactly as the from-scratch build
    would.  Output therefore EQUALS `knn_graph` over the full corpus
    — which is what the registered oracle checks, making the
    incremental path's equivalence driver-verified rather than
    assumed.

    Daily cost at 100 TB: the affected-bucket set broadcasts (a day's
    batch touches few of the 2^planes buckets), the carried edges are
    one broadcast anti-join over the old silver, and the quadratic
    pair work is confined to affected buckets' members — the full
    corpus is never re-paired.  NULL ``is_new`` coalesces to OLD (the
    shared incremental-tier contract)."""
    from ..sources.tables import fan_out

    b = fan_out(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.coalesce(is_new, F.lit(False)).alias("is_new"),
        )
    ).select(
        "id",
        "v",
        norm("v").alias("n"),
        lsh_bucket("v", n_planes=n_planes).alias("bucket"),
        "is_new",
    )
    affected = b.filter(F.col("is_new")).select("bucket").distinct()
    src_bucket = b.select(F.col("id").alias("src"), "bucket")
    carried = (
        old_graph.join(src_bucket, "src")
        .join(F.broadcast(affected), "bucket", "left_anti")
        .select("src", "dst", "cos_sim", "rank")
    )
    mem = b.join(F.broadcast(affected), "bucket")
    lhs = mem.select(
        "bucket",
        F.col("id").alias("src"),
        F.col("v").alias("v_s"),
        F.col("n").alias("n_s"),
    )
    rhs = mem.select(
        "bucket",
        F.col("id").alias("dst"),
        F.col("v").alias("v_d"),
        F.col("n").alias("n_d"),
    )
    pairs = (
        lhs.join(rhs, "bucket")
        .filter(F.col("src") != F.col("dst"))
        # zero-norm guard — identical to knn_graph's: the incremental
        # path must rebuild affected buckets exactly as the
        # from-scratch build would, guard included
        .filter(F.col("n_s") * F.col("n_d") != 0)
        .select(
            "src",
            "dst",
            (
                dot("v_s", "v_d")
                / (F.col("n_s") * F.col("n_d"))
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    rebuilt = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )
    return carried.unionByName(rebuilt)


def _pagerank_headroom(damping_pct: int, n_nodes: int, scale: int) -> None:
    """The int64 headroom of `integer_pagerank`, enforced on both paths:
    the largest in-flight int64 is damping_pct * (total mass) =
    d * N * scale inside the contribution sum; with non-ANSI configs
    exceeding 2^63 would WRAP silently and corrupt ranks."""
    if damping_pct * n_nodes * scale >= 2**63:
        raise ValueError(
            f"integer_pagerank overflow: damping_pct*n_nodes*scale = "
            f"{damping_pct}*{n_nodes}*{scale} >= 2^63; lower `scale` "
            f"(1e8 holds to ~1e9 nodes) to keep the recurrence in int64"
        )


def integer_pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 10,
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
    id_col: str = "vec_id",
) -> DataFrame:
    """PageRank in EXACT INTEGER arithmetic: ranks are int64 mass units
    (``scale`` per node at t=0) and every step is integer division and
    integer sums, so the result is bit-identical under any partitioning,
    aggregation order, or engine (a float PageRank compounds ulp drift
    across iterations and can never be exactly hash-checked).

    Recurrence (all floor divisions on non-negative ints):
        R_0(v)     = scale
        R_{t+1}(v) = (100-d)*scale//100
                     + d * SUM_{u->v}( R_t(u) // outdeg(u) ) // 100
    with outdeg over ALL edges and only edges between ``nodes`` ids
    contributing.  Nodes without out-edges leak their mass (the
    dropped-dangling variant).  d * N * scale must stay < 2^63 (at
    scale=1e12 that holds to N ~ 10^5 nodes) or a ValueError is raised.

    Under the `_collect_if_small` gate (edges and node ids) this starts
    TWO jobs, one fetch each, and runs the same int64 recurrence in
    numpy on the driver, so the ranks are bit-identical to the Spark
    loop's; the result is a local frame.  Above the gate each iteration
    is one edges-keyed join + one keyed integer sum.

    Returns (id_col, pr) with pr the exact BIGINT mass."""
    from .dedup import _collect_if_small

    base = (100 - damping_pct) * scale // 100
    e = edges.select("src", "dst")
    ids = nodes.select(F.col(id_col).alias("__id"))
    small_e = _collect_if_small(e)
    small_n = None if small_e is None else _collect_if_small(ids)
    if small_n is not None:
        return _pagerank_driver(
            ids, small_e, small_n, iters, scale, damping_pct, base, id_col
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    # checkpoint the node frame too: it re-enters the plan every
    # iteration (the left join restoring zero-in-degree nodes), and
    # without this each segment re-scans the source parquet; the
    # headroom count materializes it
    node_ids = ids.localCheckpoint(eager=False)
    _pagerank_headroom(damping_pct, node_ids.count(), scale)
    ranks = node_ids.withColumn("pr", F.lit(scale).cast("long"))
    for it in range(iters):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["__id"])
            .select(
                F.col("dst").alias("__id"),
                F.call_function("div", F.col("pr"), F.col("__deg")).alias(
                    "__c"
                ),
            )
            .groupBy("__id")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            node_ids.join(contrib, "__id", "left")
            .select(
                "__id",
                (
                    F.lit(base)
                    + F.call_function(
                        "div",
                        F.lit(damping_pct) * F.coalesce("__s", F.lit(0)),
                        F.lit(100),
                    )
                ).cast("long").alias("pr"),
            )
        )
        # lineage cut every 3 iterations keeps the join plan shallow
        if it % 3 == 2:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("__id").alias(id_col), "pr")


def _pagerank_driver(
    ids: DataFrame, small_e, small_n, iters, scale, damping_pct, base, id_col
) -> DataFrame:
    """`integer_pagerank`'s recurrence in int64 numpy over the fetched
    edges and node ids.  A node id listed m times counts m times, as
    it does in the joins: m rank rows, each sending its share."""
    import numpy as np
    import pyarrow as pa

    node_col = small_n.column("__id").to_numpy()
    _pagerank_headroom(damping_pct, len(node_col), scale)
    uniq, mult = np.unique(node_col, return_counts=True)
    src = small_e.column("src").to_numpy()
    dst = small_e.column("dst").to_numpy()
    _, src_pos, outdeg = np.unique(
        src, return_inverse=True, return_counts=True
    )
    # outdegree over ALL edges; then only edges inside the node set
    # contribute (the inner join on src, the left join on dst)
    keep = np.isin(src, uniq) & np.isin(dst, uniq)
    si = np.searchsorted(uniq, src[keep])
    di = np.searchsorted(uniq, dst[keep])
    deg = outdeg[src_pos[keep]]
    ranks = np.full(len(uniq), scale, dtype=np.int64)
    for _ in range(iters):
        s = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(s, di, ranks[si] // deg * mult[si])
        ranks = base + damping_pct * s // 100
    schema = ids.toDF(id_col).schema.add("pr", "long")
    out = {id_col: np.repeat(uniq, mult), "pr": np.repeat(ranks, mult)}
    return ids.sparkSession.createDataFrame(pa.table(out), schema)


def ivf_pq_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the composed architecture real vector stores ship
    (FAISS IndexIVFPQ) — the coarse quantizer restricts the search to
    ``nprobe`` cells, and within them distance is PQ-ADC table lookups
    over the byte codes; no full-precision vector is touched at query
    time AND only ~nprobe/n_cells of the codes are scanned.

    Composes the existing deterministic tiers: `ivf_assign` cells +
    `pq_codes` codes + the broadcast query LUT.  At scale both
    assignments are precomputed silver tables partitioned by cell, so
    a query reads nprobe partitions of an m-byte-per-vector table —
    the memory/IO geometry that serves billion-vector corpora from a
    handful of machines.

    Returns (id, approx_dist) like `pq_topk`; the same pivot +
    fixed-order row arithmetic keeps distances exactly reproducible.
    """
    assigned = ivf_assign(emb, n_cells, id_col, vec_col).select("id", "cell")
    probe = _probe_cells(emb, query, n_cells, nprobe, id_col, vec_col)
    in_cells = pq_codes(emb, m, dsub, n_codes, id_col, vec_col).join(
        assigned.join(F.broadcast(probe), assigned.cell == probe.cid)
        .select("id"),
        "id",
    )
    return _adc_topk(
        in_cells, emb, query, k, m, dsub, n_codes, id_col, vec_col
    )


def random_projection(
    emb: DataFrame,
    m: int = 16,
    dim: int = 64,
    tag: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``m`` dims: each
    output coordinate is the input dotted with a deterministic +-1
    sign row, scaled by 1/sqrt(m) (Achlioptas 2003's database-friendly
    JL — sign matrices preserve pairwise distances within (1 +- eps)
    like Gaussian ones, with integer signs).  The cheap dimensionality
    cut before ANN indexing: 4x fewer floats per vector at a bounded
    distance distortion, measured in tests.

    The sign matrix is ENGINE-PORTABLE: sign(j, i) = parity of the
    first hex digit of md5('<tag>:<j>:<i>') — both engines derive the
    identical matrix, so projections hash-check exactly.  It is built
    once in a 1-row broadcast frame (16x64 literals), never
    per-vector.

    Output: (id, dim, value) long format, value folded left-to-right
    over ascending i (the repo's sequential-`dot` contract) then
    divided by the exact sqrt(m).

    Scale shape: narrow map stage over the vectors — no shuffle; the
    long-format explode multiplies rows by m (callers wanting packed
    arrays group back or consume `transform` form directly)."""
    # The sign CONTRACT is md5-parity of '<tag>:<j>:<i>' — the oracle
    # derives it in SQL; here the same md5 runs at plan-BUILD time
    # (hashlib) and the matrix ships as plain literals.  An earlier
    # form built 1024 nested md5/conv Column expressions instead, and
    # Catalyst constant-folding that tree cost ~9 s of DRIVER plan
    # time on every query build — identical values, 1000x the price.
    import hashlib

    def sign(j: int, i: int) -> float:
        digit = int(hashlib.md5(f"{tag}:{j}:{i}".encode()).hexdigest()[0], 16)
        return 1.0 if digit % 2 == 0 else -1.0

    matrix = [[sign(j, i) for i in range(dim)] for j in range(m)]
    # the sign matrix as a FOLDABLE nested-array literal: Catalyst
    # constant-folds CreateArray-of-CreateArray of literals into one
    # static ArrayData, so element_at below is an in-place lookup into
    # a shared object.  The earlier broadcast-1-row-frame + crossJoin
    # form physically copied the full 16x64 matrix (8 KB) onto EVERY
    # exploded (vector, dim) row — at m=16 that was ~94% of the bytes
    # flowing through the Generate (r14 optimization round, guide
    # §2.3 "shuffle fewer bytes / project before the exchange":
    # steady-state noop-sink 1.5-2.0 s -> 0.53-0.57 s per run at
    # sf0.1 in a head-to-head session; min-of-2 harness 3.27 s ->
    # 1.74 s).
    # single parse (see lit_double_array) — built element-wise this
    # nested literal alone is ~1 000 py4j roundtrips of driver time
    signs_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{s!r}D" for s in row) + ")"
            for row in matrix
        )
        + ")"
    )
    scale = float(m) ** 0.5
    from ..sources.tables import fan_out

    base = fan_out(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    # explode the DIM INDEX first, then fold once per (vector, dim)
    # row: putting the 16-fold transform inside the Generate input
    # would re-evaluate the whole array per exploded row (~16x — the
    # no-codegen higher-order-function pitfall documented in the
    # verify recipe; measured 12.2 s -> this form removes it)
    ex = base.select(
        "id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("dim"),
    )
    raw = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.element_at(signs_lit, F.col("dim") + 1),
            lambda x, s: x * s,
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return ex.select(
        F.col("id").alias(id_col),
        F.col("dim").cast("int").alias("dim"),
        (raw / F.lit(scale)).alias("value"),
    )


def write_ivf_silver(
    emb: DataFrame,
    out_dir: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF assignment as the cell-partitioned silver
    table the ivf_topk docstrings promise: one Hive-layout
    ``cell=<k>/`` directory per inverted list, so a probe reads ONLY
    its nprobe partitions (verified by partition pruning in the scan —
    see tests/test_plan_quality.py).  At 100 TB this write happens
    once per index build; every query after it touches nprobe/n_cells
    of the data by construction."""
    assigned = ivf_assign(emb, n_cells, id_col, vec_col)
    assigned.select(
        F.col("id").alias(id_col), "v", "n", "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(out_dir)


def probe_ivf_silver(
    spark,
    out_dir: str,
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the silver table: coarse-probe the centroids, scan only
    the probed ``cell=`` partitions (the IN-filter prunes at the file
    index, no data read outside them), exact cosine within."""
    silver = read_parquet(spark, out_dir)
    probe = _probe_cells(emb, query, n_cells, nprobe, id_col, vec_col)
    q = query.select(
        F.col(vec_col).alias("qv"), norm(vec_col).alias("qn")
    )
    return (
        silver.join(F.broadcast(probe), silver.cell == probe.cid)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            guarded_cos(
                dot("v", "qv"), F.col("n"), F.col("qn")
            ).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def hard_negatives(
    emb: DataFrame,
    n_anchors: int = 8,
    k: int = 5,
    dup_threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    ``k`` MOST similar vectors that are NOT near-duplicates — cosine
    below ``dup_threshold`` (a near-dup is a false negative that
    poisons the contrastive loss; the classic mining recipe keeps the
    hardest true negatives just under the dup bar).

    Returns (anchor_id, vec_id, cos_sim, rank).  Anchors here are the
    ``n_anchors`` lowest-id vectors (deterministic, oracle-checkable);
    production mines per training batch.

    Scale shape: the anchor frame broadcasts (one corpus scan scores
    all anchors at once — anchors x N work, never N x N); ranking
    windows partition by anchor, the parallel axis.  At billions of
    vectors the candidate set per anchor comes from the ANN tiers
    (ivf_topk / lsh buckets) instead of the full scan — same
    filter-and-rank tail."""
    from pyspark.sql import Window

    from ..sources.tables import fan_out

    anchors = emb.filter(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("av"),
        norm(vec_col).alias("an"),
    )
    base = fan_out(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(vec_col).alias("n"),
        )
    )
    scored = (
        base.crossJoin(F.broadcast(anchors))
        .filter(F.col("id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("id").alias(id_col),
            guarded_cos(
                dot("v", "av"), F.col("n"), F.col("an")
            ).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") < dup_threshold)
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts (+ degree and local clustering
    coefficient) over the UNDIRECTED closure of a directed edge list —
    the standard corpus-graph cohesion diagnostic over ``knn_graph``'s
    output: tightly-clustered neighborhoods (high clustering) mark
    paraphrase pockets and template families that near-dup sweeps
    should re-visit, while high-degree/zero-triangle nodes are hub
    artifacts of the LSH bucketing.

    Algorithm is the DEGREE-ORIENTED node-iterator (the MapReduce
    classic): orient every undirected edge from its (degree, id)-
    smaller endpoint to the larger, emit wedges only from each node's
    OUT-neighbors, and close each wedge against the canonical edge
    set.  The orientation is what makes this survive a power-law graph
    at 100 TB: every triangle is generated exactly once at its unique
    two-out-edge apex, and a node's wedge fan-out is bounded by its
    OUT-degree — O(sqrt(m)) under the orientation — so the hub that
    would explode the naive neighbor-pair join (deg^2 wedges) emits
    almost none.  All joins are node- or edge-keyed shuffles; counts
    are exact integers end to end.

    Returns (node, degree, n_triangles, clustering) for every node
    with at least one undirected edge; clustering = 2T / deg(deg-1)
    (0.0 for degree-1 nodes).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ed = und.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("da")),
        "a",
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("db")),
        "b",
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    wedges = (
        orient.select("u", F.col("v").alias("x"))
        .join(orient.select("u", F.col("v").alias("y")), "u")
        .filter(F.col("x") < F.col("y"))
    )
    tri = wedges.join(
        und, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b"))
    ).select("u", "x", "y")
    tri_nodes = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tri_nodes, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def _cos_desc_key(cos_of: dict):
    """Sort key replicating Spark's ``ORDER BY cos_sim DESC, vec_id``
    on the driver INCLUDING the NaN contract: Spark (and DuckDB) rank
    NaN above every finite double in descending order, while Python's
    sorted() with raw NaN keys produces arbitrary placement
    (review-found — a zero-norm vector's 0/0 cosine would silently
    desync the driver-side beam from the relational walk)."""
    import math

    def key(i):
        c = cos_of[i]
        return (0, 0.0, i) if math.isnan(c) else (1, -c, i)

    return key


def knn_graph_search(
    emb: DataFrame,
    graph: DataFrame,
    query: DataFrame,
    k: int = 10,
    beam: int = 4,
    steps: int = 4,
    entry_ids: "list[int] | None" = None,
    n_planes: int = 4,
) -> DataFrame:
    """Greedy beam search over a prebuilt kNN graph — the navigation
    tier that graph-based ANN (HNSW's base layer) runs at query time.

    Deterministic greedy best-first with a fixed step budget: start
    from ``entry_ids`` — default ONE ENTRY PER LSH BUCKET (the lowest
    vec_id; ``n_planes`` must match the graph build), because the
    bucketed build yields one disconnected component per bucket.  Each
    round expands the current beam's out-edges, scores unvisited
    candidates by cosine to the query (zero-norm vectors excluded),
    and keeps the top-``beam`` of ALL visited nodes (ties to the lower
    vec_id).  After ``steps`` rounds the answer is the top-``k`` of the
    visited set, (vec_id, cos_sim) in that order.

    Under the `_collect_if_small` gate (graph and scores) this starts
    one job for the graph and one scores pass, and walks on the driver
    with the same cosines, ordering (`_cos_desc_key`) and break
    conditions as the Spark loop, so the answer is identical; the
    result is a local frame.  Above the gate each round is a bounded
    candidate collect plus an isin probe of the checkpointed scores."""
    from ..sources.tables import fan_out
    from .dedup import _collect_if_small

    # fan_out splits the single-row-group parquet across cores and
    # norms are computed once per vector, not per pair
    base = fan_out(
        emb.select("vec_id", F.col("embedding").alias("v"))
    ).select(
        "vec_id",
        "v",
        norm("v").alias("n"),
        lsh_bucket("v", n_planes=n_planes).alias("bucket"),
    )
    q = query.select(F.col("embedding").alias("qv")).select(
        "qv", norm("qv").alias("qn")
    )
    small_g = _collect_if_small(graph.select("src", "dst"))
    if small_g is not None:
        # every vector's bucket (for the entries) and its guarded cosine
        # (NULL for a zero-norm vector, which the walk never scores)
        cos = guarded_cos(dot("v", "qv"), F.col("n"), F.col("qn"))
        pairs = base.crossJoin(F.broadcast(q)).select(
            "vec_id", "bucket", cos.alias("cos_sim")
        )
        small_s = _collect_if_small(pairs)
        if small_s is not None:
            top = _walk_driver(small_g, small_s, k, beam, steps, entry_ids)
            return emb.sparkSession.createDataFrame(
                top, pairs.select("vec_id", "cos_sim").schema
            )
    # one corpus pass, materialized: every round's probe hits the
    # (vec_id, cos_sim) projection instead of re-scanning embeddings
    scores = (
        base.crossJoin(F.broadcast(q))
        # zero-norm guard (advice r12): dot/(n*qn) on a zero-norm
        # vector is NaN, which Spark and DuckDB both rank ABOVE every
        # finite value descending — a garbage vector would top every
        # beam.  brute_force_topk's guarded cosine() yields NULL
        # (ranks last); excluding the rows here gives the same
        # effective ranking for any corpus with >= k finite vectors.
        .filter(F.col("n") * F.col("qn") != 0)
        .select(
            "vec_id",
            (
                dot("v", "qv")
                / (F.col("n") * F.col("qn"))
            ).alias("cos_sim"),
        )
        .localCheckpoint()
    )
    # driver-side score cache (bounded: one float per visited id), so
    # each round is two single-stage jobs — collect the bounded
    # candidate-id set, then scan scores once with an isin filter;
    # `scores` is a checkpoint WITHOUT size statistics, so a join
    # would sort-merge the whole score matrix per round.  Ids that the
    # zero-norm guard dropped from `scores` simply never come back
    # from the isin scan.
    if entry_ids is None:
        ids0 = sorted(
            int(r["vec_id"])
            for r in base.groupBy("bucket")
            .agg(F.min("vec_id").alias("vec_id"))
            .collect()
        )
    else:
        ids0 = sorted({int(e) for e in entry_ids})
    rows0 = scores.filter(F.col("vec_id").isin(ids0)).collect()
    cos_of = {int(r["vec_id"]): r["cos_sim"] for r in rows0}
    visited = set(cos_of)
    beam_ids = sorted(visited)
    for _ in range(steps):
        cands = {
            int(r["dst"])
            for r in graph.filter(F.col("src").isin(beam_ids))
            .select("dst")
            .collect()
        } - visited
        if not cands:
            break  # frontier exhausted: further rounds are no-ops
        srows = scores.filter(
            F.col("vec_id").isin(sorted(cands))
        ).collect()
        if not srows:
            break  # every new candidate was a guarded zero-norm row
        for r in srows:
            cos_of.setdefault(int(r["vec_id"]), r["cos_sim"])
        visited |= {int(r["vec_id"]) for r in srows}
        beam_ids = sorted(visited, key=_cos_desc_key(cos_of))[:beam]
    return (
        scores.filter(F.col("vec_id").isin(sorted(visited)))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _walk_driver(small_g, small_s, k, beam, steps, entry_ids):
    """`knn_graph_search`'s Spark-loop walk over the fetched graph and
    (vec_id, bucket, cos_sim) rows: entries, break conditions,
    beam ranking and the final top-``k`` replay it step for step, with
    the out-edges of a beam read from the src-sorted edge arrays
    (EDBT 2020's case for keeping top-k search state on the driver).
    Returns the top-``k`` as (vec_id, cos_sim) tuples, best first."""
    import numpy as np

    src = small_g.column("src").to_numpy()
    order = np.argsort(src, kind="stable")
    src, dst = src[order], small_g.column("dst").to_numpy()[order]
    score = {
        int(i): c
        for i, c in zip(
            small_s.column("vec_id").to_pylist(),
            small_s.column("cos_sim").to_pylist(),
        )
        if c is not None
    }
    if entry_ids is None:
        mins = small_s.group_by("bucket").aggregate([("vec_id", "min")])
        ids0 = sorted(int(i) for i in mins.column("vec_id_min").to_pylist())
    else:
        ids0 = sorted({int(e) for e in entry_ids})
    cos_of = {i: score[i] for i in ids0 if i in score}
    visited = set(cos_of)
    beam_ids = sorted(visited)
    for _ in range(steps):
        lo = np.searchsorted(src, beam_ids, side="left")
        hi = np.searchsorted(src, beam_ids, side="right")
        cands = {int(d) for a, b in zip(lo, hi) for d in dst[a:b]} - visited
        if not cands:
            break  # frontier exhausted: further rounds are no-ops
        new = {c: score[c] for c in cands if c in score}
        if not new:
            break  # every new candidate was a guarded zero-norm row
        cos_of.update(new)
        visited |= set(new)
        beam_ids = sorted(visited, key=_cos_desc_key(cos_of))[:beam]
    top = sorted(visited, key=_cos_desc_key(cos_of))[:k]
    return [(i, cos_of[i]) for i in top]


def batch_cosine_scores(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """The (qid, vec_id, cos_sim) score matrix for a batch of query
    vectors, materialized (localCheckpoint) after ONE corpus pass:
    fan_out splits the single-row-group parquet across cores, norms
    are computed once per vector/query (never per pair), and the
    query side broadcasts.  Shared by `knn_graph_search_batch` and
    any consumer that also needs brute-force truth over the same
    queries (`graph_recall_batch`) — pass it in so the corpus pays
    one cosine pass, not one per consumer (review-found)."""
    from ..sources.tables import fan_out

    base = fan_out(
        emb.select("vec_id", F.col("embedding").alias("v"))
    ).select("vec_id", "v", norm("v").alias("n"))
    qn = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
    ).select("qid", "qv", norm("qv").alias("qn"))
    return (
        base.crossJoin(F.broadcast(qn))
        # zero-norm guard (advice r12) — see knn_graph_search: NaN
        # scores would rank above every finite candidate; exclude the
        # zero-denominator pairs so the batch tier agrees with the
        # guarded brute tier on degenerate vectors.
        .filter(F.col("n") * F.col("qn") != 0)
        .select(
            "qid",
            "vec_id",
            (
                dot("v", "qv")
                / (F.col("n") * F.col("qn"))
            ).alias("cos_sim"),
        )
        .localCheckpoint()
    )


def knn_graph_search_batch(
    emb: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 4,
    steps: int = 4,
    n_planes: int = 4,
    scores: DataFrame | None = None,
    walk=None,
) -> DataFrame:
    """SET-ORIENTED graph-probe ANN (r11 verdict Next #3): walk EVERY
    query vector simultaneously, one beam step per relational round —
    the shape the training-data consumers of ANN actually run
    (hard-negative mining, retrieval eval: thousands of queries, not
    one).  Per-query semantics are EXACTLY `knn_graph_search`'s
    (same entries, beam ranking, tie-breaks, step budget, final
    top-k) — pinned by test — but the driver holds ZERO per-query
    state: the walk state lives in two DataFrames keyed by the query
    id, (qid, vec_id) visited and beam, and each round is one
    qid-keyed join against the graph silver plus one per-qid window.

    ``queries`` is (vec_id, embedding); its vec_id becomes ``qid`` in
    the output (qid, vec_id, cos_sim, rank), rank 1..k per qid.

    Scale shape: queries broadcast against the corpus for the one
    scores pass (Q small by definition — it is a batch of probes);
    every round's candidate expansion is a graph join keyed on src;
    visited stays <= Q x (entries + steps*beam*k_graph) rows.
    Lineage is cut with localCheckpoint per round (the iterative-
    algorithm precedent: integer_pagerank), so `steps` rounds never
    stack a deep plan.  The early-exhaustion break is per-query by
    construction: a query whose frontier dried up simply adds no new
    (qid, vec_id) rows in later rounds.

    ``walk`` (r14): a prebuilt ``_batch_walk_visited`` result
    (scores, visited, w) — the session-memoized walk the sibling
    faces (recall eval, convergence report) share, so one session's
    three consumers pay ONE walk instead of three."""
    scores, visited, w = walk if walk is not None else _batch_walk_visited(
        emb, graph, queries, beam=beam, steps=steps,
        n_planes=n_planes, scores=scores,
    )
    return (
        scores.join(F.broadcast(visited), ["qid", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "cos_sim", "rank")
    )


def _batch_walk_visited(
    emb: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    beam: int = 4,
    steps: int = 4,
    n_planes: int = 4,
    scores: DataFrame | None = None,
):
    """The batch walk's shared core: returns (scores, visited, w)
    where ``visited`` is the final (qid, vec_id, added_round) set —
    added_round 0 for the shared entry points, i for ids first seen
    in round i — and ``w`` is the per-qid ranking window.  The round
    tag costs one int column on the frontier-sized state and changes
    NO walk decision (joins/anti-joins key on (qid, vec_id) alone);
    `knn_graph_search_batch` ranks over it, `knn_graph_convergence`
    reads the tags to report when each query's answer actually
    stopped improving (r12 verdict Next #5: measure the steps=8
    budget instead of assuming it)."""
    from pyspark.sql import Window

    from ..sources.tables import fan_out

    # the score matrix is one corpus pass (see batch_cosine_scores);
    # callers that also need brute-force truth pass a prebuilt one
    if scores is None:
        scores = batch_cosine_scores(emb, queries)
    qids = queries.select(F.col("vec_id").alias("qid"))
    entries = (
        fan_out(
            emb.select(
                lsh_bucket(
                    "embedding", n_planes=n_planes
                ).alias("bucket"),
                "vec_id",
            )
        )
        .groupBy("bucket")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id")
    )
    visited = (
        qids.crossJoin(entries)
        .withColumn("added_round", F.lit(0))
        .localCheckpoint()
    )
    beam_df = visited.select("qid", "vec_id")
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    n_visited = visited.count()
    for i in range(1, steps + 1):
        # walk state (beam, visited) stays frontier-sized — broadcast
        # it against the graph and the score matrix so no round ever
        # shuffles corpus-sized data
        cands = (
            graph.join(
                F.broadcast(beam_df),
                beam_df["vec_id"] == graph["src"],
                "inner",
            )
            .select("qid", graph["dst"].alias("vec_id"))
            .distinct()
        )
        new = cands.join(
            F.broadcast(visited), ["qid", "vec_id"], "left_anti"
        ).withColumn("added_round", F.lit(i))
        # BOTH state frames are checkpointed every round: each is
        # frontier-sized (thousands of rows), and an un-cut beam plan
        # would re-execute its scores-window lineage inside every
        # broadcast build that references it — the profiled cost was
        # plan re-execution, not the checkpoints themselves
        grown = visited.unionByName(new).localCheckpoint()
        # global early exit (r13, justified by graph_convergence_rounds:
        # at the gate scale every query's growth stops by round 6 of 8):
        # a round that added NO new (qid, vec_id) anywhere leaves
        # visited AND the next beam identical, so every later round is
        # a provable no-op — the batch sibling of the single-walk
        # `if not cands: break`.  One count per round on the
        # just-checkpointed frontier-sized state.
        n_grown = grown.count()
        if n_grown == n_visited:
            break
        n_visited = n_grown
        visited = grown
        beam_df = (
            scores.join(F.broadcast(visited), ["qid", "vec_id"])
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= beam)
            .select("qid", "vec_id")
            .localCheckpoint()
        )
    return scores, visited, w


def knn_graph_convergence(
    emb: DataFrame,
    graph: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 4,
    steps: int = 4,
    n_planes: int = 4,
    scores: DataFrame | None = None,
    walk=None,
) -> DataFrame:
    """Per-query convergence report for the batch graph walk (r12
    verdict Next #5): for each qid,

    - ``last_growth_round`` — the last round that added ANY new id to
      the qid's visited set (0 = the entry set was already closed);
      rounds beyond it are per-query no-ops, so its distribution is
      the measured upper bound on a useful ``steps`` budget;
    - ``topk_stable_round`` — the round by which every member of the
      FINAL top-k had been visited: the answer never changes after
      it, so this is the round budget that would have sufficed;
    - ``n_visited`` — the qid's total visited-set size (the walk's
      per-query cost proxy).

    Pure integers over the identical tagged walk state the search
    face ranks (same entries, beam, ties, budget — one shared core,
    so the report can never drift from the search), making the face
    exactly hash-checkable with zero float surface.  ``walk`` as in
    :func:`knn_graph_search_batch` — the shared per-session walk."""
    scores, visited, w = walk if walk is not None else _batch_walk_visited(
        emb, graph, queries, beam=beam, steps=steps,
        n_planes=n_planes, scores=scores,
    )
    topk = (
        scores.join(F.broadcast(visited), ["qid", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    growth = visited.groupBy("qid").agg(
        F.max("added_round").alias("last_growth_round"),
        F.count(F.lit(1)).alias("n_visited"),
    )
    stable = topk.groupBy("qid").agg(
        F.max("added_round").alias("topk_stable_round")
    )
    return growth.join(stable, "qid").select(
        "qid",
        F.col("last_growth_round").cast("int").alias("last_growth_round"),
        F.col("topk_stable_round").cast("int").alias("topk_stable_round"),
        F.col("n_visited").cast("long").alias("n_visited"),
    )
