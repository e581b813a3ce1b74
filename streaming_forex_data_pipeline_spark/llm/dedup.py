"""Deduplication operators for LLM-data pipelines.

Exact dedup (hash-groupBy) and MinHash/LSH near-dup live here. The
correctness tier (oracle-checked) covers exact + token-Jaccard; MinHash
banding is the scale path for all-pairs near-dup (O(N) buckets instead
of O(N²) pairs).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import md5_fingerprint

# target rows per edge partition for the Spark CC loop (two BIGINTs a
# row, ~2M rows ~ 32 MB): the symmetric edge list inherits its
# partition count from whatever the upstream pair emitter produced, and
# every propagation round re-scans it — coalescing to a count derived
# from the MEASURED edge count keeps per-round fixed stage cost
# proportional to the data instead of the session default.  coalesce()
# is narrow — no shuffle is added.
_CC_EDGE_ROWS_PER_PARTITION = 2_000_000


def _broadcast_rows(df: DataFrame) -> int:
    """Rows of ``df``'s schema that fit under the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (read on every call), at
    Spark's own per-row size estimate (8 bytes + each column's default
    size); 0 when broadcasting is disabled."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    row_bytes = 8 + df._jdf.schema().defaultSize()
    return max(conf.autoBroadcastJoinThreshold(), 0) // row_bytes


def _collect_if_small(df: DataFrame) -> "pa.Table | None":
    """The driver-finish gate of the iterative graph loops: a frame
    small enough that Spark would broadcast it (at most
    `_broadcast_rows` rows) is small enough to finish on the driver.
    Returns its rows as an Arrow table, or None above the gate or when
    the threshold is <= 0.  One job does both the size check and the
    fetch: ``limit(cap + 1)`` is collected and kept only if it came
    back with at most ``cap`` rows."""
    cap = _broadcast_rows(df)
    if cap <= 0:
        return None
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def exact_duplicate_groups(docs: DataFrame, text: str = "text") -> DataFrame:
    """Exact dedup: group by normalized-content hash; one shuffle on the
    hash key with map-side partial counts."""
    return (
        docs.withColumn("fingerprint", md5_fingerprint(text))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def dedup_exact(docs: DataFrame, text: str = "text") -> DataFrame:
    """Keep-first per content hash (lowest doc_id wins)."""
    w = Window.partitionBy(md5_fingerprint(text)).orderBy("doc_id")
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def token_set(text: str = "text") -> Column:
    """Distinct lowercase whitespace tokens — the unigram shingle set."""
    return F.array_distinct(F.split(F.lower(F.trim(F.col(text))), r"\s+"))


def jaccard(a: Column, b: Column) -> Column:
    """Token-set Jaccard similarity |A∩B| / |A∪B|."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(0.0)


def minhash_band_buckets(
    docs: DataFrame,
    text: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    exact_set_key: bool = False,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``n_hashes/bands`` rows; docs sharing any band-hash are candidate
    near-dups. Emits (band, band_hash, doc_id) — a groupBy on
    (band, band_hash) yields candidate clusters with one shuffle,
    avoiding the O(N²) pair join at scale.

    Plan-shape notes (each worth ~7× here, measured at sf0.1):

    - The base token-hash array ``__h`` (and the set key) is computed
      IN the fan-out projection, so the exchange materializes it —
      every downstream min-fold then reads an 8-byte long array.
      Defining it one select later lets CollapseProject inline the
      string-hash transform into all n_hashes folds (higher-order
      expressions get neither codegen nor subexpression elimination,
      so that re-runs the tokenizer+hash 32×: 2.9s vs 0.4s).
    - Each min-fold family feeds exactly ONE band hash (no
      intermediate full-signature array that per-band slices would
      re-inline ``bands`` times).

    ``exact_set_key=True`` (the jaccard==1 tier) keys candidacy on the
    sorted token-SET hash ALONE and skips the minhash folds entirely
    (r14 optimization round).  At threshold 1.0 the minhash component
    of the band key is redundant: identical sets agree on the set hash
    (candidates kept), different sets disagree on it (candidates
    dropped before any minhash could matter), and the exact-Jaccard
    verification downstream removes the ~2^-64 set-hash collisions —
    so the emitted PAIR set after verification is provably identical
    while the CPU-heavy 32-fold signature pass (the dominant cost of
    the threshold-1.0 tier, ~2.5 s at sf0.1) disappears.  One band row
    per doc regardless of ``bands``: every band hash would be the same
    key, and the bands>1 caller dedups pairs anyway."""
    rows_per_band = n_hashes // bands
    from ..sources.tables import fan_out

    toks = token_set(text)
    if exact_set_key:
        # no families, no __h: the set hash IS the band key
        base = fan_out(
            docs.select(
                "doc_id", F.xxhash64(F.sort_array(toks)).alias("__sk")
            )
        )
        return base.select(
            "doc_id",
            F.lit(0).alias("band"),
            F.col("__sk").alias("band_hash"),
        )
    # the fan-out exchange both spreads the CPU-heavy folds across
    # cluster parallelism (single-row-group scans are unsplittable) and
    # materializes __h (see docstring)
    base = fan_out(
        docs.select(
            "doc_id",
            F.transform(toks, lambda t: F.xxhash64(t)).alias("__h"),
        )
    )
    # one SQL parse per BAND instead of ~10 py4j Column calls per
    # hash family (r14 optimization round, driver-side construction
    # cost); the parsed tree — xxhash64(array(array_min(transform(
    # __h, h -> xxhash64(h, i))), ...)) — is identical to the
    # Column-API form, including the lambda variable name
    def family(i: int) -> str:
        return f"array_min(transform(__h, h -> xxhash64(h, {i})))"

    bhs = [
        F.expr(
            "xxhash64(array("
            + ",".join(
                family(i)
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            )
            + "))"
        )
        for b in range(bands)
    ]
    return base.select(
        "doc_id", F.posexplode(F.array(*bhs)).alias("band", "band_hash")
    )


def near_duplicate_pairs(
    docs: DataFrame, text: str = "text", threshold: float = 0.7,
    n_hashes: int = 32, bands: int = 8,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: band buckets produce candidates;
    exact Jaccard verifies.

    Candidate generation: groupBy (band, band_hash) -> sorted doc_id
    set per bucket -> ELEMENT-parallel pair explosion (posexplode +
    tail slice), so a single giant bucket cannot serialize its O(k²)
    work.  Each signature is computed once (no bucket self-join
    re-evaluating the 32-hash expression on both sides); emitted work
    is bounded by Σ k_bucket², not N².  Tune `bands`/`n_hashes` to the
    target threshold via the S-curve midpoint ≈ (1/bands)^(bands/n_hashes).
    """
    buckets = minhash_band_buckets(
        docs, text, n_hashes, bands, exact_set_key=threshold >= 1.0
    )
    ids = F.sort_array(F.collect_set("doc_id"))
    sc = docs.sparkSession.sparkContext
    # The O(k²) in-bucket pair explosion is the skew hot spot: template
    # corpora put most candidates in a handful of huge buckets, so a
    # per-BUCKET explosion serializes on the largest k.  Explode per
    # ELEMENT instead — each (bucket, position) row emits pairs with its
    # tail slice — and repartition the element rows, so even a single
    # giant bucket's k² work spreads across all cores.  Sorted ids make
    # doc_a < doc_b structural; shuffle payload is bounded by Σ k·|ids|.
    pairs = (
        buckets.groupBy("band", "band_hash")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.posexplode("ids").alias("i", "doc_a"), F.col("ids"))
        .repartition(sc.defaultParallelism)
        .select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("doc_b"),
        )
    )
    if bands > 1:
        # a pair colliding in several bands is emitted once per band;
        # with a single band no duplicates are possible -> skip the
        # dedup shuffle entirely
        pairs = pairs.distinct()
    return _verify_exact_jaccard(docs, pairs, text, threshold)


def _verify_exact_jaccard(
    docs: DataFrame, pairs: DataFrame, text: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs —
    the tail shared by the full and incremental pipelines (one
    construction, or the incremental path silently verifies pairs
    under a different contract than the full path its property test
    compares against).

    NOTE: toks deliberately re-derive from the parquet scan (narrow,
    pushed-down) instead of sharing the signature path's fan-out
    exchange — routing them through it was measured SLOWER at sf0.1
    (shuffling corpus-wide token arrays costs more than re-running the
    tokenizer off the columnar scan, and the planner did not collapse
    the exchanges into a ReusedExchange).  At threshold >= 1.0 the
    band keys already mix in the token-set hash, so band-collision
    false candidates were never emitted — no prefilter joins needed.
    No forced broadcast on the doc-side frames: the banding prefilter
    usually leaves the PAIR side as the small one, and force-
    broadcasting corpus-wide token arrays is a driver-side
    collect+serialize of the whole corpus (measured ~3 s of the 4.7 s
    registered-query wall at sf0.1).  AQE's runtime join selection
    broadcasts whichever side is actually small and degrades to a
    shuffled hash join when neither fits.

    At threshold >= 1.0 (r14 optimization round) verification reduces
    to SORTED-ARRAY EQUALITY: jaccard(A, B) >= 1 ⟺ A == B as sets
    (and then jaccard is exactly 1.0), so the per-pair
    array_intersect + array_union allocations become one
    short-circuiting ordered comparison of arrays sorted once per DOC
    side.  Exactness notes: ``size > 0`` preserves the union-empty →
    0.0 branch of `jaccard` (can't fire on split() output, which is
    never empty, but the tail must not widen any caller's contract);
    NULL token arrays (NULL text) fail both the equality and the old
    ``NULL >= threshold`` filter identically."""
    if threshold >= 1.0:
        toks = docs.select(
            "doc_id", F.sort_array(token_set(text)).alias("toks")
        )
        return (
            pairs.join(toks.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "toks_a"), "doc_a")
            .join(toks.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "toks_b"), "doc_b")
            .filter(
                (F.col("toks_a") == F.col("toks_b"))
                & (F.size("toks_a") > 0)
            )
            .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
        )
    toks = docs.select("doc_id", token_set(text).alias("toks"))
    return (
        pairs.join(toks.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "toks_a"), "doc_a")
        .join(toks.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "toks_b"), "doc_b")
        .withColumn("jaccard", jaccard(F.col("toks_a"), F.col("toks_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def portable_token_hash(t: Column) -> Column:
    """60-bit token hash derived from md5 hex — chosen over xxhash64
    because DuckDB computes the identical value
    (('0x' || substr(md5(t),1,15))::BIGINT), making SimHash oracles
    engine-portable.  ~5× slower than xxhash64 (measured at sf0.1:
    2.5 s vs 0.5 s for the hash-array pass) — use fast_token_hash when
    oracle portability is not needed."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def fast_token_hash(t: Column) -> Column:
    """xxhash64 token hash — the throughput path (no cryptographic
    work, single JVM intrinsic pass).  NOT reproducible in DuckDB, so
    queries checked by a SQL oracle must use portable_token_hash; the
    SimHash recall guarantee is structural (pigeonhole banding) and
    holds under either hash."""
    return F.xxhash64(t)


def simhash_from_hashes(hashed: Column, bits: int = 32) -> Column:
    """SimHash from a PRE-MATERIALIZED array of token hashes: per bit b,
    sign of Σ ±1 by bit b of each hash.  Callers must materialize the
    hash array as a real column first — Catalyst does not CSE
    interpreted higher-order expressions, so inlining the md5 transform
    here would recompute it once per bit (32×)."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        contrib = F.aggregate(
            hashed,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        out = out + F.when(contrib >= 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_table(
    docs: DataFrame,
    text: str = "text",
    bits: int = 32,
    fast_hash: bool = False,
) -> DataFrame:
    """(doc_id, sh) SimHash signatures as one whole-stage-codegen
    aggregation: explode the token set to per-token rows, hash each row
    (codegen'd — higher-order lambdas are interpreted, so even md5 ran
    in the interpreter in the column form), then per doc compute the 32
    bit-majorities as conditional sums in ONE grouped aggregate.

    sign(Σ ±1 over bit b) >= 0  ⟺  2·popcount_b >= n — pure integer
    logic, so the signatures are bit-identical to simhash_from_hashes
    (ties keep the fold's +1 convention, incl. the empty-doc case:
    n = 0 sets every bit).  Replaces 32 interpreted array folds with
    map-side partial aggs + a ~#docs-row shuffle.  On the ~23-token
    driver docs the signature stage is a wash (~0.45 s either way at
    sf0.1 — the registered query's cost is pair expansion, not
    hashing); the win is structural: interpreted-fold cost is
    O(32·tokens/doc) per doc and would dominate on realistic
    100-1000-token documents, while this shape stays codegen whatever
    the document length."""
    hash_fn = fast_token_hash if fast_hash else portable_token_hash
    tok = docs.select("doc_id", F.explode_outer(token_set(text)).alias("t"))
    h = tok.select("doc_id", hash_fn(F.col("t")).alias("h"))
    # expressions built by SQL parse, one py4j call each, instead of
    # ~6 Column-API roundtrips per bit (r14 optimization round: the
    # driver spent ~1-1.5 s per invocation just CONSTRUCTING these
    # bits+1 aggregates and the bits-term reconstruction chain).
    # Parsed trees are operator-identical to the Column-API forms.
    aggs = [F.count(F.col("h")).alias("n")] + [
        F.expr(f"coalesce(sum(shiftright(h, {b}) & 1), 0) AS c{b}")
        for b in range(bits)
    ]
    g = h.groupBy("doc_id").agg(*aggs)
    sh = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"CASE WHEN 2 * c{b} >= n THEN CAST({2 ** b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
            for b in range(bits)
        )
    )
    return g.select("doc_id", sh.alias("sh"))



def _intra_signature_pairs(groups: DataFrame) -> DataFrame:
    """Hamming-0 tier shared by every signature-granularity near-dup
    family (SimHash text, dHash image): all doc pairs WITHIN one
    signature group, element-parallel explosion over the sorted member
    list (posexplode + tail slice keeps doc_a < doc_b without a
    self-join)."""
    return (
        groups.filter(F.size("ids") > 1)
        .select(F.posexplode("ids").alias("i", "doc_a"), F.col("ids"))
        .select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("doc_b"),
        )
        .withColumn("hamming", F.lit(0))
    )


def _expand_signature_pairs(vpairs: DataFrame) -> DataFrame:
    """Cross-group member-list expansion shared by the signature-
    granularity families: verified signature-value pairs (ids_a,
    ids_b, hamming) fan out to doc pairs exactly once, doc_a <
    doc_b."""
    return (
        vpairs.select(F.explode("ids_a").alias("da"), "ids_b", "hamming")
        .select("da", F.explode("ids_b").alias("db"), "hamming")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    text: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    fast_hash: bool = False,
) -> DataFrame:
    """SimHash near-dup with GUARANTEED recall: split the ``bits``-bit
    fingerprint into max_hamming+1 bands — by pigeonhole, any pair
    within ``max_hamming`` bit flips matches exactly on at least one
    band, so the band-bucket join finds every qualifying pair (no
    probabilistic miss, unlike MinHash banding).  Verification filters
    candidates to bit_count(xor) <= max_hamming, so the output equals
    the exact all-pairs answer at O(N·bands + Σ k_bucket²) cost.

    ``fast_hash=True`` swaps the md5-derived portable token hash for
    xxhash64 (~5× cheaper hashing, same structural guarantees, but not
    DuckDB-reproducible — the registered oracle query keeps the
    portable default; bench records both)."""
    n_bands = max_hamming + 1
    if bits % n_bands != 0:
        # truncating bits // n_bands would leave the top bits in NO
        # band: a pair differing only there would be missed, silently
        # voiding the pigeonhole recall guarantee
        raise ValueError(
            f"bits ({bits}) must be divisible by max_hamming+1 "
            f"({n_bands}) so every bit belongs to a band; "
            f"use e.g. bits={bits - bits % n_bands} or adjust max_hamming"
        )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    from ..sources.tables import fan_out

    # exploded codegen aggregation (see simhash_table): hashing and the
    # 32 bit-majorities run in whole-stage codegen instead of 32
    # interpreted array folds; fan_out spreads the unsplittable scan
    # before the per-token CPU work
    sh = simhash_table(fan_out(docs), text, bits, fast_hash)

    # Work at SIGNATURE-VALUE granularity, not doc granularity: template
    # corpora map thousands of docs onto few distinct fingerprints, so
    # banding/verifying unique values (and expanding member lists once at
    # the end) replaces a multi-million-row candidate distinct with one
    # on value pairs.  This is also the 100 TB shape: candidate state is
    # O(#distinct signatures), independent of corpus row count.
    # three consumers (intra tier + both sides of the band self-join)
    # would otherwise re-run the scan+hash+aggregate chain three times;
    # the frame is #distinct-signatures rows — checkpoint it lazily
    groups = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .localCheckpoint(eager=False)
    )

    # hamming-0 tier: pairs within one signature group (element-parallel
    # explosion, same skew logic as the MinHash path)
    intra = _intra_signature_pairs(groups)

    # cross-group tier: band the unique values; pigeonhole over
    # max_hamming+1 bands guarantees every pair within max_hamming flips
    # shares a band, so recall is structural, not probabilistic
    bands = groups.select(
        "sh",
        "ids",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("sh", "ids", "b.band", "b.key")
    a = bands.select(
        "band", "key", F.col("sh").alias("sh_a"), F.col("ids").alias("ids_a")
    )
    bb = bands.select(
        "band", "key", F.col("sh").alias("sh_b"), F.col("ids").alias("ids_b")
    )
    vpairs = (
        a.join(bb, ["band", "key"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("sh_a", "sh_b", "ids_a", "ids_b", "hamming")
        .dropDuplicates(["sh_a", "sh_b"])  # multi-band matches
    )
    cross = _expand_signature_pairs(vpairs)
    return intra.unionByName(cross)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph: returns
    ``(node, cluster_id)`` for every node that appears in ``pairs``,
    with ``cluster_id`` = the minimum node id in its component, so
    A~B and B~C land in ONE cluster even though (A, C) was never
    emitted.  Node ids are non-null.

    Under the `_collect_if_small` gate the edge list is fetched once
    (ONE job over a materialized pair list) and the components are
    finished on the driver by the same rounds as the Spark loop
    (`_components_spark`), so the labels are exact, ``max_iterations``
    raises on the same graphs, and the result is a local frame.  Above
    the gate the Spark loop runs."""
    e = pairs.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint(eager=False)
    edges = e.unionByName(
        e.select(F.col("e_dst").alias("e_src"), F.col("e_src").alias("e_dst"))
    )
    # the probe reads the frame the Spark loop reads next, so above the
    # gate it has materialized e's checkpoint and the upstream pair
    # emitters still run once
    small = _collect_if_small(e)
    if small is None:
        comp = _components_spark(e, edges, max_iterations)
    else:
        schema = edges.toDF("node", "cluster_id").schema
        comp = _components_driver(
            e.sparkSession, small, schema, max_iterations
        )
    if comp is None:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return comp


def _components_driver(spark, tbl: "pa.Table", schema, max_iterations: int):
    """`_components_spark`'s rounds in numpy over the collected edge
    list: node ids map to their sorted positions (so min position is
    min id), ``np.minimum.at`` is the min-label propagation and
    ``lab[lab]`` the pointer jump.  None when not converged."""
    a = tbl.column("e_src").to_numpy()
    b = tbl.column("e_dst").to_numpy()
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    src, dst = idx, np.concatenate([idx[len(a):], idx[: len(a)]])
    lab = np.arange(len(nodes))
    np.minimum.at(lab, src, dst)  # fused first propagation
    for _ in range(max_iterations):
        proposed = lab.copy()
        np.minimum.at(proposed, dst, lab[src])
        if np.array_equal(proposed, lab):
            return spark.createDataFrame(
                pa.table({"node": nodes, "cluster_id": nodes[lab]}), schema
            )
        lab = proposed[proposed]
    return None


def _components_spark(e: DataFrame, edges: DataFrame, max_iterations: int):
    """The above-gate loop, the 100 TB layout: min-label propagation
    with pointer jumping, the DataFrame rendering of the two-phase star
    technique (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14).  Each round does
      1. propagate:  label(v) <- min(label(v), min label(u) over
         neighbours u) — one |E|-sized shuffle join + a map-side-combined
         min aggregation, and
      2. shortcut:   label(v) <- label(label(v)) — one |V|-sized self
         join (labels are min-monotone, so label(label(v)) <= label(v)
         always holds and the blind overwrite is safe).
    The shortcut step collapses label chains exponentially, so rounds
    are O(log d) for diameter d rather than O(d).  Each round's frames
    are lazily ``localCheckpoint``-ed and materialized by the
    convergence action: without lineage truncation the plan doubles
    per iteration.

    Convergence comes from the LABEL-SUM invariant: labels are
    min-monotone over a fixed node set, so Σ label changed iff any
    label changed; Σ(labels) and Σ(proposed) (exact DECIMAL(38,0))
    ride ONE tagged-union aggregate job per round, checked BEFORE the
    jump join — a propagation fixpoint forces label equality across
    every symmetric edge.  None when not converged."""
    # Fused first propagation: label0(v) = min(v, min neighbour) from a
    # single groupBy over the symmetric edge list.  Near-dup components
    # are overwhelmingly cliques (identical/near-identical docs all
    # pair with each other), and for a clique label0 IS the fixpoint —
    # the loop then runs exactly one verify round instead of
    # propagate + verify.
    labels = (
        edges.groupBy(F.col("e_src").alias("node"))
        .agg(F.min("e_dst").alias("m"))
        .select("node", F.least("node", "m").alias("comp"))
        .localCheckpoint(eager=False)
    )
    # the measured |E| sizes the per-round scan partitioning (e's
    # checkpoint is already materialized by the gate probe)
    n_sym_edges = 2 * e.count()
    npart = edges.rdd.getNumPartitions()
    target = max(
        1, math.ceil(n_sym_edges / _CC_EDGE_ROWS_PER_PARTITION)
    )
    if target < npart:
        edges = edges.coalesce(target)  # narrow: merges cached blocks

    def tagged_sums(before: DataFrame, after: DataFrame):
        # exact Σ comp — DECIMAL(38,0) so ids near 2^63 cannot wrap.
        # `before` is upstream of `after`, so its checkpoint is
        # materialized once inside this job and read twice.
        rows = (
            before.select(F.lit(0).alias("t"), "comp")
            .unionByName(after.select(F.lit(1).alias("t"), "comp"))
            .groupBy("t")
            .agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"))
            .collect()
        )
        by_tag = {r["t"]: r["s"] for r in rows}
        return by_tag.get(0), by_tag.get(1)

    for _ in range(max_iterations):
        nbr = edges.join(
            labels.withColumnRenamed("node", "e_src"), "e_src"
        ).select(F.col("e_dst").alias("node"), "comp")
        # lazy checkpoint: the tagged-sum action below materializes it,
        # truncating lineage without paying a separate job
        proposed = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        # ONE action per round: Σ(labels) and Σ(proposed) together.  The
        # jump checkpoint is lazy, so on the final round the jump join
        # is never executed at all.
        base_sum, new_sum = tagged_sums(labels, proposed)
        # min-monotone labels over a fixed node set: Σ unchanged <=>
        # no label changed (every change strictly decreases one term)
        if new_sum == base_sum:
            return labels.select("node", F.col("comp").alias("cluster_id"))
        jump = proposed.select(
            F.col("node").alias("comp"), F.col("comp").alias("jumped")
        )
        # the jump itself lowers Σ, so the next round's Σ(proposed)
        # must be compared against Σ(post-jump labels) — which the
        # next round's tagged aggregate computes as its `before` leg
        labels = (
            proposed.join(jump, "comp", "left")
            .select("node", F.coalesce("jumped", "comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
    return None


def near_dup_clusters(
    docs: DataFrame,
    text: str = "text",
    threshold: float = 1.0,
    n_hashes: int = 32,
    bands: int = 1,
) -> DataFrame:
    """Documents -> near-dup pair graph -> connected components, with
    per-cluster sizes: ``(doc_id, cluster_id, cluster_size)`` for every
    document that has at least one near-duplicate.  Singleton documents
    are omitted (at corpus scale almost everything is a singleton —
    emitting them would dwarf the interesting output)."""
    pairs = near_duplicate_pairs(
        docs, text=text, threshold=threshold, n_hashes=n_hashes, bands=bands
    )
    comp = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def dedup_canonical(
    docs: DataFrame,
    text: str = "text",
    threshold: float = 1.0,
    n_hashes: int = 32,
    bands: int = 1,
) -> DataFrame:
    """The keep-list: drop every clustered document except its
    cluster's canonical representative (minimum doc_id — deterministic
    and join-free, since cluster_id IS the canonical id).  Singletons
    pass through untouched via the anti join."""
    comp = connected_components(
        near_duplicate_pairs(
            docs, text=text, threshold=threshold, n_hashes=n_hashes, bands=bands
        )
    )
    doomed = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(doomed, "doc_id", "left_anti")


def dedup_identical_token_sets(docs: DataFrame, text: str = "text") -> DataFrame:
    """Canonical keep-list for threshold-1.0 near-dup semantics WITHOUT
    the connected-components loop: token-SET equality is already an
    equivalence relation (reflexive/symmetric/transitive), so clusters
    are exactly the groups — ``min(doc_id)`` per sorted-token-set is
    the cluster canonical, one keyed shuffle, zero iterations.

    Exactly equivalent to ``dedup_canonical(docs, threshold=1.0)``
    (LSH at threshold 1.0 has recall 1 on identical signatures, and no
    chains can extend a group beyond set equality); the composed
    corpus pipeline uses this fast path while the registered
    ``near_dup_clusters`` query keeps the general iterative operator
    under the driver's gate."""
    key = F.md5(F.to_json(F.sort_array(token_set(text))))
    w = Window.partitionBy(key).orderBy("doc_id")
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cross_doc_ngram_coverage(
    docs: DataFrame, n: int = 5, min_docs: int = 2, text: str = "text"
) -> DataFrame:
    """ExactSubstr-style cross-document duplication metric (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    for every document, how much of it is covered by word-``n``-grams
    that also occur in at least ``min_docs`` distinct documents.

    Returns (doc_id, n_tokens, n_ngrams, n_dup_ngrams, covered_tokens,
    dup_coverage) where ``covered_tokens`` is the size of the UNION of
    the duplicated n-gram spans (interval union via running-max-end
    window — a token shared by overlapping duplicated windows counts
    once) and ``dup_coverage`` = covered_tokens / n_tokens.  High
    coverage flags boilerplate that document-level near-dup passes miss
    because each surrounding document is unique.

    The true suffix-array ExactSubstr is inherently sequential; this
    n-gram relaxation is the standard distributed approximation
    (fixed window instead of maximal match) and is what Dolma/RedPajama
    report as "duplicate n-gram fraction".

    Plan shape / 100 TB notes: positions ride along the gram explode
    (one Generate), the gram-frequency aggregation is a keyed shuffle
    with map-side combine, and the count table joins back 1:1 on the
    gram key — occurrence rows never multiply, so a viral n-gram
    appearing in millions of docs costs its occurrence count, not a
    pair explosion (the failure mode this replaces).  The interval
    union runs per-doc (window partitioned by doc_id, the parallel
    axis).  All counters are integers — exactly portable.

    Reference scope: the reference's dedup (data_quality.py:213-232)
    is whole-row keep-first only; substring-level duplication has no
    counterpart there.
    """
    from .corpus import word_ngrams, words_array
    from .text import token_count

    # tokenize once (base + the gram explode re-derive from the
    # checkpointed array instead of re-scanning/re-splitting)
    tc = token_count(text)
    ws0 = docs.select(
        "doc_id",
        words_array(text).alias("ws"),
        tc.cast("long").alias("n_tokens"),
        F.greatest(tc - (n - 1), F.lit(0)).cast("long").alias("n_ngrams"),
    ).localCheckpoint(eager=False)
    base = ws0.select("doc_id", "n_tokens", "n_ngrams")
    occ = ws0.select(
        "doc_id",
        F.posexplode(word_ngrams(F.col("ws"), n)).alias("pos", "gram"),
    )
    counts = (
        occ.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    dup = occ.join(counts, "gram").select(
        "doc_id", "pos", (F.col("pos") + (n - 1)).alias("end")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = dup.withColumn(
        "prev_end", F.coalesce(F.max("end").over(w), F.lit(-1))
    )
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_ngrams"),
        F.sum(
            F.greatest(
                F.lit(0),
                F.col("end") - F.greatest(F.col("pos") - 1, F.col("prev_end")),
            )
        ).alias("covered_tokens"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_ngrams",
        F.coalesce("n_dup_ngrams", F.lit(0)).alias("n_dup_ngrams"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens"),
            ).otherwise(0.0),
            6,
        ).alias("dup_coverage"),
    )


def remove_duplicated_spans(
    docs: DataFrame, n: int = 5, min_docs: int = 2, text: str = "text"
) -> DataFrame:
    """The ExactSubstr REMOVAL transform: rewrite each document with
    every cross-document duplicated word-``n``-gram span deleted
    (policy: all occurrences are removed — the conservative C4-style
    variant; a keep-one-copy policy needs a canonical-owner choice per
    overlapping span chain, which the metric tier
    `cross_doc_ngram_coverage` leaves to downstream dedup).

    Returns (doc_id, n_tokens, n_kept, cleaned) where ``cleaned`` is
    the surviving tokens joined by single spaces in original order
    ('' when the whole document is duplicated span mass).

    Plan shape: shares the occurrence/frequency stages with
    cross_doc_ngram_coverage (gram explode -> keyed count -> 1:1 join
    back), then expands duplicated intervals to covered positions
    (explode of ≤n-element sequences), anti-joins the token stream on
    (doc_id, position), and reassembles per doc with
    array_sort(collect_list(struct(pos, tok))) — sort-in-array, so the
    unordered collect is deterministic.  Every shuffle is keyed by
    doc_id or the gram; reassembly partitions by doc_id (the parallel
    axis, same sanctioned shape as per-symbol indicators).
    """
    from .corpus import word_ngrams, words_array
    from .text import token_count

    # tokenize ONCE: four consumers (gram occurrences x2, the token
    # stream, the per-doc token count) otherwise each re-scan and
    # re-split the corpus.  The checkpointed frame holds the compact
    # array form; downstream explodes re-derive from it.  The array is
    # emptied for blank documents: words_array('') is [''] (split
    # semantics), and exploding that phantom token would emit
    # n_kept=1 against n_tokens=0.
    tc = token_count(text).cast("long")
    ws0 = docs.select(
        "doc_id",
        F.when(tc > 0, words_array(text))
        .otherwise(F.array().cast("array<string>"))
        .alias("ws"),
        tc.alias("n_tokens"),
    ).localCheckpoint(eager=False)
    occ = ws0.select(
        "doc_id",
        F.posexplode(word_ngrams(F.col("ws"), n)).alias("pos", "gram"),
    )
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    covered = (
        occ.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("p"),
        )
        .distinct()
    )
    toks = ws0.select(
        "doc_id", F.posexplode(F.col("ws")).alias("p", "tok")
    )
    kept = toks.join(covered, ["doc_id", "p"], "left_anti")
    re = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), F.col("tok")))
                ),
                lambda x: x["tok"],
            ),
        ).alias("cleaned"),
    )
    base = ws0.select("doc_id", "n_tokens")
    return base.join(re, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


def incremental_near_dup_pairs(
    docs: DataFrame,
    is_new: Column,
    text: str = "text",
    threshold: float = 1.0,
    n_hashes: int = 32,
    bands: int = 1,
) -> DataFrame:
    """Incremental dedup — the shape a production 100 TB pipeline
    actually runs daily: find near-dup pairs where at least one side is
    a NEW document (today's crawl), never re-exploding OLD-OLD pairs
    the historical index already resolved.

    Candidate cost per bucket drops from O((k_old+k_new)²) to
    O(k_new² + k_old·k_new); buckets with no new member are filtered
    before any pair work.  At scale the old side's band buckets are a
    precomputed silver table (the "index") that today's batch joins —
    here both sides recompute from the same frame, which keeps the
    oracle exact without changing the plan shape that matters (the
    pair-explosion asymmetry).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, exact-Jaccard
    verified like `near_duplicate_pairs`.
    """
    # NULL predicate values must not silently drop a document from BOTH
    # sides (F.when skips NULLs in collect_set): a left-join-derived
    # flag (e.g. first_seen >= today with first_seen NULL for legacy
    # docs) coalesces to the OLD/index side, so its pairs with new
    # documents are still found.
    flags = docs.select(
        "doc_id", F.coalesce(is_new, F.lit(False)).alias("is_new")
    )
    buckets = minhash_band_buckets(
        docs, text, n_hashes, bands, exact_set_key=threshold >= 1.0
    ).join(flags, "doc_id")
    # two consumers (the new-new and old-new tiers) would re-run the
    # whole signature+bucket chain; the frame is buckets-with-new-
    # members rows — checkpoint it lazily (12 -> 2 table scans)
    grouped = (
        buckets.groupBy("band", "band_hash")
        .agg(
            F.sort_array(
                F.collect_set(F.when(~F.col("is_new"), F.col("doc_id")))
            ).alias("old_ids"),
            F.sort_array(
                F.collect_set(F.when(F.col("is_new"), F.col("doc_id")))
            ).alias("new_ids"),
        )
        .filter(F.size("new_ids") > 0)
        .localCheckpoint(eager=False)
    )
    sc = docs.sparkSession.sparkContext
    # new-new tier: element-parallel tail-slice explosion (the
    # near_duplicate_pairs skew treatment)
    nn = (
        grouped.filter(F.size("new_ids") > 1)
        .select(F.posexplode("new_ids").alias("i", "a"), F.col("new_ids"))
        .repartition(sc.defaultParallelism)
        .select(
            "a",
            F.explode(
                F.slice(F.col("new_ids"), F.col("i") + 2, F.size("new_ids"))
            ).alias("b"),
        )
    )
    # old-new tier: per-bucket cross of the old members with the new —
    # two chained element explosions, k_old * k_new rows
    on = (
        grouped.filter(F.size("old_ids") > 0)
        .select(F.explode("old_ids").alias("a"), F.col("new_ids"))
        .repartition(sc.defaultParallelism)
        .select("a", F.explode("new_ids").alias("b"))
    )
    pairs = nn.unionAll(on).select(
        F.least("a", "b").alias("doc_a"), F.greatest("a", "b").alias("doc_b")
    )
    if bands > 1:
        pairs = pairs.distinct()
    return _verify_exact_jaccard(docs, pairs, text, threshold)


# ---------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix C / PaLM-style n-gram scrub)
# ---------------------------------------------------------------------------


def contamination_overlaps(
    docs: DataFrame,
    eval_pred: Column,
    n: int = 4,
    text: str = "text",
) -> DataFrame:
    """Per-training-document contamination stats against the held-out
    evaluation split: (doc_id, n_shared_grams, n_eval_docs) for every
    TRAIN document sharing at least one distinct word ``n``-gram with
    at least one EVAL document (``eval_pred`` marks the eval rows of
    ``docs``).

    The standard pretraining-hygiene step (GPT-3 Brown et al. 2020
    appendix C removes 13-gram collisions with benchmarks; the fixture
    corpus is template-synthetic, so the registered query uses n=4 to
    produce a non-trivial collision surface — the operator is
    n-agnostic).

    Scale shape: the eval side of a decontamination join is tiny
    relative to a 100 TB corpus (benchmarks are megabytes), so the
    distinct eval (gram, eval_id) frame is BROADCAST and the train
    side never shuffles — one fanned-out scan, a broadcast hash join
    on the gram string, one keyed aggregation by train doc.  No
    gram-frequency table, no pair explosion: a viral gram costs
    (train hits x eval docs containing it) rows only inside the
    per-doc aggregation.
    """
    from .corpus import word_ngrams, words_array

    from ..sources.tables import fan_out

    grams = F.array_distinct(word_ngrams(words_array(text), n))
    ex = fan_out(docs).select(
        "doc_id", eval_pred.alias("__is_eval"), F.explode(grams).alias("gram")
    )
    ev = (
        ex.filter(F.col("__is_eval"))
        .select(F.col("gram"), F.col("doc_id").alias("eval_id"))
        .distinct()
    )
    tr = ex.filter(~F.col("__is_eval")).select("doc_id", "gram")
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_pred: Column,
    n: int = 4,
    text: str = "text",
) -> DataFrame:
    """The scrub itself: TRAIN documents surviving decontamination —
    every train row minus those `contamination_overlaps` flags.  The
    anti-join keeps documents with no grams at all (short or NULL
    text): no gram means no collision means clean, matching the
    published scrubs which drop only positive overlaps.  Eval rows are
    excluded from the output by definition (they are the benchmark,
    not training data)."""
    flagged = contamination_overlaps(docs, eval_pred, n, text).select("doc_id")
    return (
        docs.filter(~eval_pred)
        .join(flagged, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership tier for incremental exact dedup
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 18  # filter width; 32-bit words keep shifts portable
BLOOM_K = 3  # hash functions
_BLOOM_WORD = 32


def _bloom_positions(fp: Column, k: int = BLOOM_K, m_bits: int = BLOOM_M_BITS):
    """The ``k`` engine-portable bit positions for a fingerprint:
    md5('<i>:'||fp) prefix mod m_bits — DuckDB derives the identical
    positions (the portable_bucket trick per hash family)."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), fp)), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % m_bits
        for i in range(k)
    ]


def bloom_build(
    docs: DataFrame,
    text: str = "text",
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """Build a DISTRIBUTED Bloom filter over the index documents'
    content fingerprints: (word_idx, bits) with ``bits`` the OR of
    32-bit words — m_bits/32 rows total, small enough to broadcast at
    any practical width (2^18 bits = 8192 rows here; a 100 TB index at
    1e-4 target FP wants ~2^37 bits = 4 G rows x 4 B = still a
    join-table, or per-executor segments).

    This is the scale answer to "is this new document already in the
    index?" WITHOUT anti-joining the full index: the index is folded
    once into the bitmap (one explode + one bit_or aggregation), and
    every future probe touches only the filter.  False positives are
    bounded ((1-e^(-kn/m))^k); false negatives impossible — probes
    that hit then verify against the (tiny) candidate set, never the
    full index."""
    fp = md5_fingerprint(text)
    pos = F.array(*_bloom_positions(fp, k, m_bits))
    ex = docs.select(F.explode(pos).alias("p")).select(
        F.call_function("div", F.col("p"), F.lit(_BLOOM_WORD)).alias(
            "word_idx"
        ),
        # SQL shiftleft: the bit count is a COLUMN (F.shiftleft only
        # takes a literal)
        F.expr(f"shiftleft(1L, cast(p % {_BLOOM_WORD} as int))").alias("m"),
    )
    return ex.groupBy("word_idx").agg(F.bit_or("m").alias("bits"))


def bloom_probe(
    docs: DataFrame,
    bloom: DataFrame,
    text: str = "text",
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """Probe: (doc_id, bloom_hit) — true iff ALL k positions are set.
    One narrow projection + a broadcast join on word_idx; missing
    words (never set by any index doc) count as unset via the left
    join's NULL."""
    fp = md5_fingerprint(text)
    pos = F.array(*_bloom_positions(fp, k, m_bits))
    ex = docs.select("doc_id", F.explode(pos).alias("p")).select(
        "doc_id",
        F.call_function("div", F.col("p"), F.lit(_BLOOM_WORD)).alias(
            "word_idx"
        ),
        F.expr(f"shiftleft(1L, cast(p % {_BLOOM_WORD} as int))").alias("m"),
    )
    j = ex.join(F.broadcast(bloom), "word_idx", "left")
    set_ok = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("m")) != 0
    )
    return j.groupBy("doc_id").agg(
        F.min(set_ok).alias("bloom_hit")
    )


def near_duplicate_pairs_ml(
    docs: DataFrame,
    text: str = "text",
    threshold: float = 0.7,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 7,
) -> DataFrame:
    """spark.ml tier of the MinHash near-dup pipeline (the SURVEY §7
    `approx_similarity_join` mandate): HashingTF binary token vectors
    -> seeded MinHashLSH -> approxSimilarityJoin for candidates, then
    the SAME exact-Jaccard verification tail as the hand-built
    pipeline (`_verify_exact_jaccard`) so emitted pairs carry true
    token-set Jaccard and precision is exactly 1 regardless of
    HashingTF feature collisions.

    Trade against `near_duplicate_pairs`: the hand-built tier is
    engine-portable (md5/xxhash64 arithmetic, DuckDB-oracle-checkable,
    element-parallel skew spreading) and stays the correctness-gated
    path; this tier rides spark.ml's OR-amplified hash tables — the
    API a Spark shop already operates — and is differential-tested for
    recall against the exact truth instead (no oracle: JVM
    MurmurHash3 + fitted hash coefficients are not replayable in
    DuckDB).  Both are candidates-then-verify, so they differ only in
    recall, never precision."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..sources.tables import fan_out

    toks = fan_out(docs).select(
        "doc_id", token_set(text).alias("toks")
    ).filter(F.size("toks") > 0)
    tf = HashingTF(
        inputCol="toks",
        outputCol="features",
        numFeatures=num_features,
        binary=True,
    )
    feat = tf.transform(toks).select("doc_id", "features")
    mh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = mh.fit(feat)
    # NOTE (r14+r15 optimization rounds, both measured): the plan shows
    # 8 parquet scans of the corpus — both explode sides of the
    # self-join re-evaluate scan -> tokenize -> HashingTF -> MinHash.
    # Two attempts to collapse them were REJECTED on measurement:
    # r14's lazy localCheckpoint regressed the face 12.1 -> 30.1 s
    # (ExistingRDD loses size statistics, the planner downgrades the
    # broadcast hash joins, and the checkpoint adds a serial barrier);
    # r15's persist(MEMORY_AND_DISK) — which keeps the logical plan
    # AND gives the planner InMemoryRelation stats, the r14 verdict's
    # suggested fix — measured an exact WASH in a same-session
    # interleaved A/B at sf0.1 (min-of-4: 3.102 s plain vs 3.112 s
    # persisted; means 3.45 vs 3.25), far below the >=1.3x adoption
    # bar, while leaking a cached frame per invocation.  The
    # duplicated upstream chain is narrow, embarrassingly parallel,
    # and cheap relative to the pair explosion; it stays.
    cand = (
        model.approxSimilarityJoin(
            feat, feat, 1.0 - threshold, distCol="approx_dist"
        )
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
    )
    return _verify_exact_jaccard(docs, cand, text, threshold)


def source_minhash_similarity(
    docs: DataFrame,
    n_hashes: int = 16,
    text: str = "text",
    include_exact: bool = False,
) -> DataFrame:
    """Dataset-level MinHash similarity matrix: for every pair of
    ``source`` values, the estimated Jaccard similarity of their
    word-5-gram shingle SETS — the corpus-mixing diagnostic (two
    sources with high overlap double-count their mass in a mixture;
    the same signal drives dataset-level dedup decisions at ingest,
    cf. the MinHash corpus audits in web-scale pipeline papers).

    The signature is built RELATIONALLY — per (source, hash_j) the
    min of the portable seeded token hash over the source's distinct
    shingles — so no shingle set is ever collected into an array:
    one distinct + one keyed min (both map-side combined) at any
    corpus size.  The pair comparison joins signatures on the hash
    index: O(sources^2 * n_hashes) rows, bounded by the source
    TAXONOMY (dozens), not the corpus.

    ``include_exact`` additionally computes the exact Jaccard by
    joining the distinct shingle sets pairwise — a corpus-sized
    shuffle for a dozens-of-rows diagnostic, so it is the YARDSTICK
    tier, default OFF: tests use it to prove est tracks exact (the
    embedding_near_dups precedent); the registered query and any
    100 TB run keep only the taxonomy-bounded estimate plan.

    Returns (src_a, src_b, n_match, jaccard_est[, n_inter, n_union,
    jaccard_exact]) — integers plus single divisions, exactly
    hash-checkable."""
    from .corpus import word_ngrams

    toks = docs.select(
        "source",
        F.split(F.lower(F.trim(F.col(text))), r"\s+").alias("t"),
    )
    shingles = (
        toks.select("source", F.explode(word_ngrams(F.col("t"), 5)).alias("g"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the n_hashes row hashes derive from TWO 56-bit md5 prefixes by
    # Kirsch-Mitzenmacher double hashing (h_j = h1 + j*h2): 2 md5 per
    # distinct shingle instead of n_hashes.  56-bit prefixes keep
    # h1 + (n_hashes-1)*h2 < 16*2^56 = 2^60 inside int64 for up to 16
    # rows (asserted); min-wise estimates under a pairwise-derived
    # family remain accurate (est-tracks-exact proven in tests).
    if n_hashes > 16:
        raise ValueError("double-hash sum overflows int64 beyond 16 rows")

    def h56(seed: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), F.col("g"))), 1, 14),
            16,
            10,
        ).cast("long")

    seeded = shingles.select(
        "source",
        h56("1#").alias("h1"),
        h56("2#").alias("h2"),
    ).select(
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("j"),
        "h1",
        "h2",
    ).select(
        "source", "j", (F.col("h1") + F.col("j") * F.col("h2")).alias("h")
    )
    sig = seeded.groupBy("source", "j").agg(F.min("h").alias("mh"))
    a, b = sig.alias("a"), sig.alias("b")
    est = (
        a.join(b, F.col("a.j") == F.col("b.j"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.sum(
                F.when(F.col("a.mh") == F.col("b.mh"), 1).otherwise(0)
            ).alias("n_match")
        )
    )
    if not include_exact:
        return est.select(
            "src_a",
            "src_b",
            "n_match",
            (F.col("n_match").cast("double") / F.lit(n_hashes)).alias(
                "jaccard_est"
            ),
        )
    sizes = shingles.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = shingles.alias("sa"), shingles.alias("sb")
    inter = (
        sa.join(sb, F.col("sa.g") == F.col("sb.g"))
        .filter(F.col("sa.source") < F.col("sb.source"))
        .groupBy(
            F.col("sa.source").alias("src_a"),
            F.col("sb.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_match",
            (F.col("n_match").cast("double") / F.lit(n_hashes)).alias(
                "jaccard_est"
            ),
            F.coalesce("n_inter", F.lit(0).cast("long")).alias("n_inter"),
            (
                F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0))
            ).alias("n_union"),
            # zero-union guard (r14 degenerate-input doctrine): two
            # token-less sources would make this 0/0 — IEEE NaN in
            # Spark but NULL in DuckDB's division.  Guard to NULL so
            # both engines emit the same undefined-similarity cell.
            F.when(
                F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0))
                != 0,
                F.coalesce("n_inter", F.lit(0)).cast("double")
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce("n_inter", F.lit(0))
                ),
            ).alias("jaccard_exact"),
        )
    )


def dhash_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Perceptual image near-dup pairs over 64-bit dHash signatures
    (``multimodal.dhash_images`` output: doc_id, h_lo, h_hi as two
    non-negative 32-bit halves) with GUARANTEED recall — the SimHash
    banding argument applied to the image modality: the 64 bits split
    into four 16-bit bands, so by pigeonhole any pair within
    ``max_hamming <= 3`` bit flips matches exactly on at least one
    band, and the band-bucket join plus bit_count verification equals
    the exact all-pairs answer at O(N·4 + Σ k_bucket²) cost.

    Same signature-granularity shape as `simhash_near_dup_pairs`:
    banding/verifying runs on DISTINCT (h_lo, h_hi) values with member
    lists expanded once at the end, so candidate state is O(#distinct
    hashes) — template/duplicate-heavy corpora at 100 TB collapse onto
    few signatures instead of exploding the candidate join.  All band
    keys and halves are non-negative (<2^32), so no arithmetic-shift
    or sign edge exists on either engine.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b."""
    if not 0 <= max_hamming <= 3:
        # 4 fixed bands only pigeonhole up to 3 flips; more would
        # silently void the recall guarantee
        raise ValueError(f"max_hamming must be in [0, 3], got {max_hamming}")
    groups = hashes.groupBy("h_lo", "h_hi").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if max_hamming == 0:
        # exact-signature tier only: a cross-signature banded candidate
        # has hamming >= 1 by construction, so the whole explode +
        # band-bucket join would verify to empty — skip it (this is the
        # hot path of the cross-modal edge tiers and the shifted video
        # query, all of which pair at hamming 0)
        return _intra_signature_pairs(groups)
    groups = groups.localCheckpoint(eager=False)

    # hamming-0 tier: pairs within one signature group
    intra = _intra_signature_pairs(groups)

    mask = F.lit((1 << 16) - 1)
    bands = groups.select(
        "h_lo",
        "h_hi",
        "ids",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"),
                         F.col("h_lo").bitwiseAND(mask).alias("key")),
                F.struct(F.lit(1).alias("band"),
                         F.shiftright("h_lo", 16).alias("key")),
                F.struct(F.lit(2).alias("band"),
                         F.col("h_hi").bitwiseAND(mask).alias("key")),
                F.struct(F.lit(3).alias("band"),
                         F.shiftright("h_hi", 16).alias("key")),
            )
        ).alias("b"),
    ).select("h_lo", "h_hi", "ids", "b.band", "b.key")
    a = bands.select(
        "band", "key",
        F.col("h_lo").alias("lo_a"), F.col("h_hi").alias("hi_a"),
        F.col("ids").alias("ids_a"),
    )
    bb = bands.select(
        "band", "key",
        F.col("h_lo").alias("lo_b"), F.col("h_hi").alias("hi_b"),
        F.col("ids").alias("ids_b"),
    )
    sig_a = F.struct(F.col("hi_a"), F.col("lo_a"))
    sig_b = F.struct(F.col("hi_b"), F.col("lo_b"))
    vpairs = (
        a.join(bb, ["band", "key"])
        .filter(sig_a < sig_b)
        .withColumn(
            "hamming",
            F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("lo_a", "hi_a", "lo_b", "hi_b", "ids_a", "ids_b", "hamming")
        .dropDuplicates(["lo_a", "hi_a", "lo_b", "hi_b"])  # multi-band
    )
    cross = _expand_signature_pairs(vpairs)
    return intra.unionByName(cross)


def cross_modal_clusters(
    edges: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    modalities: tuple[str, ...] = ("text", "image", "audio", "video"),
) -> DataFrame:
    """ONE keep/drop decision per document across every near-dup
    modality (round-9 verdict Next #4): union the per-modality pair
    sets into a single labeled edge graph, take connected components,
    and pick each cluster's canonical survivor by the quality-then-id
    rule — so a document dropped because its IMAGE matches a better
    copy is the same kind of decision as one dropped for duplicated
    text, recorded in the same table.

    ``edges``: (doc_a, doc_b, modality) with modality values drawn
    from ``modalities`` — the union of any pair emitters (text
    MinHash, image/audio/video signature tiers, ...).  ``docs``
    supplies ``quality_col`` (higher = better copy; the corpus tables
    use n_chars, the standard keep-the-longer-copy heuristic);
    ties break to the LOWEST doc_id, so the rule is total and
    deterministic.

    Returns one row per cluster: (cluster_id, n_docs, keep_doc,
    n_<modality>_edges per modality), ordered by cluster_id.
    Plan shape: the components come from `connected_components`
    (one driver-finish job on graphs under its gate); the keep decision is a
    map-side-combinable max of a (quality, -doc_id) struct — NO
    per-cluster window, so a pathological giant cluster (this
    synthetic corpus chains most documents together at sf0.1) never
    serializes through one task; the per-modality counts are one
    conditional aggregate over edges joined to their doc_a's
    cluster (doc_a and doc_b are in the same cluster by
    construction, so either endpoint attributes the edge)."""
    # one materialization for BOTH consumers: connected_components
    # checkpoints its own (src, dst) projection, but the per-modality
    # edge counts below read the ORIGINAL labeled frame — without this
    # cut the upstream pair emitters (four full signature passes on
    # the registered query) execute a second time for ecnt
    edges = edges.localCheckpoint(eager=False)
    comp = connected_components(edges)
    # above the CC gate comp is a checkpoint-backed frame with NO size
    # statistics, so the planner sort-merge-joins it against the edge
    # list even when it is under the broadcast threshold; its measured
    # row count against the same threshold rule gates the broadcast
    bc = (
        F.broadcast
        if comp.count() <= _broadcast_rows(comp)
        else (lambda f: f)
    )
    members = bc(comp).join(
        docs.select(F.col("doc_id").alias("node"), quality_col), "node"
    )
    agg = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(
            F.struct(
                F.col(quality_col).alias("q"),
                (-F.col("node")).alias("nid"),
            )
        ).alias("__mx"),
    )
    ecnt = (
        edges.join(
            bc(comp.withColumnRenamed("node", "doc_a")), "doc_a"
        )
        .groupBy("cluster_id")
        .agg(
            *[
                F.count_if(F.col("modality") == m).alias(f"n_{m}_edges")
                for m in modalities
            ]
        )
    )
    return (
        agg.join(ecnt, "cluster_id")
        .select(
            "cluster_id",
            "n_docs",
            (-F.col("__mx.nid")).alias("keep_doc"),
            *[f"n_{m}_edges" for m in modalities],
        )
        .orderBy("cluster_id")
    )


def incremental_dhash_pairs(
    hashes: DataFrame, is_new: Column, max_hamming: int = 3
) -> DataFrame:
    """Incremental near-dup over 64-bit two-half signatures — the
    `incremental_near_dup_pairs` daily-crawl shape applied to the
    perceptual modalities (image dHash, audio envelope, video frame
    hashes): find pairs where at least one side is NEW, never
    re-pairing the historical corpus against itself.

    Keeps `dhash_near_dup_pairs`' SIGNATURE granularity: members
    aggregate per distinct (h_lo, h_hi) with old/new split, so a
    template family of any size is one group row until final
    expansion, and the banded candidate join runs on distinct
    signatures only.  Candidate signature pairs must touch a
    new-membered signature; expansion emits new x all and old x new
    tiers (old x old never expands).  Returns (doc_a, doc_b, hamming)
    with doc_a < doc_b — exactly `dhash_near_dup_pairs(hashes)`
    filtered to pairs with a new side, which is what the oracle
    checks.

    NULL ``is_new`` coalesces to the OLD/index side (the
    left-join-derived-flag contract shared with the text version)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(f"max_hamming must be in [0, 3], got {max_hamming}")
    flags = hashes.select(
        "doc_id", "h_lo", "h_hi",
        F.coalesce(is_new, F.lit(False)).alias("is_new"),
    )
    groups = (
        flags.groupBy("h_lo", "h_hi")
        .agg(
            F.sort_array(
                F.collect_set(F.when(~F.col("is_new"), F.col("doc_id")))
            ).alias("old_ids"),
            F.sort_array(
                F.collect_set(F.when(F.col("is_new"), F.col("doc_id")))
            ).alias("new_ids"),
        )
        .localCheckpoint(eager=False)
    )
    sc = hashes.sparkSession.sparkContext

    # hamming-0 tier (within one signature): new-new by tail-slice
    # explosion, old-new by cross — both element-parallel
    with_new = groups.filter(F.size("new_ids") > 0)
    nn = (
        with_new.filter(F.size("new_ids") > 1)
        .select(F.posexplode("new_ids").alias("i", "a"), F.col("new_ids"))
        .repartition(sc.defaultParallelism)
        .select(
            "a",
            F.explode(
                F.slice(F.col("new_ids"), F.col("i") + 2, F.size("new_ids"))
            ).alias("b"),
        )
    )
    on = (
        with_new.filter(F.size("old_ids") > 0)
        .select(F.explode("old_ids").alias("a"), F.col("new_ids"))
        .repartition(sc.defaultParallelism)
        .select("a", F.explode("new_ids").alias("b"))
    )
    intra = (
        nn.unionAll(on)
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )

    # cross-signature tier: band the distinct signatures (same four
    # 16-bit bands as dhash_near_dup_pairs), join new-membered
    # signatures against ALL signatures, verify hamming, expand
    mask = F.lit((1 << 16) - 1)
    def banded(g):
        return g.select(
            "h_lo", "h_hi", "old_ids", "new_ids",
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("band"),
                             F.col("h_lo").bitwiseAND(mask).alias("key")),
                    F.struct(F.lit(1).alias("band"),
                             F.shiftright("h_lo", 16).alias("key")),
                    F.struct(F.lit(2).alias("band"),
                             F.col("h_hi").bitwiseAND(mask).alias("key")),
                    F.struct(F.lit(3).alias("band"),
                             F.shiftright("h_hi", 16).alias("key")),
                )
            ).alias("b"),
        ).select("h_lo", "h_hi", "old_ids", "new_ids", "b.band", "b.key")

    a = banded(with_new).select(
        "band", "key",
        F.col("h_lo").alias("lo_a"), F.col("h_hi").alias("hi_a"),
        F.col("old_ids").alias("old_a"), F.col("new_ids").alias("new_a"),
    )
    bb = banded(groups).select(
        "band", "key",
        F.col("h_lo").alias("lo_b"), F.col("h_hi").alias("hi_b"),
        F.col("old_ids").alias("old_b"), F.col("new_ids").alias("new_b"),
    )
    sig_a = F.struct(F.col("hi_a"), F.col("lo_a"))
    sig_b = F.struct(F.col("hi_b"), F.col("lo_b"))
    # a carries the new-membered side; allow either signature order and
    # canonicalize pairs at expansion (a candidate signature pair is
    # kept once via dropDuplicates on the unordered signature key)
    vpairs = (
        a.join(bb, ["band", "key"])
        .filter(sig_a != sig_b)
        .withColumn(
            "hamming",
            F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        # multi-band collisions of the SAME orientation dedup here; the
        # two orientations of a both-sides-new signature pair survive
        # to expansion (bounded 2x work) and collapse in the final
        # doc-pair dedup
        .dropDuplicates(["lo_a", "hi_a", "lo_b", "hi_b"])
    )
    # expansion tiers: new_a x (old_b + new_b)  UNION  old_a x new_b.
    # A signature pair can surface in BOTH (a, b) orientations when
    # both signatures carry new members — canonicalize the doc pair
    # and dedup at the end (bounded by true output size).
    exp1 = (
        vpairs.select(
            F.explode("new_a").alias("a"),
            F.concat("old_b", "new_b").alias("others"),
            "hamming",
        )
        .repartition(sc.defaultParallelism)
        .select("a", F.explode("others").alias("b"), "hamming")
    )
    exp2 = (
        vpairs.filter(F.size("old_a") > 0)
        .select(
            F.explode("old_a").alias("a"),
            F.col("new_b").alias("others"),
            "hamming",
        )
        .filter(F.size("others") > 0)
        .repartition(sc.defaultParallelism)
        .select("a", F.explode("others").alias("b"), "hamming")
    )
    cross = (
        exp1.unionAll(exp2)
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "hamming",
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return intra.unionByName(cross)
