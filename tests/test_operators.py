"""Unit/differential tests for library operators that are not (or not
fully) exercised by the oracle-parity gate: OHLC auto-correction,
denormalization round-trips, keep-first dedup, text metrics, and the
probabilistic tier of MinHash-LSH (recall at thresholds below 1.0,
where the oracle cannot be exact by construction).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.llm import dedup as DD
from streaming_forex_data_pipeline_spark.llm import text as TX
from streaming_forex_data_pipeline_spark.operators import normalize as N
from streaming_forex_data_pipeline_spark.operators import quality as Q
from streaming_forex_data_pipeline_spark.sources.tables import load_table


def test_fix_ohlc_restores_invariants(spark):
    rows = [
        ("S", 1, 1.10, 1.05, 1.20, 1.15),  # high < open, low > nothing sane
        ("S", 2, 1.00, 1.30, 0.90, 1.20),  # already valid
        ("S", 3, 1.00, 0.95, 1.10, 0.95),  # high < both, low > close
    ]
    df = spark.createDataFrame(rows, ["symbol", "ts", "open", "high", "low", "close"])
    fixed = Q.fix_ohlc(df)
    assert fixed.filter(Q.ohlc_violations()).count() == 0
    got = {r["ts"]: r for r in fixed.collect()}
    # D6 semantics: high := max(high, open, close), low := min(low, open, close)
    r1 = got[1]
    assert r1["high"] == pytest.approx(max(1.05, 1.10, 1.15))
    assert r1["low"] == pytest.approx(min(1.20, 1.10, 1.15))
    r2 = got[2]
    assert (r2["high"], r2["low"]) == (pytest.approx(1.30), pytest.approx(0.90))


def test_normalize_denormalize_roundtrip(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("event_id", "value").limit(200)
    params = N.fit_params(e, ["value"])
    for method in ("minmax", "zscore", "robust"):
        norm = N.apply_normalization(e, params, ["value"], method)
        back = N.denormalize(norm, params, ["value"], method)
        bad = back.filter(
            F.abs(F.col("value") - F.col("value_denorm")) > 1e-9
        ).count()
        assert bad == 0, f"{method}: {bad} rows fail round-trip"


def test_dedup_exact_keeps_lowest_doc_id(spark):
    rows = [
        (10, "same text here"),
        (3, "same  TEXT  here"),  # same after normalization
        (7, "different text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r["doc_id"] for r in DD.dedup_exact(df).collect()}
    assert kept == {3, 7}


def test_text_metrics_known_values(spark):
    df = spark.createDataFrame([(1, "Hello, world! This is fine.")], ["doc_id", "text"])
    row = df.select(
        TX.punct_ratio().alias("pr"),
        TX.quality_score().alias("qs"),
        TX.token_count().alias("tc"),
    ).collect()[0]
    text = "Hello, world! This is fine."
    punct = sum(text.count(ch) for ch in ".,;:!?'\"()-")
    assert row["pr"] == pytest.approx(punct / len(text))
    assert row["tc"] == 5
    # 27 chars -> below the >=30 band (0.0); avg word len 23/5=4.6 -> +0.3;
    # punct 4/27 < 0.2 -> +0.3
    assert row["qs"] == pytest.approx(0.6)


def test_stopword_hits_counts_word_boundaries(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat of there")], ["doc_id", "text"]
    )
    # 'the' twice (not 'there'), 'and' once, 'of' once -> 4
    row = df.select(TX.stopword_hits("en").alias("h")).collect()[0]
    assert row["h"] == 4


def test_minhash_lsh_recall_and_precision(spark, duck, sf_dir):
    """Probabilistic tier: at threshold 0.7 the LSH pipeline must find a
    large fraction of true pairs (theory: 1-(1-s^4)^8 >= 0.89 at s=0.7,
    higher above) and, because candidates are verified with exact
    Jaccard, precision must be exactly 1."""
    truth = duck.execute(
        r"""
        WITH toks AS (
          SELECT doc_id,
                 list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
          FROM documents WHERE doc_id < 200
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / len(list_distinct(list_concat(a.t, b.t))) >= 0.7
        """
    ).fetchall()
    truth_pairs = {(a, b) for a, b in truth}

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    got = DD.near_duplicate_pairs(d, threshold=0.7).collect()
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in got}

    assert got_pairs <= truth_pairs, "precision must be 1 (verified candidates)"
    recall = len(got_pairs) / max(len(truth_pairs), 1)
    assert recall >= 0.6, f"LSH recall {recall:.3f} below floor"


def test_embedding_lsh_candidates_recall(spark):
    """Bucketed embedding near-dup vs the exact tier on a corpus with
    REAL near-duplicates (base vectors + tiny perturbations,
    cos ≈ 0.999): sign-bit LSH must co-bucket almost all of them.
    P(same bucket) = (1 − θ/π)^planes, so recall ≈ 0.97 at θ ≈ 0.013;
    precision must be exactly 1 (candidates carry true cosine)."""
    import random

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    rng = random.Random(42)
    rows = []
    vid = 0
    for _base in range(40):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((vid, v))
        vid += 1
        # two perturbed near-dups of the base
        for _ in range(2):
            rows.append((vid, [x + rng.gauss(0, 0.01) for x in v]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_near_dup_pairs(e, threshold=0.99).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_near_dup_candidates(e, threshold=0.99).collect()
    }
    assert approx <= exact, "bucketed path produced a non-qualifying pair"
    assert len(exact) >= 100, "fixture failed to produce near-dup pairs"
    recall = len(approx) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below floor"


def test_simhash_fast_hash_structural_parity(spark, sf_dir):
    """fast_hash=True swaps the token hash (xxhash64 vs md5-derived) —
    hamming distances between DISTINCT token sets legitimately change
    (even hamming-0 signature collisions are hash-dependent), but any
    pair with IDENTICAL token sets has identical signatures under any
    hash, so those ground-truth pairs must surface at hamming 0 in
    both modes, and every emitted pair must respect max_hamming."""
    d = load_table(spark, sf_dir, "documents")
    truth = {
        (r["a"], r["b"])
        for r in d.select(
            "doc_id", F.sort_array(DD.token_set("text")).alias("t")
        )
        .alias("x")
        .join(
            d.select(
                "doc_id", F.sort_array(DD.token_set("text")).alias("t")
            ).alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    for fast in (False, True):
        got = DD.simhash_near_dup_pairs(
            d, bits=32, max_hamming=3, fast_hash=fast
        ).collect()
        zero = {(r["doc_a"], r["doc_b"]) for r in got if r["hamming"] == 0}
        assert truth <= zero, f"fast_hash={fast} missed identical-set pairs"
        assert all(0 <= r["hamming"] <= 3 for r in got)


def test_simhash_band_bits_contract():
    """bits not divisible by max_hamming+1 must be rejected — a
    truncated banding would silently void the pigeonhole recall
    guarantee (top bits in no band)."""
    with pytest.raises(ValueError, match="divisible"):
        DD.simhash_near_dup_pairs(None, bits=32, max_hamming=4)


def test_ivf_topk_recall_and_determinism(spark, sf_dir):
    """IVF-flat tier: measure recall@10 against the exact brute-force
    top-k and assert the probe actually restricts work (candidates <
    corpus).  The top-1 neighbor of the query is the query itself
    (cosine 1.0 in its own cell), so recall can never be 0; the floor
    asserts the inverted file is doing better than chance."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    approx = [r["vec_id"] for r in SIM.ivf_topk(e, q, k=10, n_cells=16, nprobe=2).collect()]
    exact = [r["vec_id"] for r in SIM.brute_force_topk(e, q, k=10).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert 0 in approx, "query vector must be its own nearest neighbor"
    assert recall >= 0.3, f"IVF recall@10 {recall:.2f} below floor"
    # probing 2/16 cells must scan a strict subset of the corpus
    assigned = SIM.ivf_assign(e, n_cells=16)
    n_total = e.count()
    probed = (
        assigned.groupBy("cell").count()
        .orderBy(F.desc("count")).limit(2)
        .agg(F.sum("count")).collect()[0][0]
    )
    assert probed < n_total
    # determinism across runs (no fitted model, no RNG)
    again = [r["vec_id"] for r in SIM.ivf_topk(e, q, k=10, n_cells=16, nprobe=2).collect()]
    assert again == approx


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_ivf_kmeans_tier_beats_bootstrap_recall(spark, sf_dir):
    """The seeded spark.ml KMeans quantizer (the production tier) must
    match or beat the deterministic bootstrap quantizer on mean
    recall@10 over NON-centroid queries.  Centroid queries (vec_id <
    n_cells) are excluded: the bootstrap trivially achieves perfect
    recall on its own centroids, which says nothing about quantizer
    quality.  Everything is seeded, so the comparison is exact and
    reproducible, and a repeat run must reproduce the kmeans result
    bit-for-bit (seed stability)."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    n_vec = e.count()
    qids = [qid for qid in (20, 50, 100, 150, 250) if qid < n_vec]
    assert len(qids) >= 3, "fixture too small for the recall panel"
    tot_boot = tot_km = 0.0
    first_km: list[int] | None = None
    for qid in qids:
        q = e.filter(F.col("vec_id") == qid)
        exact = {
            r["vec_id"] for r in SIM.brute_force_topk(e, q, k=10).collect()
        }
        boot = {
            r["vec_id"]
            for r in SIM.ivf_topk(e, q, k=10, n_cells=16, nprobe=2).collect()
        }
        km_rows = [
            r["vec_id"]
            for r in SIM.ivf_topk_kmeans(
                e, q, k=10, n_cells=16, nprobe=2
            ).collect()
        ]
        if first_km is None:
            first_km = km_rows
            first_qid = qid
        tot_boot += len(boot & exact) / len(exact)
        tot_km += len(set(km_rows) & exact) / len(exact)
    assert tot_km >= tot_boot, (
        f"kmeans IVF mean recall {tot_km / len(qids):.2f} below bootstrap "
        f"{tot_boot / len(qids):.2f}"
    )
    # seed stability: refit + requery reproduces exactly
    q = e.filter(F.col("vec_id") == first_qid)
    again = [
        r["vec_id"]
        for r in SIM.ivf_topk_kmeans(e, q, k=10, n_cells=16, nprobe=2).collect()
    ]
    assert again == first_km


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_ivf_kmeans_dominates_on_clustered_corpus(spark):
    """Where the fitted quantizer actually earns its keep: on a
    CLUSTERED corpus (8 Gaussian blobs), nprobe=1 kmeans-IVF recall is
    perfect because cells align with blobs, while the bootstrap's
    lowest-id centroids (all drawn from blob 0) split the space
    arbitrarily.  Measured: kmeans 1.0 vs bootstrap ~0.82."""
    import random

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    rng = random.Random(7)
    rows, vid = [], 0
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(8)]
    for c in centers:
        for _ in range(60):
            rows.append((vid, [x + rng.gauss(0, 0.15) for x in c]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tot_boot = tot_km = 0.0
    qids = (100, 200, 300, 400)
    for qid in qids:
        q = e.filter(F.col("vec_id") == qid)
        exact = {
            r["vec_id"] for r in SIM.brute_force_topk(e, q, k=10).collect()
        }
        boot = {
            r["vec_id"]
            for r in SIM.ivf_topk(e, q, k=10, n_cells=8, nprobe=1).collect()
        }
        km = {
            r["vec_id"]
            for r in SIM.ivf_topk_kmeans(
                e, q, k=10, n_cells=8, nprobe=1
            ).collect()
        }
        tot_boot += len(boot & exact) / 10
        tot_km += len(km & exact) / 10
    assert tot_km / len(qids) >= 0.95
    assert tot_km > tot_boot


def test_connected_components_closes_transitive_pairs(spark, gate_sides):
    """A~B and B~C cluster A,B,C together even though (A,C) was never
    emitted; separate components keep separate min-id labels; the
    64-edge chain forces multiple pointer-jump rounds."""
    for side in gate_sides:
        with side():
            pairs = spark.createDataFrame(
                [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22), (20, 23)],
                "doc_a long, doc_b long",
            )
            got = {r["node"]: r["cluster_id"] for r in DD.connected_components(pairs).collect()}
            assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                           20: 20, 21: 20, 22: 20, 23: 20}

            chain = spark.createDataFrame(
                [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
            )
            labs = DD.connected_components(chain).collect()
            assert len(labs) == 65 and {r["cluster_id"] for r in labs} == {0}


def test_dedup_canonical_keeps_one_per_cluster_plus_singletons(spark):
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(
            ["a b c", "a b c", "c b a", "unique one", "other text here"]
        )],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    kept = sorted(r["doc_id"] for r in DD.dedup_canonical(docs).collect())
    # docs 0,1,2 share a token set -> keep 0; 3 and 4 are singletons
    assert kept == [0, 3, 4]


def test_unigram_lm_nll_matches_hand_computation(spark):
    """Corpus 'a b a c' + 'b b': counts a=2 b=3 c=1, T=6, V=3; doc NLL
    is the add-one-smoothed fold in token-sorted order."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["nll_sum"], r["avg_nll"])
        for r in TX.unigram_lm_nll(docs).collect()
    }
    p = lambda c: (c + 1.0) / 9.0
    want1 = 2 * -math.log(p(2)) + 1 * -math.log(p(3)) + 1 * -math.log(p(1))
    want2 = 2 * -math.log(p(3))
    assert got[1][0] == 4 and got[2][0] == 2
    assert math.isclose(got[1][1], want1, rel_tol=1e-12)
    assert math.isclose(got[2][1], want2, rel_tol=1e-12)
    assert math.isclose(got[1][2], want1 / 4, rel_tol=1e-12)


def test_unigram_lm_nll_ranks_rare_token_soup_above_common_prose(spark):
    """The filter's point: a doc of corpus-rare tokens scores a higher
    average NLL than one built from the corpus's common tokens."""
    common = "the and of to " * 10
    docs = spark.createDataFrame(
        [(i, common) for i in range(9)] + [(9, "zqx jvw kpf trd")],
        "doc_id long, text string",
    )
    scores = {r["doc_id"]: r["avg_nll"] for r in TX.unigram_lm_nll(docs).collect()}
    assert scores[9] > scores[0]


def test_source_mix_scales_to_binding_source(spark):
    """Equal targets over unequal sources: the under-represented source
    keeps everything (rate 1), the over-represented one sheds toward
    the target; counts stay exact integers."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    docs = spark.createDataFrame(
        [(i, "tok " * 10, "A") for i in range(40)]
        + [(100 + i, "tok " * 10, "B") for i in range(10)],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in CO.source_mix(docs, {"A": 1.0, "B": 1.0}).collect()}
    assert out["B"]["rate"] == 1.0 and out["B"]["kept_docs"] == 10
    # A's target share is 0.5 but it holds 0.8 of tokens -> rate 0.25
    assert abs(out["A"]["rate"] - 0.25) < 1e-9
    assert out["A"]["kept_docs"] < 40
    assert out["A"]["n_tokens"] == 40 * 10 and out["B"]["n_tokens"] == 10 * 10


def test_identical_set_fast_path_matches_cc(spark, sf_dir):
    """dedup_identical_token_sets (zero-iteration equivalence groups)
    keeps exactly the same documents as the general CC-based
    dedup_canonical at threshold 1.0 — the corpus_pipeline fast-path
    contract."""
    d = load_table(spark, sf_dir, "documents")
    fast = {r["doc_id"] for r in DD.dedup_identical_token_sets(d).select("doc_id").collect()}
    general = {r["doc_id"] for r in DD.dedup_canonical(d).select("doc_id").collect()}
    assert fast == general and len(fast) > 0


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """PQ-ADC tier: the query vector is in the codebook, so its own
    codes are exact (ADC distance 0) and it must rank first; recall@10
    vs brute force has a floor (random 64-dim data with 16-entry
    codebooks is PQ's worst case — 0.3-0.4 observed); reruns are
    bit-identical (no fitted model, no RNG)."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = SIM.pq_topk(e, q, k=10).collect()
    approx = [r["vec_id"] for r in out]
    assert approx[0] == 0, "query must be its own nearest neighbor"
    assert out[0]["approx_dist"] == 0.0
    exact = [r["vec_id"] for r in SIM.brute_force_topk(e, q, k=10).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.2, f"PQ recall@10 {recall:.2f} below floor"
    again = [r["vec_id"] for r in SIM.pq_topk(e, q, k=10).collect()]
    assert again == approx
    # every vector encodes to exactly m codes, all inside the codebook
    codes = SIM.pq_codes(e)
    n = e.count()
    assert codes.count() == n * 8
    rng = codes.agg(F.min("code"), F.max("code")).collect()[0]
    assert rng[0] >= 0 and rng[1] < 16


def test_semdedup_drops_semantic_dups_consistently(spark, sf_dir):
    """Keep decisions must agree with a direct recomputation: a vector
    is dropped iff a lower-id same-cell vector reaches the threshold;
    the gate must actually drop something (the corpus has planted
    near-dups)."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.semdedup(e, n_cells=16, threshold=0.45).collect()
    dropped = [r["vec_id"] for r in out if not r["keep"]]
    assert len(dropped) > 0, "planted near-dups must be dropped"
    assert len(dropped) < len(out)
    # recompute one dropped vector's justification brute-force
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in e.collect()}
    cells = {r["vec_id"]: r["cell"] for r in out}
    vid = dropped[0]
    peers = [
        o for o in vecs
        if o < vid and cells[o] == cells[vid]
    ]
    best = max(
        float(vecs[vid] @ vecs[o])
        / (np.linalg.norm(vecs[vid]) * np.linalg.norm(vecs[o]))
        for o in peers
    )
    assert best >= 0.45 - 1e-9


def test_pq_rerank_beats_or_matches_pq_recall(spark, sf_dir):
    """Exact re-scoring of a 50-candidate shortlist must recall at
    least as much of the true top-10 as the raw PQ top-10, and the
    query must rank itself first with cosine 1."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in SIM.brute_force_topk(e, q, k=10).collect()]
    raw = [r["vec_id"] for r in SIM.pq_topk(e, q, k=10).collect()]
    rr = SIM.pq_rerank_topk(e, q, k=10, n_candidates=50).collect()
    rer = [r["vec_id"] for r in rr]
    assert rer[0] == 0 and abs(rr[0]["cos_sim"] - 1.0) < 1e-12
    r_raw = len(set(raw) & set(exact)) / 10
    r_rer = len(set(rer) & set(exact)) / 10
    assert r_rer >= r_raw, (r_rer, r_raw)
    # within the shortlist, ordering is exactly by cosine
    sims = [r["cos_sim"] for r in rr]
    assert sims == sorted(sims, reverse=True)


def test_knn_graph_recall_and_shape(spark, sf_dir):
    """Every vector gets exactly k in-bucket neighbors (buckets are
    larger than k at 4 planes), edges are symmetric in candidate
    generation (dst's own list may differ — directed kNN), and
    in-bucket ranking matches brute force for a sampled source."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    g = SIM.knn_graph(e, k=3, n_planes=4).collect()
    n = e.count()
    per_src: dict[int, list] = {}
    for r in g:
        per_src.setdefault(r["src"], []).append(r)
    assert len(per_src) == n, "every vector must have a neighbor list"
    assert all(len(v) == 3 for v in per_src.values())
    # recompute one source's in-bucket ranking brute-force
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in e.collect()}
    buckets = {
        r["id"]: r["bucket"]
        for r in (
            e.select(
                F.col("vec_id").alias("id"),
                SIM.lsh_bucket(F.col("embedding"), n_planes=4).alias("bucket"),
            ).collect()
        )
    }
    src = min(per_src)
    mates = [o for o in vecs if o != src and buckets[o] == buckets[src]]
    want = sorted(
        mates,
        key=lambda o: (
            -(vecs[src] @ vecs[o])
            / (np.linalg.norm(vecs[src]) * np.linalg.norm(vecs[o])),
            o,
        ),
    )[:3]
    got = [r["dst"] for r in sorted(per_src[src], key=lambda r: r["rank"])]
    assert got == want


def test_incremental_dedup_is_exactly_the_new_touching_slice(spark, sf_dir):
    """Incremental pairs == full pairs restricted to 'at least one side
    new', and no old-old pair leaks through."""
    from streaming_forex_data_pipeline_spark.llm import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    cutoff = (d.agg(F.max("doc_id")).collect()[0][0] + 1) * 4 // 5
    full = {
        (r["doc_a"], r["doc_b"])
        for r in DD.near_duplicate_pairs(d, threshold=1.0, bands=1).collect()
    }
    want = {p for p in full if p[0] >= cutoff or p[1] >= cutoff}
    got = {
        (r["doc_a"], r["doc_b"])
        for r in DD.incremental_near_dup_pairs(
            d, F.col("doc_id") >= cutoff, threshold=1.0, bands=1
        ).collect()
    }
    assert got == want and len(got) > 0
    assert all(a >= cutoff or b >= cutoff for a, b in got)


def test_ivf_pq_equals_pq_restricted_to_probed_cells(spark, sf_dir):
    """IVF-PQ == the PQ-ADC ranking computed only over vectors whose
    IVF cell is among the query's probed cells; the query probes its
    own cell so it still ranks itself first."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    got = [(r["vec_id"], r["approx_dist"])
           for r in SIM.ivf_pq_topk(e, q, k=10, nprobe=4).collect()]
    assert got[0][0] == 0 and got[0][1] == 0.0
    # reference: full PQ distances joined to cell membership
    cells = {r["id"]: r["cell"]
             for r in SIM.ivf_assign(e, 16).select("id", "cell").collect()}
    full = {r["vec_id"]: r["approx_dist"]
            for r in SIM.pq_topk(e, q, k=e.count()).collect()}
    # probed cells: 4 centroids nearest the query by cosine
    import numpy as np
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in e.collect()}
    qv = vecs[0]

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def seq_norm(a):
        return seq_dot(a, a) ** 0.5

    # sequential left-to-right fold, bit-identical to the engine's
    # F.aggregate — numpy's pairwise/SIMD summation can differ in the
    # last ulp and flip a knife-edge nprobe boundary
    probes = sorted(
        (cid for cid in range(16)),
        key=lambda cid: (
            -seq_dot(qv, vecs[cid]) / (seq_norm(qv) * seq_norm(vecs[cid])),
            cid,
        ),
    )[:4]
    want = sorted(
        ((vid, d) for vid, d in full.items() if cells[vid] in probes),
        key=lambda t: (t[1], t[0]),
    )[:10]
    assert got == want


def test_semantic_dedup_apply_matches_keep_flags(spark, sf_dir):
    """The applied corpus == documents whose semdedup keep flag is
    true (ids are shared between embeddings and documents)."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.plans.registry import all_queries

    e = load_table(spark, sf_dir, "embeddings")
    keeps = {
        r["vec_id"]
        for r in SIM.semdedup(e, 16, 0.45).filter(F.col("keep")).collect()
    }
    kept_docs = {
        r["doc_id"]
        for r in all_queries()["semantic_dedup_apply"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert kept_docs == keeps


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL contract: 64->16 sign projection roughly preserves pairwise
    squared L2 distances — correlation between original and projected
    pair distances stays high, and every projection is deterministic
    across runs."""
    import numpy as np

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").limit(30)
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in e.collect()
    }
    rows = SIM.random_projection(e, m=16, dim=64).collect()
    proj: dict[int, np.ndarray] = {}
    for r in rows:
        proj.setdefault(r["vec_id"], np.zeros(16))[r["dim"]] = r["value"]
    ids = sorted(orig)
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d_orig = np.sum((orig[ids[i]] - orig[ids[j]]) ** 2)
            d_proj = np.sum((proj[ids[i]] - proj[ids[j]]) ** 2)
            ratios.append(d_proj / d_orig)
    r = np.array(ratios)
    # JL contract is the DISTORTION RATIO (not correlation — iid-vector
    # pair distances concentrate, so correlation is uninformative):
    # E[ratio] = 1 with spread ~ sqrt(2/m) ≈ 0.35 at m=16.  Measured on
    # this fixture: mean 0.975, p5 0.49, p95 1.56.
    assert 0.8 < r.mean() < 1.2, f"JL mean distortion {r.mean():.3f}"
    assert (np.abs(r - 1.0) < 1.0).mean() > 0.9, (
        f"too many pairs outside 2x distortion: p95={np.percentile(r, 95):.2f}"
    )
    again = SIM.random_projection(e, m=16, dim=64).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_temperature_mixture_apportionment(spark, sf_dir):
    """Largest-remainder invariants: allocations are non-negative, sum
    EXACTLY to the budget, and order consistently with token mass."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    d = load_table(spark, sf_dir, "documents")
    out = CO.temperature_mixture(d, budget=999_983).collect()  # prime budget
    assert len(out) > 1
    assert sum(r["alloc_tokens"] for r in out) == 999_983
    assert all(r["alloc_tokens"] >= 0 for r in out)
    by_tokens = sorted(out, key=lambda r: r["n_tokens"])
    # sqrt weighting is monotone: more tokens never means fewer allocs
    # beyond the +-1 largest-remainder quantum
    for a, b in zip(by_tokens, by_tokens[1:]):
        assert b["alloc_tokens"] >= a["alloc_tokens"] - 1


def test_bloom_filter_no_false_negatives_and_fp_bound(spark, sf_dir):
    """Bloom invariants: every indexed fingerprint MUST probe true (no
    false negatives, at any filter width); squeezing the filter to a
    tiny width forces false positives, which must stay within a loose
    multiple of the analytic (1-e^(-kn/m))^k bound."""
    import math

    d = load_table(spark, sf_dir, "documents")
    index = d.filter(F.col("doc_id") % 5 != 0)
    others = d.filter(F.col("doc_id") % 5 == 0)
    n = index.count()

    # generous width: members all hit, non-members all miss (corpus has
    # no cross-doc exact dups)
    bloom = DD.bloom_build(index)
    hits = {r["doc_id"]: r["bloom_hit"] for r in DD.bloom_probe(d, bloom).collect()}
    assert all(hits[r["doc_id"]] for r in index.select("doc_id").collect())

    # tiny width: FPs must appear (fill ratio ~1) but never FNs
    m_tiny = 1 << 9
    bloom_tiny = DD.bloom_build(index, m_bits=m_tiny)
    tiny = {
        r["doc_id"]: r["bloom_hit"]
        for r in DD.bloom_probe(d, bloom_tiny, m_bits=m_tiny).collect()
    }
    assert all(tiny[r["doc_id"]] for r in index.select("doc_id").collect()), (
        "false negative under a saturated filter — impossible for a "
        "correct Bloom"
    )
    others_ids = [r["doc_id"] for r in others.select("doc_id").collect()]
    fp_rate = sum(tiny[i] for i in others_ids) / len(others_ids)
    bound = (1 - math.exp(-DD.BLOOM_K * n / m_tiny)) ** DD.BLOOM_K
    assert fp_rate > 0.5, f"saturated filter should FP heavily, got {fp_rate}"
    assert fp_rate <= min(1.0, 2 * bound + 0.05), (
        f"fp_rate {fp_rate:.3f} vs bound {bound:.3f}"
    )


def test_minhash_ml_tier_recall_and_precision(spark, duck, sf_dir):
    """The spark.ml approxSimilarityJoin tier must match the hand-built
    pipeline's contract: precision exactly 1 (candidates re-verified
    with exact Jaccard) and recall >= the same floor, against the
    DuckDB-computed exact truth; a reseeded rerun reproduces exactly."""
    truth = duck.execute(
        r"""
        WITH toks AS (
          SELECT doc_id,
                 list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
          FROM documents WHERE doc_id < 200
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / len(list_distinct(list_concat(a.t, b.t))) >= 0.7
        """
    ).fetchall()
    truth_pairs = {(a, b) for a, b in truth}

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    got = DD.near_duplicate_pairs_ml(d, threshold=0.7).collect()
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert got_pairs <= truth_pairs, "ml tier precision must be 1"
    recall = len(got_pairs) / max(len(truth_pairs), 1)
    assert recall >= 0.6, f"ml tier recall {recall:.3f} below floor"
    again = {(r["doc_a"], r["doc_b"])
             for r in DD.near_duplicate_pairs_ml(d, threshold=0.7).collect()}
    assert again == got_pairs


def test_cms_overcount_and_mergeability(spark, sf_dir):
    """Count-Min invariants under FORCED collisions (width=4): every
    estimate >= its true count, and the sketch of a union equals the
    counter-wise SUM of per-part sketches — the property that lets a
    streaming ingest maintain one sketch by addition."""
    from streaming_forex_data_pipeline_spark.llm import vocab as VO

    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)

    tiny_w = 4
    truth = (
        d.select(F.explode(VO.words_array("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    sketch = VO.cms_build(d, width=tiny_w)
    est = {
        r["tok"]: r["est_count"]
        for r in VO.cms_estimate(truth, sketch, width=tiny_w).collect()
    }
    true = {r["tok"]: r["true_count"] for r in truth.collect()}
    assert all(est[t] >= c for t, c in true.items())
    assert any(est[t] > c for t, c in true.items()), (
        "width=4 must force collisions or the test is vacuous"
    )

    merged = {
        (r["row"], r["bucket"]): r["c"]
        for r in VO.cms_build(a, width=tiny_w)
        .unionByName(VO.cms_build(b, width=tiny_w))
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    whole = {
        (r["row"], r["bucket"]): r["c"]
        for r in VO.cms_build(d, width=tiny_w).collect()
    }
    assert merged == whole


def test_bigram_lm_detects_shuffled_text(spark):
    """The motivating property: shuffling a document's words leaves its
    unigram NLL unchanged (same token multiset) but raises its bigram
    NLL (improbable transitions) — the quality axis the order-2 model
    adds."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    words = base.split()
    shuffled = " ".join(words[::2] + words[1::2][::-1])
    # background corpus: many natural copies + one shuffled doc
    rows = [(i, base) for i in range(20)] + [(99, shuffled)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {r["doc_id"]: r["avg_nll"] for r in TX.unigram_lm_nll(d).collect()}
    bi = {r["doc_id"]: r["avg_nll"] for r in TX.bigram_lm_nll(d).collect()}
    assert uni[99] == pytest.approx(uni[0]), "unigram must not distinguish"
    assert bi[99] > bi[0] * 1.5, (
        f"bigram must punish shuffling: {bi[99]:.3f} vs {bi[0]:.3f}"
    )


def test_dsir_prefers_target_like_documents(spark):
    """DSIR's motivating property (Xie et al. 2023): documents drawn
    from the target distribution get HIGHER importance log-weights
    than out-of-domain documents, so resampling by weight shifts the
    corpus toward the target domain."""
    en = "the cat sat on the mat and the dog ran to the park"
    de = "der hund lief durch den wald und der fuchs sprang hoch"
    rows = (
        [(i, en, "en") for i in range(10)]
        + [(100 + i, de, "de") for i in range(10)]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = d.filter(d.lang == "en")
    w = {r["doc_id"]: r["logratio"] for r in TX.dsir_logratio(d, target).collect()}
    assert len(w) == 20
    assert w[0] > 0 > w[100], (
        f"target-like docs must score above out-of-domain: {w[0]:.3f} vs {w[100]:.3f}"
    )
    # weights are per-document functions of the two fitted models:
    # identical docs get identical weights
    assert w[0] == w[9] and w[100] == w[109]


def test_hll_estimates_within_expected_error(spark):
    """HLL with m=64 registers has relative standard error
    1.04/sqrt(64) = 13%: on 5000 distinct values (fed with duplicates
    — the sketch must be insensitive to multiplicity) the estimate
    lands within 4 sigma, and the register file is insensitive to
    duplicate occurrences by construction."""
    from streaming_forex_data_pipeline_spark.llm import vocab as VO

    items = spark.range(5000).select(
        F.concat(F.lit("value-"), F.col("id")).alias("item")
    )
    dups = items.union(items).union(items)  # multiplicity 3
    regs_once = {
        (r["bucket"], r["max_rho"]) for r in VO.hll_registers(items).collect()
    }
    regs_dup = {
        (r["bucket"], r["max_rho"]) for r in VO.hll_registers(dups).collect()
    }
    assert regs_once == regs_dup, "duplicates must not move any register"
    est = VO.hll_estimate(VO.hll_registers(dups)).collect()[0]["hll_est"]
    assert abs(est - 5000) / 5000 < 4 * 1.04 / 8, (
        f"estimate {est:.0f} outside 4-sigma of 5000"
    )


def test_hll_registers_merge_by_max(spark):
    """The streaming/partition-merge contract: the register file of a
    union equals the element-wise MAX of the parts' files — what lets
    per-batch sketches combine without re-reading data."""
    from streaming_forex_data_pipeline_spark.llm import vocab as VO

    a = spark.range(0, 800).select(F.concat(F.lit("a-"), "id").alias("item"))
    b = spark.range(0, 900).select(F.concat(F.lit("b-"), "id").alias("item"))
    ra = {r["bucket"]: r["max_rho"] for r in VO.hll_registers(a).collect()}
    rb = {r["bucket"]: r["max_rho"] for r in VO.hll_registers(b).collect()}
    ru = {
        r["bucket"]: r["max_rho"]
        for r in VO.hll_registers(a.union(b)).collect()
    }
    assert ru == {k: max(ra[k], rb[k]) for k in ra}


def test_source_similarity_estimates_track_exact_jaccard(spark):
    """MinHash correctness on controlled sets: a source pair sharing
    most shingles must estimate high, a disjoint pair must estimate 0,
    and the exact tier must agree with hand-computed Jaccard."""
    mk = lambda words: " ".join(words)
    base = [f"w{i}" for i in range(40)]
    rows = [
        (0, mk(base), "A"),
        (1, mk(base[:36] + ["x1", "x2", "x3", "x4"]), "B"),
        (2, mk([f"z{i}" for i in range(40)]), "C"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["src_a"], r["src_b"]): r
        for r in DD.source_minhash_similarity(
            d, n_hashes=16, include_exact=True
        ).collect()
    }
    ab, ac = out[("A", "B")], out[("A", "C")]
    # A/B share 32 of their 5-gram shingles (36 each, 32 common):
    assert ab["jaccard_exact"] == 32 / 40
    assert ab["jaccard_est"] > 0.5
    assert ac["n_inter"] == 0 and ac["jaccard_est"] == 0.0


def test_gumbel_noise_is_standard_gumbel_and_deterministic(spark):
    """The seeded md5-derived Gumbel draws must (a) be reproducible,
    (b) vary with the seed, and (c) match Gumbel(0,1) moments: mean ~
    Euler-Mascheroni 0.5772, var ~ pi^2/6 ~ 1.6449."""
    import math

    base = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    g1 = base.select(TX.gumbel_noise(F.col("doc_id"), "s1").alias("g"))
    stats = g1.agg(
        F.avg("g").alias("m"), F.var_pop("g").alias("v")
    ).collect()[0]
    assert abs(stats["m"] - 0.5772) < 0.08
    assert abs(stats["v"] - math.pi**2 / 6) < 0.25
    a = [r["g"] for r in g1.limit(50).collect()]
    b = [
        r["g"]
        for r in base.select(
            TX.gumbel_noise(F.col("doc_id"), "s1").alias("g")
        ).limit(50).collect()
    ]
    c = [
        r["g"]
        for r in base.select(
            TX.gumbel_noise(F.col("doc_id"), "s2").alias("g")
        ).limit(50).collect()
    ]
    assert a == b  # same seed -> bit-identical draws
    assert a != c  # different seed -> different draws


def test_gumbel_topk_samples_proportional_to_weight(spark):
    """Gumbel-top-k distribution sanity: items with e^2 ~ 7.4x weight
    must win selection slots at far above their 20% population share
    (expected share ~ 65%), and an equal-weight population must NOT
    concentrate (uniform sampling)."""
    base = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 20, 2.0).otherwise(0.0).alias("logw"),
    )
    heavy = total = 0
    for seed in ("s1", "s2", "s3", "s4", "s5"):
        top = (
            base.select(
                "doc_id",
                (F.col("logw") + TX.gumbel_noise(F.col("doc_id"), seed)).alias(
                    "key"
                ),
            )
            .orderBy(F.desc("key"), "doc_id")
            .limit(10)
            .collect()
        )
        heavy += sum(1 for r in top if r["doc_id"] < 20)
        total += 10
    assert heavy / total > 0.40  # ~0.65 expected; 0.20 under no weighting
    # equal weights: selections spread across the id range, not the head
    flat = (
        base.select(
            "doc_id", TX.gumbel_noise(F.col("doc_id"), "s9").alias("key")
        )
        .orderBy(F.desc("key"), "doc_id")
        .limit(10)
        .collect()
    )
    assert sum(1 for r in flat if r["doc_id"] < 20) <= 6


def test_dsir_gumbel_topk_matches_manual_perturbation(spark, sf_dir):
    """The sampled tier must equal top-k over logratio + gumbel_noise
    computed independently — i.e. the registered face adds NOTHING
    beyond the documented perturb-then-rank."""
    d = load_table(spark, sf_dir, "documents")
    tgt = d.filter(F.col("lang") == "en")
    got = {
        r["doc_id"]: r["sel_rank"]
        for r in TX.dsir_gumbel_topk(d, tgt, k=20, seed="g1").collect()
    }
    scored = TX.dsir_logratio(d, tgt)
    manual = (
        scored.select(
            "doc_id",
            F.round(
                F.col("logratio") + TX.gumbel_noise(F.col("doc_id"), "g1"), 6
            ).alias("key"),
        )
        .orderBy(F.desc("key"), "doc_id")
        .limit(20)
        .collect()
    )
    assert {r["doc_id"] for r in manual} == set(got)


def test_weighted_reservoir_sample_proportional_and_mergeable(spark):
    """A-Res sanity: (a) heavy rows win slots roughly in proportion to
    weight across seeds, (b) the sample is a pure top-k on the key, so
    merging per-partition top-ks equals the global sample (the
    streaming merge law), and (c) non-positive weights are excluded."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    base = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 20, 10.0).otherwise(1.0).alias("w"),
    )
    heavy = total = 0
    for seed in ("r1", "r2", "r3", "r4", "r5"):
        got = CO.weighted_reservoir_sample(
            base, k=10, weight_col="w", seed=seed
        ).collect()
        heavy += sum(1 for r in got if r["doc_id"] < 20)
        total += 10
    # heavy mass 200 of 280 => ~0.71 expected share; 0.20 if unweighted
    assert heavy / total > 0.45

    full = CO.weighted_reservoir_sample(base, k=10, weight_col="w", seed="r1")
    lo = CO.weighted_reservoir_sample(
        base.filter(F.col("doc_id") < 50), k=10, weight_col="w", seed="r1",
        keep_raw=True,
    )
    hi = CO.weighted_reservoir_sample(
        base.filter(F.col("doc_id") >= 50), k=10, weight_col="w", seed="r1",
        keep_raw=True,
    )
    merged = (
        lo.select("doc_id", "res_key_raw")
        .unionByName(hi.select("doc_id", "res_key_raw"))
        .orderBy(F.desc("res_key_raw"), "doc_id")
        .limit(10)
    )
    assert [r["doc_id"] for r in merged.collect()] == [
        r["doc_id"] for r in full.orderBy("sample_rank").collect()
    ]

    with_bad = base.withColumn(
        "w", F.when(F.col("doc_id") == 3, -1.0).otherwise(F.col("w"))
    )
    got = CO.weighted_reservoir_sample(
        with_bad, k=100, weight_col="w", seed="r1"
    ).collect()
    assert all(r["doc_id"] != 3 for r in got) and len(got) == 99


def test_weighted_reservoir_sample_large_weights_no_key_collapse(spark):
    """Round-7 ADVICE regression: with realistic weights (1e4-1e6
    chars) the key ln(u)/w has magnitude ~1e-6, so ranking on a
    6dp-ROUNDED key collapses most rows into a 0.000000 tie and the
    'sample' degenerates to ascending doc_id.  Ranking must happen on
    the unrounded double: the selection must equal the A-Res top-k
    computed independently in Python from the same md5 uniforms, and
    must NOT be the first k ids."""
    import hashlib
    import math

    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    n, k, seed = 1000, 25, "big1"
    base = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (10_000.0 + (F.col("id") % 97).cast("double") * 10_000.0).alias("w"),
    )
    got = [
        r["doc_id"]
        for r in CO.weighted_reservoir_sample(
            base, k=k, weight_col="w", seed=seed
        ).orderBy("sample_rank").collect()
    ]

    def key(i: int) -> float:
        h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:13], 16)
        u = (h + 0.5) / 2.0**52
        return math.log(u) / (10_000.0 + (i % 97) * 10_000.0)

    want = sorted(range(n), key=lambda i: (-key(i), i))[:k]
    assert got == want
    assert got != list(range(k)), "selection degenerated to doc_id order"


def test_histogram_quantiles_within_one_bin_of_exact(spark, sf_dir):
    """Sketch-quantile accuracy contract: every estimate must land
    within one bin width of the EXACT quantile (the histogram bound),
    and the hit bin's cumulative bracket must contain the target rank."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    d = load_table(spark, sf_dir, "documents")
    sk = CO.histogram_sketch(d, "n_chars", lo=0.0, hi=1000.0, n_bins=50)
    qs = (0.25, 0.5, 0.9, 0.99)
    got = {r["q"]: r for r in CO.histogram_quantiles(sk, qs).collect()}
    import math

    vals = sorted(r["n_chars"] for r in d.select("n_chars").collect())
    n = len(vals)
    for q in qs:
        target = math.ceil(q * n)
        exact = vals[max(0, target - 1)]
        r = got[q]
        assert abs(r["est_value"] - exact) <= 20.0 + 1e-9, (
            f"q={q}: est {r['est_value']} vs exact {exact}"
        )
        assert r["cum_before"] < target <= r["cum_before"] + r["bin_count"]


def test_hll_by_group_matches_spine_path_per_group(spark, sf_dir):
    """The spine-free grouped fold must be BIT-identical to running
    the global register-file + estimate path on each group's items
    separately (same S*, same v_zero, same float estimate)."""
    from streaming_forex_data_pipeline_spark.llm import vocab as VO
    from streaming_forex_data_pipeline_spark.llm.corpus import word_ngrams

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    toks = d.select(
        "source", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    items = toks.select(
        "source", F.explode(word_ngrams(F.col("t"), 5)).alias("item")
    )
    got = {
        r["source"]: (r["v_zero"], r["s_star"], r["hll_est"])
        for r in VO.hll_by_group(items, "source").collect()
    }
    assert len(got) == 3
    for src in got:
        solo = VO.hll_estimate(
            VO.hll_registers(items.filter(F.col("source") == src))
        ).collect()[0]
        assert got[src] == (solo["v_zero"], solo["s_star"], solo["hll_est"])


def test_source_kl_detects_distribution_drift(spark):
    """KL sanity on controlled sources: a source matching the corpus
    mix scores near 0, a token-flooded source scores well above it,
    and every KL is non-negative (Gibbs)."""
    from streaming_forex_data_pipeline_spark.llm.text import (
        source_kl_divergence,
    )

    balanced = " ".join(f"w{i}" for i in range(40))
    flood = " ".join(["spam"] * 40)
    rows = (
        [(i, balanced, "bal") for i in range(10)]
        + [(100 + i, balanced, "bal2") for i in range(10)]
        + [(200 + i, flood, "flood") for i in range(10)]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kl = {r["source"]: r["kl"] for r in source_kl_divergence(d).collect()}
    assert all(v >= -1e-12 for v in kl.values())
    # bal/bal2 are identical mixes of 2/3 of the corpus mass; flood is
    # one token carrying 1/3 of corpus mass concentrated at p=1
    assert kl["flood"] > kl["bal"] + 0.5
    assert abs(kl["bal"] - kl["bal2"]) < 1e-12


def test_split_leakage_flags_straddling_duplicates(spark):
    """Controlled fixture: a validation doc sharing 4-grams with a
    training doc must be flagged; one with unique text must not."""
    import hashlib

    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    def bucket(i: int) -> int:
        h = hashlib.md5(f"split:{i}".encode()).hexdigest()[:15]
        return int(h, 16) % 100

    train_ids = [i for i in range(400) if bucket(i) < 80]
    val_ids = [i for i in range(400) if 80 <= bucket(i) < 90]
    assert len(train_ids) >= 2 and len(val_ids) >= 2
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (train_ids[0], shared, "A"),
        (train_ids[1], "one two three four five six", "A"),
        (val_ids[0], shared + " eta", "A"),  # leaks via the shared 4-grams
        (val_ids[1], "u1 u2 u3 u4 u5 u6", "A"),  # unique -> clean
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in CO.split_leakage(d, n=4).collect()}
    a = out["A"]
    assert a["n_val_docs"] == 2 and a["n_leaked"] == 1
    assert abs(a["leak_frac"] - 0.5) < 1e-12


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Multi-probe must find at least as many of the true top-k as the
    single-bucket probe on every query, and strictly more in aggregate
    on a fixture where near neighbors straddle hyperplanes."""
    import random

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    rng = random.Random(7)
    rows = []
    vid = 0
    for _base in range(30):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((vid, v))
        vid += 1
        for _ in range(3):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in v]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = e.withColumn("bucket", SIM.lsh_bucket(F.col("embedding")))

    def topk_found(probe_multi: bool, qid: int, k: int = 5) -> set:
        q = b.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qe"),
            F.col("bucket").alias("qb"),
            SIM.multiprobe_buckets(F.col("bucket")).alias("probes"),
        )
        j = b.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != qid)
        j = j.filter(
            F.array_contains(F.col("probes"), F.col("bucket"))
            if probe_multi
            else (F.col("bucket") == F.col("qb"))
        )
        got = (
            j.select(
                "vec_id", SIM.cosine(F.col("embedding"), F.col("qe")).alias("c")
            )
            .orderBy(F.desc("c"), "vec_id")
            .limit(k)
            .collect()
        )
        return {r["vec_id"] for r in got}

    truth = {}
    base = b.select("vec_id", "embedding").collect()
    import math

    vecs = {r["vec_id"]: r["embedding"] for r in base}

    def cos(a, bb):
        d = sum(x * y for x, y in zip(a, bb))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in bb))
        return d / (na * nb)

    single_hits = multi_hits = 0
    for qid in (0, 4, 8, 12):
        qv = vecs[qid]
        exact = {
            v
            for v, _ in sorted(
                ((v, cos(qv, w)) for v, w in vecs.items() if v != qid),
                key=lambda t: (-t[1], t[0]),
            )[:5]
        }
        s = topk_found(False, qid)
        m = topk_found(True, qid)
        single_hits += len(s & exact)
        multi_hits += len(m & exact)
        assert len(m & exact) >= len(s & exact)
    assert multi_hits > single_hits, (
        f"multi-probe found no extra true neighbors "
        f"({multi_hits} vs {single_hits})"
    )


def test_funnel_is_strictly_sequential(spark, tmp_path):
    """A stage only counts when its first qualifying event happens
    STRICTLY AFTER the previous stage's first qualifying event: a user
    whose only view precedes their signup must stop at signup, and a
    later re-view re-opens the funnel."""
    import datetime as dt

    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        funnel_conversion,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, etype, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), user, etype, 1.0, "{}")

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, "signup", 0), ev(2, 1, "view", 10),
        ev(3, 1, "click", 20), ev(4, 1, "purchase", 30),
        # user 2: view BEFORE signup only -> stops at signup
        ev(5, 2, "view", 0), ev(6, 2, "signup", 10),
        # user 3: view before AND after signup -> reaches view via the
        # later view, but clicks before that view -> stops at view
        ev(7, 3, "view", 0), ev(8, 3, "signup", 10),
        ev(9, 3, "click", 15), ev(10, 3, "view", 20),
        # user 4: never signs up -> not in the funnel at all
        ev(11, 4, "view", 0), ev(12, 4, "purchase", 5),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "funnel_events")
    df.write.parquet(f"{src}/events.parquet")
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_conversion(spark, src).collect()
    }
    assert got == {"signup": 3, "view": 2, "click": 1, "purchase": 1}


def test_group_holdout_puts_exact_dups_on_one_side(spark, tmp_path):
    """Exact duplicates (same normalized text) must land in the same
    split — the leakage-proof-by-construction contract — and the
    query's own n_straddle column must certify it.  The testdata
    corpus has no exact dups, so this builds one."""
    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        group_holdout_split,
    )

    rows = [(i, "the same   text", "en", "s0", 13) for i in range(40)] + [
        (100 + i, f"unique text {i}", "en", "s1", 12) for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    src = str(tmp_path / "holdout_docs")
    df.write.parquet(f"{src}/documents.parquet")
    out = group_holdout_split(spark, src).collect()
    assert all(r["n_straddle"] == 0 for r in out)
    # 61 groups total (1 dup group + 60 unique); the 40 copies count
    # as docs on exactly one side
    assert sum(r["n_groups"] for r in out) == 61
    assert sum(r["n_docs"] for r in out) == 100
    sides_with_dup_mass = [r for r in out if r["n_docs"] - r["n_groups"] == 39]
    assert len(sides_with_dup_mass) == 1, (
        "the 40-copy group was not kept whole on one side"
    )


def test_quantize_int8_error_bounded_by_half_scale(spark, sf_dir):
    """Symmetric max-abs int8 quantization guarantees per-dimension
    |err| <= scale_d / 2; the per-vector max_abs_err must respect the
    corpus-wide bound max_d(scale_d)/2 and reconstruction cosine must
    stay near 1."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        quantize_int8,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    max_scale = (
        e.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg((F.max(F.abs(F.col("v").cast("double"))) / 127).alias("s"))
        .agg(F.max("s"))
        .collect()[0][0]
    )
    out = quantize_int8(spark, sf_dir)
    stats = out.agg(
        F.max("max_abs_err").alias("worst"), F.min("cos_recon").alias("c")
    ).collect()[0]
    assert stats["worst"] <= max_scale / 2 + 1e-9
    assert stats["c"] > 0.999


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_ngram_novelty_first_decile_is_all_novel(spark, sf_dir):
    """doc_id 0's grams are novel by definition, so decile 0's novelty
    is positive; deciles partition all gram-bearing docs; and
    novel <= total everywhere with the global novel sum equal to the
    number of DISTINCT grams in the corpus."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.corpus import word_ngrams
    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        ngram_novelty,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    out = ngram_novelty(spark, sf_dir).collect()
    assert all(r["novel_grams"] <= r["total_grams"] for r in out)
    d = load_table(spark, sf_dir, "documents")
    n_distinct = (
        d.select(
            F.explode(
                word_ngrams(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 5
                )
            ).alias("g")
        )
        .agg(F.countDistinct("g"))
        .collect()[0][0]
    )
    assert sum(r["novel_grams"] for r in out) == n_distinct


def test_reservoir_by_group_groups_are_independent(spark):
    """Per-group A-Res keys depend only on (seed, id), so adding a new
    group (or re-partitioning) must not perturb any other group's
    sample — the property that makes per-shard sampling reproducible
    under corpus growth."""
    from streaming_forex_data_pipeline_spark.llm import corpus as CO

    base = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("src"),
        (F.col("id") % 7 + 1.0).alias("w"),
    )
    before = {
        (r["src"], r["sample_rank"]): r["doc_id"]
        for r in CO.weighted_reservoir_sample_by_group(
            base, "src", k=5, weight_col="w", seed="g1"
        ).collect()
    }
    grown = base.unionByName(
        spark.range(1000, 1300).select(
            F.col("id").alias("doc_id"),
            F.lit("NEW").alias("src"),
            F.lit(2.0).alias("w"),
        )
    ).repartition(7)
    after = {
        (r["src"], r["sample_rank"]): r["doc_id"]
        for r in CO.weighted_reservoir_sample_by_group(
            grown, "src", k=5, weight_col="w", seed="g1"
        ).collect()
    }
    for key, doc in before.items():
        assert after[key] == doc, f"group {key} sample perturbed"
    assert sum(1 for (s, _r) in after if s == "NEW") == 5


def test_integer_pagerank_matches_python_recurrence(spark, gate_sides):
    """On a small fixed graph the int64 recurrence must equal a pure
    Python implementation EXACTLY (no tolerance — that's the point of
    integer PageRank), the hub of a star graph must rank first, and
    the result must be invariant under repartitioning."""
    from streaming_forex_data_pipeline_spark.llm.similarity import (
        integer_pagerank,
    )

    # star: 0..8 all point at 9; 9 points back at 0
    edge_list = [(i, 9) for i in range(9)] + [(9, 0)]
    nodes = spark.range(0, 10).select(F.col("id").alias("vec_id"))
    edges = spark.createDataFrame(edge_list, "src long, dst long")

    S, D, IT = 1_000_000_000_000, 85, 10
    deg = {}
    for s, _t in edge_list:
        deg[s] = deg.get(s, 0) + 1
    pr = {v: S for v in range(10)}
    base = (100 - D) * S // 100
    for _ in range(IT):
        contrib = {}
        for s, t in edge_list:
            contrib[t] = contrib.get(t, 0) + pr[s] // deg[s]
        pr = {v: base + (D * contrib.get(v, 0)) // 100 for v in range(10)}

    for side in gate_sides:
        with side():
            for parts in (1, 5):
                got = {
                    r["vec_id"]: r["pr"]
                    for r in integer_pagerank(
                        edges.repartition(parts), nodes, iters=IT, scale=S
                    ).collect()
                }
                assert got == pr, f"parts={parts}: integer recurrence diverged"
    # after finitely many iterations the hub's mass oscillates with its
    # sole beneficiary (9 -> 0 -> 9 ...), so assert the robust property:
    # both beat every plain spoke, which holds base mass only
    base_mass = base
    assert all(pr[v] == base_mass for v in range(1, 9))
    assert pr[9] > base_mass and pr[0] > base_mass


def test_rolling_wau_hll_estimate_tracks_exact(spark, sf_dir):
    """The 7-day merged-register estimate must track the exact rolling
    distinct within HLL's error regime for m=64 (sigma ~ 1.04/8 = 13%)
    on every day, and the exact column must be non-decreasing through
    the first 7 days (windows only grow until the window saturates)."""
    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        rolling_wau_hll,
    )

    rows = rolling_wau_hll(spark, sf_dir).collect()
    assert len(rows) >= 28
    for r in rows:
        rel = abs(r["wau_est"] - r["wau_exact"]) / max(r["wau_exact"], 1)
        assert rel < 0.35, f"{r['day']}: rel_err {rel:.3f} out of regime"
    first7 = [r["wau_exact"] for r in rows[:7]]
    assert first7 == sorted(first7)


def test_segment_overlap_bitmap_matches_distinct_joins(spark, sf_dir):
    """Bitmap AND+popcount is exact: the diagonal must equal each
    type's distinct-user count and every off-diagonal overlap is
    bounded by its diagonals."""
    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        segment_overlap,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    got = {
        (r["type_a"], r["type_b"]): r["n_users"]
        for r in segment_overlap(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    diag = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in diag.items():
        assert got[(t, t)] == n
    for (a, b), n in got.items():
        assert n <= min(diag[a], diag[b])


def test_cached_kmeans_centroids_fit_once_and_bit_identical(
    spark, sf_dir, monkeypatch
):
    """Round-9: the registered ivf_topk_kmeans no longer re-fits
    spark.ml KMeans every run — the centroid frame is cached under the
    content-hash scratch key.  The cached frame must be BIT-identical
    to a fresh fit (doubles round-trip parquet exactly), and a second
    call must not invoke the fitter at all."""
    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.plans import llm_q as LQ
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    cached = {
        r["cid"]: (tuple(r["cv"]), r["cn"])
        for r in LQ._cached_kmeans_centroids(spark, sf_dir).collect()
    }
    fresh = {
        r["cid"]: (tuple(r["cv"]), r["cn"])
        for r in SIM.kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"), n_cells=16, seed=7
        ).collect()
    }
    assert cached == fresh and len(cached) == 16

    def boom(*a, **k):  # the fit must NOT run on a warm cache
        raise AssertionError("kmeans_centroids re-invoked on warm cache")

    monkeypatch.setattr(SIM, "kmeans_centroids", boom)
    warm = LQ._cached_kmeans_centroids(spark, sf_dir)
    assert warm.count() == 16


def test_exact_ntile_by_matches_sql_ntile(spark):
    """Differential gate for the GROUPED two-level NTILE: bin
    assignments must equal SQL's NTILE(k) OVER (PARTITION BY g ORDER
    BY v, id) on an adversarial frame — group sizes below, at, and
    above k, ties in v broken by id, groups interleaved across the
    range partitioner."""
    from pyspark.sql import Window, functions as F

    from streaming_forex_data_pipeline_spark.llm.corpus import (
        exact_ntile_by,
    )

    rows = []
    rid = 0
    for g, size in (("a", 2), ("b", 7), ("c", 23), ("d", 1)):
        for i in range(size):
            rows.append((g, (i * 13) % 5, rid))  # heavy ties in v
            rid += 1
    df = spark.createDataFrame(rows, "g string, v long, id long")
    got = {
        (r["g"], r["id"]): r["bin"]
        for r in exact_ntile_by(
            df, ["g"], ["v", "id"], 7, out_col="bin", partitions=5
        ).collect()
    }
    want = {
        (r["g"], r["id"]): r["bin"]
        for r in df.withColumn(
            "bin",
            F.ntile(7).over(Window.partitionBy("g").orderBy("v", "id")),
        ).collect()
    }
    assert got == want


def test_exact_ntile_by_keeps_null_group(spark):
    """SQL's PARTITION BY keeps a NULL partition; the grouped NTILE's
    rejoins must be null-safe or every NULL-group row silently
    vanishes (review-found)."""
    from streaming_forex_data_pipeline_spark.llm.corpus import (
        exact_ntile_by,
    )

    df = spark.createDataFrame(
        [("a", 1, 0), ("a", 2, 1), (None, 3, 2), (None, 4, 3), (None, 5, 4)],
        "g string, v long, id long",
    )
    out = exact_ntile_by(df, ["g"], ["v", "id"], 2, out_col="bin")
    assert out.count() == 5
    null_bins = sorted(
        r["bin"] for r in out.filter(F.col("g").isNull()).collect()
    )
    assert null_bins == [1, 1, 2]


def test_exact_ntile_by_shuffle_join_path_matches_broadcast_path(spark):
    """The round-10 high-cardinality contract (ADVICE #3): with
    broadcast_frames=False the rejoins run as ordinary shuffle joins —
    bins must be IDENTICAL to the broadcast path (including the NULL
    group), and the plan must carry no broadcast of the offsets/totals
    frames."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.corpus import (
        exact_ntile_by,
    )

    rows = [("g%d" % (i % 11) if i % 13 else None, (i * 7) % 29, i)
            for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    bcast = {
        (r["g"], r["id"]): r["bin"]
        for r in exact_ntile_by(
            df, ["g"], ["v", "id"], 5, out_col="bin", partitions=7
        ).collect()
    }
    # broadcast_frames=False only REFRAINS from forcing the broadcast;
    # at test scale AQE would still pick one because the frames are
    # tiny.  Simulate the at-scale decision (frames too big to
    # broadcast) by disabling the threshold — save/restore, never bare
    # unset (the shared session pins a non-default value).
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        shuffled_df = exact_ntile_by(
            df, ["g"], ["v", "id"], 5, out_col="bin", partitions=7,
            broadcast_frames=False,
        )
        shuffled = {
            (r["g"], r["id"]): r["bin"] for r in shuffled_df.collect()
        }
        assert shuffled == bcast and len(bcast) == 400
        plan = shuffled_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and (
            "BroadcastNestedLoopJoin" not in plan
        ), f"broadcast_frames=False still broadcasts a frame:\n{plan}"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_incremental_embedding_pairs_equal_full_filtered(spark, sf_dir):
    """The incremental semantic tier's contract: exactly the LSH
    candidate pairs (same planes, same threshold) restricted to pairs
    with at least one NEW side — and a corpus where every tier
    (new x new, old x new, old x old) is populated, so the
    old-x-old exclusion is actually exercised."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.similarity import (
        embedding_near_dup_candidates,
        incremental_embedding_pairs,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 5 == 0
    got = {
        (r["id_a"], r["id_b"])
        for r in incremental_embedding_pairs(
            e, is_new, threshold=0.35, n_planes=4
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_candidates(
            e, threshold=0.35, n_planes=4
        ).collect()
    }
    want = {
        (a, b) for (a, b) in full if a % 5 == 0 or b % 5 == 0
    }
    assert got == want and len(want) > 0
    excluded = {(a, b) for (a, b) in full if a % 5 != 0 and b % 5 != 0}
    assert excluded, "no old x old pair in the fixture — exclusion untested"


def test_ml_tier_goldens_fresh(spark, sf_dir):
    """The golden-parquet oracles for the seeded spark.ml tiers
    (ivf_topk_kmeans, minhash_near_dups_ml — round-10 verdict Next #5)
    must track the code: a fresh Spark run at the test scale has to
    reproduce the pinned golden slice EXACTLY, else the pipeline moved
    without a `tests/goldens/regen_ml_tiers.py` regen and the driver's
    hash check would go red."""
    import os

    import pandas as pd

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries

    import duckdb

    from streaming_forex_data_pipeline_spark.plans.goldens import (
        corpus_md5_sql,
    )

    goldens_dir = os.path.join(os.path.dirname(__file__), "goldens")
    qs = all_queries()
    # the same content fingerprint regen_ml_tiers.corpus_md5 writes and
    # the oracle's WHERE recomputes — all three sites share ONE SQL
    # definition
    fp = duckdb.execute(
        corpus_md5_sql(f"'{sf_dir}/documents.parquet'")
    ).fetchone()[0]
    for name in ("ivf_topk_kmeans", "minhash_near_dups_ml"):
        golden = pd.read_parquet(
            os.path.join(goldens_dir, f"{name}.parquet")
        )
        want = (
            golden[golden["corpus_md5"] == fp]
            .drop(columns=["corpus_md5"])
            .reset_index(drop=True)
        )
        assert len(want), f"{name}: no golden slice for corpus_md5={fp}"
        got = qs[name].spark(spark, sf_dir).toPandas()
        cols = sorted(got.columns)
        a = got[cols].sort_values(cols).reset_index(drop=True)
        b = want[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_exact=True), name


def test_ema_native_tracks_exact_kernel(spark, sf_dir):
    """The JVM-side truncated EMA tier (operators/ewm.py:ema_native,
    round-10 verdict Next #8) must agree with the exact pandas
    adjust=True kernel to well under the 1e-6 output rounding grain:
    early rows carry the full history (exactly the adjusted mean),
    later rows drop tail weight < 5e-14.  After the queries' round(,6)
    the two tiers are indistinguishable except at half-ulp boundary
    coincidences."""
    import numpy as np

    from streaming_forex_data_pipeline_spark.operators.ewm import (
        EMA_NATIVE_FRAMES,
        ema,
        ema_native,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import (
        candles_from_events,
    )

    c = candles_from_events(spark, sf_dir)
    spans = (5, 12, 26)
    assert set(spans) <= set(EMA_NATIVE_FRAMES)
    exact = (
        ema(c, list(spans))
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    nat = (
        ema_native(c, spans=spans)
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    assert len(exact) == len(nat) > 0
    for s in spans:
        d = np.abs(exact[f"ema_{s}"].values - nat[f"ema_{s}"].values).max()
        assert d < 1e-9, f"ema_{s}: native tier drifted {d:.3e} from kernel"


def test_macd_native_tracks_exact_kernel(spark, sf_dir):
    """The JVM-side MACD chain (operators/ewm.py:macd_native) must
    agree with the exact pandas kernel through BOTH stages — the
    signal fold runs over the truncated line, so error compounding
    would show up here first."""
    import numpy as np

    from streaming_forex_data_pipeline_spark.operators.ewm import (
        macd,
        macd_native,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import (
        candles_from_events,
    )

    c = candles_from_events(spark, sf_dir)
    exact = (
        macd(c).toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True)
    )
    nat = (
        macd_native(c)
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    assert len(exact) == len(nat) > 0
    for col in ("macd", "macd_signal", "macd_histogram"):
        d = np.abs(exact[col].values - nat[col].values).max()
        assert d < 1e-9, f"{col}: native tier drifted {d:.3e} from kernel"


def test_rsi_atr_native_track_exact_kernels(spark, sf_dir):
    """The remaining W2-chain native tiers (rsi_native, atr_native)
    must agree with their exact pandas kernels, including the RSI
    zero-denominator NULL rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.operators import ewm as E
    from streaming_forex_data_pipeline_spark.sources.tables import (
        candles_from_events,
    )

    c = candles_from_events(spark, sf_dir)
    comp = E.rsi_components(c, period=14)
    ag, al = F.col("avg_gain"), F.col("avg_loss")
    exact_rsi = (
        comp.select(
            "symbol", "ts",
            F.when(ag + al != 0, 100.0 * ag / (ag + al)).alias("rsi_14"),
        )
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    nat_rsi = (
        E.rsi_native(c)
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    assert len(exact_rsi) == len(nat_rsi) > 0
    assert (exact_rsi["rsi_14"].isna() == nat_rsi["rsi_14"].isna()).all()
    d = np.nanmax(
        np.abs(exact_rsi["rsi_14"].values - nat_rsi["rsi_14"].values)
    )
    assert d < 1e-9, f"rsi_14 native drift {d:.3e}"

    exact_atr = (
        E.atr_ema(c)
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    nat_atr = (
        E.atr_native(c)
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    d = np.abs(exact_atr["atr_14"].values - nat_atr["atr_14"].values).max()
    assert d < 1e-9, f"atr_14 native drift {d:.3e}"


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_knn_graph_search_recall_floor(spark, sf_dir, gate_sides):
    """The graph-probe ANN tier (llm/similarity.py:knn_graph_search over
    the union 4-plane/2-plane kNN graph) must clear a recall floor
    against brute-force truth — the grade that makes an approximate
    tier honest.  Also pins the structural finding that motivated the
    union graph: a single bucket system's graph is one component per
    bucket, so the same walk over ONLY the 4-plane graph must do
    strictly worse or equal."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 100)
    truth = {
        r["vec_id"] for r in SIM.brute_force_topk(e, qdf, k=10).collect()
    }
    g4 = SIM.knn_graph(e, k=3, n_planes=4).select("src", "dst")
    g2 = SIM.knn_graph(e, k=3, n_planes=2).select("src", "dst")
    union = g4.unionByName(g2).distinct()
    for side in gate_sides:
        with side():
            got_union = {
                r["vec_id"]
                for r in SIM.knn_graph_search(
                    e, union, qdf, k=10, beam=16, steps=8
                ).collect()
            }
            recall_union = len(truth & got_union) / 10
            assert recall_union >= 0.4, f"union-graph recall {recall_union} < 0.4"
            got_single = {
                r["vec_id"]
                for r in SIM.knn_graph_search(
                    e, g4, qdf, k=10, beam=16, steps=8
                ).collect()
            }
            recall_single = len(truth & got_single) / 10
            assert recall_union >= recall_single, (recall_union, recall_single)


@pytest.mark.slow  # r15: slow lane (see pytest.ini)
def test_batch_graph_walk_matches_single_query_walks(spark, sf_dir, gate_sides):
    """r11 verdict Next #3 done-criterion: the set-oriented batch walk
    (llm/similarity.py:knn_graph_search_batch) must reproduce the
    single-query walk's result for EVERY query in the batch — same
    entries, beam ranking, tie-breaks, step budget, final top-k.
    Also pins the batch recall floor over the whole query set."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    g4 = SIM.knn_graph(e, k=3, n_planes=4).select("src", "dst")
    g2 = SIM.knn_graph(e, k=3, n_planes=2).select("src", "dst")
    union = g4.unionByName(g2).distinct().localCheckpoint()
    queries = e.filter(F.col("vec_id") % 7 == 3)
    assert queries.count() >= 64, "batch face needs a real query set"
    batch = (
        SIM.knn_graph_search_batch(
            e, union, queries, k=10, beam=16, steps=8
        )
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    assert batch["qid"].nunique() == queries.count()
    # spot-check three spread-out queries against the single walk
    sample = sorted(batch["qid"].unique())[::31][:3]
    for side in gate_sides:
        with side():
            for qid in sample:
                single = (
                    SIM.knn_graph_search(
                        e,
                        union,
                        e.filter(F.col("vec_id") == int(qid)),
                        k=10,
                        beam=16,
                        steps=8,
                    )
                    .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
                    .toPandas()
                )
                got = batch[batch["qid"] == qid].reset_index(drop=True)
                assert list(got["vec_id"]) == list(single["vec_id"]), qid
                assert (
                    abs(got["cos_sim"].values - single["cos_sim"].values).max()
                    < 1e-12
                ), qid
    # recall floor vs brute force on the sampled queries
    hits = 0
    for qid in sample:
        t = {
            r["vec_id"]
            for r in SIM.brute_force_topk(
                e, e.filter(F.col("vec_id") == int(qid)), k=10
            ).collect()
        }
        got_ids = set(batch[batch["qid"] == qid]["vec_id"])
        hits += len(t & got_ids)
    assert hits / (10 * len(sample)) >= 0.4


def test_incremental_knn_graph_equals_rebuild_and_carries(spark, sf_dir):
    """knn_graph_delta's two contracts: (1) the incremental result
    EQUALS the from-scratch build (also driver-checked by the oracle,
    re-pinned here with a batch small enough that most buckets are
    untouched); (2) the carry path really fires — edges in untouched
    buckets are present and identical to the old graph's rows, i.e.
    the quadratic work was confined to affected buckets."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cutoff = e.agg(F.max("vec_id")).collect()[0][0] - 4  # 5 newest
    is_new = F.col("vec_id") >= cutoff
    old_graph = SIM.knn_graph(e.filter(~is_new), k=3, n_planes=4)
    out = SIM.knn_graph_delta(e, old_graph, is_new, k=3, n_planes=4)
    full = SIM.knn_graph(e, k=3, n_planes=4)
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in full.collect())
    assert got == want
    # the 5-new-vector batch must leave at least one of the 16 buckets
    # untouched, and every untouched-bucket edge must be carried
    # byte-identically from the old graph
    buckets = e.select(
        "vec_id",
        SIM.lsh_bucket(F.col("embedding"), n_planes=4).alias("bucket"),
    )
    affected = {
        r["bucket"]
        for r in buckets.filter(is_new).select("bucket").distinct().collect()
    }
    all_b = {
        r["bucket"] for r in buckets.select("bucket").distinct().collect()
    }
    assert affected < all_b, "fixture left no untouched bucket"
    by_src = {
        r["vec_id"]: r["bucket"] for r in buckets.collect()
    }
    old_rows = {
        tuple(r)
        for r in old_graph.collect()
        if by_src[r["src"]] not in affected
    }
    carried = {t for t in got if by_src[t[0]] not in affected}
    assert carried == old_rows


def test_knn_graph_silver_builds_once(spark, sf_dir):
    """r11 verdict Next #1 done-criterion: the graph consumers read a
    build-once silver — the second run of every graph query must not
    rewrite the silver files (inode+mtime pinned) and must return the
    identical result."""
    import os

    from streaming_forex_data_pipeline_spark.llm.silvers import (
        knn_graph_silver,
        knn_union_graph_silver,
    )
    from streaming_forex_data_pipeline_spark.plans.llm_q import (
        knn_graph_topk,
    )
    from streaming_forex_data_pipeline_spark.plans.olap_q import (
        pagerank_topk,
    )

    first = knn_graph_topk(spark, sf_dir).toPandas()
    pr_first = pagerank_topk(spark, sf_dir).toPandas()
    # locate both silver dirs via their build functions (cache hit)
    dirs = []
    for df, loc in (
        (knn_graph_silver(spark, sf_dir), None),
        (knn_union_graph_silver(spark, sf_dir), None),
    ):
        files = [
            f.replace("file:", "")
            for f in df.inputFiles()
        ]
        assert files, "silver has no files"
        dirs.append(os.path.dirname(files[0]))
    pinned = {}
    for d in dirs:
        for f in os.listdir(d):
            st = os.stat(os.path.join(d, f))
            pinned[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns)
    second = knn_graph_topk(spark, sf_dir).toPandas()
    pr_second = pagerank_topk(spark, sf_dir).toPandas()
    assert first.equals(second)
    assert pr_first.equals(pr_second)
    for p, (ino, mt) in pinned.items():
        st = os.stat(p)
        assert (st.st_ino, st.st_mtime_ns) == (ino, mt), (
            f"silver file {p} was rewritten"
        )


def test_knn_graph_zero_norm_vector_engine_parity(spark, sf_dir):
    """Degenerate-vector doctrine (advice r13): a zero-norm embedding
    must be edgeless in the kNN graph IN BOTH ENGINES.  Unguarded,
    Spark's 0/0 cosine is IEEE NaN (ranks ABOVE every finite value
    descending — a garbage top-1 edge), while DuckDB's double
    division-by-zero yields NULL (ranks last): the engines would
    diverge exactly when a corpus first contains a degenerate vector,
    breaking the hash parity every graph face relies on.  Both sides
    now carry the same drop-the-pair predicate (similarity.knn_graph
    / the oracle pair CTEs), so this test builds a corpus WITH a
    zero vector and checks (a) Spark emits no edge touching it and
    no NaN anywhere, and (b) the registered oracle CTE text over the
    SAME corpus in DuckDB returns the identical rounded edge list."""
    import math

    import duckdb

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM
    from streaming_forex_data_pipeline_spark.plans.oracle_sql import (
        _knn_graph_ctes,
    )

    e = load_table(spark, sf_dir, "embeddings").limit(40)
    dim = len(e.first()["embedding"])
    zero = spark.createDataFrame(
        [(10_000, [0.0] * dim)], ["vec_id", "embedding"]
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = e.select("vec_id", "embedding").unionByName(zero)

    g = SIM.knn_graph(corpus, k=3, n_planes=4).collect()
    assert g, "graph must not be empty"
    assert all(r["src"] != 10_000 and r["dst"] != 10_000 for r in g), (
        "zero-norm vector must be edgeless"
    )
    assert all(not math.isnan(r["cos_sim"]) for r in g)

    con = duckdb.connect()
    try:
        con.register("embeddings", corpus.toPandas())
        want = con.execute(
            "WITH " + _knn_graph_ctes()
            + """
SELECT src, dst, round(cos, 5) AS cos_sim, rank
FROM r WHERE rank <= 3
ORDER BY src, rank"""
        ).fetchall()
    finally:
        con.close()
    got = [
        (r["src"], r["dst"], round(r["cos_sim"], 5), r["rank"])
        for r in sorted(g, key=lambda r: (r["src"], r["rank"]))
    ]
    assert got == [tuple(w) for w in want]


def test_graph_oracles_match_spark_on_a_zero_norm_corpus(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every consumer of the kNN graph drops a zero-norm vector's pairs
    on both engines: with vec_id 7's embedding zeroed in a copy of the
    corpus, the registered Spark side of the graph build, PageRank and
    the triangle census equals its DuckDB oracle row for row.  The
    shipped corpora hold no zero-norm vector, so the oracle sweep
    cannot see an oracle copy that keeps those pairs."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_forex_data_pipeline_spark.plans.registry import all_queries

    # the copy's silvers go to a private scratch root
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    field = t.schema.field("embedding")
    vecs = [
        [0.0] * len(v) if i == 7 else v
        for i, v in zip(
            t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()
        )
    ]
    assert any(not any(v) for v in vecs), "vec_id 7 not in the corpus"
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        field,
        pa.array(vecs, type=field.type),
    )
    pq.write_table(t, corpus / "embeddings.parquet")

    qs = all_queries()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{corpus}/embeddings.parquet')"
        )
        for name in ("knn_graph", "pagerank_topk", "triangle_topk"):
            got = qs[name].spark(spark, str(corpus)).toPandas()
            want = con.execute(qs[name].oracle).fetchdf()
            cols = sorted(want.columns)
            assert sorted(got.columns) == cols, name
            assert sorted(map(tuple, got[cols].values.tolist())) == sorted(
                map(tuple, want[cols].values.tolist())
            ), f"{name}: Spark and oracle disagree on the zero-norm corpus"
    finally:
        con.close()


def test_batch_walk_zero_norm_query_and_corpus_vector(spark, sf_dir):
    """The batch graph walk over a corpus containing a zero-norm
    vector, with the zero vector also IN the query set: the guarded
    score matrix drops every degenerate (qid, vec_id) pair, so (a)
    no NaN cosine appears in any ranked answer, (b) the zero corpus
    vector never appears as a neighbor, and (c) the zero QUERY simply
    contributes no rows (its every score pair has qn = 0) rather
    than poisoning the beam."""
    import math

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").limit(40)
    dim = len(e.first()["embedding"])
    zero = spark.createDataFrame(
        [(10_000, [0.0] * dim)], ["vec_id", "embedding"]
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = e.select("vec_id", "embedding").unionByName(zero)
    g = SIM.knn_graph(corpus, k=3, n_planes=4)
    qs = corpus.filter(
        (F.col("vec_id") % 13 == 0) | (F.col("vec_id") == 10_000)
    )
    out = SIM.knn_graph_search_batch(
        corpus, g, qs, k=5, beam=8, steps=3
    ).collect()
    assert out, "walk must produce answers for the finite queries"
    assert all(not math.isnan(r["cos_sim"]) for r in out)
    assert all(r["vec_id"] != 10_000 for r in out)
    assert all(r["qid"] != 10_000 for r in out)


def test_ann_tiers_zero_norm_vector_uniform_semantics(spark, sf_dir):
    """r14 degenerate-vector doctrine across the ANN surface: every
    tier computes cosine through guarded_cos (NULL on a zero
    denominator), so a zero-norm corpus vector (a) never crashes or
    produces NaN, (b) never enters any top-k or threshold result —
    matching DuckDB's NULL division semantics (NULL sorts last, fails
    every predicate) instead of Spark's raw IEEE NaN (sorts FIRST
    descending and passes >= predicates)."""
    import math

    from streaming_forex_data_pipeline_spark.llm import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings").limit(60)
    dim = len(e.first()["embedding"])
    zero = spark.createDataFrame(
        [(10_000, [0.0] * dim)], ["vec_id", "embedding"]
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = e.select("vec_id", "embedding").unionByName(zero)
    q = corpus.filter(F.col("vec_id") == 0)

    def check(df, cos_col="cos_sim", id_cols=("vec_id",)):
        rows = df.collect()
        assert rows, "tier returned nothing"
        for r in rows:
            if cos_col in r.asDict():
                v = r[cos_col]
                assert v is None or not math.isnan(v)
            for c in id_cols:
                if c in r.asDict():
                    assert r[c] != 10_000, f"zero vector surfaced in {c}"
        return rows

    check(SIM.brute_force_topk(corpus, q, k=10))
    check(SIM.ivf_topk(corpus, q, k=10, n_cells=4, nprobe=2))
    check(SIM.ivf_topk_kmeans(corpus, q, k=10, n_cells=4, nprobe=2))
    check(
        SIM.embedding_near_dup_candidates(corpus, threshold=0.3, n_planes=2),
        id_cols=("id_a", "id_b"),
    )
    # semdedup: the zero vector must survive as its own canonical (it
    # can never clear a cosine threshold against anything) and no one
    # may dedup against it
    sd = SIM.semdedup(corpus, n_cells=4, threshold=0.3).collect()
    mine = [r for r in sd if r["vec_id"] == 10_000]
    assert len(mine) == 1 and mine[0]["keep"]
    # hard negatives: the zero vector scores NULL against every
    # anchor, so it can never be mined as a negative
    check(SIM.hard_negatives(corpus, n_anchors=4, k=5, dup_threshold=0.999))
