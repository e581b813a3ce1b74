"""Vocabulary / tokenizer-prep operators for LLM-data pipelines.

Tokenizer training starts from corpus statistics: the word-frequency
table (vocabulary) and, for BPE, symbol-pair counts — the first merge
iteration of Sennrich et al. 2016 ("Neural Machine Translation of Rare
Words with Subword Units").  The reference has no text surface at all;
these extend the engine with the standard prep stage.

Scale shape (the part that matters at 100 TB): pair counting runs over
the AGGREGATED vocabulary weighted by word frequency, not over the raw
token stream — one corpus-wide word count (keyed shuffle, map-side
combine) reduces the input from trillions of token occurrences to a
vocabulary of maybe millions of rows, and every later BPE iteration is
O(vocab), not O(corpus).  The char-pair explode happens after that
reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .corpus import words_array


def vocab_counts(docs: DataFrame, text: str = "text") -> DataFrame:
    """Corpus vocabulary: (token, n_occurrences, n_docs) — one explode
    + one keyed aggregation with map-side combine."""
    ex = docs.select("doc_id", F.explode(words_array(text)).alias("token"))
    return ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


def bpe_pair_counts(docs: DataFrame, text: str = "text") -> DataFrame:
    """Adjacent-character-pair frequencies weighted by word frequency —
    the statistic the first BPE merge maximizes.

    Computes the word-frequency table first, then explodes each
    DISTINCT word's characters into (left, right) pairs carrying the
    word's corpus count: the explode runs over the vocabulary, so a
    100 TB corpus pays one word-count shuffle plus O(vocab · word_len)
    pair rows.  Returns (pair, n_occurrences) where ``n_occurrences``
    is the corpus-wide count of the adjacent pair inside words.
    """
    vocab = (
        docs.select(F.explode(words_array(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = F.split(F.col("word"), "")
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.concat(
            F.element_at(chars, i), F.element_at(chars, i + 1)
        ),
    )
    exploded = vocab.filter(F.length("word") >= 2).select(
        "wc", F.explode(pairs).alias("pair")
    )
    return exploded.groupBy("pair").agg(
        F.sum("wc").alias("n_occurrences")
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text: str = "text"
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic keyword-
    extraction / corpus-drift signal (Salton & Buckley 1988), with
    idf = ln(N / df) over raw document frequency.

    Returns (doc_id, term, tf, df, tfidf, rank); ties break by term so
    the output is total-ordered and exactly comparable.

    Plan: one explode + the (doc_id, term) count aggregation; document
    frequency re-aggregates THAT output (vocabulary-sized, not
    corpus-sized); N broadcasts as a 1-row frame; the top-k window
    partitions by doc_id (the parallel axis).  tf/df are exact
    integers; tfidf is per-row arithmetic over them (no float
    partials).
    """
    ex = docs.select("doc_id", F.explode(words_array(text)).alias("term"))
    per = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = per.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        per.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def cluster_topics(
    docs: DataFrame, assign: DataFrame, k: int = 5, text: str = "text"
) -> DataFrame:
    """Cluster-topic labeling (r11 verdict Next #6) — the
    Nemotron-CC-style "what is this cluster" step every curated-corpus
    pipeline runs after semantic clustering: per-CLUSTER top-``k``
    TF-IDF terms, where each cluster plays the document role (tf =
    term count across the cluster's members, idf = ln(#clusters /
    #clusters containing the term)), so a term scores high when it
    saturates one cell and is absent from the rest — exactly the
    label signal.

    ``assign`` is (doc_id, cell) — e.g. `similarity.semdedup`'s cell
    assignment or any clustering's output.  Returns (cell, n_docs,
    term, tf, df, tfidf, rank), rank 1..k per cell, ties to the
    lexicographically smaller term so the labeling is total-ordered
    and exactly comparable.

    Plan: one docs->assign join feeds one explode + (cell, term)
    count; cluster frequency re-aggregates THAT output
    (vocabulary-sized); the cluster count broadcasts as a 1-row
    frame; the top-k window partitions by cell (#clusters-wide — the
    cheap axis).  tf/df are exact integers; tfidf is per-row
    arithmetic over them, bit-identical cross-engine."""
    # join BEFORE the explode: unassigned documents never explode,
    # and the broadcastable assignment rides the narrow side
    ex = (
        docs.select("doc_id", text)
        .join(assign, "doc_id")
        .select("cell", F.explode(words_array(text)).alias("term"))
    )
    per = ex.groupBy("cell", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = per.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = assign.agg(
        F.countDistinct("cell").cast("long").alias("n_cells")
    )
    sizes = assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql import Window

    scored = (
        per.join(cf, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n_cells").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("cell").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(sizes), "cell")
        .select("cell", "n_docs", "term", "tf", "df", "tfidf", "rank")
    )


def _spaced(word: Column) -> Column:
    """' h  e  l  l  o ' — DOUBLE-space separators with SINGLE-space
    sentinels.  This exact geometry makes a plain leftmost
    non-overlapping substring replace of ' l  r ' -> ' lr ' equal to
    the textbook greedy BPE merge (Sennrich et al. 2016's re.sub
    scan): the pattern's single-space bounds anchor both symbols at
    true boundaries (no suffix/prefix false matches), and on
    consecutive occurrences ('a a a a') the double separator donates
    one space to the consumed trailing bound and keeps one as the
    next match's leading bound — so overlapping chains merge
    pairwise left-to-right exactly like the reference scan.  With
    single-space separators the replace consumed the shared space
    and skipped every second occurrence (caught by review; the
    textbook differential test missed it because the synthetic
    corpus has no repeated-pair words)."""
    return F.concat(
        F.lit(" "),
        F.rtrim(F.regexp_replace(word, "(.)", "$1  ")),
        F.lit(" "),
    )


def _adjacent_pairs(sym: Column) -> Column:
    """Array of (l, r) structs for adjacent symbols of a spaced
    string; empty for single-symbol words (Spark's sequence(1, 0)
    DESCENDS rather than returning empty — the word_ngrams guard)."""
    arr = F.split(F.trim(sym), "  ")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.struct(
            F.element_at(arr, i).alias("l"),
            F.element_at(arr, i + 1).alias("r"),
        ),
    )
    return F.when(F.size(arr) >= 2, pairs).otherwise(
        F.array().cast("array<struct<l:string,r:string>>")
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 3, text: str = "text"
) -> DataFrame:
    """Actual BPE merge training (Sennrich et al. 2016), ``n_merges``
    iterations: start from the character-split word-frequency table,
    and per step (1) count adjacent symbol pairs weighted by word
    frequency, (2) pick the argmax pair (ties to the lexicographically
    smallest), (3) merge it in every word via a boundary-aligned
    substring replace.  Returns (step, left, right, merged,
    pair_count) — the merge table a tokenizer ships; strings and
    integers only, exactly hash-checkable.

    Fully declarative: the per-step argmax is a 1-row frame that
    CROSS-JOINS (broadcast) back into the vocabulary — no driver-side
    collect anywhere, the whole k-merge train is one lazy plan.  Each
    step's vocabulary is lazily checkpointed: the pair-count
    aggregation and the next step's rewrite both consume it, and the
    checkpoint keeps the k-stage lineage flat.

    Scale shape: every iteration is O(vocab), not O(corpus) — the one
    corpus-wide shuffle is the initial word count; after that, pair
    counting shuffles the vocabulary's adjacent-pair stream and the
    merge is a map-only rewrite.  This is exactly why production BPE
    trainers pre-aggregate to word counts before iterating.
    """
    steps, _ = _bpe_loop(docs, n_merges, text)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out


def _bpe_loop(docs: DataFrame, n_merges: int, text: str):
    """Shared BPE iteration: returns (per-step merge frames, final
    vocabulary as (word, wc, sym))."""
    vocab = (
        docs.select(F.explode(words_array(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select("word", "wc", _spaced(F.col("word")).alias("sym"))
        .localCheckpoint(eager=False)
    )
    steps = []
    cur = vocab
    for step in range(1, n_merges + 1):
        counts = (
            cur.select("wc", F.explode(_adjacent_pairs(F.col("sym"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wc").alias("pair_count"))
        )
        best = (
            counts.orderBy(
                F.desc("pair_count"), F.asc("l"), F.asc("r")
            )
            .limit(1)
            .localCheckpoint(eager=False)
        )
        steps.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                F.concat("l", "r").alias("merged"),
                "pair_count",
            )
        )
        # left join (not crossJoin): when the corpus runs out of
        # adjacent pairs before n_merges, `best` is empty and a cross
        # join would wipe the whole vocabulary — the left join keeps
        # every word with NULL l/r and the coalesce makes the step a
        # no-op instead.
        cur = (
            cur.join(F.broadcast(best), F.lit(True), "left")
            .select(
                "word",
                "wc",
                F.coalesce(
                    F.replace(
                        F.col("sym"),
                        F.concat(
                            F.lit(" "), "l", F.lit("  "), "r", F.lit(" ")
                        ),
                        F.concat(F.lit(" "), "l", "r", F.lit(" ")),
                    ),
                    F.col("sym"),
                ).alias("sym"),
            )
            .localCheckpoint(eager=False)
        )
    return steps, cur


def bpe_segment(
    docs: DataFrame, n_merges: int = 3, text: str = "text"
) -> DataFrame:
    """Apply the learned BPE merges: the train→apply half of the
    tokenizer story.  Trains ``n_merges`` merges (same loop as
    `bpe_train`) and returns every vocabulary word's segmentation
    under them: (word, wc, segmented, n_symbols), where ``segmented``
    is the space-joined symbol sequence.

    Segmentation costs nothing extra — the merge rewrites already
    transform the vocabulary in-plan; this just exposes the final
    state instead of the merge table.  At 100 TB the output is the
    tokenizer's word→pieces cache (vocabulary-sized), which the
    encode stage broadcast-joins against the corpus.
    """
    _, final = _bpe_loop(docs, n_merges, text)
    return final.select(
        "word",
        "wc",
        F.array_join(F.split(F.trim(F.col("sym")), "  "), " ").alias(
            "segmented"
        ),
        F.size(F.split(F.trim(F.col("sym")), "  ")).alias("n_symbols"),
    )


def bpe_encode_counts(
    docs: DataFrame, n_merges: int = 3, text: str = "text"
) -> DataFrame:
    """The encode stage: per-document token counts under the trained
    tokenizer — THE statistic training-budget planning runs on (how
    many BPE tokens is this corpus?).

    Trains ``n_merges`` merges (shared `_bpe_loop`), derives the
    word→n_pieces cache from the final vocabulary, and joins it to the
    corpus word stream: (doc_id, n_words, n_bpe_tokens).  At 100 TB
    the cache is vocabulary-sized and the join is keyed by word — AQE
    broadcasts it while it fits and degrades to a shuffled hash join
    when a web-scale vocabulary doesn't."""
    _, final = _bpe_loop(docs, n_merges, text)
    seg = final.select(
        "word",
        F.size(F.split(F.trim(F.col("sym")), "  ")).alias("n_pieces"),
    )
    ex = docs.select(
        "doc_id", F.explode(words_array(text)).alias("word")
    )
    return (
        ex.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
        )
    )


def vocab_coverage(docs: DataFrame, top_k: int = 100, text: str = "text") -> DataFrame:
    """Zipf / vocabulary-coverage curve: the ``top_k`` most frequent
    corpus tokens with rank, count, and CUMULATIVE coverage of the
    total token mass in exact parts-per-million — the
    tokenizer-design analysis ("how big a vocab covers 95% of the
    stream?").

    Scale shape: one keyed count shuffle, then TakeOrdered for the
    top_k rows — the running-sum window runs over those top_k rows
    only (bounded by the parameter, never by corpus size), with the
    grand total riding a broadcast 1-row cross join.  Integer
    arithmetic end-to-end (ppm via integer div), so the curve
    hash-checks exactly."""
    from pyspark.sql import Window

    from .corpus import words_array

    ex = docs.select(F.explode(words_array(text)).alias("tok"))
    cnt = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("total"))
    top = cnt.orderBy(F.desc("c"), F.asc("tok")).limit(top_k)
    w = Window.orderBy(F.desc("c"), F.asc("tok")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok"))))
        .withColumn("cum", F.sum("c").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "tok",
            "c",
            F.call_function(
                "div", F.col("cum") * 1000000, F.col("total")
            ).alias("coverage_ppm"),
        )
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_build(
    docs: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text: str = "text",
) -> DataFrame:
    """Count-Min sketch of the corpus token frequencies: ``depth``
    hash rows x ``width`` counters as a (row, bucket, c) frame — the
    streaming-friendly frequency summary (Cormode & Muthukrishnan
    2005).  depth*width counters summarize an unbounded vocabulary;
    estimates only ever OVERcount (bounded by eps*N with eps = e/width
    at confidence 1-e^-depth).

    The ``depth`` row hashes derive from TWO engine-portable
    md5-prefix hashes via double hashing — g_j = (h1 + j*h2) mod w
    (Kirsch & Mitzenmacher 2006, which proves pairwise-derived rows
    preserve the CMS guarantees) — so the per-token hash cost is 2
    md5 evaluations instead of ``depth`` (measured 2.6 s -> 1.5 s at
    sf0.1 for the registered query).  DuckDB rebuilds the identical
    sketch from the same two prefixes and the estimates hash-check
    exactly.  Plan (r14): one explode + a token-keyed count (map-side
    combined; the partial aggregate collapses occurrence rows to the
    batch vocabulary BEFORE any hashing), then the weighted
    counts-path below — 2 md5 per DISTINCT token instead of per
    occurrence.  Counter-identical by construction: the counter at
    (row, bucket) is the number of occurrences hashing there, which
    is exactly the sum of the per-token counts of the tokens hashing
    there.  Output cardinality stays FIXED (depth*width rows)
    regardless of vocabulary size: that fixed size is the point at
    100 TB, and per-batch sketches merge by addition (counter-wise
    sum), which is what a streaming ingest does."""
    counts = (
        docs.select(F.explode(words_array(text)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__k"))
    )
    return cms_build_from_counts(
        counts, depth=depth, width=width, count_col="__k"
    )


def cms_build_from_counts(
    counts: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    tok_col: str = "tok",
    count_col: str = "true_count",
) -> DataFrame:
    """Count-Min sketch from PRE-AGGREGATED (token, count) rows —
    counter-identical to hashing the raw occurrence stream (each
    counter is the sum of the counts of the tokens double-hashing
    into it) at 2 md5 per distinct token.  The seam consumers that
    already hold a word count (the registered frequency face, any
    TF table) plug into so the corpus-sized hash pass disappears."""
    bucket = _km_buckets(F.col(tok_col), depth, width)
    ex = counts.select(
        F.explode(bucket).alias("rb"), F.col(count_col).alias("__k")
    )
    return (
        ex.select(
            F.col("rb.row").alias("row"),
            F.col("rb.bucket").alias("bucket"),
            "__k",
        )
        .groupBy("row", "bucket")
        .agg(F.sum("__k").alias("c"))
    )


def _km_hash(tok: Column, seed: str) -> Column:
    """60-bit engine-portable seeded hash (md5-prefix family)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}#"), tok)), 1, 15), 16, 10
    ).cast("long")


def _km_buckets(tok: Column, depth: int, width: int) -> Column:
    """Array of (row, bucket) structs via Kirsch-Mitzenmacher double
    hashing: bucket_j = (h1 + j*h2) mod width.  h1, h2 < 2^60 and
    j <= depth-1, so the largest sum is depth * (2^60 - 1) — checked
    to fit signed int64 (depth <= 8) on both engines (a raise, not an
    assert: python -O must not silently enable engine-divergent
    wraparound)."""
    if depth > 8:
        raise ValueError("double-hash sum overflows int64 beyond depth 8")
    h1 = _km_hash(tok, "1")
    h2 = _km_hash(tok, "2")
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                ((h1 + F.lit(j) * h2) % width).alias("bucket"),
            )
            for j in range(depth)
        ]
    )


def cms_estimate(
    tokens: DataFrame,
    sketch: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    tok_col: str = "tok",
) -> DataFrame:
    """Point-query the sketch: est = min over rows of the token's
    counter.  The sketch is depth*width rows — broadcast it; missing
    counters (bucket never touched) read as 0 via the left join.
    Probe buckets use the same Kirsch-Mitzenmacher double hashing as
    `cms_build` (2 md5 per token, any depth).  Every NON-probe column
    of ``tokens`` is carried through (r14), so a caller holding
    (token, true_count) gets both beside the estimate without
    re-joining — and without re-computing the tokens subtree."""
    carried = [c for c in tokens.columns if c != tok_col]
    h1 = _km_hash(F.col(tok_col), "1")
    h2 = _km_hash(F.col(tok_col), "2")
    probes = tokens.select(
        tok_col,
        *carried,
        *[
            ((h1 + F.lit(j) * h2) % width).alias(f"b{j}")
            for j in range(depth)
        ],
    )
    est = probes
    for j in range(depth):
        side = sketch.filter(F.col("row") == j).select(
            F.col("bucket").alias(f"b{j}"), F.col("c").alias(f"c{j}")
        )
        est = est.join(F.broadcast(side), f"b{j}", "left")
    return est.select(
        tok_col,
        *carried,
        F.least(
            *[F.coalesce(F.col(f"c{j}"), F.lit(0)) for j in range(depth)]
        ).alias("est_count"),
    )


HLL_P = 6  # 2^6 = 64 registers; alpha_64 = 0.709 (Flajolet et al. 2007)
_HLL_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def hll_fold_constants(p: int = HLL_P) -> tuple[int, int, float]:
    """(m, w1, c) for ``2**p`` registers: the register count, the
    exponent base of the exact S* terms (``2**(w1 - rho)``) and the
    ``alpha * m**2 * 2**w1`` constant the raw estimate divides by S*."""
    m = 1 << p
    w1 = 60 - p + 1  # the md5-prefix hash is 15 hex digits = 60 bits
    return m, w1, _HLL_ALPHA[p] * float(m * m) * float(2 ** w1)


def hll_keyed_rhos(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    p: int = HLL_P,
) -> DataFrame:
    """The KEYED register builder every HLL face shares: one pass
    computing (key..., bucket, max_rho) — bucket = low ``p`` bits of
    the engine-portable 60-bit md5-prefix hash of ``value_col``, rho =
    first-1-bit position of the remaining bits, max per (keys,
    bucket).  SPARSE output (only touched registers); consumers
    densify with a spine or use the spine-free S* algebra.  One
    definition here so the calendar-keyed WAU query, its streaming
    channel, and the parity tests can never drift on the rho
    encoding (review-found 5-way duplication)."""
    from .dedup import portable_token_hash

    m = 1 << p
    wbits = 60 - p
    h = portable_token_hash(F.col(value_col).cast("string"))
    rho = F.when(
        F.call_function("div", h, F.lit(m)) == 0, F.lit(wbits + 1)
    ).otherwise(
        F.instr(
            F.lpad(F.bin(F.call_function("div", h, F.lit(m))), wbits, "0"),
            "1",
        )
    )
    return (
        df.select(*key_cols, (h % m).alias("bucket"), rho.alias("rho"))
        .groupBy(*key_cols, "bucket")
        .agg(F.max("rho").cast("int").alias("max_rho"))
    )


def hll_registers(items: DataFrame, col: str = "item", p: int = HLL_P) -> DataFrame:
    """HyperLogLog register file over a column of values (Flajolet,
    Fusy, Gandouet & Meunier 2007): bucket = low ``p`` bits of the
    engine-portable 60-bit md5-prefix hash, rho = position of the
    first 1-bit in the remaining ``60-p`` bits, register = max(rho)
    per bucket.  The COMPLETE file is emitted — untouched buckets read
    0 via a generated bucket spine — so the output is always exactly
    ``2^p`` rows.

    This is the cardinality sketch: 2^p integers summarize the
    distinct count of an unbounded stream, registers merge across
    partitions/batches by element-wise MAX (what the groupBy already
    is), and the estimate never touches the driver.  All register
    arithmetic is exact-integer (bin/lpad/instr string ops, no
    floats), so the DuckDB oracle rebuilds the identical file.

    Feed OCCURRENCES, not pre-distinct values: duplicates hash to the
    same (bucket, rho) and vanish in the max — skipping the distinct
    keeps the plan one explode + one keyed max at 100 TB."""
    from .dedup import portable_token_hash

    m = 1 << p
    wbits = 60 - p
    h = portable_token_hash(F.col(col))
    hashed = items.select(
        (h % m).alias("bucket"),
        F.call_function("div", h, F.lit(m)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.instr(F.lpad(F.bin("w"), wbits, "0"), "1")
    )
    touched = (
        hashed.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    spine = (
        items.sparkSession.range(m)
        .select(F.col("id").cast("long").alias("bucket"))
    )
    return spine.join(touched, "bucket", "left").select(
        "bucket",
        F.coalesce("max_rho", F.lit(0).cast("int")).alias("max_rho"),
    )


def hll_estimate(regs: DataFrame, p: int = HLL_P) -> DataFrame:
    """Fold a complete HLL register file into the cardinality
    estimate: E = alpha_m * m^2 / sum_j 2^-M[j], with the paper's
    small-range correction E <= 2.5m -> linear counting m*ln(m/V)
    when V (zero registers) > 0.

    Determinism contract: the harmonic sum is carried as the EXACT
    integer S* = sum_j 2^((60-p+1) - M[j])  (every term a power of
    two <= 2^55, 2^p terms — fits a long with headroom), so the only
    floats are one constant multiply + one division (+ one ln on the
    small-range branch) on a single row: no aggregation-order freedom
    anywhere.  The alpha*m^2*2^(wbits+1) constant folds in Python and
    ships as a literal (Catalyst constant-folding of big expression
    trees costs driver seconds — the r6 lesson).

    Returns one row: (m, v_zero, s_star, raw_est, hll_est)."""
    m, w1, c = hll_fold_constants(p)
    wbits = w1 - 1
    folded = regs.agg(
        # F.shiftleft only takes a Python-int shift; the SQL form
        # shifts by an expression
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({wbits + 1} - max_rho AS INT))"
            )
        ).alias("s_star"),
        F.count(F.when(F.col("max_rho") == 0, 1)).alias("v_zero"),
    )
    raw = F.lit(c) / F.col("s_star").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero").cast("double")),
    ).otherwise(raw)
    return folded.select(
        F.lit(m).cast("long").alias("m"),
        "v_zero",
        "s_star",
        raw.alias("raw_est"),
        est.alias("hll_est"),
    )


def bpe_fertility(
    docs: DataFrame, n_merges: int = 3, text: str = "text"
) -> DataFrame:
    """Tokenizer fertility / compression statistics per document under
    the trained BPE: fertility = BPE tokens per word (the standard
    cross-lingual tokenizer-quality metric — high fertility means the
    vocabulary fragments this text) and chars_per_token = word
    characters per BPE token (the compression ratio that converts a
    byte budget into a token budget).  Same plan shape as
    ``bpe_encode_counts`` — the word->pieces cache is vocabulary-sized
    and joins the corpus word stream keyed by word — with the
    char-mass sum riding the same aggregation; the ratios are single
    divisions of exact integer sums."""
    _, final = _bpe_loop(docs, n_merges, text)
    seg = final.select(
        "word",
        F.size(F.split(F.trim(F.col("sym")), "  ")).alias("n_pieces"),
    )
    ex = docs.select("doc_id", F.explode(words_array(text)).alias("word"))
    per = (
        ex.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("n_word_chars"),
        )
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        "n_word_chars",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
            "fertility"
        ),
        (F.col("n_word_chars").cast("double") / F.col("n_bpe_tokens")).alias(
            "chars_per_token"
        ),
    )


def hll_by_group(
    items: DataFrame,
    group_col: str = "source",
    col: str = "item",
    p: int = HLL_P,
) -> DataFrame:
    """Per-GROUP HyperLogLog estimates — the cardinality sketch
    composed relationally: one (group, bucket) keyed max builds every
    group's register file in a single pass, then each group folds to
    its estimate with the same exact-integer S* contract as
    `hll_estimate`.  The per-dataset distinct-token audit shape: at
    100 TB the output is #groups rows and the shuffle key carries the
    group, so skewed group sizes parallelize across buckets within
    the key (64 subkeys per group).

    Spine-free formulation: untouched buckets would each contribute
    2^(wbits+1) to S*, so instead of materializing a #groups x 2^p
    spine, S* = S*_touched + (m - n_touched) * 2^(wbits+1) and
    v_zero = m - n_touched — all exact longs, bit-identical to the
    spine+fold path (asserted in tests against `hll_registers` +
    `hll_estimate` per group).

    Returns (group, v_zero, s_star, hll_est) ordered by group."""
    from .dedup import portable_token_hash

    m, w1, c = hll_fold_constants(p)
    wbits = w1 - 1
    h = portable_token_hash(F.col(col))
    hashed = items.select(
        F.col(group_col).alias("grp"),
        (h % m).alias("bucket"),
        F.call_function("div", h, F.lit(m)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(wbits + 1)).otherwise(
        F.instr(F.lpad(F.bin("w"), wbits, "0"), "1")
    )
    touched = (
        hashed.select("grp", "bucket", rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    per = touched.groupBy("grp").agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({wbits + 1} - max_rho AS INT))"
            )
        ).alias("s_touched"),
        F.count(F.lit(1)).alias("n_touched"),
    )
    empty_term = F.lit(int(2 ** (wbits + 1))).cast("long")
    s_star = (
        F.col("s_touched")
        + (F.lit(m).cast("long") - F.col("n_touched")) * empty_term
    )
    v_zero = F.lit(m).cast("long") - F.col("n_touched")
    raw = F.lit(c) / s_star.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    return per.select(
        F.col("grp").alias(group_col),
        v_zero.alias("v_zero"),
        s_star.alias("s_star"),
        est.alias("hll_est"),
    ).orderBy(group_col)
