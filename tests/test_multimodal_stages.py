"""Multimodal resize / frame-sample kernel tests (byte-level semantics
the oracle queries can't see)."""

from __future__ import annotations

from streaming_forex_data_pipeline_spark.llm import multimodal as MM
from streaming_forex_data_pipeline_spark.sources.tables import load_table


# hand-made documents beside the corpus rows: an empty and a 2-byte
# payload for each of the image (doc_id % 3 == 0) and video
# (doc_id % 3 == 2) modalities
_EDGE_DOCS = [
    (3_000_000, ""),
    (3_000_003, "ab"),
    (3_000_002, ""),
    (3_000_005, "ab"),
]


def _fields(schema):
    return [(f.name, f.dataType) for f in schema]


def _docs_with_edges(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(60)
    edges = spark.createDataFrame(
        [(i, t, "en", "edge", len(t)) for i, t in _EDGE_DOCS], d.schema
    )
    return d.unionByName(edges)


def test_decode_stub_header_and_validity(spark, sf_dir):
    mm = MM.attach_payload(_docs_with_edges(spark, sf_dir))
    orig = {r["doc_id"]: bytes(r["payload"]) for r in mm.collect()}
    decoded = MM.decode_stub(mm)
    assert _fields(decoded.schema) == _fields(MM.DECODE_SCHEMA)
    out = decoded.collect()
    assert {r["doc_id"] for r in out} == set(orig)
    for r in out:
        full = orig[r["doc_id"]]
        assert r["n_bytes"] == len(full)
        assert r["header"] == full[:4].hex()  # shorter for a short payload
        assert r["is_valid"] == (len(full) >= MM.MIN_VALID_BYTES)
    headers = {r["doc_id"]: r["header"] for r in out}
    assert (headers[3_000_000], headers[3_000_003]) == ("", "6162")


def test_resize_payload_is_prefix_truncation(spark, sf_dir):
    mm = MM.attach_payload(_docs_with_edges(spark, sf_dir))
    orig = {r["doc_id"]: bytes(r["payload"]) for r in mm.collect()}
    resized = MM.resize_stub(mm)
    assert _fields(resized.schema) == _fields(MM.RESIZE_SCHEMA)
    out = resized.collect()
    assert {3_000_000, 3_000_003} <= {r["doc_id"] for r in out}
    for r in out:
        full = orig[r["doc_id"]]
        n = len(full)
        ratio = (224 * 224) / max(r["orig_width"] * r["orig_height"], 1)
        keep = max(int(min(n * ratio, n)), 1)
        assert bytes(r["payload"]) == full[:keep], "not the kept prefix"
        assert (r["width"], r["height"]) == (224, 224)


def test_frame_sample_row_expansion(spark, sf_dir):
    mm = MM.attach_payload(_docs_with_edges(spark, sf_dir))
    vids = {
        r["doc_id"]: len(bytes(r["payload"]))
        for r in mm.filter("modality = 'video'").collect()
    }
    assert (vids[3_000_002], vids[3_000_005]) == (0, 2)
    sampled = MM.frame_sample_stub(mm, every_n=4)
    assert _fields(sampled.schema) == _fields(MM.FRAME_SCHEMA)
    by_doc: dict[int, list] = {}
    for r in sampled.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) <= set(vids)
    for doc_id, n in vids.items():
        rows = by_doc.get(doc_id, [])  # an empty payload has no frames
        n_frames = (n + MM.FRAME_BYTES - 1) // MM.FRAME_BYTES
        want_idx = list(range(0, n_frames, 4))
        got_idx = sorted(r["frame_idx"] for r in rows)
        assert got_idx == want_idx
        for r in rows:
            expect = min(MM.FRAME_BYTES, n - r["frame_idx"] * MM.FRAME_BYTES)
            assert r["frame_len"] == expect


def test_kernel_input_guards(spark):
    """Each kernel refuses input its 64-bit packing or container walk
    cannot represent: a dHash grid that is not 64 bits and an audio
    print that is not 65 frames fail when the stage is built; an empty
    Motion-PNG payload fails the decode with a named error."""
    import numpy as np
    import pytest

    from pyspark.errors import PythonException

    from streaming_forex_data_pipeline_spark.llm.codecs import encode_png

    media = spark.createDataFrame(
        [(0, encode_png(np.zeros((8, 9), dtype="uint8")))],
        "doc_id long, payload binary",
    )
    for build in (
        lambda: MM.dhash_images(media, grid_w=9, grid_h=8),
        lambda: MM.dhash_video_frames(media, grid_w=4, grid_h=8),
    ):
        with pytest.raises(ValueError, match="must yield 64 bits"):
            build()
    with pytest.raises(ValueError, match="needs 65 frames"):
        MM.fingerprint_audio(media, n_frames=64)

    empty = spark.createDataFrame([(7, b"")], "doc_id long, payload binary")
    with pytest.raises(
        PythonException, match="doc 7: empty Motion-PNG stream"
    ):
        MM.decode_videos(empty).collect()


def test_row_kernel_ships_the_package(tmp_path):
    """A query that reads only silvers never calls load_table, so the
    row kernel itself must put the package on the workers: a fresh
    vanilla session whose cwd cannot import the package decodes one
    PNG built in the driver."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
import numpy as np
from pyspark.sql import SparkSession
from streaming_forex_data_pipeline_spark.llm import multimodal as MM
from streaming_forex_data_pipeline_spark.llm.codecs import encode_png

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
png = encode_png(np.full((3, 4), 7, dtype="uint8"))
df = spark.createDataFrame([(5, png)], "doc_id long, payload binary")
print(MM.decode_images(df).collect()[0]["pixel_sum"])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "84"


def test_dhash_images_invariances_and_crafted_near_pair(spark):
    """The perceptual guarantees behind image_near_dups, proven on
    crafted pixel frames rather than the synthetic corpus: (a) a
    uniform brightness shift leaves the dHash IDENTICAL (only gradient
    signs survive); (b) a single-pixel change moves it at most a few
    bits, so the banded join pairs the two variants; (c) an unrelated
    image does not pair with either."""
    import numpy as np
    import pandas as pd

    from streaming_forex_data_pipeline_spark.llm.codecs import encode_png
    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        dhash_images,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(0, 200, size=(24, 32)).astype("uint8")
    brighter = (base + 40).astype("uint8")  # uniform shift, no wrap
    tweaked = base.copy()
    # flip a pixel ON the 9x8 sample grid (sy=(1*24)//8=3,
    # sx=(2*32)//9=7) — an unsampled pixel would leave the hash
    # untouched entirely, which is the invariance, not the test
    tweaked[3, 7] = 255 - tweaked[3, 7]
    unrelated = rng.randint(0, 256, size=(24, 32)).astype("uint8")
    # RGB with all three channels equal to base: integer luma must
    # reduce it to base exactly, so the hash is identical — and the
    # channel axis must not leak into the bit layout (review-found:
    # without the luma reduction, ravel() yielded 192 interleaved
    # bits and a garbage hash with no error)
    rgb = np.stack([base, base, base], axis=2)
    frames = [base, brighter, tweaked, unrelated, rgb]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series(range(len(frames)), dtype="int64"),
            "payload": [encode_png(px) for px in frames],
        }
    )
    images = spark.createDataFrame(pdf)
    hs = {
        r["doc_id"]: (r["h_lo"], r["h_hi"])
        for r in dhash_images(images).collect()
    }
    assert hs[0] == hs[1], "uniform brightness shift must not move dHash"
    ham = lambda a, b: bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")
    assert 0 < ham(hs[0], hs[2]) <= 3, "one-pixel tweak must stay local"
    assert ham(hs[0], hs[3]) > 3, "unrelated image must be far"
    assert hs[4] == hs[0], "equal-channel RGB must luma-reduce to base"

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dhash_near_dup_pairs(
            dhash_images(images), max_hamming=3
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_dhash_near_dup_pairs_equals_exact_all_pairs(spark, sf_dir):
    """The banded join's pigeonhole recall claim, checked against the
    quadratic answer computed from the same hash frame: at
    max_hamming=3 (the guarantee's edge) the banded pair set must
    EQUAL the exact all-pairs set."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import multimodal as MM
    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.sources.tables import (
        fan_out,
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    hashes = MM.dhash_images(MM.encode_images(fan_out(d))).cache()
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dhash_near_dup_pairs(hashes, max_hamming=3).collect()
    }
    rows = hashes.collect()
    want = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            hm = bin(a["h_lo"] ^ b["h_lo"]).count("1") + bin(
                a["h_hi"] ^ b["h_hi"]
            ).count("1")
            if hm <= 3:
                x, y = sorted((a["doc_id"], b["doc_id"]))
                want.add((x, y, hm))
    hashes.unpersist()
    assert got == want and len(want) > 0


def test_audio_fingerprint_invariances_and_crafted_near_pair(spark):
    """The perceptual guarantees behind audio_near_dups, proven on
    crafted PCM rather than the synthetic corpus: (a) a uniform gain
    change (2x, no clipping) leaves the envelope fingerprint IDENTICAL
    (only slope signs survive); (b) perturbing one frame's samples
    moves it at most a few bits, so the banded join pairs the two
    takes; (c) an unrelated clip does not pair with either; (d) a clip
    shorter than 65 samples (empty frames) fingerprints
    deterministically."""
    import numpy as np
    import pandas as pd

    from streaming_forex_data_pipeline_spark.llm.codecs import encode_wav
    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        fingerprint_audio,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(-8000, 8000, size=650).astype("<i2")
    louder = (base.astype(np.int64) * 2).astype("<i2")  # no clipping

    def envelope_bits(s):
        e = np.abs(s.astype(np.int64)).reshape(65, 10).sum(axis=1)
        return (e[1:] > e[:-1]).astype(np.int64)

    # pick a frame whose preceding bit is 1 (its energy EXCEEDS the
    # previous frame's) and silence it: that bit provably flips to 0,
    # and at most the following bit moves with it — a guaranteed
    # 1-2 bit perturbation instead of a hopeful one
    bits0 = envelope_bits(base)
    f = int(np.argmax(bits0[5:] == 1)) + 6  # frame index, bit f-1 == 1
    tweaked = base.copy()
    tweaked[f * 10 : (f + 1) * 10] = 0
    unrelated = rng.randint(-32768, 32767, size=650).astype("<i2")
    short = rng.randint(-8000, 8000, size=40).astype("<i2")
    clips = [base, louder, tweaked, unrelated, short, short]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series(range(len(clips)), dtype="int64"),
            "payload": [encode_wav(s) for s in clips],
        }
    )
    audio = spark.createDataFrame(pdf)
    hs = {
        r["doc_id"]: (r["h_lo"], r["h_hi"])
        for r in fingerprint_audio(audio).collect()
    }
    assert hs[0] == hs[1], "uniform gain must not move the fingerprint"
    ham = lambda a, b: bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")
    assert 0 < ham(hs[0], hs[2]) <= 3, "one-frame tweak must stay local"
    assert ham(hs[0], hs[3]) > 3, "unrelated clip must be far"
    assert hs[4] == hs[5], "short clips must fingerprint deterministically"

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dhash_near_dup_pairs(
            fingerprint_audio(audio), max_hamming=3
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_video_stages_decode_sample_match_contract(spark, sf_dir):
    """decode_videos / sample_frames over the registered content
    contract: frame counts, dimensions, exact pixel totals, and
    sampled indices must all equal the closed-form replay, and every
    sampled payload must be an individually-decodable PNG of the
    clip's dimensions."""
    import numpy as np

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.codecs import decode_png

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    vids = MM.encode_videos(d)
    dec = {r["doc_id"]: r for r in MM.decode_videos(vids).collect()}
    assert len(dec) == 40
    for doc_id, r in dec.items():
        nf = doc_id % MM.VID_NF_MOD + MM.VID_NF_OFF
        w = doc_id % MM.VID_W_MOD + MM.VID_W_OFF
        h = doc_id % MM.VID_H_MOD + MM.VID_H_OFF
        assert (r["n_frames"], r["width"], r["height"]) == (nf, w, h)
        want = sum(
            int(
                ((doc_id * 31 + k * 101 + np.arange(w * h, dtype=np.int64)
                  * 7) % 256).sum()
            )
            for k in range(nf)
        )
        assert r["pixel_sum"] == want, doc_id

    sampled = MM.sample_frames(vids, every_n=3).collect()
    by_doc: dict[int, list] = {}
    for r in sampled:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        nf = doc_id % MM.VID_NF_MOD + MM.VID_NF_OFF
        assert sorted(r["frame_idx"] for r in rows) == list(
            range(0, nf, 3)
        )
        fw, fh, ch, px = decode_png(bytes(rows[0]["payload"]))
        assert (fw, fh, ch) == (
            doc_id % MM.VID_W_MOD + MM.VID_W_OFF,
            doc_id % MM.VID_H_MOD + MM.VID_H_OFF,
            1,
        )


def test_video_perturbed_clip_with_proven_bit_flips(spark):
    """The round-9 review lesson applied to video: the crafted
    perturbation is PROVEN to flip specific dHash bits (chosen from
    the reference frame's own bit vector), never hoped.  Clip B = clip
    A with sampled frame 2 flipped in EXACTLY one bit (still matches
    at Hamming <= 1) and sampled frame 4 flipped in EXACTLY three bits
    (must drop out); positions 0 and 6 stay identical.  The
    frame-level pipeline must therefore pair (A, B) with exactly 3
    matching positions, and an unrelated clip must pair with
    neither."""
    import numpy as np
    import pandas as pd

    from streaming_forex_data_pipeline_spark.llm.codecs import (
        encode_mpng,
        encode_png,
    )
    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        _dhash_halves,
        dhash_video_frames,
    )

    w, h = 20, 16
    sy = (np.arange(8, dtype=np.int64) * h) // 8
    sx = (np.arange(9, dtype=np.int64) * w) // 9
    assert len(set(sx.tolist())) == 9, "sample columns must be distinct"
    rng = np.random.RandomState(23)
    base = [
        rng.randint(50, 200, size=(h, w)).astype("uint8") for _ in range(8)
    ]

    def flip_bits(px, bits):
        """Force the dHash comparison at each bit position to invert,
        then PROVE the resulting hash differs in exactly those bits.
        Only last-column bits (x == 7) are eligible: their right
        operand pixel g[y, 8] is no other bit's operand, so the flip
        cannot leak into a neighboring comparison (flipping an inner
        bit by moving g[y, x+1] also moves bit x+1's LEFT operand —
        the exact 'hoped, not proven' drift this test exists to
        catch)."""
        assert all(b % 8 == 7 for b in bits), bits
        out = px.copy()
        for b in bits:
            y, x = b // 8, b % 8
            left = int(out[sy[y], sx[x]])
            was = int(out[sy[y], sx[x + 1]]) > left
            out[sy[y], sx[x + 1]] = left if was else left + 1
        lo0, hi0 = _dhash_halves(px, 1, w, h)
        lo1, hi1 = _dhash_halves(out, 1, w, h)
        flipped = {
            b for b in range(64)
            if (((lo1 | hi1 << 32) >> b) ^ ((lo0 | hi0 << 32) >> b)) & 1
        }
        assert flipped == set(bits), (flipped, bits)
        return out

    pert = {2: flip_bits(base[2], [15]), 4: flip_bits(base[4], [7, 23, 55])}
    clip_a = encode_mpng([encode_png(p) for p in base])
    clip_b = encode_mpng(
        [encode_png(pert.get(k, base[k])) for k in range(8)]
    )
    clip_c = encode_mpng(
        [
            encode_png(rng.randint(0, 256, size=(h, w)).astype("uint8"))
            for _ in range(8)
        ]
    )
    videos = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.Series([0, 1, 2], dtype="int64"),
                "payload": [clip_a, clip_b, clip_c],
            }
        )
    )
    prints = dhash_video_frames(videos, every_n=2)
    fid = (prints["doc_id"] * 1024 + prints["frame_idx"]).alias("doc_id")
    pairs = dhash_near_dup_pairs(
        prints.select(fid, "h_lo", "h_hi"), max_hamming=1
    ).collect()
    matches: dict[tuple, set] = {}
    for r in pairs:
        va, fa = r["doc_a"] // 1024, r["doc_a"] % 1024
        vb, fb = r["doc_b"] // 1024, r["doc_b"] % 1024
        if va != vb and fa == fb:
            matches.setdefault((va, vb), set()).add(fa)
    assert matches == {(0, 1): {0, 2, 6}}, matches


def test_cross_modal_clusters_image_only_bridge(spark):
    """Round-9 verdict Next #4's fixture: two documents whose TEXT and
    AUDIO are unrelated must still land in one cluster because their
    IMAGES are identical — and a third document joins the same cluster
    through an audio edge alone, proving the keep/drop decision is
    transitive ACROSS modalities.  Edge labels must attribute each
    bridge to its modality, and the canonical keep must follow the
    quality-then-id rule (highest n_chars, ties to lowest doc_id)."""
    import numpy as np
    import pandas as pd

    from streaming_forex_data_pipeline_spark.llm.codecs import (
        encode_png,
        encode_wav,
    )
    from streaming_forex_data_pipeline_spark.llm.dedup import (
        cross_modal_clusters,
        dhash_near_dup_pairs,
        near_duplicate_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        dhash_images,
        fingerprint_audio,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(31)
    shared_img = rng.randint(0, 256, size=(16, 20)).astype("uint8")
    other_imgs = [
        rng.randint(0, 256, size=(16, 20)).astype("uint8") for _ in range(2)
    ]
    shared_aud = rng.randint(-20000, 20000, size=300).astype("<i2")
    other_auds = [
        rng.randint(-20000, 20000, size=300).astype("<i2") for _ in range(2)
    ]
    texts = [
        "alpha beta gamma",
        "delta epsilon zeta eta theta",  # longest -> canonical keep
        "iota kappa",
        "lambda mu nu xi",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.Series(range(4), dtype="int64"),
                "text": texts,
                "n_chars": pd.Series(
                    [len(t) for t in texts], dtype="int64"
                ),
            }
        )
    )
    images = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.Series(range(4), dtype="int64"),
                "payload": [
                    encode_png(shared_img),   # doc 0
                    encode_png(shared_img),   # doc 1: image == doc 0
                    encode_png(other_imgs[0]),
                    encode_png(other_imgs[1]),
                ],
            }
        )
    )
    audio = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.Series(range(4), dtype="int64"),
                "payload": [
                    encode_wav(other_auds[0]),
                    encode_wav(shared_aud),   # doc 1
                    encode_wav(shared_aud),   # doc 2: audio == doc 1
                    encode_wav(other_auds[1]),
                ],
            }
        )
    )
    text_pairs = near_duplicate_pairs(
        docs, threshold=1.0, n_hashes=32, bands=1
    ).select("doc_a", "doc_b", F.lit("text").alias("modality"))
    img_pairs = dhash_near_dup_pairs(
        dhash_images(images), max_hamming=0
    ).select("doc_a", "doc_b", F.lit("image").alias("modality"))
    aud_pairs = dhash_near_dup_pairs(
        fingerprint_audio(audio), max_hamming=0
    ).select("doc_a", "doc_b", F.lit("audio").alias("modality"))
    edges = text_pairs.unionByName(img_pairs).unionByName(aud_pairs)
    # preflight: the fixture's bridges are exactly as constructed
    got_edges = {
        (r["doc_a"], r["doc_b"], r["modality"]) for r in edges.collect()
    }
    assert (0, 1, "image") in got_edges, got_edges
    assert (1, 2, "audio") in got_edges, got_edges
    assert all(m != "text" for _, _, m in got_edges), got_edges

    rows = cross_modal_clusters(
        edges, docs, modalities=("text", "image", "audio")
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cluster_id"] == 0 and r["n_docs"] == 3
    assert r["keep_doc"] == 1  # longest text wins the quality rule
    assert (r["n_text_edges"], r["n_image_edges"], r["n_audio_edges"]) == (
        0,
        1,
        1,
    )


def test_incremental_dhash_pairs_equals_filtered_full_answer(spark):
    """The incremental signature-tier contract: over a corpus with a
    hot template signature, a hamming-1 neighbor group, and a random
    tail, incremental_dhash_pairs(is_new = doc_id % 5 == 0) must equal
    dhash_near_dup_pairs filtered to pairs with a new side — every
    tier (within-signature new-new and old-new, cross-signature
    new x all and old x new, both orientations of a both-new pair)
    exercised by construction."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
        incremental_dhash_pairs,
    )

    hashes = spark.range(800).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 7 <= 2, F.lit(1000))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(1 << 32)))
        .alias("h_lo"),
        F.when(F.col("id") % 7 < 2, F.lit(2000))
        .when(F.col("id") % 7 == 2, F.lit(2001))  # hamming-1 neighbor
        .otherwise(F.pmod(F.xxhash64(F.col("id") + 5), F.lit(1 << 32)))
        .alias("h_hi"),
    )
    full = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dhash_near_dup_pairs(hashes, max_hamming=2).collect()
    }
    want = {
        k: v for k, v in full.items() if k[0] % 5 == 0 or k[1] % 5 == 0
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in incremental_dhash_pairs(
            hashes, F.col("doc_id") % 5 == 0, max_hamming=2
        ).collect()
    }
    assert got == want and 0 < len(want) < len(full)


def test_video_shifted_match_finds_trimmed_clip(spark):
    """The offset-tolerant matcher's reason to exist: a clip with its
    FIRST frame trimmed (and one new frame appended) shares zero
    position-aligned frames with the original, but every surviving
    frame matches at one consistent shift — the pair must surface
    with best_offset -1 and a full-overlap count, and the
    position-aligned rule must NOT pair them."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.codecs import (
        encode_mpng,
        encode_png,
    )
    from streaming_forex_data_pipeline_spark.llm.dedup import (
        dhash_near_dup_pairs,
    )
    from streaming_forex_data_pipeline_spark.llm.multimodal import (
        dhash_video_frames,
    )
    from streaming_forex_data_pipeline_spark.plans.modal_q import (
        _video_pairs,
    )

    rng = np.random.RandomState(41)
    frames_a = [
        rng.randint(0, 256, size=(16, 20)).astype("uint8") for _ in range(8)
    ]
    frames_b = frames_a[1:] + [
        rng.randint(0, 256, size=(16, 20)).astype("uint8")
    ]
    videos = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.Series([0, 1], dtype="int64"),
                "payload": [
                    encode_mpng([encode_png(p) for p in frames_a]),
                    encode_mpng([encode_png(p) for p in frames_b]),
                ],
            }
        )
    )
    prints = dhash_video_frames(videos, every_n=1)
    fid = (prints["doc_id"] * 1024 + prints["frame_idx"]).alias("doc_id")
    pairs = dhash_near_dup_pairs(
        prints.select(fid, "h_lo", "h_hi"), max_hamming=0
    )
    va = F.floor(F.col("doc_a") / 1024)
    vb = F.floor(F.col("doc_b") / 1024)
    off = (F.col("doc_b") % 1024) - (F.col("doc_a") % 1024)
    by_offset = {
        r["d"]: r["n"]
        for r in pairs.filter(va != vb)
        .groupBy(off.alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # A.frame(f+1) == B.frame(f) -> the composite orientation gives
    # d = f - (f+1) = -1 for all 7 surviving frames, nothing at d=0
    assert by_offset.get(-1) == 7 and 0 not in by_offset, by_offset

    # the position-aligned rule is blind to the trim
    aligned = _video_pairs(prints, max_hamming=0, min_frames=1).collect()
    assert aligned == []
