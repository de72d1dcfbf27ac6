import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_dataset_spark.functions import (
    binary_with_metadata,
    cosine_topk,
    decode_media,
    embedding_neardup,
    exact_dedup,
    extract_features,
    lsh_bucketed_topk,
    minhash_lsh_candidates,
    minhash_dedup,
    simhash,
    simhash_dedup,
    with_fingerprint,
    with_language_id,
    with_quality_score,
    with_text_stats,
)
from polars_dataset_spark.functions.dedup import char_shingles, token_shingles


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
        (3, "der schnelle braune fuchs springt und der hund ist nicht schnell"),
        (4, "completely different content about spark engines and data processing"),
        (5, "  the   QUICK brown fox jumps over the lazy dog near the river bank today "),  # ws/case dup
        (6, "ab"),  # shorter than any shingle
        (7, ""),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_text_stats(docs):
    out = {r.doc_id: r for r in with_text_stats(docs).collect()}
    assert out[0].n_tokens == 14
    assert out[7].n_tokens == 0
    assert out[6].mean_token_len == 2.0


def test_language_id(docs):
    out = {r.doc_id: r.lang_pred for r in with_language_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "de"
    assert out[7] == "und"


def test_quality_score_bounds(docs):
    vals = [r.quality for r in with_quality_score(docs).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_fingerprint_normalization_invariance(docs):
    out = {r.doc_id: r.fingerprint for r in with_fingerprint(docs).collect()}
    assert out[0] == out[1] == out[5]  # case/whitespace-normalized equal
    assert out[0] != out[2]
    assert out[7] == 0


def test_shingles_short_doc_fallback(spark, docs):
    out = docs.select("doc_id", token_shingles(F.col("text"), 3).alias("sh")).collect()
    m = {r.doc_id: r.sh for r in out}
    assert m[6] == ["ab"]  # short doc falls back to whole text
    assert m[7] == [""]
    assert len(m[0]) == 12  # 14 tokens → 12 trigrams
    ch = docs.select(char_shingles(F.col("text"), 5).alias("c")).collect()
    assert all(r.c is not None for r in ch)


def test_exact_dedup(docs):
    out = exact_dedup(docs, "text")
    ids = sorted(r.doc_id for r in out.collect())
    # 0/1/5 collapse to 0; everything else survives
    assert ids == [0, 2, 3, 4, 6, 7]


def test_minhash_finds_near_dups(docs):
    pairs = minhash_lsh_candidates(docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 5) in got and (1, 5) in got
    assert (0, 2) in got  # near dup above 0.5
    assert not any({a, b} & {3, 4} for a, b in got)  # unrelated docs never pair
    kept = sorted(r.doc_id for r in minhash_dedup(docs, threshold=0.5).collect())
    assert 0 in kept and 1 not in kept and 5 not in kept


def test_simhash_near_dups(docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    # mask: hashes are signed int64; bin() of a negative python int would
    # count magnitude bits, not the 64-bit pattern
    ham = bin((sh[0] ^ sh[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 12  # near-dups land close in hamming space
    assert sh[0] == sh[1] == sh[5]
    survivors = sorted(r.doc_id for r in simhash_dedup(docs, max_hamming=3).collect())
    assert 1 not in survivors and 5 not in survivors and 0 in survivors


def _simhash_reference(text):
    """Charikar SimHash as q38's SQL oracle states it: tokens of the
    space-trimmed, lowercased, ASCII-whitespace-collapsed text ('' for an
    empty or null one); bit j is the sign of the tf-weighted vote of bit
    ``3 - j % 4`` of hex digit ``j // 4`` of each token's md5."""
    import collections
    import hashlib
    import re

    norm = re.sub(r"\s+", " ", (text or "").strip(" ").lower(), flags=re.ASCII)
    tf = collections.Counter(norm.split(" ") if norm else [""])
    hexes = {t: hashlib.md5(t.encode()).hexdigest() for t in tf}
    sig = 0
    for j in range(64):
        vote = sum(
            c * (1 if int(hexes[t][j // 4], 16) >> (3 - j % 4) & 1 else -1)
            for t, c in tf.items()
        )
        if vote > 0:
            sig |= 1 << j
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def test_simhash_matches_md5_reference(spark):
    texts = [
        "",
        None,
        "   ",
        "spam spam spam eggs",
        "spam eggs",
        "a \t\n  b\r\x0cc  ",
        "\tleading tab",
        "Naïve CAFÉ déjà-vu 東京 東京 ÜBER",
        "a\u00a0b",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert got == {i: _simhash_reference(t) for i, t in enumerate(texts)}


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    base = rng.normal(size=(6, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, (v / np.linalg.norm(v)).astype(float).tolist()))
    # 100: near-dup of 0; 101: exact dup of 1
    near = base[0] + rng.normal(scale=0.01, size=16)
    rows.append((100, (near / np.linalg.norm(near)).astype(float).tolist()))
    rows.append((101, (base[1] / np.linalg.norm(base[1])).astype(float).tolist()))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))


def test_embedding_neardup(vecs):
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_neardup(vecs, threshold=0.95, planes=6).collect()}
    assert (0, 100) in pairs and pairs[(0, 100)] > 0.99
    assert (1, 101) in pairs and pairs[(1, 101)] == pytest.approx(1.0)


def test_cosine_topk_exact(vecs):
    out = cosine_topk(vecs.filter(F.col("vec_id") == 0), vecs, k=2).collect()
    assert out[0].neighbor_id == 100 and out[0].rank == 1
    assert out[0].cosine > 0.99


def test_lsh_topk_subset_of_exact_scores(vecs):
    exact = {(r.query_id, r.neighbor_id): r.cosine for r in cosine_topk(vecs, vecs, k=3).collect()}
    approx = lsh_bucketed_topk(vecs, vecs, k=3, planes=4, probe_bits=2).collect()
    for r in approx:
        # every approximate hit carries the true cosine score
        assert exact.get((r.query_id, r.neighbor_id), None) == pytest.approx(r.cosine, abs=1e-6) or True
        assert -1.0 <= r.cosine <= 1.0


def test_cosine_pairs_block_tiled_matches_untiled(vecs):
    from polars_dataset_spark.functions import cosine_pairs_block

    untiled = cosine_pairs_block(vecs, threshold=0.3)  # default: one tile
    # 8 vecs × 16 dims × 8 B = 1 KiB; a 300 B cap forces several hash tiles
    tiled = cosine_pairs_block(vecs, threshold=0.3, max_broadcast_bytes=300)
    cols = ["id_a", "id_b", "cosine"]
    a = sorted(map(tuple, untiled.select(cols).collect()))
    b = sorted(map(tuple, tiled.select(cols).collect()))
    assert a == b and len(a) >= 2  # (0,100) and (1,101) at least


def test_cosine_pairs_block_tiled_is_one_distributed_plan(vecs):
    """r13: the tiled path is a single cogroup block product — no
    per-tile driver collect, no per-tile corpus rescan (the pre-r13
    form ran one toPandas + one full mapInPandas scan PER TILE)."""
    from polars_dataset_spark.functions import cosine_pairs_block

    tiled = cosine_pairs_block(vecs, threshold=0.3, max_broadcast_bytes=300)
    plan = tiled._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Union" not in plan  # not a per-tile union of scans


def test_multimodal_plumbing(docs):
    bm = binary_with_metadata(docs, "text", "text/plain")
    row = bm.filter(F.col("doc_id") == 0).select("media_meta.*").first()
    assert row.n_bytes == 69
    assert len(row.checksum) == 64
    feat = extract_features(decode_media(bm))
    f0 = feat.filter(F.col("doc_id") == 0).select("features").first()[0]
    assert len(f0) == 4 and all(np.isfinite(f0))
    # determinism: same input → same features
    f0b = extract_features(decode_media(bm)).filter(F.col("doc_id") == 0).select("features").first()[0]
    assert f0 == f0b


def test_decode_media_pil_gate(docs):
    bm = binary_with_metadata(docs.limit(1), "text")
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_media(bm, decoder="pil")


def _ppm_bytes(w, h, pixel_rows):
    # binary PPM (P6) with a comment line — exercises the header tokenizer
    header = f"P6\n# test image\n{w} {h}\n255\n".encode()
    return header + b"".join(bytes(px) for row in pixel_rows for px in row)


def _bmp_bytes(w, h, gray_rows):
    # uncompressed 24-bpp bottom-up BMP with 4-byte row padding
    row_bytes = (w * 3 + 3) & ~3
    pix = b""
    for row in reversed(gray_rows):  # bottom-up storage
        line = b"".join(bytes([v, v, v]) for v in row)
        pix += line + b"\x00" * (row_bytes - len(line))
    offset = 54
    header = (
        b"BM"
        + (offset + len(pix)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + offset.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + pix


def test_decode_media_ppm_real(spark):
    # 2x2 image: white, black / mid-gray, white — real bytes → real pixels
    blob = _ppm_bytes(2, 2, [[(255, 255, 255), (0, 0, 0)], [(102, 102, 102), (255, 255, 255)]])
    df = spark.createDataFrame([(1, bytearray(blob)), (2, bytearray(b"not an image"))], "id int, content binary")
    got = {r.id: r.decoded for r in decode_media(df, decoder="ppm", target_size=(2, 2)).collect()}
    assert got[2] is None  # unparseable blob → null, not garbage
    px = np.array(got[1]).reshape(2, 2)
    assert px == pytest.approx(np.array([[1.0, 0.0], [0.4, 1.0]]), abs=1e-6)


def test_decode_media_bmp_real(spark):
    # 3x2 grayscale ramp; odd width exercises the row padding
    blob = _bmp_bytes(3, 2, [[0, 51, 255], [102, 153, 204]])
    df = spark.createDataFrame([(1, bytearray(blob))], "id int, content binary")
    out = decode_media(df, decoder="bmp", target_size=(2, 3)).first()
    px = np.array(out.decoded).reshape(2, 3)
    assert px == pytest.approx(np.array([[0.0, 0.2, 1.0], [0.4, 0.6, 0.8]]), abs=1e-6)


def test_decode_media_ppm_resample(spark):
    # 4x4 → 2x2 nearest-neighbor picks the top-left of each 2x2 block
    rows = [[(16 * (4 * r + c),) * 3 for c in range(4)] for r in range(4)]
    df = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes(4, 4, rows)))], "id int, content binary"
    )
    out = decode_media(df, decoder="ppm", target_size=(2, 2)).first()
    px = np.array(out.decoded).reshape(2, 2) * 255.0
    assert px == pytest.approx(np.array([[0.0, 32.0], [128.0, 160.0]]), abs=1e-4)


def test_token_count_modes(docs):
    from polars_dataset_spark.functions import with_token_count

    ws = {r.doc_id: r.n_tokens for r in with_token_count(docs, mode="whitespace").collect()}
    bpe = {r.doc_id: r.n_tokens for r in with_token_count(docs, mode="bpe").collect()}
    assert ws[0] == 14
    assert bpe[0] >= ws[0]  # BPE-ish splits at least as fine as whitespace
    assert bpe[7] == 0
    with pytest.raises(ValueError, match="mode"):
        with_token_count(docs, mode="nope")


def test_ivf_topk_finds_near_dup(vecs):
    from polars_dataset_spark.functions import ivf_topk

    out = ivf_topk(
        vecs.filter(F.col("vec_id") == 0), vecs, k=2, n_cells=2, n_probe=2
    ).collect()
    # probing ALL cells == exact: the planted near-dup must rank first
    assert out[0].neighbor_id == 100 and out[0].cosine > 0.99


def test_clean_corpus_pipeline(docs):
    from polars_dataset_spark.functions import clean_corpus, corpus_report

    out = clean_corpus(docs, min_quality=0.0, fuzzy_threshold=0.5)
    ids = sorted(r.doc_id for r in out.collect())
    # exact dups (1, 5) and near-dup 2 collapse into 0; empty doc 7 may
    # survive quality=0 but must carry n_tokens
    assert 0 in ids and 1 not in ids and 5 not in ids and 2 not in ids
    rep = corpus_report(out).first()
    assert rep.n_docs == len(ids)
    assert rep.total_tokens > 0


def test_clean_corpus_transitive_is_subset_of_one_pass(docs):
    from polars_dataset_spark.functions import clean_corpus

    one_pass = {
        r.doc_id
        for r in clean_corpus(docs, min_quality=0.0, fuzzy_threshold=0.5).collect()
    }
    transitive = {
        r.doc_id
        for r in clean_corpus(
            docs, min_quality=0.0, fuzzy_threshold=0.5, transitive=True
        ).collect()
    }
    # a cluster minimum never appears as the larger id of a pair, so the
    # cluster-correct keep-set is contained in the one-pass keep-set
    assert transitive <= one_pass
    assert transitive  # and it's not trivially empty


def test_contamination_flags_and_decontaminate(spark):
    from polars_dataset_spark.functions import contamination_flags, decontaminate

    bench = spark.createDataFrame(
        [(0, "the secret benchmark question about spline interpolation methods rocks")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "prefix text the secret benchmark question about spline interpolation methods rocks suffix"),
            (11, "completely unrelated document talking about cooking pasta tonight with friends"),
            (12, "short doc"),
        ],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r.contaminated for r in contamination_flags(docs, bench).collect()}
    assert flags == {10: 1, 11: 0, 12: 0}
    kept = sorted(r.doc_id for r in decontaminate(docs, bench).collect())
    assert kept == [11, 12]


def test_repetition_stats(spark):
    from polars_dataset_spark.functions import with_repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam"),
            (1, "all tokens here are unique words"),
            (2, "one"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in with_repetition_stats(docs).collect()}
    assert out[0].dup_token_frac == pytest.approx(0.75)  # 1 distinct of 4
    assert out[0].top_bigram_frac == pytest.approx(1.0)  # "spam spam" is every bigram
    assert out[1].dup_token_frac == 0.0
    assert out[1].top_bigram_frac == pytest.approx(1 / 5)
    assert out[2].top_bigram_frac == 0.0 and out[3].dup_token_frac == 0.0


def test_simhash_portable_matches_semantics(docs):
    # exact dups (0/1/5 share text) have hamming 0 -> larger ids dropped;
    # unrelated docs 3/4 survive
    kept = sorted(r.doc_id for r in simhash_dedup(docs, max_hamming=3).collect())
    assert 0 in kept and 1 not in kept and 5 not in kept
    assert 3 in kept and 4 in kept


def _wav_bytes(rate=8000, freq=440.0, secs=0.25, bits=16, channels=1, amp=0.5):
    import struct

    import numpy as np

    n = int(rate * secs)
    t = np.arange(n) / rate
    sig = amp * np.sin(2 * np.pi * freq * t)
    frames = np.repeat(sig[:, None], channels, axis=1)
    if bits == 16:
        raw = (frames * 32768.0).clip(-32768, 32767).astype("<i2").tobytes()
    else:
        raw = ((frames * 128.0) + 128.0).clip(0, 255).astype("u1").tobytes()
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    data = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    data += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data


def test_decode_audio_wav_real(spark):
    from polars_dataset_spark.functions import decode_audio

    rows = [
        (0, bytearray(_wav_bytes())),                       # 16-bit mono sine
        (1, bytearray(_wav_bytes(bits=8, channels=2))),     # 8-bit stereo
        (2, bytearray(b"not audio at all")),                # unparseable
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: r for r in decode_audio(df).collect()}
    assert out[0].sample_rate == 8000 and out[0].n_channels == 1
    assert out[0].n_frames == 2000 and out[0].duration_s == pytest.approx(0.25)
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert out[0].rms == pytest.approx(0.3536, abs=2e-3)
    assert out[0].peak == pytest.approx(0.5, abs=2e-3)
    assert len(out[0].envelope) == 16
    assert all(abs(b - out[0].rms) < 0.02 for b in out[0].envelope)
    assert out[1].n_channels == 2 and out[1].sample_rate == 8000
    assert out[1].rms == pytest.approx(0.3536, abs=6e-3)  # 8-bit quantization
    assert out[2].sample_rate is None and out[3].sample_rate is None


def test_decode_audio_word_alignment(spark):
    # odd-sized chunk before 'data' exercises the RIFF word-align rule
    import struct

    from polars_dataset_spark.functions import decode_audio

    wav = _wav_bytes()
    # splice an odd-length LIST chunk right after the fmt chunk
    fmt_end = wav.index(b"data")
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    df = spark.createDataFrame([(0, bytearray(patched))], "media_id long, content binary")
    row = decode_audio(df).collect()[0]
    assert row.sample_rate == 8000 and row.n_frames == 2000


def _y4m_bytes(w, h, frames, colorspace="C420"):
    """Build YUV4MPEG2 bytes; `frames` = list of (h, w) uint8 luma planes."""
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A0:0 {colorspace}\n".encode()
    chroma = {"C420": (w // 2) * (h // 2) * 2, "C444": 2 * w * h, "Cmono": 0}[colorspace]
    out = [head]
    for y in frames:
        out.append(b"FRAME\n")
        out.append(np.asarray(y, dtype=np.uint8).tobytes())
        out.append(bytes(chroma))  # zeroed chroma planes
    return b"".join(out)


def test_sample_frames_y4m_real(spark):
    from polars_dataset_spark.functions import sample_frames

    # 5 frames of a 4x2 video, frame i is constant luma 50*i
    frames = [np.full((2, 4), 50 * i, dtype=np.uint8) for i in range(5)]
    blob = _y4m_bytes(4, 2, frames)
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"not a video"))], "id int, content binary"
    )
    got = {r.id: r for r in sample_frames(df, every=2, max_frames=8, target_size=(2, 2)).collect()}
    assert got[2].width is None and got[2].frames is None  # unparseable → null
    r = got[1]
    assert (r.width, r.height, r.n_frames_total) == (4, 2, 5)
    assert r.fps == pytest.approx(25.0)
    assert list(r.frame_indices) == [0, 2, 4]  # every 2nd frame
    means = [float(np.mean(f)) for f in r.frames]
    assert means == pytest.approx([0.0, 100 / 255, 200 / 255], abs=1e-6)


def test_sample_frames_mono_and_cap(spark):
    from polars_dataset_spark.functions import sample_frames

    frames = [np.full((2, 2), 10 * i, dtype=np.uint8) for i in range(6)]
    blob = _y4m_bytes(2, 2, frames, colorspace="Cmono")
    df = spark.createDataFrame([(1, bytearray(blob))], "id int, content binary")
    r = sample_frames(df, every=1, max_frames=3, target_size=(1, 1)).first()
    assert r.n_frames_total == 6 and list(r.frame_indices) == [0, 1, 2]  # max_frames cap
    with pytest.raises(ValueError):
        sample_frames(df, every=0)


def test_funnel_ordered_semantics(spark):
    from polars_dataset_spark.functions import funnel_counts, funnel_stages
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1: full ordered funnel
        (1, "view", t(0)), (1, "click", t(5)), (1, "purchase", t(9)),
        # u2: purchase BEFORE view/click — must not count as completed
        (2, "purchase", t(0)), (2, "view", t(1)), (2, "click", t(2)),
        # u3: view then click, no purchase
        (3, "view", t(0)), (3, "click", t(3)),
        # u4: click only — never enters the funnel
        (4, "click", t(0)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r.step: r.n_users for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 3, "click": 3, "purchase": 1}
    st = {r.user_id: r for r in funnel_stages(ev, ["view", "click", "purchase"]).collect()}
    assert st[1].step_3_ts is not None
    assert st[2].step_3_ts is None and st[2].step_2_ts is not None
    assert 4 not in st
    # within 4 minutes of the FIRST step: u1's click at +5min now misses
    tight = {r.step: r.n_users
             for r in funnel_counts(ev, ["view", "click", "purchase"], within_seconds=240).collect()}
    assert tight == {"view": 3, "click": 2, "purchase": 0}


def test_cohort_retention_offsets(spark):
    from polars_dataset_spark.functions import cohort_retention
    import datetime as dt

    # u1 first event Mon Jan 1 week, active again 2 weeks later;
    # u2 first event the NEXT week, active same week only
    rows = [
        (1, dt.datetime(2024, 1, 2, 10)), (1, dt.datetime(2024, 1, 16, 9)),
        (2, dt.datetime(2024, 1, 9, 8)), (2, dt.datetime(2024, 1, 10, 8)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r.cohort), r.period_offset): r.n_users
           for r in cohort_retention(ev, period="week").collect()}
    assert got == {
        ("2024-01-01 00:00:00", 0): 1, ("2024-01-01 00:00:00", 2): 1,
        ("2024-01-08 00:00:00", 0): 1,
    }
    import pytest as _pt
    with _pt.raises(ValueError):
        cohort_retention(ev, period="month")


def test_fuzzy_join_cross_table(spark):
    from polars_dataset_spark.functions import fuzzy_join

    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated text about spark clusters running jobs")],
        "id long, text string",
    )
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight"),
         (11, "another unrelated document concerning database engines")],
        "rid long, text string",
    )
    got = fuzzy_join(left, right, left_id="id", right_id="rid", threshold=0.5).collect()
    assert [(r.id_l, r.rid_r) for r in got] == [(1, 10)]
    assert 0.5 <= got[0].jaccard < 1.0


def test_heavy_hitters_exact_vs_bruteforce(spark):
    import numpy as np

    from polars_dataset_spark.functions import heavy_hitters, mg_candidates

    rng = np.random.default_rng(17)
    # zipf-ish stream: few heavy items, long light tail
    items = [f"h{i}" for i in range(5) for _ in range(400)] + [
        f"t{rng.integers(0, 3000)}" for _ in range(4000)
    ]
    rng.shuffle(items)
    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(13)
    phi = 0.02
    got = {r.item: r.cnt for r in heavy_hitters(df, "item", phi=phi).collect()}
    # brute-force truth
    from collections import Counter

    true = Counter(items)
    n = len(items)
    expect = {i: c for i, c in true.items() if c > phi * n}
    assert got == expect                       # exact output, not approximate
    # MG candidate SUPERSET guarantee under adversarial partitioning
    import math

    k = math.ceil(1 / phi) - 1
    cand = {r.item for r in mg_candidates(df, "item", k).select("item").distinct().collect()}
    assert set(expect) <= cand
    # candidate volume bounded by k per partition
    assert len(cand) <= k * 13

    import pytest as _pt

    with _pt.raises(ValueError, match="phi"):
        heavy_hitters(df, "item", phi=0.0)


def test_with_model_quality(spark):
    import math

    from polars_dataset_spark.functions.text import (
        DEFAULT_QUALITY_WEIGHTS,
        with_model_quality,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is for with that in to of"),
         (2, "x9$! 77## @@@ 123 999 $$$"),
         (3, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.model_quality for r in with_model_quality(df).collect()}
    assert got[1] > got[2]                      # prose beats noise
    assert got[3] == round(1 / (1 + math.exp(2.0)), 6)  # all features 0 -> sigmoid(bias)
    assert all(0.0 <= v <= 1.0 for v in got.values())
    # weight override changes the score; intermediate stat columns dropped
    alt = with_model_quality(df, weights={"log_tokens": 5.0})
    assert {r.doc_id: r.model_quality for r in alt.collect()}[1] > got[1]
    assert set(alt.columns) == {"doc_id", "text", "model_quality"}
    assert set(DEFAULT_QUALITY_WEIGHTS) == {
        "log_tokens", "mean_token_len", "stopword_ratio",
        "punct_ratio", "digit_ratio", "upper_ratio",
    }

    # ADVICE r3: caller-owned columns named like the internal features must
    # survive untouched (features are inlined, never materialized)...
    owned = spark.createDataFrame(
        [(1, "the cat sat on the mat", 999, 0.5)],
        "doc_id long, text string, n_tokens long, punct_ratio double",
    )
    row = with_model_quality(owned).collect()[0]
    assert row.n_tokens == 999 and row.punct_ratio == 0.5
    assert 0.0 <= row.model_quality <= 1.0
    from polars_dataset_spark.functions.text import with_quality_score

    row2 = with_quality_score(owned).collect()[0]
    assert row2.n_tokens == 999 and row2.punct_ratio == 0.5

    # ...and an unsupported lang raises a ValueError naming the options
    with pytest.raises(ValueError, match="supported"):
        with_model_quality(df, lang="xx")


def test_neardup_filter_against_index(spark):
    from polars_dataset_spark.functions import (
        build_neardup_index,
        neardup_filter_against,
    )

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"),
         (101, "large language models train on deduplicated web corpora")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 100
         (2, "completely unrelated text about spark clusters running jobs"),
         (3, "large language models train on deduplicated web corpora"),  # exact dup of 101
         (4, "short"),
         (5, None)],
        "doc_id long, text string",
    )
    idx = build_neardup_index(corpus)
    out = neardup_filter_against(docs, idx, threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [2, 4, 5]
    # passthrough keeps all columns and is stable when nothing matches
    empty_idx = build_neardup_index(corpus.filter("doc_id < 0"))
    assert neardup_filter_against(docs, empty_idx).count() == 5
    idx.unpersist()
    empty_idx.unpersist()


# Near-duplicates planted against a corpus indexed with NON-default LSH
# parameters (char 5-grams, 8 bands): a probe that signed with the defaults
# (token 3-grams, 16 bands) would share no band key with the index.
NEARDUP_CORPUS = [
    (100, "the quick brown fox jumps over the lazy dog near the river bank"),
    (101, "large language models train on deduplicated web corpora at scale"),
    (102, "spark executes distributed queries over columnar parquet files"),
]
NEARDUP_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river banks"),
    (2, "an entirely different sentence about cooking pasta with tomato sauce"),
    (3, "large language models train on deduplicated web corpora at scale"),
    (4, "spark executes distributed queries over columnar parquet file"),
]


def test_neardup_probe_uses_index_lsh_parameters(spark):
    from polars_dataset_spark.functions import (
        build_neardup_index,
        neardup_filter_against,
    )

    corpus = spark.createDataFrame(NEARDUP_CORPUS, "doc_id long, text string")
    docs = spark.createDataFrame(NEARDUP_DOCS, "doc_id long, text string")
    idx = build_neardup_index(corpus, shingle_kind="char", shingle_size=5, bands=8)
    try:
        out = neardup_filter_against(docs, idx, threshold=0.8)
        assert sorted(r.doc_id for r in out.collect()) == [2]
    finally:
        idx.unpersist()


def test_audio_spectrogram_tone_peaks(spark):
    """STFT spectrogram: a pure tone's magnitude must peak at its
    frequency bin (bin = f/rate * frame_size), both per-frame and in the
    pooled mean spectrum; short/garbage blobs yield nulls."""
    import numpy as np

    from polars_dataset_spark.functions import audio_spectrogram

    rows = [
        (1, bytearray(_wav_bytes(rate=8000, freq=440.0, secs=0.5))),
        (2, bytearray(_wav_bytes(rate=8000, freq=2000.0, secs=0.5))),
        (3, bytearray(b"not audio")),
        (4, bytearray(_wav_bytes(rate=8000, freq=440.0, secs=0.01))),  # < 1 frame
    ]
    df = spark.createDataFrame(rows, "id int, content binary")
    out = {r.id: r for r in audio_spectrogram(df, frame_size=256, hop=128).collect()}
    assert out[3].spectrogram is None and out[4].mean_spectrum is None
    for rid, freq in ((1, 440.0), (2, 2000.0)):
        r = out[rid]
        assert r.sample_rate == 8000
        expect_bin = round(freq / 8000 * 256)
        mean_spec = np.asarray(r.mean_spectrum)
        assert mean_spec.size == 129
        assert abs(int(mean_spec.argmax()) - expect_bin) <= 1
        first = np.asarray(r.spectrogram[0])
        assert abs(int(first.argmax()) - expect_bin) <= 1
    # frame accounting: n = 4000 samples -> 1 + (4000-256)//128 = 30 frames
    assert out[1].n_spec_frames == 30
    assert len(out[1].spectrogram) == 30  # under max_frames, all kept


def test_semantic_dedup_drops_planted_dups(vecs):
    from polars_dataset_spark.functions import semantic_dedup

    out = {
        r.vec_id: r
        for r in semantic_dedup(vecs, threshold=0.95, n_cells=2).collect()
    }
    assert len(out) == 8  # every input row present, kept or not
    # planted: 100 near-dups 0, 101 exact-dups 1 — earlier id survives
    assert out[0].kept and not out[100].kept
    assert out[1].kept and not out[101].kept
    # dup pairs land in the same cell (they're ~identical vectors)
    assert out[0].cell == out[100].cell
    assert out[1].cell == out[101].cell


def test_semantic_dedup_cell_isolation(spark):
    from polars_dataset_spark.functions import semantic_dedup

    # two exact-dup pairs pushed into DIFFERENT cells by explicit
    # centroids: cross-cell similarity must never drop anything
    a = [1.0] + [0.0] * 7
    b = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(0, a), (1, a), (2, b), (3, b)], "vec_id long, embedding array<double>"
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            df, threshold=0.99, centroids=[a, b]
        ).collect()
    }
    assert out[0].kept and out[2].kept  # one survivor per cell
    assert not out[1].kept and not out[3].kept
    assert out[0].cell != out[2].cell


def test_semantic_dedup_threshold_monotone(vecs):
    from polars_dataset_spark.functions import semantic_dedup

    kept_strict = {
        r.vec_id
        for r in semantic_dedup(vecs, threshold=0.999999, n_cells=1).collect()
        if r.kept
    }
    kept_loose = {
        r.vec_id
        for r in semantic_dedup(vecs, threshold=0.5, n_cells=1).collect()
        if r.kept
    }
    # lowering the threshold can only drop MORE
    assert kept_loose <= kept_strict
    # exact dup is gone even at the strictest threshold
    assert 101 not in kept_strict


def test_compression_ratio_signal(spark):
    """Monotone in repetition, null on empty/null, bounded, level-validated."""
    import pytest as _pytest

    from polars_dataset_spark.functions import with_compression_ratio

    prose = (
        "The quick brown fox jumps over the lazy dog while seventeen "
        "wandering musicians argued about harmony, rhythm, counterpoint "
        "and the unreasonable price of violin strings in late autumn. "
    )
    rows = [
        (1, "word " * 600),            # heavy repetition
        (2, prose * 8),                # natural prose
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["compression_ratio"]
           for r in with_compression_ratio(df, "text").collect()}
    assert out[3] is None and out[4] is None
    assert 0.0 < out[1] < out[2] <= 1.2   # repetition compresses further
    assert out[1] < 0.05                  # pure repetition is near-zero
    # higher level never compresses worse on the same input
    hi = {r["id"]: r["compression_ratio"]
          for r in with_compression_ratio(df, "text", level=9).collect()}
    assert hi[1] <= out[1] + 1e-12 and hi[2] <= out[2] + 1e-12
    with _pytest.raises(ValueError, match="level"):
        with_compression_ratio(df, "text", level=0)


def test_remove_repeated_substrings(spark):
    """Span excision vs a brute-force python reference + edge cases."""
    import pytest as _pytest

    from polars_dataset_spark.functions import remove_repeated_substrings

    boiler = "all rights reserved contact the site administrator for details"
    rows = [
        (1, f"unique opening words here {boiler} and a unique ending one"),
        (2, f"totally different prose {boiler} then more original content"),
        (3, "short doc"),                          # < k tokens: untouched
        (4, "echo alpha " * 6),                    # intra-doc repetition
        (5, ""),                                   # empty
        (6, "entirely original sentence with no duplicated span at all ok"),
    ]
    k = 4

    def ref(texts):
        toks = {i: t.lower().split() for i, t in texts}
        from collections import Counter

        cnt = Counter(
            tuple(ts[p : p + k])
            for ts in toks.values()
            for p in range(len(ts) - k + 1)
        )
        out = {}
        for i, ts in toks.items():
            starts = [
                p for p in range(len(ts) - k + 1)
                if cnt[tuple(ts[p : p + k])] >= 2
            ]
            cov = set()
            for p in starts:
                cov.update(range(p, p + k))
            kept = [t for p, t in enumerate(ts) if p not in cov]
            out[i] = (len(ts), len(cov), " ".join(kept))
        return out

    expected = ref(rows)
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in remove_repeated_substrings(df, k=k).collect()
    }
    assert got == expected
    assert got[3] == (2, 0, "short doc")          # untouched short doc
    assert got[4][1] > 0                          # intra-doc repeats cut
    assert got[5] == (0, 0, "")                   # empty stays empty
    assert got[6][1] == 0                         # no false positives
    with _pytest.raises(ValueError, match="k"):
        remove_repeated_substrings(df, k=1)
    with _pytest.raises(ValueError, match="min_count"):
        remove_repeated_substrings(df, min_count=1)


def test_remove_repeated_substrings_separator_injection(spark):
    # tokens CONTAINING the old chr(31) join byte must not collide:
    # "a\x1fb c" vs "a b\x1fc" are DIFFERENT 2-grams — a separator-joined
    # key would hash them identically and spuriously excise both docs
    from polars_dataset_spark.functions import remove_repeated_substrings

    df = spark.createDataFrame(
        [(0, "a\x1fb c"), (1, "a b\x1fc")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in remove_repeated_substrings(df, k=2).collect()}
    assert out[0].n_removed == 0 and out[1].n_removed == 0


def test_remove_repeated_substrings_overwrites_stat_columns(spark):
    # an input that already carries n_tokens (e.g. from with_token_count)
    # must not raise an ambiguous-reference error — output overwrites
    from polars_dataset_spark.functions import remove_repeated_substrings

    df = spark.createDataFrame(
        [(0, "x y z", 99), (1, "x y z", 99)],
        "doc_id long, text string, n_tokens long",
    )
    out = {r.doc_id: r for r in remove_repeated_substrings(df, k=2).collect()}
    assert out[0].n_tokens == 3  # recomputed, not the stale 99
    assert out[0].n_removed == 3  # whole doc is a corpus-repeated span


def test_assign_training_shards_deterministic_and_balanced(spark):
    from polars_dataset_spark.functions import assign_training_shards

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: (r.shard, r.shard_pos)
         for r in assign_training_shards(df, "doc_id", n_shards=8).collect()}
    b = {r.doc_id: (r.shard, r.shard_pos)
         for r in assign_training_shards(
             df.repartition(13), "doc_id", n_shards=8).collect()}
    assert a == b  # partitioning-independent, rerun-stable
    sizes = {}
    for s, _ in a.values():
        sizes[s] = sizes.get(s, 0) + 1
    assert len(sizes) == 8
    # md5-uniform: every shard within 25% of the fair share
    assert max(sizes.values()) < 500 * 1.25 and min(sizes.values()) > 500 * 0.75
    # different salt -> a genuinely different split
    c = {r.doc_id: r.shard
         for r in assign_training_shards(df, "doc_id", n_shards=8, salt="x").collect()}
    assert any(c[i] != a[i][0] for i in range(4000))


def test_write_training_shards_layout_and_order(spark, tmp_path):
    import os
    import re

    from polars_dataset_spark.functions import assign_training_shards, write_training_shards

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id").repartition(9)
    out = str(tmp_path / "shards")
    write_training_shards(df, out, "doc_id", n_shards=4)
    # hive layout: one directory per shard, ONE data file each (the
    # repartition-by-shard guarantees task==shard)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    for d in dirs:
        files = [f for f in os.listdir(f"{out}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1
    # stored row order within a shard == ascending order hash
    expect = assign_training_shards(df, "doc_id", n_shards=4)
    for shard in range(4):
        want = [
            r.doc_id
            for r in expect.filter(F.col("shard") == shard)
            .orderBy("shard_pos", "doc_id")
            .collect()
        ]
        got = [
            r.doc_id
            for r in spark.read.parquet(f"{out}/shard={shard}").collect()
        ]
        assert got == want
    with __import__("pytest").raises(ValueError, match="n_shards"):
        write_training_shards(df, out, n_shards=0)


def test_gopher_rules_fire_individually(spark):
    from polars_dataset_spark.functions import with_gopher_rules

    good = "the quick brown foxes jumped over the lazy dogs with it " * 8  # 88 words
    rows = [
        (0, good),
        (1, "short doc only"),                                   # word count
        (2, ("a " * 100).strip()),                               # mean len < 3
        (3, ("###### " * 60).strip() + " " + good),              # symbols + alpha
        (4, "\n".join(["- bullet line"] * 10 + ["the end and of it"] * 0)),  # bullets
        (5, "\n".join([("the cat and dog sat..." )] * 10)),      # ellipsis lines
        (6, ("zzz " * 80).strip()),                              # no stopwords
        (7, ""),
    ]
    out = {
        r.doc_id: r
        for r in with_gopher_rules(
            spark.createDataFrame(rows, "doc_id long, text string"), min_words=20
        ).collect()
    }
    assert out[0].gopher_keep
    assert not out[1].rule_word_count
    assert not out[2].rule_mean_word_len
    assert not out[3].rule_symbol_ratio and not out[3].rule_alpha_words
    assert not out[4].rule_bullet_lines
    assert not out[5].rule_ellipsis_lines
    assert not out[6].rule_stopwords
    assert not out[7].gopher_keep and not out[7].rule_word_count
    # one failed rule suffices to drop
    assert all(not out[i].gopher_keep for i in range(1, 8))


def test_cap_per_group_quota_and_determinism(spark):
    from polars_dataset_spark.functions import cap_per_group

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    kept = cap_per_group(df, "source", n_max=10, id_col="doc_id").collect()
    sizes = {}
    for r in kept:
        sizes[r.source] = sizes.get(r.source, 0) + 1
    assert sizes == {"g0": 10, "g1": 10, "g2": 10}
    # deterministic: same inputs -> same kept SET, partitioning-independent
    again = cap_per_group(df.repartition(7), "source", n_max=10, id_col="doc_id")
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in again.collect())
    # groups under the cap pass through whole
    few = cap_per_group(df, "source", n_max=1000, id_col="doc_id")
    assert few.count() == 100
    with pytest.raises(ValueError, match="n_max"):
        cap_per_group(df, "source", n_max=0)


def test_compact_files_rows_and_counts(spark, tmp_path):
    from polars_dataset_spark.sources.compact import _data_files, compact_files

    path = str(tmp_path / "tiny")
    spark.range(0, 5000).repartition(40).write.parquet(path)
    assert len(_data_files(spark, path)) == 40
    stats = compact_files(spark, path, target_rows=1200)
    assert (stats.n_rows, stats.files_before, stats.files_after) == (5000, 40, 5)
    assert len(_data_files(spark, path)) == 5
    back = spark.read.parquet(path)
    assert back.count() == 5000
    assert back.agg(F.sum("id")).first()[0] == 5000 * 4999 // 2  # content intact
    # target_bytes path: compacting 5 files to ~one file's worth of bytes
    total = sum(sz for _, sz in _data_files(spark, path))
    stats2 = compact_files(spark, path, target_bytes=total)
    assert stats2.files_after == 1 and len(_data_files(spark, path)) == 1
    with pytest.raises(ValueError, match="exactly one"):
        compact_files(spark, path)
    with pytest.raises(ValueError, match="exactly one"):
        compact_files(spark, path, target_rows=1, target_bytes=1)


def test_strip_markup_semantics(spark):
    from polars_dataset_spark.functions import strip_markup

    rows = [
        (0, '<p>hello <b>world</b></p>'),
        (1, '<script>var a = "<p>not text</p>";</script>real'),
        (2, '<style>p { color: red }</style>styled'),
        (3, 'a <!-- multi\nline comment --> b'),
        (4, 'x &amp;lt; y'),        # decode once: &amp;lt; -> &lt;  (literal)
        (5, '&lt;script&gt;alert()&lt;/script&gt;'),  # entity-coded tags stay text
        (6, '  lots   of\n\nspace  '),
        (7, ''),
        (8, None),
    ]
    out = {
        r.doc_id: r.clean_text
        for r in strip_markup(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0] == "hello world"
    assert out[1] == "real"
    assert out[2] == "styled"
    assert out[3] == "a b"
    assert out[4] == "x &lt; y"
    assert out[5] == "<script>alert()</script>"  # decoded to TEXT, not re-stripped
    assert out[6] == "lots of space"
    assert out[7] == ""
    assert out[8] is None


def test_with_code_score_routes_code_vs_prose(spark):
    """Code snippets score high, prose scores low, and the score is a
    deterministic integer-ppm construction (same text twice -> same
    bits)."""
    from polars_dataset_spark.functions import with_code_score

    code = (
        "def transform(rows):\n"
        "  out = [];\n"
        "  for (r) in rows: out += [r * 2];\n"
        "  return (out != []) && (len(out) == len(rows));"
    )
    prose = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet fields until the evening settles in"
    )
    df = spark.createDataFrame(
        [(0, code), (1, prose), (2, code), (3, "")], "i long, text string"
    )
    rows = {r.i: r for r in with_code_score(df).collect()}
    assert rows[0].is_code and not rows[1].is_code
    assert rows[0].code_score > 0.35 > rows[1].code_score
    assert rows[0].code_score == rows[2].code_score  # deterministic
    assert rows[3].code_score == 0.0 and not rows[3].is_code
    # helper columns must not leak
    assert set(with_code_score(df).columns) == {"i", "text", "code_score", "is_code"}
