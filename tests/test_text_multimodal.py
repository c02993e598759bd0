import pytest
from pyspark.sql import functions as F

from hadoopxmlextractor_spark.operators import multimodal as M
from hadoopxmlextractor_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The cat and the dog of the house."),
        (2, "Der Hund und die Katze und der Vogel."),
        (3, "Le chat et le chien et les oiseaux."),
        (4, "xyzzy plugh"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_counts(spark, docs):
    got = {r.doc_id: r.n for r in docs.select("doc_id", T.token_count("text").alias("n")).collect()}
    assert got == {1: 8, 2: 8, 3: 8, 4: 2, 5: 0}


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([(1, "hello, world 42!")], "id long, text string")
    # hello , world 42 ! → 5 pieces
    assert df.select(T.bpe_ish_token_count("text").alias("n")).first()["n"] == 5


def test_language_id(spark, docs):
    got = {
        r.doc_id: r.lang
        for r in docs.select("doc_id", T.language_id("text").alias("lang")).collect()
    }
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
    assert got[4] == "unknown" and got[5] == "unknown"


def test_quality_features(spark, docs):
    feats = T.quality_features("text")
    row = (
        docs.filter("doc_id = 1")
        .select(*[v.alias(k) for k, v in feats.items()])
        .first()
    )
    assert row["n_tokens"] == 8
    assert row["n_chars"] == 33
    assert 0 < row["punct_ratio"] < 0.1  # one period
    assert row["stopword_ratio"] > 0.3  # 'the' ×3, 'and', 'of' in 8 tokens
    assert row["mean_token_len"] == pytest.approx((33 - 7) / 8, abs=1e-4)


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "id long, text string",
    )
    fps = [r.fp for r in df.select(T.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_winnowing_fingerprints_detect_overlap(spark):
    shared = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(1, shared + "alpha beta gamma"), (2, shared + "delta epsilon"), (3, "totally different words here " * 5)],
        "id long, text string",
    )
    rows = df.select("id", T.winnowing_fingerprints("text").alias("fp")).collect()
    fp = {r.id: set(r.fp) for r in rows}
    overlap_12 = len(fp[1] & fp[2]) / len(fp[1] | fp[2])
    overlap_13 = len(fp[1] & fp[3]) / len(fp[1] | fp[3])
    assert overlap_12 > 0.5 > overlap_13
    assert overlap_13 == 0


def test_multimodal_feature_pipeline(spark, docs):
    media = M.fake_media_from_documents(
        docs.select("doc_id", "text", F.lit("src").alias("source"))
    )
    assert media.schema["content"].dataType.typeName() == "binary"
    feats = M.extract_media_features(media, decode="fake")
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows[1].feature) == M.N_FEATURE_BINS
    assert abs(sum(rows[1].feature) - 1.0) < 1e-5  # normalized histogram
    assert rows[5].n_bytes == 0 and sum(rows[5].feature) == 0.0  # empty doc


def test_multimodal_real_decode_nulls_unsupported_formats(spark, docs):
    # utf-8 text bytes are neither PPM nor WAV: real decode must emit a
    # NULL feature per row (auditable), never crash the job
    media = M.fake_media_from_documents(
        docs.select("doc_id", "text", F.lit("src").alias("source"))
    )
    rows = M.extract_media_features(media, decode="real").collect()
    assert len(rows) == docs.count()
    assert all(r["feature"] is None for r in rows)
    assert any(r["n_bytes"] > 0 for r in rows)  # fixture has a NULL-text doc


def test_frame_sampling_shapes(spark):
    blob = bytes(range(256)) * 40  # 10240 bytes → 3 frames at 4096
    df = spark.createDataFrame(
        [(1, "image", blob, ("s", len(blob), "fake/raw"))],
        M.MEDIA_SCHEMA,
    )
    frames = M.sample_frames(df, every_n_bytes=4096).collect()
    assert [r.frame_idx for r in frames] == [0, 1, 2]
    assert len(frames[0].frame) == 4096 and len(frames[2].frame) == 10240 - 2 * 4096


def test_resize_media_bounds_and_determinism(spark, docs):
    media = M.fake_media_from_documents(docs)
    small = M.resize_media(media, target_bytes=64)
    rows = {r["media_id"]: r["content"] for r in small.collect()}
    orig = {r["media_id"]: r["content"] for r in media.collect()}
    for mid, blob in rows.items():
        assert len(blob) <= 64
        if len(orig[mid]) <= 64:
            assert blob == orig[mid]  # never upsample
        else:
            # stride sampling preserves first and last byte
            assert blob[0] == orig[mid][0] and blob[-1] == orig[mid][-1]
    again = {r["media_id"]: r["content"] for r in M.resize_media(media, target_bytes=64).collect()}
    assert rows == again


def _ppm_bytes(w, h):
    import numpy as np

    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.arange(w, dtype=np.uint8)[None, :] * 8  # red gradient
    img[..., 1] = 100
    return f"P6\n# test\n{w} {h}\n255\n".encode() + img.tobytes(), img


def _wav_bytes(rate=8000, seconds=0.5, freq=440.0):
    import io
    import wave

    import numpy as np

    t = np.arange(int(rate * seconds)) / rate
    x = (np.sin(2 * np.pi * freq * t) * 12000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as ww:
        ww.setnchannels(1)
        ww.setsampwidth(2)
        ww.setframerate(rate)
        ww.writeframes(x.tobytes())
    return buf.getvalue(), x


def _media_df(spark, blobs):
    return spark.createDataFrame(
        [
            (i, mt, bytearray(b), (None, len(b), mt))
            for i, (mt, b) in enumerate(blobs)
        ],
        M.MEDIA_SCHEMA,
    )


def test_real_decode_features_ppm_and_wav(spark):
    ppm, img = _ppm_bytes(16, 8)
    wav, x = _wav_bytes()
    media = _media_df(
        spark, [("image", ppm), ("audio", wav), ("video", b"\x00\x01notaformat")]
    )
    feats = {r["media_id"]: r["feature"] for r in M.extract_media_features(media, decode="real").collect()}
    fi = feats[0]
    assert (fi[0], fi[1], fi[2]) == (16.0, 8.0, 3.0)
    assert abs(fi[3] - img[..., 0].mean()) < 1e-4  # mean red
    assert abs(fi[4] - 100.0) < 1e-4  # mean green
    fa = feats[1]
    assert (fa[0], fa[1]) == (8000.0, 1.0)
    assert abs(fa[3] - 0.5) < 1e-3  # duration
    import numpy as np

    assert abs(fa[4] - np.sqrt(np.mean((x / 32768.0) ** 2))) < 1e-3  # rms
    assert feats[2] is None  # codec format w/o libs: null, not a crash


def test_real_resize_reencodes_ppm_and_wav(spark):
    ppm, _ = _ppm_bytes(16, 8)
    wav, _ = _wav_bytes()
    media = _media_df(spark, [("image", ppm), ("audio", wav)])
    small = {
        r["media_id"]: bytes(r["content"])
        for r in M.resize_media(media, target_bytes=128, decode="real").collect()
    }
    simg = M._decode_ppm(small[0])
    assert simg is not None and simg.shape[0] * simg.shape[1] * 3 <= 128
    dec = M._decode_wav(small[1])
    assert dec is not None
    rate, ch, frames = dec
    assert len(frames) * ch * 2 <= 128
    # duration preserved: frames/rate ratio matches the original 0.5 s
    assert abs(len(frames) / rate - 0.5) < 0.02


def test_repetition_counts_planted(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "a b a b a b"), (4, "")],
        "id long, text string",
    )
    rows = {
        r.id: r
        for r in df.select("id", T.repetition_counts("text").alias("r"))
        .select("id", "r.*")
        .collect()
    }
    assert rows[1].n_tokens == 4 and rows[1].n_distinct == 1
    assert rows[1].top_token_cnt == 4 and rows[1].top_bigram_cnt == 3  # "a a" ×3
    assert rows[2].top_token_cnt == 1 and rows[2].top_bigram_cnt == 1
    assert rows[3].n_distinct == 2 and rows[3].top_bigram_cnt == 3  # "a b" ×3
    assert rows[4].n_tokens == 0 and rows[4].top_bigram_cnt == 0


def test_pii_redaction_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk thanks"),
            (2, "ssn 123-45-6789 and server 10.0.255.1 here"),
            (3, "call +1 415-555-0199 today"),
            (4, "clean text with numbers 42 and 7"),
        ],
        "id long, text string",
    )
    red = {r.id: r.red for r in df.select("id", T.redact_pii("text").alias("red")).collect()}
    assert red[1] == "mail me at [PII] thanks"
    assert red[2] == "ssn [PII] and server [PII] here"
    assert red[3] == "call [PII] today"
    assert red[4] == "clean text with numbers 42 and 7"

    counts = (
        df.select("id", *[v.alias(k) for k, v in T.pii_counts("text").items()])
        .collect()
    )
    by_id = {r.id: r for r in counts}
    assert by_id[1].n_email == 1 and by_id[2].n_ssn == 1
    assert by_id[2].n_ipv4 == 1 and by_id[3].n_phone == 1
    assert sum([by_id[4].n_email, by_id[4].n_ssn, by_id[4].n_ipv4, by_id[4].n_phone]) == 0


def test_repetition_counts_random_cross_check(spark):
    import random
    from collections import Counter

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "dd", "e", "ff f", ""]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 40)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = {
        r.id: (r.n_tokens, r.n_distinct, r.top_token_cnt, r.top_bigram_cnt)
        for r in df.select("id", T.repetition_counts("text").alias("r"))
        .select("id", "r.*")
        .collect()
    }
    for i, t in enumerate(texts):
        toks = t.split()
        tc, bc = Counter(toks), Counter(zip(toks, toks[1:]))
        assert got[i] == (
            len(toks),
            len(tc),
            max(tc.values()) if tc else 0,
            max(bc.values()) if bc else 0,
        ), f"doc {i}: {t!r}"


def test_heavy_hitters_matches_exact_groupby_under_eviction(spark):
    import pytest
    from collections import Counter

    from hadoopxmlextractor_spark.operators.text import heavy_hitters

    # Adversarial: 3000 distinct unigrams against capacity 128 forces
    # repeated Misra-Gries evictions; a handful of planted hot tokens
    # must still come out with EXACT counts. N = 3000 + 123 = 3123,
    # N/(capacity+1) = 24.2 < min_count 40 -> guarantee holds.
    rows = [(f"d{i}", f"rare{i}") for i in range(3000)]
    hot = {"alpha": 42, "beta": 40, "gamma": 41}
    k = 0
    for tok, cnt in hot.items():
        for _ in range(cnt):
            rows.append((f"h{k}", tok)); k += 1
    docs = spark.createDataFrame(rows, "doc_id string, text string").repartition(4)
    got = {
        r["ngram"]: r["cnt"]
        for r in heavy_hitters(docs, "text", min_count=40, n=1, capacity=128).collect()
    }
    truth = Counter()
    for _, t in rows:
        truth[t] += 1
    assert got == {t: c for t, c in truth.items() if c >= 40}

    # Guarantee violated (min_count <= N/(capacity+1)) -> hard error,
    # never a silently incomplete result.
    with pytest.raises(ValueError, match="guarantee"):
        heavy_hitters(docs, "text", min_count=10, n=1, capacity=128)


def test_heavy_hitters_broadcasts_candidates(spark):
    from hadoopxmlextractor_spark.operators.text import heavy_hitters
    from hadoopxmlextractor_spark.plans import has_broadcast_join

    docs = spark.createDataFrame(
        [(f"d{i}", "spark query engine") for i in range(50)],
        "doc_id string, text string",
    )
    assert has_broadcast_join(heavy_hitters(docs, "text", min_count=5, n=2))


def test_hashed_features_deterministic_signed_counts(spark):
    import hashlib

    from hadoopxmlextractor_spark.operators.text import hashed_features

    docs = spark.createDataFrame(
        [("d1", "alpha alpha beta"), ("d2", "ALPHA gamma")],
        "doc_id string, text string",
    )
    out = {(r["doc_id"], r["dim_idx"]): r["value"]
           for r in hashed_features(docs, "text", "doc_id", dim=64).collect()}

    def ref(tok):
        h = hashlib.md5(tok.encode()).hexdigest()
        return int(h[:8], 16) % 64, 1 - 2 * (int(h[8:10], 16) % 2)

    from collections import defaultdict
    expect = defaultdict(int)
    for doc, text in [("d1", "alpha alpha beta"), ("d2", "alpha gamma")]:
        for tok in text.split():
            i, s = ref(tok)
            expect[(doc, i)] += s
    assert out == dict(expect)
    # case-normalized: d1's "alpha" and d2's "ALPHA" land identically
    ia, _ = ref("alpha")
    assert ("d2", ia) in out


def test_classifier_margin_python_replay_and_empty_doc(spark):
    import hashlib
    from collections import defaultdict

    from hadoopxmlextractor_spark.operators.text import classifier_margin

    rows = [("d1", "alpha alpha beta"), ("d2", "gamma delta"), ("d3", "   ")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["margin"], r["keep"])
        for r in classifier_margin(docs, "text", "doc_id", dim=64).collect()
    }

    def hex8(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def feat(tok):
        h = hashlib.md5(tok.encode()).hexdigest()
        return int(h[:8], 16) % 64, 1 - 2 * (int(h[8:10], 16) % 2)

    w = {j: hex8(f"w:{j}") % 2001 - 1000 for j in range(64)}
    expect = {}
    for doc, text in rows:
        vec = defaultdict(int)
        for tok in text.lower().split():
            i, s = feat(tok)
            vec[i] += s
        margin = sum(v * w[i] for i, v in vec.items())
        expect[doc] = (margin, margin >= 0)
    assert got == expect
    # the whitespace-only doc is still verdicted, at margin 0
    assert got["d3"] == (0, True)


def test_image_ahash_python_replay_and_codec_null(spark):
    import hashlib

    from hadoopxmlextractor_spark.operators.multimodal import (
        image_ahash,
        synth_ppm_media,
    )

    docs = spark.createDataFrame([(7,), (42,)], "doc_id long")
    media = synth_ppm_media(docs, side=8)
    got = {r["media_id"]: r["ahash"] for r in image_ahash(media).collect()}

    for i in (7, 42):
        raw = b"".join(
            hashlib.md5(f"{i}:{k}".encode()).digest() for k in range(12)
        )[: 8 * 8 * 3]
        lum = [
            (raw[3 * p] * 299 + raw[3 * p + 1] * 587 + raw[3 * p + 2] * 114)
            // 1000
            for p in range(64)
        ]
        mean = sum(lum) // 64
        u = sum((1 << p) for p in range(64) if lum[p] > mean)
        expect = u - (1 << 64) if u >= (1 << 63) else u
        assert got[i] == expect

    # an undecodable blob (the codec plug-in point) yields NULL
    blob = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG not a ppm"))], "media_id long, content binary"
    )
    assert image_ahash(blob).collect()[0]["ahash"] is None


def test_audio_energy_python_replay_and_codec_skip(spark):
    import hashlib

    from hadoopxmlextractor_spark.operators.multimodal import (
        audio_energy_windows,
        synth_wav_media,
    )

    docs = spark.createDataFrame([(3,)], "doc_id long")
    got = {
        (r["media_id"], r["win_idx"]): (r["energy"], r["is_silence"])
        for r in audio_energy_windows(
            synth_wav_media(docs, n_samples=256), window=64
        ).collect()
    }
    pcm = b"".join(hashlib.md5(f"3:w{k}".encode()).digest() for k in range(32))[:512]
    samples = [
        int.from_bytes(pcm[2 * s : 2 * s + 2], "little", signed=True)
        for s in range(256)
    ]
    for w in range(4):
        e = sum(x * x for x in samples[64 * w : 64 * (w + 1)])
        assert got[(3, w)] == (e, e < 22_000_000_000)
    assert len(got) == 4

    # a non-WAV blob contributes no frames
    blob = spark.createDataFrame(
        [(1, bytearray(b"ID3 mp3-ish bytes"))], "media_id long, content binary"
    )
    assert audio_energy_windows(blob).count() == 0


def test_g711_tables_container_and_energy_route(spark):
    """G.711 (r6 verdict item 7): (a) both companding tables match the
    stdlib audioop reference bit-for-bit over all 256 codes (import-
    gated — audioop leaves in 3.13); (b) stdlib wave genuinely refuses
    the format-6/7 container while _decode_wav's own RIFF walk decodes
    it; (c) the energy route end-to-end replays in Python and the
    silence flag genuinely discriminates."""
    import hashlib
    import io
    import wave as wave_mod

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_wav,
        _g711_table,
        audio_energy_windows,
        synth_g711_wav_media,
    )

    try:
        import audioop

        for law, fn in (("ulaw", audioop.ulaw2lin), ("alaw", audioop.alaw2lin)):
            table = _g711_table(law)
            for c in range(256):
                assert fn(bytes([c]), 2) == np.int16(table[c]).tobytes(), (law, c)
    except ImportError:
        pass  # 3.13+: covered by the SQL-arithmetic oracle instead

    docs = spark.createDataFrame([(0,), (1,)], "doc_id long")
    blobs = {r.media_id: bytes(r.content) for r in synth_g711_wav_media(docs).collect()}
    for mid, blob in blobs.items():
        try:
            wave_mod.open(io.BytesIO(blob))
            raise AssertionError("stdlib wave unexpectedly accepted G.711")
        except wave_mod.Error:
            pass
        rate, nch, samples = _decode_wav(blob)
        assert (rate, nch, len(samples)) == (8000, 1, 256)
        law = _g711_table("ulaw" if mid % 2 == 0 else "alaw")
        raw = b"".join(
            hashlib.md5(f"{mid}:g{k}".encode()).digest() for k in range(16)
        )[:256]
        assert np.array_equal(samples[:, 0], law[np.frombuffer(raw, np.uint8)])

    many = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    rows = audio_energy_windows(
        synth_g711_wav_media(many), silence_threshold=6_500_000_000
    ).collect()
    assert len(rows) == 40 * 4
    silent = sum(r.is_silence for r in rows)
    assert 0 < silent < len(rows)  # threshold discriminates


def test_video_shot_boundaries_find_planted_cuts(spark):
    from hadoopxmlextractor_spark.operators.multimodal import (
        _ppm_stream_frames,
        synth_ppm_video,
        video_shot_boundaries,
    )

    docs = spark.createDataFrame([(11,), (12,)], "doc_id long")
    media = synth_ppm_video(docs, n_frames=8, side=8, cuts=(3, 6))

    # the container parses into exactly 8 well-formed 8x8 frames
    blob = bytes(media.collect()[0]["content"])
    frames = _ppm_stream_frames(blob)
    assert len(frames) == 8 and all(f.shape == (8, 8, 3) for f in frames)

    rows = video_shot_boundaries(media, hamming_threshold=16).collect()
    for mid in (11, 12):
        bounds = {r["frame_idx"] for r in rows if r["media_id"] == mid and r["is_boundary"]}
        assert bounds == {0, 3, 6}
        within = [
            r["hamming_prev"]
            for r in rows
            if r["media_id"] == mid and r["frame_idx"] in (1, 2, 4, 5, 7)
        ]
        assert all(h <= 16 for h in within)

    # truncated tail: parser stops cleanly, no crash
    assert len(_ppm_stream_frames(blob[: len(blob) - 100])) == 7


def _perceptron_replay(docs, dim, rounds, min_words):
    """Pure-Python mirror of text.perceptron_train (md5 hashing-trick
    features, word-count weak labels, full-batch updates)."""
    import hashlib

    feats, labels = {}, {}
    for doc_id, text in docs:
        words = text.strip().split()
        if not words:
            continue
        labels[doc_id] = 1 if len(words) >= min_words else -1
        vec = {}
        for tok in (w.lower() for w in words):
            h = hashlib.md5(tok.encode()).hexdigest()
            idx = int(h[:8], 16) % dim
            sign = 1 - 2 * (int(h[8:10], 16) % 2)
            vec[idx] = vec.get(idx, 0) + sign
        feats[doc_id] = vec
    w = [0] * dim
    for _ in range(rounds):
        grad = [0] * dim
        for doc_id, vec in feats.items():
            margin = sum(v * w[j] for j, v in vec.items())
            if labels[doc_id] * margin <= 0:
                for j, v in vec.items():
                    grad[j] += labels[doc_id] * v
        w = [a + b for a, b in zip(w, grad)]
    return w, feats, labels


def test_perceptron_matches_python_replay_and_learns(spark):
    from hadoopxmlextractor_spark.operators import text as T

    # Separable planted corpus: "long" docs use one token family,
    # short docs another, plus an empty doc (must be excluded).
    rows = [(i, " ".join(f"alpha{i % 5}w{k}" for k in range(25))) for i in range(8)]
    rows += [(i, " ".join(f"beta{i % 5}" for _ in range(4))) for i in range(8, 16)]
    rows.append((16, "   "))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    w, _ = T.perceptron_train(docs, "text", "doc_id", dim=16, rounds=3, min_words=20)
    want_w, _, want_labels = _perceptron_replay(rows, 16, 3, 20)
    assert list(w) == want_w

    preds = {
        r["doc_id"]: (r["pred"], r["correct"])
        for r in T.perceptron_predictions(
            docs, "text", "doc_id", dim=16, rounds=3, min_words=20
        ).collect()
    }
    assert 16 not in preds  # empty doc has no features
    assert all(c for _, c in preds.values())  # separable -> fits exactly
    assert {p for p, _ in preds.values()} == {1, -1}
    assert preds.keys() == want_labels.keys()


def test_regression_suffstats_match_dense_and_solve(spark):
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators import text as T

    dim = 8
    rows = [
        (i, " ".join(f"tok{(i * 3 + k) % 11}" for k in range((i % 9) + 2)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = T.regression_suffstats(docs, "text", "doc_id", dim=dim).collect()

    # Dense reference: hashing-trick matrix + token-count target.
    X = np.zeros((len(rows), dim), dtype=np.int64)
    y = np.zeros(len(rows), dtype=np.int64)
    for r, (_, text) in enumerate(rows):
        words = text.strip().split()
        y[r] = len(words)
        for tok in (w.lower() for w in words):
            h = hashlib.md5(tok.encode()).hexdigest()
            X[r, int(h[:8], 16) % dim] += 1 - 2 * (int(h[8:10], 16) % 2)
    G, b = X.T @ X, X.T @ y

    # Reconstruct from the sparse stats (absent pair = never co-occurs
    # = 0) and require exact equality with the dense reference.
    Gf = np.zeros((dim, dim)); bf = np.zeros(dim)
    for row in got:
        if row["kind"] == "gram":
            assert row["j"] <= row["k"]
            Gf[row["j"], row["k"]] = Gf[row["k"], row["j"]] = row["value"]
        else:
            assert row["k"] == -1
            bf[row["j"]] = row["value"]
    assert np.array_equal(Gf, G)  # X'X is symmetric
    assert np.array_equal(bf, b)

    # The whole point: fit driver-side from the O(dim^2) stats alone.
    w = np.linalg.solve(Gf + 1e-3 * np.eye(dim), bf)
    pred = X @ w
    ss_res = ((y - pred) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    assert 1 - ss_res / ss_tot > 0.5


def test_token_chi2_ranks_perfect_discriminator_highest(spark):
    from hadoopxmlextractor_spark.operators import text as T
    from pyspark.sql import functions as F

    # 10 "pos" docs all contain MARKER; 10 "neg" docs never do; COMMON
    # appears in every doc of both classes at equal rate -> no signal.
    rows = [(i, f"marker common filler{i % 3}", "p") for i in range(10)]
    rows += [(i, f"other common filler{i % 3}", "n") for i in range(10, 20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, cls string")
    out = {
        r["token"]: r
        for r in T.token_chi2(
            docs, "text", "doc_id", F.col("cls") == "p", min_df=2
        ).collect()
    }
    assert "common" not in out  # present in ALL docs -> dropped
    assert out["marker"]["a"] == 10 and out["marker"]["b"] == 0
    assert out["other"]["a"] == 0 and out["other"]["b"] == 10
    # Perfect discriminators hit the maximum chi2 = n.
    assert out["marker"]["chi2"] == 20.0 == out["other"]["chi2"]
    # Near-balanced fillers (4 vs 3 docs) carry ~zero signal.
    for t in ("filler0", "filler1", "filler2"):
        assert abs(out[t]["chi2"]) < 0.5


def test_codec_magic_routes_to_pil_plugin_and_nulls_without_pil():
    # Pure-function dispatch check (no Spark): a JPEG/PNG-magic blob
    # must take the import-gated PIL branch; in this container PIL is
    # absent, so the result is the auditable NULL — never an exception.
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M

    jpeg_ish = b"\xff\xd8\xff\xe0" + b"\x00" * 64
    png_ish = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    if not M._pil_available():
        assert M._real_feature(jpeg_ish) is None
        assert M._real_feature(png_ish) is None
    else:
        # with PIL installed a TRUNCATED codec blob still nulls cleanly
        assert M._real_feature(jpeg_ish) is None

    # the dispatch itself: substitute the decoder and confirm the codec
    # branch feeds the SAME statistics vector as the PPM path
    orig = M._decode_with_pil
    try:
        fake_img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        M._decode_with_pil = lambda blob: fake_img
        got = M._real_feature(jpeg_ish)
        want = M._image_feature_vec(fake_img)
        assert got is not None and np.allclose(got, want)
        # non-codec magic must NOT consult the plug-in
        M._decode_with_pil = lambda blob: (_ for _ in ()).throw(AssertionError)
        assert M._real_feature(b"not media at all") is None
    finally:
        M._decode_with_pil = orig


def test_pil_decode_real_png_when_available():
    # Runs only where PIL exists (skipped in this container): a real
    # encoded PNG must decode to its pixel grid and produce the shared
    # image statistics vector.
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M

    img = np.zeros((5, 7, 3), dtype=np.uint8)
    img[..., 0] = 200  # red plane
    buf = io.BytesIO()
    PIL_Image.fromarray(img).save(buf, format="PNG")
    got = M._real_feature(buf.getvalue())
    assert got is not None
    assert got[0] == 7.0 and got[1] == 5.0  # width, height
    assert np.allclose(got, M._image_feature_vec(img))


def test_resize_real_passes_codec_blobs_through_without_pil(spark):
    # codec-magic blobs must pass through unchanged when PIL is absent
    # (this container) — never crash, never corrupt
    import pytest

    from hadoopxmlextractor_spark.operators import multimodal as M

    if M._pil_available():
        pytest.skip("container has PIL; passthrough branch not reachable")
    blob = b"\x89PNG\r\n\x1a\n" + b"\x01\x02" * 40
    media = spark.createDataFrame(
        [(1, "image", bytearray(blob))], "media_id long, media_type string, content binary"
    )
    out = M.resize_media(media, target_bytes=16, decode="real").collect()
    assert bytes(out[0]["content"]) == blob


def test_canonical_url_normalization_edges(spark):
    from hadoopxmlextractor_spark.operators.text import canonical_url

    cases = [
        ("https://WWW.Ex.COM:443/a/b/?utm_source=x&q=1#frag",
         "https://www.ex.com/a/b?q=1"),
        ("http://h.com:80/", "http://h.com/"),
        ("HTTPS://H.com/p?utm_campaign=c", "https://h.com/p"),
        ("https://h.com/p?a=1&fbclid=z&b=2", "https://h.com/p?a=1&b=2"),
        ("https://h.com", "https://h.com/"),
        ("https://h.com:8080/p", "https://h.com:8080/p"),  # non-default port kept
        # anchored strip: a LONGER param name containing a tracking name
        # must survive intact
        ("https://h.com/p?a=1&myfbclid=7", "https://h.com/p?a=1&myfbclid=7"),
        # consecutive tracking params all stripped in one pass
        ("https://h.com/p?utm_a=1&utm_b=2&utm_c=3&x=9", "https://h.com/p?x=9"),
        # :443 is NOT http's default port — a real distinct endpoint
        ("http://h.com:443/a", "http://h.com:443/a"),
        ("https://h.com:80/a", "https://h.com:80/a"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url("url")).collect()]
    assert got == [want for _, want in cases]


def test_countmin_overestimates_and_merges(spark):
    from hadoopxmlextractor_spark.operators.text import (
        countmin_estimates,
        countmin_sketch,
    )

    rows = [(i, f"w{i % 5} w{i % 3} common") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sk = countmin_sketch(df, "text", depth=4, width=8)
    probes = spark.createDataFrame(
        [("common",), ("w0",), ("absent",)], "token string"
    )
    est = {r.token: r.cm_est for r in
           countmin_estimates(sk, probes, depth=4, width=8).collect()}
    # one-sided error: estimates never undercount
    assert est["common"] >= 40 and est["w0"] >= 8
    assert est["absent"] >= 0  # may collide upward, never negative
    # mergeability: sketches over disjoint halves sum cell-wise to the
    # full-corpus sketch
    a = countmin_sketch(df.filter("doc_id < 20"), "text", depth=4, width=8)
    b = countmin_sketch(df.filter("doc_id >= 20"), "text", depth=4, width=8)
    merged = (
        a.unionByName(b).groupBy("row", "cell")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in sk.collect()}


def test_tfidf_topk_ranks_rare_tokens_first(spark):
    from hadoopxmlextractor_spark.operators.text import tfidf_topk_keywords

    # "zebra" appears once in one doc of four → idf 4e6; "the" is in
    # every doc → idf 1e6. Within doc 1: zebra (1×4e6) outranks the
    # (3×1e6) outranks alpha... integer scores, fully deterministic.
    rows = [
        (1, "the the the zebra alpha"),
        (2, "the alpha beta"),
        (3, "the beta beta"),
        (4, "the alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.rn): (r.token, r.score)
        for r in tfidf_topk_keywords(df, "text", "doc_id", k=3).collect()
    }
    assert got[(1, 1)] == ("zebra", 4_000_000)   # 1 * (4*1e6 div 1)
    assert got[(1, 2)] == ("the", 3_000_000)     # 3 * (4*1e6 div 4)
    assert got[(1, 3)] == ("alpha", 1_333_333)   # 1 * (4*1e6 div 3)
    # ties break on token asc: doc 4's two tokens score 1.3e6 and 1e6
    assert got[(4, 1)][0] == "alpha"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _filter_scanlines(img, ftype: int, channels: int) -> bytes:
    """Forward-apply one PNG filter type to every scanline, straight
    from the spec — the test-side inverse of the decoder's unfilter."""
    import numpy as np

    h, stride = img.shape[0], img.shape[1] * channels
    flat = img.reshape(h, stride).astype(np.int64)
    out = b""
    for y in range(h):
        row = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        enc = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = row[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:  # Paeth
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (row[x] - pred) & 0xFF
        out += bytes([ftype]) + enc.astype(np.uint8).tobytes()
    return out


def _build_png(raw_scanlines: bytes, w: int, h: int, color: int,
               plte: bytes = b"") -> bytes:
    import struct
    import zlib

    body = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
    if plte:
        body += _png_chunk(b"PLTE", plte)
    body += _png_chunk(b"IDAT", zlib.compress(raw_scanlines))
    body += _png_chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def test_png_codec_roundtrip_and_every_filter_and_color_type():
    """The zero-dependency PNG codec: encode->decode is bit-exact; a
    PNG hand-filtered with EACH of the five spec filter types decodes
    back to the original plane; grayscale / palette / alpha color
    types normalize to the documented RGB forms; unsupported shapes
    (16-bit, interlaced) return None for the PIL fallthrough."""
    import struct
    import zlib

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(11, 13, 3), dtype=np.uint8)
    assert np.array_equal(_decode_png(_encode_png(img)), img)

    for ftype in range(5):
        blob = _build_png(_filter_scanlines(img, ftype, 3), 13, 11, color=2)
        got = _decode_png(blob)
        assert got is not None and np.array_equal(got, img), f"filter {ftype}"

    # grayscale (color 0) -> replicated RGB
    gray = rng.randint(0, 256, size=(5, 7, 1), dtype=np.uint8)
    blob = _build_png(_filter_scanlines(gray, 1, 1), 7, 5, color=0)
    got = _decode_png(blob)
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))

    # palette (color 3) -> PLTE lookup
    idx = rng.randint(0, 4, size=(4, 6, 1), dtype=np.uint8)
    plte = bytes(range(12))  # 4 RGB entries
    blob = _build_png(_filter_scanlines(idx, 4, 1), 6, 4, color=3, plte=plte)
    got = _decode_png(blob)
    expect = np.frombuffer(plte, np.uint8).reshape(4, 3)[idx[:, :, 0]]
    assert np.array_equal(got, expect)

    # RGBA (color 6) -> alpha dropped
    rgba = rng.randint(0, 256, size=(3, 5, 4), dtype=np.uint8)
    blob = _build_png(_filter_scanlines(rgba, 2, 4), 5, 3, color=6)
    assert np.array_equal(_decode_png(blob), rgba[:, :, :3])

    # gray+alpha (color 4) -> gray replicated, alpha dropped
    ga = rng.randint(0, 256, size=(3, 4, 2), dtype=np.uint8)
    blob = _build_png(_filter_scanlines(ga, 3, 2), 4, 3, color=4)
    assert np.array_equal(_decode_png(blob), np.repeat(ga[:, :, :1], 3, axis=2))

    # 16-bit and interlaced DECODE natively since r7 (see
    # test_png_interlaced_and_16bit_roundtrips_and_refusals); the
    # remaining PIL plug-in shapes are sub-8-bit depths.
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    blob16 = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr16)
              + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
              + _png_chunk(b"IEND", b""))
    got16 = _decode_png(blob16)
    assert got16 is not None and np.array_equal(
        got16, np.zeros((2, 2, 3), dtype=np.uint8)
    )
    ihdr4 = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    blob4 = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr4)
             + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 8))
             + _png_chunk(b"IEND", b""))
    assert _decode_png(blob4) is None
    assert _decode_png(b"not a png") is None


def test_png_interlaced_and_16bit_roundtrips_and_refusals():
    """Adam7 + 16-bit PNG (r7): all four depth/interlace mode combos
    roundtrip bit-exactly on odd sizes (empty-pass handling included —
    a 1x1 image has six empty passes), a 16-bit palette refuses (spec
    violation), and sub-8-bit depths still route to the PIL plug-in."""
    import struct
    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    rng = np.random.RandomState(5)
    for shape in [(8, 8, 3), (13, 19, 3), (1, 1, 3), (7, 3, 3), (9, 2, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for depth in (8, 16):
            for il in (False, True):
                back = _decode_png(_encode_png(img, depth=depth, interlace=il))
                assert back is not None and np.array_equal(back, img), (
                    shape, depth, il,
                )

    img = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    blob = bytearray(_encode_png(img, depth=16))
    ihdr_at = blob.index(b"IHDR") + 4
    bad = bytearray(blob)
    bad[ihdr_at + 9] = 3  # color type 3 (palette) at depth 16: forbidden
    # fix the IHDR CRC so the walk reaches the decode guard
    import zlib
    crc = zlib.crc32(b"IHDR" + bytes(bad[ihdr_at : ihdr_at + 13])) & 0xFFFFFFFF
    bad[ihdr_at + 13 : ihdr_at + 17] = struct.pack(">I", crc)
    assert _decode_png(bytes(bad)) is None

    low = bytearray(_encode_png(img))
    low[low.index(b"IHDR") + 4 + 8] = 4  # bit depth 4
    assert _decode_png(bytes(low)) is None


def test_png_inflate_is_bounded_by_the_ihdr():
    """IDAT inflates under the exact byte count the IHDR implies: a
    deflate bomb behind a 1x1 header refuses without materializing
    its output, and a header implying more than the inflate ceiling
    refuses before any image-sized allocation (never MemoryError)."""
    import struct
    import tracemalloc
    import zlib

    from hadoopxmlextractor_spark.operators.multimodal import _decode_png

    def png(w, h, idat):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))

    assert _decode_png(png(1, 1, zlib.compress(b"\x00" * 4))) is not None
    bomb = png(1, 1, zlib.compress(b"\x00" * (64 << 20), 9))
    tracemalloc.start()
    try:
        assert _decode_png(bomb) is None
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20
    huge = png(1 << 31, 1 << 31, zlib.compress(b"\x00" * 4))
    assert _decode_png(huge) is None


def test_png_media_flows_through_features_and_resize(spark):
    """E2E through the Spark operators: PNG media extracts the SAME
    16-float feature vectors as the identical-plane PPM media, and
    real resize shrinks a PNG into a smaller VALID PNG (decoded by our
    own decoder) instead of passing it through opaque."""
    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_png,
        extract_media_features,
        resize_media,
        synth_png_media,
        synth_ppm_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    ppm_feats = {
        r.media_id: r.feature
        for r in extract_media_features(
            synth_ppm_media(docs, side=8), decode="real"
        ).collect()
    }
    png_feats = {
        r.media_id: r.feature
        for r in extract_media_features(
            synth_png_media(docs, side=8), decode="real"
        ).collect()
    }
    assert set(ppm_feats) == set(png_feats)
    for k in ppm_feats:
        assert png_feats[k] is not None
        assert np.allclose(ppm_feats[k], png_feats[k])

    big = synth_png_media(docs, side=16)  # 16*16*3 = 768 bytes of pixels
    small = {
        r.media_id: bytes(r.content)
        for r in resize_media(big, target_bytes=200, decode="real").collect()
    }
    for blob in small.values():
        img = _decode_png(blob)
        assert img is not None  # still a valid PNG, decoded by our codec
        assert img.shape[0] * img.shape[1] * 3 <= 200


def test_gif_codec_lzw_property_roundtrip_and_interlace():
    """The zero-dependency GIF codec: GIF-LZW encode->decode is the
    identity over random index streams (incl. the 4096-entry reset and
    width-bump boundaries), full encode->decode roundtrips are
    bit-exact for <=256-color images, a hand-built INTERLACED GIF
    de-interlaces correctly, >256 colors refuses, and malformed blobs
    return None."""
    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
        _lzw_decode_gif,
        _lzw_encode_gif,
    )

    rng = np.random.RandomState(3)
    for _ in range(25):
        mcs = rng.randint(2, 9)
        seq = rng.randint(0, 1 << mcs, size=rng.randint(1, 3000)).tolist()
        assert _lzw_decode_gif(_lzw_encode_gif(seq, mcs), mcs) == seq
    long_seq = ([1, 2, 3, 0] * 4000)[:14000]  # forces the 4096 reset
    assert _lzw_decode_gif(_lzw_encode_gif(long_seq, 2), 2) == long_seq

    img = rng.randint(0, 256, size=(13, 11, 3), dtype=np.uint8)  # 143 px
    assert np.array_equal(_decode_gif(_encode_gif(img)), img)

    # interlaced: rows stored in 4-pass order, flag bit set
    h, w = 13, 11
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    blob = bytearray(_encode_gif(img))
    # image descriptor starts right after header+LSD+GCT; find 0x2c
    gct_n = 256  # 143 colors -> depth 8 table
    desc = 6 + 7 + 3 * gct_n
    assert blob[desc] == 0x2C
    blob[desc + 9] |= 0x40  # set interlace flag
    # re-encode the index stream in pass order
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    grid = inverse.reshape(h, w)
    interlaced = np.concatenate([grid[y] for y in order])
    min_code = blob[desc + 10]
    data = _lzw_encode_gif(interlaced.tolist(), min_code)
    body = b""
    for i in range(0, len(data), 255):
        sub = data[i : i + 255]
        body += bytes([len(sub)]) + sub
    new = bytes(blob[: desc + 11]) + body + b"\x00\x3b"
    got = _decode_gif(new)
    assert got is not None and np.array_equal(got, img)

    import pytest
    with pytest.raises(ValueError, match="palette-indexed"):
        _encode_gif(rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8))
    assert _decode_gif(b"GIF87a\x00") is None
    assert _decode_gif(b"not a gif") is None


def test_gif_media_features_match_ppm(spark):
    """E2E: GIF media extracts the same 16-float features as the
    identical-plane PPM media, and real resize emits a smaller VALID
    GIF."""
    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_gif,
        extract_media_features,
        resize_media,
        synth_gif_media,
        synth_ppm_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    ppm = {
        r.media_id: r.feature
        for r in extract_media_features(
            synth_ppm_media(docs, side=8), decode="real"
        ).collect()
    }
    gif = {
        r.media_id: r.feature
        for r in extract_media_features(
            synth_gif_media(docs, side=8), decode="real"
        ).collect()
    }
    assert set(ppm) == set(gif)
    for k in ppm:
        assert gif[k] is not None and np.allclose(ppm[k], gif[k])

    small = {
        r.media_id: bytes(r.content)
        for r in resize_media(
            synth_gif_media(docs, side=14), target_bytes=150, decode="real"
        ).collect()
    }
    for blob in small.values():
        img = _decode_gif(blob)
        assert img is not None and img.shape[0] * img.shape[1] * 3 <= 150


def test_avi_rawvideo_codec_roundtrip_and_codec_refusal(spark):
    """The zero-dependency raw-video AVI codec: encode->decode is
    frame-exact including non-4-byte-aligned widths (DIB stride
    padding), a codec AVI (biCompression != 0) returns None (the
    H.264 plug-in point), and the AVI shot-boundary route agrees
    frame-for-frame with the concatenated-PPM route."""
    import struct

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_avi_frames,
        _encode_avi,
        synth_avi_video,
        synth_ppm_video,
        video_shot_boundaries,
    )

    rng = np.random.RandomState(9)
    frames = [rng.randint(0, 256, size=(6, 7, 3), dtype=np.uint8)
              for _ in range(5)]  # width 7 -> stride 24 != 21
    back = _decode_avi_frames(_encode_avi(frames))
    assert back is not None and len(back) == 5
    for a, b in zip(frames, back):
        assert np.array_equal(a, b)

    # flip biCompression to a codec fourcc: decoder must refuse
    blob = bytearray(_encode_avi(frames))
    strf_at = blob.index(b"strf") + 8
    blob[strf_at + 16 : strf_at + 20] = struct.pack("<I", 0x34363248)  # 'H264'
    assert _decode_avi_frames(bytes(blob)) is None

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    via_ppm = {
        (r.media_id, r.frame_idx): (r.ahash, r.is_boundary)
        for r in video_shot_boundaries(synth_ppm_video(docs)).collect()
    }
    via_avi = {
        (r.media_id, r.frame_idx): (r.ahash, r.is_boundary)
        for r in video_shot_boundaries(synth_avi_video(docs)).collect()
    }
    assert via_ppm == via_avi and len(via_avi) == 10 * 8


def test_mjpeg_avi_decode_exactness_pooling_and_refusals():
    """Motion-JPEG AVI (r6 verdict item 2): (a) each decoded frame of
    a flat-block MJPEG video equals the exact DC-quantizer formula per
    block; (b) a frame the JPEG decoder refuses (SOF2) nulls the WHOLE
    video (auditable-NULL, no partial frame lists); (c) a rectangular
    (non-square) MJPEG AVI decodes fine (the generic path, no oracle
    claims)."""
    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_avi_frames,
        _encode_mjpeg_avi,
    )

    rng = np.random.RandomState(11)
    vals = rng.randint(0, 256, size=(3, 2, 2), dtype=np.uint8)  # 3 frames
    frames = [np.repeat(np.repeat(v, 8, axis=0), 8, axis=1) for v in vals]
    back = _decode_avi_frames(_encode_mjpeg_avi(frames, quality=90))
    assert back is not None and len(back) == 3

    def dc(v: int) -> int:
        c = int(v) - 128
        return int(min(255, max(0, np.round(3 * np.round(8.0 * c / 3) / 8.0 + 128))))

    for v, img in zip(vals, back):
        assert img.shape == (16, 16, 3)
        for r in range(2):
            for c in range(2):
                block = img[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8]
                assert np.all(block == dc(v[r, c])), (v[r, c], block[0, 0])

    # (b) corrupt one frame to progressive: whole video -> None
    blob = bytearray(_encode_mjpeg_avi(frames, quality=90))
    # second frame's SOF0 marker (skip the first frame's)
    first = blob.index(b"\xff\xc0")
    second = blob.index(b"\xff\xc0", first + 2)
    blob[second + 1] = 0xC2
    assert _decode_avi_frames(bytes(blob)) is None

    # (c) non-square frames still decode (JPEG tolerance <= 1 off-flat)
    rect = [np.full((8, 24), 77, dtype=np.uint8) for _ in range(2)]
    got = _decode_avi_frames(_encode_mjpeg_avi(rect, quality=90))
    assert got is not None and got[0].shape == (8, 24, 3)


def test_mjpeg_shot_route_matches_planted_cuts(spark):
    """The MJPEG shot pipeline end-to-end on Spark: frame 0 is always
    a boundary, and the planted cuts (3, 6) fire far more often than
    within-scene frames (lossy codec notwithstanding — the flat-block
    DC path is deterministic)."""
    from pyspark.sql import functions as F

    from hadoopxmlextractor_spark.operators.multimodal import (
        synth_mjpeg_video,
        video_shot_boundaries,
    )

    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    out = video_shot_boundaries(synth_mjpeg_video(docs))
    rates = {
        r.frame_idx: r.rate
        for r in out.groupBy("frame_idx")
        .agg(F.avg(F.col("is_boundary").cast("int")).alias("rate"))
        .collect()
    }
    assert rates[0] == 1.0
    assert rates[3] > 0.5 and rates[6] > 0.5  # planted cuts detected
    assert rates[4] < 0.1 and rates[5] < 0.1 and rates[7] < 0.1


def test_bmp_codec_roundtrip_and_features(spark):
    """BMP: encode->decode bit-exact incl. stride-padded widths and
    top-down (negative height) decode; unsupported shapes refuse;
    features match the identical-plane PPM route; resize emits a
    smaller valid BMP."""
    import struct

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_bmp,
        _encode_bmp,
        extract_media_features,
        resize_media,
        synth_bmp_media,
        synth_ppm_media,
    )

    rng = np.random.RandomState(11)
    for shape in [(8, 8), (6, 7), (9, 5)]:
        img = rng.randint(0, 256, size=(*shape, 3), dtype=np.uint8)
        assert np.array_equal(_decode_bmp(_encode_bmp(img)), img)

    # top-down variant: negate the height field, rows in natural order
    img = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)
    blob = bytearray(_encode_bmp(img[::-1]))  # encoder flips; pre-flip
    blob[22:26] = struct.pack("<i", -4)
    assert np.array_equal(_decode_bmp(bytes(blob)), img[::-1][::-1])

    # unsupported: 32-bit bpp refuses to the plug-in point
    blob = bytearray(_encode_bmp(img))
    blob[28:30] = struct.pack("<H", 32)
    assert _decode_bmp(bytes(blob)) is None
    assert _decode_bmp(b"BMshort") is None and _decode_bmp(b"PNG") is None

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    ppm = {
        r.media_id: r.feature
        for r in extract_media_features(
            synth_ppm_media(docs, side=8), decode="real"
        ).collect()
    }
    bmp = {
        r.media_id: r.feature
        for r in extract_media_features(
            synth_bmp_media(docs, side=8), decode="real"
        ).collect()
    }
    assert set(ppm) == set(bmp)
    for k in ppm:
        assert bmp[k] is not None and np.allclose(ppm[k], bmp[k])

    small = {
        r.media_id: bytes(r.content)
        for r in resize_media(
            synth_bmp_media(docs, side=16), target_bytes=220, decode="real"
        ).collect()
    }
    for b in small.values():
        got = _decode_bmp(b)
        assert got is not None and got.shape[0] * got.shape[1] * 3 <= 220


def test_html_text_extraction_tag_soup(spark):
    """html_text (r7): real-web tag soup — unclosed tags, comments,
    attributes, nested skip-subtrees, numeric charrefs — extracts the
    visible text only; None and undecodable inputs yield None."""
    from hadoopxmlextractor_spark.operators.text import html_text

    cases = [
        ("<p>plain</p>", "plain"),
        ("<div class='x'>a<br>b</div>", "a b"),
        ("<!-- c --><p>keep</p><script>drop()</script>", "keep"),
        ("<head><style>p{}</style><title>t</title></head><b>vis", "vis"),
        ("a &#38; b &amp; c", "a & b & c"),
        ("<ul><li>one<li>two</ul>", "one two"),  # unclosed li
        ("<noscript>no</noscript>yes", "yes"),
        ("   lots\n\tof   space   ", "lots of space"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, html string"
    )
    got = {
        r.i: r.out
        for r in df.select("i", html_text("html").alias("out")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_adpcm_decode_blocks_and_energy_route(spark):
    """IMA ADPCM (r7): (a) a hand-built two-block file decodes through
    the state machine with per-block header resets (pure-Python
    reference replay); (b) clamping engages at both rails; (c) the
    energy route end-to-end is non-vacuous; (d) stereo/odd shapes
    refuse."""
    import struct

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_adpcm_block,
        _decode_wav,
        audio_energy_windows,
        synth_adpcm_wav_media,
    )

    def container(payload, *, nch=1, bits=4, align=12):
        fmt = struct.pack("<HHIIHHHH", 17, nch, 8000, 4055, align, bits, 2, 17)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(payload)) + payload
                  + (b"\x00" if len(payload) & 1 else b""))
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # two blocks of align=12: header(4) + 8 nibble bytes each
    b1 = struct.pack("<h", 1000) + bytes([40, 0]) + bytes(range(8))
    b2 = struct.pack("<h", -30000) + bytes([88, 0]) + bytes([0x8F] * 8)
    dec = _decode_wav(container(b1 + b2))
    assert dec is not None
    rate, nch, samples = dec
    assert (rate, nch) == (8000, 1) and len(samples) == 34  # 2 x (1+16)

    def nibs(bs):
        out = []
        for b in bs:
            out += [b & 0xF, b >> 4]
        return out

    want = (_decode_adpcm_block(1000, 40, nibs(bytes(range(8))))
            + _decode_adpcm_block(-30000, 88, nibs(bytes([0x8F] * 8))))
    assert samples[:, 0].tolist() == [int(np.int16(v)) for v in want]
    # block 2 starts at index 88 (max step) with alternating +-15
    # magnitude nibbles: the int16 clamp must engage at the low rail
    assert samples[:, 0].min() == -32768

    # refusals: stereo and 8-bit-claimed ADPCM route to the plug-in
    assert _decode_wav(container(b1, nch=2)) is None
    assert _decode_wav(container(b1, bits=8)) is None

    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    rows = audio_energy_windows(
        synth_adpcm_wav_media(docs), silence_threshold=43_000_000_000
    ).collect()
    assert len(rows) == 30 * 4
    silent = sum(r.is_silence for r in rows)
    assert 0 < silent < len(rows)


def test_tiff_codec_roundtrip_endianness_strips_packbits():
    """TIFF (r7): every layout combination — II/MM byte order,
    PackBits or raw, single or 3-row strips — roundtrips bit-exactly
    on odd sizes; PackBits survives a property sweep over runny data;
    tiled/palette/LZW TIFFs refuse to the PIL plug-in point."""
    import struct

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_tiff,
        _encode_tiff,
        _packbits_decode,
        _packbits_encode,
    )

    rng = np.random.RandomState(6)
    for shape in [(8, 8, 3), (13, 19, 3), (1, 1, 3), (7, 3, 3)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for be in (False, True):
            for pb in (False, True):
                for rps in (None, 3):
                    blob = _encode_tiff(
                        img, big_endian=be, packbits=pb, rows_per_strip=rps
                    )
                    back = _decode_tiff(blob)
                    assert back is not None and np.array_equal(back, img), (
                        shape, be, pb, rps,
                    )

    for _ in range(100):
        n = int(rng.randint(0, 300))
        data = bytes(
            rng.choice([0, 1, int(rng.randint(0, 256))], size=n).astype(
                np.uint8
            )
        )
        assert _packbits_decode(_packbits_encode(data), n) == data

    img = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    blob = bytearray(_encode_tiff(img))
    # flip Compression (tag 259) value to 5 (LZW): must refuse
    ifd_off = 8
    for t in range(9):
        off = ifd_off + 2 + 12 * t
        tag = struct.unpack("<H", blob[off : off + 2])[0]
        if tag == 259:
            blob[off + 8 : off + 10] = struct.pack("<H", 5)
    assert _decode_tiff(bytes(blob)) is None
    assert _decode_tiff(b"not tiff") is None


def test_bigram_surprisal_separates_noise_from_fluent(spark):
    """The LM scorer discriminates: a doc whose bigrams never repeat
    in the corpus scores strictly higher average surprisal than docs
    made of corpus-frequent bigrams (add-one smoothing, portable_ln
    exactness is covered by the registry oracle)."""
    import __spark_entry__  # noqa: F401
    from hadoopxmlextractor_spark.queries import QUERIES
    import tempfile

    fluent = "the model trains on clean web text " * 3
    rows = [(i, fluent, "en", "s", len(fluent)) for i in range(10)]
    rows.append((99, "zq xv qk jw vvx qpz wzz kqj", "en", "s", 27))
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r.avg_surprisal
           for r in QUERIES["text_bigram_surprisal"](spark, d).collect()}
    fluent_max = max(v for k, v in out.items() if k != 99)
    assert out[99] > fluent_max + 1.0  # noise clearly separated


def test_audio_container_meta_walks_and_refusals(spark):
    """r8 audio tier: MP3 frame walk, CRC-verified Ogg Vorbis pages,
    FLAC STREAMINFO — plus the refusal matrix: a flipped Ogg byte
    fails its page CRC, a truncated MP3 desyncs, MPEG-2/Layer-II
    headers refuse, and unknown magic degrades to the codec-NULL row
    (auditable-NULL contract)."""
    import hashlib
    import struct

    from hadoopxmlextractor_spark.operators.multimodal import (
        _ogg_crc,
        _parse_mp3,
        _parse_ogg_vorbis,
        audio_container_meta,
        synth_flac_media,
        synth_mp3_media,
        synth_ogg_flac_media,
        synth_opus_media,
        synth_vorbis_media,
        synth_wav_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    for synth, codec in (
        (synth_mp3_media, "mp3"),
        (synth_vorbis_media, "vorbis"),
        (synth_flac_media, "flac"),
        (synth_opus_media, "opus"),
        (synth_ogg_flac_media, "oggflac"),
        (synth_wav_media, "pcm"),
    ):
        rows = audio_container_meta(synth(docs)).collect()
        assert len(rows) == 12
        assert all(r.codec == codec for r in rows)
        assert all(r.sample_rate > 0 and r.duration_ms >= 0 for r in rows)
    # mp3: vbr exactly on odd ids; ID3 meta bytes on every 3rd
    mp3 = {r.media_id: r for r in audio_container_meta(synth_mp3_media(docs)).collect()}
    assert all(mp3[i].is_vbr == (i % 2 == 1) for i in range(12))
    # ID3v2 prefix on every 3rd doc, ID3v1 128-byte trailer on every 5th
    assert all(
        (mp3[i].meta_bytes > 0) == (i % 3 == 0 or i % 5 == 0)
        for i in range(12)
    )
    assert mp3[5].meta_bytes == 128 and mp3[10].meta_bytes == 128

    # refusal matrix (pure parsers)
    # MPEG-2 version bits refuse
    assert _parse_mp3(bytes([0xFF, 0xF3, 0x92, 0x00]) + b"\x00" * 200) is None
    # Layer II refuses
    assert _parse_mp3(bytes([0xFF, 0xFD, 0x92, 0x00]) + b"\x00" * 200) is None
    # vorbis: flip one payload byte -> CRC refuses
    def page(payload):
        segs = bytes([len(payload)])
        head = (b"OggS\x00\x02" + struct.pack("<q", 0)
                + struct.pack("<I", 1) + struct.pack("<I", 0)
                + b"\x00\x00\x00\x00" + bytes([1]) + segs)
        crc = _ogg_crc(head + payload)
        return head[:22] + struct.pack("<I", crc) + head[26:] + payload

    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([1])
             + struct.pack("<I", 8000) + struct.pack("<iii", 0, 64000, 0)
             + bytes([0xB8]) + b"\x01")
    good = page(ident)
    assert _parse_ogg_vorbis(good) is not None
    bad = bytearray(good)
    bad[-5] ^= 1
    assert _parse_ogg_vorbis(bytes(bad)) is None

    # unknown magic -> codec-NULL marker row through the operator
    junk = spark.createDataFrame(
        [(99, bytearray(hashlib.md5(b"junk").digest()))],
        "media_id long, content binary",
    )
    row = audio_container_meta(junk).collect()[0]
    assert row.media_id == 99 and row.codec is None and row.sample_rate is None


def test_rle8_interframe_and_lowbit_png_roundtrips():
    """r8 codec legs, pure-python: BI_RLE8 AVI delta frames
    reconstruct exactly (canvas carry-over across frames — the
    inter-frame path), and sub-8-bit PNG roundtrips bit-exact across
    depths 1/2/4, plain and Adam7, including non-multiple-of-8
    widths (tail-byte packing)."""
    import hashlib

    import numpy as np

    from hadoopxmlextractor_spark.operators.multimodal import (
        _decode_avi_frames,
        _decode_png,
        _encode_png_gray_lowbit,
        _encode_rle8_avi,
    )

    gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    base = np.frombuffer(
        hashlib.md5(b"rle-base").digest() * 4, dtype=np.uint8
    )[:64].reshape(8, 8)
    frames = [base]
    for f in range(1, 6):
        nxt = frames[-1].copy()
        if f == 3:  # full repaint (cut)
            nxt = np.frombuffer(
                hashlib.md5(b"rle-cut").digest() * 4, dtype=np.uint8
            )[:64].reshape(8, 8).copy()
        elif f != 4:  # f==4 is a full-skip identity frame
            nxt[f % 8] = np.frombuffer(
                hashlib.md5(f"row{f}".encode()).digest()[:8], dtype=np.uint8
            )
        frames.append(nxt)
    blob = _encode_rle8_avi(frames, gray)
    dec = _decode_avi_frames(blob)
    assert dec is not None and len(dec) == 6
    for f, (orig, got) in enumerate(zip(frames, dec)):
        assert np.array_equal(got, gray[orig]), f
    # delta frames are smaller than the keyframe (the skip is real)
    import struct
    sizes = []
    pos = blob.index(b"movi") + 4
    while pos + 8 <= len(blob):
        (ln,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        sizes.append(ln)
        pos += 8 + ln + (ln & 1)
    assert len(sizes) == 6 and max(sizes[1:3]) < sizes[0]
    assert sizes[4] == 2  # identity frame: just the EOB escape

    for depth in (1, 2, 4):
        for interlace in (False, True):
            vals = (
                np.frombuffer(
                    hashlib.md5(f"png{depth}".encode()).digest() * 5,
                    dtype=np.uint8,
                )[: 7 * 9].reshape(7, 9)
                >> (8 - depth)
            )
            img = _decode_png(
                _encode_png_gray_lowbit(vals, depth=depth, interlace=interlace)
            )
            scale = 255 // ((1 << depth) - 1)
            exp = np.repeat(
                (vals * scale).astype(np.uint8)[:, :, None], 3, axis=2
            )
            assert np.array_equal(img, exp), (depth, interlace)


def test_robots_and_sitemap_edges(spark):
    """r8 crawl admission/frontier edges: robots group selection (the
    named agent gets ITS group, not '*'; unknown agents fall back to
    '*'), empty-Disallow means allow-all, '$' anchoring is real (the
    pattern must not match mid-path); sitemap: namespace localname
    matching, sitemapindex kind, malformed XML degrades to the
    kind-NULL marker row."""
    from pyspark.sql import functions as F

    from hadoopxmlextractor_spark.operators.text import (
        _robots_regex,
        robots_admit_udf,
        robots_compile,
    )
    from hadoopxmlextractor_spark.sources.sitemap import (
        parse_sitemap,
        sitemap_entries,
    )

    txt = (
        "User-agent: badbot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /x/\nDisallow:\nAllow: /x/ok$\n"
    )
    assert robots_compile(txt, "badbot") == [(False, "/")]
    assert robots_compile(txt, "anybody") == [(False, "/x/"), (True, "/x/ok$")]
    assert _robots_regex("/x/ok$") == "^/x/ok$"
    df = spark.createDataFrame(
        [("/x/ok",), ("/x/okay",), ("/x/no",), ("/y",)], "path string"
    )
    got = {
        r.path: r.allowed
        for r in df.withColumn(
            "allowed", robots_admit_udf(txt, "anybody")("path")
        ).collect()
    }
    # '$' anchors: '/x/okay' must NOT match the Allow and stays blocked
    assert got == {"/x/ok": True, "/x/okay": False, "/x/no": False, "/y": True}
    # the deny-all group applies only to badbot
    denied = {
        r.path: r.allowed
        for r in df.withColumn(
            "allowed", robots_admit_udf(txt, "badbot")("path")
        ).collect()
    }
    assert set(denied.values()) == {False}

    ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    idx = parse_sitemap(
        f'<sitemapindex xmlns="{ns}"><sitemap><loc>https://a/s.xml</loc>'
        f"</sitemap></sitemapindex>"
    )
    assert idx == [
        {"entry_idx": 0, "kind": "index", "loc": "https://a/s.xml",
         "lastmod": None, "priority": None}
    ]
    bad = spark.createDataFrame(
        [(1, "<html>not a sitemap</html>"), (2, "not xml at <<")],
        "doc_id long, xml string",
    )
    rows = sitemap_entries(bad).collect()
    assert len(rows) == 2 and all(
        r.kind is None and r.entry_idx == -1 for r in rows
    )


def test_fix_mojibake_multi_encoding(spark):
    """r9 (r8 verdict item 6): the repair kernel handles all three
    common mis-decodes in deterministic precedence order — cp1252,
    latin-1 (whose mojibake carries C1 control chars cp1252 cannot
    encode, so the precedence is observably live), shift_jis (CJK
    UTF-8 read as katakana soup) — reports the repairing encoding,
    unwinds a double cp1252 hop, and never touches clean text
    (including clean CJK, which shift_jis could encode but whose
    sjis bytes are not valid UTF-8)."""
    from hadoopxmlextractor_spark.operators.text import fix_mojibake_udf

    cases = [
        # (input, expected fixed, was_fixed, encoding)
        ("café x".encode("utf-8").decode("cp1252"), "café x", True,
         "cp1252"),
        ("don’t stop".encode("utf-8").decode("latin-1"), "don’t stop",
         True, "latin-1"),
        ("東京都渋谷区".encode("utf-8").decode("shift_jis"),
         "東京都渋谷区", True, "shift_jis"),
        # double cp1252 hop unwinds to the original
        ("café".encode("utf-8").decode("cp1252").encode("utf-8")
         .decode("cp1252"), "café", True, "cp1252"),
        ("plain ascii", "plain ascii", False, None),
        ("déjà vu", "déjà vu", False, None),  # clean Latin text
        ("これは綺麗", "これは綺麗", False, None),  # clean CJK
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_ ) in enumerate(cases)],
        "id long, raw string",
    )
    fix = fix_mojibake_udf()
    got = {
        r.id: r
        for r in df.select("id", fix("raw").alias("f"))
        .select("id", "f.fixed", "f.was_fixed", "f.encoding")
        .collect()
    }
    for i, (_raw, fixed, was, enc) in enumerate(cases):
        assert (got[i].fixed, got[i].was_fixed, got[i].encoding) == (
            fixed, was, enc
        ), (i, got[i])


# ---------------------------------------------------------------------------
# JPEG EXIF (r11)
# ---------------------------------------------------------------------------


def test_exif_roundtrip_both_endians_and_refusals():
    import numpy as np
    import pytest
    import struct

    from hadoopxmlextractor_spark.operators import jpeg as J
    from hadoopxmlextractor_spark.operators import multimodal as M

    base = J.encode_jpeg(np.full((8, 8, 3), 128, np.uint8))
    for big in (False, True):
        app1 = M._encode_exif_app1(
            big_endian=big, orientation=6, make="Canon",
            model="Model-7", dt_original="2021:03:15 10:20:30",
            pixel_w=4032, pixel_h=3024, xres=(144, 2),
        )
        blob = base[:2] + app1 + base[2:]
        m = M.jpeg_exif(blob)
        assert m["endian"] == ("MM" if big else "II")
        assert m["orientation"] == 6
        assert (m["make"], m["model"]) == ("Canon", "Model-7")
        assert m["dt_original"] == "2021:03:15 10:20:30"
        assert (m["pixel_w"], m["pixel_h"]) == (4032, 3024)
        assert m["x_resolution"] == "144/2"
    # EXIF-less JPEG refuses; non-JPEG refuses; hostile value offset
    with pytest.raises(ValueError, match="no Exif"):
        M.jpeg_exif(base)
    with pytest.raises(ValueError, match="not a JPEG"):
        M.jpeg_exif(b"GIF89a")
    app1 = M._encode_exif_app1(
        big_endian=False, orientation=1, make="LongMakerName",
        model="M", dt_original="2020:01:01 00:00:00",
        pixel_w=1, pixel_h=1, xres=(72, 1),
    )
    bad = bytearray(base[:2] + app1 + base[2:])
    # Make (tag 0x010F) is entry 0 of IFD0 at tiff+8: its value offset
    # field sits at tiff_start + 8 + 2 + 8
    tiff_start = bad.index(b"Exif\x00\x00") + 6
    voff_at = tiff_start + 8 + 2 + 8
    bad[voff_at : voff_at + 4] = struct.pack("<I", 1 << 24)
    with pytest.raises(ValueError, match="out of range"):
        M.jpeg_exif(bytes(bad))


def test_exif_gps_ifd():
    import numpy as np

    from hadoopxmlextractor_spark.operators import jpeg as J
    from hadoopxmlextractor_spark.operators import multimodal as M

    base = J.encode_jpeg(np.full((8, 8, 3), 128, np.uint8))
    for big in (False, True):
        app1 = M._encode_exif_app1(
            big_endian=big, orientation=1, make="Canon", model="M",
            dt_original="2022:06:01 12:00:00", pixel_w=64, pixel_h=64,
            xres=(72, 1),
            gps=("S", (40, 26, 4625), "W", (79, 58, 5600)),
        )
        m = M.jpeg_exif(base[:2] + app1 + base[2:])
        assert (m["gps_lat_ref"], m["gps_lon_ref"]) == ("S", "W")
        assert m["gps_lat"] == "40/1 26/1 4625/100"
        assert m["gps_lon"] == "79/1 58/1 5600/100"
    # GPS-less EXIF reports NULL gps fields, not an error
    app1 = M._encode_exif_app1(
        big_endian=False, orientation=1, make="Canon", model="M",
        dt_original="2022:06:01 12:00:00", pixel_w=64, pixel_h=64,
        xres=(72, 1),
    )
    m = M.jpeg_exif(base[:2] + app1 + base[2:])
    assert m["gps_lat"] is None and m["gps_lon_ref"] is None


def test_resolve_url_crossval_urljoin(spark):
    """resolve_url's JVM regexp chain agrees with urllib.parse.urljoin
    on every reference class it supports (r12) — the outlink walk must
    match what a Python crawler would have produced."""
    from urllib.parse import urljoin

    import pyspark.sql.functions as F

    from hadoopxmlextractor_spark.operators import text as T

    cases = [
        ("https://h.org/a/b/page.html?x=1#top", "https://other.org/z"),
        ("https://h.org/a/b/page.html", "//cdn.org/lib.js"),
        ("https://h.org/a/b/page.html", "/rooted/path?q=2"),
        ("https://h.org/a/b/page.html", "sibling.html"),
        ("https://h.org/a/b/page.html", "sub/dir/deep.html"),
        ("https://h.org/a/b/page.html", "../up.html"),
        ("https://h.org/a/b/c/page.html", "../../two.html"),
        ("https://h.org/a/b/page.html", "./same.html"),
        ("https://h.org/a/b/page.html", "x/../y.html"),
        ("http://h.org/", "file.txt"),
        ("https://h.org/a/b/page.html", "mailto:a@b.c"),
    ]
    df = spark.createDataFrame(cases, ["base", "href"])
    got = {
        (r["base"], r["href"]): r["resolved"]
        for r in df.select(
            "base", "href",
            T.resolve_url("base", "href").alias("resolved"),
        ).collect()
    }
    for b, h in cases:
        assert got[(b, h)] == urljoin(b, h), (b, h)
    # fragment-only and empty references resolve to NULL (dropped)
    drops = spark.createDataFrame(
        [("https://h.org/p", "#sec"), ("https://h.org/p", "")],
        ["base", "href"],
    )
    vals = drops.select(T.resolve_url("base", "href")).collect()
    assert all(v[0] is None for v in vals)
    # href extraction: quoting/case/attribute-order forms
    html = (
        "<a href=\"/d1\">a</a><A HREF='/d2'>b</A>"
        '<a class="x" data-y="z" href="/d3">c</a><a name="no-href">d</a>'
    )
    hdf = spark.createDataFrame([(html,)], ["html"])
    (row,) = hdf.select(T.html_hrefs("html").alias("hs")).collect()
    assert row["hs"] == ["/d1", "/d2", "/d3"]


def test_exif_orientation_transforms_spec_table():
    """exif_orient_normalize pinned to the TIFF/EXIF spec by
    hand-written expected matrices on an asymmetric 2x3 input — the
    oracle's permutation table derives from these transforms, so this
    is what breaks the synth/oracle mirror coupling."""
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M

    m = np.array([[1, 2, 3], [4, 5, 6]])
    expected = {
        1: [[1, 2, 3], [4, 5, 6]],        # identity
        2: [[3, 2, 1], [6, 5, 4]],        # mirror horizontal
        3: [[6, 5, 4], [3, 2, 1]],        # rotate 180
        4: [[4, 5, 6], [1, 2, 3]],        # mirror vertical
        5: [[1, 4], [2, 5], [3, 6]],      # transpose
        6: [[4, 1], [5, 2], [6, 3]],      # rotate 90 CW
        7: [[6, 3], [5, 2], [4, 1]],      # transverse
        8: [[3, 6], [2, 5], [1, 4]],      # rotate 270 CW
    }
    for o in range(1, 9):
        assert M.exif_orient_normalize(m, o).tolist() == expected[o], o
        rt = M.exif_orient_normalize(M.exif_orient_store(m, o), o)
        assert rt.tolist() == m.tolist(), o
    # missing/invalid orientation values pass through untouched
    assert M.exif_orient_normalize(m, None).tolist() == m.tolist()
    assert M.exif_orient_normalize(m, 9).tolist() == m.tolist()


def test_orientation_dedup_non_vacuous():
    """Planted rotated duplicates: raw aHash MUST differ across
    orientations of one group (otherwise the normalization verifies
    nothing) while the normalized hash collapses to one value."""
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M
    from hadoopxmlextractor_spark.operators.jpeg import decode_jpeg
    from hadoopxmlextractor_spark.queries_r12 import (
        _orient_group, _synth_oriented_jpeg,
    )

    # docs 0, 59, 118, ... are group 0 under orientations 1..8
    raw, norm = set(), set()
    for member in range(8):
        i = member * 59
        gid, o = _orient_group(i)
        assert gid == 0 and o == member + 1
        blob = _synth_oriented_jpeg(i)
        img = decode_jpeg(blob)
        got_o = M.jpeg_exif(blob)["orientation"]
        assert got_o == o
        raw.add(M._ahash64(img))
        norm.add(M._ahash64(M.exif_orient_normalize(img, got_o)))
    assert len(norm) == 1
    assert len(raw) >= 5  # rotations genuinely hash apart


def test_with_resolved_url_matches_column_form(spark):
    """The staged (codegen-safe) with_resolved_url agrees with the
    single-Column resolve_url + canonical_url composition on every
    reference class — and with urljoin through the same canon."""
    from urllib.parse import urljoin

    import pyspark.sql.functions as F

    from hadoopxmlextractor_spark.operators import text as T

    cases = [
        ("https://h.org/a/b/page.html?x=1#top", "https://other.org/z"),
        ("https://h.org/a/b/page.html", "//cdn.org/lib.js"),
        ("https://h.org/a/b/page.html", "/rooted/path?q=2"),
        ("https://h.org/a/b/page.html", "sibling.html"),
        ("https://h.org/a/b/c/page.html", "../../two.html"),
        ("https://h.org/a/b/page.html", "./same.html"),
        ("http://H.ORG:80/a/", "x/../y.html?utm_source=s&k=1#f"),
    ]
    df = spark.createDataFrame(cases, ["base", "href"])
    both = T.with_resolved_url(df, "base", "href", "staged").withColumn(
        "direct", T.canonical_url(T.resolve_url("base", "href"))
    )
    for r in both.collect():
        assert r["staged"] == r["direct"], (r["base"], r["href"])
    # no 64 KB codegen fallback: the staged plan keeps separate
    # projections (the fused mega-expression was the r12 regression)
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "Project" in plan


def test_main_content_rules():
    from hadoopxmlextractor_spark.operators import text as T

    html = (
        "<html><head><title>T</title><style>p{}</style></head><body>"
        "<header><p>menu</p></header>"
        "<article><p>keep this content text</p>"
        '<p><a href="#">click here to subscribe</a> x</p>'
        "<p>  </p><p>second &amp; kept</p></article>"
        "<aside><p>ads</p></aside><footer><p>(c)</p></footer>"
        "<!-- hidden --></body></html>"
    )
    title, n, text = T.main_content(html)
    assert (title, n) == ("T", 2)
    assert text == "keep this content text\nsecond & kept"
    # fallback scope (no article) + h1 title + nested tags in title
    t2, n2, x2 = T.main_content(
        "<body><h1>Head <b>One</b></h1><nav><p>m</p></nav>"
        "<p>body text here</p></body>"
    )
    assert (t2, n2, x2) == ("Head One", 1, "body text here")
    # exactly-half link density is KEPT (2*link <= total)
    t3, n3, x3 = T.main_content("<p><a href='#'>ab</a>cd</p>")
    assert (n3, x3) == (1, "ab cd")  # tag strip inserts the space
    assert T.main_content("") == (None, 0, "")


def test_script_counts_and_dominance(spark):
    import pyspark.sql.functions as F

    from hadoopxmlextractor_spark.operators import text as T

    df = spark.createDataFrame(
        [("abc 中文 xyz",), ("中文数据处理 ok",), ("",), ("123 !?",)],
        ["t"],
    )
    rows = df.select(
        T.script_counts("t")["latin"].alias("lat"),
        T.script_counts("t")["cjk"].alias("cjk"),
        T.dominant_script("t").alias("dom"),
    ).collect()
    assert [(r["lat"], r["cjk"], r["dom"]) for r in rows] == [
        (6, 2, "latin"), (2, 6, "cjk"), (0, 0, "none"), (0, 0, "none"),
    ]


def test_unicode_normalize_nfc_and_nfkc(spark):
    from hadoopxmlextractor_spark.operators import text as T

    df = spark.createDataFrame(
        [("café",), ("café",), ("ﬁne",)], ["t"]
    )
    nfc = [r[0] for r in df.select(T.unicode_normalize("t")).collect()]
    assert nfc == ["café", "café", "ﬁne"]  # NFC keeps fi
    nfkc = [
        r[0] for r in df.select(T.unicode_normalize("t", "NFKC")).collect()
    ]
    assert nfkc == ["caf\u00e9", "caf\u00e9", "fine"]  # NFKC folds fi


def test_robots_crawl_delay_group_selection():
    from hadoopxmlextractor_spark.operators import text as T

    txt = (
        "User-agent: badbot\nDisallow: /\nCrawl-delay: 1\n\n"
        "User-agent: *\nDisallow: /x/\nCrawl-delay: 15\n\n"
        "User-agent: mybot\nAllow: /\nCrawl-delay: 4\n"
    )
    # named group beats '*'; decoy badbot ignored
    assert T.robots_crawl_delay(txt, "mybot") == 4.0
    assert T.robots_crawl_delay(txt, "other") == 15.0
    assert T.robots_crawl_delay(txt, "badbot") == 1.0
    # merged groups take the LARGEST (most conservative) delay
    two = (
        "User-agent: *\nCrawl-delay: 3\n\n"
        "User-agent: *\nDisallow: /y/\nCrawl-delay: 9\n"
    )
    assert T.robots_crawl_delay(two, "any") == 9.0
    # absent → None; malformed value ignored
    assert T.robots_crawl_delay("User-agent: *\nDisallow: /a/\n") is None
    assert T.robots_crawl_delay(
        "User-agent: *\nCrawl-delay: soon\n"
    ) is None


def test_robots_admit_multi_udf_per_host_rules(spark):
    from hadoopxmlextractor_spark.operators import text as T
    from hadoopxmlextractor_spark.queries_r13 import _polite_robots

    robots = {k: _polite_robots(k) for k in range(7)}
    admit = T.robots_admit_multi_udf(robots, agent="mybot")
    rows = [
        (0, "/dir/up/1", False),   # class 0 Disallow
        (0, "/dir/up/3", True),    # class 0 Allow override
        (0, "/root/5", True),      # class 0 has no /root rule
        (1, "/root/5", False),     # class 1 Disallow
        (1, "/dir/sub/rel/2.html", False),  # $-anchored wildcard
        (1, "/dir/sub/rel/4.html", True),   # longest-match Allow
        (2, "/T3?keep=1", False),  # prefix Disallow incl. query
        (2, "/T7?keep=0", True),   # longer Allow wins
        (2, "/sr/2", False),
        (5, "/anything", True),    # k=5 → class 2; no match → allow
    ]
    df = spark.createDataFrame(
        [(k, p) for k, p, _w in rows], "k int, path string"
    )
    got = {
        (r["k"], r["path"]): r["allowed"]
        for r in df.withColumn("allowed", admit("k", "path")).collect()
    }
    for k, p, want in rows:
        assert got[(k, p)] == want, (k, p)


def test_frontier_polite_plan_and_budgets(spark):
    """The capstone keeps the WindowGroupLimit shape (literal max
    budget bound) with the per-host budget as a residual filter, and
    every host's output is capped by its crawl-delay-derived
    budget."""
    from hadoopxmlextractor_spark.queries_r13 import (
        _POLITE_CYCLE_S, _polite_robots, q_pipeline_frontier_polite,
    )
    from hadoopxmlextractor_spark.operators import text as T

    df = q_pipeline_frontier_polite(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan
    rows = df.collect()
    assert rows, "frontier must not be empty"
    per_host = {}
    for r in rows:
        per_host.setdefault(r["host"], []).append(r)
    for host, hrows in per_host.items():
        k = int(host[4:].split(".")[0])
        delay = T.robots_crawl_delay(_polite_robots(k), "mybot")
        budget = max(1, int(_POLITE_CYCLE_S // delay))
        assert all(r["budget"] == budget for r in hrows)
        assert len(hrows) <= budget
        assert sorted(r["slot"] for r in hrows) == list(
            range(1, len(hrows) + 1)
        )


def test_orientation_lossy_dc_identity_and_collapse():
    """The lossy (baseline) orientation arm: flat-block 64x64 JPEGs
    decode EXACTLY via the DC-quantizer identity, raw hashes differ
    across orientations, normalized hashes collapse — through a real
    lossy decode."""
    import numpy as np

    from hadoopxmlextractor_spark.operators import multimodal as M
    from hadoopxmlextractor_spark.operators.jpeg import decode_jpeg
    from hadoopxmlextractor_spark.queries_r13 import (
        _synth_oriented_lossy_jpeg,
    )

    # doc ids covering all 8 orientations of group 7
    ids = [7 + 53 * t for t in range(8)]
    raws, norms = set(), set()
    for i in ids:
        gid, blob = _synth_oriented_lossy_jpeg(i)
        assert gid == 7
        img = decode_jpeg(blob)
        assert img.shape == (64, 64, 3)
        # every 8x8 DCT block is flat after the LOSSY decode
        for r in range(8):
            for c in range(8):
                blk = img[8 * r : 8 * r + 8, 8 * c : 8 * c + 8, 0]
                assert np.all(blk == blk[0, 0]), (i, r, c)
        o = M.jpeg_exif(blob)["orientation"]
        assert o == 1 + (i // 53) % 8
        norm = M.exif_orient_normalize(img, o)
        raws.add(M._ahash64(np.ascontiguousarray(img[::8, ::8, :])))
        norms.add(M._ahash64(np.ascontiguousarray(norm[::8, ::8, :])))
    assert len(norms) == 1          # duplicates collapse
    assert len(raws) > 1            # raw hashes genuinely differ
    # and the decoded values match the closed-form identity
    gid, blob = _synth_oriented_lossy_jpeg(7)  # orientation 1: stored==displayed
    img = decode_jpeg(blob)
    import hashlib

    plane = np.frombuffer(
        b"".join(hashlib.md5(f"7:olossy{k}".encode()).digest()
                 for k in range(4)),
        dtype=np.uint8,
    ).reshape(8, 8).astype(np.int64)
    want = np.clip(
        np.round(3 * np.round(8.0 * (plane - 128) / 3) / 8.0 + 128),
        0, 255,
    ).astype(np.int64)
    assert np.array_equal(img[::8, ::8, 0].astype(np.int64), want)


def test_frontier_incremental_regimes_live(spark):
    """Incremental ≡ recompute is only meaningful if the merge's
    interesting regimes occur: new-batch candidates colliding with
    OLD crawled URLs, standing frontier targets crawled BY the new
    batch, and targets whose counts genuinely merge across the
    split."""
    from pyspark.sql import functions as SF

    from hadoopxmlextractor_spark.queries_r12 import (
        _anchor_rows, _outlink_page,
    )
    from hadoopxmlextractor_spark.queries_r13 import (
        q_pipeline_frontier_incremental,
    )
    from hadoopxmlextractor_spark.queries_r12 import (
        q_pipeline_frontier_expand,
    )
    from hadoopxmlextractor_spark.tables import load

    sf = "/root/testdata/sf0.001"
    inc = {(r["target"], r["n_refs"])
           for r in q_pipeline_frontier_incremental(spark, sf).collect()}
    full = {(r["target"], r["n_refs"])
            for r in q_pipeline_frontier_expand(spark, sf).collect()}
    assert inc == full and inc  # lands on the recompute exactly

    rows = _anchor_rows(spark, sf)
    docs = load(spark, sf, "documents")
    base, _html = _outlink_page(True)
    urls = docs.select("doc_id", base.alias("url")).union(
        docs.select(
            "doc_id",
            SF.concat(
                SF.lit("https://host0.example.org/hub/"),
                (SF.col("doc_id") % 50).cast("string"),
            ).alias("url"),
        )
    )
    is_new = SF.col("doc_id") % 3 == 2
    cand_new = rows.filter(is_new).select("target").distinct()
    crawled_old = urls.filter(~is_new).select("url").distinct()
    crawled_new = urls.filter(is_new).select("url").distinct()
    cand_old = rows.filter(~is_new).select("target").distinct()
    # regime 1: new candidates hitting the OLD crawled index
    n1 = cand_new.join(
        crawled_old, cand_new.target == crawled_old.url
    ).count()
    # regime 2: standing candidates crawled by the NEW batch
    n2 = cand_old.join(
        crawled_new, cand_old.target == crawled_new.url
    ).count()
    # regime 3: targets referenced on BOTH sides of the split
    n3 = cand_old.join(cand_new, "target").count()
    assert n1 > 0 and n2 > 0 and n3 > 0, (n1, n2, n3)
