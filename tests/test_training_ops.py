"""Dedup / similarity / text / multimodal / streaming operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from godal_spark import datagen
from godal_spark.operators import dedup as DD, multimodal as MM, similarity as SIM, text as TX
from godal_spark.streaming import events as STR

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_with_planted_dups(spark, docs):
    base = docs.limit(20)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    out = DD.exact_dedup(base.unionByName(dup))
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.keep_id < 100000 for r in rows)


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    base = docs.limit(30).select("doc_id", "text")
    # near-dup: append one token (high word-5-gram overlap for long docs)
    near = (base.withColumn("doc_id", F.col("doc_id") + 100000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" suffix"))))
    alld = base.unionByName(near)
    pairs = DD.minhash_lsh_dedup(alld, k=5, num_hashes=64, bands=16, threshold=0.5)
    rows = pairs.collect()
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in rows}
    planted = {(r.doc_id, r.doc_id + 100000) for r in base.collect()}
    # high recall on planted pairs (longer docs always collide)
    assert len(planted & got) >= int(0.8 * len(planted))
    # every reported pair's jaccard matches independently computed truth
    # (the corpus contains organic near-dups, e.g. docs 8 & 12 — those are
    # correct findings, so verify values instead of assuming none exist)
    texts = {r.doc_id: r.text for r in alld.collect()}

    def true_j(a, b, k=5):
        def sh(t):
            w = t.lower().split()
            return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}
        A, B = sh(texts[a]), sh(texts[b])
        return len(A & B) / len(A | B)

    for r in rows:
        assert r.jaccard == pytest.approx(true_j(r.id_a, r.id_b), abs=1e-6)
        assert r.jaccard >= 0.5


def test_minhash_agrees_with_true_jaccard(spark):
    # signature similarity ≈ true jaccard (sanity of the permutation math)
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["the quick brown fox jumps over the lazy dog again and again",
                 "the quick brown fox jumps over the lazy cat again and again"]})
    d = DD.with_minhash(DD.with_shingles(spark.createDataFrame(pdf), k=3), num_hashes=256)
    rows = {r.doc_id: (r.shingles, r.minhash) for r in d.collect()}
    sh1, mh1 = rows[1]
    sh2, mh2 = rows[2]
    true_j = len(set(sh1) & set(sh2)) / len(set(sh1) | set(sh2))
    est_j = np.mean([a == b for a, b in zip(mh1, mh2)])
    assert abs(true_j - est_j) < 0.15


def test_simhash_near_dups(spark, docs):
    base = docs.limit(25).select("doc_id", "text")
    near = (base.withColumn("doc_id", F.col("doc_id") + 100000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" x"))))
    pairs = DD.simhash_dedup(base.unionByName(near), max_hamming=3)
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in pairs.collect()}
    planted = {(r.doc_id, r.doc_id + 100000) for r in base.collect()}
    assert len(planted & got) >= int(0.7 * len(planted))


def test_embedding_dedup_planted(spark, emb):
    base = emb.limit(40)
    dup = (base.withColumn("vec_id", F.col("vec_id") + 100000))
    out = DD.embedding_dedup(base.unionByName(dup), threshold=0.999)
    got = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in out.collect()}
    planted = {(r.vec_id, r.vec_id + 100000) for r in base.collect()}
    assert planted <= got  # exact copies always share the full sketch


def test_brute_force_topk_matches_numpy(spark, emb):
    out = SIM.brute_force_topk(emb, query_ids=[0, 1, 2], k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.qid, []).append((r.rank, r.pid))
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for q in (0, 1, 2):
        qv = Mn[ids == q][0]
        sims = Mn @ qv
        order = [(ids[i], sims[i]) for i in np.argsort(-sims) if ids[i] != q][:5]
        exp_ids = [int(i) for i, _ in order]
        assert [p for _, p in sorted(got[q])] == exp_ids


def test_topk_unbounded_query_side_errors(spark, emb, monkeypatch):
    # query_ids=None collects the query side to the driver — error-first
    # above the cap instead of a silent driver OOM at corpus scale
    monkeypatch.setattr(SIM, "MAX_DRIVER_QUERIES", 10)
    with pytest.raises(ValueError, match="exceeds"):
        SIM.brute_force_topk(emb, query_ids=None, k=3)
    # EXPLICIT ids are caller-bounded and exempt from the cap (the cap
    # targets only the whole-corpus default) — even above it
    assert SIM.brute_force_topk(
        emb, query_ids=list(range(12)), k=3).count() > 0


def test_ivf_topk_recall(spark, emb):
    # the synthetic embeddings are isotropic (no cluster structure — the
    # WORST case for IVF), so recall tracks nprobe/nlist; probe 6/8 and
    # require clearly-better-than-fraction recall
    exact = SIM.brute_force_topk(emb, query_ids=list(range(10)), k=5)
    approx = SIM.ivf_topk(emb, query_ids=list(range(10)), k=5, nlist=8, nprobe=6)
    e = {(r.qid, r.pid) for r in exact.collect()}
    a = {(r.qid, r.pid) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.85, f"IVF recall {recall}"
    # and IVF results are a strict subset of correct similarities
    sims = {(r.qid, r.pid): r.sim for r in exact.collect()}
    for r in approx.collect():
        if (r.qid, r.pid) in sims:
            assert r.sim == pytest.approx(sims[(r.qid, r.pid)], abs=1e-9)


def test_text_quality_and_tokens(spark, docs):
    out = TX.with_quality_score(docs.limit(50))
    rows = out.collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert all(r.n_tokens >= 1 for r in rows)
    bpe = TX.token_count_bpe_ish(docs.limit(10))
    assert all(r.n_pretokens >= r2 for r, r2 in
               zip(bpe.collect(), [1] * 10))


def test_lang_id_on_known_samples(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": [
        "the cat and the dog sat in the house of the king",
        "der Hund und die Katze sind nicht in das Haus",
        "le chat et les chiens sont dans la maison du roi est un",
        "这是一个中文句子 测试语言检测",
    ]})
    out = TX.with_lang_id(spark.createDataFrame(pdf))
    got = {r.doc_id: r.lang_pred for r in out.collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "zh"}


def test_fingerprint_deterministic(spark, docs):
    a = {r.doc_id: (r.fp_full, r.fp_min) for r in TX.with_fingerprint(docs.limit(20)).collect()}
    b = {r.doc_id: (r.fp_full, r.fp_min) for r in TX.with_fingerprint(docs.limit(20)).collect()}
    assert a == b
    assert len({v[0] for v in a.values()}) == len(a)  # distinct docs → distinct fp


def test_multimodal_image_features(spark):
    arr = datagen.pixels_ramp(32, 32)
    images = datagen.images_df(spark, [datagen.image_row("m", arr, "png")])
    feats = MM.decode_image_features(images).first()
    assert (feats.w, feats.h, feats.bands) == (32, 32, 1)
    assert feats.px_mean == pytest.approx(float(arr.mean()))
    out = MM.resize_images(images, 16, 16).first()
    assert (out.w, out.h) == (16, 16)


def test_multimodal_stubs_deterministic(spark):
    vids = spark.createDataFrame(pd.DataFrame(
        {"video_id": ["v1"], "bytes": [b"payload-bytes-123"]}))
    # non-AVI payloads are compressed video -> error-first unless the
    # caller opts into the plumbing stub
    with pytest.raises(Exception, match="codec library"):
        MM.frame_sample_video(vids, every_n=10, total_frames=50).collect()
    f1 = MM.frame_sample_video(vids, every_n=10, total_frames=50,
                               decoder="fake").collect()
    f2 = MM.frame_sample_video(vids, every_n=10, total_frames=50,
                               decoder="fake").collect()
    assert [r.mean for r in f1] == [r.mean for r in f2]
    assert len(f1) == 5


def test_video_avi_real_decode(spark):
    """Round 5: uncompressed AVI decodes for REAL — deterministic gray
    frames whose means are pinned analytically; MJPG-in-AVI rides the
    engine's JPEG decoder at PSNR-grade fidelity."""
    from godal_spark.functions import avi as AV

    frames = [np.full((12, 16), 10 * k, np.uint8) for k in range(6)]
    payload = AV.encode_avi(frames, rate=5)
    vids = spark.createDataFrame(pd.DataFrame(
        {"video_id": ["a1"], "bytes": [payload]}))
    rows = MM.frame_sample_video(vids, every_n=2, total_frames=100).collect()
    got = {r.frame_idx: r.mean for r in rows}
    assert got == {0: 0.0, 2: 20.0, 4: 40.0}
    # MJPG: constant frames survive the JPEG hop near-exactly
    mj = AV.encode_avi([np.full((16, 16), 100, np.uint8)], codec="MJPG")
    vids2 = spark.createDataFrame(pd.DataFrame(
        {"video_id": ["m1"], "bytes": [mj]}))
    r = MM.frame_sample_video(vids2, every_n=1).collect()[0]
    assert r.mean == pytest.approx(100.0, abs=1.5)
    aud = spark.createDataFrame(pd.DataFrame(
        {"audio_id": ["a1"], "bytes": [b"pcm-payload"]}))
    # non-WAV payloads are compressed -> error-first unless the caller
    # opts into the plumbing stub
    with pytest.raises(Exception, match="codec library"):
        MM.audio_features(aud).collect()
    wins = MM.audio_features(aud, decoder="fake").collect()
    assert len(wins) == 15 and all(0.8 < r.rms < 1.2 for r in wins)


def test_avi_top_down_and_audio_first():
    """Two real-world AVI shapes the first decoder mishandled: negative
    biHeight (top-down DIB — rows stored top-first, no flip) and an
    audio stream declared BEFORE the video stream (the audio strf is a
    WAVEFORMATEX, not a BITMAPINFOHEADER — must not poison w/h; frames
    then arrive as '01db', not '00db')."""
    import struct

    from godal_spark.functions import avi as AV

    rng = np.random.default_rng(7)
    fr = rng.integers(0, 255, (9, 13, 3), np.uint8)

    # --- top-down: patch encode output to biHeight=-9 + top-first rows
    payload = bytearray(AV.encode_avi([fr]))
    bih_off = payload.find(b"strf") + 8
    struct.pack_into("<i", payload, bih_off + 8, -9)
    body_off = payload.find(b"00db") + 8
    stride = (13 * 3 + 3) & ~3
    rows = np.zeros((9, stride), np.uint8)
    rows[:, :13 * 3] = fr[:, :, ::-1].reshape(9, 13 * 3)  # top-first BGR
    payload[body_off:body_off + 9 * stride] = rows.tobytes()
    frames, _ = AV.decode_avi(bytes(payload))
    assert np.array_equal(frames[0], fr)

    # --- audio-first: rebuild with an 'auds' strl ahead of 'vids'
    base = AV.encode_avi([fr])

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + \
            (b"\0" if len(body) & 1 else b"")

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    def body_of(tag):
        i = base.find(tag)
        return base[i + 8:i + 8 + struct.unpack_from("<I", base, i + 4)[0]]

    auds_strl = lst(b"strl", chunk(b"strh", b"auds" + b"\0" * 52)
                    + chunk(b"strf",
                            struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)))
    vids_strl = lst(b"strl", chunk(b"strh", body_of(b"strh"))
                    + chunk(b"strf", body_of(b"strf")))
    hdrl = lst(b"hdrl", chunk(b"avih", body_of(b"avih"))
               + auds_strl + vids_strl)
    movi = lst(b"movi", chunk(b"01db", body_of(b"00db"))
               + chunk(b"00wb", b"\x80" * 64))
    body = b"AVI " + hdrl + movi
    frames2, meta2 = AV.decode_avi(
        b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (meta2["width"], meta2["height"]) == (13, 9)
    assert len(frames2) == 1 and np.array_equal(frames2[0], fr)


def test_audio_wav_real_decode(spark):
    """Round 5: WAV/PCM decodes for REAL. Fixture = 440 Hz sine, 1 s at
    8 kHz, amplitude 0.5, written by the stdlib-independent encoder and
    cross-checked against Python's own `wave` writer; pinned analytic
    features: RMS = 0.5/sqrt(2), peak = 0.5, 880 zero crossings/s."""
    import io
    import wave as pywave

    from godal_spark.functions import wav as WAV

    t = np.arange(8000) / 8000.0
    pcm = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    payload = WAV.encode_wav(pcm, 8000)
    # cross-validate our RIFF parser against the stdlib wave writer
    buf = io.BytesIO()
    with pywave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes((np.clip(pcm, -1, 1) * 32767.0)
                       .round().astype("<i2").tobytes())
    ext_pcm, ext_rate = WAV.decode_wav(buf.getvalue())
    own_pcm, own_rate = WAV.decode_wav(payload)
    assert ext_rate == own_rate == 8000
    assert np.array_equal(ext_pcm, own_pcm)

    aud = spark.createDataFrame(pd.DataFrame(
        {"audio_id": ["sine"], "bytes": [payload]}))
    s = MM.audio_summary(aud).first()
    assert s.sample_rate == 8000 and s.n_samples == 8000
    assert s.duration_s == pytest.approx(1.0)
    assert s.rms == pytest.approx(0.5 / np.sqrt(2), abs=1e-3)
    assert s.peak == pytest.approx(0.5, abs=1e-3)
    assert s.zcr * 7999 == pytest.approx(880, abs=2)
    # per-window RMS of a steady sine is flat at the clip RMS
    wins = MM.audio_features(aud, frame_len=1000).collect()
    assert len(wins) == 8
    assert all(r.rms == pytest.approx(0.5 / np.sqrt(2), abs=2e-3) for r in wins)
    # multi-channel + float + 24-bit paths
    stereo = np.stack([pcm, -pcm], axis=1).ravel()
    data16 = (np.clip(stereo, -1, 1) * 32767.0).round().astype("<i2").tobytes()
    import struct as st
    fmt = st.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(data16)) + data16)
    st_payload = b"RIFF" + st.pack("<I", 4 + len(body)) + b"WAVE" + body
    mono, _ = WAV.decode_wav(st_payload)  # L/R cancel -> silence
    assert np.abs(mono).max() < 1e-4
    f32 = pcm.astype("<f4").tobytes()
    fmt = st.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = (b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(f32)) + f32)
    fpcm, _ = WAV.decode_wav(b"RIFF" + st.pack("<I", 4 + len(body)) + b"WAVE" + body)
    assert np.allclose(fpcm, pcm, atol=1e-7)


def test_streaming_windowed_counts_matches_batch(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    batch = {(r.win_start, r.event_type): (r.n, r.sum_value)
             for r in STR.windowed_counts(ev).collect()}
    # stream the same parquet through a file source
    src = str(tmp_path / "stream_src")
    ev.write.parquet(src)
    stream = STR.stream_events_from_dir(spark, src, ev.schema)
    assert stream.isStreaming
    q = STR.run_stream_to_memory(STR.windowed_counts(stream), "win_counts")
    got = {(r.win_start, r.event_type): (r.n, r.sum_value)
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    q.stop()
    assert got == batch


def test_streaming_sessionize_runs(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = STR.sessionize(ev).collect()
    assert len(out) > 0
    assert all(r.n_events >= 1 for r in out)


def test_minhash_skew_bucket_identical_docs(spark):
    """1k identical docs — one degenerate LSH bucket. The self-join path
    must produce all C(1000,2) true pairs without collecting the bucket
    into a single row (round-1 collect_set shape)."""
    n = 1000
    pdf = pd.DataFrame({"doc_id": range(n),
                        "text": ["the same exact boilerplate document text"] * n})
    docs = spark.createDataFrame(pdf)
    pairs = DD.minhash_lsh_dedup(docs, k=3, num_hashes=64, bands=16, threshold=0.9)
    # 16 bands x C(1000, 2) band pairs are far over the driver budget
    assert not _on_driver(pairs)
    assert pairs.count() == n * (n - 1) // 2
    r = pairs.first()
    assert r.jaccard == pytest.approx(1.0)


def test_verify_broadcast_guard_follows_driver_heap():
    """The verify broadcast is bounded by min(1 GB, heap / 8).
    The skew-bucket case above: 499,500 pairs of 4 shingles a side and
    64 hashes estimate 499,500 * 1,136 B = 541 MiB, under 1 GB but over
    an eighth of a 2.68 GB driver heap, so it takes the shuffle-join
    verify; a 16 GB heap may broadcast it; nothing past 1 GB broadcasts."""
    pairs = 1000 * 999 // 2
    assert not DD._verify_broadcast_ok(pairs, 8 * pairs, 64, int(2.68 * 2**30))
    assert DD._verify_broadcast_ok(pairs, 8 * pairs, 64, 16 * 2**30)
    assert not DD._verify_broadcast_ok(1_000_000, 8_000_000, 64, 64 * 2**30)


def test_jaccard_signature_prefilter_keeps_true_pairs(spark):
    """Prefilter must not drop pairs at/above the threshold."""
    texts = ["a b c d e f g h i j", "a b c d e f g h i XX",  # high overlap
             "q r s t u v w x y z"]                           # unrelated
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1, 2], "text": texts}))
    d = DD.with_minhash(DD.with_shingles(docs, k=2), num_hashes=64)
    allpairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 0, 1], "id_b": [1, 2, 2]}))
    with_f = DD.jaccard_verify(d, allpairs, threshold=0.5, signature_prefilter=True)
    no_f = DD.jaccard_verify(d, allpairs, threshold=0.5, signature_prefilter=False)
    assert {tuple(r) for r in with_f.collect()} == {tuple(r) for r in no_f.collect()}
    assert with_f.count() == 1


def test_embedding_dedup_degenerate_bucket_star(spark):
    """10k near-identical vectors: oversized bucket takes the star path —
    linear pair count, every member connected to the representative."""
    n = 10_000
    pdf = pd.DataFrame({
        "vec_id": range(n),
        "embedding": [[1.0, 0.5, 0.25, 0.125]] * n,
    })
    emb2 = spark.createDataFrame(pdf)
    out = DD.embedding_dedup(emb2, threshold=0.999, max_bucket=256)
    rows = out.collect()
    # star: exactly n-1 pairs, all anchored at vec_id 0
    assert len(rows) == n - 1
    assert all(r.id_a == 0 for r in rows)
    assert {r.id_b for r in rows} == set(range(1, n))
    assert all(r.cosine == pytest.approx(1.0) for r in rows)


def test_embedding_dedup_cluster_closure_oversized(spark):
    """Two NON-representatives that share only an OVERSIZED bucket get
    no direct verified pair (the star trade) — but the transitive
    closure over the star edges still clusters them together
    (r3 verdict item 8)."""
    pdf = pd.DataFrame({
        "vec_id": [1, 2, 3, 10, 11],
        "embedding": [[1.0, 0.5, 0.25, 0.125]] * 3          # dup cluster
        + [[-1.0, 2.0, -0.5, 0.75], [0.3, -0.9, 1.4, 0.2]],  # singletons
    })
    emb2 = spark.createDataFrame(pdf)
    pairs = DD.embedding_dedup(emb2, threshold=0.999, max_bucket=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # premise: the oversized bucket emitted only star edges to rep 1
    assert got == {(1, 2), (1, 3)}
    clusters = DD.duplicate_clusters(pairs).collect()
    bycl = {}
    for r in clusters:
        bycl.setdefault(r.cluster, set()).add(r.id)
    # 2 and 3 share a cluster despite never pairing directly
    assert bycl == {1: {1, 2, 3}}
    # convenience wrapper produces the same assignment
    cl2 = {(r.id, r.cluster) for r in DD.embedding_dedup_clusters(
        emb2, threshold=0.999, max_bucket=2).collect()}
    assert cl2 == {(1, 1), (2, 1), (3, 1)}


def test_duplicate_clusters_chain_closure(spark):
    """Chain topology A-B, B-C, C-D (log-diameter pointer doubling):
    one component labeled by its min id; disjoint pair keeps its own."""
    pairs = spark.createDataFrame(
        [(2, 5), (5, 7), (7, 3), (20, 21)], "id_a long, id_b long")
    got = {(r.id, r.cluster) for r in DD.duplicate_clusters(pairs).collect()}
    assert got == {(2, 2), (5, 2), (7, 2), (3, 2), (20, 20), (21, 20)}


def test_multimodal_mixed_jpeg_sampling_ingest(spark):
    """Real-world ingest mix: 4:4:4, 4:2:0, and 4:2:0+restart JPEG rows
    side by side through the Spark decode path (round-3: external data
    is overwhelmingly 4:2:0 — round 2 raised on it)."""
    from godal_spark.functions import jpeg as J

    y, x = np.mgrid[0:32, 0:32]
    arr = np.stack([100 + y // 2, 80 + x // 2, 90 + (x + y) // 4],
                   axis=-1).astype(np.uint8)
    rows = []
    for name, kw in [("r444", {}), ("r420", {"subsampling": "420"}),
                     ("r420dri", {"subsampling": "420", "restart_interval": 2})]:
        r = datagen.image_row(name, arr, "png")  # template row
        r["bytes"] = J.encode_jpeg(arr, quality=95, **kw)
        r["fmt"] = "jpeg"
        rows.append(r)
    feats = MM.decode_image_features(datagen.images_df(spark, rows)).collect()
    assert len(feats) == 3
    by_id = {f.image_id: f for f in feats}
    for f in feats:
        assert (f.w, f.h, f.bands) == (32, 32, 3)
        assert abs(f.px_mean - float(arr.mean())) < 2.0
    # subsampling must not perturb the perceptual hash (luma-driven)
    assert bin(by_id["r444"].phash64 ^ by_id["r420"].phash64).count("1") <= 4
    assert by_id["r420"].phash64 == by_id["r420dri"].phash64


def test_embedding_dedup_oversized_metrics(spark, emb):
    """The star-path recall trade is observable: oversized_metrics
    reports how many buckets exceeded max_bucket."""
    m = {}
    DD.embedding_dedup(emb, threshold=0.9, max_bucket=2,
                       oversized_metrics=m).count()
    assert set(m) == {"oversized_buckets", "largest_bucket", "max_bucket"}
    assert m["max_bucket"] == 2 and m["oversized_buckets"] >= 0
    m2 = {}
    DD.embedding_dedup(emb, threshold=0.9, max_bucket=10**9,
                       oversized_metrics=m2).count()
    assert m2["oversized_buckets"] == 0


def test_substring_spans_planted(spark):
    """Winnowing span dedup: planted shared blocks found at ANY alignment
    (the fixed-stride sampling failure mode), maximal extension, min_span
    filter, and no pairs among unrelated docs."""
    BLOCK = "shared boilerplate license text that appears verbatim in many documents"
    rows = []
    pads = ["", "a ", "ab ", "abc ", "abcd ", "abcde "]  # every alignment shift
    for i, pad in enumerate(pads):
        rows.append((i, pad + "unique prefix %d " % i + BLOCK + " unique tail %d" % i))
    rows.append((100, "totally unrelated content with no duplicated spans at all"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.substring_duplicate_spans(docs, min_span=40).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    import itertools
    assert pairs == set(itertools.combinations(range(len(pads)), 2))
    for r in out:
        assert r.span_len >= len(BLOCK)  # full block + shared spaces
        ta = dict(rows)[r.id_a]
        tb = dict(rows)[r.id_b]
        assert ta[r.pos_a:r.pos_a + r.span_len] == tb[r.pos_b:r.pos_b + r.span_len]
    # min_span above the block length: nothing survives
    assert DD.substring_duplicate_spans(docs, min_span=200).count() == 0


def test_substring_spans_fanout_cap(spark):
    """Grams shared by more than max_fanout docs are excluded before the
    join (documented recall bound for mega-boilerplate)."""
    BLOCK = "the same enormous boilerplate block across every single document here"
    docs = spark.createDataFrame(
        [(i, "doc %d " % i + BLOCK) for i in range(12)],
        "doc_id long, text string")
    full = DD.substring_duplicate_spans(docs, min_span=40, max_fanout=64)
    assert full.select("id_a", "id_b").distinct().count() == 12 * 11 // 2
    # max_fanout=1 kills every joinable gram (the cap is per-gram: at
    # fanout 2, boundary grams like "0 the same..." still legitimately
    # pair docs 0 and 10)
    capped = DD.substring_duplicate_spans(docs, min_span=40, max_fanout=1)
    assert capped.count() == 0


def test_repetition_stats_hand_derived(spark):
    """Gopher-style n-gram repetition fractions against hand-computed
    values: 'a b a b a b' has 2-grams [ab ba ab ba ab] -> top 3/5, dup
    5/5, 3-grams [aba bab aba bab] -> top 2/4; all-distinct and
    too-short docs get exact 1/n and 0.0."""
    import pandas as pd
    from godal_spark.operators import text as TX

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b a b a b", "x y z w", "q", "m m m m m"]}))
    out = {r.doc_id: (r.top2gram_frac, r.dup2gram_frac, r.top3gram_frac)
           for r in TX.repetition_stats(docs).collect()}
    assert out[1] == (0.6, 1.0, 0.5)
    assert out[2] == (round(1 / 3, 6), 0.0, 0.5)
    assert out[3] == (0.0, 0.0, 0.0)
    assert out[4] == (1.0, 1.0, 1.0)


def test_decontaminate_planted(spark):
    """GPT-3-style n-gram decontamination: a doc sharing an 8-gram with
    the benchmark is flagged with exact hit counts; near-misses (7
    shared tokens) and disjoint docs are not. The benchmark gram set
    must be broadcast (map-side join — eval suites are MBs against a
    100-TB corpus)."""
    from godal_spark.operators import text as TX

    bench = spark.createDataFrame(
        [("The quick brown fox jumps over the lazy dog",)], "text string")
    docs = spark.createDataFrame([
        # contains both benchmark 8-grams (9 bench tokens -> 2 grams)
        (1, "intro; the QUICK brown fox jumps over the lazy dog outro"),
        # only 7 consecutive shared tokens -> no 8-gram hit
        (2, "quick brown fox jumps over the lazy cat"),
        (3, "entirely different content with nothing shared at all ok"),
        # the same 8-gram TWICE -> 3 instance hits, 2 distinct
        (4, "the quick brown fox jumps over the lazy dog and again "
            "the quick brown fox jumps over the lazy dog"),
    ], "doc_id long, text string")
    r = TX.decontaminate(docs, bench, n=8)
    got = {x.doc_id: (x.n_gram_hits, x.n_distinct_hits, x.contaminated)
           for x in r.collect()}
    assert got[1] == (2, 2, True)
    assert got[2] == (0, 0, False)
    assert got[3] == (0, 0, False)
    assert got[4] == (4, 2, True)
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_pii_stats_pinned(spark):
    """PII scrub against pinned spans: counts, placeholder masking,
    zero residual matches, and non-PII text untouched. Patterns are
    the Java-regex/RE2 common subset (the DuckDB oracle depends on
    that)."""
    from godal_spark.operators import text as TX

    docs = spark.createDataFrame([
        (1, "write a.b+c_d%e@sub.domain.org or 192.168.001.12, "
            "tel +33 (0)1-23-45-67-89 done"),
        (2, "no pii 1.2.3 here (three octets only) v1.2.3.4.5 ok"),
        (3, "double x@y.io y@z.ai 8.8.8.8 9.9.9.9 +12025550123 +44 20 7946 0958"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in TX.pii_stats(docs).collect()}
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 1)
    assert out[1].text_scrubbed == \
        "write <EMAIL> or <IPV4>, tel <PHONE> done"
    # 1.2.3 has three octets; 1.2.3.4.5 still matches a 4-octet prefix
    # (GDAL-style \b boundaries don't see the fifth octet's dot)
    assert (out[2].n_email, out[2].n_phone) == (0, 0)
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (2, 2, 2)
    assert sum(r.n_residual for r in out.values()) == 0


def test_decode_jpeg_distributed(spark):
    """One restart-interval JPEG entropy-decoded ACROSS Spark tasks
    (segment runs via mapInPandas, driver assembly) — bit-identical to
    the single-process decode. The single-scene scale path: DRI turns
    one huge entropy stream into thousands of independent slices."""
    import godal_spark.functions.jpeg as J
    from godal_spark.operators.multimodal import decode_jpeg_distributed

    rng = np.random.default_rng(17)
    arr = rng.integers(0, 256, (96, 152, 3), np.uint8).astype(np.uint8)
    buf = J.encode_jpeg(arr, quality=88, subsampling="420",
                        restart_interval=3)
    out = decode_jpeg_distributed(spark, buf, n_tasks=5)
    assert np.array_equal(out, J.decode_jpeg_real(buf))


def test_kmeans_distributed_planted_balls(spark):
    """Distributed Lloyd over three well-separated balls: min-id init
    seeds one point per ball, so the fit converges (in ~2 iterations)
    to the exact ball means; every point lands in its ball; empty-k
    errors first."""
    import pytest

    from godal_spark.operators import similarity as SIM

    df = spark.range(60).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 3), d -> CAST("
        "  CASE WHEN d = id % 3 THEN 50.0"
        "       ELSE (id % 7) / 10.0 END AS double)) AS embedding").cache()
    C, iters = SIM.kmeans_fit(df, 3, max_iters=10)
    assert iters <= 5
    a = SIM.kmeans_assign(df, C)
    rows = a.select("vec_id", "cluster_id").collect()
    assert all(r.cluster_id == r.vec_id % 3 for r in rows)
    # centroid dominant dim = the ball's one-hot axis at 50
    for j in range(3):
        assert abs(C[j, j] - 50.0) < 1e-9
    with pytest.raises(ValueError, match="only"):
        SIM.kmeans_fit(df.limit(2), 3)
    df.unpersist()


def test_minhash_bands_not_dividing_num_hashes(spark):
    """Round-6 regression: the numpy band-bucket fold must tolerate
    bands that do not divide num_hashes (the old JVM slice fold silently
    dropped the remainder hashes; reshape would raise)."""
    from godal_spark.operators.dedup import minhash_lsh_dedup

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(4)] + [(10, "totally different words here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_dedup(docs, num_hashes=64, bands=10, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # the four identical docs must all pair up
    assert {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)} <= got


def _on_driver(pairs) -> bool:
    """Whether minhash_lsh_dedup answered on the driver: its result is
    then a local relation, which collect() reads without a job."""
    plan = pairs._jdf.queryExecution().logical()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _captions(n: int, seed: int) -> list[str]:
    """A small corpus shaped like the benchmark's captions: per 20 docs,
    2 templated boilerplate captions (below-threshold candidates), 2
    bases of at least 14 words with 2 near copies each (one word
    appended), and 14 unrelated captions of heavy-tailed length."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(2000)])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    words = lambda m: " ".join(rng.choice(vocab, m, p=p))  # noqa: E731
    templates = [words(12) + " {} " + words(6) + " {}" for _ in range(3)]
    lens = np.minimum(6 + rng.lognormal(2.8, 0.8, n).astype(int), 300)
    out: list[str] = []
    while len(out) < n:
        i, slot = len(out), len(out) % 20
        if slot in (0, 10):
            out.append(templates[(i // 10) % 3].format(*rng.choice(vocab, 2)))
        elif slot in (4, 14):
            base = words(max(14, int(lens[i])))
            out += [base] + [f"{base} {rng.choice(vocab)}" for _ in range(2)]
        else:
            out.append(words(int(lens[i])))
    return out[:n]


def _parity_case(spark, case: str):
    """(docs, minhash_lsh_dedup kwargs) for one two-path parity case."""
    texts = _captions(400, 11)
    if case == "long_ids":
        return spark.createDataFrame(
            [(3 * i + 5, t) for i, t in enumerate(texts)],
            "doc_id long, text string"), {"threshold": 0.5}
    if case == "string_ids":
        # mixed case and non-ASCII ids: the pair order is binary UTF-8
        ids = [f"{'aZé'[i % 3]}{i:04d}" for i in range(len(texts))]
        rows = list(zip(ids, texts)) + [(None, texts[4]), (None, texts[5])]
        return spark.createDataFrame(rows, "doc_id string, text string"), \
            {"threshold": 0.5}
    if case == "null_empty_text":
        small = [None, "", "   ", None, "", "a b c", "a b c", "A  B\tc",
                 "a b c d", "x y z"] + texts[:40]
        return spark.createDataFrame(list(enumerate(small)),
                                     "doc_id long, text string"), \
            {"k": 3, "threshold": 0.5}
    if case == "bands_10":
        return spark.createDataFrame(list(enumerate(texts)),
                                     "doc_id long, text string"), \
            {"bands": 10, "threshold": 0.8}
    # duplicate ids: the driver path declines, both calls are distributed
    rows = list(enumerate(texts[:60])) + [(4, texts[5]), (4, texts[6])]
    return spark.createDataFrame(rows, "doc_id long, text string"), \
        {"threshold": 0.5}


@pytest.mark.parametrize("case", ["long_ids", "string_ids", "null_empty_text",
                                  "bands_10", "duplicate_ids"])
def test_minhash_driver_path_matches_distributed(spark, monkeypatch, case):
    """The driver path and the distributed chain (with a broadcast and
    with a shuffle-join verify) return the same (id_a, id_b, jaccard)
    rows, jaccard bit-equal."""
    docs, kw = _parity_case(spark, case)

    def run():
        pairs = DD.minhash_lsh_dedup(docs, **kw)
        return _on_driver(pairs), sorted(tuple(r) for r in pairs.collect())

    on_driver, driver = run()
    assert on_driver == (case != "duplicate_ids")
    assert driver, "the case must verify some pairs"
    monkeypatch.setattr(DD, "DRIVER_BUDGET", 0)
    on_driver, broadcast = run()
    assert not on_driver
    monkeypatch.setattr(DD, "_verify_broadcast_ok", lambda *a: False)
    _, shuffled = run()
    assert driver == broadcast == shuffled


def test_minhash_dedup_job_budget(spark, jobs_of):
    """On the driver path minhash_lsh_dedup runs the signature
    checkpoint and one bounded collect (+1 when AQE splits the limit's
    exchange into its own job); its result collects with no job."""
    docs = spark.createDataFrame(list(enumerate(_captions(400, 3))),
                                 "doc_id long, text string")
    n, pairs = jobs_of(lambda: DD.minhash_lsh_dedup(docs, threshold=0.5))
    assert n <= 3
    n, rows = jobs_of(pairs.collect)
    assert n == 0 and rows


def test_minhash_fallback_counts_candidates_in_checkpoint_job(
        spark, monkeypatch, jobs_of):
    """The distributed chain counts its candidate pairs with an
    Observation on the pairs' checkpoint: the count equals a recount of
    the pairs, the rows equal the driver path's, and the chain runs 8
    jobs on this input (10 while a separate count() followed the
    checkpoint; the count's exchange is a job of its own under AQE)."""
    docs = spark.createDataFrame(list(enumerate(_captions(400, 3))),
                                 "doc_id long, text string")
    driver = sorted(tuple(r) for r in
                    DD.minhash_lsh_dedup(docs, threshold=0.5).collect())
    seen = []
    verify_ok = DD._verify_broadcast_ok

    def spy(n_cand, *a):
        seen.append(n_cand)
        return verify_ok(n_cand, *a)

    monkeypatch.setattr(DD, "DRIVER_BUDGET", 0)
    monkeypatch.setattr(DD, "_verify_broadcast_ok", spy)
    n, pairs = jobs_of(lambda: DD.minhash_lsh_dedup(docs, threshold=0.5))
    assert n <= 8
    assert sorted(tuple(r) for r in pairs.collect()) == driver
    sig = DD.with_shingle_minhash_fused(docs, "text", bands=16)
    want = DD.minhash_lsh_candidates(sig.select("doc_id", "buckets")).count()
    assert seen == [want] and want > len(driver)


def test_minhash_round6_matches_spark_round(spark):
    """The driver path's round(inter / union, 6) is Spark's: HALF_UP on
    the decimal value, so every exact 7th-digit tie rounds up."""
    ties = [(p, q) for q in range(1, 1500) for p in range(q + 1)
            if (2_000_000 * p) % q == 0 and (2_000_000 * p // q) % 2 == 1]
    assert len(ties) > 100
    got = DD._round6(np.array([p for p, _ in ties]),
                     np.array([q for _, q in ties]))
    want = spark.createDataFrame(ties, "p long, q long").select(
        F.round(F.col("p") / F.col("q"), 6).alias("r")).collect()
    assert got.tolist() == [r.r for r in want]


def test_dedup_partition_probes_run_no_job(spark, jobs_of):
    """Sizing the shingle and winnowing passes reads the input's
    partition count; under AQE that count executes the stages of a plan
    with an exchange, so it must not come from such a plan."""
    docs = spark.createDataFrame(
        [(i, f"doc {i} text words") for i in range(50)],
        "doc_id long, text string").repartition(3, "doc_id")
    assert jobs_of(lambda: DD.with_shingle_minhash_fused(docs, bands=16))[0] == 0
    assert jobs_of(lambda: DD.with_winnowing_anchors(docs))[0] == 0
