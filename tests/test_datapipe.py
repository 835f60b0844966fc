"""Training-data pipeline operator tests: dedup recall/precision on
planted near-dups, ANN recall vs brute force, text metrics, multimodal
plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_examples_spark.operators.dedup import (
    embedding_near_dup,
    exact_dedup,
    minhash_lsh_pairs,
    normalized_dedup,
    simhash_near_pairs,
)
from streaming_examples_spark.operators.multimodal import (
    decode_and_featurize,
    payload_meta,
    with_binary_payload,
)
from streaming_examples_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from streaming_examples_spark.operators.text import lang_id, quality_scores, token_stats


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Corpus with planted near-duplicates: pairs (i, i+1000) differ by
    one word; everything else is disjoint-ish."""
    import random

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(400)]
    base = [
        " ".join(rng.choice(vocab) for _ in range(100)) + f" uniq{i}" for i in range(20)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # near-dup: one word substituted in a 100-word doc (j ≈ 0.97)
    rows += [
        (1000 + i, t.replace(t.split()[50], "CHANGED", 1))
        for i, t in enumerate(base[:10])
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_pairs(spark, near_dup_docs):
    pairs = minhash_lsh_pairs(near_dup_docs, threshold=0.5).collect()
    found = {(r["d1"], r["d2"]) for r in pairs}
    planted = {(i, 1000 + i) for i in range(10)}
    assert planted <= found  # full recall on planted pairs
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_simhash_finds_planted_pairs(spark, near_dup_docs):
    pairs = simhash_near_pairs(near_dup_docs, max_hamming=10)
    found = {(r["d1"], r["d2"]) for r in pairs.collect()}
    planted = {(i, 1000 + i) for i in range(10)}
    assert len(planted & found) >= 8  # approximate: ≥80% recall


def test_exact_and_normalized_dedup(spark):
    rows = [
        (1, "b a c"),
        (2, "b a c"),       # exact dup of 1
        (3, "c a b"),       # reordered → normalized dup of 1
        (4, "totally different words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {r["keep_id"]: r["n_docs"] for r in exact_dedup(docs).collect()}
    assert exact[1] == 2 and exact[3] == 1 and exact[4] == 1
    norm = {r["keep_id"]: r["n_docs"] for r in normalized_dedup(docs).collect()}
    assert norm[1] == 3 and norm[4] == 1


def test_ann_lsh_recall_vs_brute_force(spark, tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=10)
    approx = lsh_ann_topk(emb, queries, k=10)
    hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    # 8 tables × 4 planes on structureless random vectors: ~75% expected
    # recall (real clustered embeddings do far better per probe)
    assert hits >= 0.5 * exact.count()
    # every ANN result must be a genuine corpus vector with correct cos
    assert approx.filter(F.col("cos").isNull()).count() == 0


def test_ivf_recall_vs_brute_force(spark, tables):
    from streaming_examples_spark.operators.similarity import ivf_ann_topk

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=10)
    ivf = ivf_ann_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    hits = ivf.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    # structureless random vectors scatter neighbors across cells;
    # n_probe=4/16 scans 25% of the corpus → recall well above that
    assert hits >= 0.3 * exact.count()


def test_embedding_near_dup_blocked(spark, tables):
    emb = tables["embeddings"]
    blocked = embedding_near_dup(emb, threshold=0.3, block_col="label")
    unblocked = embedding_near_dup(emb, threshold=0.3)
    # blocking restricts the pair space: every blocked pair also appears
    # unblocked, and there are fewer of them
    assert blocked.count() <= unblocked.count()
    assert blocked.join(unblocked, ["d1", "d2"], "left_anti").count() == 0


def test_token_stats_basics(spark):
    docs = spark.createDataFrame(
        [(1, "hello world abc123 end"), (2, "a b a")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert got[1]["n_tokens"] == 4
    assert got[1]["n_bpe_tokens"] == 5  # abc123 splits into abc + 123
    assert got[2]["n_unique_tokens"] == 2


def test_quality_gate(spark):
    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten eleven"),
            (2, "!!! ??? ... !!!"),  # punctuation soup
            (3, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert got[1]["passes_quality"] is True
    assert got[2]["passes_quality"] is False  # punct ratio
    assert got[3]["unique_ratio"] < 0.1 or not got[3]["passes_quality"]


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de los gatos"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"


def test_multimodal_decode_roundtrip(spark, tables):
    """The SIMG payloads built by with_binary_payload decode back to
    the exact dims/stats the generator implies — a genuine parse of
    the header + band-interleaved pixel region, not a fake."""
    docs = with_binary_payload(tables["documents"].limit(50))
    meta = payload_meta(docs)
    m = meta.first()
    assert m["n_bytes"] >= 10 and len(m["prefix_hex"]) == 16
    assert m["prefix_hex"].startswith("53494d4701")  # magic + version
    rows = decode_and_featurize(docs).collect()
    assert len(rows) == 50
    src = {r["doc_id"]: r["text"] for r in tables["documents"].limit(50).collect()}
    for r in rows:
        assert r["valid"]
        assert r["width"] == 8 + r["doc_id"] % 9
        assert r["n_bands"] == 1 + r["doc_id"] % 3
        tb = src[r["doc_id"]].encode("utf-8")
        w, h, b = r["width"], r["height"], r["n_bands"]
        assert h == min(len(tb) // (w * b), 65535)
        pix = tb[: w * h * b]
        assert r["checksum"] == sum(pix)
        # python-side reference band stats over the interleaved layout
        for band in range(b):
            vals = pix[band::b]
            assert r["band_max"][band] == max(vals)
            assert abs(r["band_mean"][band] - sum(vals) / (w * h)) < 1e-9
    # determinism: same input → same stats
    again = {r["doc_id"]: r["band_mean"] for r in decode_and_featurize(docs).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["band_mean"]


def test_multimodal_decode_rejects_malformed(spark):
    """Corrupt blobs are data (valid=false rows), never exceptions —
    one bad payload cannot kill a corpus-wide scan."""
    import struct as _s

    good = b"SIMG" + b"\x01" + _s.pack(">H", 2) + b"\x02" + _s.pack(">H", 1) + b"\x0a\x14\x1e\x28"
    cases = [
        (1, None),                       # null payload
        (2, b"SIM"),                     # shorter than the header
        (3, b"JUNK" + good[4:]),         # wrong magic
        (4, b"SIMG\x02" + good[5:]),     # unknown version
        (5, good[:-2]),                  # truncated pixel region
        (6, good),                       # control: well-formed
    ]
    df = spark.createDataFrame(cases, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_and_featurize(df).collect()}
    assert len(got) == 6
    for bad_id in (1, 2, 3, 4, 5):
        assert not got[bad_id]["valid"]
        assert got[bad_id]["checksum"] is None
    ok = got[6]
    assert ok["valid"] and (ok["width"], ok["height"], ok["n_bands"]) == (2, 1, 2)
    assert ok["checksum"] == 10 + 20 + 30 + 40
    assert ok["band_mean"] == [20.0, 30.0]  # bands interleaved: (10,30), (20,40)
    assert ok["band_max"] == [30, 40]


def test_multimodal_resize_is_real_nearest_neighbor(spark, tables):
    """resize_payloads really resamples the SIMG pixel grid: output is
    a valid SIMG payload at the target dims, pixel values match a
    numpy nearest-neighbor reference, and identity resize is
    byte-identical."""
    import numpy as np
    import struct as _s

    from streaming_examples_spark.operators.multimodal import resize_payloads

    docs = with_binary_payload(tables["documents"].limit(50))
    resized = resize_payloads(docs, width=32, height=16).collect()
    assert len(resized) == 50
    by_id = {r["doc_id"]: r for r in resized}
    src = {r["doc_id"]: bytes(r["payload"]) for r in docs.select("doc_id", "payload").collect()}
    n_checked = 0
    for doc_id, r in by_id.items():
        assert r["valid"] and (r["width"], r["height"]) == (32, 16)
        blob = bytes(r["resized"])
        nb = r["n_bands"]
        # fixed-size output per band count — the property that makes
        # downstream Arrow batch memory predictable
        assert len(blob) == 10 + 32 * 16 * nb
        # numpy nearest-neighbor reference over the source grid
        buf = src[doc_id]
        sw, = _s.unpack(">H", buf[5:7])
        sh, = _s.unpack(">H", buf[8:10])
        arr = np.frombuffer(buf[10 : 10 + sw * sh * nb], np.uint8).reshape(sh, sw, nb)
        ys = (np.arange(16) * sh) // 16
        xs = (np.arange(32) * sw) // 32
        assert blob[10:] == arr[ys][:, xs].tobytes()
        n_checked += 1
    assert n_checked == 50

    # identity resize returns the exact source bytes
    one = docs.limit(1)
    row = one.select("doc_id", "payload").first()
    buf = bytes(row["payload"])
    sw, = _s.unpack(">H", buf[5:7])
    sh, = _s.unpack(">H", buf[8:10])
    ident = resize_payloads(one, width=sw, height=sh).first()
    assert bytes(ident["resized"]) == buf

    # resized payloads feed straight back into the decoder
    redecoded = decode_and_featurize(
        resize_payloads(docs, width=8, height=8)
        .selectExpr("doc_id", "resized as payload")
    ).collect()
    assert all(r["valid"] and r["width"] == 8 and r["height"] == 8 for r in redecoded)

    # malformed / zero-pixel sources are data, not exceptions
    bad = spark.createDataFrame(
        [(1, b""), (2, None), (3, b"JUNKJUNKJUNK"), (4, bytes(src[min(src)][:10]))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in resize_payloads(bad, width=8, height=8).collect()}
    assert len(got) == 4
    assert not any(got[i]["valid"] for i in (1, 2, 3, 4))
    assert all(got[i]["resized"] is None for i in (1, 2, 3, 4))


def test_multimodal_parsers_never_raise_on_garbage(spark):
    """Fuzz the binary parsers: arbitrary bytes — random garbage, valid
    magics with lying headers, truncated everything — must come back as
    valid=false rows or skips, never exceptions (a 100 TB scan meets
    every corruption eventually)."""
    import random
    import struct as _s

    from streaming_examples_spark.operators.multimodal import (
        decode_audio,
        resize_payloads,
        sample_frames,
    )

    rng = random.Random(0x5EED)
    blobs = []
    for i in range(200):
        kind = i % 5
        if kind == 0:
            blobs.append(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64))))
        elif kind == 1:  # right magic, random rest
            magic = [b"SIMG", b"SAUD", b"SVID"][i % 3]
            blobs.append(magic + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40))))
        elif kind == 2:  # header promises more bytes than present
            blobs.append(b"SIMG\x01" + _s.pack(">H", 60000) + b"\xff" + _s.pack(">H", 60000))
        elif kind == 3:  # huge frame count, no footage
            blobs.append(b"SVID\x01" + _s.pack(">H", 100) + b"\x03" + _s.pack(">HHH", 100, 65535, 40))
        else:
            blobs.append(None)
    rows = [(i, b, b, b) for i, b in enumerate(blobs)]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, audio binary, video binary"
    )
    decoded = decode_and_featurize(df).collect()
    assert len(decoded) == 200 and not any(r["valid"] for r in decoded)
    resized = resize_payloads(df, width=8, height=8).collect()
    assert len(resized) == 200 and not any(r["valid"] for r in resized)
    audio = decode_audio(df).collect()
    assert len(audio) == 200
    assert sample_frames(df, n_frames=4).count() == 0


def test_multimodal_widen_gate(spark, tables):
    """The mapInPandas fan-out is adaptive: KB-scale inputs are not
    worth an extra stage (decode stays on the source splits), while
    resize — whose output expansion the input stats cannot see —
    always widens a narrow input to full parallelism."""
    from streaming_examples_spark.operators.multimodal import (
        _widen_for_python,
        resize_payloads,
    )

    # a pushed-down filter keeps the plan a bare narrow chain over the
    # single-file scan (1 split); limit() would wrap the plan in AQE
    # (Exchange SinglePartition), which the gate deliberately refuses
    # to probe
    docs = with_binary_payload(tables["documents"].filter(F.col("doc_id") < 50))
    src = docs.select("doc_id", "payload")
    par = spark.sparkContext.defaultParallelism
    # small input, shrink-op path: stats gate rejects the widen
    out, status = _widen_for_python(src)
    assert status == "declined-small" and out.rdd.getNumPartitions() == 1
    # same input, zero threshold: the stats path itself widens
    out, status = _widen_for_python(src, min_bytes_per_task=0)
    assert status == "widened" and out.rdd.getNumPartitions() == par
    # resize forces the widen regardless of input size
    assert resize_payloads(docs, width=8, height=8).rdd.getNumPartitions() == par
    # explicit overrides beat the auto gate in both directions — the
    # escape hatch for estimate-blind inputs (compressed/expression-built)
    assert decode_and_featurize(docs, widen=True).rdd.getNumPartitions() == par
    assert resize_payloads(docs, width=8, height=8, widen=False).rdd.getNumPartitions() == 1
    # AUTO on a shuffled input passes through untouched WITHOUT
    # touching .rdd — probing .rdd finalizes an adaptive plan, silently
    # executing every upstream query stage once for the probe and again
    # for the real run; auto parallelism is the shuffle's business
    wide = src.repartition(par)
    out, status = _widen_for_python(wide)
    assert out is wide and status == "shuffled-input"
    # but EXPLICIT widen=True must override even on adaptive plans
    # (repartition needs no .rdd probe): the escape hatch for an
    # AQE-coalesced narrow split feeding an expanding decode
    out, status = _widen_for_python(wide, widen=True)
    assert out is not wide and status == "explicit"


def test_multimodal_blind_gate_warns_on_realized_bytes(spark, tables, monkeypatch):
    """The auto widen gate follows the SCAN estimate, which cannot see
    expression-built (or heavily compressed) blob columns. When a task
    then realizes far more payload bytes than the gate assumed, the
    operator must get LOUD — a worker warning plus a driver-visible
    accumulator — instead of silently serializing the decode."""
    from pyspark.sql import functions as F

    from streaming_examples_spark.operators.multimodal import (
        decode_and_featurize,
        with_binary_payload,
    )

    # fixture-sized payloads: gate declines (tiny), monitor stays quiet
    quiet_docs = with_binary_payload(tables["documents"]).coalesce(1)
    quiet = decode_and_featurize(quiet_docs)
    quiet.write.format("noop").mode("overwrite").save()
    mon = getattr(quiet, "_sg_widen_monitor", None)
    assert mon is not None and mon.value == 0

    # expression-built 500× payload: the scan estimate is unchanged, so
    # the gate still declines — but one task realizes >64 MiB of blobs
    # and the monitor must fire
    big_docs = with_binary_payload(
        tables["documents"].withColumn("text", F.repeat(F.col("text"), 500))
    ).coalesce(1)
    loud = decode_and_featurize(big_docs)
    loud.write.format("noop").mode("overwrite").save()
    mon = getattr(loud, "_sg_widen_monitor", None)
    assert mon is not None and mon.value >= 1

    # the same expansion arriving through a shuffle (the AQE-coalesced
    # path the auto gate refuses to probe): the monitor must be armed
    # on "shuffled-input" too — at a 16× threshold (shuffle sizing is
    # measured, so modest exceedance is healthy; only order-of-magnitude
    # blowups fire). Scale the base constant down so the 16× product is
    # crossable at fixture size.
    import streaming_examples_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "LOUD_BYTES_PER_TASK", 1 << 20)
    shuffled = with_binary_payload(
        tables["documents"].withColumn("text", F.repeat(F.col("text"), 500))
    ).repartition(1)
    loud2 = decode_and_featurize(shuffled)
    loud2.write.format("noop").mode("overwrite").save()
    mon = getattr(loud2, "_sg_widen_monitor", None)
    assert mon is not None and mon.value >= 1
    # and a modest shuffled stage (under 16x) must stay QUIET
    quiet2 = decode_and_featurize(with_binary_payload(tables["documents"]).repartition(1))
    quiet2.write.format("noop").mode("overwrite").save()
    mon = getattr(quiet2, "_sg_widen_monitor", None)
    assert mon is not None and mon.value == 0


def test_multimodal_frame_sampling_demuxes_svid(spark, tables):
    """sample_frames really parses the SVID container: evenly-spaced
    source frame indices, timestamps from the container's own
    frame_interval_ms, and each emitted frame is a valid SIMG payload
    whose pixels equal the source plane."""
    import struct as _s

    from streaming_examples_spark.operators.multimodal import (
        sample_frames,
        with_video_payload,
    )

    docs = with_video_payload(tables["documents"].limit(20))
    vids = {r["doc_id"]: bytes(r["video"]) for r in docs.select("doc_id", "video").collect()}
    frames = sample_frames(docs, n_frames=3).collect()
    per_doc: dict = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert per_doc, "at least some documents must yield demuxable clips"
    for doc_id, rows_ in per_doc.items():
        buf = vids[doc_id]
        sw, = _s.unpack(">H", buf[5:7])
        nb = buf[7]
        sh, = _s.unpack(">H", buf[8:10])
        total, interval = _s.unpack(">HH", buf[10:14])
        plane = sw * sh * nb
        k = min(3, total)
        assert len(rows_) == k
        expect_idx = [(i * total) // k for i in range(k)]
        assert sorted(r["frame_idx"] for r in rows_) == expect_idx
        for r in rows_:
            fi = r["frame_idx"]
            assert r["frame_ts_ms"] == fi * interval
            blob = bytes(r["frame"])
            # valid SIMG: header carries the clip dims, body is the plane
            assert blob[:4] == b"SIMG" and blob[4] == 1
            assert blob[5:10] == buf[5:10]
            off = 14 + fi * plane
            assert blob[10:] == buf[off : off + plane]
    # frames feed straight into the image decoder (demux → decode chain)
    decoded = decode_and_featurize(
        sample_frames(docs, n_frames=3).selectExpr("doc_id", "frame as payload")
    ).collect()
    assert len(decoded) == len(frames) and all(r["valid"] for r in decoded)
    # malformed / truncated clips yield zero rows, not null-explodes
    ok = vids[min(vids)]
    bad = spark.createDataFrame(
        [(1, b"ab"), (2, None), (3, b"JUNK" + ok[4:]), (4, ok[:-1])],
        "doc_id long, video binary",
    )
    assert sample_frames(bad, n_frames=3).count() == 0


def test_scrub_pii_redacts_and_counts(spark):
    from streaming_examples_spark.operators.text import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 now"),
            (2, "server at 10.0.0.1 and 192.168.1.255 ok"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert got[1]["scrubbed"] == "contact <EMAIL> or <PHONE> now"
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (1, 1, 0)
    assert got[2]["scrubbed"] == "server at <IP> and <IP> ok"
    assert got[2]["n_ipv4"] == 2
    assert got[3]["scrubbed"] == got[3]["scrubbed"] == "clean text with no identifiers at all"
    assert got[3]["n_email"] == got[3]["n_phone"] == got[3]["n_ipv4"] == 0


def test_repetition_score_flags_degenerate_docs(spark):
    from streaming_examples_spark.operators.text import repetition_score

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),      # one shingle repeated 4x
            (2, "all words here are fully distinct"),  # no repeated shingles
            (3, "too short"),                          # < 3 words → excluded
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_score(docs).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_shingles"] == 4
    assert got[1]["dup_frac"] == 0.75       # 1 distinct of 4
    assert got[1]["top_shingle_frac"] == 1.0
    assert got[2]["dup_frac"] == 0.0
    assert got[2]["top_shingle_frac"] == 0.25  # 4 shingles, all unique


def test_decontaminate_flags_overlapping_docs(spark):
    from streaming_examples_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # contains eval 5-gram
            (2, "completely unrelated training text goes here now"),
            (3, "too short"),                                     # < k words → 0 shingles
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox jumps over a fence")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in decontaminate(train, ev, k=5).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["contaminated"] and got[1]["n_overlap"] == 1
    assert not got[2]["contaminated"] and got[2]["n_overlap"] == 0
    assert got[3]["n_shingles"] == 0 and not got[3]["contaminated"]


def test_pack_sequences_layout(spark):
    from streaming_examples_spark.operators.packing import pack_sequences

    # one shard so the layout is a single deterministic stream
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(1, 6), (2, 3), (3, 5), (4, 2)]],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pack_sequences(docs, capacity=8, n_shards=1).collect()}
    # cumulative starts: 0, 6, 9, 14 with capacity 8
    assert (got[1]["seq_id"], got[1]["seq_offset"]) == (0, 0)
    assert (got[2]["seq_id"], got[2]["seq_offset"]) == (0, 6)   # straddles the cut
    assert (got[3]["seq_id"], got[3]["seq_offset"]) == (1, 1)
    assert (got[4]["seq_id"], got[4]["seq_offset"]) == (1, 6)
    assert all(r["n_tokens"] == n for r, n in [(got[1], 6), (got[2], 3), (got[3], 5), (got[4], 2)])


def test_packing_tokens_col_matches_default_tokenization(spark):
    """The r12 single-scan path: pack_sequences/mixture_weights fed a
    precomputed whitespace token count (tokens_col=) must be
    row-identical to tokenizing text themselves — the equivalence
    training_mix's one-corpus-scan composition rests on."""
    from pyspark.sql import functions as F

    from streaming_examples_spark.operators.packing import (
        mixture_weights,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b  c", "s1"),   # double space → empty token, counted by split
            (2, "", "s1"),         # empty text → [""] → 1 token
            (3, "x y z w v", "s2"),
            (4, "lone", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    tok = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    base_pack = sorted(map(tuple, pack_sequences(docs, capacity=4, n_shards=2).collect()))
    tok_pack = sorted(
        map(tuple, pack_sequences(tok, capacity=4, n_shards=2, tokens_col="n_tokens").collect())
    )
    assert base_pack == tok_pack
    base_w = sorted(map(tuple, mixture_weights(docs, alpha=0.3).collect()))
    tok_w = sorted(map(tuple, mixture_weights(tok, alpha=0.3, tokens_col="n_tokens").collect()))
    assert base_w == tok_w


def test_mixture_weights_lift_low_resource(spark):
    from streaming_examples_spark.operators.packing import mixture_weights

    docs = spark.createDataFrame(
        [(i, "w " * 99 + "w", "big") for i in range(9)]
        + [(100, "w " * 99 + "w", "small")],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in mixture_weights(docs, alpha=0.3).collect()}
    assert got["big"]["n_tokens"] == 900 and got["small"]["n_tokens"] == 100
    assert abs(got["big"]["p"] + got["small"]["p"] - 1.0) < 1e-3
    assert abs(got["big"]["q"] + got["small"]["q"] - 1.0) < 1e-3
    # alpha < 1 boosts the low-resource source, shrinks the dominant one
    assert got["small"]["boost"] > 1.0 > got["big"]["boost"]


def test_approx_quantiles_within_sketch_tolerance(spark, tables):
    from streaming_examples_spark.operators.analytics import (
        numeric_quantiles,
        numeric_quantiles_approx,
    )

    li = tables["lineitem"]
    exact = {r["l_returnflag"]: r for r in numeric_quantiles(li).collect()}
    approx = {r["l_returnflag"]: r for r in numeric_quantiles_approx(li).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        assert a["n_items"] == e["n_items"] and a["avg_price"] == e["avg_price"]
        for col in ("p25_price", "p50_price", "p75_price"):
            # sketch error bound: rank error ≤ n/accuracy → tiny value gap
            assert abs(a[col] - e[col]) / e[col] < 0.01, (flag, col, a[col], e[col])


def test_fused_multimodal_matches_branch_union(spark):
    """The r13 fused single-Arrow-pass multimodal_meta must be
    row-identical to the pre-r13 four-branch union (kept as
    _mm_quartet_branches): every per-band stat, frame md5, audio
    feature, and null pattern — the equivalence proof the fusion's
    oracle-hash gate rides on, pinned at test scale."""
    import math
    import os

    from streaming_examples_spark.catalog import entries, release, t_wide
    from streaming_examples_spark.catalog_datapipe import _mm_quartet_branches

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

    def canon(df):
        rows = []
        for r in df.collect():
            rows.append(
                tuple(
                    None if isinstance(v, float) and math.isnan(v) else v
                    for v in r
                )
            )
        return sorted(rows, key=lambda x: tuple(str(v) for v in x))

    try:
        fused = entries()["multimodal_meta"].fn(spark, sf_dir)
        ref = _mm_quartet_branches(t_wide(spark, sf_dir, "documents", key="doc_id"))
        assert fused.columns == ref.columns
        assert canon(fused) == canon(ref)
    finally:
        release(spark, "multimodal_meta", sf_dir)


def test_fused_multimodal_matches_branch_union_on_edge_docs(spark):
    """The fused pass against the four-branch reference on documents
    the fixtures never hold: NULL and empty text, a 1-byte text (a
    zero-pixel image, no resize row), multi-byte UTF-8, a doc whose
    SIMG height hits the uint16 cap and one whose audio hits the
    65535-sample cap."""
    import math

    from pyspark.sql import functions as F

    from streaming_examples_spark.catalog_datapipe import (
        _mm_fused,
        _mm_quartet_branches,
    )

    varied = "".join(chr(32 + (i * 7) % 95) for i in range(600_000))
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "x"),
            (4, "héllo wörld ✓ 漢字 🙂 " * 40),
            (5, "日本語のテキスト ünïcödé " * 5_000),  # ~140 KB: audio cap
            (9, varied),  # w=8, one band: height cap
        ],
        "doc_id long, text string",
    )

    def canon(df):
        rows = [
            tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in df.collect()
        ]
        return sorted(rows, key=lambda x: tuple(str(v) for v in x))

    fused = _mm_fused(docs)
    ref = _mm_quartet_branches(docs)
    assert fused.columns == ref.columns
    got = canon(fused)
    assert got == canon(ref)
    assert 1 not in {r[0] for r in got}  # NULL text: no rows at all
    capped = fused.filter(
        ((F.col("kind") == "image") & (F.col("height") == 65535))
        | ((F.col("kind") == "audio") & (F.col("n_samples") == 65535))
    )
    assert {(r["doc_id"], r["kind"]) for r in capped.collect()} == {
        (9, "image"),
        (9, "audio"),
        (5, "audio"),
    }


def test_quantiles_ignore_null_prices(spark, tables):
    """numeric_quantiles ranks the non-NULL prices only: NULL prices
    added to the input leave every output row unchanged."""
    from pyspark.sql import functions as F

    from streaming_examples_spark.operators.analytics import numeric_quantiles

    li = tables["lineitem"]
    nulls = li.limit(30).withColumn(
        "l_extendedprice", F.lit(None).cast(li.schema["l_extendedprice"].dataType)
    )
    assert sorted(map(tuple, numeric_quantiles(li.unionByName(nulls)).collect())) == sorted(
        map(tuple, numeric_quantiles(li).collect())
    )


def test_pq_ann_beats_random_and_is_deterministic(spark, tables):
    from streaming_examples_spark.operators.similarity import (
        brute_force_topk,
        pq_ann_topk,
        pq_codebooks,
        pq_encode,
    )
    from pyspark.sql import functions as F

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    got = pq_ann_topk(emb, q, k=10, m=8, k_codes=16, iters=3).collect()
    assert len(got) == 50  # 5 queries x top-10, every query served

    exact = brute_force_topk(emb, q, k=10).collect()
    ex, pq = {}, {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in got:
        pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    mean_recall = sum(len(ex[k] & pq[k]) / 10 for k in ex) / len(ex)
    # random top-10 of ~500 would hit ~0.02; PQ on UNSTRUCTURED random
    # vectors (the adversarial case — no cluster structure to exploit)
    # must still land an order of magnitude above chance
    assert mean_recall >= 0.15, mean_recall

    # codes: one per subspace, each within the codebook range
    books = pq_codebooks(emb, m=8, k_codes=16, iters=3)
    codes = pq_encode(emb, books).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    # deterministic end to end
    again = pq_ann_topk(emb, q, k=10, m=8, k_codes=16, iters=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_scrub_pii_overlapping_patterns_count_actual_redactions(spark):
    from streaming_examples_spark.operators.text import scrub_pii

    docs = spark.createDataFrame(
        [(1, "mail user@10.0.0.1.com now"), (2, "raw ip 10.0.0.1 here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    # the email rule consumed the host — no phantom n_ipv4 count
    assert got[1]["scrubbed"] == "mail <EMAIL> now"
    assert got[1]["n_email"] == 1 and got[1]["n_ipv4"] == 0
    assert got[2]["n_ipv4"] == 1


def test_pack_sequences_custom_id_col(spark):
    from streaming_examples_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "vid long, text string"
    )
    rows = pack_sequences(docs, capacity=4, n_shards=1, id_col="vid").collect()
    assert {r["doc_id"] for r in rows} == {1, 2}


def test_table_profile_matches_duckdb(spark, tables):
    """table_profile (ex catalog profile_documents — displaced from the
    driver's 50-entry window) verified against DuckDB directly."""
    import os

    import duckdb

    from streaming_examples_spark.operators.analytics import table_profile

    SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    got = table_profile(
        tables["documents"],
        numeric_col="n_chars",
        distinct_cols=["lang", "source"],
        null_col="text",
    ).collect()[0]
    con = duckdb.connect()
    exp = con.execute(
        f"""SELECT count(*), count(DISTINCT lang), count(DISTINCT source),
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   min(n_chars), max(n_chars), round(avg(n_chars), 2)
            FROM '{SF_DIR}/documents.parquet'"""
    ).fetchone()
    assert tuple(got) == exp


def test_text_stats_short_doc_edge_cases(spark):
    """text_stats on docs the testdata never contains: <3 words (no
    shingles -> repetition columns NULL, fp NULL, fp_shingles 0) and
    punctuation-only. Spark side and the registered DuckDB oracle must
    agree on the crafted frame too — the driver only ever checks the
    generated corpus, which has no short docs."""
    import math

    import duckdb
    import pandas as pd

    from streaming_examples_spark.catalog import entries

    rows = [
        (1, "one", "en", "srcA", 3),
        (2, "two words", "en", "srcA", 9),
        (3, "exactly three words", "en", "srcB", 19),
        (4, "!!! ??? ...", "und", "srcB", 11),
        (5, "the the the the the the the the the the", "en", "srcB", 39),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    sdf = spark.createDataFrame(pdf)

    # spark side: run the real operator composition on the crafted frame
    from streaming_examples_spark.operators.text import (
        fingerprint,
        lang_id,
        normalize_text,
        quality_scores,
        repetition_score,
        token_stats,
    )
    from pyspark.sql import functions as F

    out = (
        token_stats(sdf)
        .join(quality_scores(sdf).drop("n_chars"), "doc_id")
        .join(lang_id(sdf), "doc_id")
        .join(normalize_text(sdf), "doc_id")
        .join(fingerprint(sdf).select("doc_id", "fp", F.col("n_shingles").alias("fp_shingles")), "doc_id")
        .join(
            repetition_score(sdf).select(
                "doc_id", F.col("n_shingles").alias("rep_shingles"), "dup_frac", "top_shingle_frac"
            ),
            "doc_id",
            "left",
        )
    ).toPandas().sort_values("doc_id").reset_index(drop=True)

    # oracle side: the registered SQL verbatim, over the same frame
    con = duckdb.connect()
    con.register("documents", pdf)
    ora = con.execute(entries()["text_stats"].oracle).df().sort_values("doc_id").reset_index(drop=True)

    assert list(out["doc_id"]) == list(ora["doc_id"]) == [1, 2, 3, 4, 5]
    for col in sorted(out.columns):
        for i in range(len(out)):
            a, b = out[col][i], ora[col][i]
            a_nan = a is None or (isinstance(a, float) and math.isnan(a))
            b_nan = b is None or (isinstance(b, float) and math.isnan(b))
            assert a_nan == b_nan, (col, i, a, b)
            if not a_nan:
                assert str(a) == str(b) or (
                    isinstance(a, float) and abs(a - float(b)) < 1e-9
                ), (col, i, a, b)
    # the semantics under test: short docs have NULL repetition columns
    one_word = out[out.doc_id == 1].iloc[0]
    assert math.isnan(one_word["rep_shingles"]) or one_word["rep_shingles"] is None
    assert one_word["fp_shingles"] == 0


def test_ivf_pq_recall_and_determinism(spark, tables):
    """IVF-PQ (coarse cells + residual codes + ADC over n_probe cells):
    recall vs exact cosine must beat the random-k baseline, and the
    whole index (seeded k-means, no RNG) must be run-to-run identical."""
    from streaming_examples_spark.operators.similarity import ivf_pq_ann_topk

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    k = 10
    exact = brute_force_topk(emb, queries, k=k)
    got = ivf_pq_ann_topk(
        emb, queries, k=k, n_centroids=16, n_probe=4, m=8, k_codes=16, iters=2
    )
    rows = got.collect()
    n_queries = queries.count()
    assert len(rows) == n_queries * k
    n_corpus = emb.count()
    hits = got.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
    # random-k baseline would hit k*k/n_corpus per query; demand 5x that
    # AND an absolute floor (cells alone put ~n_probe/16 of the corpus
    # in scope; residual ADC must rank usefully within it)
    baseline = n_queries * k * k / n_corpus
    assert hits >= max(5 * baseline, 0.15 * n_queries * k), (hits, baseline)
    again = ivf_pq_ann_topk(
        emb, queries, k=k, n_centroids=16, n_probe=4, m=8, k_codes=16, iters=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_minhash_viral_bucket_cap(spark, near_dup_docs):
    """The max_bucket_size guard drops band buckets larger than the cap
    (a boilerplate template shared by n docs would otherwise emit n²/2
    candidate pairs) while planted SMALL clusters pair exactly as
    before — recall degrades only inside the viral cluster."""
    from pyspark.sql import functions as F

    # 40 identical copies of one template: every band bucket they share
    # has size 40 >= any sane cap
    viral = spark.range(40).select(
        (F.col("id") + 5000).alias("doc_id"),
        F.lit(" ".join(f"tmpl{j}" for j in range(100))).alias("text"),
    )
    docs = near_dup_docs.unionByName(viral)

    uncapped = minhash_lsh_pairs(docs, threshold=0.5)
    capped = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=10)

    # uncapped: the viral cluster contributes C(40,2) = 780 pairs
    viral_pairs = uncapped.filter(F.col("d1") >= 5000).count()
    assert viral_pairs == 780
    # capped: viral buckets (size 40 > 10) are skipped entirely
    assert capped.filter(F.col("d1") >= 5000).count() == 0
    # the planted small pairs survive the cap untouched
    found = {(r["d1"], r["d2"]) for r in capped.filter(F.col("d1") < 5000).collect()}
    assert {(i, 1000 + i) for i in range(10)} <= found


def test_audio_decode_roundtrip(spark, tables):
    """SAUD payloads built by with_audio_payload decode back to the
    features a NumPy reference computes from the same text bytes."""
    import numpy as np

    from streaming_examples_spark.operators.multimodal import (
        decode_audio,
        with_audio_payload,
    )

    src = tables["documents"].limit(30)
    decoded = {r["doc_id"]: r for r in decode_audio(with_audio_payload(src)).collect()}
    for doc_id, text in src.select("doc_id", "text").collect():
        r = decoded[doc_id]
        assert r["valid"]
        tb = text.encode("utf-8")
        n = min(len(tb) // 2, 65535)
        assert r["n_samples"] == n
        assert r["sample_rate_hz"] in (8000, 16000, 44100)
        s = np.frombuffer(tb[: 2 * n], dtype=">i2").astype(np.int64)
        assert abs(r["rms"] - float(np.sqrt((s * s).sum() / n))) < 1e-9
        assert r["peak"] == int(np.abs(s).max())
        assert r["zero_crossings"] == int(
            (np.signbit(s[1:]) != np.signbit(s[:-1])).sum()
        )
        assert abs(r["duration_ms"] - n * 1000.0 / r["sample_rate_hz"]) < 1e-9


def test_audio_decode_rejects_malformed(spark):
    """Wrong magic, truncated sample region, and short blobs surface as
    valid=false rows — decode errors are data, not exceptions."""
    from pyspark.sql import functions as F

    from streaming_examples_spark.operators.multimodal import decode_audio

    bad = spark.createDataFrame(
        [(1, bytearray(b"NOPE\x01\x3e\x80\x00\x04")),      # wrong magic
         (2, bytearray(b"SAUD\x01\x3e\x80\x00\x10abcd")),  # declares 16, has 2
         (3, bytearray(b"SA")),                             # shorter than header
         (4, None)],
        "doc_id long, audio binary",
    )
    rows = {r["doc_id"]: r for r in decode_audio(bad).collect()}
    assert len(rows) == 4 and not any(r["valid"] for r in rows.values())
    # zero-sample payload is VALID with zero duration
    empty = spark.createDataFrame(
        [(5, bytearray(b"SAUD\x01\x3e\x80\x00\x00"))], "doc_id long, audio binary"
    )
    r = decode_audio(empty).collect()[0]
    assert r["valid"] and r["n_samples"] == 0 and r["duration_ms"] == 0.0


def test_label_cc_warns_on_max_iters_exhaustion(spark):
    """A component wider than the round budget must WARN, not silently
    return half-propagated labels (the star variant already does; this
    pins the same contract on the label variant)."""
    import warnings

    from streaming_examples_spark.operators.dedup import connected_components

    # one path of length 40: diameter 40 > max_iters 3
    chain = spark.range(40).selectExpr("id AS d1", "id + 1 AS d2")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        stats = {}
        connected_components(chain, max_iters=3, stats_out=stats).collect()
    assert not stats["converged"]
    assert any("no fixpoint" in str(w.message) for w in caught)

    # with budget, same graph converges to ONE component, no warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components(chain, max_iters=50)
        assert out.select("component").distinct().count() == 1
    assert not any("no fixpoint" in str(w.message) for w in caught)


def test_dedup_groups_escalates_to_star_on_chain_graph(spark):
    """A template drifting one word per revision yields a near-dup
    CHAIN (each doc pairs only with its neighbors) — diameter beyond
    the label solver's round budget. dedup_groups must detect the
    non-convergence and self-heal via star contraction, returning ONE
    cluster instead of half-propagated fragments."""
    from streaming_examples_spark.operators.dedup import dedup_groups

    # sliding window over a word stream: doc i and i+m share 100-m
    # contiguous words, so near-dup links reach only ~5 docs out and
    # the 200-doc chain has diameter ~40 > the 25-round budget
    stream = [f"w{j}" for j in range(310)]
    docs = [(i, " ".join(stream[i : i + 100])) for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    import warnings

    stats: dict = {}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        out = dedup_groups(df, threshold=0.9, stats_out=stats).collect()
    assert stats.get("escalated_to_star") is True
    assert stats["converged"]  # the star pass converged
    comps = {r["component"] for r in out}
    assert comps == {0}  # one drifting template = ONE cluster
    assert all(r["n_docs"] == 200 for r in out)


@pytest.mark.slow
def test_pack_sequences_matches_reference_on_random_corpora(spark):
    """Property: the window-based concat-and-chunk packing agrees with
    an independent single-threaded Python replay on random corpora —
    every doc slotted exactly once, shard routing by the same md5
    bucket, starts the exact running sum in doc_id order, offsets
    always < capacity. Catches the whole class of frame/ordering bugs
    (wrong rowsBetween, post-rename orderBy, capacity off-by-one) that
    the four-doc layout example cannot."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from streaming_examples_spark.operators.packing import pack_sequences

    @settings(max_examples=5, deadline=None)
    @given(
        data=st.lists(
            st.tuples(st.integers(0, 99999), st.integers(0, 20)),
            min_size=1, max_size=60, unique_by=lambda t: t[0],
        ),
        capacity=st.integers(1, 64),
        n_shards=st.integers(1, 8),
    )
    def check(data, capacity, n_shards):
        # n tokens → " ".join of n words; n=0 → "" which both sides
        # count as ONE token (split-on-space semantics)
        docs = [(did, " ".join(["w"] * n)) for did, n in data]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["shard"], r["seq_id"], r["seq_offset"], r["n_tokens"])
            for r in pack_sequences(df, capacity=capacity, n_shards=n_shards).collect()
        }

        # independent replay
        shards: dict[int, list] = {}
        for did, text in docs:
            b = int(hashlib.md5(str(did).encode()).hexdigest()[:4], 16) % n_shards
            shards.setdefault(b, []).append((did, text))
        want = {}
        for b, items in shards.items():
            start = 0
            for did, text in sorted(items):
                n = len(text.split(" "))
                want[did] = (b, start // capacity, start % capacity, n)
                start += n

        assert got == want  # exactly once, same slot, same count
        assert all(off < capacity for _, _, off, _ in got.values())

    check()


@pytest.mark.slow
def test_sampling_suite_matches_reference_on_random_ids(spark):
    """Property: the three content-addressed sampling primitives agree
    with an independent hashlib replay on random id sets — sample
    membership bit-for-bit, split assignment stable and exhaustive,
    quota keeping exactly the k smallest (md5, id) per group. Guards
    the hex-parse and modulo conventions (first-4-hex-chars bucket,
    %100 split, md5-string ranking) that a refactor could silently
    shift while the fixed-testdata oracle still passed by luck."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from streaming_examples_spark.operators.sampling import (
        deterministic_sample,
        quota_sample,
        split_assignment,
    )

    def b16(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16)

    @settings(max_examples=5, deadline=None)
    @given(
        ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=80, unique=True),
        rate=st.sampled_from([0.05, 0.1, 0.25, 0.5]),
        k=st.integers(1, 5),
        n_groups=st.integers(1, 4),
    )
    def check(ids, rate, k, n_groups):
        rows = [(i, f"g{i % n_groups}") for i in ids]
        df = spark.createDataFrame(rows, "doc_id long, source string")

        got = {r["doc_id"] for r in deterministic_sample(df, rate=rate).collect()}
        want = {i for i in ids if b16(i) < int(rate * 65536)}
        assert got == want

        splits = {
            r["doc_id"]: r["split"] for r in split_assignment(df).collect()
        }
        assert set(splits) == set(ids)  # exhaustive: every row assigned
        for i in ids:
            b = b16(i) % 100
            assert splits[i] == ("train" if b < 80 else "val" if b < 90 else "test")

        got_q = {r["doc_id"] for r in quota_sample(df, k=k).collect()}
        want_q = set()
        for g in {s for _, s in rows}:
            members = sorted(
                (i for i, s in rows if s == g),
                key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
            )
            want_q.update(members[:k])
        assert got_q == want_q

    check()


def test_pq_rerank_recovers_exact_order(spark, tables):
    """The two-stage PQ shape: an exact-cosine re-rank of the ADC
    shortlist must (a) emit the (query_id, neighbor_id, rank, cos)
    contract, (b) beat the code-budget-bound plain ADC recall, and
    (c) with the shortlist widened to the whole corpus, reproduce
    brute force EXACTLY — the re-rank stage is brute_force_topk
    restricted to candidates, so full-width equals ground truth."""
    from streaming_examples_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_ann_topk,
        pq_ann_topk,
    )

    emb = tables["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)

    def recall(rows, ex):
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(ex[k] & by_q[k]) / 10 for k in ex) / len(ex)

    exact_rows = brute_force_topk(emb, q, k=10).collect()
    ex = {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    plain = pq_ann_topk(emb, q, k=10, m=8, k_codes=16, iters=3).collect()
    rr = pq_ann_topk(emb, q, k=10, m=8, k_codes=16, iters=3, rerank=100).collect()
    assert {c for c in rr[0].asDict()} == {"query_id", "neighbor_id", "rank", "cos"}
    assert recall(rr, ex) >= recall(plain, ex)
    assert recall(rr, ex) >= 0.5  # shortlist of 100/500 + exact order

    # full-width shortlist == ground truth, bit for bit
    n = emb.count()
    full = pq_ann_topk(emb, q, k=10, m=8, k_codes=16, iters=3, rerank=n).collect()
    want = {(r["query_id"], r["neighbor_id"], r["rank"], r["cos"]) for r in exact_rows}
    got = {(r["query_id"], r["neighbor_id"], r["rank"], r["cos"]) for r in full}
    assert got == want

    # composition holds for the ivf-pq variant too
    rr2 = ivf_pq_ann_topk(
        emb, q, k=10, n_centroids=16, n_probe=8, m=8, k_codes=16, iters=3, rerank=100
    ).collect()
    plain2 = ivf_pq_ann_topk(
        emb, q, k=10, n_centroids=16, n_probe=8, m=8, k_codes=16, iters=3
    ).collect()
    assert recall(rr2, ex) >= recall(plain2, ex)
