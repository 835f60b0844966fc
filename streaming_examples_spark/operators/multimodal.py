"""Multimodal columns: opaque binary payloads + typed metadata, with
decode/feature-extract as Arrow-batched ``mapInPandas`` stages.

The pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column (or an object-store URI); metadata (codec, dims,
duration) is typed columns; decode/resize/frame-sample run as
``mapInPandas`` over Arrow batches so each Python worker touches a
bounded batch of bytes. Partitioning stays row-count based
(``maxRecordsPerBatch`` keeps batches memory-safe for large blobs).

The payloads are REAL structured formats (SIMG/SVID/SAUD below — the
container has no image/video libs, so the codecs are synthetic, but
the byte layouts, header parsing, validation, per-band statistics,
nearest-neighbor resampling, and frame demuxing are genuine binary
processing, the image decode oracle-checked byte-for-byte in DuckDB).
``resize_payloads`` really resamples the SIMG pixel grid and re-emits
valid SIMG bytes; ``sample_frames`` really demuxes the SVID container
into per-frame SIMG payloads that feed straight back into
``decode_and_featurize``.

Each format is defined once, in the per-format cores below: its
header layout (``SIMG``/``SVID``/``SAUD``), the doc-id derivation of a
document's synthetic payload (``_simg_dims``/``_svid_dims``/
``_saud_dims``, evaluated on Python ints or on Catalyst columns) and
its decode arithmetic. The Catalyst ``with_*_payload`` builders, the
four standalone decoders and the fused pass (:func:`decode_meta_fused`)
are all built from those cores.
"""

from __future__ import annotations

import hashlib
import struct
import sys
import warnings
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

# the Arrow stage functions call this module's cores on the executors:
# ship them by value, so a worker never has to import the package
cloudpickle.register_pickle_by_value(sys.modules[__name__])

#: one Arrow task realizing this many payload bytes, on a stage the
#: auto gate declined to widen, means the size estimate was badly wrong
#: (compressed/expression-built blobs) — warn loudly (16× the gate)
LOUD_BYTES_PER_TASK = 64 << 20


def _widen_for_python(
    df: DataFrame, *, widen: bool | None = None, min_bytes_per_task: int = 4 << 20
) -> tuple[DataFrame, str]:
    """A ``mapInPandas`` stage is only as parallel as its input split
    count. Corpus-scale inputs arrive in thousands of parquet splits
    and pass through here untouched; a few-file input (one giant file,
    a skewed compaction) would serialize the Arrow workers, so widen to
    the session's default parallelism — the round-robin shuffle of the
    (doc_id, payload) projection is strictly cheaper than decoding
    terabytes of blobs one core deep.

    Returns ``(frame, status)``; status ∈ {"passthrough", "explicit",
    "shuffled-input", "wide-enough", "declined-small", "widened"}.
    ``"declined-small"`` is the estimate-blind case the caller arms the
    realized-bytes monitor for (:func:`_loud_monitor`).

    ``widen=None`` (auto — the decode/demux default): widen only when
    Catalyst's pre-execution size estimate says each widened task would
    get ≥ ``min_bytes_per_task`` of blobs — a KB-scale input is not
    worth an extra stage. CAVEAT: the estimate follows the SCAN, so it
    cannot see in-flight expression expansion or heavy parquet
    compression; for such estimate-blind inputs pass ``widen=True``
    through the operator (the monitor warns at runtime if this bites).
    ``widen=True`` (resize's default — its fixed ``w*h*bands`` output
    per row means the shuffle always pays for itself: measured
    local[32] on the single-file sf0.1 documents table, 224² resize
    5.6 s → 0.9 s). CAVEAT: on adaptive (exchange-bearing) plans the
    input's width is unknowable without finalizing AQE, so widen=True
    repartitions unconditionally to ``defaultParallelism`` — an input
    already WIDER than that would be reduced; pass ``widen=False``
    when you know the input is wide (e.g. already repartitioned
    upstream). ``widen=False`` never repartitions. Streaming frames
    pass through (micro-batch sizing governs there).

    Inputs whose plan already contains a shuffle exchange pass through
    untouched WITHOUT inspecting ``.rdd``: their parallelism is set by
    ``spark.sql.shuffle.partitions``/AQE, and touching ``.rdd`` on an
    adaptive plan finalizes it — executing every upstream query stage
    once for the probe and again for the real run. On exchange-free
    plans (a narrow chain over a scan) there are no query stages to
    pre-execute, so the exact ``.rdd`` split count is free.
    """
    if df.isStreaming or widen is False:
        return df, "passthrough"
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        adaptive = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .startswith("AdaptiveSparkPlan")
        )
    except Exception:
        adaptive = True  # can't tell → don't probe (safe)
    if not adaptive and df.rdd.getNumPartitions() >= target:
        # exchange-free plan: the split count is free to read, and an
        # already-wide input (a corpus-scale scan with thousands of
        # parquet splits) must NOT be funneled down to
        # defaultParallelism — even under explicit widen=True, which
        # exists to ADD parallelism, never to remove it
        return df, "wide-enough"
    if widen is True:
        # the documented contract: explicit overrides beat the auto
        # gate, on EVERY plan shape. repartition needs no .rdd probe,
        # so it is safe on adaptive plans too — an AQE-coalesced narrow
        # partition feeding an expanding decode (the estimate-blind
        # case arriving through a join) is exactly when the caller
        # reaches for widen=True.
        return df.repartition(target), "explicit"
    if adaptive:
        # AQE only wraps plans containing exchanges (or subqueries):
        # parallelism is already the shuffle's business (shuffle
        # partitions / AQE coalescing, which only shrinks counts when
        # the data is small enough not to care), and probing .rdd would
        # FINALIZE the adaptive plan — executing every upstream query
        # stage once for the probe and again for the real run. The
        # caller arms the realized-bytes monitor on this status: AQE
        # coalescing is estimate-driven, so a coalesced-narrow split
        # feeding an expanding decode warns instead of silently
        # serializing (escape hatch: widen=True, handled above).
        return df, "shuffled-input"
    from streaming_examples_spark.plans.inspect import plan_bytes

    est = plan_bytes(df)  # None: stats unavailable → assume heavy (safe at scale)
    if est is not None and est // target < min_bytes_per_task:
        return df, "declined-small"
    return df.repartition(target), "widened"


def _loud_monitor(fn, payload_col: str, sc, threshold: int = LOUD_BYTES_PER_TASK):
    """Wrap an Arrow batch function with a realized-bytes watchdog for
    the estimate-blind gate cases: the auto widen gate declined because
    the SCAN estimate looked tiny, but compressed or expression-built
    blob columns can expand orders of magnitude in flight. Each task
    counts the payload bytes it actually sees; past ``threshold`` it
    warns once (worker-side) and bumps a driver-visible accumulator
    (``df._sg_widen_monitor``) so the under-parallelization is loud
    instead of silently serializing a 100 TB decode. Counting stops
    after firing — overhead is one vectorized length pass per batch
    until then, nothing after."""
    acc = sc.accumulator(0)

    def wrapped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        fired = False
        for pdf in batches:
            if not fired:
                # vectorized: pandas maps len() over the object column
                # C-side; the per-blob Python loop this replaces was a
                # measurable tax on narrow-batch stages
                seen += int(pdf[payload_col].str.len().sum())
                if seen > threshold:
                    fired = True
                    acc.add(1)
                    warnings.warn(
                        f"multimodal: one task realized {seen >> 20} MiB of "
                        f"'{payload_col}' bytes (threshold "
                        f"{threshold >> 20} MiB) on a stage the auto widen "
                        "gate left narrow (its size estimate could not see "
                        "the payload bytes). Pass widen=True through the "
                        "operator to parallelize the decode.",
                        RuntimeWarning,
                    )
            yield from fn(iter([pdf]))

    return wrapped, acc


def _arrow_map(
    df: DataFrame, fn, schema, *, widen: bool | None, payload_col: str
) -> DataFrame:
    """Shared tail for the four decode operators: widen-gate the
    projection, arm the realized-bytes monitor on the estimate-blind
    path, run the Arrow stage."""
    base, status = _widen_for_python(df, widen=widen)
    monitor = None
    if status in ("declined-small", "shuffled-input"):
        # both estimate-driven gate outcomes: "declined-small" trusted a
        # scan estimate, "shuffled-input" trusts the shuffle's sizing
        # (AQE coalescing). Either can under-parallelize an expanding
        # blob decode — watch realized bytes and warn instead of
        # silently serializing. The shuffled threshold is 16× higher:
        # AQE sizes coalesced partitions from MEASURED shuffle bytes
        # (~64 MB targets; a few × more raw after decompression is a
        # HEALTHY task, not a mis-gate), so only an order-of-magnitude
        # exceedance — a skewed or hand-coalesced narrow split feeding
        # an expanding decode — should get loud.
        threshold = LOUD_BYTES_PER_TASK * (16 if status == "shuffled-input" else 1)
        fn, monitor = _loud_monitor(
            fn, payload_col, base.sparkSession.sparkContext, threshold
        )
    out = base.mapInPandas(fn, schema=schema)
    if monitor is not None:
        out._sg_widen_monitor = monitor
    return out


# --------------------------------------------------------------------------
# per-format cores: header layouts, doc-id derivations, decode arithmetic
# --------------------------------------------------------------------------


class _Header:
    """A payload format's big-endian header: 4-byte magic, version byte
    0x01, then the format's uint8 (``B``) / uint16 (``H``) fields.
    ``pack``/``parse`` serve the Python decoders, ``expr`` the Catalyst
    builders."""

    def __init__(self, magic: bytes, fields: str):
        self.magic = magic
        self.fields = fields
        self.fmt = ">4sB" + fields
        self.size = struct.calcsize(self.fmt)

    def pack(self, *values: int) -> bytes:
        return struct.pack(self.fmt, self.magic, 1, *values)

    def parse(self, raw) -> list[int] | None:
        """The header fields of ``raw``; None when it is null, shorter
        than the header, or another magic/version."""
        if raw is None or len(raw) < self.size:
            return None
        magic, version, *values = struct.unpack_from(self.fmt, raw)
        return values if magic == self.magic and version == 1 else None

    def expr(self, *values: Column) -> Column:
        """The header bytes in Catalyst (hex assembly + unhex)."""
        return F.unhex(
            F.concat(
                F.lit((self.magic + b"\x01").hex()),
                *(
                    F.lpad(F.hex(v), 2 * struct.calcsize(">" + f), "0")
                    for f, v in zip(self.fields, values)
                ),
            )
        )


#: SIMG: width, n_bands, height; then
#: width*height*n_bands pixel bytes, pixel p's band b sample at offset
#: p*n_bands + b
SIMG = _Header(b"SIMG", "HBH")
#: SVID: width, n_bands, height, n_frames, frame_interval_ms; then
#: n_frames planes of width*height*n_bands bytes, frame-major — each
#: plane is exactly a SIMG pixel region
SVID = _Header(b"SVID", "HBHHH")
#: SAUD: sample_rate_hz, n_samples; then n_samples int16 big-endian
#: PCM samples
SAUD = _Header(b"SAUD", "HH")

#: every dim/count header field is a uint16
U16_MAX = 65535
SAUD_RATES_HZ = (8000, 16000, 44100)


def _id_mod(doc_id, m: int, off: int = 0):
    """``doc_id mod m + off`` on a Python int or a Catalyst column
    (``pmod`` is Python's ``%``) — the builders and the fused pass
    evaluate the same derivation."""
    if isinstance(doc_id, Column):
        return (F.pmod(doc_id, F.lit(m)) + off).cast("int")
    return doc_id % m + off


def _capped_div(n, d):
    """How many ``d``-byte units fit in ``n`` text bytes, capped at the
    uint16 header field that stores the count."""
    if isinstance(n, Column):
        return F.least(F.floor(n / d), F.lit(U16_MAX)).cast("int")
    return min(n // d, U16_MAX)


def _simg_dims(doc_id, n_bytes):
    """(width, n_bands, height) of a document's SIMG image: the pixels
    are the leading ``width*height*n_bands`` bytes of its UTF-8 text."""
    w, b = _id_mod(doc_id, 9, 8), _id_mod(doc_id, 3, 1)
    return w, b, _capped_div(n_bytes, w * b)


def _svid_dims(doc_id, n_bytes):
    """(width, n_bands, height, n_frames, frame_interval_ms) of a
    document's SVID clip: the planes are the leading
    ``width*height*n_bands*n_frames`` bytes of its UTF-8 text."""
    w, b, nf = _id_mod(doc_id, 5, 4), _id_mod(doc_id, 2, 1), _id_mod(doc_id, 4, 2)
    return w, b, _capped_div(n_bytes, w * b * nf), nf, _id_mod(doc_id, 3, 1) * 40


def _saud_dims(doc_id, n_bytes):
    """(sample_rate_hz, n_samples) of a document's SAUD clip: the
    samples are the leading ``2*n_samples`` bytes of its UTF-8 text."""
    if isinstance(doc_id, Column):
        rates = F.array(*map(F.lit, SAUD_RATES_HZ))
        rate = F.element_at(rates, _id_mod(doc_id, len(SAUD_RATES_HZ), 1))
    else:
        rate = SAUD_RATES_HZ[_id_mod(doc_id, len(SAUD_RATES_HZ))]
    return rate, _capped_div(n_bytes, 2)


def _band_stats(px: np.ndarray, n_bands: int, per_band: int):
    """(band means, band maxes, checksum) of band-interleaved uint8
    samples. Integer sums are exact, so each mean is ONE IEEE division —
    the op the SQL oracle performs. A zero-pixel image has null band
    stats and checksum 0."""
    if per_band:
        means = [
            int(px[b::n_bands].sum(dtype=np.int64)) / per_band for b in range(n_bands)
        ]
        maxes = [int(px[b::n_bands].max()) for b in range(n_bands)]
    else:
        means = maxes = [None] * n_bands
    return means, maxes, int(px.sum(dtype=np.int64))


def _nn_resize(px: np.ndarray, w: int, h: int, n_bands: int, tw: int, th: int, maps):
    """Nearest-neighbor resample of a band-interleaved ``h``×``w`` image
    to ``th``×``tw`` (source index ``(i*src)//dst`` — PIL NEAREST's
    arithmetic), flattened band-interleaved. ``maps`` caches the index
    map per (source, target) extent for the caller."""

    def index(src: int, dst: int) -> np.ndarray:
        idx = maps.get((src, dst))
        if idx is None:
            idx = maps[(src, dst)] = (np.arange(dst) * src) // dst
        return idx

    return px.reshape(h, w, n_bands)[index(h, th)][:, index(w, tw)].reshape(-1)


def _svid_frames(footage, w, n_bands, h, n_total, interval_ms, n_frames):
    """``n_frames`` evenly spaced frames of a clip (the first kept; all
    of them when the clip is shorter) as ``(source frame index,
    timestamp ms, SIMG frame payload)``; ``footage`` starts at frame 0's
    plane."""
    plane = w * h * n_bands
    header = SIMG.pack(w, n_bands, h)
    k = min(n_frames, n_total)
    frames = []
    for i in range(k):
        fi = (i * n_total) // k
        frame = header + footage[fi * plane : (fi + 1) * plane]
        frames.append((fi, fi * interval_ms, frame))
    return frames


def _saud_features(body, n: int, rate: int):
    """(duration_ms, rms, peak, zero_crossings) of the first ``n``
    int16 big-endian samples in ``body``; an empty clip has duration 0,
    no RMS or peak, and 0 crossings."""
    if n == 0:
        return 0.0, None, None, 0
    s = np.frombuffer(body, dtype=">i2", count=n).astype(np.int64)
    return (
        n * 1000.0 / rate,
        float(np.sqrt((s * s).sum() / n)),
        int(np.abs(s).max()),
        int((np.signbit(s[1:]) != np.signbit(s[:-1])).sum()),
    )


def _frame(rows: list[dict], schema: T.StructType) -> pd.DataFrame:
    """One output batch of ``schema`` from row dicts; a field missing
    from a row is null. Object columns: Arrow converts them straight to
    the schema's types, where pandas' per-column dtype inference cost 4×
    the conversion."""
    return pd.DataFrame(
        {n: pd.Series([r.get(n) for r in rows], dtype=object) for n in schema.names}
    )


# --------------------------------------------------------------------------
# Catalyst payload builders and the standalone decoders
# --------------------------------------------------------------------------


def with_binary_payload(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach a structured binary column + typed metadata (stands in
    for image bytes; on real data this column comes from the source).

    The payload is a valid SIMG byte string: dims derived from the doc
    id, pixel bytes from the UTF-8 text (:func:`_simg_dims`). Pure
    Catalyst construction (hex-string assembly + unhex + binary
    concat) — map-only, no Python."""
    tb = F.encode(F.col(text_col), "utf-8")
    w, b, h = _simg_dims(F.col(id_col), F.octet_length(tb))
    payload = F.concat(SIMG.expr(w, b, h), tb.substr(F.lit(1), w * h * b))
    return docs.withColumn("payload", payload).withColumn(
        "payload_meta",
        F.struct(
            F.octet_length(F.col("payload")).alias("n_bytes"),
            F.lit("simg-v1").alias("codec"),
        ),
    )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bands", T.IntegerType()),
        T.StructField("band_mean", T.ArrayType(T.DoubleType())),
        T.StructField("band_max", T.ArrayType(T.IntegerType())),
        T.StructField("checksum", T.LongType()),
    ]
)


def decode_and_featurize(
    docs_with_payload: DataFrame,
    *,
    batch_hint: int = 1024,
    widen: bool | None = None,
) -> DataFrame:
    """Decode each SIMG payload: validate magic/version, parse the
    header, and compute per-band pixel statistics (mean, max) plus a
    whole-image checksum — REAL binary parsing over Arrow batches (the
    codec is synthetic; the decoding is not).

    Malformed payloads (short, wrong magic, truncated pixel region)
    emit ``valid = false`` rows with null stats — decode errors are
    data, not exceptions, so one corrupt blob cannot kill a 100 TB
    scan. Zero-pixel images (header-only) are valid with null
    band stats and checksum 0.

    mapInPandas is the right shape: each Python worker sees a bounded
    Arrow batch of blobs (``maxRecordsPerBatch``), numpy does the
    per-band strided reductions, and only KB-sized stats cross back —
    the binary column itself never re-enters the JVM.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                hdr = SIMG.parse(raw)
                if hdr is None:
                    rows.append(dict(doc_id=doc_id, valid=False))
                    continue
                width, n_bands, height = hdr
                dims = dict(width=width, height=height, n_bands=n_bands)
                npx = width * height * n_bands
                pix = raw[SIMG.size : SIMG.size + npx]
                if len(pix) < npx or n_bands == 0:
                    rows.append(dict(doc_id=doc_id, valid=False, **dims))
                    continue
                means, maxes, checksum = _band_stats(
                    np.frombuffer(pix, dtype=np.uint8), n_bands, width * height
                )
                rows.append(dict(
                    doc_id=doc_id, valid=True, **dims,
                    band_mean=means, band_max=maxes, checksum=checksum,
                ))
            yield _frame(rows, DECODED_SCHEMA)

    return _arrow_map(
        docs_with_payload.select("doc_id", "payload"),
        decode,
        DECODED_SCHEMA,
        widen=widen,
        payload_col="payload",
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bands", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_payloads(
    docs_with_payload: DataFrame,
    *,
    width: int = 224,
    height: int = 224,
    widen: bool | None = True,
) -> DataFrame:
    """Resize each SIMG payload to ``width``×``height`` by
    nearest-neighbor resampling of the band-interleaved pixel grid —
    REAL resampling (numpy integer index maps, the same arithmetic
    PIL's NEAREST uses), re-emitted as a valid SIMG byte string so the
    output feeds straight back into :func:`decode_and_featurize`.

    Output payloads are fixed-size per band count
    (``header + width*height*n_bands`` bytes) — the property that
    makes downstream Arrow batch memory predictable, and the reason
    training pipelines resize BEFORE shuffling samples. Malformed or
    zero-pixel sources (nothing to sample from) emit
    ``valid = false`` rows with a null blob — decode errors are data,
    not exceptions. Resizing to the source's own dims is the identity
    (byte-identical payload).
    """
    tw, th = width, height
    maps: dict = {}

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["payload"]):
                hdr = SIMG.parse(raw)
                if hdr is None:
                    rows.append(dict(doc_id=doc_id, valid=False, width=tw, height=th))
                    continue
                sw, nb, sh = hdr
                npx = sw * sh * nb
                pix = raw[SIMG.size : SIMG.size + npx]
                if len(pix) < npx or npx == 0:
                    rows.append(
                        dict(doc_id=doc_id, valid=False, width=tw, height=th, n_bands=nb)
                    )
                    continue
                px = np.frombuffer(pix, dtype=np.uint8)
                out = _nn_resize(px, sw, sh, nb, tw, th, maps)
                rows.append(dict(
                    doc_id=doc_id, valid=True, width=tw, height=th, n_bands=nb,
                    resized=SIMG.pack(tw, nb, th) + out.tobytes(),
                ))
            yield _frame(rows, RESIZED_SCHEMA)

    return _arrow_map(
        docs_with_payload.select("doc_id", "payload"),
        resize,
        RESIZED_SCHEMA,
        widen=widen,
        payload_col="payload",
    )


def with_video_payload(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach a structured video binary column (the video leg of the
    image/audio/video triad; on real data this column comes from the
    source): a valid SVID byte string (layout at ``SVID``) whose
    dims, frame count and frame interval derive from the doc id and
    whose planes are the document's UTF-8 text bytes
    (:func:`_svid_dims`) — synthetic footage, genuine byte layout.
    Pure Catalyst (hex assembly + unhex + concat), map-only."""
    tb = F.encode(F.col(text_col), "utf-8")
    w, b, h, nf, interval = _svid_dims(F.col(id_col), F.octet_length(tb))
    payload = F.concat(
        SVID.expr(w, b, h, nf, interval), tb.substr(F.lit(1), w * h * b * nf)
    )
    return docs.withColumn("video", payload)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    docs_with_video: DataFrame, *, n_frames: int = 4, widen: bool | None = None
) -> DataFrame:
    """Demux each SVID payload and keep ``n_frames`` evenly-spaced
    frames — REAL container parsing, the 1-to-N shape (one input row →
    several frame rows).

    Each kept frame is re-emitted as a valid SIMG byte string
    (header + that frame's plane), so sampled frames feed straight
    into :func:`decode_and_featurize`/:func:`resize_payloads` — the
    demux→decode→resize chain a video curation pipeline runs.
    ``frame_idx`` is the frame's index IN THE SOURCE CLIP and
    ``frame_ts_ms = frame_idx * frame_interval_ms`` comes from the
    container's own timing metadata. Clips with fewer frames than
    requested keep them all; malformed/truncated payloads yield zero
    rows (skip, not null-explode — one bad clip cannot kill the scan).

    ``mapInPandas`` emits MORE rows than it receives (the Arrow
    iterator contract allows any output cardinality), so there is no
    explode-then-decode double pass over the blob column.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["video"]):
                hdr = SVID.parse(raw)
                if hdr is None:
                    continue
                sw, nb, sh, total, interval = hdr
                plane = sw * sh * nb
                if plane == 0 or total == 0 or len(raw) < SVID.size + plane * total:
                    continue  # empty or truncated footage
                footage = memoryview(raw)[SVID.size :]
                for fi, ts, frame in _svid_frames(
                    footage, sw, nb, sh, total, interval, n_frames
                ):
                    rows.append(
                        dict(doc_id=doc_id, frame_idx=fi, frame_ts_ms=ts, frame=frame)
                    )
            yield _frame(rows, FRAMES_SCHEMA)

    return _arrow_map(
        docs_with_video.select("doc_id", "video"),
        frames,
        FRAMES_SCHEMA,
        widen=widen,
        payload_col="video",
    )


def with_audio_payload(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach a structured audio binary column (the audio leg of the
    image/audio/video triad; on real data this column comes from the
    source): a valid SAUD byte string (layout at ``SAUD``) whose sample
    rate derives from the doc id and whose samples are the document's
    UTF-8 text bytes (:func:`_saud_dims`) — synthetic waveform, genuine
    byte layout. Pure Catalyst (hex assembly + unhex + concat),
    map-only."""
    tb = F.encode(F.col(text_col), "utf-8")
    rate, n_samples = _saud_dims(F.col(id_col), F.octet_length(tb))
    payload = F.concat(SAUD.expr(rate, n_samples), tb.substr(F.lit(1), n_samples * 2))
    return docs.withColumn("audio", payload)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def decode_audio(docs_with_audio: DataFrame, *, widen: bool | None = None) -> DataFrame:
    """Decode each SAUD payload: validate magic/version, parse the
    header, and compute the classic audio-curation features — duration,
    RMS energy, peak amplitude, zero-crossing count (the cheap
    speech/noise/silence discriminators a pipeline filters on before
    any expensive ASR pass). numpy int16 vectorized over Arrow batches;
    malformed payloads become ``valid = false`` rows, not exceptions.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, raw in zip(pdf["doc_id"], pdf["audio"]):
                hdr = SAUD.parse(raw)
                if hdr is None:
                    rows.append(dict(doc_id=doc_id, valid=False))
                    continue
                rate, n = hdr
                body = raw[SAUD.size : SAUD.size + 2 * n]
                if len(body) < 2 * n or rate == 0:
                    rows.append(
                        dict(doc_id=doc_id, valid=False, sample_rate_hz=rate, n_samples=n)
                    )
                    continue
                dur, rms, peak, zc = _saud_features(body, n, rate)
                rows.append(dict(
                    doc_id=doc_id, valid=True, sample_rate_hz=rate, n_samples=n,
                    duration_ms=dur, rms=rms, peak=peak, zero_crossings=zc,
                ))
            yield _frame(rows, AUDIO_SCHEMA)

    return _arrow_map(
        docs_with_audio.select("doc_id", "audio"),
        decode,
        AUDIO_SCHEMA,
        widen=widen,
        payload_col="audio",
    )


#: unified output grain of :func:`decode_meta_fused`: one row per
#: (doc, band) for image/resize, per sampled frame, per doc for audio,
#: discriminated by `kind`; doubles UNROUNDED (the caller rounds in
#: Catalyst so engine rounding semantics stay in one place)
MM_FUSED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("prefix_hex", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bands", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_mean", T.DoubleType()),
        T.StructField("band_max", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def decode_meta_fused(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_frames: int = 4,
    resize_to: tuple[int, int] = (8, 8),
    widen: bool | None = None,
) -> DataFrame:
    """The whole multimodal quartet — image decode, resize re-decode,
    video frame demux, audio decode — in ONE Arrow pass (guide §4.2,
    §4.5). The branch form ran FIVE mapInPandas stages over the same
    documents (image decode, resize, resize re-decode, frame demux,
    audio decode), each paying its own Catalyst payload assembly
    (hex/unhex over megabytes of text) and its own JVM→Python crossing
    of the payload bytes; here the text bytes cross once and every
    decoder runs on them while they are hot in the worker.

    The payloads are never assembled: the per-format cores derive each
    document's dims exactly as the ``with_*_payload`` builders do and
    decode straight from the text bytes, with the arithmetic the
    standalone decoders run — equivalence is pinned by
    ``test_fused_multimodal_matches_branch_union`` (and its edge-doc
    twin) and by the DuckDB oracle hash of the ``multimodal_meta``
    entry. Invalid-source semantics follow the branch form: image rows
    only for valid SIMG (always, by construction), resize rows only
    when the source has pixels, frame rows only when a plane exists,
    audio rows for every doc. ``band_mean``/``duration_ms``/``rms``
    come back unrounded; round in Catalyst like the branch form did."""
    tw, th = resize_to
    maps: dict = {}

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []

            def add_bands(doc_id, kind, n_bands, stats, **kw):
                means, maxes, checksum = stats
                for band in range(n_bands):
                    rows.append(dict(
                        doc_id=doc_id, kind=kind, n_bands=n_bands, band=band,
                        band_mean=means[band], band_max=maxes[band],
                        checksum=checksum, **kw,
                    ))

            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    # branch-form semantics: a NULL text nulls every
                    # payload (concat with NULL), the decoders emit
                    # invalid / skip, and every branch filters — zero
                    # rows for the doc
                    continue
                doc_id = int(doc_id)
                tb = text.encode("utf-8")
                n = len(tb)

                # ---- image: with_binary_payload + decode_and_featurize
                w, b, h = _simg_dims(doc_id, n)
                px = np.frombuffer(tb, dtype=np.uint8, count=w * h * b)
                add_bands(
                    doc_id, "image", b, _band_stats(px, b, w * h),
                    n_bytes=SIMG.size + w * h * b,
                    prefix_hex=SIMG.pack(w, b, h)[:8].hex(),
                    width=w, height=h,
                )

                # ---- resize re-decode: resize_payloads → decode
                if w * h > 0:
                    rz = _nn_resize(px, w, h, b, tw, th, maps)
                    add_bands(
                        doc_id, "resize", b, _band_stats(rz, b, tw * th),
                        width=tw, height=th,
                    )

                # ---- frames: with_video_payload + sample_frames +
                #      md5(lower(hex(frame)))
                vw, vb, vh, nf, interval = _svid_dims(doc_id, n)
                if vw * vh * vb > 0:
                    for fi, ts, frame in _svid_frames(
                        tb, vw, vb, vh, nf, interval, n_frames
                    ):
                        rows.append(dict(
                            doc_id=doc_id, kind="frame", frame_idx=fi,
                            frame_ts_ms=ts,
                            frame_md5=hashlib.md5(frame.hex().encode()).hexdigest(),
                        ))

                # ---- audio: with_audio_payload + decode_audio
                rate, ns = _saud_dims(doc_id, n)
                dur, rms, peak, zc = _saud_features(tb, ns, rate)
                rows.append(dict(
                    doc_id=doc_id, kind="audio", sample_rate_hz=rate,
                    n_samples=ns, duration_ms=dur, rms=rms, peak=peak,
                    zero_crossings=zc,
                ))
            yield _frame(rows, MM_FUSED_SCHEMA)

    return _arrow_map(
        docs.select(id_col, text_col),
        fused,
        MM_FUSED_SCHEMA,
        widen=widen,
        payload_col=text_col,
    )


def payload_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Pure-SQL metadata over binary payloads (no decode): byte length
    + prefix hex — pushdown-friendly filtering before any decode."""
    return docs_with_payload.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.substring(F.lower(F.hex(F.col("payload"))), 1, 16).alias("prefix_hex"),
    )
