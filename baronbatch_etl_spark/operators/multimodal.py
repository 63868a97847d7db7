"""Multimodal column conventions + processing plumbing (north-star
family). Images/audio/video ride through the engine as opaque
``binary`` columns with a typed metadata struct; decode/feature
steps are Arrow-batched ``mapInPandas`` operators.

Decode is layered: PIL when the library is importable, else a pure
stdlib PNG reference decoder (`_decode_png` — 8-bit, all five
scanline filters, tested against a round-trip encoder), else a loud
NotImplementedError. So `extract_features(use_real_decoder=True)`
runs end to end even in this imaging-library-free container, and the
fake length-derived features remain the default for non-image fixture
payloads. Everything around the decoder — schema, Arrow batch
iteration, partitioning, output shape — is identical on every path.

Near-duplicate media pairs (:func:`fingerprint_near_pairs`) run on the
dedup family's one Hamming-blocking operator, ``dedup.hamming_pairs``,
over a 56-bit payload aHash.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from baronbatch_etl_spark.operators.dedup import hamming_pairs

#: Typed metadata carried next to every binary payload.
MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


try:  # import-guarded: PIL is absent in this container but the real
    # decode path must be runnable (and testable) wherever it exists
    from PIL import Image as _PIL_Image
except ImportError:  # pragma: no cover — exercised where PIL exists
    _PIL_Image = None

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Minimal stdlib PNG decoder: 8-bit gray/gray+alpha/RGB/RGBA,
    non-interlaced, all five scanline filters. Returns (width,
    height, channels, raw pixel bytes row-major).

    This is the CORRECTNESS REFERENCE for the decode step — pure
    stdlib (zlib + struct), so the real-decoder path is testable in
    any container. A production deployment decodes with PIL/libjpeg
    (taken first, below) — per-byte Python unfiltering is not the
    100 TB hot path, the Arrow batching around it is identical either
    way."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, hdr = 8, [], None
    while pos + 8 <= len(payload):
        ln, typ = struct.unpack(">I4s", payload[pos : pos + 8])
        pos += 8
        data = payload[pos : pos + ln]
        pos += ln + 4  # chunk CRC skipped (zlib adler + our tests cover)
        if typ == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = hdr
    if depth != 8 or interlace != 0 or ctype not in (0, 2, 4, 6):
        # ctype 3 (palette) included: indices need the PLTE lookup
        raise NotImplementedError(
            "stdlib decoder: 8-bit non-interlaced gray/GA/RGB/RGBA only"
        )
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    out = bytearray(h * stride)
    prev = bytearray(stride)
    p = 0
    for y in range(h):
        f = raw[p]
        p += 1
        line = bytearray(raw[p : p + stride])
        p += stride
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 255
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 255
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return w, h, ch, bytes(out)


def _decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload to (width, height, channels, pixel
    bytes): PIL when the library is present, the stdlib PNG reference
    decoder for PNG payloads otherwise. Anything else raises — the
    ``use_real_decoder=True`` claim stays falsifiable everywhere."""
    if _PIL_Image is not None:  # pragma: no cover — needs PIL
        import io

        with _PIL_Image.open(io.BytesIO(payload)) as img:
            # normalize to unpacked 8-bit bands: mode "1" is
            # bit-packed and "P" carries palette indices — tobytes()
            # on either would feed garbage to the pixel math below
            if img.mode not in ("L", "LA", "RGB", "RGBA"):
                img = img.convert("RGBA" if "A" in img.mode else "RGB")
            img.load()
            px = img.tobytes()
            ch = len(img.getbands())
            return img.width, img.height, ch, px
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    raise NotImplementedError(
        "image decode beyond PNG requires PIL, not present in this "
        "environment; see module docstring"
    )


def _fake_features(byte_len: int) -> list[float]:
    """Deterministic fake embedding derived from payload length —
    stands in for the decoder+encoder so the distributed plumbing
    (batching, schema, partitioning) is fully exercised."""
    return [float((byte_len * (i + 7)) % 256) for i in range(FEATURE_DIM)]


def _pixel_features(payload: bytes) -> list[float]:
    """FEATURE_DIM real features from decoded pixels: width, height,
    channels, overall mean, then per-channel means (zero-padded to 4
    channels). Deterministic float64 over uint8 pixels."""
    w, h, ch, px = _decode_image(payload)
    arr = np.frombuffer(px, dtype=np.uint8).astype(np.float64)
    mat = arr.reshape(-1, ch) if arr.size else np.zeros((0, ch))
    means = mat.mean(axis=0) if mat.size else np.zeros(ch)
    out = [float(w), float(h), float(ch), float(arr.mean()) if arr.size else 0.0]
    out += [float(m) for m in means[:4]] + [0.0] * (4 - min(ch, 4))
    return out[:FEATURE_DIM]


def extract_features(media: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps whole Arrow batches in flight (no per-row
    serde); at 100 TB this is the pattern for any Python-side media
    op — the batch iterator bounds memory regardless of file count.

    ``use_real_decoder=True`` decodes every payload (PIL where
    present, the stdlib PNG reference decoder otherwise) and emits
    real pixel statistics (`_pixel_features`); the default path emits
    the deterministic length-derived fake so the distributed plumbing
    is exercised on fixture payloads that are not images.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = pdf["payload"].map(lambda p: 0 if p is None else len(p))
            if use_real_decoder:
                feats = pdf["payload"].map(
                    lambda p: None if p is None else _pixel_features(bytes(p))
                )
            else:
                feats = lens.map(_fake_features)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": lens.astype("int64"),
                    "features": feats,
                }
            )

    return media.mapInPandas(op, FEATURES_SCHEMA)


def frame_sample_offsets(
    media: DataFrame, n_frames: int = 4
) -> DataFrame:
    """Video frame-sampling plumbing: evenly spaced sample timestamps
    from the duration metadata (first/…/last-exclusive convention,
    offset_i = i·duration/n). The actual frame decode is the
    layered step (`_decode_image`); offset planning — the distributed
    part — is a pure column expression, so a 100 TB video corpus
    plans its sampling at scan speed and only the decoder fans out."""
    dur = F.coalesce(F.col("meta.duration_ms"), F.lit(0).cast("long"))
    offsets = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.floor(i * dur / F.lit(n_frames)).cast("long"),
    )
    return media.select(
        "media_id",
        dur.alias("duration_ms"),
        offsets.alias("frame_offsets_ms"),
    )


def resize_spec(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning from width/height metadata: target dimensions
    preserving aspect ratio, longest side capped at ``max_side``
    (integer math only — portable). The pixel work is the stubbed
    decoder's job; this computes the plan column-side."""
    w = F.coalesce(F.col("meta.width"), F.lit(0))
    h = F.coalesce(F.col("meta.height"), F.lit(0))
    longest = F.greatest(w, h)
    scale_num = F.when(longest > max_side, F.lit(max_side)).otherwise(longest)
    tw = F.when(longest > 0, F.floor(w * scale_num / longest)).otherwise(F.lit(0))
    th = F.when(longest > 0, F.floor(h * scale_num / longest)).otherwise(F.lit(0))
    return media.select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        tw.cast("int").alias("target_width"),
        th.cast("int").alias("target_height"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as a binary payload (the
    fixture tables carry no real media; this exercises the identical
    binary-column path)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


#: Bits in the payload aHash code (56 = 4 bands × 14 bits).
AHASH_BITS = 56


def payload_fingerprints_expr(media: DataFrame) -> DataFrame:
    """Pure-expression twin of :func:`payload_fingerprints` — the
    readable spec of the arithmetic (and the shape the DuckDB oracle
    mirrors, :func:`sql_payload_ahash`). Spark does not whole-stage-
    codegen higher-order-function lambdas, so the 57 per-character
    folds here run interpreted; the Arrow UDF below computes the same
    integers in one vectorized pass (~10×) and is what queries use —
    the two are bit-parity-tested in tests/test_fast_parity.py.
    """
    txt = F.decode(F.col("payload"), "UTF-8")
    n = AHASH_BITS
    length = F.length(txt)

    def char_sum(piece):
        return F.aggregate(
            F.split(piece, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: acc + F.ascii(ch),
        )

    total = char_sum(txt)

    def bit(i: int):
        start = F.floor(F.lit(i) * length / n).cast("long") + 1
        stop = F.floor(F.lit(i + 1) * length / n).cast("long") + 1
        s = char_sum(F.substring(txt, start, stop - start))
        return F.when(F.lit(n) * s > total, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    fp = bit(0)
    for i in range(1, n):
        fp = fp + bit(i)
    # when()'s null condition falls to otherwise(0) — force a null
    # payload to a null code (the UDF's and the SQL oracle's semantic)
    fp = F.when(F.col("payload").isNull(), F.lit(None).cast("long")).otherwise(fp)
    return media.select("media_id", fp.alias("fp"))


@F.pandas_udf(T.LongType())
def _ahash_fast(payloads: pd.Series) -> pd.Series:
    """Arrow-vectorized aHash: one pass builds a flat codepoint array
    for the whole batch, one cumulative sum, and all 56 slice sums
    fall out as cumsum differences at the slice boundaries — the
    fast_text.py pattern. Intermediates stay < 2^47 (codepoint < 2^21,
    length < 2^20, ×56) — int64-exact, bit-identical to the
    expression twin and the DuckDB oracle.
    """
    n = AHASH_BITS
    out: list[int | None] = [None] * len(payloads)
    idx: list[int] = []
    bufs: list[bytes] = []
    for i, p in enumerate(payloads):
        if p is None:
            continue
        # contract: in this container the payload is UTF-8 text bytes
        # (see payload_fingerprints docstring); a malformed payload
        # raises here exactly as Spark 4's ANSI decode() does in the
        # expression twin — same guard, same failure surface.
        idx.append(i)
        bufs.append(bytes(p).decode("utf-8").encode("utf-32-le"))
    if idx:
        lens = np.fromiter((len(b) >> 2 for b in bufs), dtype=np.int64, count=len(bufs))
        # "<u4": the buffer is explicitly utf-32-LE — native-endian
        # uint32 would byte-swap codepoints on big-endian hosts
        flat = np.frombuffer(b"".join(bufs), dtype="<u4").astype(np.int64)
        offs = np.concatenate(([0], np.cumsum(lens)))
        cum = np.concatenate(([0], np.cumsum(flat)))
        # slice boundaries: (docs × 57) codepoint positions, absolute
        bounds = (np.arange(n + 1, dtype=np.int64)[None, :] * lens[:, None]) // n
        pos = offs[:-1, None] + bounds
        s = cum[pos[:, 1:]] - cum[pos[:, :-1]]  # (docs × 56) slice sums
        total = cum[offs[1:]] - cum[offs[:-1]]
        fps = (
            ((n * s > total[:, None])
             * (np.int64(1) << np.arange(n, dtype=np.int64))[None, :])
            .sum(axis=1, dtype=np.int64)
        )
        for j, i in enumerate(idx):
            out[i] = int(fps[j])
    return pd.Series(out, dtype=object)


def payload_fingerprints(media: DataFrame) -> DataFrame:
    """56-bit locality-sensitive fingerprint over the binary payload —
    the average-hash (aHash) algorithm: the payload splits into 56
    equal slices, bit_i = 1 iff slice_i's value-sum exceeds the
    payload mean (56·slice_sum > total). A small local edit perturbs
    one slice's sum, flipping at most the bits whose slices sat near
    the mean — so near-identical payloads land within small hamming
    distance, exactly the property pHash/aHash gives images.

    Contract: in this container the payload carries UTF-8 text bytes
    (``documents_as_media`` encodes the fixture text), and the hash
    sums Unicode code points after decoding — NOT raw bytes — so it
    matches the character-indexed DuckDB oracle on non-ASCII text
    too. A non-UTF-8 payload fails fast (decode error), the same
    guard Spark 4's ANSI ``decode()`` gives the expression twin. A
    real deployment computes these bits from decoded pixels inside
    ``extract_features``'s Arrow pass instead — same algorithm,
    different signal. Like real aHash, *flat* inputs (uniform byte
    streams) all code to 0 and collide; callers treat all-zero codes
    as low-information matches.

    One Arrow pass per batch (``_ahash_fast``); at 100 TB this is a
    single vectorized scan of the payload column, no interpreted
    per-character folds.
    """
    return media.select("media_id", _ahash_fast(F.col("payload")).alias("fp"))


def fingerprint_near_pairs(fps: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Near-duplicate media pairs ``(media_a, media_b, hamming)``:
    :func:`dedup.hamming_pairs` over the 56-bit code, so candidates
    collide on one of 4 × 14-bit bands and verify by popcount(xor)
    inside the join condition, each pair once.

    Pigeonhole bound: 4 bands catch every pair with hamming ≤ 3 with
    certainty, and hamming-4 pairs exactly when the flipped bits leave
    one band intact — with a perceptual code that is the standard
    recall/cost dial (more bands = more recall, more candidates).

    ``fps`` is a ``(media_id, fp)`` frame, e.g.
    :func:`payload_fingerprints`. It feeds both join sides and is not
    materialized here: a caller with a computed fingerprint frame (a
    Python UDF, say) wraps it in ``io.materialize`` so the code is
    computed once per asset.
    """
    codes = fps.selectExpr("media_id AS doc_id", "fp AS sh")
    return hamming_pairs(codes, AHASH_BITS, max_hamming).selectExpr(
        "doc_a AS media_a", "doc_b AS media_b", "hamming"
    )


def sql_payload_ahash(expr: str = "text") -> str:
    """DuckDB twin of ``payload_fingerprints`` over the text column the
    fixture payload encodes (payload = encode(text), so the byte-sum
    folds see the same code points in both engines)."""
    n = AHASH_BITS

    def char_sum(piece: str) -> str:
        return (
            "list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(string_split({piece}, ''), "
            "c -> ascii(c)::BIGINT)), (a, c) -> a + c)"
        )

    piece_i = (
        f"substr({expr}, (floor(i * length({expr}) / {n}))::BIGINT + 1, "
        f"((floor((i + 1) * length({expr}) / {n})) "
        f"- (floor(i * length({expr}) / {n})))::BIGINT)"
    )
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(0, {n}), "
        f"i -> CASE WHEN {n} * {char_sum(piece_i)} > {char_sum(expr)} "
        "THEN (1::BIGINT << i) ELSE 0::BIGINT END)), (a, v) -> a + v)"
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.ArrayType(T.DoubleType()), True),
    ]
)


def _decode_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Stdlib WAV decode (the audio twin of `_decode_png`): returns
    (sample_rate, n_channels, n_frames, samples[frame, channel] as
    float64). 16-bit and 8-bit PCM — the formats `wave` emits."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        ch, width, rate, n = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        frames = w.readframes(n)
    if width == 2:
        arr = np.frombuffer(frames, dtype="<i2").astype(np.float64)
    elif width == 1:  # 8-bit WAV is unsigned, centered at 128
        arr = np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0
    else:
        raise NotImplementedError(f"{8 * width}-bit PCM not supported")
    return rate, ch, n, arr.reshape(-1, ch)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction over binary WAV payloads — the same
    Arrow `mapInPandas` shape as `extract_features`, second modality:
    per asset, sample rate / channel count / duration and per-channel
    RMS amplitude (float64 over the PCM samples). The decode is pure
    stdlib (`wave`), so unlike most imaging stacks this path has no
    optional dependency at all; a production deployment swaps in
    soundfile/ffmpeg for compressed codecs behind the same batch
    iterator."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [],
                "byte_len": [],
                "sample_rate": [],
                "n_channels": [],
                "duration_ms": [],
                "rms": [],
            }
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                if p is None:
                    for k in ("byte_len", "sample_rate", "n_channels",
                              "duration_ms", "rms"):
                        out[k].append(None)
                    continue
                b = bytes(p)
                rate, ch, n, mat = _decode_wav(b)
                out["byte_len"].append(len(b))
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["duration_ms"].append(int(n * 1000) // rate if rate else 0)
                out["rms"].append(
                    [float(v) for v in np.sqrt((mat * mat).mean(axis=0))]
                    if n
                    else [0.0] * ch
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(op, AUDIO_FEATURES_SCHEMA)


def make_wav_synth_udf(n_frames: int = 64, rate: int = 8000):
    """Deterministic WAV synthesizer (Arrow pandas UDF): mono 16-bit
    payloads whose samples alternate +amp / −(amp//2) — so RMS has the
    closed form sqrt((amp² + (amp//2)²)/2) and the full encode →
    decode → feature path is oracle-checkable without audio fixtures.
    ``n_frames`` must be even so the two magnitudes weigh equally."""
    assert n_frames % 2 == 0

    @F.pandas_udf(T.BinaryType())
    def synth_wav(amps: pd.Series) -> pd.Series:
        import io
        import wave

        out = []
        for a in amps:
            a = int(a)
            samples = np.empty(n_frames, dtype="<i2")
            samples[0::2] = a
            samples[1::2] = -(a // 2)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(samples.tobytes())
            out.append(buf.getvalue())
        return pd.Series(out)

    return synth_wav


def _encode_png_gray(w: int, h: int, pixels: bytes | None = None) -> bytes:
    """8-bit grayscale PNG (filter-0 rows). Default pixels are the
    deterministic gradient pixel(x, y) = (7x + 13y) mod 256 — the
    pattern the resize/ahash oracles replay in closed form; pass
    ``pixels`` (row-major, w·h bytes) for arbitrary test images."""
    import binascii
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    if pixels is None:
        pixels = bytes(
            (7 * x + 13 * y) & 255 for y in range(h) for x in range(w)
        )
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(pixels[y * w : (y + 1) * w])
    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@F.pandas_udf(T.BinaryType())
def synth_gradient_png(ws: pd.Series, hs: pd.Series) -> pd.Series:
    """Arrow UDF: per-row gradient PNG payloads (see _encode_png_gray)."""
    return pd.Series(
        [_encode_png_gray(int(w), int(h)) for w, h in zip(ws, hs)]
    )


def resize_nn(payload: bytes, tw: int, th: int) -> np.ndarray:
    """Nearest-neighbor resize over the decoded image: source index
    sx(j) = j·w//tw, sy(i) = i·h//th (floor sampling — the integer
    convention the SQL oracle replays). Returns (th, tw, ch) uint8."""
    w, h, ch, px = _decode_image(bytes(payload))
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[ys][:, xs]


RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("target_w", T.IntegerType(), False),
        T.StructField("target_h", T.IntegerType(), False),
        T.StructField("px_mean", T.DoubleType(), True),
    ]
)


def resized_pixel_stats(media: DataFrame, tw: int, th: int) -> DataFrame:
    """Decode → nearest-neighbor resize → mean pixel value, one Arrow
    batch at a time — the executable counterpart of `resize_spec`'s
    planning columns. Division by the fixed target area is a power-of
    -two-friendly exact float op for the oracle sizes used in tests."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means = [
                None
                if p is None
                else float(resize_nn(p, tw, th).astype(np.float64).mean())
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "target_w": tw,
                    "target_h": th,
                    "px_mean": means,
                }
            )

    return media.mapInPandas(op, RESIZE_STATS_SCHEMA)


@F.pandas_udf(T.LongType())
def pixel_ahash(payloads: pd.Series) -> pd.Series:
    """TRUE image average-hash over decoded pixels — the real
    perceptual fingerprint (`payload_fingerprints` is its byte-stream
    stand-in for non-image payloads): decode → grayscale (channel
    mean) → 8×7 nearest-neighbor downsample (floor sampling, same
    convention as `resize_nn`) → bit k set iff cell_k > mean of the
    56 cells. Strict '>' keeps flat images at code 0 (the classic
    aHash low-information case). One Arrow batch per invocation;
    the decode is the stdlib/PIL layered path."""
    weights = np.int64(1) << np.arange(56)
    out: list[int | None] = []
    for p in payloads:
        if p is None:
            out.append(None)
            continue
        cells = resize_nn(bytes(p), 8, 7).astype(np.float64).mean(axis=2)
        flat = cells.reshape(-1)  # row-major: k = i*8 + j
        bits = flat > flat.mean()
        out.append(int((bits * weights).sum()))
    return pd.Series(out, dtype=object)
