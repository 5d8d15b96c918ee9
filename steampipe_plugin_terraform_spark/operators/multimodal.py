"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern (SURVEY.md §2.11): media lives as a ``binary`` column (from
``spark.read.format("binaryFile")`` or an upstream table); decode /
feature-extract / resize run as Arrow-batched pandas functions over
``mapInPandas``, emitting a typed metadata struct per row. Decode is
pluggable: ``codec="auto"`` dispatches to REAL decoders — stdlib ``wave``
for RIFF/WAVE (always available), PIL for images where installed (resolved
per-executor at decode time) — falling back to ``decode_image_stub``, a
deterministic fake the DuckDB oracle can replay. Schema, batch shape, and
plan are identical either way, so the oracle-checked entries pin the
plumbing and the real-codec path is a flag flip.

Scale: mapInPandas is a narrow map — no shuffle; Arrow batches bound memory
(spark.sql.execution.arrow.maxRecordsPerBatch). Payload bytes never cross a
shuffle boundary; only extracted metadata does.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..parallel import plan_bytes, slices, spread

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)


def decode_image_stub(payload: bytes) -> dict:
    """Deterministic fake decode. A real implementation would do
    ``PIL.Image.open(io.BytesIO(payload))``; the container has no codec
    libs, so dimensions derive deterministically from the byte length
    (keeps oracle checks possible)."""
    n = len(payload)
    return {
        "n_bytes": n,
        "width": 64 + (n % 448),
        "height": 64 + ((n * 7) % 448),
        "channels": 3,
        "format": "fake/rgb8",
    }


def decode_wav(payload: bytes) -> dict | None:
    """REAL audio decode via stdlib ``wave`` (no external lib): returns the
    metadata struct for RIFF/WAVE payloads, None for anything else. Field
    mapping for audio: width = frame count, height = sample rate."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            return {
                "n_bytes": len(payload),
                "width": w.getnframes(),
                "height": w.getframerate(),
                "channels": w.getnchannels(),
                "format": "audio/wav",
            }
    except (wave.Error, EOFError, RuntimeError):
        # stdlib chunk/wave raise bare EOFError/RuntimeError (not just
        # wave.Error) on truncated or corrupt RIFF structure — found by
        # the hypothesis totality test; a corrupt payload must fall
        # through to the stub, never kill the executor task
        return None


def decode_image_pil(payload: bytes) -> dict | None:
    """REAL image decode via PIL when installed; None when PIL is absent or
    the payload isn't a decodable image. Import is inside the function so
    availability is resolved per-EXECUTOR at decode time."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    try:
        with Image.open(io.BytesIO(payload)) as im:
            return {
                "n_bytes": len(payload),
                "width": im.width,
                "height": im.height,
                "channels": len(im.getbands()),
                "format": f"image/{(im.format or 'unknown').lower()}",
            }
    except Exception:
        return None


def decode_image_headers(payload: bytes) -> dict | None:
    """REAL image metadata with no dependencies: dimensions/channels from
    the container headers — PNG IHDR, JPEG SOFn, GIF logical screen
    descriptor — without decoding pixel data (the classic "image probe"
    every ingest pipeline runs before deciding to decode). Returns None
    for anything that isn't one of the three containers.

    This is a header parse, not a decode: corrupt pixel data still yields
    metadata (exactly what a 100 TB triage scan wants — full decode is
    the expensive second pass, via PIL where installed)."""
    n = len(payload)
    # PNG: 8-byte signature, then the IHDR chunk (always first): 4-byte
    # length, "IHDR", width/height as 4-byte big-endian, bit depth, color
    # type (0 gray, 2 rgb, 3 palette, 4 gray+alpha, 6 rgba)
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and n >= 26 and payload[12:16] == b"IHDR":
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        color_type = payload[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
        if channels is None:
            return None
        return {"n_bytes": n, "width": w, "height": h,
                "channels": channels, "format": "image/png"}
    # JPEG: SOI then marker segments; dimensions live in the first SOFn
    # (C0-CF except C4 DHT / C8 JPG / CC DAC): precision, height, width
    # (big-endian), component count
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= n:
            if payload[i] != 0xFF:
                return None
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker == 0xD9:
                # EOI: end of stream with no SOFn seen — not a parseable
                # image (EOI carries no length field; reading one past it
                # was harmless-but-sloppy: whatever trailing bytes follow
                # are not segment data)
                return None
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone marker, no length field
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if seg_len < 2:
                return None
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 10 > n:
                    return None
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                return {"n_bytes": n, "width": w, "height": h,
                        "channels": payload[i + 9],
                        "format": "image/jpeg"}
            i += 2 + seg_len
        return None
    # GIF: logical screen descriptor right after the 6-byte version tag;
    # width/height little-endian (GIF pixels are palette-indexed → 1 chan)
    if payload[:6] in (b"GIF87a", b"GIF89a") and n >= 10:
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        return {"n_bytes": n, "width": w, "height": h,
                "channels": 1, "format": "image/gif"}
    return None


def decode_payload_auto(payload: bytes) -> dict:
    """Real-codec dispatcher: WAV via stdlib wave, full image decode via
    PIL where installed, header-parsed image metadata (PNG/JPEG/GIF —
    dependency-free, real in THIS container) otherwise, deterministic
    stub for everything else. The catalog entries keep ``codec="stub"``
    (the oracle replays the stub's arithmetic); a production pipeline
    flips ``extract_media_metadata(codec="auto")`` and nothing else
    changes — same schema, same batching, same plan."""
    return (
        decode_wav(payload)
        or decode_image_pil(payload)
        or decode_image_headers(payload)
        or decode_image_stub(payload)
    )


_CODECS = {"stub": decode_image_stub, "auto": decode_payload_auto}


def extract_media_metadata(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    codec: str = "stub",
) -> DataFrame:
    """binary payload column → typed metadata rows via Arrow-batched decode.

    ``codec="stub"`` is the deterministic fake (oracle-checkable);
    ``codec="auto"`` uses real decoders (stdlib wave always, PIL when
    installed) with the stub as fallback — identical schema and plan."""
    import pandas as pd

    id_name, payload_name = id_col, payload_col
    decode_one = _CODECS[codec]

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for i, payload in zip(pdf[id_name], pdf[payload_name]):
                meta = decode_one(bytes(payload))
                meta["doc_id"] = int(i)
                out.append(meta)
            yield pd.DataFrame(out, columns=[f.name for f in MEDIA_META_SCHEMA.fields])

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(decode, schema=MEDIA_META_SCHEMA)


def documents_as_binary(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapter for the synthetic testdata: treat the utf-8 text bytes as an
    opaque media payload so the binary plumbing is exercised end-to-end.

    Every media operator funnels through this projection before its
    Arrow-batched decode, so the spread of the decode lives HERE, sized by
    input bytes (``parallel.slices`` of the projection's plan estimate):
    under two slices the decode runs as one task with no exchange (a
    Python task plus a shuffle costs more than decoding a small input);
    from two slices the gated spread applies (``parallel.spread``: a
    single-split input is round-robined to ``defaultParallelism``)."""
    proj = df.select(F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("payload"))
    return proj if slices(df.sparkSession, plan_bytes(proj)) < 2 else spread(proj)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def sample_frames(
    df: DataFrame,
    every: int = 4,
    frame_bytes: int = 256,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling over an opaque video-like payload: one output row per
    sampled frame (every ``every``-th fixed-size byte frame), carrying a
    frame fingerprint. The fake "codec" slices fixed-size byte windows — a
    real demuxer (pyav etc., not in this container) drops into the same
    per-row loop; everything around it (multi-row-per-input mapInPandas,
    Arrow batching, schema) is the production plumbing.

    Scale: narrow map, no shuffle; output row count is |payload|/(every·
    frame_bytes) per doc, and frame bytes leave the executor only as an
    md5 fingerprint — never raw.
    """
    import hashlib

    import pandas as pd

    id_name, payload_name = id_col, payload_col

    def demux(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for i, payload in zip(pdf[id_name], pdf[payload_name]):
                b = bytes(payload)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for fi in range(0, n_frames, every):
                    ids.append(int(i))
                    idxs.append(fi)
                    hashes.append(
                        hashlib.md5(b[fi * frame_bytes : (fi + 1) * frame_bytes]).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_md5": hashes})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(demux, schema=FRAME_SCHEMA)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bin", T.IntegerType()),
        T.StructField("n", T.LongType()),
    ]
)


def byte_histogram_features(
    df: DataFrame,
    bins: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Feature extraction over opaque payloads: a ``bins``-bin byte-value
    histogram per document, emitted sparse (one row per non-empty bin).

    This is the feature-extract stage of the multimodal pipeline with the
    real Spark plumbing — a production system swaps the histogram for a
    CLIP/audio embedding inside the same Arrow-batched loop; the histogram
    keeps the stage deterministic so the driver can value-check the whole
    path (decode → vectorize → long-form rows).

    Scale: narrow map (no shuffle), numpy bincount per payload, output
    ≤ ``bins`` rows per doc regardless of payload size — payload bytes
    never leave the executor.
    """
    import numpy as np
    import pandas as pd

    assert 256 % bins == 0, "bins must divide 256"
    shift = (256 // bins - 1).bit_length()
    id_name, payload_name = id_col, payload_col

    def feat(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, bs, ns = [], [], []
            for i, payload in zip(pdf[id_name], pdf[payload_name]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                h = np.bincount(arr >> shift, minlength=bins)
                nz = np.nonzero(h)[0]
                ids.extend([int(i)] * len(nz))
                bs.extend(int(x) for x in nz)
                ns.extend(int(x) for x in h[nz])
            yield pd.DataFrame({"doc_id": ids, "bin": bs, "n": ns})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        feat, schema=FEATURE_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_width", T.LongType()),
        T.StructField("src_height", T.LongType()),
        T.StructField("dst_width", T.LongType()),
        T.StructField("dst_height", T.LongType()),
        T.StructField("resized_md5", T.StringType()),
    ]
)


def resize_stub(
    df: DataFrame,
    stride: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize stage of the multimodal pipeline (deterministic stub): source
    dims from the fake decode, destination dims = source/stride, and the
    "resized" content is every ``stride``-th payload byte (nearest-neighbor
    downsampling on the 1-D fake raster), fingerprinted as md5 — a real
    implementation swaps PIL's ``Image.resize`` into the same per-row spot.

    Scale: narrow Arrow-batched map, no shuffle; the resized bytes leave
    the executor only as a fingerprint. Output is one fixed-width metadata
    row per input regardless of payload size.
    """
    import hashlib

    import pandas as pd

    id_name, payload_name = id_col, payload_col

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {k.name: [] for k in RESIZE_SCHEMA.fields}
            for i, payload in zip(pdf[id_name], pdf[payload_name]):
                b = bytes(payload)
                meta = decode_image_stub(b)
                out["doc_id"].append(int(i))
                out["src_width"].append(meta["width"])
                out["src_height"].append(meta["height"])
                out["dst_width"].append(max(1, meta["width"] // stride))
                out["dst_height"].append(max(1, meta["height"] // stride))
                out["resized_md5"].append(hashlib.md5(b[::stride]).hexdigest())
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        resize, schema=RESIZE_SCHEMA
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash", T.StringType()),
    ]
)


def ahash64(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over an opaque payload:
    the stub codec reads the first 64 bytes as an 8×8 grayscale grid and
    emits one bit per cell — 1 iff the cell exceeds the grid MEAN — as a
    64-char bit string. The classic perceptual-dedup primitive: payloads
    with globally similar "brightness structure" collide even when bytes
    differ locally. A real pipeline swaps PIL's grayscale-resize into the
    same per-row spot; the mean comparison is computed as v·64 > Σv so
    the bits are pure integer decisions (no FP mean).

    Callers must pre-filter payloads ≥ 64 bytes (the stub has no
    interpolation to upsample smaller ones).

    Scale: narrow Arrow-batched map, no shuffle; 64 bits leave the
    executor per payload regardless of size.
    """
    import numpy as np
    import pandas as pd

    id_name, payload_name = id_col, payload_col

    def hsh(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, hs = [], []
            for i, payload in zip(pdf[id_name], pdf[payload_name]):
                v = np.frombuffer(bytes(payload)[:64], dtype=np.uint8).astype(
                    np.int64
                )
                tot = int(v.sum())
                bits = (v * 64 > tot).astype(np.uint8)
                ids.append(int(i))
                hs.append("".join("1" if b else "0" for b in bits))
            yield pd.DataFrame({"doc_id": ids, "ahash": hs})

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        hsh, schema=AHASH_SCHEMA
    )
