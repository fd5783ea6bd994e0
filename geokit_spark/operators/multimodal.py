"""Multimodal column plumbing (training-pipeline graft).

Images/audio/video are opaque `binary` columns with typed metadata.
The Spark-side plumbing — schema, partition-preserving mapInPandas,
Arrow batch shapes — is real and tested; no pixel/sample codec ships
(no image/audio codec library is a dependency), so a deterministic
fake decode stands in for tests/oracles.

At 100 TB: binary payloads dominate row size, so the decode stage is
mapInPandas (streaming batches, no pivot/shuffle), metadata-only
projections never touch the binary column (Parquet column pruning),
and feature outputs are separate narrow tables keyed by doc_id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column (here: utf-8 of text — stands in
    for an image/audio blob; byte-exactness is the per-row invariant)."""
    return docs.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def fake_decode_meta(n_bytes: np.ndarray):
    """Deterministic fake decode: metadata derived from byte length
    (pure integer arithmetic, mirrored by the SQL oracle)."""
    n = np.asarray(n_bytes, dtype=np.int64)
    width = 16 + n % 624
    height = 16 + (n * 7) % 464
    n_frames = 1 + n % 24
    return width, height, n_frames


def multimodal_meta(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, width, height, n_frames) via mapInPandas over
    the payload column — the decode/feature-extract stage shape."""
    payloads = with_payload(docs).select("doc_id", "payload")

    def fn(batches):
        for pdf in batches:
            n_bytes = pdf["payload"].map(len).to_numpy(np.int64)
            w, h, fr = fake_decode_meta(n_bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "width": w,
                    "height": h,
                    "n_frames": fr,
                }
            )

    return payloads.mapInPandas(
        fn,
        schema="doc_id long, n_bytes long, width long, height long, n_frames long",
    )


def sql_multimodal_meta() -> str:
    return """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  16 + octet_length(encode(text)) % 624 AS width,
  16 + (octet_length(encode(text)) * 7) % 464 AS height,
  1 + octet_length(encode(text)) % 24 AS n_frames
FROM documents
"""


FRAME_EVERY = 8
RESIZE_TARGET = 224
FRAME_HASH_MOD = 1000003


def sample_frames(
    docs: DataFrame, every: int = FRAME_EVERY, target: int = RESIZE_TARGET
) -> DataFrame:
    """Frame-sampling + resize plumbing (the video/image branch of the
    training pipeline): one blob row explodes to its sampled frames
    (every `every`-th of n_frames), each with aspect-preserving resize
    dims toward `target` and a per-frame fingerprint. The EXPLODE
    SHAPE is the real thing — streaming mapInPandas batches, numpy
    repeat, no shuffle, payload column pruned when not projected; the
    pixel work is the deterministic fake (codecs not shipped),
    mirrored exactly by the SQL oracle."""
    payloads = with_payload(docs).select("doc_id", "payload")
    ev = int(every)
    tgt = float(target)

    def fn(batches):
        for pdf in batches:
            n_bytes = pdf["payload"].map(len).to_numpy(np.int64)
            w, h, fr = fake_decode_meta(n_bytes)
            doc_id = pdf["doc_id"].to_numpy(np.int64)
            n_sampled = (fr + ev - 1) // ev
            d_rep = np.repeat(doc_id, n_sampled)
            w_rep = np.repeat(w, n_sampled)
            h_rep = np.repeat(h, n_sampled)
            starts = np.concatenate([[0], np.cumsum(n_sampled)[:-1]])
            fidx = (
                np.arange(int(n_sampled.sum()), dtype=np.int64)
                - np.repeat(starts, n_sampled)
            ) * ev
            scale = np.minimum(tgt / w_rep, tgt / h_rep)
            out_w = np.maximum(1, np.floor(w_rep * scale)).astype(np.int64)
            out_h = np.maximum(1, np.floor(h_rep * scale)).astype(np.int64)
            fhash = (d_rep * 31 + fidx * 17) % FRAME_HASH_MOD
            yield pd.DataFrame(
                {
                    "doc_id": d_rep,
                    "frame_idx": fidx,
                    "out_w": out_w,
                    "out_h": out_h,
                    "frame_hash": fhash,
                }
            )

    return payloads.mapInPandas(
        fn,
        schema=(
            "doc_id long, frame_idx long, out_w long, out_h long, "
            "frame_hash long"
        ),
    )


def sql_sample_frames(
    every: int = FRAME_EVERY, target: int = RESIZE_TARGET
) -> str:
    nb = "octet_length(encode(text))"
    max_sampled = (24 + every - 1) // every  # n_frames <= 24
    return f"""
WITH meta AS (
  SELECT doc_id,
    16 + {nb} % 624 AS w,
    16 + ({nb} * 7) % 464 AS h,
    1 + {nb} % 24 AS n_frames
  FROM documents
),
fr AS (
  SELECT doc_id, w, h, CAST(r.range AS BIGINT) * {every} AS frame_idx
  FROM meta, range({max_sampled}) r
  WHERE CAST(r.range AS BIGINT) * {every} < n_frames
),
sc AS (
  SELECT *, LEAST(CAST('{float(target)}' AS DOUBLE) / CAST(w AS DOUBLE),
                  CAST('{float(target)}' AS DOUBLE) / CAST(h AS DOUBLE))
            AS scale
  FROM fr
)
SELECT doc_id, frame_idx,
  CAST(GREATEST(1, FLOOR(CAST(w AS DOUBLE) * scale)) AS BIGINT) AS out_w,
  CAST(GREATEST(1, FLOOR(CAST(h AS DOUBLE) * scale)) AS BIGINT) AS out_h,
  (doc_id * 31 + frame_idx * 17) % {FRAME_HASH_MOD} AS frame_hash
FROM sc
"""


# ---------------------------------------------------------------------------
# deterministic binary CONTAINER format — real byte-level plumbing.
# payload = b"GKMM" | u32le width | u32le height | u16le n_frames |
#           u32le sample_rate | body (utf-8 text). The builder derives
# header values from doc_id by closed forms (mirrored in SQL); the
# parser reads them back BYTE-WISE with numpy frombuffer — the real
# shape of a media-container header scan, minus only the codec.

_MAGIC = b"GKMM"
_HEADER_LEN = 4 + 4 + 4 + 2 + 4


def container_header_fields(doc_id: np.ndarray):
    """Closed-form header values (mirrored by the SQL oracle)."""
    d = np.asarray(doc_id, dtype=np.int64)
    width = 16 + (d * 37) % 624
    height = 16 + (d * 91) % 464
    n_frames = 1 + (d * 13) % 24
    sample_rate = 8000 + (d % 5) * 8000
    return width, height, n_frames, sample_rate


def build_container(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): serialize the container for each document —
    vectorized struct packing via numpy byte views, one mapInPandas
    pass (the write half of the multimodal plumbing)."""
    src = docs.select("doc_id", "text")

    def fn(batches):
        for pdf in batches:
            d = pdf["doc_id"].to_numpy(np.int64)
            w, h, fr, sr = container_header_fields(d)
            payloads = []
            for i, t in enumerate(pdf["text"]):
                hdr = np.zeros(1, dtype=[
                    ("magic", "S4"), ("w", "<u4"), ("h", "<u4"),
                    ("fr", "<u2"), ("sr", "<u4"),
                ])
                hdr["magic"] = _MAGIC
                hdr["w"] = w[i]
                hdr["h"] = h[i]
                hdr["fr"] = fr[i]
                hdr["sr"] = sr[i]
                payloads.append(hdr.tobytes() + (t or "").encode("utf-8"))
            yield pd.DataFrame({"doc_id": d, "payload": payloads})

    return src.mapInPandas(fn, schema="doc_id long, payload binary")


def container_roundtrip(docs: DataFrame) -> DataFrame:
    """Build + parse + body integrity: the parsed header fields plus
    the md5 of the EXTRACTED body bytes — byte-identical to md5(text)
    iff the binary round-trip is lossless (the per-row invariant)."""
    built = build_container(docs)

    def fn(batches):
        for pdf in batches:
            import hashlib

            rows = {
                "doc_id": pdf["doc_id"].to_numpy(np.int64),
                "width": [], "height": [], "n_frames": [],
                "sample_rate": [], "body_len": [], "body_md5": [],
            }
            for buf in pdf["payload"]:
                b = bytes(buf)
                if b[:4] != _MAGIC:
                    raise ValueError("corrupt container magic")
                hdr = np.frombuffer(b[: _HEADER_LEN], dtype=[
                    ("magic", "S4"), ("w", "<u4"), ("h", "<u4"),
                    ("fr", "<u2"), ("sr", "<u4"),
                ])[0]
                body = b[_HEADER_LEN:]
                rows["width"].append(int(hdr["w"]))
                rows["height"].append(int(hdr["h"]))
                rows["n_frames"].append(int(hdr["fr"]))
                rows["sample_rate"].append(int(hdr["sr"]))
                rows["body_len"].append(len(body))
                rows["body_md5"].append(hashlib.md5(body).hexdigest())
            yield pd.DataFrame(rows)

    return built.mapInPandas(
        fn,
        schema=(
            "doc_id long, width long, height long, n_frames long, "
            "sample_rate long, body_len long, body_md5 string"
        ),
    )


def sql_container_roundtrip() -> str:
    return """
SELECT doc_id,
  CAST(16 + (doc_id * 37) % 624 AS BIGINT) AS width,
  CAST(16 + (doc_id * 91) % 464 AS BIGINT) AS height,
  CAST(1 + (doc_id * 13) % 24 AS BIGINT) AS n_frames,
  CAST(8000 + (doc_id % 5) * 8000 AS BIGINT) AS sample_rate,
  CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
  md5(text) AS body_md5
FROM documents
"""


# ---------------------------------------------------------------------------
# REAL image-format headers (PNG / JPEG / GIF). The builder emits
# standards-valid container prefixes — PNG signature + IHDR chunk with
# a true CRC32, JPEG SOI/APP0/COM/SOF0 marker stream where a
# variable-length COM segment shifts the SOF offset per document (so
# the reader MUST walk markers, not peek a fixed offset), GIF89a
# logical-screen descriptor — and the parser recovers (fmt, width,
# height) byte-wise. This is the honest header half of image decode;
# only pixel codecs remain stubbed (no codec libs shipped).


def image_dims(doc_id: np.ndarray):
    """Closed-form per-doc dimensions (mirrored by the SQL oracle)."""
    d = np.asarray(doc_id, dtype=np.int64)
    width = 16 + (d * 13) % 1000
    height = 16 + (d * 7) % 800
    return width, height


def _png_bytes(w: int, h: int) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    out = [b"\x89PNG\r\n\x1a\n"]
    for tag, data in ((b"IHDR", ihdr), (b"IEND", b"")):
        out.append(struct.pack(">I", len(data)))
        out.append(tag)
        out.append(data)
        out.append(struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
    return b"".join(out)


def _jpeg_bytes(w: int, h: int, pad: int) -> bytes:
    import struct

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    com = b"p" * pad  # shifts the SOF0 offset per document
    sof = struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    return b"".join(
        [
            b"\xff\xd8",
            b"\xff\xe0", struct.pack(">H", 2 + len(app0)), app0,
            b"\xff\xfe", struct.pack(">H", 2 + len(com)), com,
            b"\xff\xc0", struct.pack(">H", 2 + len(sof)), sof,
            b"\xff\xd9",
        ]
    )


def _gif_bytes(w: int, h: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x80\x00\x00" + b"\x3b"


def _webp_bytes(w: int, h: int, flavor: int) -> bytes:
    """Standards-valid WebP container (RIFF form type 'WEBP'), one of
    the three real chunk layouts: VP8 (lossy keyframe: 3-byte frame
    tag, 9D 01 2A start code, 14-bit LE dims), VP8L (lossless: 2F
    signature, packed 14-bit w-1/h-1 bitstream), VP8X (extended:
    flags + 24-bit LE canvas w-1/h-1). Odd-length chunks get the RIFF
    word-alignment pad byte, exactly as the spec requires."""
    import struct

    if flavor == 0:
        tag = b"VP8 "
        payload = (
            b"\x00\x00\x00"  # frame tag (keyframe, version 0)
            + b"\x9d\x01\x2a"
            + struct.pack("<HH", w & 0x3FFF, h & 0x3FFF)
        )
    elif flavor == 1:
        tag = b"VP8L"
        v = (w - 1) | ((h - 1) << 14)  # alpha/version zero in top bits
        payload = b"\x2f" + struct.pack("<I", v)
    else:
        tag = b"VP8X"
        payload = (
            b"\x02\x00\x00\x00"  # flags (ICC bit set) + reserved
            + struct.pack("<I", w - 1)[:3]
            + struct.pack("<I", h - 1)[:3]
        )
    chunk = tag + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_image_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a real PNG / JPEG / GIF header container per
    document (format = doc_id % 3), dimensions by closed form."""
    src = docs.select("doc_id")

    def fn(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            w, h = image_dims(ids)
            payloads = []
            for i, d in enumerate(ids):
                wi, hi = int(w[i]), int(h[i])
                m = int(d) % 3
                if m == 0:
                    payloads.append(_png_bytes(wi, hi))
                elif m == 1:
                    payloads.append(_jpeg_bytes(wi, hi, 5 + int(d) % 23))
                else:
                    payloads.append(_gif_bytes(wi, hi))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return src.mapInPandas(fn, schema="doc_id long, payload binary")


def parse_image_header(buf: bytes):
    """Sniff + parse one image container header: ('png'|'jpeg'|'gif',
    width, height) or ('unknown', None, None). Pure byte arithmetic;
    the JPEG branch walks the marker stream (skipping variable-length
    segments) to SOF0-SOF3, exactly as a real reader must."""
    if buf is None:
        return "unknown", None, None
    b = bytes(buf)
    if b.startswith(b"\x89PNG\r\n\x1a\n") and len(b) >= 24:
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        return "png", w, h
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if b[:4] == b"RIFF" and len(b) >= 16 and b[8:12] == b"WEBP":
        tag = b[12:16]  # first chunk header at 12, payload at 20
        if tag == b"VP8 " and len(b) >= 30 and b[23:26] == b"\x9d\x01\x2a":
            return (
                "webp",
                int.from_bytes(b[26:28], "little") & 0x3FFF,
                int.from_bytes(b[28:30], "little") & 0x3FFF,
            )
        if tag == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
            v = int.from_bytes(b[21:25], "little")
            return "webp", (v & 0x3FFF) + 1, ((v >> 14) & 0x3FFF) + 1
        if tag == b"VP8X" and len(b) >= 30:
            return (
                "webp",
                int.from_bytes(b[24:27], "little") + 1,
                int.from_bytes(b[27:30], "little") + 1,
            )
        return "unknown", None, None
    if b[:2] == b"\xff\xd8":
        off = 2
        while off + 4 <= len(b):
            if b[off] != 0xFF:
                break
            marker = b[off + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                off += 2
                continue
            seg_len = int.from_bytes(b[off + 2 : off + 4], "big")
            if seg_len < 2:
                break
            if 0xC0 <= marker <= 0xC3 and off + 9 <= len(b):
                h = int.from_bytes(b[off + 5 : off + 7], "big")
                w = int.from_bytes(b[off + 7 : off + 9], "big")
                return "jpeg", w, h
            off += 2 + seg_len
    return "unknown", None, None


def image_meta(pages: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, fmt, width, height) parsed byte-wise from the binary
    column. mapInPandas streaming batches — headers are O(100) bytes,
    so the stage is scan-bound; metadata-only consumers never touch
    the payload column again (separate narrow table)."""
    src = pages.select("doc_id", payload_col)

    def fn(batches):
        for pdf in batches:
            fmts, ws, hs = [], [], []
            for buf in pdf[payload_col]:
                f, w, h = parse_image_header(buf)
                fmts.append(f)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": fmts,
                    "width": pd.array(ws, dtype="Int64"),
                    "height": pd.array(hs, dtype="Int64"),
                }
            )

    return src.mapInPandas(
        fn, schema="doc_id long, fmt string, width long, height long"
    )


# ---------------------------------------------------------------------------
# REAL audio headers (RIFF/WAVE). Same contract as the image branch:
# the builder emits standards-valid RIFF containers — with a
# variable-length LIST(INFO) chunk BEFORE 'fmt ' so the reader must
# walk chunks — and the parser recovers (channels, sample_rate,
# bits, n_samples) byte-wise; only PCM sample decode is out of scope.


def audio_params(doc_id: np.ndarray):
    """Closed-form per-doc audio parameters (mirrored by the SQL
    oracle). duration_ms = n_samples * 1000 div sample_rate stays in
    exact int64."""
    d = np.asarray(doc_id, dtype=np.int64)
    channels = 1 + d % 2
    sample_rate = 8000 * (1 + d % 5)
    bits = 8 * (1 + d % 3)  # 8 / 16 / 24
    n_samples = 100 + (d * 17) % 4000
    return channels, sample_rate, bits, n_samples


def _wav_bytes(
    channels: int, rate: int, bits: int, n_samples: int, pad: int
) -> bytes:
    import struct

    block = channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    info = b"INFO" + b"x" * pad
    if len(info) % 2:  # RIFF chunks are word-aligned
        info += b"\x00"
    data_len = n_samples * block
    chunks = [
        b"LIST" + struct.pack("<I", len(info)) + info,
        b"fmt " + struct.pack("<I", len(fmt)) + fmt,
        b"data" + struct.pack("<I", data_len),  # sizes only; no PCM
    ]
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_audio_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a real RIFF/WAVE header container per doc
    (headers + declared data size; PCM body elided — at 100 TB the
    metadata pass must not read sample bytes anyway)."""
    src = docs.select("doc_id")

    def fn(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            ch, sr, bi, ns = audio_params(ids)
            payloads = [
                _wav_bytes(
                    int(ch[i]), int(sr[i]), int(bi[i]), int(ns[i]),
                    pad=4 + int(d) % 19,
                )
                for i, d in enumerate(ids)
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return src.mapInPandas(fn, schema="doc_id long, payload binary")


def parse_wav_header(buf: bytes):
    """Walk RIFF chunks to 'fmt ' and 'data': (channels, sample_rate,
    bits, n_samples) or None on malformed input. Word-aligned chunk
    advance, bounds-checked — the shape of a real WAV reader."""
    if buf is None:
        return None
    b = bytes(buf)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    off = 12
    fmt = data_len = None
    while off + 8 <= len(b):
        tag = b[off : off + 4]
        size = int.from_bytes(b[off + 4 : off + 8], "little")
        if tag == b"fmt " and off + 8 + 16 <= len(b):
            fmt = b[off + 8 : off + 8 + 16]
        elif tag == b"data":
            data_len = size
        off += 8 + size + (size % 2)
    if fmt is None or data_len is None:
        return None
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    block = channels * (bits // 8)
    if block == 0 or data_len % block:
        return None
    return channels, rate, bits, data_len // block


def audio_meta(pages: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, channels, sample_rate, bits, n_samples, duration_ms)
    parsed byte-wise; duration is exact int64 (n_samples * 1000 div
    sample_rate)."""
    src = pages.select("doc_id", payload_col)

    def fn(batches):
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "channels", "sample_rate", "bits", "n_samples",
                    "duration_ms",
                )
            }
            for buf in pdf[payload_col]:
                p = parse_wav_header(buf)
                if p is None:
                    for k in rows:
                        rows[k].append(None)
                else:
                    ch, sr, bi, ns = p
                    rows["channels"].append(ch)
                    rows["sample_rate"].append(sr)
                    rows["bits"].append(bi)
                    rows["n_samples"].append(ns)
                    rows["duration_ms"].append(ns * 1000 // sr)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **{
                        k: pd.array(v, dtype="Int64")
                        for k, v in rows.items()
                    },
                }
            )

    return src.mapInPandas(
        fn,
        schema=(
            "doc_id long, channels long, sample_rate long, bits long, "
            "n_samples long, duration_ms long"
        ),
    )


# ---------------------------------------------------------------------------
# REAL video headers (ISO-BMFF / MP4). ftyp + a variable-length free
# box (shifts moov per document — the reader must walk boxes) + moov
# containing mvhd v0 with real timescale/duration fields. The parser
# walks top-level boxes, descends into moov, and reads mvhd — the
# shape of every MP4 metadata reader; only track/codec parsing is
# out of scope.


def video_params(doc_id: np.ndarray):
    """Closed-form per-doc video parameters (mirrored by the SQL
    oracle)."""
    d = np.asarray(doc_id, dtype=np.int64)
    timescale = 1000 * (1 + d % 4)
    duration = 1000 + (d * 29) % 100000
    return timescale, duration


def _mp4_bytes(timescale: int, duration: int, pad: int) -> bytes:
    import struct

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isom")
    free = box(b"free", b"f" * pad)
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 80,  # rate/volume/matrix/next_track (fixed v0 tail)
    )
    moov = box(b"moov", mvhd)
    return ftyp + free + moov


def parse_mp4_header(buf: bytes):
    """Walk top-level ISO-BMFF boxes to moov, then its children to
    mvhd v0: (timescale, duration) or None. Bounds-checked; size < 8
    aborts (malformed box)."""
    if buf is None:
        return None
    b = bytes(buf)

    def walk(lo: int, hi: int, tag: bytes):
        off = lo
        while off + 8 <= hi:
            size = int.from_bytes(b[off : off + 4], "big")
            if size < 8 or off + size > hi:
                return None
            if b[off + 4 : off + 8] == tag:
                return off, size
            off += size
        return None

    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    moov = walk(0, len(b), b"moov")
    if moov is None:
        return None
    mo, msize = moov
    mvhd = walk(mo + 8, mo + msize, b"mvhd")
    if mvhd is None:
        return None
    ho, hsize = mvhd
    if b[ho + 8] != 0 or hsize < 8 + 20:  # v0 only
        return None
    timescale = int.from_bytes(b[ho + 20 : ho + 24], "big")
    duration = int.from_bytes(b[ho + 24 : ho + 28], "big")
    if timescale == 0:
        return None
    return timescale, duration


def build_video_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a real MP4 header container per doc."""
    src = docs.select("doc_id")

    def fn(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            ts, du = video_params(ids)
            payloads = [
                _mp4_bytes(int(ts[i]), int(du[i]), pad=4 + int(d) % 17)
                for i, d in enumerate(ids)
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return src.mapInPandas(fn, schema="doc_id long, payload binary")


def video_meta(pages: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, timescale, duration, duration_ms) via the box walk;
    duration_ms = duration * 1000 div timescale, exact int64."""
    src = pages.select("doc_id", payload_col)

    def fn(batches):
        for pdf in batches:
            ts, du, ms = [], [], []
            for buf in pdf[payload_col]:
                p = parse_mp4_header(buf)
                if p is None:
                    ts.append(None), du.append(None), ms.append(None)
                else:
                    t, d = p
                    ts.append(t)
                    du.append(d)
                    ms.append(d * 1000 // t)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "timescale": pd.array(ts, dtype="Int64"),
                    "duration": pd.array(du, dtype="Int64"),
                    "duration_ms": pd.array(ms, dtype="Int64"),
                }
            )

    return src.mapInPandas(
        fn,
        schema=(
            "doc_id long, timescale long, duration long, duration_ms long"
        ),
    )


# ---------------------------------------------------------------------------
# Unified media router: ONE binary column holding mixed formats —
# the real shape of a multimodal corpus table — sniffed by magic
# bytes and dispatched to the matching header parser in a single
# streaming pass.


def build_mixed_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): format cycles through png/jpeg/gif/wav/mp4/
    webp by doc_id % 6; each container is the real serialized header.
    The webp slot rotates through all three chunk layouts (VP8 /
    VP8L / VP8X by (doc_id // 6) % 3) while its dims stay the shared
    closed form — the oracle is flavor-independent, so the parser must
    decode three distinct bitstream layouts to the same answer."""
    src = docs.select("doc_id")

    def fn(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            w, h = image_dims(ids)
            ch, sr, bi, ns = audio_params(ids)
            ts, du = video_params(ids)
            payloads = []
            for i, d in enumerate(ids):
                m = int(d) % 6
                if m == 0:
                    payloads.append(_png_bytes(int(w[i]), int(h[i])))
                elif m == 1:
                    payloads.append(
                        _jpeg_bytes(int(w[i]), int(h[i]), 5 + int(d) % 23)
                    )
                elif m == 2:
                    payloads.append(_gif_bytes(int(w[i]), int(h[i])))
                elif m == 3:
                    payloads.append(
                        _wav_bytes(
                            int(ch[i]), int(sr[i]), int(bi[i]),
                            int(ns[i]), pad=4 + int(d) % 19,
                        )
                    )
                elif m == 4:
                    payloads.append(
                        _mp4_bytes(int(ts[i]), int(du[i]), pad=4 + int(d) % 17)
                    )
                else:
                    payloads.append(
                        _webp_bytes(
                            int(w[i]), int(h[i]), (int(d) // 6) % 3
                        )
                    )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return src.mapInPandas(fn, schema="doc_id long, payload binary")


def media_meta(pages: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, fmt, dim1, dim2): sniff each payload's format and
    parse its header — dim1/dim2 are the format's primary fields
    (width/height for images, sample_rate/n_samples for wav,
    timescale/duration for mp4; unknown -> nulls). One mapInPandas
    pass over the binary column; no shuffle."""
    src = pages.select("doc_id", payload_col)

    def fn(batches):
        for pdf in batches:
            fmts, d1, d2 = [], [], []
            for buf in pdf[payload_col]:
                b = bytes(buf) if buf is not None else b""
                if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    p = parse_wav_header(b)
                    if p is None:
                        fmts.append("unknown"), d1.append(None), d2.append(None)
                    else:
                        fmts.append("wav"), d1.append(p[1]), d2.append(p[3])
                elif len(b) >= 12 and b[4:8] == b"ftyp":
                    p = parse_mp4_header(b)
                    if p is None:
                        fmts.append("unknown"), d1.append(None), d2.append(None)
                    else:
                        fmts.append("mp4"), d1.append(p[0]), d2.append(p[1])
                else:
                    f, w, h = parse_image_header(b)
                    fmts.append(f), d1.append(w), d2.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": fmts,
                    "dim1": pd.array(d1, dtype="Int64"),
                    "dim2": pd.array(d2, dtype="Int64"),
                }
            )

    return src.mapInPandas(
        fn, schema="doc_id long, fmt string, dim1 long, dim2 long"
    )
