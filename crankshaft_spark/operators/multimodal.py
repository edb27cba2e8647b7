"""Multimodal (image/audio/video) column plumbing for training pipelines.

Engine-native addition (brief: multimodal columns).  Media payloads are
opaque ``binary`` columns + a typed metadata struct; decode / resize /
frame-sample / feature-extract run as Arrow-batched ``mapInPandas`` stages.

Two decode paths:

* ``decoder="fake"`` (default): a deterministic 16-byte CSMM header parser
  over RNG payloads — the lightweight plumbing-test path.
* ``decoder="real"``: pure-stdlib codecs for REAL container formats —
  PNG (signature/IHDR/IDAT chunk walk, CRC32 check, zlib inflate, full
  five-filter scanline reconstruction incl. Paeth), WAV (RIFF chunk
  walk, PCM16), and uncompressed 8-bit BMP (full pixel decode), plus
  header-only JPEG (SOF marker walk) and GIF (logical screen descriptor)
  dimension parsing — entropy/LZW payloads have no stdlib inflater, so
  those two report real dims with a NULL ``payload_sum`` instead of a
  fake checksum.  No PIL/ffmpeg in this environment, so video has no
  stdlib container; video rows fall back to the CSMM header.  The decoded
  pixel/sample values feed a ``payload_sum`` checksum column so the
  DuckDB oracle verifies the actual byte-level decode, not just schema
  plumbing.

CSMM header layout (big-endian u32 each): magic 'CSMM', kind (0=img,
1=audio, 2=video), dim0 (width / sample-rate / n-frames), dim1 (height /
n-samples / fps*1000); payload bytes follow.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crankshaft_spark.operators._fixpoint import _Scope

MAGIC = b"CSMM"
PNG_SIG = b"\x89PNG\r\n\x1a\n"
KINDS = {0: "image", 1: "audio", 2: "video"}

META_SCHEMA = (
    "media_id long, kind string, dim0 int, dim1 int, n_payload int, ok boolean"
)
META_SCHEMA_REAL = META_SCHEMA.replace(
    "ok boolean", "payload_sum long, ok boolean"
)


# --------------------------------------------------- stdlib PNG codec -------
# Grayscale 8-bit only (color type 0) — enough for single-channel training
# features; the chunk walk / CRC / inflate / unfilter machinery is the full
# PNG spec for that profile.

def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_encode(pixels: np.ndarray) -> bytes:
    """Grayscale 8-bit PNG bytes from an (h, w) uint8 array.  Scanline
    filter type cycles r % 5 so every decoder filter path is exercised."""
    h, w = pixels.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for r in range(h):
        row = pixels[r].astype(np.int64)
        ft = r % 5
        raw.append(ft)
        if ft == 0:
            out = row
        elif ft == 1:    # Sub
            out = (row - np.concatenate(([0], row[:-1]))) % 256
        elif ft == 2:    # Up
            out = (row - prev) % 256
        elif ft == 3:    # Average
            left = np.concatenate(([0], row[:-1]))
            out = (row - (left + prev) // 2) % 256
        else:            # Paeth
            left = np.concatenate(([0], row[:-1]))
            upleft = np.concatenate(([0], prev[:-1]))
            out = np.array(
                [(row[i] - _paeth(int(left[i]), int(prev[i]),
                                  int(upleft[i]))) % 256 for i in range(w)]
            )
        raw.extend(out.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(blob: bytes):
    """(w, h, pixels) from grayscale 8-bit PNG bytes, or None if the blob
    is not a valid PNG of that profile (bad signature / CRC / length)."""
    if blob is None or len(blob) < 8 or blob[:8] != PNG_SIG:
        return None
    pos, w = 8, None
    idat = bytearray()
    try:
        while pos + 12 <= len(blob):
            (ln,) = struct.unpack(">I", blob[pos:pos + 4])
            tag = blob[pos + 4:pos + 8]
            body = blob[pos + 8:pos + 8 + ln]
            if len(body) != ln:
                return None
            (crc,) = struct.unpack(">I", blob[pos + 8 + ln:pos + 12 + ln])
            if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
                return None
            if tag == b"IHDR":
                w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
                if depth != 8 or ctype != 0:
                    return None
            elif tag == b"IDAT":
                idat.extend(body)
            elif tag == b"IEND":
                break
            pos += 12 + ln
        if w is None:
            return None
        raw = zlib.decompress(bytes(idat))
    except Exception:
        return None
    if len(raw) != h * (w + 1):
        return None
    px = np.zeros((h, w), dtype=np.int64)
    for r in range(h):
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=w, offset=r * (w + 1) + 1).astype(np.int64)
        ft = raw[r * (w + 1)]
        prev = px[r - 1] if r > 0 else np.zeros(w, dtype=np.int64)
        if ft == 0:
            px[r] = line
        elif ft == 1:
            acc = 0
            for i in range(w):
                acc = (line[i] + acc) % 256
                px[r, i] = acc
        elif ft == 2:
            px[r] = (line + prev) % 256
        elif ft == 3:
            for i in range(w):
                left = px[r, i - 1] if i > 0 else 0
                px[r, i] = (line[i] + (left + prev[i]) // 2) % 256
        elif ft == 4:
            for i in range(w):
                left = px[r, i - 1] if i > 0 else 0
                ul = prev[i - 1] if i > 0 else 0
                px[r, i] = (line[i] + _paeth(int(left), int(prev[i]),
                                             int(ul))) % 256
        else:
            return None
    return w, h, px.astype(np.uint8)


# ------------------------------------------- stdlib BMP / JPEG / GIF --------
# BMP gets a full pixel decode (uncompressed 8-bit indexed with a grayscale
# palette — the single-channel training-feature profile, same as the PNG
# path).  JPEG and GIF are header-only: their pixel payloads are entropy /
# LZW coded, which no stdlib module inflates, so the decoder yields real
# dimensions with a NULL payload_sum rather than pretending to decode.

def bmp_encode(pixels: np.ndarray) -> bytes:
    """8-bit indexed BMP (BITMAPINFOHEADER, identity grayscale palette,
    BI_RGB) from an (h, w) uint8 array — bottom-up rows, 4-byte stride."""
    h, w = pixels.shape
    stride = (w + 3) & ~3
    palette = b"".join(struct.pack("<BBBB", g, g, g, 0) for g in range(256))
    data = bytearray()
    for r in range(h - 1, -1, -1):            # BMP stores rows bottom-up
        data.extend(pixels[r].astype(np.uint8).tobytes())
        data.extend(b"\x00" * (stride - w))
    off = 14 + 40 + len(palette)
    header = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(data),
                       2835, 2835, 256, 0)
    return header + info + palette + bytes(data)


def bmp_decode(blob: bytes):
    """(w, h, pixels) from an uncompressed 8-bit BITMAPINFOHEADER BMP with
    a grayscale palette, else None (palette-mapped values ARE the decoded
    payload, so non-gray palettes are out of this profile)."""
    if blob is None or len(blob) < 54 or blob[:2] != b"BM":
        return None
    try:
        (off,) = struct.unpack("<I", blob[10:14])
        size, w, h, planes, bpp, comp = struct.unpack("<IiiHHI", blob[14:34])
        if size != 40 or planes != 1 or bpp != 8 or comp != 0 \
                or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h = abs(h)
        pal = np.frombuffer(blob, dtype=np.uint8, count=1024, offset=54)
        pal = pal.reshape(256, 4)
        if not (pal[:, 0] == pal[:, 1]).all() \
                or not (pal[:, 1] == pal[:, 2]).all():
            return None
        stride = (w + 3) & ~3
        # pixel data must start past header+info+palette (14+40+1024) or
        # the "pixels" would alias header/palette bytes with ok=true
        if off < 1078 or off + stride * h > len(blob):
            return None
        rows = np.frombuffer(
            blob, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)[:, :w]
        idx = rows if top_down else rows[::-1]
        return w, h, pal[idx.reshape(-1), 0].reshape(h, w)
    except (struct.error, ValueError):
        return None


def jpeg_dims(blob: bytes):
    """(w, h) from the first SOF0/1/2 marker of a JPEG stream, else None."""
    if blob is None or len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    pos = 2
    try:
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                return None
            while blob[pos + 1] == 0xFF and pos + 4 <= len(blob):
                pos += 1                       # FF fill bytes before marker
            marker = blob[pos + 1]
            if marker in (0xC0, 0xC1, 0xC2):       # SOF0/1/2
                h, w = struct.unpack(">HH", blob[pos + 5:pos + 9])
                return (w, h) if w > 0 and h > 0 else None
            if marker == 0xD9 or marker == 0xDA:   # EOI / SOS: no SOF seen
                return None
            (ln,) = struct.unpack(">H", blob[pos + 2:pos + 4])
            pos += 2 + ln
    except struct.error:
        return None
    return None


def gif_dims(blob: bytes):
    """(w, h) from the GIF87a/89a logical screen descriptor, else None."""
    if blob is None or len(blob) < 10 or blob[:6] not in (b"GIF87a",
                                                          b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", blob[6:10])
    return (w, h) if w > 0 and h > 0 else None


# --------------------------------------------------- stdlib WAV codec -------

def wav_encode(rate: int, samples: np.ndarray) -> bytes:
    """Mono PCM16 WAV bytes from an int16 sample array (RIFF little-endian)."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(blob: bytes):
    """(rate, samples int16 array) from mono PCM16 WAV bytes, else None.

    Any malformed chunk (short fmt body, odd data length, truncated RIFF)
    returns None — never raises: the mapInPandas error channel turns None
    into ok=false per row instead of failing the task.
    """
    if blob is None or len(blob) < 12 or blob[:4] != b"RIFF" \
            or blob[8:12] != b"WAVE":
        return None
    try:
        pos, rate, data = 12, None, None
        while pos + 8 <= len(blob):
            tag = blob[pos:pos + 4]
            (ln,) = struct.unpack("<I", blob[pos + 4:pos + 8])
            body = blob[pos + 8:pos + 8 + ln]
            if len(body) != ln:
                return None
            if tag == b"fmt ":
                audio_fmt, n_ch, rate, _, _, bits = struct.unpack(
                    "<HHIIHH", body[:16])
                if audio_fmt != 1 or n_ch != 1 or bits != 16:
                    return None
            elif tag == b"data":
                data = body
            pos += 8 + ln + (ln & 1)
        if rate is None or data is None:
            return None
        return rate, np.frombuffer(data, dtype="<i2")
    except (struct.error, ValueError):
        return None


def synth_media(spark, *, n: int = 100, seed: int = 42,
                fmt: str = "csmm") -> DataFrame:
    """Deterministic media table → (media_id, media binary).

    ``fmt="csmm"``: 16-byte CSMM header + RNG payload (plumbing tests).
    ``fmt="real"``: REAL container bytes — PNG for images, PCM16 WAV for
    audio, CSMM for video (no stdlib video container exists).  Real-format
    payload values are closed-form in media_id (pixel_i = (id*31+i*7)%256,
    sample_i = (id*13+i*11)%65536-32768), so a DuckDB oracle can recompute
    the decoded checksum without running a decoder.

    Payloads derive from (seed, media_id) / media_id closed-form, so the
    table is identical at any parallelism — the multimodal analogue of the
    deterministic web-page synthesiser.
    """
    def gen(pdfs):
        for pdf in pdfs:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                kind = mid % 3
                d0 = 8 + mid % 24          # width / rate / frames
                d1 = 8 + (mid * 7) % 24    # height / samples / fps
                if fmt == "real" and kind == 0:
                    i = np.arange(d0 * d1, dtype=np.int64)
                    px = ((mid * 31 + i * 7) % 256).astype(np.uint8)
                    blob = png_encode(px.reshape(d1, d0))
                elif fmt == "real" and kind == 1:
                    i = np.arange(d1 * 4, dtype=np.int64)
                    s = ((mid * 13 + i * 11) % 65536 - 32768).astype(np.int16)
                    blob = wav_encode(d0 * 1000, s)
                elif fmt == "real":  # video: CSMM fallback, closed-form bytes
                    i = np.arange(d0 * 4, dtype=np.int64)
                    payload = ((mid * 31 + i * 7) % 256).astype(np.uint8)
                    blob = (MAGIC + struct.pack(">III", kind, d0, d1)
                            + payload.tobytes())
                else:
                    rng = np.random.RandomState(
                        (seed * 1000003 + mid) % (2**32))
                    n_payload = d0 * d1 if kind == 0 else d0 * 4
                    payload = rng.randint(0, 256, n_payload, dtype=np.int64)
                    blob = (MAGIC + struct.pack(">III", kind, d0, d1)
                            + bytes(payload.astype(np.uint8)))
                rows.append((mid, blob))
            yield pd.DataFrame(rows, columns=["media_id", "media"])

    return spark.range(n).repartition(8).mapInPandas(
        gen, schema="media_id long, media binary"
    )


def _parse_header(blob: bytes):
    if blob is None or len(blob) < 16 or blob[:4] != MAGIC:
        return None
    kind, d0, d1 = struct.unpack(">III", blob[4:16])
    return kind, d0, d1, len(blob) - 16


def decode_metadata(media: DataFrame, *, decoder: str = "fake") -> DataFrame:
    """(media_id, kind, dim0, dim1, n_payload[, payload_sum], ok) — typed
    metadata per blob; malformed blobs yield ok=false rather than failing
    the task (per-row error channel, the scale-safe behavior).

    ``decoder="real"`` sniffs the container signature and runs the stdlib
    codecs (PNG / WAV / BMP full decode; JPEG / GIF header-only dims with
    NULL payload_sum; CSMM fallback for video).  It adds a ``payload_sum``
    column — the sum of the DECODED pixel/sample values — so correctness of
    the inflate+unfilter / PCM parse is observable, and returns ok=false
    for any blob that fails signature, CRC, or structural checks.
    """
    if decoder == "real":
        def run_real(pdfs):
            for pdf in pdfs:
                rows = []
                for mid, blob in zip(pdf["media_id"], pdf["media"]):
                    mid = int(mid)
                    png = png_decode(blob)
                    if png is not None:
                        w, h, px = png
                        rows.append((mid, "image", w, h, w * h,
                                     int(px.astype(np.int64).sum()), True))
                        continue
                    wav = wav_decode(blob)
                    if wav is not None:
                        rate, s = wav
                        rows.append((mid, "audio", rate // 1000, len(s),
                                     2 * len(s),
                                     int(s.astype(np.int64).sum()), True))
                        continue
                    bmp = bmp_decode(blob)
                    if bmp is not None:
                        w, h, px = bmp
                        rows.append((mid, "image", w, h, w * h,
                                     int(px.astype(np.int64).sum()), True))
                        continue
                    # header-only containers: real dims, no stdlib pixel
                    # decode — payload_sum stays NULL (honest seam, never
                    # a fake checksum)
                    dims = jpeg_dims(blob) or gif_dims(blob)
                    if dims is not None:
                        w, h = dims
                        rows.append((mid, "image", w, h, w * h, None, True))
                        continue
                    hdr = _parse_header(blob)
                    if hdr is not None and hdr[0] == 2:
                        kind, d0, d1, np_ = hdr
                        psum = int(np.frombuffer(
                            blob, dtype=np.uint8, offset=16
                        ).astype(np.int64).sum())
                        rows.append((mid, "video", d0, d1, np_, psum, True))
                        continue
                    rows.append((mid, None, None, None, None, None, False))
                yield pd.DataFrame(
                    rows, columns=["media_id", "kind", "dim0", "dim1",
                                   "n_payload", "payload_sum", "ok"],
                )

        return media.select("media_id", "media").mapInPandas(
            run_real, schema=META_SCHEMA_REAL)

    def run(pdfs):
        for pdf in pdfs:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                h = _parse_header(blob)
                if h is None:
                    rows.append((int(mid), None, None, None, None, False))
                else:
                    kind, d0, d1, np_ = h
                    rows.append(
                        (int(mid), KINDS.get(kind, "unknown"), d0, d1, np_, True)
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "dim0", "dim1", "n_payload", "ok"],
            )

    return media.select("media_id", "media").mapInPandas(run, schema=META_SCHEMA)


def image_resize_features(
    media: DataFrame, *, out_w: int = 4, out_h: int = 4,
    decoder: str = "fake",
) -> DataFrame:
    """(media_id, feat array<double>) — decode image payload, nearest-
    neighbor resize to out_w×out_h, emit the normalized pixel vector.
    ``decoder="real"`` runs the stdlib PNG/BMP decoders; the default parses
    the CSMM fake header.  Non-image / undecodable rows are skipped."""
    schema = "media_id long, feat array<double>"

    def decode(blob):
        if decoder == "real":
            img = png_decode(blob) or bmp_decode(blob)
            return None if img is None else img[2]
        h = _parse_header(blob)
        if h is None or h[0] != 0:
            return None
        _, w, hgt, _ = h
        px = np.frombuffer(blob[16:16 + w * hgt], dtype=np.uint8)
        return None if len(px) < w * hgt else px.reshape(hgt, w)

    def run(pdfs):
        for pdf in pdfs:
            ids, feats = [], []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                img = decode(blob)
                if img is None:
                    continue
                hgt, w = img.shape
                yi = (np.arange(out_h) * hgt // out_h)
                xi = (np.arange(out_w) * w // out_w)
                small = img[np.ix_(yi, xi)].astype(float) / 255.0
                ids.append(int(mid))
                feats.append(small.ravel().tolist())
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "feat": pd.Series(feats, dtype="object"),
            })

    return media.select("media_id", "media").mapInPandas(run, schema=schema)


def image_ahash(media: DataFrame, *, decoder: str = "fake") -> DataFrame:
    """(media_id, width, height, ahash) — 64-bit average-hash perceptual
    fingerprint of each decodable image (public practice: aHash from the
    pHash family; the image analogue of SimHash for near-dup detection).

    The 8×8 reduction is adaptive integer pooling — pixel (y, x) belongs
    to block (y*8 div h, x*8 div w) — and bit (r, c) is set iff the block
    mean exceeds the global mean, compared WITHOUT floats via cross
    multiplication (block_sum * total_count > total_sum * block_count),
    so the hash is bit-identical across engines and replayable closed-form
    by the DuckDB oracle through the REAL PNG encode→decode round trip.
    ``ahash`` is 16 lowercase hex chars (64 bits as 8 row-major bytes;
    a hex string sidesteps BIGINT sign overflow at bit 63).  Non-image /
    undecodable rows are skipped (same policy as image_resize_features).
    Images smaller than 8×8 are skipped too — empty pooling blocks would
    make the hash undefined.  Parallelism contract (same as
    decode_metadata): blobs are NOT repartitioned here — shuffling raw
    media costs more than the decode; the media source must arrive
    pre-split (synth_media pins 8)."""
    schema = "media_id long, width int, height int, ahash string"

    def decode(blob):
        if decoder == "real":
            img = png_decode(blob) or bmp_decode(blob)
            return None if img is None else img[2]
        h = _parse_header(blob)
        if h is None or h[0] != 0:
            return None
        _, w, hgt, _ = h
        px = np.frombuffer(blob[16:16 + w * hgt], dtype=np.uint8)
        return None if len(px) < w * hgt else px.reshape(hgt, w)

    def run(pdfs):
        for pdf in pdfs:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                img = decode(blob)
                if img is None:
                    continue
                hgt, w = img.shape
                if hgt < 8 or w < 8:
                    continue
                px = img.astype(np.int64)
                ybl = np.arange(hgt) * 8 // hgt
                xbl = np.arange(w) * 8 // w
                blk = (ybl[:, None] * 8 + xbl[None, :]).ravel()
                bsum = np.bincount(blk, weights=px.ravel(),
                                   minlength=64).astype(np.int64)
                bcnt = np.bincount(blk, minlength=64).astype(np.int64)
                tsum, tcnt = int(px.sum()), hgt * w
                # unbounded Python ints: bsum*tcnt wraps int64 past
                # ~1.5 gigapixels (same overflow class as the audio fp)
                bits = [int(bsum[b]) * tcnt > tsum * int(bcnt[b])
                        for b in range(64)]
                hx = "".join(
                    f"{sum(int(bits[r * 8 + c]) << c for c in range(8)):02x}"
                    for r in range(8))
                rows.append((int(mid), w, hgt, hx))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "ahash"])

    return media.select("media_id", "media").mapInPandas(run, schema=schema)


def ahash_pairs(hashes: DataFrame, *, max_hamming: int = 4,
                col: str = "ahash",
                max_bucket: int | None = None) -> DataFrame:
    """(a, b, hamming) — media near-dup candidate pairs with Hamming
    distance <= max_hamming between 64-bit fingerprints (``col``: 16 hex
    chars — image_ahash's ``ahash`` by default, audio_fingerprint's
    ``fp`` via col="fp"), via the same banded filter-and-refine shape as
    SimHash: the 8 hex-byte bands posexplode and equi-join (pigeonhole:
    distance <= 7 guarantees at least one of 8 bytes identical — hence
    the max_hamming <= 7 bound), candidates dedupe, and the exact
    distance refines JVM-side as the sum of per-byte bit_count(xor).

    Scale caveat: band keys are single hex BYTES (256 distinct values per
    band), so the bucket join's candidate fan-out grows ~n²/256 at corpus
    scale and skews hard on common bytes (flat images band to 0x00/0xff)
    — the popcount prune filters candidates but does not bound the join
    itself.  ``max_bucket`` is the documented bailout: buckets holding
    more than that many signatures are DROPPED from candidate generation
    (per (band, key) frequency cap — standard hot-bucket LSH practice;
    pairs agreeing only on dropped bands are missed, trading bounded
    recall loss for a hard n·max_bucket join bound).  Default None keeps
    exact max_hamming<=7 recall for the fingerprint-table scales the
    media entries run at; set it (e.g. 10_000) for crawl-scale corpora."""
    if not 0 <= max_hamming <= 7:
        raise ValueError("max_hamming must be in 0..7 (8-band pigeonhole)")
    bands = F.array(*[
        F.substring(col, 1 + 2 * r, 2).alias(f"b{r}") for r in range(8)
    ])
    # per-signature popcount: |popcount(ha) - popcount(hb)| <= hamming
    # is a necessary condition, so pruning on it kills most collisions
    # JVM-side BEFORE the candidate-dedup shuffle (same r1 perf fix as
    # simhash_pairs, operators/dedup.py)
    pop = sum(
        F.bit_count(F.conv(F.substring(col, 1 + 2 * r, 2), 16, 10)
                    .cast("int")) for r in range(8))
    sig = hashes.select(F.col("media_id"), F.col(col).alias("ahash"),
                        pop.cast("int").alias("pc"),
                        F.posexplode(bands).alias("band", "key"))
    if max_bucket is not None:
        # hot-bucket cap: one map-side-combinable count per (band, key),
        # broadcast-joined back (bounded: <= 8*256 rows by construction).
        # The count scans a NARROW re-derivation of the band keys from the
        # raw hashes table — counting from `sig` would re-run the popcount
        # projection too when the unpersisted lineage executes twice
        hot = (hashes.select(F.posexplode(bands).alias("band", "key"))
               .groupBy("band", "key")
               .agg(F.count("*").alias("_bn"))
               .where(F.col("_bn") > int(max_bucket))
               .select("band", "key"))
        sig = sig.join(F.broadcast(hot), ["band", "key"], "left_anti")
    left = sig.select(F.col("media_id").alias("a"),
                      F.col("ahash").alias("ha"),
                      F.col("pc").alias("pa"), "band", "key")
    right = sig.select(F.col("media_id").alias("b"),
                       F.col("ahash").alias("hb"),
                       F.col("pc").alias("pb"), "band", "key")
    cand = (left.join(right, ["band", "key"])
                .where((F.col("a") < F.col("b"))
                       & (F.abs(F.col("pa") - F.col("pb")) <= max_hamming))
                .select("a", "b", "ha", "hb").distinct())
    ham = sum(
        F.bit_count(
            F.conv(F.substring("ha", 1 + 2 * r, 2), 16, 10).cast("int")
            .bitwiseXOR(
                F.conv(F.substring("hb", 1 + 2 * r, 2), 16, 10).cast("int"))
        ) for r in range(8))
    return (cand.withColumn("hamming", ham.cast("int"))
                .where(F.col("hamming") <= max_hamming)
                .select("a", "b", "hamming"))


def audio_fingerprint(media: DataFrame, *, decoder: str = "fake") -> DataFrame:
    """(media_id, rate, n_samples, fp) — 64-bit energy-sign fingerprint of
    each decodable audio track: the audio analogue of image_ahash (public
    practice: coarse energy-profile hashing a la Shazam-style banding, here
    time-domain only since the sandbox has no FFT dependency worth pinning).

    Samples pool into 64 adaptive windows (sample i belongs to window
    i*64 div n — contiguous, so window sums accumulate exactly in int64
    via reduceat) and bit w is set iff the window's ENERGY mean (sum of
    s_i^2) exceeds the track's global energy mean, compared in unbounded
    Python ints by cross multiplication (wsum*n vs tsum*wcnt reaches
    ~2^64 already at a one-minute 44.1 kHz track — int64 would wrap and
    silently invert bits) — bit-identical across engines and replayable
    closed-form by the DuckDB oracle (whose sums are HUGEINT) through the
    REAL WAV encode→decode round trip.  ``fp`` is 16 lowercase hex chars
    packed row-major exactly like image_ahash, so
    ``ahash_pairs(..., col="fp")`` gives banded audio near-dup pairs.
    Non-audio / undecodable rows are skipped; tracks shorter than 64
    samples are skipped too (empty windows would make the hash
    undefined).  Parallelism contract (same as decode_metadata): blobs
    are NOT repartitioned here — shuffling raw media costs more than the
    decode; the media source must arrive pre-split (synth_media pins 8)."""
    schema = "media_id long, rate int, n_samples int, fp string"

    def decode(blob):
        if decoder == "real":
            return wav_decode(blob)
        h = _parse_header(blob)
        if h is None or h[0] != 1:
            return None
        # CSMM convention: dim0 IS the declared sample-rate (see module
        # header + decode_metadata); payload is d0*4 uint8 samples
        _, d0, d1, _ = h
        body = np.frombuffer(blob[16:16 + d0 * 4], dtype=np.uint8)
        return None if len(body) < d0 * 4 else (d0, body)

    def run(pdfs):
        for pdf in pdfs:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                dec = decode(blob)
                if dec is None:
                    continue
                rate, s = dec
                n = len(s)
                if n < 64:
                    continue
                e = s.astype(np.int64) ** 2
                # first sample of window k is ceil(k*n/64); reduceat over
                # the contiguous ranges keeps the sums in exact int64
                starts = (np.arange(64) * n + 63) // 64
                wsum = np.add.reduceat(e, starts)
                wcnt = np.diff(np.append(starts, n))
                tsum = int(e.sum())
                bits = [int(wsum[w]) * n > tsum * int(wcnt[w])
                        for w in range(64)]
                hx = "".join(
                    f"{sum(int(bits[r * 8 + c]) << c for c in range(8)):02x}"
                    for r in range(8))
                rows.append((int(mid), int(rate), n, hx))
            yield pd.DataFrame(
                rows, columns=["media_id", "rate", "n_samples", "fp"])

    return media.select("media_id", "media").mapInPandas(run, schema=schema)


def media_near_dedup(
    media: DataFrame, *, decoder: str = "fake", max_hamming: int = 4,
) -> DataFrame:
    """Keep one image per perceptual near-dup cluster — the multimodal
    analogue of dedup.near_dedup: aHash fingerprints → banded Hamming
    pairs → connected components → keep the HIGHEST-RESOLUTION member
    (ties to min media_id).  aHash pools to 8×8 regardless of size, so a
    uniformly rescaled copy hashes identically and the resolution keep
    policy retains the best original.  Rows that don't fingerprint
    (non-image, undecodable, <8×8) cannot pair and pass through
    untouched.  A thin caller of dedup._near_dedup over a fingerprint
    table cut once (pairs and keeper scores both read it, and a recompute
    re-runs the Python decode, the dominant cost) and released on return
    or error; the result reads only ``media`` and the components."""
    return _fingerprint_near_dedup(
        media, image_ahash(media, decoder=decoder), max_hamming, "ahash",
        # long math: width*height overflows INT at ~2.1 gigapixels,
        # which ANSI mode turns into a job-killing ArithmeticException
        F.col("width").cast("long") * F.col("height").cast("long"))


def audio_near_dedup(
    media: DataFrame, *, decoder: str = "fake", max_hamming: int = 4,
) -> DataFrame:
    """Keep one audio track per energy-profile near-dup cluster — the
    audio twin of media_near_dedup: audio_fingerprint → banded Hamming
    pairs (col='fp') → connected components → keep the LONGEST member
    (ties to min media_id).  The 64-window pooling is duration-free the
    way aHash is scale-free: a sample-doubled (time-stretched) copy
    hashes identically, and the length keep policy retains the
    highest-fidelity original.  Rows that don't fingerprint (non-audio,
    undecodable, <64 samples) pass through untouched.  Same composition
    and fingerprint-table scope as media_near_dedup."""
    return _fingerprint_near_dedup(
        media, audio_fingerprint(media, decoder=decoder), max_hamming, "fp",
        F.col("n_samples").cast("long"))


def _fingerprint_near_dedup(media: DataFrame, fps: DataFrame,
                            max_hamming: int, col: str, score) -> DataFrame:
    """``media`` minus the non-keepers of the Hamming near-dup clusters
    of ``fps``' hex column ``col``, the best ``score`` kept per cluster."""
    from crankshaft_spark.operators.dedup import _near_dedup

    with _Scope(media.sparkSession) as scope:
        fps = scope.cut(fps)
        return _near_dedup(
            media, fps.select("media_id", score.alias("_score")),
            ahash_pairs(fps, max_hamming=max_hamming, col=col),
            id_col="media_id", keep_col="_score")


def frame_sample(
    media: DataFrame = None, *, every: int = 4, meta: DataFrame = None,
) -> DataFrame:
    """(media_id, frame_no) — exploded frame-sampling plan for video rows:
    one output row per sampled frame index (every ``every``-th frame).
    Frame extraction itself is the stubbed codec seam; the partition-
    preserving explode is the real Spark plumbing.  Pass ``meta`` (an
    existing decode_metadata result) to reuse a decode the pipeline
    already paid for instead of decoding ``media`` again."""
    if meta is None:
        meta = decode_metadata(media)
    # dim0 > 0 guard: a structurally-valid header can still declare zero
    # frames, and sequence(0, -1, +every) throws IllegalArgumentException
    # — one malformed blob would abort the job instead of being skipped,
    # violating the module's per-row error-channel contract
    vids = meta.where(
        (F.col("kind") == "video") & F.col("ok") & (F.col("dim0") > 0))
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("dim0") - 1, F.lit(every))
        ).alias("frame_no"),
    )
