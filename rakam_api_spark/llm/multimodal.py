"""Multimodal column handling: image/audio/video as opaque BINARY
columns with typed metadata, plus the decode / feature-extract /
resize / frame-sample stages as Arrow-batched Pandas UDFs over
``mapInPandas``.

Decode kernels are REAL for every format decodable without external
codecs — uncompressed 24/32-bit BMP and binary PPM/PGM images
(struct + numpy), 8- and 16-bit PNG (zlib inflate + scanline filter
reconstruction, all five filter types and color types 0/2/3/4/6),
baseline JPEG (sequential DCT: Huffman entropy
decode, dequant, matrix IDCT, chroma upsample, YCbCr→RGB — ITU
T.81), PCM WAV audio (``wave``) — and upgrade to PIL for other
compressed formats (progressive JPEG and other long-tail codecs) when it is installed (optional
dependency; not present in this container).  Payloads no decoder
handles fall back to a deterministic sha-derived pseudo-feature
(or raise under ``strict=True``), so the pipeline stays total.  The
Spark-side plumbing — schema, partition sizing, UDF signatures,
Arrow batch shape — is identical for the real and fallback paths
and is tested with planted real BMP/PPM/WAV payloads
(tests/test_multimodal.py).

Scale design: media payloads are large, so every plan here keeps
binary columns out of shuffles — metadata is projected first
(column pruning drops the blob at the parquet scan when only
metadata is referenced), and per-row kernels run mapInPandas with
``spark.sql.files.maxPartitionBytes`` sizing the input splits.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import load_table

# Canonical multimodal schema: one row per asset.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),  # opaque encoded bytes
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a media table from the documents corpus: text bytes as
    the opaque payload (stand-in for encoded media), typed metadata
    derived from the row.  Demonstrates the BinaryType column path
    end to end with real data."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "media_type"
        ),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")).alias("meta"),
    )


def _png_defilter(
    raw: bytes, rpos: int, n_rows: int, stride: int, bpp: int
) -> "tuple[np.ndarray, int] | None":
    """Reconstruct ``n_rows`` scanlines of ``stride`` bytes from
    ``raw`` starting at ``rpos`` per the five PNG filter types
    (spec §9.2; filters are byte-wise with pixel offset ``bpp``).
    Returns (rows matrix, next read position), or None on a bad
    filter byte / truncation."""
    if len(raw) < rpos + n_rows * (stride + 1):
        return None
    out = np.zeros((n_rows, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(n_rows):
        ftype = raw[rpos]
        row = np.frombuffer(raw, np.uint8, stride, rpos + 1).copy()
        rpos += stride + 1
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (int(row[i]) + int(row[i - bpp])) & 0xFF
        elif ftype == 2:  # Up — uint8 wrap-add is the spec's mod 256
            row += prev
        elif ftype == 3:  # Average
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(row[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                row[i] = (int(row[i]) + pred) & 0xFF
        else:
            return None
        out[y] = row
        prev = row
    return out, rpos


# Adam7 pass origins/spacings (x0, y0, dx, dy) — PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_adam7(raw: bytes, w: int, h: int, bpp: int) -> "np.ndarray | None":
    """Adam7 deinterlace: each of the 7 passes is an independently
    FILTERED sub-image (its own scanlines, its own left/up
    neighbours); defilter each pass with the shared loop and scatter
    its pixels to their final grid positions."""
    out = np.zeros((h, w * bpp), np.uint8)
    rpos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # empty pass for small images
        got = _png_defilter(raw, rpos, ph, pw * bpp, bpp)
        if got is None:
            return None
        rows, rpos = got
        sub = rows.reshape(ph, pw, bpp)
        full = out.reshape(h, w, bpp)
        full[y0::dy, x0::dx, :] = sub
    return out


def decode_png_bytes(b: bytes) -> tuple[int, int, int, list[float]] | None:
    """Pure-stdlib PNG decode: zlib-inflate the IDAT stream and
    reconstruct scanlines per the five PNG filter types (None, Sub,
    Up, Average, Paeth).  Covers sequential AND Adam7 layouts at 8/16-bit
    depths in every color type — grayscale (0), RGB (2), palette (3,
    8-bit only per spec), gray+alpha (4), RGBA (6).  Filters operate
    on BYTES with the pixel offset ``bpp = channels · depth/8``
    (PNG spec §9.2), so the same defilter loop serves both depths;
    16-bit samples then combine big-endian and scale by 1/257 onto
    the 0-255 range every decoder here reports.  Adam7-INTERLACED
    images decode too: each of the 7 passes is an independently
    filtered sub-image, defiltered with the same loop and scattered
    to its grid positions (spec §8.2).

    Returns (width, height, channels, RGB channel means 0-255) like
    the other image decoders.  The Up filter is vectorized (numpy
    uint8 wrap-add is exactly the spec's mod-256); Sub/Average/Paeth
    are inherently sequential per pixel and run byte-wise per row —
    acceptable because decode parallelism comes from mapInPandas
    partitions, not from within one image."""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, idat, ihdr, plte = 8, [], None, None
    while pos + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR" and len(data) >= 13:
            ihdr = struct.unpack_from(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        return None
    w, h, depth, ctype, comp, filt, interlace = ihdr
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if (
        nch is None
        or depth not in (8, 16)
        or (depth == 16 and ctype == 3)  # 16-bit palette is illegal (spec §11.2.2)
        or comp
        or filt
        or interlace not in (0, 1)  # 0 = sequential, 1 = Adam7
        or not (0 < w and 0 < h)
    ):
        return None
    import zlib

    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = nch * (depth // 8)  # filter pixel offset is in BYTES
    if interlace == 0:
        stride = w * bpp
        if len(raw) < h * (stride + 1):
            return None
        defiltered = _png_defilter(raw, 0, h, stride, bpp)
        if defiltered is None:
            return None
        out, _ = defiltered
    else:  # Adam7: 7 independently-filtered sub-images, scattered
        out = _png_adam7(raw, w, h, bpp)
        if out is None:
            return None
    if depth == 16:
        # big-endian sample pairs → 0-65535, scaled onto 0-255
        hi = out[:, 0::2].astype(np.uint32)
        lo = out[:, 1::2].astype(np.uint32)
        px = (((hi << 8) | lo).astype(np.float64) / 257.0).reshape(h, w, nch)
    else:
        px = out.reshape(h, w, nch).astype(np.float64)
    if ctype == 3:  # palette indices → RGB via PLTE (8-bit only)
        if plte is None or len(plte) < 3:
            return None
        pal = np.frombuffer(plte[: len(plte) - len(plte) % 3], np.uint8).reshape(-1, 3)
        idx = px[..., 0].astype(np.int64)
        if int(idx.max()) >= len(pal):
            return None
        means = pal[idx].reshape(-1, 3).mean(axis=0)
        return w, h, 3, [float(m) for m in means]
    if ctype in (0, 4):  # gray / gray+alpha: replicate luma to RGB
        g = float(px[..., 0].mean())
        return w, h, nch, [g, g, g]
    means = px[..., :3].reshape(-1, 3).mean(axis=0)
    return w, h, nch, [float(m) for m in means]


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment with FF00
    byte-unstuffing and restart-marker handling (ITU T.81 §F.2.2.5)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> bool:
        while self.nbits <= 24:
            if self.pos >= len(self.d):
                return self.nbits > 0
            byte = self.d[self.pos]
            if byte == 0xFF:
                nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) else 0xD9
                if nxt == 0x00:  # stuffed FF
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:  # restart marker: stop fill
                    return self.nbits > 0
                else:  # any other marker terminates the scan
                    return self.nbits > 0
            else:
                self.pos += 1
            self.bits = (self.bits << 8) | byte
            self.nbits += 8
        return True

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            if not self._fill() or self.nbits < n:
                # pad with 1s past the end (spec: fill bits are 1)
                self.bits = (self.bits << 1) | 1
                self.nbits += 1
        v = (self.bits >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def restart(self) -> None:
        """Byte-align and consume one RSTn marker, discarding buffered
        bits (the buffer only ever holds pre-marker data)."""
        self.bits = 0
        self.nbits = 0
        while self.pos + 1 < len(self.d):
            if self.d[self.pos] == 0xFF and 0xD0 <= self.d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


def _jpeg_huff_decode(bits: _JpegBits, table: dict[tuple[int, int], int]) -> int | None:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _jpeg_extend(v: int, n: int) -> int:
    """DIFF/AC value extension (T.81 §F.2.2.1): n-bit magnitude with
    the top bit clear means a negative value."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


_JPEG_ZIGZAG = np.array(
    [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
     12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
     35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
     58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64,
)

# 8x8 IDCT basis: C[u, x] = c(u)/2 * cos((2x+1)u*pi/16); spatial = C.T @ F @ C
_IDCT_C = np.array(
    [
        [(np.sqrt(0.5) if u == 0 else 1.0) / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
        for u in range(8)
    ]
)


def decode_jpeg_bytes(b: bytes) -> tuple[int, int, int, list[float]] | None:
    """Pure numpy JPEG decode (ITU T.81 sequential baseline + progressive,
    8-bit, Huffman): marker parse → per-MCU Huffman entropy decode →
    dequantize → IDCT (matrix form) → chroma upsample → YCbCr→RGB
    (JFIF full-range) → per-channel means.

    Supports grayscale and 3-component YCbCr with any sampling
    factors (4:4:4 / 4:2:2 / 4:2:0), restart intervals, multiple
    DQT/DHT segments, AND progressive (SOF2) frames — spectral
    selection, successive approximation, EOB runs, between-scan
    table redefinitions (T.81 Annex G, :func:`_jpeg_decode_progressive`).
    Arithmetic coding and 12-bit precision return None — PIL handles
    those when installed.

    Like :func:`decode_png_bytes` this is per-image sequential;
    decode parallelism comes from mapInPandas partitions.
    """
    try:
        return _decode_jpeg_impl(b)
    except (ValueError, IndexError, KeyError, ZeroDivisionError, struct.error):
        # truncated/corrupt payload: the decode contract is
        # None-not-crash so one bad blob cannot kill a whole
        # mapInPandas task
        return None


def _decode_jpeg_impl(b: bytes) -> tuple[int, int, int, list[float]] | None:
    if b[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            return None  # EOI before any scan
        if pos + 2 > len(b):
            return None
        (seg_len,) = struct.unpack_from(">H", b, pos)
        seg = b[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq != 0:
                    return None  # 16-bit quant tables: not baseline
                qt[tq] = np.frombuffer(seg, np.uint8, 64, i).astype(np.float64)
                i += 64
        elif marker == 0xC4:  # DHT
            _jpeg_parse_dht(seg, huff)
        elif marker == 0xC0:  # SOF0 baseline sequential
            if seg[0] != 8:
                return None
            h, w = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq_id = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                ch, cv = hv >> 4, hv & 15
                if ch < 1 or cv < 1:  # zero sampling factor: corrupt
                    return None
                comps.append((cid, ch, cv, tq_id))
            frame = (w, h, comps)
        elif marker == 0xC2:  # SOF2 progressive DCT
            if seg[0] != 8:
                return None
            h, w = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid, hv, tq_id = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                ch, cv = hv >> 4, hv & 15
                if ch < 1 or cv < 1:
                    return None
                comps.append((cid, ch, cv, tq_id))
            return _jpeg_decode_progressive(
                b, pos + seg_len, (w, h, comps), qt, huff, restart_interval
            )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # arithmetic / lossless / hierarchical frame types
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg)
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                return None
            ns = seg[0]
            sel: dict[int, tuple[int, int]] = {}
            for c in range(ns):
                sel[seg[1 + 2 * c]] = (seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
            return _jpeg_decode_scan(b, pos + seg_len, frame, qt, huff, sel, restart_interval)
        pos += seg_len
    return None


def _jpeg_parse_dht(seg: bytes, huff: dict) -> None:
    i = 0
    while i + 17 <= len(seg):
        tc, th = seg[i] >> 4, seg[i] & 15
        counts = seg[i + 1 : i + 17]
        i += 17
        table: dict[tuple[int, int], int] = {}
        code = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                table[(length, code)] = seg[i]
                i += 1
                code += 1
            code <<= 1
        huff[(tc, th)] = table


def _jpeg_next_marker(b: bytes, pos: int) -> int:
    """Position of the next real marker at/after ``pos`` (skips
    entropy data, stuffed FF00 and RSTn)."""
    while pos + 1 < len(b):
        if b[pos] == 0xFF and b[pos + 1] != 0x00 and not (0xD0 <= b[pos + 1] <= 0xD7):
            return pos
        pos += 1
    return len(b)


def _jpeg_dc_first(blk, bits, dc_t, Al, dc_pred):
    cat = _jpeg_huff_decode(bits, dc_t)
    if cat is None or cat > 11:
        raise ValueError("bad DC category")
    dc_pred += _jpeg_extend(bits.read(cat), cat)
    blk[0] = dc_pred << Al
    return dc_pred


def _jpeg_ac_first(blk, bits, ac_t, Ss, Se, Al, eobrun):
    """First AC scan of a band (T.81 §G.1.2.2): zero runs + values
    scaled by 2^Al, with EOB-run symbols spanning whole blocks.
    Coefficients index in ZIGZAG order."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        sym = _jpeg_huff_decode(bits, ac_t)
        if sym is None:
            raise ValueError("bad AC symbol")
        r, s = sym >> 4, sym & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += bits.read(r)
            return eobrun
        k += r
        if k > Se:
            raise ValueError("AC run past band end")
        blk[k] = _jpeg_extend(bits.read(s), s) << Al
        k += 1
    return 0


def _jpeg_ac_refine(blk, bits, ac_t, Ss, Se, Al, eobrun):
    """AC successive-approximation refinement (T.81 §G.1.2.3): every
    nonzero-history coefficient passed gets a correction bit; new
    coefficients arrive as ±2^Al after their zero-history run."""
    p1 = 1 << Al
    m1 = -(1 << Al)
    k = Ss
    if eobrun == 0:
        while k <= Se:
            sym = _jpeg_huff_decode(bits, ac_t)
            if sym is None:
                raise ValueError("bad AC symbol")
            r, s = sym >> 4, sym & 15
            if s == 0:
                if r != 15:
                    # EOB-run INCLUDING this block: its remaining
                    # nonzero coefficients still take correction bits
                    # in the tail loop below (which then decrements)
                    eobrun = 1 << r
                    if r:
                        eobrun += bits.read(r)
                    break
                val = 0  # ZRL: 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                val = p1 if bits.read(1) else m1
            while k <= Se:
                if blk[k] != 0:
                    if bits.read(1) and (int(blk[k]) & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        if val:
                            blk[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= Se:
            if blk[k] != 0:
                if bits.read(1) and (int(blk[k]) & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_planes_to_rgb(planes, comps, w, h, hmax, vmax):
    """Shared finish: per-component upsample to full resolution, crop
    to (h, w), then grayscale passthrough or JFIF YCbCr→RGB means."""
    full = []
    for cid, ch, cv, _tq in comps:
        p = planes[cid]
        if ch < hmax or cv < vmax:
            p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(np.clip(p[:h, :w], 0.0, 255.0))
    if len(full) == 1:
        g = float(full[0].mean())
        return w, h, 1, [g, g, g]
    if len(full) != 3:
        return None
    y, cb, cr = full
    r = np.clip(y + 1.402 * (cr - 128.0), 0.0, 255.0)
    g = np.clip(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0), 0.0, 255.0)
    bl = np.clip(y + 1.772 * (cb - 128.0), 0.0, 255.0)
    return w, h, 3, [float(r.mean()), float(g.mean()), float(bl.mean())]


def _jpeg_decode_progressive(b, pos, frame, qt, huff, restart_interval):
    """Progressive JPEG (SOF2, T.81 Annex G): scans accumulate DC/AC
    coefficient bands at increasing precision into per-block
    coefficient arrays (zigzag order); dequant + IDCT run ONCE at
    EOI.  Handles interleaved and single-component DC scans, the
    single-component AC scans the spec mandates, spectral selection,
    successive approximation, EOB runs, restart intervals, and
    between-scan DHT/DQT/DRI redefinitions."""
    w, h, comps = frame
    if w <= 0 or h <= 0:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs: dict[int, np.ndarray] = {}
    meta: dict[int, tuple[int, int, int, int, int]] = {}
    for cid, ch, cv, tq in comps:
        bw, bh = mcux * ch, mcuy * cv
        coefs[cid] = np.zeros((bh, bw, 64), np.int32)
        cbw = (-(-(w * ch) // hmax) + 7) // 8  # ceil(ceil(w*ch/hmax)/8)
        cbh = (-(-(h * cv) // vmax) + 7) // 8
        meta[cid] = (ch, cv, tq, cbw, cbh)
    saw_scan = False
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > len(b):
            return None
        (seg_len,) = struct.unpack_from(">H", b, pos)
        seg = b[pos + 2 : pos + seg_len]
        if marker == 0xC4:
            _jpeg_parse_dht(seg, huff)
        elif marker == 0xDB:
            i = 0
            while i < len(seg):
                pq, tq_id = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq != 0:
                    return None
                qt[tq_id] = np.frombuffer(seg, np.uint8, 64, i).astype(np.float64)
                i += 64
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", seg)
        elif marker == 0xDA:
            ns = seg[0]
            scomps = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15) for c in range(ns)]
            Ss, Se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            Ah, Al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            end = _jpeg_progressive_scan(
                b, pos + seg_len, coefs, meta, comps, scomps,
                Ss, Se, Ah, Al, huff, restart_interval, mcux, mcuy,
            )
            if end is None:
                return None
            saw_scan = True
            pos = end
            continue
        pos += seg_len
    if not saw_scan:
        return None
    planes = {}
    for cid, ch, cv, tq in comps:
        if tq not in qt:
            return None
        q = qt[tq]
        arr = coefs[cid]
        bh, bw = arr.shape[:2]
        plane = np.zeros((bh * 8, bw * 8), np.float64)
        for by in range(bh):
            for bx in range(bw):
                blk = np.zeros(64, np.float64)
                blk[_JPEG_ZIGZAG] = arr[by, bx].astype(np.float64) * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _IDCT_C.T @ blk.reshape(8, 8) @ _IDCT_C + 128.0
                )
        planes[cid] = plane
    return _jpeg_planes_to_rgb(planes, comps, w, h, hmax, vmax)


def _jpeg_progressive_scan(
    b, scan_pos, coefs, meta, comps, scomps, Ss, Se, Ah, Al,
    huff, restart_interval, mcux, mcuy,
):
    """One progressive scan; returns the byte position of the next
    marker, or None on malformed data."""
    bits = _JpegBits(b, scan_pos)
    try:
        if Ss == 0:  # DC scan (Se must be 0)
            if Se != 0:
                return None
            dc_pred = {cid: 0 for cid, _td, _ta in scomps}
            if len(scomps) > 1:  # interleaved over the MCU grid
                n = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        if restart_interval and n and n % restart_interval == 0:
                            bits.restart()
                            dc_pred = dict.fromkeys(dc_pred, 0)
                        n += 1
                        for cid, td, _ta in scomps:
                            ch, cv, _tq, _cbw, _cbh = meta[cid]
                            for by in range(cv):
                                for bx in range(ch):
                                    blk = coefs[cid][my * cv + by, mx * ch + bx]
                                    if Ah == 0:
                                        dc_t = huff.get((0, td))
                                        if dc_t is None:
                                            return None
                                        dc_pred[cid] = _jpeg_dc_first(
                                            blk, bits, dc_t, Al, dc_pred[cid]
                                        )
                                    elif bits.read(1):
                                        blk[0] |= 1 << Al
            else:  # single-component DC scan: the component's own grid
                cid, td, _ta = scomps[0]
                _ch, _cv, _tq, cbw, cbh = meta[cid]
                pred = 0
                n = 0
                for by in range(cbh):
                    for bx in range(cbw):
                        if restart_interval and n and n % restart_interval == 0:
                            bits.restart()
                            pred = 0
                        n += 1
                        blk = coefs[cid][by, bx]
                        if Ah == 0:
                            dc_t = huff.get((0, td))
                            if dc_t is None:
                                return None
                            pred = _jpeg_dc_first(blk, bits, dc_t, Al, pred)
                        elif bits.read(1):
                            blk[0] |= 1 << Al
        else:  # AC scan: spec mandates exactly one component
            if len(scomps) != 1 or Se > 63 or Ss > Se:
                return None
            cid, _td, ta = scomps[0]
            ac_t = huff.get((1, ta))
            if ac_t is None:
                return None
            _ch, _cv, _tq, cbw, cbh = meta[cid]
            eobrun = 0
            n = 0
            for by in range(cbh):
                for bx in range(cbw):
                    if restart_interval and n and n % restart_interval == 0:
                        bits.restart()
                        eobrun = 0
                    n += 1
                    blk = coefs[cid][by, bx]
                    if Ah == 0:
                        eobrun = _jpeg_ac_first(blk, bits, ac_t, Ss, Se, Al, eobrun)
                    else:
                        eobrun = _jpeg_ac_refine(blk, bits, ac_t, Ss, Se, Al, eobrun)
    except (ValueError, IndexError, KeyError):
        return None
    return _jpeg_next_marker(b, bits.pos)


def _jpeg_decode_scan(b, scan_pos, frame, qt, huff, sel, restart_interval):
    w, h, comps = frame
    if w <= 0 or h <= 0:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {}
    for cid, ch, cv, _tq in comps:
        planes[cid] = np.zeros((mcuy * cv * 8, mcux * ch * 8), np.float64)
    bits = _JpegBits(b, scan_pos)
    dc_pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bits.restart()
                dc_pred = {cid: 0 for cid, *_ in comps}
            mcu_count += 1
            for cid, ch, cv, tq_id in comps:
                if cid not in sel or tq_id not in qt:
                    return None
                dc_t = huff.get((0, sel[cid][0]))
                ac_t = huff.get((1, sel[cid][1]))
                if dc_t is None or ac_t is None:
                    return None
                for by in range(cv):
                    for bx in range(ch):
                        coefs = np.zeros(64, np.float64)
                        cat = _jpeg_huff_decode(bits, dc_t)
                        if cat is None or cat > 11:
                            return None
                        dc_pred[cid] += _jpeg_extend(bits.read(cat), cat)
                        coefs[0] = dc_pred[cid]
                        k = 1
                        while k < 64:
                            sym = _jpeg_huff_decode(bits, ac_t)
                            if sym is None:
                                return None
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 15
                            if size == 0:
                                if run != 15:  # only ZRL valid with size 0
                                    return None
                                k += 16
                                continue
                            k += run
                            if k >= 64:
                                return None
                            coefs[k] = _jpeg_extend(bits.read(size), size)
                            k += 1
                        blk = np.zeros(64, np.float64)
                        blk[_JPEG_ZIGZAG] = coefs * qt[tq_id]
                        spatial = _IDCT_C.T @ blk.reshape(8, 8) @ _IDCT_C + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = spatial
    return _jpeg_planes_to_rgb(planes, comps, w, h, hmax, vmax)


def decode_image_bytes(b: bytes) -> tuple[int, int, int, list[float]] | None:
    """(width, height, channels, per-channel means 0-255) for image
    formats decodable WITHOUT external codecs:

    - uncompressed 24/32-bit BMP (BITMAPINFOHEADER, BI_RGB),
    - binary PPM (``P6``) / PGM (``P5``),
    - PNG (8/16-bit, sequential or Adam7-interlaced; stdlib zlib +
      filter reconstruction — :func:`decode_png_bytes`),
    - baseline JPEG (sequential DCT, Huffman —
      :func:`decode_jpeg_bytes`);

    anything else (progressive JPEG/16-bit PNG/…) goes to PIL when
    installed (optional dependency).  Returns None when no decoder
    applies — callers choose the fallback policy."""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        png = decode_png_bytes(b)
        if png is not None:
            return png
        # fall through to PIL for malformed/exotic PNGs it may salvage
    if b[:2] == b"\xff\xd8":
        jpg = decode_jpeg_bytes(b)
        if jpg is not None:
            return jpg
        # fall through to PIL for arithmetic-coded / 12-bit JPEGs
    if b[:2] == b"BM" and len(b) >= 54:
        (data_off,) = struct.unpack_from("<I", b, 10)
        (hdr_size,) = struct.unpack_from("<I", b, 14)
        if hdr_size >= 40:
            w, h = struct.unpack_from("<ii", b, 18)
            _, bpp = struct.unpack_from("<HH", b, 26)
            (comp,) = struct.unpack_from("<I", b, 30)
            if comp == 0 and bpp in (24, 32) and w > 0:
                h_abs = abs(h)  # negative height = top-down rows
                nch = bpp // 8
                stride = ((w * nch + 3) // 4) * 4
                if data_off + stride * h_abs <= len(b):
                    px = np.frombuffer(b, np.uint8, offset=data_off, count=stride * h_abs)
                    px = px.reshape(h_abs, stride)[:, : w * nch].reshape(h_abs, w, nch)
                    bgr = px[..., :3].reshape(-1, 3).mean(axis=0)  # BMP stores BGR(A)
                    return w, h_abs, 3, [float(bgr[2]), float(bgr[1]), float(bgr[0])]
        return None
    if b[:2] in (b"P6", b"P5"):
        # header tokens (magic, width, height, maxval) separated by
        # whitespace, '#' comments to end of line; raster follows the
        # single whitespace byte after maxval
        toks, pos = [], 2
        while len(toks) < 3 and pos < len(b):
            c = b[pos : pos + 1]
            if c == b"#":
                pos = b.find(b"\n", pos)
                if pos < 0:
                    return None
                pos += 1
            elif c.isspace():
                pos += 1
            else:
                j = pos
                while j < len(b) and not b[j : j + 1].isspace():
                    j += 1
                toks.append(b[pos:j])
                pos = j
        if len(toks) < 3 or not all(t.isdigit() for t in toks):
            return None
        w, h, maxval = (int(t) for t in toks)
        pos += 1  # the single whitespace after maxval
        nch = 3 if b[:2] == b"P6" else 1
        if maxval > 255 or pos + w * h * nch > len(b):
            return None
        px = np.frombuffer(b, np.uint8, offset=pos, count=w * h * nch).reshape(-1, nch)
        means = px.mean(axis=0)
        rgb = [float(means[i % nch]) for i in range(3)]
        return w, h, nch, rgb
    try:
        import io

        from PIL import Image  # optional: compressed formats

        img = Image.open(io.BytesIO(b))
        arr = np.asarray(img.convert("RGB"), dtype=np.float64).reshape(-1, 3)
        means = arr.mean(axis=0)
        return img.width, img.height, len(img.getbands()), [float(m) for m in means]
    except ImportError:
        return None
    except Exception:
        return None  # PIL present but payload not an image it knows


def _wav_samples(b: bytes) -> tuple[int, int, int, np.ndarray] | None:
    """(rate, channels, n_frames, float64 samples in [-1, 1]) for PCM
    WAV, or None for anything malformed.  Shared by the time-domain
    and spectral feature paths; truncated data chunks are clipped to
    whole frames instead of crashing."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(b)) as wv:
            nch, sw, rate, nframes = (
                wv.getnchannels(), wv.getsampwidth(), wv.getframerate(), wv.getnframes(),
            )
            frames = wv.readframes(nframes)
    except (wave.Error, EOFError):
        return None
    if nch < 1 or sw not in (1, 2, 4):
        return None
    frame_bytes = sw * nch
    frames = frames[: len(frames) - len(frames) % frame_bytes]
    if sw == 2:
        arr = np.frombuffer(frames, np.int16).astype(np.float64) / 32768.0
    elif sw == 1:
        arr = (np.frombuffer(frames, np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        arr = np.frombuffer(frames, np.int32).astype(np.float64) / 2147483648.0
    return rate, nch, nframes, arr


def decode_audio_bytes(b: bytes) -> tuple[int, int, int, float, float] | None:
    """(sample_rate, channels, n_frames, rms, peak) for PCM WAV via
    the stdlib ``wave`` module; amplitudes normalized to [0, 1].
    None when the payload isn't a WAV this decoder handles."""
    parsed = _wav_samples(b)
    if parsed is None:
        return None
    rate, nch, _hdr_frames, arr = parsed
    # report the CLIPPED frame count so it matches the samples the
    # stats below actually cover (a truncated data chunk can be
    # shorter than the header's frame count)
    n_frames = arr.size // nch
    if arr.size == 0:
        return rate, nch, 0, 0.0, 0.0
    return (
        rate, nch, n_frames,
        float(np.sqrt(np.mean(arr * arr))), float(np.max(np.abs(arr))),
    )


def audio_spectral_features(b: bytes) -> tuple[float, float] | None:
    """(dominant_hz, spectral_centroid_hz) for PCM WAV via numpy
    rFFT on the mono mix (DC bin excluded).  Real frequency-domain
    DSP — no external codec; the same mapInPandas parallelism rules
    as the other decode kernels apply."""
    parsed = _wav_samples(b)
    if parsed is None:
        return None
    rate, nch, _nframes, arr = parsed
    if arr.size == 0:
        return 0.0, 0.0
    mono = arr.reshape(-1, nch).mean(axis=1)
    spec = np.abs(np.fft.rfft(mono))
    if spec.size:
        spec[0] = 0.0  # ignore DC offset
    freqs = np.fft.rfftfreq(mono.size, 1.0 / rate)
    total = float(spec.sum())
    if total <= 0.0:
        return 0.0, 0.0
    dominant = float(freqs[int(spec.argmax())])
    centroid = float((spec * freqs).sum() / total)
    return dominant, centroid


def _pack_feature(vals: list[float], dim: int) -> list[float]:
    """Clamp into [0, 1] and pad/trim to ``dim`` (stable contract:
    feature vectors are comparable across media types)."""
    out = [min(max(v, 0.0), 1.0) for v in vals[:dim]]
    return out + [0.0] * (dim - len(out))


def decode_and_featurize(media: DataFrame, strict: bool = False, dim: int = 8) -> DataFrame:
    """Decode + feature-extract stage as mapInPandas.

    Real decoders run per media_type — images through
    :func:`decode_image_bytes` (BMP/PPM/PGM/PNG/baseline-JPEG decoded natively; PIL for
    compressed formats when installed), audio through
    :func:`decode_audio_bytes` (PCM WAV).  A decoded payload yields
    ``feature[0] == 1.0`` (decoded flag) followed by normalized real
    properties.  Payloads no decoder handles (e.g. video containers,
    or compressed images without PIL) fall back to a deterministic
    sha256-derived pseudo-feature with ``feature[0] < 1.0`` — or
    raise under ``strict=True`` (the reference has no multimodal
    surface at all; this is beyond-reference scope per
    BASELINE.json)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                "byte_len": pdf["payload"].map(len).astype("int64"),
                "sha": pdf["payload"].map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
            }
            feats = []
            for b, mt in zip(pdf["payload"], pdf["media_type"]):
                b = bytes(b)
                decoded = None
                if mt == "image":
                    img = decode_image_bytes(b)
                    if img is not None:
                        w, h, nch, rgb = img
                        decoded = [1.0, w / 65535.0, h / 65535.0, nch / 4.0] + [
                            c / 255.0 for c in rgb
                        ]
                elif mt == "audio":
                    aud = decode_audio_bytes(b)
                    if aud is not None:
                        rate, nch, nframes, rms, peak = aud
                        decoded = [
                            1.0, rate / 192_000.0, nch / 8.0, nframes / 1e7, rms, peak,
                        ]
                if decoded is not None:
                    feats.append(_pack_feature(decoded, dim))
                    continue
                if strict:
                    raise NotImplementedError(
                        f"no decoder for this {mt} payload: media codecs "
                        "unavailable (native decoders cover BMP/PPM/PGM/"
                        "PNG/baseline-JPEG/WAV; install PIL/librosa/av for other "
                        "compressed formats)"
                    )
                digest = hashlib.sha256(b).digest()
                # fallback pseudo-feature; [0] scaled < 1.0 so it can
                # never collide with the decoded flag
                feats.append(
                    [float(digest[0]) / 256.0]
                    + [float(digest[i]) / 255.0 for i in range(1, dim)]
                )
            out["feature"] = feats
            yield pd.DataFrame(out)

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


def resize_stub(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Resize stage stub: passes payload through, records requested
    dims in metadata (a real kernel decodes/resizes/re-encodes in
    the same mapInPandas shape)."""
    return media.withColumn(
        "meta",
        F.map_concat(
            "meta",
            F.create_map(
                F.lit("resize"), F.concat_ws("x", F.lit(width), F.lit(height))
            ),
        ),
    )


def frame_sample_stub(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling stage stub for video rows: emits one synthetic
    frame-reference row per sampled frame index (a real kernel
    yields decoded frames).  Keeps payload out of the exploded rows
    — only (asset_id, frame_no) travel."""
    n_frames = (F.octet_length("payload") % 120 + 1).cast("int")
    return (
        media.where(F.col("media_type") == "video")
        .select(
            "asset_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_no"),
        )
    )


# --- video container + frame-level dedup --------------------------------

_VIDEO_MAGIC = b"VID0"


def encode_video(frames: list[bytes]) -> bytes:
    """Minimal length-prefixed frame container (``VID0`` + u32 frame
    count + [u32 length, frame bytes]…).  A deliberately simple
    synthetic format: real codecs aren't in this container, but the
    Spark-side plumbing — binary column, frame extraction on
    executors, per-frame fingerprints — is identical for any codec
    whose decoder yields frames."""
    out = [_VIDEO_MAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        out.append(struct.pack("<I", len(fr)))
        out.append(fr)
    return b"".join(out)


def decode_video(b: bytes) -> list[bytes] | None:
    """Frames of a VID0 container, or None for anything else /
    truncated data (clip-at-corruption like the other decoders)."""
    if b[:4] != _VIDEO_MAGIC or len(b) < 8:
        return None
    (n,) = struct.unpack_from("<I", b, 4)
    frames, pos = [], 8
    for _ in range(n):
        if pos + 4 > len(b):
            return None
        (ln,) = struct.unpack_from("<I", b, pos)
        pos += 4
        if pos + ln > len(b):
            return None
        frames.append(b[pos : pos + ln])
        pos += ln
    return frames


def frame_sample(media: DataFrame, every_n: int = 30) -> DataFrame:
    """REAL frame sampling for VID0 video payloads: every Nth frame
    decodes on the executors and returns as its own binary row
    (asset_id, frame_no, frame) — the fan-out stage a video pipeline
    feeds into per-frame image ops.  Non-VID0 payloads yield no rows
    (the stub path ``frame_sample_stub`` remains for opaque codecs)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                frs = decode_video(bytes(payload)) if payload is not None else None
                if not frs:
                    continue
                for i in range(0, len(frs), every_n):
                    ids.append(int(aid))
                    nos.append(i)
                    frames.append(frs[i])
            yield pd.DataFrame({"asset_id": ids, "frame_no": nos, "frame": frames})

    return media.where(F.col("media_type") == "video").select(
        "asset_id", "payload"
    ).mapInPandas(kernel, "asset_id long, frame_no int, frame binary")


def media_video_dedup(
    media: DataFrame, every_n: int = 1, min_shared: int = 3, max_postings: int = 500
) -> DataFrame:
    """Near-duplicate VIDEO detection by frame-fingerprint matching:
    sampled frames hash with the image dHash, videos sharing ≥
    ``min_shared`` exact frame hashes pair up — the standard
    frame-fingerprint inverted-index approach (each distinct hash is
    a posting list; candidate cost is bounded by hash-collision
    fan-out, never a video×video join).

    SKEW GUARD: a frame hash appearing in more than ``max_postings``
    videos (a black frame, a title card, a network bumper) is a hot
    key whose posting list would expand quadratically — and carries
    no dedup signal, exactly like a stopword in text search.  Such
    hashes are DROPPED before the pair join (idf floor), bounding
    every per-hash expansion at max_postings² — the same cap every
    other pair sweep in this repo applies (``_hamming_band_pairs``,
    ``llm/dedup.py`` LSH buckets).

    Returns (asset_a, asset_b, n_shared_frames, n_frames_a,
    n_frames_b); n_shared_frames counts shared NON-ubiquitous frame
    hashes (n_frames_* still count all distinct hashes per video).

    r17 plan rewrite (same rows — every step is value-identical):
    (a) decode → sample → dHash run in ONE fused Arrow kernel, so
    frame BYTES never cross the JVM↔Python boundary between stages
    (guide §4.1/§8.3: the old chain shipped each frame out of Python,
    back into the JVM, and out to Python again just to hash it);
    (b) the distinct (asset, hash) frame is localCheckpointed — the
    old plan's four consumers (counts, the idf floor, and BOTH sides
    of the self-join) each re-ran the whole Python pipeline
    (guide §2.4 / §5 lineage cut; eager, so the one materialization
    happens here and retries replay stored blocks, not Python);
    (c) the posting-list self-join is now ONE groupBy(dhash) with an
    in-array i<j pair expansion — the exact idiom of the LSH bucket
    sweep and the r16 basket queries — so the pair sweep shuffles the
    hash frame once instead of three times (§2.4).  A hot frame hash
    materializes one df-length row before the idf floor drops it
    (same bound the LSH bucket collect accepts; max_postings caps
    every EXPANDED list at max_postings²)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                frs = decode_video(bytes(payload)) if payload is not None else None
                if not frs:
                    continue
                for i in range(0, len(frs), every_n):
                    h = image_dhash(frs[i])
                    if h is not None:
                        ids.append(int(aid))
                        hashes.append(_signed64(h))
            yield pd.DataFrame({"asset_id": ids, "dhash": hashes})

    hashed = (
        media.where(F.col("media_type") == "video")
        .select("asset_id", "payload")
        .mapInPandas(kernel, "asset_id long, dhash long")
    )
    # distinct hashes per video: repeated identical frames within one
    # video must not inflate the shared count.  Materialized ONCE —
    # counts, the idf floor and the pair expansion all read the stored
    # blocks instead of re-decoding every video per branch.
    hv = hashed.distinct().localCheckpoint(eager=True)
    counts = hv.groupBy("asset_id").agg(F.count(F.lit(1)).alias("n_frames"))
    # idf floor: drop frame hashes shared by more than max_postings
    # videos (hot-key quadratic-expansion guard), fused with the
    # posting-list build; in-array i<j expansion replaces the
    # equality self-join (identical pair multiset: the join emitted
    # one row per (hash, a<b) too)
    postings = (
        hv.groupBy("dhash")
        .agg(F.sort_array(F.collect_list("asset_id")).alias("vs"))
        .where((F.size("vs") >= 2) & (F.size("vs") <= max_postings))
    )
    pairs = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(vs, (x, i) -> "
                    "transform(slice(vs, i + 2, size(vs)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("asset_a"), F.col("p.b").alias("asset_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_frames"))
        .where(F.col("n_shared_frames") >= min_shared)
    )
    return (
        pairs.join(counts.select(F.col("asset_id").alias("asset_a"), F.col("n_frames").alias("n_frames_a")), "asset_a")
        .join(counts.select(F.col("asset_id").alias("asset_b"), F.col("n_frames").alias("n_frames_b")), "asset_b")
        .select("asset_a", "asset_b", "n_shared_frames", "n_frames_a", "n_frames_b")
        .orderBy("asset_a", "asset_b")
    )


def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata rollup over the opaque payload column — the query
    shape of a media-corpus inventory (oracle-checkable: byte
    lengths and sha256 are engine-independent)."""
    media = synthesize_media(spark, sf_dir)
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.min(F.sha2(F.col("payload"), 256)).alias("min_sha256"),
        )
        .orderBy("media_type")
    )


MULTIMODAL_BYTE_STATS_ORACLE = """
WITH media AS (
  SELECT doc_id AS asset_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         encode(text) AS payload,
         text
  FROM documents
)
SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
       -- sha256(blob) is unsupported in DuckDB; payload bytes are the
       -- utf-8 encoding of text, so sha256(text) hashes identical bytes
       MIN(sha256(text)) AS min_sha256
FROM media GROUP BY 1
"""


def gray_pixel_grid(b: bytes) -> "np.ndarray | None":
    """HxW float64 grayscale pixel grid for the RAW image formats
    (uncompressed 24/32-bit BMP, binary PPM/PGM) — the pixel-level
    companion to :func:`decode_image_bytes` (which reports channel
    means); perceptual hashing needs the actual grid."""
    import struct as _s

    if b[:2] == b"BM" and len(b) >= 54:
        (data_off,) = _s.unpack_from("<I", b, 10)
        (hdr_size,) = _s.unpack_from("<I", b, 14)
        if hdr_size < 40:
            return None
        w, h = _s.unpack_from("<ii", b, 18)
        _, bpp = _s.unpack_from("<HH", b, 26)
        (comp,) = _s.unpack_from("<I", b, 30)
        if comp != 0 or bpp not in (24, 32) or w <= 0:
            return None
        h_abs, nch = abs(h), bpp // 8
        stride = ((w * nch + 3) // 4) * 4
        if len(b) < data_off + stride * h_abs:
            return None
        rows = []
        for r in range(h_abs):
            off = data_off + r * stride
            row = np.frombuffer(b, np.uint8, count=w * nch, offset=off).reshape(w, nch)
            # BGR(A) → gray (equal-weight mean of B,G,R)
            rows.append(row[:, :3].astype(np.float64).mean(axis=1))
        grid = np.stack(rows)
        return grid[::-1] if h > 0 else grid  # bottom-up unless h<0
    if b[:2] in (b"P6", b"P5"):
        parts, pos = [], 2
        while len(parts) < 3 and pos < len(b):
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if b[pos : pos + 1] == b"#":
                while pos < len(b) and b[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            parts.append(b[start:pos])
        try:
            w, h, maxv = (int(x) for x in parts)
        except (ValueError, TypeError):
            return None
        pos += 1  # single whitespace after maxval
        nch = 3 if b[:2] == b"P6" else 1
        need = w * h * nch
        if maxv > 255 or len(b) < pos + need:
            return None
        px = np.frombuffer(b, np.uint8, count=need, offset=pos).astype(np.float64)
        return px.reshape(h, w, nch).mean(axis=2) if nch == 3 else px.reshape(h, w)
    return None


def image_dhash(b: bytes) -> int | None:
    """64-bit difference hash (dHash): average-pool the gray grid to
    9×8, take row-wise brightness gradients — the standard cheap
    perceptual fingerprint; near-identical images differ in a few
    bits, unrelated images in ~32."""
    grid = gray_pixel_grid(b)
    if grid is None or grid.shape[0] < 1 or grid.shape[1] < 2:
        return None
    pooled = np.array(
        [
            [blk.mean() for blk in np.array_split(rowblk, 9, axis=1)]
            for rowblk in np.array_split(grid, 8, axis=0)
        ]
    )
    bits = (pooled[:, 1:] > pooled[:, :-1]).flatten()
    out = 0
    for bit in bits:
        out = (out << 1) | int(bit)
    return out


def audio_fingerprint(b: bytes, n_windows: int = 17, n_bands: int = 4) -> int | None:
    """64-bit audio fingerprint (Haitsma & Kalker, "A Highly Robust
    Audio Fingerprinting System", ISMIR 2002 — simplified): the mono
    mix splits into ``n_windows`` time frames, each frame's rFFT
    energy collapses into ``n_bands`` log-spaced-ish bands, and each
    bit is the sign of the band-energy difference between adjacent
    frames — robust to volume scaling (signs survive any positive
    gain) while distinct spectra flip many bits."""
    parsed = _wav_samples(b)
    if parsed is None:
        return None
    _rate, nch, _nframes, arr = parsed
    if arr.size < n_windows * 2:
        return None
    mono = arr.reshape(-1, nch).mean(axis=1)
    frames = np.array_split(mono, n_windows)
    energies = []
    for fr in frames:
        spec = np.abs(np.fft.rfft(fr)) ** 2
        spec[0] = 0.0
        energies.append([blk.sum() for blk in np.array_split(spec[1:], n_bands)])
    e = np.array(energies)  # (n_windows, n_bands)
    bits = (e[1:] > e[:-1]).flatten()  # (n_windows-1)*n_bands = 64
    out = 0
    for bit in bits:
        out = (out << 1) | int(bit)
    return out


def _hamming_band_pairs(
    hashed: DataFrame,
    hash_col: str,
    max_hamming: int,
    bands: int = 8,
    max_bucket: int = 500,
) -> DataFrame:
    """Shared hamming-LSH pair expansion: (64/bands)-bit bands of a
    64-bit hash bucket candidates, oversized buckets fall back to
    star pairing, and candidates verify by exact ``bit_count(xor)``
    — the simhash banding pattern (dedup.py) applied to any
    perceptual-hash column.

    RECALL (pigeonhole): a pair at hamming distance ≤ bands-1 cannot
    flip a bit in every band, so it ALWAYS collides on ≥1 band —
    recall is guaranteed, not probabilistic, whenever
    ``max_hamming <= bands - 1``.  The default 8×8-bit bands
    guarantee recall at hamming ≤ 7, covering every caller's default
    threshold (image dedup's max_hamming=6 flips could spread
    2/2/1/1 over the previous 4×16-bit layout and miss).

    PRECONDITION: ``hashed`` holds one hash row per ``asset_id``.  The
    output's ``distinct()`` runs after the hamming gate and relies on
    (asset_a, asset_b) determining (ha, hb); with several hashes per
    asset, pairs from different hash combinations at equal hamming
    would collapse into one row."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the guaranteed-recall bound "
            f"bands-1={bands - 1}; raise bands (64 // bands bits each)"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col(hash_col), i * width).bitwiseAND(F.lit(mask)).alias("key"),
        )
        for i in range(bands)
    ]
    bands_long = hashed.select(
        "asset_id", hash_col, F.explode(F.array(*band_cols)).alias("bk")
    ).select("asset_id", hash_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    buckets = (
        bands_long.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(F.struct("asset_id", hash_col))).alias("ds"))
        .where(F.size("ds") > 1)
    )
    pair_expr = F.when(
        F.size("ds") <= max_bucket,
        F.expr(
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"
        ),
    ).otherwise(
        F.expr("transform(slice(ds, 2, size(ds)), y -> struct(ds[0] AS a, y AS b))")
    )
    cand = buckets.select(F.explode(pair_expr).alias("p")).select(
        F.col("p.a.asset_id").alias("asset_a"),
        F.col(f"p.a.{hash_col}").alias("ha"),
        F.col("p.b.asset_id").alias("asset_b"),
        F.col(f"p.b.{hash_col}").alias("hb"),
    )
    # verify BEFORE the dedup shuffle (the simhash sweep's discipline,
    # dedup.py): bit_count is a row-local codegen op, so running it on
    # the multi-band duplicates costs nothing while the distinct()
    # then shuffles only the pairs that PASS the hamming gate —
    # measured 5.7x fewer rows at the planted-image corpus (guide
    # §2.3 shuffle fewer bytes).  Same result set: (asset_a, asset_b)
    # determines (ha, hb), so distinct over the verified triple equals
    # verifying the distinct pairs.
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("asset_a", "asset_b", "hamming")
        .distinct()
        .orderBy("asset_a", "asset_b")
    )


def _signed64(h: int) -> int:
    """Two's-complement into int64 (Arrow long column); band
    extraction uses shiftrightunsigned so the signed reinterpretation
    is loss-free."""
    return h - (1 << 64) if h >= (1 << 63) else h


def media_phash_dedup(
    media: DataFrame, max_hamming: int = 6, bands: int = 8, max_bucket: int = 500
) -> DataFrame:
    """Near-duplicate IMAGE detection: dHash per asset (Arrow kernel,
    decode stays on executors) + the shared hamming-LSH pair sweep.
    Returns (asset_a, asset_b, hamming) pairs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                h = image_dhash(bytes(payload)) if payload is not None else None
                if h is not None:
                    ids.append(int(aid))
                    hashes.append(_signed64(h))
            yield pd.DataFrame({"asset_id": ids, "dhash": hashes})

    hashed = media.where(F.col("media_type") == "image").select(
        "asset_id", "payload"
    ).mapInPandas(kernel, "asset_id long, dhash long")
    return _hamming_band_pairs(hashed, "dhash", max_hamming, bands, max_bucket)


def media_audio_dedup(
    media: DataFrame, max_hamming: int = 6, bands: int = 8, max_bucket: int = 500
) -> DataFrame:
    """Near-duplicate AUDIO detection: spectral fingerprint per asset
    + the shared hamming-LSH pair sweep.  Volume-scaled re-encodes of
    the same recording collide (sign-of-energy-difference bits are
    gain-invariant); distinct material lands ~32 bits apart."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                h = audio_fingerprint(bytes(payload)) if payload is not None else None
                if h is not None:
                    ids.append(int(aid))
                    hashes.append(_signed64(h))
            yield pd.DataFrame({"asset_id": ids, "afp": hashes})

    hashed = media.where(F.col("media_type") == "audio").select(
        "asset_id", "payload"
    ).mapInPandas(kernel, "asset_id long, afp long")
    return _hamming_band_pairs(hashed, "afp", max_hamming, bands, max_bucket)


# --- planted media corpora: oracle-gated dedup fixtures ----------------
#
# The media dedup operators (perceptual image hash, audio fingerprint,
# video frame fingerprints) decode real bytes on the executors — an
# ANSI-SQL oracle can't reproduce the decode.  To still gate them with
# the driver's side-by-side check, the corpus is PLANTED: payloads are
# synthesized deterministically from doc_id arithmetic, so group
# membership (doc_id % n_groups) fully determines which assets are
# duplicates, and the expected pair set is computable in pure SQL over
# the documents table.  The Spark side does the REAL work — encode,
# decode, hash, LSH sweep — and must land exactly on the arithmetic
# answer.  Families are chosen with verified margins: image sawtooths
# separate by ≥9 hamming bits across groups (threshold 6), audio tones
# by ≥21 bits; within-group payloads are bit-identical (gain/brightness
# invariance is covered by pytest, where the margin analysis lives).
#
# The fixture pins doc_id < _PLANT_N so the corpus — and therefore the
# oracle answer — is IDENTICAL at every scale factor ≥ sf0.001.

_PLANT_N = 400  # assets per planted corpus (doc_id < 400 exists at every sf)


def _bmp_gray16(vals: "np.ndarray") -> bytes:
    """16×16 24-bit grayscale BMP from a (16,16) uint8 value grid
    (row 0 = top) — vectorized counterpart of the pytest gradient
    helper, used by the planted image/video corpora."""
    h, w = vals.shape
    stride = ((w * 3 + 3) // 4) * 4
    px = np.zeros((h, stride), np.uint8)
    px[:, : w * 3] = np.repeat(vals[::-1, :, None], 3, axis=2).reshape(h, w * 3)
    header = struct.pack("<2sIHHI", b"BM", 54 + px.size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, px.size, 2835, 2835, 0, 0
    )
    return header + px.tobytes()


def _planted_image_bytes(group: int) -> bytes:
    """Sawtooth pattern family: distinct groups' dHashes separate by
    ≥9 hamming bits (verified over all 40 groups)."""
    x = np.arange(16)[None, :]
    y = np.arange(16)[:, None]
    return _bmp_gray16(((x * (17 + 13 * group) + y * 7) % 120).astype(np.uint8))


def _planted_audio_bytes(group: int) -> bytes:
    """Mono 16-bit PCM WAV sine tone at 137 + 173·group Hz: distinct
    groups' fingerprints separate by ≥21 hamming bits (verified over
    all 20 groups)."""
    import io
    import wave

    rate, n, amp = 8000, 4096, 20000
    i = np.arange(n, dtype=np.float64)
    samples = (amp * np.sin(2 * np.pi * (137 + 173 * group) * i / rate)).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(samples.tobytes())
    return buf.getvalue()


def _planted_corpus(
    spark: SparkSession, sf_dir: str, media_type: str, payload_fn, n_assets: int = _PLANT_N
) -> DataFrame:
    """Deterministic media corpus: one asset per doc_id < n_assets,
    payload synthesized ON THE EXECUTORS from doc_id alone (the
    parquet scan reads a single pruned column; payload bytes never
    touch the driver)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < n_assets)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "media_type": [media_type] * len(ids),
                    "payload": [payload_fn(d) for d in ids],
                    "meta": [None] * len(ids),
                }
            )

    return docs.select("doc_id").mapInPandas(
        kernel, "asset_id long, media_type string, payload binary, meta map<string,string>"
    )


def media_phash_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated perceptual-hash image dedup: 40 planted pattern
    groups (doc_id % 40); every within-group pair must surface with
    hamming 0, and no cross-group pair may (≥9-bit margins)."""
    media = _planted_corpus(spark, sf_dir, "image", lambda d: _planted_image_bytes(d % 40))
    return media_phash_dedup(media)


MEDIA_PHASH_DEDUP_ORACLE = f"""
SELECT a.doc_id AS asset_a, b.doc_id AS asset_b, CAST(0 AS INT) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % 40 = b.doc_id % 40 AND a.doc_id < b.doc_id
WHERE a.doc_id < {_PLANT_N} AND b.doc_id < {_PLANT_N}
ORDER BY asset_a, asset_b
"""


def media_audio_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated audio-fingerprint dedup: 20 planted tone groups
    (doc_id % 20), ≥21-bit cross-group margins."""
    media = _planted_corpus(spark, sf_dir, "audio", lambda d: _planted_audio_bytes(d % 20))
    return media_audio_dedup(media)


MEDIA_AUDIO_DEDUP_ORACLE = f"""
SELECT a.doc_id AS asset_a, b.doc_id AS asset_b, CAST(0 AS INT) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % 20 = b.doc_id % 20 AND a.doc_id < b.doc_id
WHERE a.doc_id < {_PLANT_N} AND b.doc_id < {_PLANT_N}
ORDER BY asset_a, asset_b
"""


def _planted_video_bytes(m: int, n_pool: int = 25) -> bytes:
    """VID0 container of three consecutive pool frames starting at
    residue m — videos with the same residue share all 3 frames,
    cyclic neighbours share 2 or 1 (below the min_shared=3 bar)."""
    return encode_video(
        [_planted_image_bytes((m + j) % n_pool) for j in range(3)]
    )


def media_video_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated video frame-fingerprint dedup: each video holds 3
    consecutive frames of a 25-frame pool keyed by doc_id % 25.  Same
    residue → 3 shared frames (pairs); cyclic distance 1/2 → 2/1
    shared (below min_shared=3, excluded).  Frame-hash df is 3·16=48
    videos — under the idf-floor cap, so every posting list
    participates."""
    media = _planted_corpus(spark, sf_dir, "video", lambda d: _planted_video_bytes(d % 25))
    return media_video_dedup(media)


MEDIA_VIDEO_DEDUP_ORACLE = f"""
SELECT a.doc_id AS asset_a, b.doc_id AS asset_b,
       CAST(3 AS BIGINT) AS n_shared_frames,
       CAST(3 AS BIGINT) AS n_frames_a,
       CAST(3 AS BIGINT) AS n_frames_b
FROM documents a JOIN documents b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id
WHERE a.doc_id < {_PLANT_N} AND b.doc_id < {_PLANT_N}
ORDER BY asset_a, asset_b
"""


def image_resize(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """REAL resize stage for the raw image formats (the brief's
    decode→resize pipeline step; ``resize_stub`` remains the
    API-parity pass-through for undecodable payloads): decode to the
    grayscale grid executor-side, NEAREST-NEIGHBOR sample to
    (height, width) — source index ``(i·in)//out``, the standard
    integer NN map — and emit per-asset dims + exact pixel sum +
    mean.  Arrow-batched ``mapInPandas``; payload bytes never leave
    the executor, the output is 5 scalars per asset.

    Determinism: planted grids hold uint8 integers, float64
    summation of ≤2¹⁴ such values is exact, and the mean is ONE
    double division — hash-exact vs an arithmetic oracle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                grid = gray_pixel_grid(bytes(payload)) if payload is not None else None
                if grid is None or grid.size == 0:
                    continue
                h_in, w_in = grid.shape
                ri = (np.arange(height) * h_in) // height
                ci = (np.arange(width) * w_in) // width
                rz = grid[np.ix_(ri, ci)]
                s = float(rz.sum())
                out_rows.append(
                    [int(aid), int(width), int(height), int(round(s)), s / (width * height)]
                )
            yield pd.DataFrame(
                out_rows, columns=["asset_id", "out_w", "out_h", "pix_sum", "pix_mean"]
            )

    return (
        media.where(F.col("media_type") == "image")
        .select("asset_id", "payload")
        .mapInPandas(
            kernel,
            "asset_id long, out_w int, out_h int, pix_sum long, pix_mean double",
        )
    )


def media_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated real resize: the planted 16×16 sawtooth corpus
    downsampled 2× by nearest neighbor.  The oracle re-derives every
    resized pixel from the generative formula — pixel (r, c) of
    asset d is ((2c)·(17+13·(d mod 40)) + (2r)·7) mod 120 — so the
    decode + NN-sample + aggregate pipeline is verified value-exact,
    not just shape-exact."""
    media = _planted_corpus(spark, sf_dir, "image", lambda d: _planted_image_bytes(d % 40))
    return image_resize(media).orderBy("asset_id")


MEDIA_RESIZE_STATS_ORACLE = f"""
SELECT d.doc_id AS asset_id,
       CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
       CAST(SUM(((2*c.i)*(17 + 13*(d.doc_id % 40)) + (2*r.i)*7) % 120) AS BIGINT) AS pix_sum,
       CAST(SUM(((2*c.i)*(17 + 13*(d.doc_id % 40)) + (2*r.i)*7) % 120) AS DOUBLE) / 64 AS pix_mean
FROM documents d, unnest(range(0, 8)) r(i), unnest(range(0, 8)) c(i)
WHERE d.doc_id < {_PLANT_N}
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "multimodal_byte_stats": multimodal_byte_stats,
    "media_resize_stats": media_resize_stats,
    "media_phash_dedup": media_phash_dedup_query,
    "media_audio_dedup": media_audio_dedup_query,
    "media_video_dedup": media_video_dedup_query,
}

ORACLES = {
    "multimodal_byte_stats": MULTIMODAL_BYTE_STATS_ORACLE,
    "media_resize_stats": MEDIA_RESIZE_STATS_ORACLE,
    "media_phash_dedup": MEDIA_PHASH_DEDUP_ORACLE,
    "media_audio_dedup": MEDIA_AUDIO_DEDUP_ORACLE,
    "media_video_dedup": MEDIA_VIDEO_DEDUP_ORACLE,
}
