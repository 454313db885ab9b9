"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.8).

Payloads are opaque ``BinaryType`` columns with typed metadata. Each
decode / feature-extract step runs as an Arrow-batched ``mapInPandas``
(the scalable shape: executor-side, batch-at-a-time, no driver
round-trip). The codecs (PIL/ffmpeg/librosa) are NOT in this container,
so the decoders parse real BMP / PNG / WAV / AVI bytes with the stdlib
(``struct``, ``zlib``), and the ``synth_*`` payload builders make the
deterministic fixture media the queries decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id bigint, format string, width int, height int, channels int, "
    "sample_rate int, duration_ms int, payload_bytes int"
)


def _decode_bmp(p: bytes) -> tuple | None:
    """(width, height, channels) from a BITMAPINFOHEADER BMP, or None."""
    import struct

    if len(p) < 54 or p[:2] != b"BM":
        return None
    width, height = struct.unpack_from("<ii", p, 18)
    bpp = struct.unpack_from("<H", p, 28)[0]
    return width, abs(height), max(bpp // 8, 1)


def _decode_png(p: bytes) -> tuple | None:
    """(width, height, channels) from a PNG IHDR, or None. Channels per
    the color-type spec: 0 gray, 2 RGB, 3 palette, 4 gray+alpha,
    6 RGBA."""
    import struct

    if len(p) < 33 or p[:8] != b"\x89PNG\r\n\x1a\n" or p[12:16] != b"IHDR":
        return None
    width, height = struct.unpack_from(">II", p, 16)
    ctype = p[25]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        return None
    return width, height, channels


def _decode_wav(p: bytes) -> tuple | None:
    """(channels, sample_rate, duration_ms) from a RIFF/WAVE payload via
    a real chunk walk (fmt + data chunks located by id, not by fixed
    offset), or None."""
    import struct

    if len(p) < 44 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    channels = rate = bits = None
    data_size = None
    pos = 12
    while pos + 8 <= len(p):
        cid = p[pos : pos + 4]
        sz = struct.unpack_from("<I", p, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= len(p):
            channels = struct.unpack_from("<H", p, pos + 10)[0]
            rate = struct.unpack_from("<I", p, pos + 12)[0]
            bits = struct.unpack_from("<H", p, pos + 22)[0]
        elif cid == b"data":
            data_size = sz
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if not channels or not rate or not bits or data_size is None:
        return None
    n_samples = data_size // (channels * max(bits // 8, 1))
    return channels, rate, n_samples * 1000 // rate


def decode_media(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL binary media decode via mapInPandas: sniffs BMP / WAV magic
    bytes and parses actual header fields (stdlib struct — no codec
    libraries required). Non-applicable fields are 0 (not NULL — keeps
    the output engine-portable); unrecognized payloads get format
    'unknown'. Map-only: Arrow batches in, typed metadata out, no
    shuffle, partitioning preserved."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].values,
                "format": [],
                "width": [],
                "height": [],
                "channels": [],
                "sample_rate": [],
                "duration_ms": [],
                "payload_bytes": [len(p) for p in pdf[payload_col]],
            }
            for p in pdf[payload_col]:
                bmp = _decode_bmp(p)
                png = None if bmp else _decode_png(p)
                wav = None if bmp or png else _decode_wav(p)
                if bmp:
                    w, h, c = bmp
                    vals = ("bmp", w, h, c, 0, 0)
                elif png:
                    w, h, c = png
                    vals = ("png", w, h, c, 0, 0)
                elif wav:
                    c, r, ms = wav
                    vals = ("wav", 0, 0, c, r, ms)
                else:
                    vals = ("unknown", 0, 0, 0, 0, 0)
                for k, v in zip(
                    ("format", "width", "height", "channels", "sample_rate", "duration_ms"),
                    vals,
                ):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(decode_batches, schema=MEDIA_SCHEMA)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def synth_media_payload(doc_id: int) -> bytes:
    """Deterministic REAL media file for ``doc_id`` by ``id % 3``:

    0. 24-bpp BMP — width 1 + id%64, height 1 + (id//7)%48, zeroed
       pixels, spec-correct 4-byte row padding;
    1. canonical 44-byte-header 16-bit PCM WAV — channels 1 + id%2,
       rate 8000·(1 + id%3), samples 1 + id%500;
    2. RGB8 PNG — width 1 + id%32, height 1 + (id//5)%24; the IDAT is a
       real zlib stream using a STORED deflate block (+ adler32), so
       the file inflates with any decoder AND its byte length is a pure
       function of the dimensions (68 + h·(1 + 3w)) — what keeps
       payload_bytes oracle-expressible.

    All three are valid files — any external reader decodes them —
    which is what lets a DuckDB oracle recompute the decoded metadata
    from id arithmetic while Spark parses real bytes."""
    import struct
    import zlib

    m = doc_id % 3
    if m == 0:
        w = 1 + doc_id % 64
        h = 1 + (doc_id // 7) % 48
        row = ((24 * w + 31) // 32) * 4
        img = row * h
        header = struct.pack("<2sIHHI", b"BM", 54 + img, 0, 0, 54) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img, 2835, 2835, 0, 0
        )
        return header + b"\x00" * img
    if m == 1:
        channels = 1 + doc_id % 2
        rate = 8000 * (1 + doc_id % 3)
        n_samples = 1 + doc_id % 500
        data = n_samples * channels * 2
        return (
            struct.pack("<4sI4s", b"RIFF", 36 + data, b"WAVE")
            + struct.pack(
                "<4sIHHIIHH", b"fmt ", 16, 1, channels, rate, rate * channels * 2, channels * 2, 16
            )
            + struct.pack("<4sI", b"data", data)
            + b"\x00" * data
        )
    w = 1 + doc_id % 32
    h = 1 + (doc_id // 5) % 24
    raw = (b"\x00" + b"\x00\x00\x00" * w) * h  # filter byte + RGB per row
    idat = (
        b"\x78\x01"  # zlib header
        + struct.pack("<BHH", 1, len(raw), len(raw) ^ 0xFFFF)  # final stored block
        + raw
        + struct.pack(">I", zlib.adler32(raw))
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def with_synth_media_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with :func:`synth_media_payload` bytes per id —
    Arrow-batched map-only projection (the fixture generator for the
    hash-checked decode query and tests)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_media_payload(int(i)))

    return df.select(F.col(id_col), _synth(F.col(id_col)).alias("payload"))


def _mix64(x: int) -> int:
    """splitmix64 finalizer — a public-domain 64-bit mixer; gives each
    pattern base an effectively random 64-bit target hash."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


# Highest base pattern whose pairwise aHash separation the suite has
# verified (see synth_patterned_image's guard). 16384 bases covers
# doc_ids up to 65535 — beyond the sf1 scaling dataset's 50k docs.
_IMAGE_BASE_ENVELOPE = 16384


def synth_patterned_image(doc_id: int) -> bytes:
    """Deterministic 24-bpp BMP whose CONTENT is an 8×8-cell black/white
    pattern — the near-dup fixture for perceptual hashing.

    base = doc_id // 4 picks the 64-bit cell pattern (splitmix64(base));
    variant = doc_id % 4 > 0 inverts ONE cell ((variant·17) % 64), so the
    four ids of a base are pairwise ≤ 2 aHash bits apart while distinct
    bases are ~32 bits apart. Dimensions VARY per id (16..72 px per
    axis) — the pattern is defined on the 8×8 cell grid, so the same
    base renders near-identically at any size: resize invariance is the
    property perceptual hashes exist for, and tests pin it."""
    import struct

    import numpy as np

    base, variant = doc_id // 4, doc_id % 4
    # Generation-time guard: the image_ahash_near_dups oracle enumerates
    # SAME-base pairs only, which is sound iff every pair of base
    # patterns sits > max_hamming + 2 = 5 bits apart (each variant can
    # spend 1 bit). tests/test_operators.py::
    # test_ahash_fixture_base_patterns_well_separated verifies exactly
    # that for every base below _IMAGE_BASE_ENVELOPE (min pairwise
    # Hamming over all 16384² pairs is 11); refusing to synthesize
    # beyond the verified envelope makes the separation hold BY
    # CONSTRUCTION, not by splitmix64 luck, if a future dataset
    # outgrows the fixture range. (Round 8 raised it 2000 → 16384 when
    # the sf1 scaling dataset's 50k docs = 12.5k bases hit the gate.)
    if base >= _IMAGE_BASE_ENVELOPE:
        raise ValueError(
            f"doc_id {doc_id}: base {base} outside the separation-verified "
            f"range [0, {_IMAGE_BASE_ENVELOPE}) — extend the "
            "pairwise-Hamming test first"
        )
    bits = _mix64(base)
    if variant:
        bits ^= 1 << ((variant * 17) % 64)
    w = 16 + (doc_id % 8) * 7
    h = 16 + ((doc_id // 8) % 8) * 7
    row_sz = ((24 * w + 31) // 32) * 4
    # vectorized render (~30× the per-pixel loop, byte-identical):
    # shared cell renderer, RGB repeat, bottom-up row order per the BMP
    # spec, zero-padded rows to 4-byte alignment
    vals = _render_cells(bits, w, h)  # top-down grid
    img = np.zeros((h, row_sz), dtype=np.uint8)
    img[:, : 3 * w] = np.repeat(vals[::-1], 3, axis=1)
    header = struct.pack("<2sIHHI", b"BM", 54 + img.size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img.size, 2835, 2835, 0, 0
    )
    return header + img.tobytes()


def _parse_bmp24(p: bytes):
    """(top-down h×w×3 uint8 array, w, h) from a 24-bpp BMP, or None if
    the payload is not a well-formed 24-bpp BMP (wrong magic, non-24
    bpp, or pixel array truncated). Honors bfOffBits (bytes 10-13) —
    pixel data need not start at byte 54 (V4/V5 headers, palette gaps)
    — and the bottom-up row order the spec mandates for positive
    heights."""
    import struct

    import numpy as np

    if len(p) < 54 or p[:2] != b"BM":
        return None
    off = struct.unpack_from("<I", p, 10)[0]
    w, hh = struct.unpack_from("<ii", p, 18)
    bpp = struct.unpack_from("<H", p, 28)[0]
    if w <= 0 or hh == 0 or bpp != 24:
        return None
    h = abs(hh)
    row_sz = ((24 * w + 31) // 32) * 4
    if off < 54 or len(p) < off + row_sz * h:
        return None
    raw = np.frombuffer(p, dtype=np.uint8, count=row_sz * h, offset=off)
    rows = raw.reshape(h, row_sz)[:, : 3 * w].reshape(h, w, 3)
    if hh > 0:
        rows = rows[::-1]  # bottom-up storage → top-down grid
    return rows, w, h


def _encode_bmp24(rows) -> bytes:
    """Top-down h×w×3 uint8 array → a spec-correct 24-bpp BMP
    (BITMAPINFOHEADER, 4-byte-aligned bottom-up rows)."""
    import struct

    import numpy as np

    h, w = rows.shape[0], rows.shape[1]
    row_sz = ((24 * w + 31) // 32) * 4
    img = np.zeros((h, row_sz), dtype=np.uint8)
    img[:, : 3 * w] = rows[::-1].reshape(h, 3 * w)
    header = struct.pack("<2sIHHI", b"BM", 54 + img.size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img.size, 2835, 2835, 0, 0
    )
    return header + img.tobytes()


def _render_cells(bits: int, w: int, h: int):
    """h×w uint8 grid rendering a 64-bit cell pattern (pixel 255 where
    its 8×8-grid cell's bit is set) — the ONE fixture renderer shared by
    the patterned BMP/AVI/counting synths, so their oracle constants can
    never drift apart."""
    import numpy as np

    bitarr = np.array([(bits >> i) & 1 for i in range(64)], dtype=np.uint8)
    cx = (np.arange(w) * 8) // w
    cy = (np.arange(h) * 8) // h
    return bitarr[cy[:, None] * 8 + cx[None, :]] * np.uint8(255)


def _cell_bright(gray, w: int, h: int):
    """8×8 bool matrix: CELL-CENTER samples of a top-down grayscale grid
    thresholded against the 64-cell mean — the shared aHash kernel core
    (image_ahash / sample_frames_real / image_features all hash through
    this one function; see the cell-center rationale in image_ahash)."""
    import numpy as np

    ys = (2 * np.arange(8) + 1) * h // 16
    xs = (2 * np.arange(8) + 1) * w // 16
    cells = gray[np.ix_(ys, xs)]
    return cells > cells.mean()


def _pack_bits64(flat) -> int:
    """64 bools → one SIGNED int64 (bit 63 is the sign wrap)."""
    hv = 0
    for b in range(64):
        if flat[b]:
            hv |= 1 << b
    return hv - (1 << 64) if hv >= 1 << 63 else hv


def _with_synth(df: DataFrame, synth, id_col: str) -> DataFrame:
    """(id, payload) with ``synth(id)`` bytes per row — the shared
    Arrow-batched fixture-generator wrapper."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth(int(i)))

    return df.select(F.col(id_col), _gen(F.col(id_col)).alias("payload"))


RESIZE_REAL_SCHEMA = (
    "doc_id bigint, payload binary, out_w int, out_h int, out_bytes int"
)


def resize_images(
    df: DataFrame,
    target_w_col: str,
    target_h_col: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL image resize for 24-bpp BMP payloads (nearest-neighbor,
    pixel-center sampling): decode the actual pixel grid, resample to
    the target, re-encode a valid BMP. Targets are PER-ROW integer
    columns (target_w_col/target_h_col — the dataloader shape, where
    each image carries its own bucketed resolution). This replaces the
    resize STUB for the one format this container can decode without
    external codecs — the mapInPandas shape (Arrow batches, map-only,
    no shuffle) is exactly what a PIL/ffmpeg-backed kernel drops into.
    Non-BMP / corrupt payloads are dropped (codec gate)."""
    import numpy as np

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # pixel-center nearest index vectors, keyed (src_dim, dst_dim)
        idx_cache: dict[tuple[int, int], object] = {}

        def centers(src: int, dst: int):
            v = idx_cache.get((src, dst))
            if v is None:
                v = idx_cache[(src, dst)] = (2 * np.arange(dst) + 1) * src // (
                    2 * dst
                )
            return v

        for pdf in batches:
            tws = pdf[target_w_col].astype(int)
            ths = pdf[target_h_col].astype(int)
            ids, payloads, ows, ohs = [], [], [], []
            for i, p, tw, th in zip(pdf[id_col], pdf[payload_col], tws, ths):
                parsed = _parse_bmp24(bytes(p))
                if parsed is None:
                    continue
                rows, w, h = parsed
                out = rows[np.ix_(centers(h, int(th)), centers(w, int(tw)))]
                ids.append(int(i))
                payloads.append(_encode_bmp24(out))
                ows.append(int(tw))
                ohs.append(int(th))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "payload": payloads,
                        "out_w": ows,
                        "out_h": ohs,
                        "out_bytes": [len(b) for b in payloads],
                    }
                )

    return df.select(id_col, payload_col, target_w_col, target_h_col).mapInPandas(
        resize_batches, RESIZE_REAL_SCHEMA
    )


AHASH_SCHEMA = "doc_id bigint, ahash bigint, bands array<int>"


def image_ahash(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """64-bit average-hash (aHash) per image, decoded from REAL BMP
    bytes — the image-dedup analogue of SimHash for text: map-only
    mapInPandas (no shuffle), numpy per batch.

    Kernel: parse the BITMAPINFOHEADER, rebuild the pixel grid
    (bottom-up rows, 4-byte row padding), grayscale by channel mean,
    NEAREST-sample an 8×8 grid (resize invariance), threshold each cell
    against the 64-cell mean → one bit each → a signed int64. ``bands``
    carries the four 16-bit slices for pigeonhole blocking: two hashes
    within Hamming 3 must agree on ≥1 band, so the candidate join keys
    on (band_idx, band_value) — synthetic keys, never pixel data, and
    only (id, hash) rows ever shuffle. Non-BMP payloads are dropped
    (codec gate, same policy as decode_media)."""
    import numpy as np

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, bands = [], [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                parsed = _parse_bmp24(bytes(p))
                if parsed is None:
                    continue  # non-BMP / truncated payload: drop, don't crash
                rows, w, h = parsed
                gray = rows.astype(np.float64).mean(axis=2)
                # CELL-CENTER sampling (shared _cell_bright): for any
                # dimension ≥ 16 the center pixel of grid cell k maps
                # back to cell k under the x*8//w cell function (corner
                # sampling does not — e.g. w=30: floor(floor(30/8)*8/30)
                # = 0, cell 1 missed)
                hv = _pack_bits64(_cell_bright(gray, w, h).ravel())
                ids.append(int(i))
                hashes.append(hv)
                bands.append(
                    [int((hv >> (16 * k)) & 0xFFFF) for k in range(4)]
                )
            if ids:  # an all-dropped batch must yield nothing: an empty
                # object-dtype frame can't coerce to list<int> in Arrow
                yield pd.DataFrame(
                    {"doc_id": ids, "ahash": hashes, "bands": bands}
                )

    return df.select(id_col, payload_col).mapInPandas(hash_batches, AHASH_SCHEMA)


def image_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id_a, id_b, hamming) image near-dup pairs by aHash: band-blocked
    candidate self-join (pigeonhole-complete at radius 3 with 4×16-bit
    bands) + exact bit_count(xor) verify in Catalyst. The self-join keys
    on (band_idx, band_value) — the image-dedup shape that survives a
    corpus: candidates are per-band buckets, never all-pairs."""
    if max_hamming > 3:
        # 4 bands pigeonhole ≤3 differing bits into ≥1 identical band;
        # at radius 4 the diffs can hit all four bands and valid pairs
        # silently vanish from the candidate set (review r8). Radius
        # >3 needs more bands, not a silent recall cliff.
        raise ValueError(
            f"image_near_dups: max_hamming={max_hamming} exceeds the "
            "4-band pigeonhole guarantee (complete only for <= 3)"
        )
    sig = image_ahash(df, id_col, payload_col).localCheckpoint()
    bk = sig.select(
        "doc_id", "ahash", F.posexplode("bands").alias("band_idx", "band_val")
    )
    a = bk.select(
        F.col("doc_id").alias("id_a"), F.col("ahash").alias("ha"),
        "band_idx", "band_val",
    )
    b = bk.select(
        F.col("doc_id").alias("id_b"), F.col("ahash").alias("hb"),
        "band_idx", "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def with_patterned_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with :func:`synth_patterned_image` bytes per id —
    the content-bearing image fixture for perceptual-hash tests and the
    hash-checked near-dup query."""
    return _with_synth(df, synth_patterned_image, id_col)


def _parse_wav_pcm16(p: bytes):
    """(int16 sample array, channels, sample_rate) from a RIFF/WAVE
    16-bit PCM payload via a real chunk walk, or None. Same traversal
    contract as _decode_wav, but returns the DATA, not just metadata."""
    import struct

    import numpy as np

    if len(p) < 44 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    channels = rate = bits = None
    data_off = data_size = None
    pos = 12
    while pos + 8 <= len(p):
        cid = p[pos : pos + 4]
        sz = struct.unpack_from("<I", p, pos + 4)[0]
        if cid == b"fmt " and pos + 24 <= len(p):
            channels = struct.unpack_from("<H", p, pos + 10)[0]
            rate = struct.unpack_from("<I", p, pos + 12)[0]
            bits = struct.unpack_from("<H", p, pos + 22)[0]
        elif cid == b"data":
            data_off, data_size = pos + 8, sz
        pos += 8 + sz + (sz & 1)
    if not channels or not rate or bits != 16 or data_off is None:
        return None
    if len(p) < data_off + data_size:
        return None  # truncated payload: drop, don't crash
    samples = np.frombuffer(p, dtype="<i2", count=data_size // 2, offset=data_off)
    return samples, channels, rate


def synth_patterned_wav(doc_id: int) -> bytes:
    """Deterministic mono 16-bit PCM WAV whose CONTENT is a square wave
    — the fixture for REAL audio feature extraction: amplitude
    A = 1000 + (id % 7)·100, half-period h = 2 + id % 6 samples,
    n = 800 + (id % 50)·16 samples at rate 8000·(1 + id % 3). Every
    feature a DSP kernel computes from these bytes (RMS = A exactly —
    square wave; zero crossings = ⌊(n−1)/h⌋; peak = A; duration) is
    derivable from id arithmetic, so a DuckDB oracle can check the
    kernel end-to-end."""
    import struct

    import numpy as np

    amp = 1000 + (doc_id % 7) * 100
    half = 2 + doc_id % 6
    n = 800 + (doc_id % 50) * 16
    rate = 8000 * (1 + doc_id % 3)
    i = np.arange(n)
    samples = np.where((i // half) % 2 == 0, amp, -amp).astype("<i2")
    data = samples.tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def with_patterned_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with :func:`synth_patterned_wav` bytes per id."""
    return _with_synth(df, synth_patterned_wav, id_col)


AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, n_samples int, sample_rate int, duration_ms int, "
    "rms int, peak int, zero_crossings int"
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio feature extraction from PCM bytes (the DSP analogue of
    the real BMP decode): RIFF chunk walk → int16 samples → RMS energy,
    peak amplitude, zero-crossing count, duration — numpy per Arrow
    batch, map-only, no shuffle. RMS is rounded to the nearest int (an
    exact integer for the square-wave fixture, so it hash-checks);
    non-WAV / non-PCM16 / truncated payloads are dropped (codec gate)."""
    import numpy as np

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "sample_rate", "duration_ms",
                "rms", "peak", "zero_crossings",
            )}
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                parsed = _parse_wav_pcm16(bytes(p))
                if parsed is None:
                    continue
                samples, channels, rate = parsed
                if len(samples) == 0:
                    continue
                x = samples.astype(np.float64)
                # RMS and peak are sample-order-invariant (fine over the
                # interleaved stream: overall energy / absolute peak);
                # zero crossings are NOT — de-interleave and count per
                # channel, or a stereo file with L>0, R<0 would report
                # ~n crossings where the true per-channel count is 0.
                n_frames_audio = len(x) // channels
                ch = x[: n_frames_audio * channels].reshape(
                    n_frames_audio, channels
                )
                zc = int(
                    np.count_nonzero(
                        np.signbit(ch[1:]) != np.signbit(ch[:-1])
                    )
                )
                out["doc_id"].append(int(i))
                out["n_samples"].append(n_frames_audio)
                out["sample_rate"].append(rate)
                out["duration_ms"].append(n_frames_audio * 1000 // rate)
                out["rms"].append(int(np.sqrt(np.mean(x * x)) + 0.5))
                out["peak"].append(int(np.max(np.abs(x))))
                out["zero_crossings"].append(zc)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        feature_batches, AUDIO_FEATURES_SCHEMA
    )


def _frame_pattern_bits(doc_id: int, frame: int) -> int:
    """63-bit cell pattern for (doc, frame): bit c set iff
    (c + doc_id + frame) % 3 == 0 and c < 63 — simple enough for a SQL
    oracle to rebuild, non-trivial enough that only a kernel reading the
    actual frame pixels reproduces it (bit 63 stays 0 so the hash is
    always a positive int64)."""
    bits = 0
    for c in range(63):
        if (c + doc_id + frame) % 3 == 0:
            bits |= 1 << c
    return bits


_FRAME_CACHE: dict[int, bytes] = {}


def synth_patterned_avi(doc_id: int) -> bytes:
    """Deterministic UNCOMPRESSED AVI (RIFF 'AVI ': hdrl with avih +
    strl(strh,strf), movi with one '00db' DIB chunk per frame) —
    4 + id%5 frames of 16×16 24-bpp video, frame f rendering the
    _frame_pattern_bits(id, f) cell pattern. A spec-correct container:
    any AVI reader walks the same chunks the frame sampler does."""
    import struct

    import numpy as np

    w = h = 16
    n_frames = 4 + doc_id % 5
    row_sz = ((24 * w + 31) // 32) * 4
    frame_sz = row_sz * h

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) & 1))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    # the pattern depends only on (doc_id + f) % 3 — exactly three
    # distinct frame images exist; render each residue once per process
    frames = []
    for f in range(n_frames):
        r = (doc_id + f) % 3
        cached = _FRAME_CACHE.get(r)
        if cached is None:
            vals = _render_cells(_frame_pattern_bits(r, 0), w, h)
            img = np.zeros((h, row_sz), dtype=np.uint8)
            img[:, : 3 * w] = np.repeat(vals[::-1], 3, axis=1)  # bottom-up DIB
            cached = _FRAME_CACHE[r] = img.tobytes()
        frames.append(chunk(b"00db", cached))

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        66666, frame_sz, 0, 0, n_frames, 0, 1, frame_sz, w, h, 0, 0, 0, 0,
    )
    # AVISTREAMHEADER is 56 bytes: 2 fourccs + 11 dwords + 2 shorts of
    # rcFrame padding + the full 8-byte rcFrame (the final <4h below)
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII4h",
                                        0, 0, 0,          # flags, prio, lang
                                        0, 1, 15,         # init, scale, rate
                                        0, n_frames,      # start, length
                                        frame_sz, 0, 0,   # bufsize, quality, samplesize
                                        0, 0, w, h)       # rcFrame
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_sz, 2835, 2835, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def with_patterned_avi(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with :func:`synth_patterned_avi` bytes per id."""
    return _with_synth(df, synth_patterned_avi, id_col)


FRAME_SAMPLE_REAL_SCHEMA = (
    "doc_id bigint, frame_idx int, n_frames int, frame_bytes int, ahash bigint"
)


def sample_frames_real(
    df: DataFrame,
    every: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame sampling from uncompressed AVI payloads: a true
    RIFF walk (hdrl → strf for dimensions, movi → '00db'/'00dc' DIB
    chunks for frames), keep every ``every``-th frame, and compute each
    kept frame's 64-bit aHash from its ACTUAL pixels (same cell-center
    kernel as image_ahash). Map-only mapInPandas — the shape a real
    ffmpeg-backed sampler drops into; non-AVI / truncated payloads are
    dropped (codec gate)."""
    import struct

    import numpy as np

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "n_frames", "frame_bytes", "ahash",
            )}
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                p = bytes(p)
                if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"AVI ":
                    continue
                w = h = None
                frames: list[bytes] = []

                def scan(start: int, end: int, depth: int = 0) -> None:
                    nonlocal w, h
                    if depth > 16:
                        return  # crafted nested-LIST payload: stop, don't recurse out
                    pos = start
                    while pos + 8 <= end:
                        cid = p[pos : pos + 4]
                        sz = struct.unpack_from("<I", p, pos + 4)[0]
                        body_end = min(pos + 8 + sz, end)
                        if cid == b"LIST" and pos + 12 <= end:
                            scan(pos + 12, body_end, depth + 1)
                        elif cid == b"strf" and sz >= 40 and pos + 20 <= len(p):
                            sw, sh = struct.unpack_from("<ii", p, pos + 8 + 4)
                            if sw > 0 and sh != 0:  # reject crafted dims
                                w, h = sw, sh
                        elif cid in (b"00db", b"00dc"):
                            frames.append(p[pos + 8 : body_end])
                        pos += 8 + sz + (sz & 1)

                scan(12, min(12 + struct.unpack_from("<I", p, 4)[0] - 4, len(p)))
                if not w or not h or not frames:
                    continue
                h = abs(h)
                row_sz = ((24 * w + 31) // 32) * 4
                for fi in range(0, len(frames), every):
                    fb = frames[fi]
                    if len(fb) < row_sz * h:
                        continue
                    raw = np.frombuffer(fb, dtype=np.uint8, count=row_sz * h)
                    rows = raw.reshape(h, row_sz)[:, : 3 * w].reshape(h, w, 3)[::-1]
                    gray = rows.astype(np.float64).mean(axis=2)
                    hv = _pack_bits64(_cell_bright(gray, w, h).ravel())
                    out["doc_id"].append(int(i))
                    out["frame_idx"].append(fi)
                    out["n_frames"].append(len(frames))
                    out["frame_bytes"].append(len(fb))
                    out["ahash"].append(hv)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        walk, FRAME_SAMPLE_REAL_SCHEMA
    )


def synth_counting_image(doc_id: int) -> bytes:
    """16×16 24-bpp BMP rendering the ``(c + doc_id) % 3 == 0`` cell
    pattern (the same rule the AVI frames use at frame 0) — the fixture
    for REAL image feature extraction, whose per-quadrant cell counts
    collapse to closed-form constants by doc_id % 3."""
    import numpy as np

    vals = _render_cells(_frame_pattern_bits(doc_id, 0), 16, 16)
    rows = np.repeat(vals[:, :, None], 3, axis=2)
    return _encode_bmp24(rows)


def with_counting_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, payload) with :func:`synth_counting_image` bytes per id."""
    return _with_synth(df, synth_counting_image, id_col)


IMAGE_FEATURES_SCHEMA = (
    "doc_id bigint, q0 int, q1 int, q2 int, q3 int, bright_cells int"
)


def image_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL image feature extraction from BMP pixels: decode the grid,
    cell-center sample 8×8, threshold against the cell mean, and emit
    the per-QUADRANT bright-cell histogram (4 spatial bins + total) —
    the quadrant-histogram shape classic CBIR/near-dup features use,
    computed from actual bytes, map-only, no shuffle. Non-BMP /
    truncated payloads are dropped (codec gate)."""
    import numpy as np

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "q0", "q1", "q2", "q3", "bright_cells")}
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                parsed = _parse_bmp24(bytes(p))
                if parsed is None:
                    continue
                rows, w, h = parsed
                gray = rows.astype(np.float64).mean(axis=2)
                bright = _cell_bright(gray, w, h)
                out["doc_id"].append(int(i))
                qs = [
                    int(bright[4 * (q // 2) : 4 * (q // 2) + 4,
                               4 * (q % 2) : 4 * (q % 2) + 4].sum())
                    for q in range(4)
                ]
                for q in range(4):
                    out[f"q{q}"].append(qs[q])
                out["bright_cells"].append(sum(qs))
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        feature_batches, IMAGE_FEATURES_SCHEMA
    )
