"""Pure-Python baseline TIFF 6.0 codec (decode + fixture writer).

Closes most of the remaining image-format tail after PNG/JPEG
(round-4 verdict "What's missing" #4): scanned-book corpora — the
reference's own domain — ship TIFF masters, and this container has no
PIL. Scope is the baseline subset that covers them:

- both byte orders (``II`` little / ``MM`` big endian);
- classic 32-bit IFDs (no BigTIFF); multiple IFDs ignored beyond the
  first (page 1, same cap philosophy as the PDF S4 path);
- 8 bits per sample; PhotometricInterpretation 0 (WhiteIsZero,
  inverted), 1 (BlackIsZero), 2 (RGB, SamplesPerPixel >= 3 with extra
  samples dropped), 3 (palette via ColorMap, 16-bit entries scaled);
- Compression 1 (none), 5 (LZW per TIFF 6.0 §13: MSB-first bit
  packing, ClearCode 256 / EOI 257, the spec's EARLY code-width change
  at table sizes 511/1023/2047, Clear emitted at 4094), 8 (Deflate,
  the TIFF-F/Adobe extension: one zlib stream per strip/tile; legacy
  code 32946 decoded identically), and 32773 (PackBits), all
  per-strip; Predictor 2 (horizontal differencing, §14) honored on
  decode and available on encode;
- strip layout (StripOffsets/StripByteCounts/RowsPerStrip) AND §15
  tiled layout (TileWidth/TileLength/TileOffsets/TileByteCounts, edge
  tiles padded to full size, predictor applied per tile row).

Decoder contract (same as every codec here): malformed or
out-of-subset input raises ``ValueError`` only; the hypothesis fuzz
test enforces no other exception escapes. The writer emits
standards-shaped bytes for fixtures/oracle queries; external fixtures
in tests/test_tiff_codec.py are hand-assembled from the spec's IFD
byte layout so the writer<->decoder loop is broken.
"""

from __future__ import annotations

import struct
import zlib
from typing import List, Optional

import numpy as np

# TIFF tag ids (TIFF 6.0 spec §8)
TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SAMPLES = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_COLORMAP = 320
TAG_PREDICTOR = 317
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I"}


def packbits_decode(data: bytes, expected: Optional[int] = None) -> bytes:
    """PackBits (TIFF 6.0 §9): n in 0..127 -> copy n+1 literals;
    n in -127..-1 -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:  # literal run
            if i + b + 1 > n:
                raise ValueError("PackBits literal run overruns data")
            out += data[i : i + b + 1]
            i += b + 1
        elif b > 128:  # replicate run of 257 - b
            if i >= n:
                raise ValueError("PackBits replicate run missing byte")
            out += bytes([data[i]]) * (257 - b)
            i += 1
        # b == 128: no-op
        if expected is not None and len(out) > expected:
            raise ValueError("PackBits output exceeds expected strip size")
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Simple spec-correct PackBits: replicate runs of >= 3, literals
    otherwise (max 128 per run either way)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        # literal run: until the next >=3 replicate or 128 bytes
        j = i
        while j < n and j - i < 128:
            run = 1
            while j + run < n and run < 3 and data[j + run] == data[j]:
                run += 1
            if run >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_decode(data: bytes, expected: Optional[int] = None) -> bytes:
    """TIFF 6.0 §13 LZW: 9..12-bit codes packed MSB-first, table reset on
    ClearCode, and the spec's EARLY width change — the decoder widens when
    the table reaches 510/1022/2046 entries-beyond-literals plus specials
    (i.e. one code earlier than GIF), matching the encoder's "switch when
    the table size hits 511/1023/2047 AFTER adding" rule as seen from the
    side that is one entry behind."""
    out = bytearray()
    table: List[bytes] = []
    width = 9
    prev: Optional[bytes] = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                # data exhausted without EOI: accept only if the caller
                # told us the payload size and we produced exactly it
                # (some writers omit EOI). Without `expected` there is no
                # way to tell a complete payload from a truncation, so a
                # missing EOI is an error — not a silent partial return.
                if expected is None or len(out) != expected:
                    raise ValueError("LZW stream truncated")
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == _LZW_CLEAR:
            table = []
            width = 9
            prev = None
            continue
        if code == _LZW_EOI:
            break
        if prev is None:
            if code > 255:
                raise ValueError(f"LZW: first code after clear is {code}")
            entry = bytes([code])
        elif code < 256:
            entry = bytes([code])
        elif code - 258 < len(table):
            entry = table[code - 258]
        elif code - 258 == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"LZW: code {code} beyond table")
        out += entry
        if expected is not None and len(out) > expected:
            raise ValueError("LZW output exceeds expected strip size")
        if prev is not None:
            table.append(prev + entry[:1])
            # early change: encoder widened when its table (258 + added)
            # reached 511/1023/2047; the decoder is one entry behind
            if 258 + len(table) in (510, 1022, 2046) and width < 12:
                width += 1
        prev = entry
    if expected is not None and len(out) != expected:
        raise ValueError(
            f"LZW strip decoded {len(out)} bytes, expected {expected}"
        )
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """Matched TIFF §13 LZW writer: emits ClearCode first, widens at table
    sizes 511/1023/2047 (early change), resets at 4094."""
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    width = 9
    put(_LZW_CLEAR, width)
    table: dict = {bytes([i]): i for i in range(256)}
    next_code = 258
    omega = b""
    for b in data:
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        put(table[omega], width)
        table[cand] = next_code
        next_code += 1
        if next_code in (511, 1023, 2047):
            width += 1
        omega = bytes([b])
        if next_code == 4094:
            put(table[omega], width)
            put(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
            omega = b""
    if omega:
        put(table[omega], width)
    put(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _undo_predictor2(strip: bytes, n_rows: int, width: int, samples: int) -> bytes:
    """TIFF §14 Predictor 2 (horizontal differencing): each sample stores
    the delta to the same sample one pixel left; undo = cumsum mod 256."""
    a = np.frombuffer(strip, dtype=np.uint8).reshape(n_rows, width, samples)
    return np.cumsum(a, axis=1, dtype=np.uint8).tobytes()


def _apply_predictor2(strip: bytes, n_rows: int, width: int, samples: int) -> bytes:
    a = (
        np.frombuffer(strip, dtype=np.uint8)
        .reshape(n_rows, width, samples)
        .astype(np.int16)
    )
    d = np.diff(a, axis=1, prepend=a[:, :1, :])
    d[:, 0, :] = a[:, 0, :]
    return (d % 256).astype(np.uint8).tobytes()


def _read_ifd(data: bytes, bo: str, off: int) -> dict:
    if off + 2 > len(data):
        raise ValueError("IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(bo + "H", data, off)
    entries = {}
    pos = off + 2
    if pos + n_entries * 12 + 4 > len(data):
        raise ValueError("truncated IFD")
    for _ in range(n_entries):
        tag, typ, count = struct.unpack_from(bo + "HHI", data, pos)
        size = _TYPE_SIZE.get(typ)
        if size is None:  # unknown type: skip per spec
            pos += 12
            continue
        total = size * count
        if total <= 4:
            raw = data[pos + 8 : pos + 8 + total]
        else:
            (voff,) = struct.unpack_from(bo + "I", data, pos + 8)
            if voff + total > len(data):
                raise ValueError(f"tag {tag} value out of bounds")
            raw = data[voff : voff + total]
        if typ in _TYPE_FMT:
            vals = list(struct.unpack(bo + _TYPE_FMT[typ] * count, raw))
        else:
            vals = [raw]
        entries[tag] = vals
        pos += 12
    return entries


def tiff_to_pixels(data: bytes) -> "np.ndarray":
    """TIFF bytes -> uint8 pixel array: (h, w) for grayscale, (h, w, 3)
    for RGB/palette. ValueError on malformed or out-of-subset input."""
    if len(data) < 8:
        raise ValueError("not a TIFF: too short")
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad magic")
    try:
        (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
        e = _read_ifd(data, bo, ifd_off)
    except struct.error as ex:
        raise ValueError(f"truncated TIFF header: {ex}") from ex

    def one(tag, default=None):
        v = e.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return int(v[0])

    width, height = one(TAG_WIDTH), one(TAG_HEIGHT)
    if width <= 0 or height <= 0 or width * height > 64_000_000:
        raise ValueError(f"unreasonable TIFF dimensions {width}x{height}")
    samples = one(TAG_SAMPLES, 1)
    bits = [int(b) for b in e.get(TAG_BITS, [8])]
    bilevel = bits == [1]
    if not bilevel and any(b != 8 for b in bits):
        raise ValueError(f"only 1 or 8 bits/sample supported, got {bits}")
    if bilevel and samples != 1:
        raise ValueError("bilevel TIFF must have exactly 1 sample/pixel")
    comp = one(TAG_COMPRESSION, 1)
    if comp not in (1, 5, 8, 32773, 32946):
        raise ValueError(f"unsupported TIFF compression {comp}")
    predictor = one(TAG_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if predictor == 2 and bilevel:
        raise ValueError("predictor 2 is not defined for bilevel TIFF")
    photometric = one(TAG_PHOTOMETRIC, 1)

    def decompress(blob: bytes, n_rows: int, n_cols: int, label: str) -> "np.ndarray":
        """One strip/tile -> (n_rows, n_cols, samples) uint8 array.
        Bilevel rows are bit-packed MSB-first and padded per ROW to a
        byte boundary (spec §8 ImageWidth note); 0/1 scales to 0/255
        so the photometric handling downstream is shared with 8-bit."""
        row_bytes = (n_cols + 7) // 8 if bilevel else n_cols * samples
        expected = n_rows * row_bytes
        if comp == 32773:
            blob = packbits_decode(blob, expected)
        elif comp == 5:
            blob = lzw_decode(blob, expected)
        elif comp in (8, 32946):
            # Deflate (TIFF-F / Adobe extension; 32946 is the legacy
            # pre-registration code with identical semantics): one raw
            # zlib stream per segment
            try:
                blob = zlib.decompress(blob)
            except zlib.error as ex:
                raise ValueError(f"{label}: bad deflate stream: {ex}") from ex
        if len(blob) < expected:
            raise ValueError(f"{label} short: {len(blob)} < {expected} bytes")
        blob = blob[:expected]
        if predictor == 2:
            # §14: differencing is per ROW of the segment — a tile's rows
            # are tile-width long, not image-width
            blob = _undo_predictor2(blob, n_rows, n_cols, samples)
        if bilevel:
            a = np.frombuffer(blob, dtype=np.uint8).reshape(n_rows, row_bytes)
            bits01 = np.unpackbits(a, axis=1)[:, :n_cols]
            return (bits01 * np.uint8(255)).astype(np.uint8)[:, :, None]
        return np.frombuffer(blob, dtype=np.uint8).reshape(n_rows, n_cols, samples)

    if TAG_TILE_WIDTH in e:
        # §15 tiled layout: a grid of tw x tl tiles, EVERY tile padded to
        # full size (edge tiles carry junk padding that is clipped here)
        tw = one(TAG_TILE_WIDTH)
        tl = one(TAG_TILE_LENGTH)
        if tw <= 0 or tl <= 0 or tw * tl > 64_000_000:
            raise ValueError(f"unreasonable TIFF tile size {tw}x{tl}")
        offsets = e.get(TAG_TILE_OFFSETS)
        counts = e.get(TAG_TILE_COUNTS)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("missing or mismatched tile offsets/counts")
        across = -(-width // tw)
        down = -(-height // tl)
        if len(offsets) != across * down:
            raise ValueError(
                f"tile count {len(offsets)} != grid {across}x{down}"
            )
        px = np.zeros((height, width, samples), dtype=np.uint8)
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            off, cnt = int(off), int(cnt)
            if off + cnt > len(data):
                raise ValueError(f"tile {i} out of bounds")
            t = decompress(data[off : off + cnt], tl, tw, f"tile {i}")
            y0 = (i // across) * tl
            x0 = (i % across) * tw
            ys, xs = min(tl, height - y0), min(tw, width - x0)
            px[y0 : y0 + ys, x0 : x0 + xs] = t[:ys, :xs]
    else:
        offsets = e.get(TAG_STRIP_OFFSETS)
        counts = e.get(TAG_STRIP_COUNTS)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("missing or mismatched strip offsets/counts")
        rows_per_strip = one(TAG_ROWS_PER_STRIP, height)

        parts = []
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            off, cnt = int(off), int(cnt)
            if off + cnt > len(data):
                raise ValueError(f"strip {i} out of bounds")
            n_rows = min(rows_per_strip, height - i * rows_per_strip)
            if n_rows <= 0:
                raise ValueError("more strips than image rows")
            parts.append(
                decompress(data[off : off + cnt], n_rows, width, f"strip {i}")
            )
        px = np.vstack(parts)

    if photometric == 2:  # RGB (+ extra samples dropped)
        if samples < 3:
            raise ValueError("RGB photometric needs >= 3 samples/pixel")
        return px[:, :, :3].copy()
    if photometric == 3:  # palette
        cmap = e.get(TAG_COLORMAP)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("palette TIFF without a 256-entry ColorMap")
        # ColorMap stores 16-bit values, all reds then greens then blues
        table = (
            np.array(cmap, dtype=np.uint32).reshape(3, 256).T >> 8
        ).astype(np.uint8)
        return table[px[:, :, 0]]
    gray = px[:, :, 0]
    if photometric == 0:  # WhiteIsZero
        gray = (255 - gray.astype(np.int16)).astype(np.uint8)
    elif photometric != 1:
        raise ValueError(f"unsupported photometric {photometric}")
    return gray.copy()


def pixels_to_tiff(
    px: "np.ndarray",
    compression: int = 1,
    byte_order: str = "<",
    rows_per_strip: Optional[int] = None,
    predictor: int = 1,
    tile_size: "Optional[tuple]" = None,
) -> bytes:
    """uint8 pixels ((h, w) gray or (h, w, 3) RGB) -> baseline TIFF bytes
    (fixture writer; strip layout or §15 tiles via ``tile_size=(tw, tl)``,
    optional PackBits or LZW §13 with optional horizontal-differencing
    predictor, either byte order). Edge tiles are zero-padded to full
    tile size per the spec."""
    if compression not in (1, 5, 8, 32773):
        raise ValueError(
            f"writer supports compression 1/5/8/32773, not {compression}"
        )
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 (none) or 2 (horizontal)")
    bilevel = np.asarray(px).dtype == np.bool_
    if bilevel and np.asarray(px).ndim != 2:
        raise ValueError("bilevel writer takes a 2-D bool array")
    if bilevel and predictor != 1:
        raise ValueError("predictor 2 is not defined for bilevel TIFF")
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        h, w, samples, photometric = px.shape[0], px.shape[1], 1, 1
        flat = px
    elif px.ndim == 3 and px.shape[2] == 3:
        h, w, samples, photometric = px.shape[0], px.shape[1], 3, 2
        flat = px
    else:
        raise ValueError("writer takes (h, w) gray or (h, w, 3) RGB uint8")
    bo = byte_order
    if bo not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    def encode_segment(seg: "np.ndarray", n_rows: int, n_cols: int) -> bytes:
        if bilevel:
            # bit-pack MSB-first, each row padded to a byte boundary
            blob = np.packbits(
                seg.reshape(n_rows, n_cols) & 1, axis=1
            ).tobytes()
        else:
            blob = seg.tobytes()
        if predictor == 2:
            blob = _apply_predictor2(blob, n_rows, n_cols, samples)
        if compression == 32773:
            return packbits_encode(blob)
        if compression == 5:
            return lzw_encode(blob)
        if compression == 8:
            return zlib.compress(blob, 6)
        return blob

    flat3 = flat.reshape(h, w, samples)
    strips: List[bytes] = []
    if tile_size is not None:
        tw, tl = int(tile_size[0]), int(tile_size[1])
        if tw <= 0 or tl <= 0:
            raise ValueError("tile_size must be positive (tw, tl)")
        for y0 in range(0, h, tl):
            for x0 in range(0, w, tw):
                tile = np.zeros((tl, tw, samples), dtype=np.uint8)
                ys, xs = min(tl, h - y0), min(tw, w - x0)
                tile[:ys, :xs] = flat3[y0 : y0 + ys, x0 : x0 + xs]
                strips.append(encode_segment(tile, tl, tw))
    else:
        rps = rows_per_strip or h
        for y0 in range(0, h, rps):
            n_rows = min(rps, h - y0)
            strips.append(encode_segment(flat3[y0 : y0 + rps], n_rows, w))

    magic = b"II*\x00" if bo == "<" else b"MM\x00*"
    # layout: header(8) | strip data | BitsPerSample array | IFD
    data_off = 8
    strip_offsets = []
    pos = data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    bits_off = pos
    pos += 2 * samples if samples > 2 else 0
    ifd_off = pos

    entries = [
        (TAG_WIDTH, 3, 1, [w]),
        (TAG_HEIGHT, 3, 1, [h]),
        (
            TAG_BITS,
            3,
            samples,
            # None -> stored at bits_off
            ([1] if bilevel else [8] * samples) if samples <= 2 else None,
        ),
        (TAG_COMPRESSION, 3, 1, [compression]),
        (TAG_PHOTOMETRIC, 3, 1, [photometric]),
        (TAG_SAMPLES, 3, 1, [samples]),
    ]
    if tile_size is None:
        entries.insert(5, (TAG_STRIP_OFFSETS, 4, len(strips), strip_offsets))
        entries.append((TAG_ROWS_PER_STRIP, 3, 1, [min(rps, 65535)]))
        entries.append((TAG_STRIP_COUNTS, 4, len(strips), [len(s) for s in strips]))
    if predictor == 2:
        # IFD entries must stay in ascending tag order: 317 follows 279
        entries.append((TAG_PREDICTOR, 3, 1, [2]))
    if tile_size is not None:
        entries.append((TAG_TILE_WIDTH, 3, 1, [tw]))
        entries.append((TAG_TILE_LENGTH, 3, 1, [tl]))
        entries.append((TAG_TILE_OFFSETS, 4, len(strips), strip_offsets))
        entries.append((TAG_TILE_COUNTS, 4, len(strips), [len(s) for s in strips]))
    # multi-strip offset/count arrays won't fit inline; append after IFD
    tail_off = ifd_off + 2 + 12 * len(entries) + 4
    tail = bytearray()

    def pack_entry(tag, typ, count, vals):
        nonlocal tail
        fmt = _TYPE_FMT[typ]
        size = _TYPE_SIZE[typ] * count
        head = struct.pack(bo + "HHI", tag, typ, count)
        if vals is None:  # BitsPerSample stored at bits_off
            return head + struct.pack(bo + "I", bits_off)
        if size <= 4:
            raw = struct.pack(bo + fmt * count, *vals)
            return head + raw + b"\x00" * (4 - size)
        off = tail_off + len(tail)
        tail += struct.pack(bo + fmt * count, *vals)
        return head + struct.pack(bo + "I", off)

    ifd = struct.pack(bo + "H", len(entries))
    for tag, typ, count, vals in sorted(entries):  # spec: ascending tag order
        ifd += pack_entry(tag, typ, count, vals)
    ifd += struct.pack(bo + "I", 0)  # no next IFD

    out = bytearray()
    out += magic + struct.pack(bo + "I", ifd_off)
    for s in strips:
        out += s
    if samples > 2:
        out += struct.pack(bo + "H" * samples, *([8] * samples))
    out += ifd
    out += tail
    return bytes(out)
