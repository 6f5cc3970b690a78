"""Roaring bitmaps for Delta deletion vectors, from the public specs:
stdlib for the framing, numpy for decoding containers.

Two layers, both implemented strictly enough that ANY deviation from
our reading of the spec fails loudly instead of decoding wrong:

* 32-bit Roaring (RoaringFormatSpec): serialize/deserialize of the
  standard portable format. The reader handles all three container
  types (array / bitmap / run) and validates cookies, cardinalities,
  and offsets; the writer emits array/bitmap containers under the
  no-run cookie (always legal).
* RoaringBitmapArray (delta-io's 64-bit extension, PROTOCOL.md
  "Deletion Vector Format"): the "portable" format —
  ``<number of 32-bit bitmaps: 8B LE>`` then per bitmap
  ``<key: 4B LE> <standard 32-bit roaring>``, prefixed by the magic
  number 1681511377 (4B LE). Keys are the high 32 bits of the 64-bit
  row indexes.

Row indexes here are row positions WITHIN one parquet data file, so
in practice they are far below 2^32 and land in bitmap key 0 — but
the full 64-bit framing is implemented because that is what the
protocol stores.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = 1681511377  # RoaringBitmapArray portable magic (PROTOCOL.md)

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096


# ------------------------------------------------------- 32-bit codec


def _container(lows: list[int]) -> bytes:
    """One container's bytes for sorted distinct 16-bit values: an
    array container up to 4096 values, a bitmap container above."""
    if len(lows) > _ARRAY_MAX:
        bits = bytearray(8192)
        for v in lows:
            bits[v >> 3] |= 1 << (v & 7)
        return bytes(bits)
    return struct.pack(f"<{len(lows)}H", *lows)


def _frame32(containers: list[tuple[int, int, bytes]]) -> bytes:
    """Standard-format bytes for ready containers ``(key, cardinality,
    payload)`` in increasing key order, under the no-run cookie (which
    always carries the offset header)."""
    n = len(containers)
    out = bytearray(struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n))
    for k, card, payload in containers:
        want = 8192 if card > _ARRAY_MAX else 2 * card
        if not 0 < card <= 65536 or len(payload) != want:
            raise ValueError(
                f"roaring32: container {k} has {len(payload)} bytes for "
                f"cardinality {card}"
            )
        out += struct.pack("<HH", k, card - 1)
    pos = 8 + 8 * n
    for _, _, payload in containers:
        out += struct.pack("<I", pos)
        pos += len(payload)
    for _, _, payload in containers:
        out += payload
    return bytes(out)


def _decode32(buf, base: int = 0) -> tuple[np.ndarray, int]:
    """(sorted uint32 values as int64, bytes consumed) from a
    standard-format stream starting at ``base``. Validates every
    structural field; each container decodes as one numpy step."""
    if len(buf) - base < 4:
        raise ValueError("roaring32: truncated cookie")
    (cookie32,) = struct.unpack_from("<I", buf, base)
    cookie = cookie32 & 0xFFFF
    if cookie == _SERIAL_COOKIE_NO_RUN:
        if len(buf) - base < 8:
            raise ValueError("roaring32: truncated size")
        (n,) = struct.unpack_from("<I", buf, base + 4)
        run_flags = None
        off = base + 8
    elif cookie == _SERIAL_COOKIE:
        n = (cookie32 >> 16) + 1
        nb = (n + 7) // 8
        run_flags = buf[base + 4 : base + 4 + nb]
        if len(run_flags) < nb:
            raise ValueError("roaring32: truncated run flags")
        off = base + 4 + nb
    else:
        raise ValueError(f"roaring32: bad cookie {cookie}")
    if len(buf) < off + 4 * n:
        raise ValueError("roaring32: truncated descriptive header")
    header = struct.unpack_from(f"<{2 * n}H", buf, off)
    keys, cards = header[0::2], [c + 1 for c in header[1::2]]
    off += 4 * n
    has_offsets = run_flags is None or n >= _NO_OFFSET_THRESHOLD
    offsets: tuple[int, ...] = ()
    if has_offsets:
        if len(buf) < off + 4 * n:
            raise ValueError("roaring32: truncated offset header")
        offsets = tuple(
            base + o for o in struct.unpack_from(f"<{n}I", buf, off)
        )
        off += 4 * n
    parts: list[np.ndarray] = []
    pos = off
    for i in range(n):
        if has_offsets and offsets[i] != pos:
            # offsets are relative to the stream start; trust but
            # verify — a mismatch means our framing assumption is
            # wrong for this producer, refuse to guess
            raise ValueError(
                f"roaring32: container {i} offset {offsets[i]} != "
                f"cursor {pos}"
            )
        is_run = run_flags is not None and (
            run_flags[i >> 3] >> (i & 7)
        ) & 1
        card = cards[i]
        if is_run:
            if len(buf) < pos + 2:
                raise ValueError("roaring32: truncated run container")
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            if len(buf) < pos + 4 * n_runs:
                raise ValueError("roaring32: truncated run container")
            runs = np.frombuffer(buf, "<u2", 2 * n_runs, pos).astype(np.int64)
            pos += 4 * n_runs
            starts, lengths = runs[0::2], runs[1::2] + 1
            if int(lengths.sum()) != card:
                raise ValueError(
                    "roaring32: run container cardinality mismatch"
                )
            # each run start repeated over its length, plus 0..len-1
            first = np.repeat(np.cumsum(lengths) - lengths, lengths)
            vals = np.repeat(starts, lengths) + np.arange(card) - first
        elif card > _ARRAY_MAX:
            if len(buf) < pos + 8192:
                raise ValueError("roaring32: truncated bitmap container")
            bits = np.frombuffer(buf, np.uint8, 8192, pos)
            pos += 8192
            vals = np.flatnonzero(np.unpackbits(bits, bitorder="little"))
            if len(vals) != card:
                raise ValueError(
                    "roaring32: bitmap container cardinality mismatch"
                )
        else:
            if len(buf) < pos + 2 * card:
                raise ValueError("roaring32: truncated array container")
            vals = np.frombuffer(buf, "<u2", card, pos)
            pos += 2 * card
        parts.append(vals.astype(np.int64) | (keys[i] << 16))
    out = np.concatenate(parts) if parts else np.empty(0, np.int64)
    return out, pos - base


def deserialize32(buf: bytes, base: int = 0) -> tuple[list[int], int]:
    """``_decode32`` with the values as a list."""
    vals, used = _decode32(buf, base)
    return vals.tolist(), used


# ------------------------------------- 64-bit RoaringBitmapArray blob


def frame_rbm_array(chunks: list[tuple[int, int, list[int] | bytes]]) -> bytes:
    """The DV data blob from one entry per 65,536-row chunk:
    ``(chunk, cardinality, values)`` where ``chunk`` is ``position >>
    16`` and ``values`` the chunk's sorted distinct low 16 bits, or
    the ready 8 KiB bitmap container as ``bytes``. Chunks are grouped
    into 32-bit bitmaps by ``chunk >> 16`` (the high 32 bits of the
    position). Every container is checked against its cardinality."""
    by_key: dict[int, list[tuple[int, int, bytes]]] = {}
    for chunk, card, vals in sorted(chunks, key=lambda c: c[0]):
        if chunk < 0:
            raise ValueError("deletion vector: negative row position")
        by_key.setdefault(chunk >> 16, []).append(
            (
                chunk & 0xFFFF,
                card,
                vals if isinstance(vals, bytes) else _container(vals),
            )
        )
    out = bytearray(struct.pack("<I", MAGIC))
    out += struct.pack("<q", len(by_key))
    for k in sorted(by_key):
        out += struct.pack("<I", k)
        out += _frame32(by_key[k])
    return bytes(out)


def serialize_rbm_array(positions: list[int]) -> bytes:
    """The DV data blob: magic + portable RoaringBitmapArray of the
    given 64-bit row positions."""
    if any(p < 0 for p in positions):
        raise ValueError("deletion vector: negative row position")
    chunks: dict[int, list[int]] = {}
    for p in sorted(set(positions)):
        chunks.setdefault(p >> 16, []).append(p & 0xFFFF)
    return frame_rbm_array(
        [(c, len(lows), lows) for c, lows in chunks.items()]
    )


def _decode_rbm_array(blob) -> np.ndarray:
    """Sorted 64-bit row positions (int64) from a DV data blob. Magic
    and framing are validated; any surprise raises."""
    if len(blob) < 12:
        raise ValueError("deletion vector: blob too short")
    (magic,) = struct.unpack_from("<I", blob, 0)
    if magic != MAGIC:
        raise ValueError(
            f"deletion vector: magic {magic} != {MAGIC}; refusing to "
            "decode an unrecognized serialization"
        )
    (n_bitmaps,) = struct.unpack_from("<q", blob, 4)
    if n_bitmaps < 0:
        raise ValueError("deletion vector: negative bitmap count")
    pos = 12
    parts: list[np.ndarray] = []
    last_key = -1
    for _ in range(n_bitmaps):
        if len(blob) < pos + 4:
            raise ValueError("deletion vector: truncated bitmap key")
        (key,) = struct.unpack_from("<I", blob, pos)
        if key <= last_key:
            raise ValueError("deletion vector: bitmap keys not increasing")
        last_key = key
        pos += 4
        vals, used = _decode32(blob, pos)
        pos += used
        parts.append(vals | (key << 32))
    if pos != len(blob):
        raise ValueError(
            f"deletion vector: {len(blob) - pos} trailing byte(s) after "
            "the last bitmap — unrecognized framing"
        )
    return np.concatenate(parts) if parts else np.empty(0, np.int64)


def deserialize_rbm_array(blob: bytes) -> list[int]:
    """Sorted 64-bit row positions from a DV data blob, as a list."""
    return _decode_rbm_array(blob).tolist()


# ------------------------------------------------------ DV file layout


def checksum(data: bytes) -> int:
    return zlib.crc32(data) & 0xFFFFFFFF


def frame_entry(data: bytes) -> tuple[bytes, int]:
    """One on-disk DV entry: ``<dataSize: 4B BE><data><crc32: 4B BE>``
    where data = magic + portable bitmaps. Returns (entry bytes,
    sizeInBytes for the descriptor — the data length)."""
    return (
        struct.pack(">I", len(data)) + data + struct.pack(">I", checksum(data)),
        len(data),
    )


def pack_dv_entry(positions: list[int]) -> tuple[bytes, int]:
    """``frame_entry`` of the given row positions."""
    return frame_entry(serialize_rbm_array(positions))


def _unpack_entry(buf: bytes, offset: int, size_in_bytes: int) -> np.ndarray:
    """Decode the entry at ``offset``; every frame field is verified
    against the descriptor before any bitmap decoding happens."""
    if len(buf) < offset + 4:
        raise ValueError("deletion vector: offset past end of file")
    (data_size,) = struct.unpack_from(">I", buf, offset)
    if data_size != size_in_bytes:
        raise ValueError(
            f"deletion vector: stored dataSize {data_size} != descriptor "
            f"sizeInBytes {size_in_bytes}"
        )
    start = offset + 4
    end = start + data_size
    if len(buf) < end + 4:
        raise ValueError("deletion vector: truncated entry")
    data = memoryview(buf)[start:end]
    (crc,) = struct.unpack_from(">I", buf, end)
    if crc != checksum(data):
        raise ValueError("deletion vector: checksum mismatch")
    return _decode_rbm_array(data)


def unpack_dv_entry(buf: bytes, offset: int, size_in_bytes: int) -> list[int]:
    """``_unpack_entry`` with the positions as a list."""
    return _unpack_entry(buf, offset, size_in_bytes).tolist()


# --------------------------------------------------------- base85 ids

_B85 = (
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"
)
_B85_INV = {c: i for i, c in enumerate(_B85)}


def b85_encode(data: bytes) -> str:
    """RFC 1924 base85 (the alphabet PROTOCOL.md specifies for DV
    UUIDs and inline DVs). Input length must be a multiple of 4."""
    if len(data) % 4:
        raise ValueError("base85: length must be a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        (x,) = struct.unpack_from(">I", data, i)
        chunk = []
        for _ in range(5):
            x, r = divmod(x, 85)
            chunk.append(_B85[r])
        out.extend(reversed(chunk))
    return "".join(out)


def b85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("base85: length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        x = 0
        for c in text[i : i + 5]:
            if c not in _B85_INV:
                raise ValueError(f"base85: bad character {c!r}")
            x = x * 85 + _B85_INV[c]
        if x > 0xFFFFFFFF:
            raise ValueError("base85: group overflows 32 bits")
        out += struct.pack(">I", x)
    return bytes(out)


# ----------------------------------------------- descriptor resolution


def read_descriptors(table_path: str, dvs: list[dict]) -> list[np.ndarray]:
    """Deleted row positions (sorted int64 arrays) for each
    deletionVector descriptor, given
    the table root ('u' paths resolve against it). Pure file IO, no
    Spark needed; a DV file that several descriptors share is read
    once. Every frame field (on-disk version byte, dataSize vs
    sizeInBytes, CRC-32, magic, bitmap framing) is validated, and
    unknown storage types refuse."""
    import os
    import uuid as _uuid

    files: dict[str, bytes] = {}
    out = []
    for dv in dvs:
        st = dv.get("storageType")
        if st == "i":
            data = b85_decode(dv["pathOrInlineDv"])
            size = int(dv.get("sizeInBytes", len(data)))
            if size > len(data):
                raise ValueError(
                    "deletion vector: inline sizeInBytes exceeds decoded "
                    "payload"
                )
            out.append(_decode_rbm_array(data[:size]))
            continue
        if st == "u":
            enc = dv["pathOrInlineDv"]
            if len(enc) < 20:
                raise ValueError(
                    "deletion vector: pathOrInlineDv shorter than a base85 "
                    "uuid"
                )
            u = _uuid.UUID(bytes=b85_decode(enc[-20:]))
            path = os.path.join(
                table_path, enc[:-20], f"deletion_vector_{u}.bin"
            )
        elif st == "p":
            path = dv["pathOrInlineDv"]
        else:
            raise NotImplementedError(
                f"deletion vector storageType {st!r} is not supported"
            )
        buf = files.get(path)
        if buf is None:
            if not os.path.exists(path):
                raise ValueError(
                    f"deletion vector file missing: {path} (vacuumed?)"
                )
            with open(path, "rb") as f:
                buf = files[path] = f.read()
            if not buf or buf[0] != 1:
                raise ValueError(
                    "deletion vector: unknown on-disk format version "
                    f"{buf[0] if buf else '<empty>'}"
                )
        out.append(
            _unpack_entry(buf, int(dv["offset"]), int(dv["sizeInBytes"]))
        )
    return out


def read_descriptor(table_path: str, dv: dict) -> list[int]:
    """``read_descriptors`` of one descriptor, as a list."""
    return read_descriptors(table_path, [dv])[0].tolist()
