"""Deletion vectors for both table formats: bitmap codec, framing and
the one writer.

Deletion vectors mark rows of a parquet data file as logically deleted
without rewriting the file (delta-io/delta PROTOCOL.md §Deletion
Vectors; Iceberg v3 spec §Deletion Vectors, which adopted Delta's
layout). The reference reads DV tables transparently through the
vendor connector (provider/scripts/spark/offline_store_spark_runner.py
:981-987); this module implements the public formats that connector
relies on, from the specs alone:

- **RoaringBitmapArray, "portable" serialization** — the 64-bit
  extension of the RoaringFormatSpec
  (github.com/RoaringBitmap/RoaringFormatSpec): ``u64 LE bucket
  count``, then per bucket ``u32 LE high-32-bits key`` + a standard
  32-bit roaring bitmap (cookie header, descriptive headers, offset
  headers, array/bitmap/run containers). Both formats prefix the blob
  with the magic number 1681511377 (u32 LE).
- **Framing** — on disk each blob is ``u32 BE length | blob | u32 BE
  CRC-32``, in Delta's ``deletion_vector_<uuid>.bin`` (after a version
  byte) and as Iceberg's Puffin ``deletion-vector-v1`` blobs. Delta's
  ``sizeInBytes`` counts the blob; Iceberg's ``content_size_in_bytes``
  counts the frame too, :data:`FRAME_BYTES` more.
- **Z85 text encoding** (ZeroMQ RFC 32) — Delta encodes DV file UUIDs
  and inline DVs with it in the ``pathOrInlineDv`` descriptor field.

:func:`encode_vectors`, the one DV writer of both formats' DELETE,
encodes on Spark executors. Everything else is driver-side byte work
on blobs, cardinality-scale (a few MB for millions of deleted rows),
never data-scale. Decoding yields a sorted numpy ``uint64`` array of
deleted row indexes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

DV_MAGIC = 1681511377  # RoaringBitmapArray portable-format magic (u32 LE)
FRAME_BYTES = 8  # u32 BE length prefix + u32 BE CRC-32 around each blob

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


class DvFormatError(Exception):
    pass


# ---------------------------------------------------------------- z85


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85: 4 bytes -> 5 chars, big-endian base-85 digits."""
    if len(data) % 4:
        raise DvFormatError(f"z85 input length {len(data)} not a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_CHARS[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise DvFormatError(f"z85 input length {len(text)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            try:
                v = v * 85 + _Z85_INDEX[c]
            except KeyError:
                raise DvFormatError(f"invalid z85 character {c!r}") from None
        if v > 0xFFFFFFFF:
            raise DvFormatError("z85 group overflows 32 bits")
        out += v.to_bytes(4, "big")
    return bytes(out)


# --------------------------------------------- 32-bit roaring (decode)


def _decode_rbm32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """One standard 32-bit roaring bitmap at ``buf[pos:]`` -> (sorted
    uint32 values, bytes consumed past pos)."""
    start = pos
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    run_flags = None
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nbytes = (n + 7) // 8
        run_flags = buf[pos : pos + nbytes]
        pos += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        has_offsets = True
    else:
        raise DvFormatError(f"bad roaring cookie {cookie}")

    keys = np.empty(n, dtype=np.uint32)
    cards = np.empty(n, dtype=np.int64)
    for i in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys[i] = k
        cards[i] = cm1 + 1
    if has_offsets:
        pos += 4 * n  # we parse containers sequentially

    chunks: list[np.ndarray] = []
    for i in range(n):
        card = int(cards[i])
        is_run = bool(run_flags is not None and (run_flags[i // 8] >> (i % 8)) & 1)
        if is_run:
            (num_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(
                buf, dtype="<u2", count=2 * num_runs, offset=pos
            ).astype(np.int64)
            pos += 4 * num_runs
            vals = np.concatenate(
                [
                    np.arange(runs[2 * j], runs[2 * j] + runs[2 * j + 1] + 1)
                    for j in range(num_runs)
                ]
            ) if num_runs else np.empty(0, dtype=np.int64)
        elif card <= 4096:
            vals = np.frombuffer(buf, dtype="<u2", count=card, offset=pos).astype(
                np.int64
            )
            pos += 2 * card
        else:
            words = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            bits = np.unpackbits(
                words.view(np.uint8), bitorder="little"
            )
            vals = np.flatnonzero(bits).astype(np.int64)
        chunks.append((np.uint32(keys[i]) << np.uint32(16)) | vals.astype(np.uint32))
    values = (
        np.concatenate(chunks) if chunks else np.empty(0, dtype=np.uint32)
    )
    return values, pos - start


def decode_rbm_array(data: bytes) -> np.ndarray:
    """Delta DV blob (magic + 64-bit portable RoaringBitmapArray) ->
    sorted uint64 row indexes."""
    if len(data) < 4:
        raise DvFormatError("DV blob shorter than magic")
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic != DV_MAGIC:
        raise DvFormatError(f"bad DV magic {magic} (want {DV_MAGIC})")
    pos = 4
    (n_buckets,) = struct.unpack_from("<Q", data, pos)
    pos += 8
    out: list[np.ndarray] = []
    for _ in range(n_buckets):
        (high,) = struct.unpack_from("<I", data, pos)
        pos += 4
        vals, consumed = _decode_rbm32(data, pos)
        pos += consumed
        out.append((np.uint64(high) << np.uint64(32)) | vals.astype(np.uint64))
    if not out:
        return np.empty(0, dtype=np.uint64)
    return np.concatenate(out)


def dv_positions(
    data: bytes, cardinality=None, error: type = DvFormatError
) -> np.ndarray:
    """decode_rbm_array, checked: a vector whose recorded cardinality
    disagrees with its decoded positions raises ``error`` instead of
    masking the wrong rows."""
    pos = decode_rbm_array(data)
    if cardinality is not None and int(cardinality) != len(pos):
        raise error(
            f"deletion vector cardinality {cardinality} != decoded "
            f"{len(pos)} positions"
        )
    return pos


# --------------------------------------------- 32-bit roaring (encode)


def _encode_rbm32(values: np.ndarray) -> bytes:
    """Sorted, unique uint32 values -> standard 32-bit roaring
    serialization (no-run cookie: array containers <=4096, bitmap
    above — spec-valid; run containers are an optional optimization)."""
    values = np.asarray(values, dtype=np.uint32)
    keys16 = (values >> np.uint32(16)).astype(np.uint16)
    lows = (values & np.uint32(0xFFFF)).astype(np.uint16)
    uniq_keys, starts = np.unique(keys16, return_index=True)
    bounds = list(starts) + [len(values)]
    n = len(uniq_keys)
    head = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    desc = b""
    bodies: list[bytes] = []
    for i in range(n):
        lo = lows[bounds[i] : bounds[i + 1]]
        card = len(lo)
        desc += struct.pack("<HH", int(uniq_keys[i]), card - 1)
        if card <= 4096:
            bodies.append(lo.astype("<u2").tobytes())
        else:
            bits = np.zeros(65536, dtype=np.uint8)
            bits[lo.astype(np.int64)] = 1
            bodies.append(np.packbits(bits, bitorder="little").tobytes())
    # offset header: byte offsets from bitmap start to each container
    off = len(head) + len(desc) + 4 * n
    offsets = b""
    for b in bodies:
        offsets += struct.pack("<I", off)
        off += len(b)
    return head + desc + offsets + b"".join(bodies)


def encode_rbm_array(positions) -> bytes:
    """Row indexes -> Delta DV blob (magic + 64-bit portable
    RoaringBitmapArray), inverse of decode_rbm_array."""
    pos_arr = np.unique(np.asarray(positions, dtype=np.uint64))
    highs = (pos_arr >> np.uint64(32)).astype(np.uint32)
    uniq_high, starts = np.unique(highs, return_index=True)
    bounds = list(starts) + [len(pos_arr)]
    out = struct.pack("<I", DV_MAGIC) + struct.pack("<Q", len(uniq_high))
    for i, h in enumerate(uniq_high):
        lows32 = (pos_arr[bounds[i] : bounds[i + 1]] & np.uint64(0xFFFFFFFF)).astype(
            np.uint32
        )
        out += struct.pack("<I", int(h)) + _encode_rbm32(lows32)
    return out


# ------------------------------------------------- DV file read/write


def read_dv_from_file(path: str, offset: int, size_in_bytes: int) -> bytes:
    """Extract one DV blob from an on-disk DV file per PROTOCOL.md:
    at ``offset``: u32 BE stored size (must equal sizeInBytes), the
    blob, then u32 BE CRC-32 of the blob."""
    with open(path, "rb") as f:
        f.seek(offset)
        framed = f.read(size_in_bytes + FRAME_BYTES)
    if len(framed) < size_in_bytes + FRAME_BYTES:
        raise DvFormatError(f"DV file {path} truncated at offset {offset}")
    (stored_size,) = struct.unpack_from(">I", framed, 0)
    if stored_size != size_in_bytes:
        raise DvFormatError(
            f"DV size mismatch in {path}: stored {stored_size}, "
            f"descriptor {size_in_bytes}"
        )
    data = framed[4 : 4 + size_in_bytes]
    (crc,) = struct.unpack_from(">I", framed, 4 + size_in_bytes)
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise DvFormatError(f"DV checksum mismatch in {path}")
    return data


def frame_dv(blob: bytes) -> bytes:
    """One blob as both formats store it: u32 BE length, the blob, u32
    BE CRC-32 of the blob."""
    crc = zlib.crc32(blob) & 0xFFFFFFFF
    return struct.pack(">I", len(blob)) + blob + struct.pack(">I", crc)


def append_dv_to_file(fh, blob: bytes) -> tuple[int, int]:
    """Append one framed DV blob at the current position of an open
    binary file -> (offset, sizeInBytes) for a Delta descriptor."""
    offset = fh.tell()
    fh.write(frame_dv(blob))
    return offset, len(blob)


def write_puffin_dvs(path: str, encoded) -> list[dict]:
    """Write ``encoded`` (:func:`encode_vectors` rows) as one Puffin
    file of framed ``deletion-vector-v1`` blobs -> their BlobMetadata,
    in order; a blob's ``offset``/``length`` are its Iceberg delete
    entry's ``content_offset``/``content_size_in_bytes``."""
    from featureform_spark.sources.puffin_stats import write_puffin

    blobs = [
        {
            "type": "deletion-vector-v1",
            "fields": [2147483545],  # the reserved _pos field
            "snapshot-id": -1,  # inherited from the manifest entry
            "sequence-number": -1,
            "properties": {
                "referenced-data-file": r["file"],
                "cardinality": str(r["card"]),
            },
            "data": frame_dv(bytes(r["blob"])),
        }
        for r in encoded
    ]
    return write_puffin(path, blobs)[0]


def read_puffin_dv(path: str, offset: int, content_size: int) -> bytes:
    """One Iceberg v3 deletion vector's blob; its
    ``content_size_in_bytes`` counts the frame."""
    return read_dv_from_file(path, offset, content_size - FRAME_BYTES)


# ------------------------------------------------- DV writer (Spark)


def encode_vectors(matched, prior) -> list:
    """The deletion vectors a DELETE writes, sorted by file: one
    ``(file, blob, card)`` row per data file with a new match.

    Both frames hold two columns, data file and row position:
    ``matched`` the DELETE's new matches (read with every earlier
    delete applied), ``prior`` (or None) the positions earlier deletes
    already hold. A touched file's vector is their union, encoded once
    on executors (groupBy + applyInPandas), so only file-count-scale
    rows reach the driver. No match at all is an empty list, and the
    DELETE scans once: ``prior`` keeps only the touched files' rows
    through a window over the same file grouping, not a join against a
    second scan of ``matched``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = matched.toDF("file", "pos")
    if prior is not None:
        rows = (
            rows.withColumn("new", F.lit(True))
            .unionByName(
                prior.toDF("file", "pos").withColumn("new", F.lit(False))
            )
            .withColumn("new", F.bool_or("new").over(Window.partitionBy("file")))
            .filter("new")
            .drop("new")
        )
    return sorted(
        rows.groupBy("file")
        .applyInPandas(_encode_file, "file string, blob binary, card long")
        .collect(),
        key=lambda r: r["file"],
    )


def _encode_file(pdf):
    """:func:`encode_vectors`' executor side: one file's rows -> its
    vector."""
    import pandas as pd

    pos = np.unique(pdf["pos"].to_numpy().astype(np.uint64))
    return pd.DataFrame({
        "file": [pdf["file"].iloc[0]],
        "blob": [encode_rbm_array(pos)],
        "card": [len(pos)],
    })
