"""Delta deletion vectors (round 9): row-level deletes WITHOUT
rewriting data files — the v2-reader feature that was the last
disclosed gap of ``delta_log.py``.

Mechanism (public delta-io PROTOCOL.md "Deletion Vectors"): an ``add``
action carries a ``deletionVector`` descriptor naming the rows of THAT
file that are logically deleted; readers skip those row positions at
scan time. The bitmap is a 64-bit RoaringBitmapArray (public
RoaringFormatSpec "portable" layout: u64 bucket count, then per bucket
a u32 high-key + a standard 32-bit roaring bitmap), and inline
descriptors (``storageType "i"``) carry the serialized bytes
Z85-encoded (the public ZeroMQ RFC 32/Z85 alphabet) in
``pathOrInlineDv``.

Implemented subset (disclosed): array + bitmap containers (no run
containers — cookie 12346, the no-run layout every reader accepts);
inline ("i") storage; and (round 10) SIDECAR storage — relative-path
"u" descriptors (Z85-encoded UUID file naming, optional random
prefix) and absolute-path "p" descriptors, with the on-disk DV file
format per PROTOCOL.md "Deletion Vector File Storage Format": a
version byte (1), then per vector a big-endian int32 dataSize, the
serialized bitmap (magic + portable RoaringBitmapArray), and a
big-endian CRC-32 checksum of the bitmap bytes. No foreign Delta
reader exists in the sandbox to cross-validate the bytes (probed in
tests/test_delta_log.py), so the pinning is the module's own
discipline: spec-shaped structure asserted byte-by-byte in pytest
(cookie, container switch at 4096, Z85 RFC test vector, sidecar
version/size/CRC framing) plus the oracle-checked registry queries
(``s_delta_deletion_vectors``, ``s_delta_dv_sidecar``) whose hashes
break if one deleted row survives the scan or one kept row is
dropped.

Scan-side application lives in ``delta_log.read_snapshot``: files with
a DV are read with the native parquet ``_metadata.row_index`` column
and anti-joined against the DV's positions — Spark-idiomatic (the
row-position mechanism real DV readers use), pushdown-preserving, and
distributed (the DV positions broadcast; no driver-side row filtering).
"""

from __future__ import annotations

import os
import struct
import sys

from pyspark import cloudpickle

# Runs in Spark's Python workers, which cannot import this package:
# pickled by value, like operators/hnsw.py.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# --- Z85 (ZeroMQ RFC 32, public) ---------------------------------------

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("Z85 input length must be a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_ALPHABET[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("Z85 text length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


# --- 32-bit roaring bitmap (RoaringFormatSpec, no-run layout) -----------

_SERIAL_COOKIE_NO_RUN = 12346
_ARRAY_MAX = 4096


def roaring32_serialize(values) -> bytes:
    """Standard 32-bit roaring serialization, no-run-container layout:
    [cookie u32][n_containers u32][keys/cards u16 pairs][offsets u32 ×
    n][container data]. Array container (sorted u16s) when cardinality
    <= 4096, else bitmap container (1024 u64 words). Little-endian
    throughout, per the public spec."""
    vals = sorted(set(values))
    if vals and (vals[0] < 0 or vals[-1] > 0xFFFFFFFF):
        raise ValueError("roaring32 values must be u32")
    containers: dict[int, list[int]] = {}
    for v in vals:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    header = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    desc = b"".join(
        struct.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    blobs = []
    for k in keys:
        lows = containers[k]
        if len(lows) <= _ARRAY_MAX:
            blobs.append(struct.pack(f"<{len(lows)}H", *lows))
        else:
            words = [0] * 1024
            for low in lows:
                words[low >> 6] |= 1 << (low & 63)
            blobs.append(struct.pack("<1024Q", *words))
    offsets = []
    pos = len(header) + len(desc) + 4 * n
    for b in blobs:
        offsets.append(pos)
        pos += len(b)
    return (
        header
        + desc
        + struct.pack(f"<{n}I", *offsets)
        + b"".join(blobs)
    )


def roaring32_deserialize(data: bytes) -> list[int]:
    cookie, n = struct.unpack_from("<II", data, 0)
    if cookie != _SERIAL_COOKIE_NO_RUN:
        raise ValueError(f"unsupported roaring cookie {cookie}")
    pos = 8
    desc = []
    for _ in range(n):
        k, cm1 = struct.unpack_from("<HH", data, pos)
        desc.append((k, cm1 + 1))
        pos += 4
    offsets = struct.unpack_from(f"<{n}I", data, pos)
    out = []
    for (k, card), off in zip(desc, offsets):
        if card <= _ARRAY_MAX:
            lows = struct.unpack_from(f"<{card}H", data, off)
        else:
            words = struct.unpack_from("<1024Q", data, off)
            lows = [
                (w_i << 6) | b
                for w_i, w in enumerate(words)
                for b in range(64)
                if w >> b & 1
            ]
        out.extend((k << 16) | low for low in lows)
    return out


# --- 64-bit RoaringBitmapArray ("portable" layout) ----------------------


def rba_serialize(values) -> bytes:
    """Portable 64-bit layout: u64 bucket count, then per ascending
    high-32 key: u32 key + the 32-bit roaring serialization of the
    low-32 values."""
    buckets: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        if v < 0:
            raise ValueError("row indexes are non-negative")
        buckets.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = [struct.pack("<Q", len(buckets))]
    for k in sorted(buckets):
        out.append(struct.pack("<I", k))
        out.append(roaring32_serialize(buckets[k]))
    return b"".join(out)


def rba_deserialize(data: bytes) -> list[int]:
    (n_buckets,) = struct.unpack_from("<Q", data, 0)
    pos = 8
    out = []
    for _ in range(n_buckets):
        (key,) = struct.unpack_from("<I", data, pos)
        pos += 4
        # container count -> walk the structure to find this bucket's end
        cookie, n = struct.unpack_from("<II", data, pos)
        if cookie != _SERIAL_COOKIE_NO_RUN:
            raise ValueError(f"unsupported roaring cookie {cookie}")
        desc_end = pos + 8 + 4 * n
        offsets_end = desc_end + 4 * n
        size = offsets_end - pos
        for i in range(n):
            _k, cm1 = struct.unpack_from("<HH", data, pos + 8 + 4 * i)
            card = cm1 + 1
            size += 2 * card if card <= _ARRAY_MAX else 8192
        chunk = data[pos : pos + size]
        # roaring32 offsets are relative to the CHUNK start
        out.extend((key << 32) | v for v in roaring32_deserialize(chunk))
        pos += size
    return out


# --- DV descriptors (PROTOCOL.md "Deletion Vector Descriptor") ----------

_DV_MAGIC = 1681511377  # the spec's serialized-DV magic number
_DV_FILE_VERSION = 1  # sidecar file format version byte


def dv_inline_descriptor(row_indexes) -> dict:
    """Build an inline ("i") deletionVector descriptor for the given
    deleted row positions of ONE file."""
    rows = sorted(set(int(r) for r in row_indexes))
    payload = struct.pack("<I", _DV_MAGIC) + rba_serialize(rows)
    pad = (-len(payload)) % 4  # Z85 needs 4-byte alignment
    data = payload + b"\x00" * pad
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data),
        "offset": 0,
        "sizeInBytes": len(payload),
        "cardinality": len(rows),
    }


def dv_sidecar_write(
    table_dir: str, row_lists: list, prefix: str = ""
) -> list[dict]:
    """Write ONE sidecar DV file holding the bitmaps of several data
    files and return one "u" descriptor per input row list — the
    production layout (a TB-scale delete commit lands a handful of DV
    files, not one per data file).

    File format per PROTOCOL.md: version byte 1, then per vector a
    big-endian int32 dataSize, the bitmap bytes (LE magic + portable
    RoaringBitmapArray), and a big-endian CRC-32 of those bytes; each
    descriptor's ``offset`` points at its dataSize int. The file is
    named ``{prefix}/deletion_vector_{uuid}.bin`` and referenced as
    ``{prefix}{z85(uuid bytes)}`` (20 chars of Z85 for the 16-byte
    UUID). The UUID is content-addressed (sha256 of the payloads) so
    staging stays byte-reproducible per corpus — a production writer
    would use a random UUID; readers cannot tell the difference."""
    import hashlib
    import uuid as uuid_mod
    import zlib

    blobs = []
    for rows in row_lists:
        rows = sorted(set(int(r) for r in rows))
        blobs.append((rows, struct.pack("<I", _DV_MAGIC) + rba_serialize(rows)))
    u = uuid_mod.UUID(
        bytes=hashlib.sha256(b"".join(d for _, d in blobs)).digest()[:16]
    )
    rel_dir = prefix.strip("/")
    fn = f"deletion_vector_{u}.bin"
    path = os.path.join(table_dir, rel_dir, fn) if rel_dir else os.path.join(
        table_dir, fn
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = bytearray([_DV_FILE_VERSION])
    descs = []
    for rows, data in blobs:
        offset = len(buf)
        buf += struct.pack(">i", len(data))
        buf += data
        buf += struct.pack(">I", zlib.crc32(data))
        descs.append(
            {
                "storageType": "u",
                "pathOrInlineDv": (f"{rel_dir}/" if rel_dir else "")
                + z85_encode(u.bytes),
                "offset": offset,
                "sizeInBytes": len(data),
                "cardinality": len(rows),
            }
        )
    tmp = f"{path}.inprogress-{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return descs


def dv_sidecar_path(descriptor: dict, table_dir: str | None) -> str:
    """Resolve a "u"/"p" descriptor to its on-disk DV file path. "u"
    encodes ``{optional prefix}{z85 uuid}`` relative to the table
    root; "p" is an absolute path."""
    st = descriptor["storageType"]
    if st == "p":
        return descriptor["pathOrInlineDv"]
    if st != "u":
        raise ValueError(f"not a sidecar storageType {st!r}")
    if table_dir is None:
        raise ValueError("'u' DV descriptor needs the table root to resolve")
    import uuid as uuid_mod

    enc = descriptor["pathOrInlineDv"]
    prefix, uid = enc[:-20], enc[-20:]
    u = uuid_mod.UUID(bytes=z85_decode(uid))
    return os.path.join(table_dir, prefix.strip("/"), f"deletion_vector_{u}.bin")


def dv_row_indexes(descriptor: dict, table_dir: str | None = None) -> list[int]:
    """Deleted row positions from a descriptor — inline ("i") or
    sidecar ("u" relative / "p" absolute). Sidecar reads verify the
    file version byte, the descriptor/dataSize agreement, and the
    big-endian CRC-32 before any bitmap decode (refuse-rather-than-
    misread: a torn or swapped DV file must never silently resurrect
    or over-delete rows)."""
    st = descriptor.get("storageType")
    if st == "i":
        data = z85_decode(descriptor["pathOrInlineDv"])[
            : descriptor["sizeInBytes"]
        ]
    elif st in ("u", "p"):
        import zlib

        path = dv_sidecar_path(descriptor, table_dir)
        with open(path, "rb") as f:
            raw = f.read()
        if not raw or raw[0] != _DV_FILE_VERSION:
            raise ValueError(
                f"unsupported DV file version {raw[:1]!r} in {path}"
            )
        off = int(descriptor["offset"])
        (dlen,) = struct.unpack_from(">i", raw, off)
        if dlen != descriptor["sizeInBytes"]:
            raise ValueError(
                f"DV size mismatch at {path}:{off}: file says {dlen}, "
                f"descriptor says {descriptor['sizeInBytes']}"
            )
        data = raw[off + 4 : off + 4 + dlen]
        (crc,) = struct.unpack_from(">I", raw, off + 4 + dlen)
        if zlib.crc32(data) != crc:
            raise ValueError(f"DV checksum mismatch at {path}:{off}")
    else:
        raise ValueError(f"unsupported DV storageType {st!r}")
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic != _DV_MAGIC:
        raise ValueError(f"bad DV magic {magic}")
    rows = rba_deserialize(data[4:])
    if len(rows) != descriptor["cardinality"]:
        raise ValueError(
            f"DV cardinality mismatch: descriptor says "
            f"{descriptor['cardinality']}, bitmap has {len(rows)}"
        )
    return rows
