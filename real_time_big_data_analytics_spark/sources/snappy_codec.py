"""Pure-Python raw Snappy + xerial stream framing (round 11).

Fills the last dominant-codec gap on the wire seams: real Kafka topics
and Avro files are overwhelmingly snappy-compressed, and through round
10 both readers refused the codec loudly. Everything here is the
PUBLIC format:

- Raw Snappy block format per google/snappy
  ``format_description.txt``: a little-endian varint preamble carrying
  the UNCOMPRESSED length, then a sequence of tagged elements — tag
  low 2 bits 00=literal, 01=copy/1-byte offset (len 4..11, 11-bit
  offset), 10=copy/2-byte LE offset (len 1..64), 11=copy/4-byte LE
  offset. The compressor is the reference strategy: a hash table over
  4-byte sequences inside 64 KiB fragments (so every emitted offset
  fits the 2-byte copy form) with the reference's "skip" acceleration
  over incompressible runs.
- Xerial framing (``xerial/snappy-java`` ``SnappyOutputStream``, the
  stream the Kafka Java client historically wrote for snappy topics):
  8-byte magic ``\\x82SNAPPY\\x00`` + two BE int32s (version=1,
  min-compatible-version=1) + repeated [BE int32 chunk length, raw
  snappy chunk]. Kafka RecordBatch v2 snappy payloads use this
  framing; readers must ALSO accept a bare raw-snappy payload (other
  clients write that), which :func:`maybe_xerial_unframe` handles by
  magic sniffing.
- Avro's ``snappy`` codec (Avro 1.12 spec §Required Codecs): each
  block's data is ONE raw-snappy compression followed by a 4-byte
  big-endian CRC-32 of the UNCOMPRESSED bytes — helpers
  :func:`avro_snappy_encode` / :func:`avro_snappy_decode` implement
  exactly that so ``avro_ocf`` and any other caller share one codec.

The compressor is deterministic (pure function of the input bytes), so
staged wire bytes stay content-addressed/reproducible across rounds —
one reason the write path does NOT delegate to pyarrow's C++ snappy
even where present. pyarrow's codec IS used as the independent foreign
validator in ``tests/test_snappy_codec.py`` (both directions), per the
repo's own-decoder ladder.

Reference behavior twin: the reference's Kafka path
(``ProducerFinal.scala:43-83``) relies on client-library codecs; this
module internalizes the one its ecosystem defaults to.
"""

from __future__ import annotations

import struct
import sys

from pyspark import cloudpickle

# Runs in Spark's Python workers, which cannot import this package:
# pickled by value, like operators/hnsw.py.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

XERIAL_MAGIC = b"\x82SNAPPY\x00"
_FRAGMENT = 1 << 16  # compress in 64 KiB fragments: offsets fit copy-2
_XERIAL_BLOCK = 32 * 1024  # snappy-java default block size


# -- varint (unsigned LE base-128, the preamble encoding) ---------------


def _write_uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        if pos >= len(buf):
            raise ValueError("snappy: truncated length preamble")
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy: length preamble overflow")


# -- raw block format ---------------------------------------------------


def _emit_literal(out: bytearray, lit) -> None:
    n = len(lit)
    if n == 0:
        return
    if n <= 60:
        out.append((n - 1) << 2)
    elif n <= 0x100:
        out.append(60 << 2)
        out.append(n - 1)
    else:  # fragments cap literals at 64 KiB: two length bytes suffice
        out.append(61 << 2)
        out += struct.pack("<H", n - 1)
    out += lit


def _emit_copies(out: bytearray, offset: int, length: int) -> None:
    # offset < 65536 by fragment construction -> copy-2 always fits;
    # lengths chunk at the 64 cap (any 1..64 remainder is legal)
    while length > 0:
        n = min(length, 64)
        out.append(((n - 1) << 2) | 2)
        out += struct.pack("<H", offset)
        length -= n


def _compress_fragment(src: bytes, out: bytearray) -> None:
    # Optimization r12 (guide §1.2#2 per-task work, byte-identical
    # output — verified against the r11 loop over JSON payloads,
    # random/incompressible bytes, runs, and edge sizes): the match
    # extension walks 64- then 8-byte slice comparisons before the
    # per-byte tail (memcmp-speed for the long matches JSON produces),
    # and literal/copy emission is inlined with hoisted locals so the
    # scan loop pays no function-call overhead per element.
    n = len(src)
    if n < 4:
        _emit_literal(out, src)
        return
    table: dict[bytes, int] = {}
    table_get = table.get
    pack = struct.pack
    append = out.append
    s = 0
    lit_start = 0
    skip = 32  # reference acceleration: step grows over incompressible data
    while s + 4 <= n:
        key = src[s : s + 4]
        cand = table_get(key, -1)
        table[key] = s
        if cand >= 0:
            # extend the 4-byte seed match as far as it goes
            m, c = s + 4, cand + 4
            while m + 64 <= n and src[m : m + 64] == src[c : c + 64]:
                m += 64
                c += 64
            while m + 8 <= n and src[m : m + 8] == src[c : c + 8]:
                m += 8
                c += 8
            while m < n and src[m] == src[c]:
                m += 1
                c += 1
            ln = s - lit_start
            if ln:  # literal element, inlined from _emit_literal
                if ln <= 60:
                    append((ln - 1) << 2)
                elif ln <= 0x100:
                    append(60 << 2)
                    append(ln - 1)
                else:
                    append(61 << 2)
                    out += pack("<H", ln - 1)
                out += src[lit_start:s]
            # copy elements, inlined from _emit_copies (same chunking:
            # 64-length copies then the 1..64 remainder)
            length = m - s
            off2 = pack("<H", s - cand)
            while length > 64:
                append((63 << 2) | 2)
                out += off2
                length -= 64
            append(((length - 1) << 2) | 2)
            out += off2
            s = m
            lit_start = m
            skip = 32
        else:
            s += skip >> 5
            skip += 1
    _emit_literal(out, src[lit_start:])


def compress(data: bytes) -> bytes:
    """``data`` → one raw snappy block (preamble + elements)."""
    out = bytearray(_write_uvarint(len(data)))
    for i in range(0, len(data), _FRAGMENT):
        _compress_fragment(data[i : i + _FRAGMENT], out)
    return bytes(out)


def decompress(buf: bytes) -> bytes:
    """One raw snappy block → bytes; every malformation (truncated
    element, zero/out-of-range copy offset, output length disagreeing
    with the preamble) raises ``ValueError`` — never silent garbage."""
    ulen, pos = _read_uvarint(buf, 0)
    n = len(buf)
    out = bytearray()
    while pos < n:
        tag = buf[pos]
        pos += 1
        t = tag & 3
        if t == 0:  # literal
            ln = tag >> 2
            if ln < 60:
                length = ln + 1
            else:
                nb = ln - 59
                if pos + nb > n:
                    raise ValueError("snappy: truncated literal length")
                length = int.from_bytes(buf[pos : pos + nb], "little") + 1
                pos += nb
            if pos + length > n:
                raise ValueError("snappy: truncated literal body")
            out += buf[pos : pos + length]
            pos += length
            continue
        if t == 1:
            if pos >= n:
                raise ValueError("snappy: truncated copy-1")
            length = ((tag >> 2) & 0x7) + 4
            offset = ((tag >> 5) << 8) | buf[pos]
            pos += 1
        elif t == 2:
            if pos + 2 > n:
                raise ValueError("snappy: truncated copy-2")
            length = (tag >> 2) + 1
            offset = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
        else:
            if pos + 4 > n:
                raise ValueError("snappy: truncated copy-4")
            length = (tag >> 2) + 1
            offset = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError("snappy: copy offset out of range")
        start = len(out) - offset
        if offset >= length:
            out += out[start : start + length]
        else:
            # overlapping copy = run replication (RLE-style)
            seg = bytes(out[start:])
            out += (seg * (length // offset + 1))[:length]
        if len(out) > ulen:
            raise ValueError("snappy: output exceeds preamble length")
    if len(out) != ulen:
        raise ValueError(
            f"snappy: output length {len(out)} != preamble {ulen}"
        )
    return bytes(out)


# -- xerial stream framing (Kafka snappy payloads) ----------------------


def xerial_frame(data: bytes, block_size: int = _XERIAL_BLOCK) -> bytes:
    """``data`` → snappy-java stream: magic + version pair + chunked
    raw-snappy blocks."""
    out = bytearray(XERIAL_MAGIC)
    out += struct.pack(">ii", 1, 1)
    for i in range(0, len(data), block_size):
        chunk = compress(data[i : i + block_size])
        out += struct.pack(">i", len(chunk)) + chunk
    return bytes(out)


def xerial_unframe(buf: bytes) -> bytes:
    if buf[:8] != XERIAL_MAGIC:
        raise ValueError("snappy: missing xerial magic")
    if len(buf) < 16:
        raise ValueError("snappy: truncated xerial header")
    version, compat = struct.unpack(">ii", buf[8:16])
    if compat > 1:
        raise ValueError(f"snappy: incompatible xerial version {version}")
    pos, n = 16, len(buf)
    out = bytearray()
    while pos < n:
        if pos + 4 > n:
            raise ValueError("snappy: truncated xerial chunk length")
        (clen,) = struct.unpack(">i", buf[pos : pos + 4])
        pos += 4
        if clen <= 0 or pos + clen > n:
            raise ValueError("snappy: truncated xerial chunk")
        out += decompress(buf[pos : pos + clen])
        pos += clen
    return bytes(out)


def maybe_xerial_unframe(buf: bytes) -> bytes:
    """Kafka snappy payload → bytes, accepting BOTH shapes on the
    public wire: the xerial stream (Java clients) and a bare raw
    block (librdkafka and friends). Sniffed by the 8-byte magic,
    which cannot begin a raw block (0x82 would be a mid-stream
    varint continuation byte in the preamble position)."""
    if buf[:8] == XERIAL_MAGIC:
        return xerial_unframe(buf)
    return decompress(buf)


# -- the Avro "snappy" codec (block + BE CRC-32 of the plain bytes) -----


def avro_snappy_encode(data: bytes) -> bytes:
    import zlib

    return compress(data) + struct.pack(">I", zlib.crc32(data))


def avro_snappy_decode(block: bytes) -> bytes:
    import zlib

    if len(block) < 4:
        raise ValueError("snappy: avro block shorter than its CRC")
    data = decompress(block[:-4])
    (crc,) = struct.unpack(">I", block[-4:])
    if zlib.crc32(data) != crc:
        raise ValueError("snappy: avro block CRC mismatch")
    return data
