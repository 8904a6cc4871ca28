"""Bit-level integer codecs matching the reference index encoding.

The reference packs Elias-gamma and VByte codes LSB-first into a
little-endian u128 buffer flushed as 16-byte blocks
(/root/reference/search/src/disk/bits_writer.rs:28-100,
bits_reader.rs:27-127). Equivalently: the file is a single bitstream
where stream bit position ``p`` lives at bit ``p % 8`` of byte
``p // 8``. All public write/read calls bias by +1 so the value 0 is
representable (bits_writer.rs:23-38).

Golden vectors (bits_writer.rs:109-128):
    gamma(1)  = ``1``                 (1 bit)
    gamma(7)  = ``11100``             (5 bits)
    vbyte(1024) = ``1000100000000000`` (16 bits)
    vbyte(1) = ``10000001``           (8 bits)

This module is pure Python/NumPy (no Spark) — it is wrapped by Arrow
UDFs in the build pipeline to produce/consume ``BinaryType`` blobs.
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1


def int_to_gamma(n: int) -> tuple[int, int]:
    """Elias-gamma code for n >= 1 -> (code_bits, bit_length).

    Layout: unary marker bit for the MSB, then the low ``msb`` bits of
    ``n`` shifted above it (emitted LSB-first by the writer).
    """
    if n < 1:
        raise ValueError("gamma requires n >= 1")
    msb = n.bit_length() - 1
    code = ((n ^ (1 << msb)) << (msb + 1)) | (1 << msb)
    return code, 2 * msb + 1


def int_to_vbyte(n: int) -> tuple[int, int]:
    """VByte code for n >= 1 -> (code_bits, bit_length).

    7 data bits per byte, least-significant group first; the high bit
    of the *last* byte is the terminator.
    """
    if n < 1:
        raise ValueError("vbyte requires n >= 1")
    code = 0
    byte_num = 0
    v = n
    while v > 0:
        code |= (v & 0x7F) << (8 * byte_num)
        v >>= 7
        byte_num += 1
    code |= 1 << (8 * byte_num - 1)
    return code, 8 * byte_num


class BitWriter:
    """Append-only LSB-first bitstream (word-buffered, O(total bits))."""

    __slots__ = ("_words", "_acc", "_nbits", "_bit_count")

    def __init__(self) -> None:
        self._words: list[int] = []
        self._acc = 0
        self._nbits = 0
        self._bit_count = 0

    @property
    def bit_len(self) -> int:
        return self._bit_count

    def write_bits(self, code: int, length: int) -> int:
        self._acc |= code << self._nbits
        self._nbits += length
        self._bit_count += length
        while self._nbits >= 64:
            self._words.append(self._acc & _MASK64)
            self._acc >>= 64
            self._nbits -= 64
        return length

    def write_gamma(self, value: int) -> int:
        """Biased gamma: encodes value+1, so value >= 0."""
        return self.write_bits(*int_to_gamma(value + 1))

    def write_vbyte(self, value: int) -> int:
        """Biased vbyte: encodes value+1, so value >= 0."""
        return self.write_bits(*int_to_vbyte(value + 1))

    def write_str(self, s: str) -> int:
        data = s.encode("utf-8")
        n = self.write_gamma(len(data))
        for b in data:
            n += self.write_bits(b, 8)
        return n

    def write_gamma_gap_vector(self, values) -> int:
        """``vbyte(len)`` then gamma-coded deltas of an ascending vector."""
        n = self.write_vbyte(len(values))
        prev = 0
        for v in values:
            n += self.write_gamma(int(v) - prev)
            prev = int(v)
        return n

    def to_bytes(self, pad_to: int = 1) -> bytes:
        out = bytearray()
        for w in self._words:
            out += w.to_bytes(8, "little")
        if self._nbits > 0:
            out += self._acc.to_bytes((self._nbits + 7) // 8, "little")
        if pad_to > 1 and len(out) % pad_to:
            out += b"\x00" * (pad_to - len(out) % pad_to)
        return bytes(out)


class BitReader:
    """LSB-first bitstream reader over a bytes blob (bit-addressable)."""

    __slots__ = ("_buf", "_pos", "_nbits")

    def __init__(self, data: bytes) -> None:
        self._buf = int.from_bytes(data, "little")
        self._pos = 0
        self._nbits = len(data) * 8

    def seek(self, bit_offset: int) -> None:
        self._pos = bit_offset

    def read_bits(self, length: int) -> int:
        v = (self._buf >> self._pos) & ((1 << length) - 1)
        self._pos += length
        return v

    def _read_unary(self) -> int:
        count = 1
        while not (self._buf >> self._pos) & 1:
            self._pos += 1
            count += 1
            if self._pos >= self._nbits:
                raise EOFError("unary read past end of stream")
        self._pos += 1
        return count

    def read_gamma(self) -> int:
        length = self._read_unary() - 1
        return (self.read_bits(length) | (1 << length)) - 1

    def read_vbyte(self) -> int:
        res = 0
        byte_num = 0
        while True:
            byte = self.read_bits(8)
            res |= (byte & 0x7F) << (7 * byte_num)
            byte_num += 1
            if byte & 0x80:
                break
        return res - 1

    def read_str(self) -> str:
        n = self.read_gamma()
        return bytes(self.read_bits(8) for _ in range(n)).decode("utf-8")

    def read_gamma_gap_vector(self) -> list[int]:
        n = self.read_vbyte()
        out = []
        prefix = 0
        for _ in range(n):
            prefix += self.read_gamma()
            out.append(prefix)
        return out


# ---------------------------------------------------------------------------
# Posting-list blob codec (one term's postings <-> reference bit layout)
# ---------------------------------------------------------------------------


def encode_postings_with_bitlen(doc_ids, tfs, positions) -> tuple[bytes, int]:
    """Encode one term's postings to the reference bit layout.

    Layout (postings.rs:57-75): ``vbyte(n_docs)`` then per posting
    ``gamma(doc_id_gap), gamma(tf), vbyte(n_positions),
    gamma(position_gap)*``. Returns the byte-aligned blob and its bit
    length (the reference stream is bit-contiguous across terms; the
    file writer re-concatenates per-term blobs at the bit level).
    """
    w = BitWriter()
    w.write_vbyte(len(doc_ids))
    prev_doc = 0
    for i, d in enumerate(doc_ids):
        d = int(d)
        w.write_gamma(d - prev_doc)
        w.write_gamma(int(tfs[i]))
        pos = positions[i]
        w.write_vbyte(len(pos))
        prev_pos = 0
        for p in pos:
            p = int(p)
            w.write_gamma(p - prev_pos)
            prev_pos = p
        prev_doc = d
    return w.to_bytes(), w.bit_len


def encode_postings(doc_ids, tfs, positions) -> bytes:
    """:func:`encode_postings_with_bitlen` without the bit length."""
    return encode_postings_with_bitlen(doc_ids, tfs, positions)[0]


def decode_postings(blob: bytes) -> tuple[list[int], list[int], list[list[int]]]:
    """Inverse of :func:`encode_postings`."""
    r = BitReader(blob)
    n = r.read_vbyte()
    doc_ids: list[int] = []
    tfs: list[int] = []
    positions: list[list[int]] = []
    doc = 0
    for _ in range(n):
        doc += r.read_gamma()
        doc_ids.append(doc)
        tfs.append(r.read_gamma())
        positions.append(r.read_gamma_gap_vector())
    return doc_ids, tfs, positions


def gamma_bit_lengths(values: np.ndarray) -> np.ndarray:
    """Vectorised bit length of biased gamma codes for values >= 0."""
    v = np.asarray(values, dtype=np.uint64) + 1
    msb = np.frexp(v.astype(np.float64))[1] - 1  # floor(log2(v))
    return (2 * msb + 1).astype(np.int64)


def vbyte_bit_lengths(values: np.ndarray) -> np.ndarray:
    """Vectorised bit length of biased vbyte codes for values >= 0."""
    v = np.asarray(values, dtype=np.uint64) + 1
    bits = np.frexp(v.astype(np.float64))[1]  # bit_length(v)
    nbytes = np.maximum((bits + 6) // 7, 1)
    return (8 * nbytes).astype(np.int64)
