"""Bit I/O and canonical prefix codes shared by the pure-Python codecs.

GIF's LZW codes and every VP8L field are packed LSB-first within bytes;
one reader and one writer serve both. `PrefixCode` is the one canonical
(DEFLATE/T.81-style) prefix code: VP8L builds it from code lengths, JPEG
from its BITS/HUFFVAL tables, and decoding reads code bits
most-significant first through the reader's `read_bit`, which JPEG's
MSB-first reader (operators.jpeg) provides too.

Stdlib only: the registry imports operators.multimodal at import time,
so this module must stay cheap to import.
"""

from __future__ import annotations


class LSBReader:
    """LSB-first bit reader over a byte string."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("bitstream exhausted")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def read_bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("bitstream exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        v = self.acc & 1
        self.acc >>= 1
        self.nbits -= 1
        return v


class LSBWriter:
    """LSB-first bit writer; `finish` pads the last byte with zero bits.
    Bits gather in an integer and leave it 8 bytes at a time: appending
    each byte as it filled made a 9-bit write ~1.5x slower."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        if self.nbits >= 64:
            self.out += (self.acc & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
            self.acc >>= 64
            self.nbits -= 64

    def write_code(self, code: int, n: int) -> None:
        """Prefix codes go most-significant-code-bit first (DEFLATE
        convention) while everything else is LSB-first — emit reversed."""
        for i in range(n - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def finish(self) -> bytes:
        self.out += self.acc.to_bytes((self.nbits + 7) // 8, "little")
        self.acc = 0
        self.nbits = 0
        return bytes(self.out)


class PrefixCode(dict):
    """Canonical prefix code: maps (length, code) -> symbol, with the
    inverse symbol -> (code, length) in `codes`.

    Built from (length, symbol) pairs in code order (non-decreasing
    lengths): each code is the previous one plus one, shifted left by the
    length step. A code that no longer fits its length is over-subscribed
    and raises. Incomplete and empty codes are allowed; the bit patterns
    they leave unassigned raise on decode. A length-0 pair is a symbol
    that costs no bits (VP8L's single-symbol code). Decoding reads the
    shortest length's bits first and gives up at the longest length."""

    __slots__ = ("shortest", "longest", "head")

    def __init__(self, pairs):
        code = 0
        prev_len = 0
        for ln, sym in pairs:
            code <<= ln - prev_len
            if code >= (1 << ln):
                raise ValueError("over-subscribed prefix code")
            self[(ln, code)] = sym
            code += 1
            prev_len = ln
        # lengths arrive non-decreasing: the first entry is the shortest
        self.shortest = next(iter(self))[0] if self else 0
        self.longest = prev_len
        self.head = range(self.shortest)  # bits read before any lookup

    @property
    def codes(self) -> dict[int, tuple[int, int]]:
        """symbol -> (code, length), the encoder's view."""
        return {sym: (code, ln) for (ln, code), sym in self.items()}

    def decode(self, br) -> int:
        """Next symbol from `br`, read one bit at a time with
        `br.read_bit()`, most-significant code bit first."""
        code = 0
        for _ in self.head:
            code = (code << 1) | br.read_bit()
        ln = self.shortest
        while True:
            sym = self.get((ln, code))
            if sym is not None:
                return sym
            if ln == self.longest:
                raise ValueError("invalid prefix code")
            code = (code << 1) | br.read_bit()
            ln += 1
