"""Shared codec building blocks (operators/bits.py): the LSB-first bit
reader/writer and the canonical prefix code, exercised through both of
their users' conventions — VP8L code lengths and JPEG BITS/HUFFVAL."""

from __future__ import annotations

import random

import pytest

from space_launch_telemetry_analyzer_spark.operators import jpeg as J
from space_launch_telemetry_analyzer_spark.operators.bits import (
    LSBReader,
    LSBWriter,
    PrefixCode,
)
from space_launch_telemetry_analyzer_spark.operators.webp import _vp8l_code


def _random_lengths(rng: random.Random, alphabet: int) -> list[int]:
    """A valid VP8L length set: split random leaves of a binary tree
    (depth <= 15) into a complete code, sometimes drop one leaf so the
    code is incomplete, and scatter the depths over the alphabet."""
    n = rng.randint(1, min(alphabet, 60))
    depths = [0]
    while len(depths) < n:
        i = rng.choice([k for k, d in enumerate(depths) if d < 15])
        d = depths.pop(i)
        depths += [d + 1, d + 1]
    if len(depths) > 2 and rng.random() < 0.3:
        depths.pop(rng.randrange(len(depths)))
    lengths = [0] * alphabet
    for sym, d in zip(rng.sample(range(alphabet), len(depths)), depths):
        lengths[sym] = max(d, 1)  # a lone symbol still declares length 1
    return lengths


def test_vp8l_codes_roundtrip_through_the_lsb_writer_and_reader():
    rng = random.Random(12)
    for _ in range(200):
        alphabet = rng.choice([2, 19, 40, 256, 280])
        code = _vp8l_code(_random_lengths(rng, alphabet))
        syms = list(code.codes)
        msg = [rng.choice(syms) for _ in range(rng.randint(1, 300))]
        bw = LSBWriter()
        for i, s in enumerate(msg):
            c, ln = code.codes[s]
            bw.write_code(c, ln)
            bw.write(i & 0x1F, 5)  # raw LSB-first fields interleave
        br = LSBReader(bw.finish())
        for i, s in enumerate(msg):
            assert code.decode(br) == s
            assert br.read(5) == i & 0x1F


def test_vp8l_single_symbol_code_costs_zero_bits():
    lengths = [0] * 256
    lengths[77] = 3
    code = _vp8l_code(lengths)
    assert code.codes == {77: (0, 0)}
    br = LSBReader(b"\xa5")
    assert [code.decode(br) for _ in range(100)] == [77] * 100
    assert br.read(8) == 0xA5  # no bit was consumed


def test_vp8l_over_subscribed_lengths_raise():
    with pytest.raises(ValueError, match="over-subscribed"):
        _vp8l_code([1, 1, 1])
    with pytest.raises(ValueError, match="no symbols"):
        _vp8l_code([0] * 19)


def _jpeg_roundtrip(bits, vals, msg):
    code = J._build_decode_table(bits, vals)
    bw = J._BitWriterMSB()
    for s in msg:
        bw.write(*code.codes[s])
    bw.flush()
    br = J._BitReaderMSB(bytes(bw.out), 0)
    assert [code.decode(br) for _ in msg] == msg
    return br


@pytest.mark.parametrize("bits, vals", [
    (J.DC_LUMA_BITS, J.DC_LUMA_VALS), (J.AC_LUMA_BITS, J.AC_LUMA_VALS),
    (J.DC_CHROMA_BITS, J.DC_CHROMA_VALS), (J.AC_CHROMA_BITS, J.AC_CHROMA_VALS),
])
def test_jpeg_annex_k_tables_decode_their_codes(bits, vals):
    rng = random.Random(sum(bits))
    msg = list(vals) + [rng.choice(vals) for _ in range(500)]
    _jpeg_roundtrip(bits, vals, msg)


def test_jpeg_one_symbol_table_reads_its_one_bit_code():
    bits = [1] + [0] * 15
    code = J._build_decode_table(bits, [0x42])
    assert code.codes == {0x42: (0, 1)}
    br = _jpeg_roundtrip(bits, [0x42], [0x42] * 16)
    assert br.pos == 2  # sixteen 1-bit codes: exactly two bytes consumed


def test_jpeg_over_subscribed_bits_raise():
    with pytest.raises(ValueError, match="over-subscribed"):
        J._build_decode_table([3] + [0] * 15, [1, 2, 3])


def test_prefix_code_raises_on_an_unassigned_pattern():
    # incomplete code {0: '0'}: the pattern '1' is unassigned
    code = PrefixCode([(1, 0)])
    with pytest.raises(ValueError, match="invalid prefix code"):
        code.decode(LSBReader(b"\x01"))
    with pytest.raises(ValueError, match="exhausted"):
        code.decode(LSBReader(b""))
