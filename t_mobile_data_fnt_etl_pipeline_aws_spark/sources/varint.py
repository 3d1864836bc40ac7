"""Base-128 varint kernel shared by the Avro and protobuf wire codecs.

Both formats write unsigned integers as little-endian 7-bit groups with
the high bit as the continuation flag. Avro's ``long`` and protobuf's
``sint64`` first map signed values through zigzag, ``(n << 1) ^ (n >>
63)``, so small magnitudes of either sign stay short. This module holds
the one implementation of each piece: scalar read/write, the numpy
length/scatter pair the columnar encoders use, and the source snippet
the exec-compiled decoders inline.
"""

from __future__ import annotations


def write_varint(out: bytearray, u: int) -> None:
    """Append the varint bytes of a non-negative int to ``out``."""
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one varint at ``pos`` -> (value, position after it)."""
    acc = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return acc, pos
        shift += 7


def np_zigzag(ints):
    """Zigzag-map an int64 array to the uint64 values a varint carries."""
    import numpy as np

    return (ints.astype(np.uint64) << np.uint64(1)) ^ (
        ints >> np.int64(63)
    ).astype(np.uint64)


def np_varint_lens(u):
    """Per-value varint byte length (1..10) for a uint64 array."""
    import numpy as np

    lens = np.ones(u.shape, np.int64)
    for k in range(1, 10):
        lens += (u >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    return lens


def np_write_varints(buf, starts, u, lens) -> None:
    """Scatter varints (values ``u`` uint64, byte lengths ``lens``) into
    the uint8 array ``buf`` at ``starts`` — the vectorized twin of
    ``write_varint``."""
    import numpy as np

    if not len(starts):
        return
    for k in range(int(lens.max())):
        m = lens > k
        grp = ((u[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lens[m] - 1 > k).astype(np.uint8) << 7
        buf[starts[m] + k] = grp | cont


#: zero-indent varint read of ``buf`` at ``pos`` into ``a`` (advancing
#: ``pos``), for exec-compiled decoders to indent per use site. The
#: one-byte case takes no loop iteration.
VARINT_READ = """\
a = buf[pos]; pos += 1
if a & 128:
    a &= 127; s = 7
    while True:
        b_ = buf[pos]; pos += 1
        a |= (b_ & 127) << s
        if b_ < 128:
            break
        s += 7
"""
