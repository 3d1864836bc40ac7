"""Pure-Python Protocol Buffers wire-format codec.

Like ``from_avro`` (see sources/avro_python.py), Spark's
``from_protobuf``/``to_protobuf`` live in an external module
(``spark-protobuf_2.13``) whose jar this container's pyspark 4.1.2 does
not ship, and no ``google.protobuf`` wheel is installed (SURVEY §2.1
exclusion note). The protobuf WIRE FORMAT, however, is public and small
(https://protobuf.dev/programming-guides/encoding/), so this module
implements it directly for the scalar types an event feed needs:

  * wire type 0 (VARINT)  — int64/uint64/bool (little-endian 7-bit
    groups, high bit = continuation); sint64 adds zigzag;
  * wire type 1 (I64)     — double, 8-byte little-endian;
  * wire type 2 (LEN)     — string/bytes, varint length prefix; also
    NESTED MESSAGES (LEN-framed sub-message bytes) and PACKED repeated
    numerics (one LEN field holding concatenated scalar payloads — the
    proto3 default; unpacked form accepted on decode per the spec);
    repeated strings/messages repeat the tag per element;
  * wire type 5 (I32)     — float, 4-byte little-endian;
  * a field = tag varint ``(field_number << 3) | wire_type`` + payload;
    a message = concatenated fields (order-insensitive on decode).

Proto3 semantics are honored: scalar fields equal to their default
(0, 0.0, "", false) are OMITTED on encode and materialized back on
decode — the property that makes sparse event payloads cheap on the
wire.

The decoder takes a *projection*: only requested field numbers are
materialized; every other field is SKIPPED structurally (varints
consumed, LEN payloads jumped over by their length prefix) without
decoding — protobuf's column-pruning analogue, and the reason partial
decode of a wide message costs O(bytes skipped), not O(fields parsed).
Both halves run executor-side under mapInPandas (Arrow batches); no
row ever transits the driver.

Reference repo has no code (/root/reference/README.md:1-2); the
surface follows SURVEY §2.1's ingest-format contract.
"""

from __future__ import annotations

import math as _math
import struct

from .varint import (
    VARINT_READ,
    np_varint_lens,
    np_write_varints,
    np_zigzag,
    read_varint,
    write_varint,
)

VARINT, I64, LEN, I32 = 0, 1, 2, 5

_WIRE = {
    "int64": VARINT,
    "sint64": VARINT,
    "bool": VARINT,
    "double": I64,
    "float": I32,
    "string": LEN,
    "bytes": LEN,
}

_DEFAULTS = {
    "int64": 0,
    "sint64": 0,
    "bool": False,
    "double": 0.0,
    "float": 0.0,
    "string": "",
    "bytes": b"",
}


def _kind_base(kind) -> str:
    return kind[0] if isinstance(kind, tuple) else kind


def _encode_scalar(kind: str, v, out: bytearray) -> None:
    """Tag-less payload encoding for one scalar value."""
    if kind == "int64":
        # proto wire: negative int64 is 10-byte two's-complement varint
        write_varint(out, v & 0xFFFFFFFFFFFFFFFF)
    elif kind == "sint64":
        write_varint(out, (v << 1) ^ (v >> 63))
    elif kind == "bool":
        write_varint(out, 1 if v else 0)
    elif kind == "double":
        out.extend(struct.pack("<d", v))
    elif kind == "float":
        out.extend(struct.pack("<f", v))
    elif kind == "string":
        raw = v.encode("utf-8")
        write_varint(out, len(raw))
        out.extend(raw)
    elif kind == "bytes":
        write_varint(out, len(v))
        out.extend(v)
    else:  # pragma: no cover - guarded by schema construction
        raise ValueError(f"unsupported scalar kind {kind!r}")


def _decode_scalar(kind: str, buf: bytes, pos: int):
    if kind == "int64":
        u, pos = read_varint(buf, pos)
        return u - (1 << 64) if u >= 1 << 63 else u, pos
    if kind == "sint64":
        u, pos = read_varint(buf, pos)
        return (u >> 1) ^ -(u & 1), pos
    if kind == "bool":
        u, pos = read_varint(buf, pos)
        return u != 0, pos
    if kind == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if kind == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if kind == "string":
        ln, pos = read_varint(buf, pos)
        return buf[pos : pos + ln].decode("utf-8"), pos + ln
    if kind == "bytes":
        ln, pos = read_varint(buf, pos)
        return bytes(buf[pos : pos + ln]), pos + ln
    raise ValueError(f"unsupported scalar kind {kind!r}")  # pragma: no cover


_PACKABLE = {"int64", "sint64", "bool", "double", "float"}


def _is_default(base: str, v) -> bool:
    """Proto3 default test with sign-aware zero compare: -0.0 == 0.0
    under ``==`` but is NOT the default and must be emitted (else it
    decodes back as +0.0 and flips sign under hash-compare oracles).
    The ``v == 0.0`` short-circuit keeps the hot encode path at one
    equality compare per field — the copysign bit test runs only for
    actual zeros (a per-field struct.pack bit compare measurably slowed
    the nested-envelope bench ~1.3×)."""
    if base in ("double", "float"):
        return v == 0.0 and _math.copysign(1.0, v) > 0.0
    return v == _DEFAULTS[base]


def encode_message(schema: dict, values: dict) -> bytes:
    """Encode one message. ``schema`` maps field name -> (field_number,
    kind), where kind is a scalar name, ("message", sub_schema), or
    ("repeated", inner_kind). Proto3 semantics: default-valued scalars,
    absent sub-messages, and empty repeateds are omitted from the wire;
    repeated numerics are PACKED (one LEN field holding concatenated
    payloads — the proto3 default), repeated strings/bytes/messages
    repeat the tag per element."""
    out = bytearray()
    for name, (num, kind) in schema.items():
        v = values.get(name)
        base = _kind_base(kind)
        if base == "message":
            # Only absence (None) omits a sub-message; a present-but-empty
            # dict {} must hit the wire as a zero-length LEN field so it
            # decodes back as {} rather than collapsing to None.
            if v is None:
                continue
            payload = encode_message(kind[1], v)
            write_varint(out, (num << 3) | LEN)
            write_varint(out, len(payload))
            out.extend(payload)
        elif base == "repeated":
            if not v:
                continue
            inner = kind[1]
            ibase = _kind_base(inner)
            if ibase in _PACKABLE:
                packed = bytearray()
                for elem in v:
                    _encode_scalar(ibase, elem, packed)
                write_varint(out, (num << 3) | LEN)
                write_varint(out, len(packed))
                out.extend(packed)
            elif ibase == "message":
                for elem in v:
                    payload = encode_message(inner[1], elem)
                    write_varint(out, (num << 3) | LEN)
                    write_varint(out, len(payload))
                    out.extend(payload)
            else:  # repeated string/bytes: one LEN field per element
                for elem in v:
                    write_varint(out, (num << 3) | _WIRE[ibase])
                    _encode_scalar(ibase, elem, out)
        else:
            if v is None or _is_default(base, v):
                continue
            write_varint(out, (num << 3) | _WIRE[base])
            _encode_scalar(base, v, out)
    return bytes(out)


def _default_for(kind):
    base = _kind_base(kind)
    if base == "repeated":
        return []
    if base == "message":
        return None
    return _DEFAULTS[base]


def _skip_field(wire: int, buf: bytes, pos: int) -> int:
    if wire == VARINT:
        _, pos = read_varint(buf, pos)
        return pos
    if wire == I64:
        return pos + 8
    if wire == LEN:
        ln, pos = read_varint(buf, pos)
        return pos + ln
    if wire == I32:
        return pos + 4
    raise ValueError(f"unsupported wire type {wire}")


def _as_wanted(spec: dict) -> dict:
    """Accept a projection in either form: decode-form
    {field_number: (name, kind)} or encode-form {name: (number, kind)}
    (so a full schema can be passed as-is to decode everything)."""
    if spec and all(isinstance(k, str) for k in spec):
        return {num: (name, kind) for name, (num, kind) in spec.items()}
    return spec


# ---------------------------------------------------------------------------
# Vectorized batch codec (round-16, guide §4.2): the per-message
# encode_message/decode_message above stay the reference (and the only
# path for nested/repeated shapes); FLAT scalar messages — the event
# firehose shape — move whole Arrow/numpy batches at once. Bytes out and
# values in are identical to the row path (tests pin both).
# ---------------------------------------------------------------------------


def encode_flat_batch(schema: dict, cols: dict):
    """Vectorized proto3 encode of N FLAT scalar messages — byte-wise
    identical to calling ``encode_message`` per row (same field order,
    same default-omission incl. the -0.0 rule). ``cols`` maps field
    name -> sequence (numpy-coercible numerics/bools; str/bytes/None
    sequences for LEN fields). Returns ``(payload: bytes, offsets:
    np.int64[N+1])`` — message i is ``payload[offsets[i]:offsets[i+1]]``.
    """
    import numpy as np

    names = list(schema)
    n = len(cols[names[0]]) if names else 0
    per_field = []
    lens = np.zeros((len(names), n), np.int64)
    for j, name in enumerate(names):
        num, kind = schema[name]
        base = _kind_base(kind)
        tag = bytearray()
        write_varint(tag, (num << 3) | _WIRE[base])
        tl = len(tag)
        col = cols[name]
        if base in ("int64", "sint64", "bool"):
            v = np.asarray(col)
            if base == "bool":
                emit = v.astype(bool)
                u = emit.astype(np.uint64)
            elif base == "sint64":
                v = v.astype(np.int64)
                emit = v != 0
                u = np_zigzag(v)
            else:
                v = v.astype(np.int64)
                emit = v != 0
                u = v.astype(np.uint64)  # two's-complement varint
            vl = np_varint_lens(u)
            per_field.append((base, bytes(tag), emit, u, vl))
            lens[j] = np.where(emit, tl + vl, 0)
        elif base in ("double", "float"):
            v = np.asarray(col, dtype=np.float64)
            emit = ~((v == 0.0) & ~np.signbit(v))
            width = 8 if base == "double" else 4
            per_field.append((base, bytes(tag), emit, v, width))
            lens[j] = np.where(emit, tl + width, 0)
        elif base in ("string", "bytes"):
            enc = [
                (x.encode("utf-8") if isinstance(x, str) else x) or b""
                for x in col
            ]
            plen = np.fromiter((len(b) for b in enc), np.int64, n)
            emit = plen > 0
            blob = np.frombuffer(b"".join(enc), np.uint8)
            lu = plen.astype(np.uint64)
            ll = np_varint_lens(lu)
            src0 = np.cumsum(plen) - plen
            per_field.append((base, bytes(tag), emit, lu, ll, plen, src0, blob))
            lens[j] = np.where(emit, tl + ll + plen, 0)
        else:
            raise ValueError(f"encode_flat_batch: non-scalar kind {kind!r}")

    flat = lens.T.ravel()
    ends = np.cumsum(flat)
    total = int(ends[-1]) if len(flat) else 0
    starts_all = (ends - flat).reshape(n, len(names))
    buf = np.empty(total, np.uint8)
    tag_np = {}
    for j, spec in enumerate(per_field):
        base, tag, emit = spec[0], spec[1], spec[2]
        st = starts_all[:, j][emit]
        tb = tag_np.get(tag)
        if tb is None:
            tb = tag_np[tag] = np.frombuffer(tag, np.uint8)
        for k in range(len(tag)):
            buf[st + k] = tb[k]
        vst = st + len(tag)
        if base in ("int64", "sint64", "bool"):
            _, _, _, u, vl = spec
            np_write_varints(buf, vst, u[emit], vl[emit])
        elif base in ("double", "float"):
            _, _, _, v, width = spec
            dv = v[emit]
            if len(dv):
                bw = dv.astype("<f8" if width == 8 else "<f4")
                buf[vst[:, None] + np.arange(width)] = bw.view(
                    np.uint8
                ).reshape(-1, width)
        else:
            _, _, _, lu, ll, plen, src0, blob = spec
            np_write_varints(buf, vst, lu[emit], ll[emit])
            pst = vst + ll[emit]
            plv = plen[emit]
            tot = int(plv.sum())
            if tot:
                cum = np.cumsum(plv) - plv
                intra = np.arange(tot, dtype=np.int64) - np.repeat(cum, plv)
                buf[np.repeat(pst, plv) + intra] = blob[
                    np.repeat(src0[emit], plv) + intra
                ]
    offsets = np.empty(n + 1, np.int64)
    offsets[0] = 0
    offsets[1:] = lens.sum(axis=0).cumsum()
    return buf.tobytes(), offsets


#: compiled flat-projection decoders, keyed by the wanted-spec signature
_FLAT_DECODER_CACHE: dict[str, object] = {}

def _flat_decoder(wanted: dict):
    """exec-compile a projection decoder for FLAT scalar messages:
    ``fn(buf, offsets, n, caps)`` walks each message's tag stream once,
    captures only the wanted field numbers (value for varint kinds,
    offsets for doubles/strings) and skips everything else by wire
    type — the same projection semantics as ``decode_message``."""
    import textwrap

    wanted = _as_wanted(wanted)
    key = repr(sorted((num, name, kind) for num, (name, kind) in wanted.items()))
    fn = _FLAT_DECODER_CACHE.get(key)
    if fn is not None:
        return fn

    def ind(text: str, levels: int) -> str:
        return textwrap.indent(text, "    " * levels)

    inits, appends, branches = [], [], []
    cap_names = []
    i = 0
    for num in sorted(wanted):
        name, kind = wanted[num]
        base = _kind_base(kind)
        kw = "if" if not branches else "elif"
        if base in ("int64", "sint64", "bool"):
            inits.append(f"v{i} = 0" if base != "bool" else f"v{i} = False")
            if base == "int64":
                fix = (
                    f"v{i} = a - 18446744073709551616 "
                    "if a >= 9223372036854775808 else a\n"
                )
            elif base == "sint64":
                fix = f"v{i} = (a >> 1) ^ -(a & 1)\n"
            else:
                fix = f"v{i} = a != 0\n"
            branches.append(
                ind(f"{kw} num == {num}:\n", 3)
                + ind(VARINT_READ + fix, 4)
            )
            appends.append(f"c{i}(v{i})")
            cap_names.append((name, base, 1))
            i += 1
        elif base in ("double", "float"):
            width = 8 if base == "double" else 4
            inits.append(f"o{i} = -1")
            branches.append(
                ind(f"{kw} num == {num}:\n", 3)
                + ind(f"o{i} = pos; pos += {width}\n", 4)
            )
            appends.append(f"c{i}(o{i})")
            cap_names.append((name, base, 1))
            i += 1
        elif base in ("string", "bytes"):
            inits.append(f"o{i} = -1; l{i} = 0")
            branches.append(
                ind(f"{kw} num == {num}:\n", 3)
                + ind(VARINT_READ + f"o{i} = pos; l{i} = a; pos += a\n", 4)
            )
            appends.append(f"c{i}(o{i})")
            appends.append(f"c{i + 1}(l{i})")
            cap_names.append((name, base, 2))
            i += 2
        else:
            raise ValueError(f"_flat_decoder: non-scalar kind {kind!r}")
    skip = (
        ind("else:\n", 3)
        + ind(
            "if wire == 0:\n"
            "    while buf[pos] & 128:\n"
            "        pos += 1\n"
            "    pos += 1\n"
            "elif wire == 2:\n",
            4,
        )
        + ind(VARINT_READ + "pos += a\n", 5)
        + ind(
            "elif wire == 1:\n"
            "    pos += 8\n"
            "elif wire == 5:\n"
            "    pos += 4\n"
            "else:\n"
            "    raise ValueError('unsupported wire type %d' % wire)\n",
            4,
        )
    )
    src = (
        "def _decode(buf, offsets, n, caps):\n"
        + ind("\n".join(f"c{k} = caps[{k}].append" for k in range(i)) + "\n", 1)
        + ind("for mi in range(n):\n", 1)
        + ind("pos = offsets[mi]; end = offsets[mi + 1]\n", 2)
        + ind("\n".join(inits) + "\n", 2)
        + ind("while pos < end:\n", 2)
        + ind(VARINT_READ + "num = a >> 3; wire = a & 7\n", 3)
        + "".join(branches)
        + skip
        + ind("\n".join(appends) + "\n", 2)
    )
    ns: dict = {}
    exec(compile(src, "<protobuf_flat_decoder>", "exec"), ns)
    fn = (ns["_decode"], cap_names)
    _FLAT_DECODER_CACHE[key] = fn
    return fn


def decode_flat_batch(buf: bytes, offsets, wanted: dict) -> dict:
    """Vectorized projection decode of N flat scalar messages laid out
    back-to-back in ``buf`` at ``offsets`` (N+1 bounds). Returns
    name -> column: numpy arrays for numerics/bools, a pyarrow
    StringArray/BinaryArray for LEN kinds (proto3 defaults materialized
    exactly like ``decode_message``: 0 / 0.0 / False / '' / b'')."""
    import numpy as np
    import pyarrow as pa

    decode, cap_names = _flat_decoder(wanted)
    n = len(offsets) - 1
    n_caps = sum(w for _, _, w in cap_names)
    caps = [[] for _ in range(n_caps)]
    decode(buf, offsets, n, caps)
    buf_np = np.frombuffer(buf, np.uint8)
    out = {}
    i = 0
    for name, base, width in cap_names:
        if base in ("int64", "sint64"):
            out[name] = np.array(caps[i], np.int64)
        elif base == "bool":
            out[name] = np.array(caps[i], bool)
        elif base in ("double", "float"):
            offs = np.array(caps[i], np.int64)
            valid = offs >= 0
            vals = np.zeros(n, np.float64)
            w = 8 if base == "double" else 4
            if valid.any():
                got = np.ascontiguousarray(
                    buf_np[offs[valid][:, None] + np.arange(w)]
                )
                vals[valid] = (
                    got.view("<f8")[:, 0] if w == 8 else got.view("<f4")[:, 0]
                )
            out[name] = vals
        else:  # string / bytes
            offs = np.array(caps[i], np.int64)
            plen = np.array(caps[i + 1], np.int64)
            ends = np.cumsum(plen)
            total = int(ends[-1]) if n else 0
            if total:
                starts = ends - plen
                intra = np.arange(total, dtype=np.int64) - np.repeat(
                    starts, plen
                )
                data = buf_np[np.repeat(offs.clip(0), plen) + intra]
                data_buf = pa.py_buffer(data.tobytes())
            else:
                data_buf = pa.py_buffer(b"")
            off32 = np.empty(n + 1, np.int32)
            off32[0] = 0
            off32[1:] = ends
            out[name] = pa.Array.from_buffers(
                pa.string() if base == "string" else pa.binary(),
                n,
                [None, pa.py_buffer(off32.tobytes()), data_buf],
                null_count=0,
            )
        i += width
    return out


def encode_event_envelope(user_id: int, event_ids, values) -> bytes:
    """Encode ONE ``{user_id; repeated Event{event_id, value}}``
    envelope — byte-identical to ``encode_message`` over the same
    values (proto3 default omission for user_id==0, event_id==0 and
    +0.0 values; one LEN-framed sub-message per event). Small groups
    run an inlined Python loop (measured 2.7x faster than the numpy
    scatter below the ~1k-event crossover: ~30 numpy calls dominate at
    per-user envelope grain); large groups take the vectorized path."""
    if len(event_ids) < 1024:
        import math
        import struct as _struct

        out = bytearray()
        ap = out.append
        ext = out.extend
        if user_id:
            ap(0x08)
            u = user_id & 0xFFFFFFFFFFFFFFFF
            while True:
                b = u & 0x7F
                u >>= 7
                if u:
                    ap(b | 0x80)
                else:
                    ap(b)
                    break
        pack = _struct.pack
        cs = math.copysign
        for e, v in zip(
            event_ids.tolist() if hasattr(event_ids, "tolist") else event_ids,
            values.tolist() if hasattr(values, "tolist") else values,
        ):
            sub = bytearray()
            sap = sub.append
            if e:
                sap(0x08)
                u = e & 0xFFFFFFFFFFFFFFFF
                while True:
                    b = u & 0x7F
                    u >>= 7
                    if u:
                        sap(b | 0x80)
                    else:
                        sap(b)
                        break
            if v != 0.0 or cs(1.0, v) < 0.0:
                sap(0x11)
                sub += pack("<d", v)
            n = len(sub)
            ap(0x12)
            while True:
                b = n & 0x7F
                n >>= 7
                if n:
                    ap(b | 0x80)
                else:
                    ap(b)
                    break
            ext(sub)
        return bytes(out)
    return _encode_event_envelope_np(user_id, event_ids, values)


def _encode_event_envelope_np(user_id: int, event_ids, values) -> bytes:
    """Vectorized envelope encode (numpy scatter) for large groups."""
    import numpy as np

    eid = np.asarray(event_ids, np.int64)
    val = np.asarray(values, np.float64)
    u_eid = eid.astype(np.uint64)
    emit_id = eid != 0
    idl = np_varint_lens(u_eid)
    id_part = np.where(emit_id, 1 + idl, 0)
    emit_v = ~((val == 0.0) & ~np.signbit(val))
    v_part = np.where(emit_v, 9, 0)
    sub_len = id_part + v_part
    sl = np_varint_lens(sub_len.astype(np.uint64))
    ev_len = 1 + sl + sub_len
    head = bytearray()
    if user_id:
        write_varint(head, (1 << 3) | VARINT)
        write_varint(head, user_id & 0xFFFFFFFFFFFFFFFF)
    h = len(head)
    if not len(ev_len):
        return bytes(head)
    ends = h + np.cumsum(ev_len)
    starts = ends - ev_len
    buf = np.empty(int(ends[-1]), np.uint8)
    if h:
        buf[:h] = np.frombuffer(bytes(head), np.uint8)
    buf[starts] = (2 << 3) | LEN  # 0x12
    np_write_varints(buf, starts + 1, sub_len.astype(np.uint64), sl)
    p = starts + 1 + sl
    pi = p[emit_id]
    buf[pi] = (1 << 3) | VARINT  # 0x08
    np_write_varints(buf, pi + 1, u_eid[emit_id], idl[emit_id])
    pv = (p + id_part)[emit_v]
    buf[pv] = (2 << 3) | I64  # 0x11
    dv = val[emit_v]
    if len(dv):
        buf[pv[:, None] + np.arange(1, 9)] = (
            dv.astype("<f8").view(np.uint8).reshape(-1, 8)
        )
    return buf.tobytes()


def decode_event_envelopes(buf: bytes, offsets):
    """Decode N back-to-back envelopes (bounds in ``offsets``) and
    flatten to columns: ``(user_ids, event_ids, value_offsets)`` where
    a value offset of -1 means the proto3 default 0.0 (gather the 8-byte
    doubles vectorized from ``buf``). Row order and defaults match
    ``decode_message`` + per-event Python flatten exactly."""
    users: list = []
    eids: list = []
    voffs: list = []
    ua, ea, va = users.append, eids.append, voffs.append
    for mi in range(len(offsets) - 1):
        pos = offsets[mi]
        end = offsets[mi + 1]
        uid = 0
        evs: list = []
        while pos < end:
            a = buf[pos]; pos += 1
            if a & 128:
                a &= 127; s = 7
                while True:
                    b_ = buf[pos]; pos += 1
                    a |= (b_ & 127) << s
                    if b_ < 128:
                        break
                    s += 7
            num = a >> 3
            wire = a & 7
            if num == 2 and wire == LEN:
                a = buf[pos]; pos += 1
                if a & 128:
                    a &= 127; s = 7
                    while True:
                        b_ = buf[pos]; pos += 1
                        a |= (b_ & 127) << s
                        if b_ < 128:
                            break
                        s += 7
                pend = pos + a
                e_ = 0
                vo = -1
                while pos < pend:
                    t = buf[pos]; pos += 1
                    if t == 0x08:
                        a = buf[pos]; pos += 1
                        if a & 128:
                            a &= 127; s = 7
                            while True:
                                b_ = buf[pos]; pos += 1
                                a |= (b_ & 127) << s
                                if b_ < 128:
                                    break
                                s += 7
                        e_ = (
                            a - 18446744073709551616
                            if a >= 9223372036854775808
                            else a
                        )
                    elif t == 0x11:
                        vo = pos; pos += 8
                    else:  # general skip (multi-byte tag or unknown field)
                        if t & 128:
                            t &= 127; s = 7
                            while True:
                                b_ = buf[pos]; pos += 1
                                t |= (b_ & 127) << s
                                if b_ < 128:
                                    break
                                s += 7
                        pos = _skip_field(t & 7, buf, pos)
                evs.append((e_, vo))
            elif num == 1 and wire == VARINT:
                a = buf[pos]; pos += 1
                if a & 128:
                    a &= 127; s = 7
                    while True:
                        b_ = buf[pos]; pos += 1
                        a |= (b_ & 127) << s
                        if b_ < 128:
                            break
                        s += 7
                uid = (
                    a - 18446744073709551616
                    if a >= 9223372036854775808
                    else a
                )
            else:
                pos = _skip_field(wire, buf, pos)
        for e_, vo in evs:
            ua(uid)
            ea(e_)
            va(vo)
    return users, eids, voffs


def decode_message(buf: bytes, wanted: dict) -> dict:
    """Decode one message, materializing ONLY the fields in ``wanted``
    (field_number -> (name, kind) with the same kind grammar as
    encode_message — encode-form schemas are accepted too; a wanted
    ("message", sub_spec) projects into the sub-message recursively).
    All other fields are skipped structurally by wire type. Missing
    fields get proto3 defaults ([] for repeated, None for absent
    sub-messages). Packed AND unpacked encodings of repeated numerics
    are both accepted, per the spec."""
    wanted = _as_wanted(wanted)
    out = {name: _default_for(kind) for name, kind in wanted.values()}
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = read_varint(buf, pos)
        num, wire = tag >> 3, tag & 0x7
        spec = wanted.get(num)
        if spec is None:
            pos = _skip_field(wire, buf, pos)
            continue
        name, kind = spec
        base = _kind_base(kind)
        if base == "message":
            ln, pos = read_varint(buf, pos)
            out[name] = decode_message(buf[pos : pos + ln], kind[1])
            pos += ln
        elif base == "repeated":
            inner = kind[1]
            ibase = _kind_base(inner)
            if ibase == "message":
                ln, pos = read_varint(buf, pos)
                out[name].append(
                    decode_message(buf[pos : pos + ln], inner[1])
                )
                pos += ln
            elif ibase in _PACKABLE and wire == LEN:
                ln, pos = read_varint(buf, pos)
                end = pos + ln
                while pos < end:
                    v, pos = _decode_scalar(ibase, buf, pos)
                    out[name].append(v)
            else:  # unpacked numeric, or string/bytes element
                v, pos = _decode_scalar(ibase, buf, pos)
                out[name].append(v)
        else:
            v, pos = _decode_scalar(base, buf, pos)
            out[name] = v
    return out
