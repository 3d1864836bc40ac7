"""Row-at-a-time Avro reference codec for the codec tests.

A direct, value-by-value transcription of the Avro 1.11 binary encoding
and object container layout: one Python call per value, no numpy, no
code generation. The package's columnar codec
(``sources/avro_python.py``) must write exactly the bytes
``write_container`` writes and read exactly the values
``read_container`` / ``read_container_resolved`` read; the tests in
``test_avro_codec.py`` compare the two.

Values are Python objects per field: ints, floats, str, bytes, bool,
``datetime.date`` for ``date`` and naive ``datetime.datetime`` (micros
since the naive epoch) for both timestamp logical types.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import struct
import zlib
from collections.abc import Iterable, Iterator

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
    AVRO_MAGIC,
    _base_type,
    _logical,
    _nonnull_base,
    _read_bytes,
    _read_long,
    _resolution_plan,
    _sync_marker,
    _write_bytes,
    _write_long,
    read_header,
)

_EPOCH = _dt.date(1970, 1, 1)


def _encode_value(typ, v, out: bytearray) -> None:
    if isinstance(typ, list):  # union — spec: long branch index + value
        if v is None:
            _write_long(out, typ.index("null"))
            return
        branch = next(i for i, t in enumerate(typ) if t != "null")
        _write_long(out, branch)
        _encode_value(typ[branch], v, out)
        return
    base = _base_type(typ)
    logical = _logical(typ)
    if base in ("long", "int"):
        if logical == "date" and isinstance(v, _dt.date):
            v = (v - _EPOCH).days
        elif logical in ("timestamp-micros", "local-timestamp-micros") and isinstance(
            v, _dt.datetime
        ):
            # naive datetimes are encoded as micros since the naive epoch —
            # integer arithmetic, independent of the host timezone
            v = (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
        _write_long(out, int(v))
    elif base == "double":
        out.extend(struct.pack("<d", float(v)))
    elif base == "string":
        _write_bytes(out, v.encode("utf-8"))
    elif base == "bytes":
        _write_bytes(out, bytes(v))
    elif base == "boolean":
        out.append(1 if v else 0)
    elif base == "null":
        pass
    else:  # pragma: no cover - guarded by schema construction
        raise ValueError(f"unsupported Avro type: {typ!r}")


def _decode_value(typ, buf: bytes, pos: int):
    if isinstance(typ, list):
        branch, pos = _read_long(buf, pos)
        if typ[branch] == "null":
            return None, pos
        return _decode_value(typ[branch], buf, pos)
    base = _base_type(typ)
    logical = _logical(typ)
    if base in ("long", "int"):
        v, pos = _read_long(buf, pos)
        if logical == "date":
            return _EPOCH + _dt.timedelta(days=v), pos
        if logical in ("timestamp-micros", "local-timestamp-micros"):
            return (
                _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v),
                pos,
            )
        return v, pos
    if base == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if base == "string":
        raw, pos = _read_bytes(buf, pos)
        return raw.decode("utf-8"), pos
    if base == "bytes":
        raw, pos = _read_bytes(buf, pos)
        return bytes(raw), pos
    if base == "boolean":
        return buf[pos] != 0, pos + 1
    if base == "null":
        return None, pos
    raise ValueError(f"unsupported Avro type: {typ!r}")  # pragma: no cover


def write_container(
    path: str,
    schema: dict,
    rows: Iterable[tuple],
    *,
    codec: str = "null",
    block_rows: int = 4096,
) -> int:
    """Write rows (tuples aligned with ``schema['fields']``) as an Avro
    object container file. Returns the row count."""
    field_types = [f["type"] for f in schema["fields"]]
    sync = _sync_marker(os.path.basename(path))
    header = bytearray()
    header.extend(AVRO_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(header, len(meta))
    for k, v in meta.items():
        _write_bytes(header, k.encode())
        _write_bytes(header, v)
    _write_long(header, 0)  # end of metadata map
    header.extend(sync)

    n_total = 0
    with open(path, "wb") as fh:
        fh.write(header)
        block = bytearray()
        n_block = 0

        def _flush() -> None:
            nonlocal block, n_block
            if not n_block:
                return
            payload = bytes(block)
            if codec == "deflate":
                # spec Required Codecs: raw deflate (zlib with -15 window,
                # no zlib header/checksum). Level 6 (zlib default) —
                # round-15: level 9 spent ~3× the compressor CPU for a
                # marginal ratio gain on these blocks; any level is
                # spec-conformant and decodes identically.
                comp = zlib.compressobj(6, zlib.DEFLATED, -15)
                payload = comp.compress(payload) + comp.flush()
            elif codec != "null":
                raise ValueError(f"unsupported codec {codec!r}")
            frame = bytearray()
            _write_long(frame, n_block)
            _write_long(frame, len(payload))
            fh.write(frame)
            fh.write(payload)
            fh.write(sync)
            block = bytearray()
            n_block = 0

        for row in rows:
            for typ, v in zip(field_types, row):
                _encode_value(typ, v, block)
            n_block += 1
            n_total += 1
            if n_block >= block_rows:
                _flush()
        _flush()
    return n_total


def read_container(path: str) -> Iterator[tuple]:
    """Decode every row of an Avro object container file using the
    WRITER's schema embedded in the header (self-describing read)."""
    schema, codec, sync, pos = read_header(path)
    field_types = [f["type"] for f in schema["fields"]]
    with open(path, "rb") as fh:
        buf = fh.read()
    while pos < len(buf):
        n_rows, pos = _read_long(buf, pos)
        n_bytes, pos = _read_long(buf, pos)
        payload = buf[pos : pos + n_bytes]
        pos += n_bytes
        if buf[pos : pos + 16] != sync:
            raise ValueError(f"sync marker mismatch in {path}")
        pos += 16
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        ppos = 0
        for _ in range(n_rows):
            row = []
            for typ in field_types:
                v, ppos = _decode_value(typ, payload, ppos)
                row.append(v)
            yield tuple(row)


def _resolve_value(reader_t, v):
    """Promote a decoded writer value to the reader's type."""
    if v is None:
        return None
    if _nonnull_base(reader_t) == "double" and isinstance(v, int):
        return float(v)
    return v


def read_container_resolved(path: str, reader_schema: dict) -> Iterator[tuple]:
    """Decode a container file under a READER schema (spec: Schema
    Resolution): fields match by NAME; writer-only fields are decoded
    and dropped; reader-only fields take their declared ``default``;
    int->long/double, long->double, float->double promotions apply.
    This is how a consumer upgrades its schema without rewriting the
    landed files — the evolution half of the Avro contract.
    """
    writer_schema, _, _, _ = read_header(path)
    plan = _resolution_plan(writer_schema, reader_schema)

    for row in read_container(path):
        out = []
        for step in plan:
            if step[0] == "default":
                out.append(step[1])
            else:
                _, wi, rt = step
                out.append(_resolve_value(rt, row[wi]))
        yield tuple(out)
