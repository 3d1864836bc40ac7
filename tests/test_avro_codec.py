"""Unit tests for the pure-Python Avro wire-format codec
(sources/avro_python.py) — spec vectors, container round-trips, the
header/self-description contract, and byte/value identity of the
columnar codec with the row-at-a-time reference in avro_reference.py.
Mostly pure Python (the Spark integration is covered by the
q_sink_avro_python / q_scan_avro_python oracle mirror in
test_queries.py); the data-source tests at the end run a real Spark
write or read."""

import datetime
import os

import pytest

from avro_reference import read_container, read_container_resolved, write_container

from t_mobile_data_fnt_etl_pipeline_aws_spark.sources.avro_python import (
    AVRO_MAGIC,
    _read_long,
    _write_long,
    make_avro_source,
    pa_schema_from_avro,
    read_container_arrow,
    read_container_arrow_resolved,
    read_header,
    spark_ddl_from_avro,
    write_container_arrow,
)

SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "x", "type": "double"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {
            "name": "ts",
            "type": {"type": "long", "logicalType": "local-timestamp-micros"},
        },
    ],
}


def _rows(n):
    base = datetime.datetime(1995, 6, 17, 12, 30, 45, 123456)
    return [
        (
            i,
            None if i % 3 == 0 else f"row-{i}",
            i * 0.25,
            i % 2 == 0,
            datetime.date(1995, 1, 1) + datetime.timedelta(days=i % 2000),
            base + datetime.timedelta(seconds=i, microseconds=i % 1000),
        )
        for i in range(n)
    ]


def test_zigzag_varint_spec_vectors():
    """The exact byte encodings from the Avro spec's zigzag table."""
    vectors = {
        0: b"\x00",
        -1: b"\x01",
        1: b"\x02",
        -2: b"\x03",
        2: b"\x04",
        -64: b"\x7f",
        64: b"\x80\x01",
    }
    for n, expected in vectors.items():
        out = bytearray()
        _write_long(out, n)
        assert bytes(out) == expected, (n, bytes(out), expected)
        v, pos = _read_long(bytes(out), 0)
        assert v == n and pos == len(out)


def test_varint_64bit_edges():
    for n in (2**62, -(2**62), 2**63 - 1, -(2**63), 12345678901234):
        out = bytearray()
        _write_long(out, n)
        v, pos = _read_long(bytes(out), 0)
        assert v == n and pos == len(out), n


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    """Rows survive write->read byte-exact across both required codecs,
    including nulls, dates, wall-clock timestamps, and multi-block files
    (block_rows smaller than the row count forces several blocks)."""
    rows = _rows(5001)
    p = str(tmp_path / f"t_{codec}.avro")
    n = write_container(p, SCHEMA, rows, codec=codec, block_rows=700)
    assert n == 5001
    assert list(read_container(p)) == rows


def test_deflate_actually_compresses(tmp_path):
    rows = _rows(5000)
    p_null = str(tmp_path / "n.avro")
    p_defl = str(tmp_path / "d.avro")
    write_container(p_null, SCHEMA, rows, codec="null")
    write_container(p_defl, SCHEMA, rows, codec="deflate")
    assert os.path.getsize(p_defl) < os.path.getsize(p_null) * 0.8


def test_header_is_self_describing(tmp_path):
    """A reader must recover the writer's schema + codec from the file
    alone (Avro's core property) and the magic must match the spec."""
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, _rows(10), codec="deflate")
    with open(p, "rb") as fh:
        assert fh.read(4) == AVRO_MAGIC == b"Obj\x01"
    schema, codec, sync, pos = read_header(p)
    assert schema == SCHEMA
    assert codec == "deflate"
    assert len(sync) == 16 and pos > 4


def test_sync_marker_corruption_detected(tmp_path):
    p = str(tmp_path / "t.avro")
    write_container(p, SCHEMA, _rows(50), codec="null", block_rows=10)
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # clobber the final sync marker
    open(p, "wb").write(raw)
    with pytest.raises(ValueError, match="sync marker"):
        list(read_container(p))


def test_spark_ddl_mapping():
    assert spark_ddl_from_avro(SCHEMA) == (
        "k bigint, s string, x double, b boolean, d date, ts timestamp_ntz"
    )


def test_empty_container(tmp_path):
    p = str(tmp_path / "e.avro")
    assert write_container(p, SCHEMA, []) == 0
    assert list(read_container(p)) == []


def test_property_roundtrip_random_rows(tmp_path):
    """Hypothesis battery: randomized rows through the container codec.
    Catches varint/length-prefix edge cases (64-bit boundaries, empty
    and astral-plane strings, negative dates) no fixture would."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row_st = st.tuples(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.one_of(st.none(), st.text(max_size=50)),
        st.floats(allow_nan=False),
        st.booleans(),
        st.dates(
            min_value=datetime.date(1, 1, 1),
            max_value=datetime.date(9999, 12, 31),
        ),
        st.datetimes(
            min_value=datetime.datetime(1, 1, 1),
            max_value=datetime.datetime(9999, 12, 31, 23, 59, 59, 999999),
        ),
    )

    counter = iter(range(10**9))

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(row_st, max_size=40),
           codec=st.sampled_from(["null", "deflate"]))
    def inner(rows, codec):
        p = str(tmp_path / f"prop_{next(counter)}.avro")
        write_container(p, SCHEMA, rows, codec=codec, block_rows=7)
        assert list(read_container(p)) == rows

    inner()


def test_property_nan_double_roundtrip(tmp_path):
    """NaN doubles survive byte-exact (IEEE payload preserved)."""
    import math
    import struct as _struct

    rows = [(1, "n", float("nan"), True, datetime.date(2000, 1, 1),
             datetime.datetime(2000, 1, 1))]
    p = str(tmp_path / "nan.avro")
    write_container(p, SCHEMA, rows)
    got = list(read_container(p))[0]
    assert math.isnan(got[2])
    assert _struct.pack("<d", got[2]) == _struct.pack("<d", rows[0][2])


def test_schema_resolution_defaults_drops_promotions(tmp_path):
    """Spec Schema Resolution: reader drops a writer field, adds one
    with a default, and promotes long->double — against the same file."""
    writer = {
        "type": "record",
        "name": "v1",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "status", "type": "string"},
            {"name": "qty", "type": "long"},
        ],
    }
    p = str(tmp_path / "v1.avro")
    write_container(p, writer, [(1, "OK", 10), (2, "NO", 20)])

    reader = {
        "type": "record",
        "name": "v2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "double"},          # long -> double
            {"name": "channel", "type": "string", "default": "LEGACY"},
        ],
    }
    got = list(read_container_resolved(p, reader))
    assert got == [(1, 10.0, "LEGACY"), (2, 20.0, "LEGACY")]
    assert all(isinstance(r[1], float) for r in got)


def test_schema_resolution_missing_default_errors(tmp_path):
    writer = {"type": "record", "name": "v1",
              "fields": [{"name": "id", "type": "long"}]}
    p = str(tmp_path / "nd.avro")
    write_container(p, writer, [(1,)])
    reader = {"type": "record", "name": "v2",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "extra", "type": "string"}]}
    with pytest.raises(ValueError, match="no default"):
        list(read_container_resolved(p, reader))
    with pytest.raises(ValueError, match="no default"):
        list(read_container_arrow_resolved(p, reader, pa_schema_from_avro(reader)))


def test_schema_resolution_illegal_promotion_errors(tmp_path):
    writer = {"type": "record", "name": "v1",
              "fields": [{"name": "x", "type": "string"}]}
    p = str(tmp_path / "ip.avro")
    write_container(p, writer, [("a",)])
    reader = {"type": "record", "name": "v2",
              "fields": [{"name": "x", "type": "long"}]}
    with pytest.raises(ValueError, match="promote"):
        list(read_container_resolved(p, reader))
    with pytest.raises(ValueError, match="promote"):
        list(read_container_arrow_resolved(p, reader, pa_schema_from_avro(reader)))


# ---------------------------------------------------------------------------
# columnar codec: byte/value identity with the row-at-a-time reference
# ---------------------------------------------------------------------------


def _arrow_batch(rows):
    import pyarrow as pa

    pa_schema = pa_schema_from_avro(SCHEMA)
    cols = list(zip(*rows)) if rows else [[] for _ in pa_schema]
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)],
        schema=pa_schema,
    )


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_write_container_arrow_byte_identical(tmp_path, codec):
    """The numpy block encoder must produce EXACTLY the bytes of the
    row-at-a-time reference — same header, same 4096-row block cuts
    (across incoming batch edges), same deflate frames."""
    rows = _rows(10_000)
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    write_container(str(a / "part.avro"), SCHEMA, rows, codec=codec)
    batch = _arrow_batch(rows)
    # odd-sized batches force block cuts across batch boundaries
    batches = [batch.slice(0, 3000), batch.slice(3000, 1), batch.slice(3001)]
    n = write_container_arrow(
        str(b / "part.avro"), SCHEMA, batches, codec=codec
    )
    assert n == len(rows)
    assert (a / "part.avro").read_bytes() == (b / "part.avro").read_bytes()


def test_read_container_arrow_matches_row_reader(tmp_path):
    """Columnar decode must yield exactly the row reader's values
    (nulls, dates, naive timestamps, negative longs included)."""
    import pyarrow as pa

    rows = _rows(5000) + [(-(2**45), None, -0.0, False,
                           datetime.date(1969, 12, 31),
                           datetime.datetime(1969, 12, 31, 23, 59, 59))]
    path = str(tmp_path / "f.avro")
    write_container(path, SCHEMA, rows, codec="deflate")
    ref = list(read_container(path))
    tbl = pa.Table.from_batches(list(read_container_arrow(path)))
    got = list(
        zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])
    )
    assert got == [tuple(r) for r in ref]


def test_read_container_arrow_resolved_matches_row_resolved(tmp_path):
    """Columnar schema resolution (drops / defaults / promotions) must
    equal the reference resolved reader value-for-value."""
    import pyarrow as pa

    rows = _rows(3000)
    path = str(tmp_path / "f.avro")
    write_container(path, SCHEMA, rows)
    reader_v2 = {
        "type": "record",
        "name": "t2",
        "fields": [
            {"name": "k", "type": "double"},  # long -> double promotion
            {"name": "s", "type": ["null", "string"]},
            {"name": "chan", "type": "string", "default": "LEGACY"},
        ],
    }
    ref = list(read_container_resolved(path, reader_v2))
    tbl = pa.Table.from_batches(
        list(
            read_container_arrow_resolved(
                path, reader_v2, pa_schema_from_avro(reader_v2)
            )
        )
    )
    got = list(
        zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)])
    )
    assert got == [tuple(r) for r in ref]


def test_row_path_writer_commits(spark, tmp_path):
    """ADVICE r15 (high): the avro_py writer must promote its staged
    files and write _SUCCESS, here for a tz-aware TimestampType schema.
    Exercised through a real Spark write so the two-phase commit
    protocol runs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.dataSource.register(make_avro_source())
    out = str(tmp_path / "tz_sink")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2001, 2, 3, 4, 5, 6)),
         (2, datetime.datetime(2002, 3, 4, 5, 6, 7))],
        "k bigint, ts timestamp",  # tz-aware -> timestamp-micros
    )
    df.repartition(1).write.format("avro_py").option("path", out).mode(
        "overwrite"
    ).save()
    assert os.path.exists(os.path.join(out, "_SUCCESS")), (
        "avro_py writer did not commit"
    )
    back = sorted(
        (r.k, r.ts)
        for r in spark.read.format("avro_py").option("path", out).load().collect()
    )
    assert back == [
        (1, datetime.datetime(2001, 2, 3, 4, 5, 6)),
        (2, datetime.datetime(2002, 3, 4, 5, 6, 7)),
    ]


def _pylist_rows(batches):
    import pyarrow as pa

    tbl = pa.Table.from_batches(list(batches))
    return list(zip(*[c.to_pylist() for c in tbl.columns]))


_UNION_VALUES = {
    "long": lambda i: i * 7919 - 2**40,
    "string": lambda i: f"v{i}" * (i % 3),
    "double": lambda i: i / 3 - 100.0,
    "boolean": lambda i: i % 4 == 0,
}


def _union_case(typ, null_first, n=500):
    """A record of a non-null key and one optional field of ``typ``,
    the union written null-first or null-second, with nulls spread
    over the rows."""
    union = ["null", typ] if null_first else [typ, "null"]
    schema = {
        "type": "record",
        "name": "u",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": union},
        ],
    }
    rows = [
        (i, None if i % 3 == 1 else _UNION_VALUES[typ](i)) for i in range(n)
    ]
    return schema, rows


@pytest.mark.parametrize("null_first", [True, False], ids=["null_T", "T_null"])
@pytest.mark.parametrize("typ", sorted(_UNION_VALUES))
def test_union_order_reference_to_columnar(tmp_path, typ, null_first):
    """ADVICE r16: a [T, "null"] union was decoded as if null came
    first. Files from the reference writer must read back value-exact
    through the columnar reader in either union order."""
    schema, rows = _union_case(typ, null_first)
    path = str(tmp_path / "ref.avro")
    write_container(path, schema, rows, block_rows=128)
    assert _pylist_rows(read_container_arrow(path)) == rows


@pytest.mark.parametrize("null_first", [True, False], ids=["null_T", "T_null"])
@pytest.mark.parametrize("typ", sorted(_UNION_VALUES))
def test_union_order_columnar_to_reference(tmp_path, typ, null_first):
    """The columnar writer must write the actual branch index: its file
    is byte-identical to the reference writer's and reads back through
    the reference reader value-exact."""
    import pyarrow as pa

    schema, rows = _union_case(typ, null_first)
    pa_schema = pa_schema_from_avro(schema)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(zip(*rows), pa_schema)],
        schema=pa_schema,
    )
    # same file name -> same name-seeded sync marker
    (tmp_path / "ref").mkdir()
    (tmp_path / "col").mkdir()
    ref, col = tmp_path / "ref" / "u.avro", tmp_path / "col" / "u.avro"
    write_container(str(ref), schema, rows, block_rows=128)
    write_container_arrow(str(col), schema, [batch], block_rows=128)
    assert col.read_bytes() == ref.read_bytes()
    assert list(read_container(str(col))) == rows


def test_multi_branch_union_refused(tmp_path):
    """A union with two non-null branches has no single Arrow type; both
    codec directions refuse it with an error naming the field."""
    import pyarrow as pa

    schema = {
        "type": "record",
        "name": "m",
        "fields": [{"name": "u", "type": ["null", "long", "string"]}],
    }
    path = str(tmp_path / "m.avro")
    write_container(path, schema, [(1,), (None,)])
    with pytest.raises(ValueError, match="'u'"):
        list(read_container_arrow(path))
    batch = pa.RecordBatch.from_arrays([pa.array([1, None])], names=["u"])
    with pytest.raises(ValueError, match="'u'"):
        write_container_arrow(str(tmp_path / "w.avro"), schema, [batch])
    with pytest.raises(ValueError, match="'u'"):
        spark_ddl_from_avro(schema)


def test_timestamp_micros_reads_as_utc_instant(tmp_path):
    """timestamp-micros carries UTC micros; the columnar reader types it
    as an instant in UTC, never a zone-less wall clock."""
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "ts", "type": ["null", {"type": "long",
                                             "logicalType": "timestamp-micros"}]}
        ],
    }
    rows = [(datetime.datetime(2001, 2, 3, 4, 5, 6, 789),), (None,)]
    path = str(tmp_path / "ts.avro")
    write_container(path, schema, rows)
    utc = datetime.timezone.utc
    assert _pylist_rows(read_container_arrow(path)) == [
        (rows[0][0].replace(tzinfo=utc),),
        (None,),
    ]


def test_spark_reads_null_second_union(spark, tmp_path):
    """spark.read.format("avro_py") over a reference-written file whose
    unions are all [T, "null"]."""
    types = sorted(_UNION_VALUES)
    schema = {
        "type": "record",
        "name": "n2",
        "fields": [{"name": t, "type": [t, "null"]} for t in types],
    }
    rows = [
        tuple(None if (i + j) % 3 == 0 else _UNION_VALUES[t](i)
              for j, t in enumerate(types))
        for i in range(200)
    ]
    out = tmp_path / "null_second"
    out.mkdir()
    write_container(str(out / "part-00000.avro"), schema, rows, block_rows=64)
    (out / "_SUCCESS").write_text("ok")
    spark.dataSource.register(make_avro_source())
    got = spark.read.format("avro_py").option("path", str(out)).load()
    assert got.columns == types
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(rows, key=repr)


def test_timestamp_writer_any_session_timezone(spark, tmp_path):
    """Under a non-UTC session timezone the writer still stores the UTC
    instant (spec timestamp-micros): the reference reader decodes the
    same micros Spark holds, and avro_py reads the instants back."""
    utc = datetime.timezone.utc
    instants = [
        datetime.datetime(2001, 2, 3, 4, 5, 6, tzinfo=utc),
        datetime.datetime(2002, 7, 4, 23, 30, 0, 250000, tzinfo=utc),
    ]
    spark.dataSource.register(make_avro_source())
    out = str(tmp_path / "la_sink")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [(i, ts) for i, ts in enumerate(instants)], "k bigint, ts timestamp"
        )
        df.repartition(1).write.format("avro_py").option("path", out).mode(
            "overwrite"
        ).save()
        back = (
            spark.read.format("avro_py")
            .option("path", out)
            .load()
            .selectExpr("k", "unix_micros(ts) AS us", "cast(ts AS string) AS s")
            .orderBy("k")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    micros = [int(ts.timestamp()) * 10**6 + ts.microsecond for ts in instants]
    assert [r.us for r in back] == micros
    # rendered in the session zone, as Spark renders any timestamp
    assert [r.s for r in back] == [
        "2001-02-02 20:05:06", "2002-07-04 16:30:00.25"
    ]
    (part,) = [f for f in os.listdir(out) if f.endswith(".avro")]
    raw = list(read_container(os.path.join(out, part)))
    assert [ts for _, ts in raw] == [t.replace(tzinfo=None) for t in instants]
