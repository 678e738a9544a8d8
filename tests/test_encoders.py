"""The JSON and CSV response encoders (``server.encoders``) over every
Arrow type the server emits, in pure pyarrow (no SparkSession).

JSON is checked against the row-by-row encoder it replaced (kept here,
and only here, as the oracle): the parsed bodies must be equal except
for the documented differences — NaN and infinities are ``null``,
decimals print their exact text, float32 prints its shortest float32
form. CSV is read back with the table's column types and must equal the
table.
"""

from __future__ import annotations

import csv
import datetime
import decimal
import io
import json
import math

import pyarrow as pa
import pyarrow.csv as pacsv
import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from datafusion_server_spark.server.encoders import to_csv, to_json_array


def _old_json_default(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def old_to_json_array(table: pa.Table) -> bytes:
    return json.dumps(table.to_pylist(), default=_old_json_default).encode()


# -- table strategy ----------------------------------------------------------

UTC = datetime.timezone.utc
TEXT = st.text(st.one_of(st.sampled_from('"\\,;\n\r\t\x00\x1f\x7f é€😀'),
                         st.characters(blacklist_categories=("Cs",))), max_size=8)
INT64 = st.integers(-(2**63), 2**63 - 1)


def _decimals(precision: int, scale: int):
    bound = 10**precision - 1  # built from text: Decimal arithmetic rounds to 28 digits
    return st.integers(-bound, bound).map(lambda i: decimal.Decimal(f"{i}e-{scale}"))


def _ints(bits: int):
    return st.integers(-(2 ** (bits - 1)), 2 ** (bits - 1) - 1)


# (name, Arrow type, value strategy)
TYPES = [
    ("int8", pa.int8(), _ints(8)),
    ("int16", pa.int16(), _ints(16)),
    ("int32", pa.int32(), _ints(32)),
    ("int64", pa.int64(), INT64),
    ("float32", pa.float32(), st.floats(width=32)),
    ("float64", pa.float64(), st.floats() | st.sampled_from([23.0, -0.0, 1e16, 1e22, 5e-324])),
    ("decimal", pa.decimal128(12, 2), _decimals(12, 2)),
    ("decimal0", pa.decimal128(38, 0), _decimals(38, 0)),
    ("bool", pa.bool_(), st.booleans()),
    ("string", pa.string(), TEXT),
    ("large_string", pa.large_string(), TEXT),
    ("date", pa.date32(), st.dates(datetime.date(1, 1, 1))),
    ("timestamp", pa.timestamp("us"),
     st.datetimes(datetime.datetime(1900, 1, 1), datetime.datetime(2200, 1, 1))),
    ("timestamp_utc", pa.timestamp("us", tz="UTC"),
     st.datetimes(datetime.datetime(1900, 1, 1), datetime.datetime(2200, 1, 1),
                  timezones=st.just(UTC))),
    ("binary", pa.binary(), st.binary(max_size=6)),
    ("list", pa.list_(pa.int64()), st.lists(st.none() | INT64, max_size=3)),
    ("list_float", pa.list_(pa.float64()), st.lists(st.none() | st.floats(), max_size=3)),
    ("struct", pa.struct([("a", pa.int64()), ("b", pa.string())]),
     st.fixed_dictionaries({"a": st.none() | INT64, "b": st.none() | TEXT})),
    ("map", pa.map_(pa.string(), pa.int64()),
     st.lists(st.tuples(TEXT, st.none() | INT64), max_size=3)),
    ("null", pa.null(), st.none()),
]
NAMES = ["a", "b", "a b", 'q"x', "x,y", "é"]


@st.composite
def tables(draw) -> pa.Table:
    rows = draw(st.integers(0, 12))
    kinds = draw(st.lists(st.sampled_from(TYPES), min_size=1, max_size=5))
    names = draw(st.lists(st.sampled_from(NAMES), min_size=len(kinds), max_size=len(kinds)))
    columns = []
    for _, typ, values in kinds:
        if draw(st.booleans()) and rows:  # sometimes all null
            cells = [None] * rows
        else:
            cells = draw(st.lists(st.none() | values, min_size=rows, max_size=rows))
        columns.append(pa.array(cells, typ))
    table = pa.table(columns, names=names)
    cuts = sorted(draw(st.lists(st.integers(0, rows), max_size=3)))
    bounds = [0, *cuts, rows]
    batches = [b for lo, hi in zip(bounds, bounds[1:]) for b in table.slice(lo, hi - lo).to_batches()]
    return pa.Table.from_batches(batches, table.schema)


PROPERTY = settings(max_examples=300, deadline=None,
                    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])


# -- JSON --------------------------------------------------------------------

def _no_constants(name):
    raise AssertionError(f"not JSON: {name}")


def _finite(v):
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, dict):
        return {k: _finite(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_finite(x) for x in v]
    return v


def _expected_cell(old, typ):
    """The old encoder's parsed cell with this encoder's documented
    differences applied."""
    old = _finite(old)
    if old is not None and pa.types.is_float32(typ):
        return float(pa.scalar(old, pa.float32()).as_py())
    return old


def _got_cell(new, typ):
    if new is None:
        return None
    if pa.types.is_floating(typ):
        assert isinstance(new, float), f"float printed as {new!r}"
        if pa.types.is_float32(typ):
            return float(pa.scalar(new, pa.float32()).as_py())
    if pa.types.is_decimal(typ):
        return float(new)
    return new


@PROPERTY
@given(tables())
def test_json_matches_the_row_encoder(table):
    body = to_json_array(table)
    got = json.loads(body, parse_constant=_no_constants)
    want = json.loads(old_to_json_array(table))
    assert len(got) == len(want) == table.num_rows
    # duplicate names: the last column of a name holds the key, as in the old body
    typ = {f.name: f.type for f in table.schema}
    for g, w in zip(got, want):
        assert list(g) == list(w)
        for k in w:
            assert _got_cell(g[k], typ[k]) == _expected_cell(w[k], typ[k]), (k, g[k], w[k])


def test_json_non_finite_floats_are_null():
    table = pa.table({"x": pa.array([float("nan"), float("inf"), -float("inf"), 1.0]),
                      "l": pa.array([[float("nan")], [1.5], None, []])})
    rows = json.loads(to_json_array(table), parse_constant=_no_constants)
    assert rows == [{"x": None, "l": [None]}, {"x": None, "l": [1.5]},
                    {"x": None, "l": None}, {"x": 1.0, "l": []}]


def test_json_float_form_and_strings():
    table = pa.table({"f": pa.array([23.0, -0.0, 1e16]), "s": ['a"b\\c', "é", None],
                      "c": ["x", "tab\t", None]})
    assert to_json_array(table) == (
        '[{"f":23.0,"s":"a\\"b\\\\c","c":"x"},{"f":-0.0,"s":"é","c":"tab\\t"},'
        '{"f":1e+16,"s":null,"c":null}]').encode()


def test_json_temporal_iso_form():
    """Dates and microsecond timestamps print as Python's isoformat: a
    four-digit year, no fraction when it is zero, ``+00:00`` for UTC."""
    cells = [datetime.datetime(1, 1, 1, 0, 0, 0, 5), datetime.datetime(2024, 2, 29, 23, 59, 59), None]
    table = pa.table({
        "d": pa.array([datetime.date(1, 1, 1), datetime.date(2024, 2, 29), None]),
        "ts": pa.array(cells, pa.timestamp("us")),
        "utc": pa.array([c and c.replace(tzinfo=UTC) for c in cells], pa.timestamp("us", tz="UTC")),
    })
    assert to_json_array(table) == old_to_json_array(table).replace(b": ", b":").replace(b", ", b",")
    assert json.loads(to_json_array(table))[1] == {
        "d": "2024-02-29", "ts": "2024-02-29T23:59:59", "utc": "2024-02-29T23:59:59+00:00"}


def test_json_empty_and_zero_columns():
    assert to_json_array(pa.table({"a": pa.array([], pa.int64())})) == b"[]"
    assert json.loads(to_json_array(pa.table({"a": [1, 2]}).select([]))) == [{}, {}]


# -- CSV ---------------------------------------------------------------------

_READABLE = (pa.types.is_integer, pa.types.is_floating, pa.types.is_decimal, pa.types.is_boolean,
             pa.types.is_date, pa.types.is_timestamp)


def _expected_csv_cell(v, typ):
    """What the CSV cell reads back as: strings and text fallbacks read
    as strings with null as ``""``."""
    if any(is_(typ) for is_ in _READABLE):
        return v
    if v is None:
        return ""
    if isinstance(v, bytes):
        return v.hex()
    return v if isinstance(v, str) else str(v)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


@PROPERTY
@given(tables(), st.booleans(), st.sampled_from([",", ";"]))
def test_csv_reads_back_as_the_table(table, has_headers, delimiter):
    body = to_csv(table, has_headers=has_headers, delimiter=delimiter)
    if has_headers:
        head, _, body = body.partition(b"\n")
        assert next(csv.reader([head.decode()], delimiter=delimiter)) == table.column_names
    if not body:
        assert table.num_rows == 0
        return
    names = [f"c{i}" for i in range(table.num_columns)]
    types = {n: (f.type if any(is_(f.type) for is_ in _READABLE) else pa.string())
             for n, f in zip(names, table.schema)}
    back = pacsv.read_csv(
        io.BytesIO(body),
        read_options=pacsv.ReadOptions(column_names=names),
        parse_options=pacsv.ParseOptions(delimiter=delimiter, newlines_in_values=True),
        convert_options=pacsv.ConvertOptions(column_types=types, null_values=[""],
                                             strings_can_be_null=False))
    assert back.num_rows == table.num_rows
    for i, f in enumerate(table.schema):
        want = [_expected_csv_cell(v, f.type) for v in table.column(i).to_pylist()]
        got = back.column(i).to_pylist()
        assert all(_same(g, w) for g, w in zip(got, want)), (f, got, want)


def test_csv_binary_is_hex():
    table = pa.table({"b": pa.array([b"ab", None, b"\x00\xff"]), "n": [1, 2, 3]})
    assert to_csv(table) == b"b,n\n6162,1\n,2\n00ff,3\n"


def test_csv_quotes_only_when_a_value_needs_it():
    plain = pa.table({"s": ["a", "b"], "x": [1.5, 23.0]})
    assert to_csv(plain, delimiter=";") == b"s;x\na;1.5\nb;23\n"
    tricky = pa.table({"s": ["a;b", 'q"'], "x": [1, 2]})
    assert to_csv(tricky, delimiter=";", has_headers=False) == b'"a;b";1\n"q""";2\n'
    assert to_csv(pa.table({"a;b": [1]}), delimiter=";") == b'"a;b"\n1\n'


def test_csv_one_column_empty_values_are_not_empty_lines():
    assert to_csv(pa.table({"n": pa.array([None, 1, None, None])})) == b'n\n""\n1\n""\n""\n'
    assert to_csv(pa.table({"s": [None, "", "a,b"]}), has_headers=False) == b'""\n""\n"a,b"\n'


def test_csv_delimiter_a_number_can_print():
    table = pa.table({"x": [1.5, None], "s": ["ab", "c"]})
    assert to_csv(table, delimiter=".") == b'x.s\n"1.5"."ab"\n."c"\n'
