"""Property-based differential for the vectorized Avro paths (r14):
hypothesis generates random record schemas across the ENTIRE
vectorized coverage — scalars, nullable unions, enum/fixed, nested
records (nullable and not), arrays of fixed-width/string elements,
and arrays of records — plus matching random values, then pins

* decode: `read_container_columnar` == the scalar decoder, value for
  value, and
* encode: `write_container_frame` output is byte-identical to the
  scalar `write_container` whenever the frame encoder takes the
  schema (declines are allowed — scalar fallback correctness is the
  other tests' job).

This subsumes the hand-built struct-of-everything sweeps with
machine-chosen shapes; shrinking gives a minimal failing schema."""

import math

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import (  # noqa: E402
    HealthCheck, example, given, settings, strategies as st)

from dataingestion_spark.sources.avro import (  # noqa: E402
    read_container, read_container_columnar, write_container,
    write_container_frame,
)

_NAMES = [f"f{i}" for i in range(40)]


def _scalar_kind():
    return st.sampled_from(
        ["long", "int", "double", "float", "boolean", "string",
         "bytes"])


def _field_schema(kind, idx, nullable):
    base = {
        "long": "long", "int": "int", "double": "double",
        "float": "float", "boolean": "boolean", "string": "string",
        "bytes": "bytes",
        "enum": {"type": "enum", "name": f"en{idx}",
                 "symbols": ["A", "B", "C"]},
        "fixed": {"type": "fixed", "name": f"fx{idx}", "size": 3},
    }[kind]
    if nullable:
        return ["null", base]
    return base


@st.composite
def _record_schema(draw, idx_base=0, depth=0):
    n_fields = draw(st.integers(1, 4))
    fields = []
    for i in range(n_fields):
        idx = idx_base * 10 + i
        name = _NAMES[idx % len(_NAMES)] + f"_{idx}"
        choice = draw(st.integers(0, 9 if depth < 2 else 6))
        if choice <= 4:  # scalar (possibly nullable)
            kind = draw(_scalar_kind()) if choice < 4 else draw(
                st.sampled_from(["enum", "fixed"]))
            nullable = draw(st.booleans())
            sch = _field_schema(kind, idx, nullable)
            f = {"name": name, "type": sch}
            if nullable:
                f["default"] = None
            fields.append(f)
        elif choice == 5:  # array of fixed-width scalars
            elem = draw(st.sampled_from(["double", "float",
                                         "boolean"]))
            fields.append({"name": name,
                           "type": {"type": "array", "items": elem}})
        elif choice == 6:  # array of strings
            fields.append({"name": name, "type": {
                "type": "array", "items": "string"}})
        elif choice == 7:  # nested record (maybe nullable)
            sub = draw(_record_schema(idx_base=idx + 1,
                                      depth=depth + 1))
            sub["name"] = f"r{idx}"
            if draw(st.booleans()):
                fields.append({"name": name, "type": ["null", sub],
                               "default": None})
            else:
                fields.append({"name": name, "type": sub})
        else:  # array of records (scalar-field elements)
            n_ef = draw(st.integers(1, 3))
            efields = []
            for j in range(n_ef):
                kind = draw(_scalar_kind())
                nullable = draw(st.booleans())
                ef = {"name": f"e{j}",
                      "type": _field_schema(kind, idx * 10 + j,
                                            nullable)}
                if nullable:
                    ef["default"] = None
                efields.append(ef)
            fields.append({"name": name, "type": {
                "type": "array",
                "items": {"type": "record", "name": f"ae{idx}",
                          "fields": efields}}})
    return {"type": "record", "name": f"rec{idx_base}_{depth}",
            "fields": fields}


_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8)


def _value_for(draw, sch):
    if isinstance(sch, list):  # ["null", T]
        if draw(st.booleans()):
            return None
        return _value_for(draw, sch[1])
    if isinstance(sch, dict):
        t = sch["type"]
        if t == "enum":
            return draw(st.sampled_from(sch["symbols"]))
        if t == "fixed":
            return bytes(draw(st.lists(
                st.integers(0, 255), min_size=sch["size"],
                max_size=sch["size"])))
        if t == "array":
            n = draw(st.integers(0, 3))
            return [_value_for(draw, sch["items"]) for _ in range(n)]
        if t == "record":
            return {f["name"]: _value_for(draw, f["type"])
                    for f in sch["fields"]}
        sch = t  # {"type": "string"} style
    return {
        "long": lambda: draw(st.integers(-2**62, 2**62)),
        "int": lambda: draw(st.integers(-2**31, 2**31 - 1)),
        "double": lambda: draw(st.floats(
            allow_nan=False, allow_infinity=False, width=64)),
        "float": lambda: draw(st.floats(
            allow_nan=False, allow_infinity=False, width=32)),
        "boolean": lambda: draw(st.booleans()),
        "string": lambda: draw(_TEXT),
        "bytes": lambda: bytes(draw(st.lists(st.integers(0, 255),
                                             max_size=6))),
    }[sch]()


_N_ROWS = 300  # block_rows=4 -> 75 blocks, clears the >=64-block gate


@st.composite
def _schema_and_rows(draw):
    sch = draw(_record_schema())
    # Draw a small pool of distinct rows and tile it to _N_ROWS: the
    # block gate needs row COUNT, not 300 independent draws, and
    # drawing every row used to overrun hypothesis's per-example
    # entropy budget (FailedHealthCheck: data_too_large on slow hosts).
    pool_n = draw(st.integers(6, 12))
    pool = [{f["name"]: _value_for(draw, f["type"])
             for f in sch["fields"]} for _ in range(pool_n)]
    rows = [pool[i % pool_n] for i in range(_N_ROWS)]
    return sch, rows


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            if math.isnan(float(a)) and math.isnan(float(b)):
                return True
        except (TypeError, ValueError):
            return False
        return float(a) == float(b)
    if isinstance(a, dict):
        return (isinstance(b, dict) and set(a) == set(b)
                and all(_eq(a[k], b[k]) for k in a))
    if isinstance(a, (list, tuple)) or hasattr(b, "__len__") and \
            not isinstance(b, (str, bytes, dict)):
        try:
            bl = list(b)
        except TypeError:
            return False
        al = list(a)
        return len(al) == len(bl) and all(
            _eq(x, y) for x, y in zip(al, bl))
    return a == b


# A fixed regression shape covering the r14-vectorized decode paths
# (nullable nested record + array of records with nullable scalars),
# pinned so the differential runs it on every host regardless of what
# hypothesis happens to generate.
_PINNED_SCHEMA = {
    "type": "record", "name": "pinned", "fields": [
        {"name": "f0_0", "type": ["null", "long"], "default": None},
        {"name": "f1_1", "type": ["null", {
            "type": "record", "name": "r1", "fields": [
                {"name": "f10_10", "type": "double"},
                {"name": "f11_11", "type": ["null", "string"],
                 "default": None}]}], "default": None},
        {"name": "f2_2", "type": {"type": "array", "items": {
            "type": "record", "name": "ae2", "fields": [
                {"name": "e0", "type": ["null", "int"],
                 "default": None},
                {"name": "e1", "type": "bytes"}]}}},
    ]}
_PINNED_POOL = [
    {"f0_0": 7, "f1_1": {"f10_10": 1.5, "f11_11": "x"},
     "f2_2": [{"e0": 1, "e1": b"ab"}, {"e0": None, "e1": b""}]},
    {"f0_0": None, "f1_1": None, "f2_2": []},
    {"f0_0": -2**40, "f1_1": {"f10_10": -0.0, "f11_11": None},
     "f2_2": [{"e0": -1, "e1": b"\x00"}]},
]
_PINNED = (_PINNED_SCHEMA,
           [_PINNED_POOL[i % len(_PINNED_POOL)]
            for i in range(_N_ROWS)])


# data_too_large is suppressed deliberately: the strategy's size is
# already bounded (tiled row pool, depth<=2 records, max_size'd
# collections), and the health check's threshold is wall-clock/host
# sensitive — it red-flagged a slower driver host on inputs this test
# handles fine (r14 VERDICT item 1).
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.data_too_large,
                                 HealthCheck.too_slow])
@example(_PINNED)
@given(_schema_and_rows())
def test_random_schema_decode_and_encode_differential(tmp_path_factory,
                                                      sr):
    import pandas as pd

    sch, rows = sr
    tmp = tmp_path_factory.mktemp("prop")
    p1 = str(tmp / "scalar.avro")
    sync = b"0123456789abcdef"
    write_container(p1, sch, rows, sync=sync, block_rows=4)
    blob = open(p1, "rb").read()

    # decode differential: columnar (when in coverage) == scalar
    _, scalar = read_container(blob, p1)
    _, cols = read_container_columnar(blob, p1)
    if cols is not None:
        for f in sch["fields"]:
            c = f["name"]
            got = cols[c].to_pylist()
            for i in range(0, len(rows), 17):
                want = scalar[i].get(c)
                assert _eq(want, got[i]), (c, i, want, got[i])

    # encode differential: frame encoder (when it takes the schema)
    # is byte-identical
    pdf = pd.DataFrame(
        {f["name"]: pd.Series([r[f["name"]] for r in rows],
                              dtype=object)
         for f in sch["fields"]})
    p2 = str(tmp / "vec.avro")
    ok = write_container_frame(p2, sch, pdf,
                               [f["name"] for f in sch["fields"]],
                               sync=sync, block_rows=4)
    if ok:
        assert open(p2, "rb").read() == blob
