"""Contract tests for the Arrow-built ``from_json``/``from_object``.

The builder resolves the schema once per document and converts the
values with one ``pyarrow.array`` call. ``tests/_obj_oracle.py`` keeps
the previous per-value builder; these properties check that both give
the same schema, field order, rows and errors.
"""

import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from bamboo_spark import from_json, from_object
from bamboo_spark.sources import obj as obj_mod
from tests import _obj_oracle as oracle

_KEYS = st.sampled_from(["a", "b", "c", "d"])
# one leaf flavor per document, so most documents type cleanly and the
# mixed flavors reach the widening and mismatch paths
_LEAVES = st.sampled_from(
    [
        st.integers(-(2**63), 2**63 - 1),
        st.integers(),
        st.floats(allow_nan=False),
        st.text(max_size=4),
        st.booleans(),
        st.one_of(st.integers(-9, 9), st.floats(-9, 9)),
        st.one_of(st.integers(-9, 9), st.text(max_size=2), st.booleans()),
    ]
)


def _values(leaf):
    # up to 3 levels of list/dict nesting, with nulls and missing keys
    scalar = st.one_of(st.none(), leaf)
    return st.recursive(
        scalar,
        lambda inner: st.one_of(
            st.lists(inner, max_size=3),
            st.dictionaries(_KEYS, inner, max_size=3),
        ),
        max_leaves=8,
    ).filter(lambda v: _depth(v) <= 3)


def _depth(v) -> int:
    if isinstance(v, list):
        return 1 + max((_depth(x) for x in v), default=0)
    if isinstance(v, dict):
        return 1 + max((_depth(x) for x in v.values()), default=0)
    return 0


def _documents():
    return _LEAVES.flatmap(
        lambda leaf: st.one_of(
            st.lists(st.dictionaries(_KEYS, _values(leaf), max_size=4), max_size=5),
            _values(leaf),
        )
    )


def _outcome(build):
    try:
        return ("ok", build())
    except Exception as e:  # noqa: BLE001 — the error is the outcome
        name = type(e).__name__
        # a JVM-side failure names the py4j object ids of its own session
        return ("error", name, "" if name == "Py4JJavaError" else str(e))


def _frame_outcome(build):
    def run():
        df = build()
        return df.schema.json(), df.collect()

    return _outcome(run)


@settings(max_examples=400, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc=_documents())
def test_inferred_schema_and_errors_match_previous_builder(doc):
    old = _outcome(lambda: oracle.infer_type(doc).simpleString())
    tag = _outcome(lambda: obj_mod._infer(obj_mod._plain(doc, False, True))[0])
    new = tag if tag[0] == "error" else ("ok", obj_mod._spark_type(tag[1]).simpleString())
    assert new == old


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc=_documents())
def test_from_json_frame_matches_previous_builder(spark, doc):
    text = json.dumps(doc)
    old = _frame_outcome(lambda: oracle.oracle_frame(spark, json.loads(text)))
    new = _frame_outcome(lambda: from_json(text, spark=spark).df)
    if new[:2] == ("error", "ValueError") and "is null" in new[2]:
        # a null record in the root list: the previous builder took it
        # and failed at the frame's first action
        assert old[:2] == ("error", "Py4JJavaError") and None in doc
    else:
        assert new == old


@pytest.mark.parametrize(
    "build, index",
    [
        (lambda spark: from_object([{"a": 1}, None], spark=spark), 1),
        (lambda spark: from_object([None, {"a": [1]}], spark=spark), 0),
        (lambda spark: from_json('[{"a": 1}, null]', spark=spark), 1),
    ],
    ids=["object", "object_first", "json"],
)
def test_null_record_in_root_list_raises_at_build(spark, build, index):
    with pytest.raises(ValueError, match="root list item %d is null" % index):
        build(spark)


@pytest.mark.parametrize(
    "doc",
    [
        [1.5, True],
        [True, 1.5],
        ["a", b"b"],
        [b"b", "a"],
        [{"x": 1.5}, {"x": True}],
        [{"x": ["a"]}, {"x": [b"b"]}],
    ],
)
def test_silent_arrow_coercions_raise_mismatched(spark, doc):
    # pyarrow would build double [1.5, 1.0] and binary [a, b] here
    with pytest.raises(ValueError, match="Mismatched primitive types"):
        from_object(doc, spark=spark)


def test_json_bool_after_float_raises_mismatched(spark):
    with pytest.raises(ValueError, match="Mismatched primitive types"):
        from_json("[{\"x\": 1.5}, {\"x\": true}]", spark=spark)


def test_widened_ints_beyond_double_precision_stay_local(spark):
    # an int past 2**53 under a double field: Arrow refuses to convert it
    # exactly, so it becomes a float first, as the classic rows did
    doc = [{"x": 2**60}, {"x": 1.5}]
    df = from_object(doc, spark=spark).df
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert [r.x for r in df.collect()] == [float(2**60), 1.5]
    assert df.collect() == oracle.oracle_frame(spark, doc).collect()
    # widened rows that Arrow then refuses (a lone surrogate) take the
    # classic builder like any other
    doc = [{"x": 1, "s": "a"}, {"x": 1.5, "s": "\ud800"}]
    df = from_object(doc, spark=spark).df
    assert "LocalTableScan" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.collect() == oracle.oracle_frame(spark, doc).collect()


@pytest.mark.parametrize(
    "doc",
    [
        [{"x": 2**63}],
        [{"x": -(2**63) - 1}],
    ],
)
def test_int_outside_int64_keeps_classic_error(spark, doc):
    # Arrow overflows; the classic builder's range check names the value
    with pytest.raises(Exception) as new:
        from_object(doc, spark=spark)
    with pytest.raises(Exception) as old:
        oracle.oracle_frame(spark, doc)
    assert (type(new.value), str(new.value)) == (type(old.value), str(old.value))
