"""Wire-format codec tests: changelog-json and Canal JSON round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_connectors_spark.sources.envelope import (
    EVENT_PAYLOAD_SCHEMA,
    _payload_ddl,
    events_to_debezium_json,
    parse_debezium_json,
    parse_debezium_json_multi,
)
from flink_cdc_connectors_spark.sources.formats import (
    events_to_canal_json,
    events_to_changelog_json,
    events_to_maxwell_json,
    events_to_ogg_json,
    parse_canal_json,
    parse_changelog_json,
    parse_maxwell_json,
    parse_ogg_json,
)
from flink_cdc_connectors_spark.sources.loaders import load_table


def _kind_counts(df):
    return {
        r["row_kind"]: r["n"]
        for r in df.groupBy("row_kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_canal_envelope_shape(spark, sf_dir):
    """Canal envelopes carry the documented fields; UPDATE rows have a
    full before-image in old[0], INSERT/DELETE have no old."""
    e = load_table(spark, sf_dir, "events")
    raw = events_to_canal_json(e)
    probe = raw.select(
        F.get_json_object("value", "$.type").alias("t"),
        F.get_json_object("value", "$.database").alias("db"),
        F.get_json_object("value", "$.pkNames[0]").alias("pk"),
        F.get_json_object("value", "$.data[0].user_id").alias("d_uid"),
        F.get_json_object("value", "$.old[0].user_id").alias("o_uid"),
    )
    assert probe.filter(F.col("db") != "app").count() == 0
    assert probe.filter(F.col("pk") != "user_id").count() == 0
    assert probe.filter(F.col("d_uid").isNull()).count() == 0
    assert probe.filter((F.col("t") == "UPDATE") & F.col("o_uid").isNull()).count() == 0
    assert probe.filter((F.col("t") != "UPDATE") & F.col("o_uid").isNotNull()).count() == 0


def test_formats_decode_to_identical_retract_streams(spark, sf_dir):
    """Both codecs decode the same binlog to the same multiset of
    (row_kind, user_id, value) — UPDATE expands to the -U/+U pair, and
    per-kind counts obey the retract-stream invariants."""
    e = load_table(spark, sf_dir, "events")
    canal = parse_canal_json(events_to_canal_json(e))
    clog = parse_changelog_json(events_to_changelog_json(e))
    maxwell = parse_maxwell_json(events_to_maxwell_json(e))
    ogg = parse_ogg_json(events_to_ogg_json(e))
    cols = ["row_kind", "user_id", F.round("value", 2).alias("v")]
    for other in (clog, maxwell, ogg):
        assert canal.select(*cols).exceptAll(other.select(*cols)).count() == 0
        assert other.select(*cols).exceptAll(canal.select(*cols)).count() == 0
    kinds = _kind_counts(canal)
    assert set(kinds) == {"+I", "-U", "+U", "-D"}
    assert kinds["-U"] == kinds["+U"]
    # every key's stream starts with +I; deletes never exceed inserts
    assert kinds["-D"] <= kinds["+I"]


def test_maxwell_old_is_sparse(spark, sf_dir):
    """Maxwell updates carry only CHANGED columns in old — user_id never
    changes (it is the key), so it must never appear there; a changed
    value must."""
    e = load_table(spark, sf_dir, "events")
    raw = events_to_maxwell_json(e)
    upd = raw.select(
        F.get_json_object("value", "$.type").alias("t"),
        F.get_json_object("value", "$.old.user_id").alias("o_uid"),
        F.get_json_object("value", "$.old.value").alias("o_val"),
    ).filter(F.col("t") == "update")
    assert upd.count() > 0
    assert upd.filter(F.col("o_uid").isNotNull()).count() == 0
    assert upd.filter(F.col("o_val").isNotNull()).count() > 0


def test_ogg_envelope_shape(spark, sf_dir):
    """Ogg envelopes: op_type I/U/D; INSERT has after only, DELETE before
    only, UPDATE both; pos is zero-padded and lexically ordered like a
    GoldenGate trail position."""
    e = load_table(spark, sf_dir, "events")
    raw = events_to_ogg_json(e)
    probe = raw.select(
        F.get_json_object("value", "$.table").alias("tbl"),
        F.get_json_object("value", "$.op_type").alias("t"),
        F.get_json_object("value", "$.pos").alias("pos"),
        F.get_json_object("value", "$.before.user_id").alias("b_uid"),
        F.get_json_object("value", "$.after.user_id").alias("a_uid"),
    )
    assert probe.filter(F.col("tbl") != "APP.EVENTS").count() == 0
    assert probe.filter(~F.col("t").isin("I", "U", "D")).count() == 0
    assert probe.filter(F.length("pos") != 20).count() == 0
    assert probe.filter((F.col("t") == "I") & F.col("b_uid").isNotNull()).count() == 0
    assert probe.filter((F.col("t") == "I") & F.col("a_uid").isNull()).count() == 0
    assert probe.filter((F.col("t") == "D") & F.col("a_uid").isNotNull()).count() == 0
    assert probe.filter((F.col("t") == "D") & F.col("b_uid").isNull()).count() == 0
    assert (
        probe.filter(
            (F.col("t") == "U") & (F.col("b_uid").isNull() | F.col("a_uid").isNull())
        ).count()
        == 0
    )


# -- charset round trips (MysqlConnectorCharsetITCase.java analog) ----------
#
# The reference drives tables declared in utf8mb4/latin1/gbk/big5/... and
# asserts captured values match the inserted ones once decoded
# (MysqlConnectorCharsetITCase.java parameterizes over column charsets).
# In this engine everything on the wire is JSON over UTF-8 — the invariant
# to pin is that NO codec corrupts non-ASCII payloads: multibyte CJK,
# astral-plane emoji (JSON \u surrogate pairs), latin1-typical accents,
# and JSON-hostile characters (quotes, backslashes, control chars) must
# round-trip every encode->parse pair identically. wal2json's positional
# columnvalues arrays ride the same to_json/from_json machinery pinned
# here (its encoder is inline in cdc_postgres_wal2json).

CHARSET_PROPS = [
    "plain ascii",
    "café naïve über straße",  # latin1 accents
    "你好世界 测试",  # CJK (simplified)
    "漢字カタカナひらがな",  # kanji+kana
    "한국어 테스트",  # hangul
    "\U0001f600\U0001f680 emoji \U0001f409",  # astral plane (surrogate pairs in JSON)
    "mixed é中\U0001f600 end",
    'quotes " and \\ backslash / slash',
    "tab\tnewline\nreturn\r end",
    "\x1b[0m ansi \x1f unit-sep",  # control chars must escape, not corrupt
]


def _charset_events(spark):
    rows = [
        (i + 1, 100 + i, "click" if i % 2 else "signup", float(i), p)
        for i, p in enumerate(CHARSET_PROPS)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "value double, props string"
    )
    return df.select(
        "event_id",
        F.timestamp_millis(F.col("event_id") * 1000).alias("ts"),
        "user_id", "event_type", "value", "props",
    )


@pytest.mark.parametrize(
    "codec", ["debezium", "changelog", "canal", "maxwell", "ogg"]
)
def test_charset_round_trip(spark, codec):
    """Every wire codec returns non-ASCII payload strings IDENTICAL to the
    source (insert in any charset, capture, decode, compare)."""
    e = _charset_events(spark)
    if codec == "debezium":
        from flink_cdc_connectors_spark.sources.envelope import (
            events_to_debezium_json,
            parse_debezium_json,
        )

        decoded = parse_debezium_json(events_to_debezium_json(e))
        kind_col, ins = "op", "insert"
    else:
        enc, dec = {
            "changelog": (events_to_changelog_json, parse_changelog_json),
            "canal": (events_to_canal_json, parse_canal_json),
            "maxwell": (events_to_maxwell_json, parse_maxwell_json),
            "ogg": (events_to_ogg_json, parse_ogg_json),
        }[codec]
        decoded = dec(enc(e))
        kind_col, ins = "row_kind", "+I"
    # every source row is an insert of a distinct user -> its insert image
    # must carry the exact original props string
    got = {
        r["user_id"]: r["props"]
        for r in decoded.filter(F.col(kind_col) == ins).collect()
    }
    want = {100 + i: p for i, p in enumerate(CHARSET_PROPS)}
    assert got == want, {
        k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]
    }


def test_charset_wire_bytes_are_valid_utf8_json(spark):
    """The raw envelope strings themselves parse as JSON and survive a
    byte-level encode/decode — no mojibake at the transport layer."""
    import json as _json

    from flink_cdc_connectors_spark.sources.envelope import (
        events_to_debezium_json,
    )

    e = _charset_events(spark)
    for r in events_to_debezium_json(e).collect():
        doc = _json.loads(r["value"].encode("utf-8").decode("utf-8"))
        payload = doc["after"] or doc["before"]
        assert payload["props"] in CHARSET_PROPS


_NESTED_BAD = T.StructType(
    [T.StructField("n", T.ArrayType(T.StructType([T.StructField("it's", T.LongType())])))]
)


@pytest.mark.parametrize(
    "schema",
    [
        T.StructType([T.StructField("a`b", T.LongType())]),
        T.StructType([T.StructField("a'b", T.LongType())]),
        T.StructType([T.StructField("a\\b", T.LongType())]),
        _NESTED_BAD,
    ],
    ids=["backtick", "quote", "backslash", "nested"],
)
def test_payload_ddl_rejects_literal_breaking_names(schema):
    """The payload DDL is embedded in a single-quoted from_json literal, so
    a field name at any depth that could close the quote, escape it or
    close the identifier quoting is refused before any SQL is built."""
    with pytest.raises(ValueError, match="payload field"):
        _payload_ddl(schema)


def test_payload_ddl_guard_runs_on_the_decode_path(spark):
    raw = spark.createDataFrame([("{}",)], "value string")
    with pytest.raises(ValueError, match="payload field"):
        parse_debezium_json(raw, payload_schema=_NESTED_BAD)


def test_nested_payload_names_are_quoted(spark):
    """Nested field names are backtick-quoted in the DDL: a nested name
    with a space or a SQL keyword decodes instead of failing to parse."""
    inner = T.StructType(
        [T.StructField("x y", T.LongType()), T.StructField("select", T.LongType())]
    )
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("n", inner)]
    )
    wire = (
        '{"before":null,"after":{"user_id":1,"n":{"x y":5,"select":6}},'
        '"source":{"db":"app","table":"t","ts_ms":0,"file":"f","pos":1},'
        '"op":"c","ts_ms":0}'
    )
    raw = spark.createDataFrame([(wire,)], "value string")
    row = parse_debezium_json(raw, payload_schema=schema).first()
    assert (row["user_id"], row["n"]["x y"], row["n"]["select"]) == (1, 5, 6)


_DECODERS = {
    "debezium": parse_debezium_json,
    "debezium_multi": lambda raw, value_col: parse_debezium_json_multi(
        raw, {("app", "events"): EVENT_PAYLOAD_SCHEMA}, value_col
    ),
    "changelog": parse_changelog_json,
    "canal": parse_canal_json,
    "maxwell": parse_maxwell_json,
    "ogg": parse_ogg_json,
}


@pytest.mark.parametrize("decoder", sorted(_DECODERS))
@pytest.mark.parametrize("value_col", ["my-col", "a.b"])
def test_value_col_must_be_a_plain_identifier(spark, decoder, value_col):
    """``value_col`` is interpolated bare into SQL: `my-col` would parse as
    a subtraction and `a.b` as a struct access, so both are refused."""
    raw = spark.createDataFrame([("{}",)], "value string")
    with pytest.raises(ValueError, match="value_col"):
        _DECODERS[decoder](raw, value_col=value_col)


def test_value_col_accepts_a_plain_identifier(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    wire = events_to_debezium_json(e).withColumnRenamed("value", "_wire_2")
    got = parse_debezium_json(wire, value_col="_wire_2")
    assert got.count() == wire.count() > 0
