"""Grep filter parity — cases ported from internal/filter/grep/grep_test.go
plus canonical-JSON serialization parity with Go's json.Marshal."""

import json

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark import oracle
from go_log_forwarder_spark.functions.filters import (
    GrepFilter,
    canonical_json_from_raw,
    canonical_json_of_string_map,
)
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain


def _survives(spark, grep: GrepFilter, parsed: dict | None, tag: str = "t") -> bool:
    """Regex-parser-style fixture: parsed is a string map (Go map[string]string)."""
    df = spark.createDataFrame([(parsed, tag)], "parsed map<string,string>, tag string")
    df = df.withColumn("canonical", canonical_json_of_string_map(F.col("parsed")))
    return grep.apply(df).count() == 1


def test_or_include_pass(spark):
    # grep_test.go:20-31
    g = GrepFilter(op="or", include=("error.*",))
    assert _survives(spark, g, {"message": "error occurred in system"})


def test_or_never_drops_quirk(spark):
    # grep.go:105-111: the drop check only fires under "and" — an "or"
    # filter passes events that match NOTHING. Code parity, pinned.
    g = GrepFilter(op="or", include=("zzz-no-match",))
    assert _survives(spark, g, {"message": "hello"})
    ev = oracle.Event(raw="", parsed={"message": "hello"})
    assert oracle.Grep(op="or", include=["zzz-no-match"]).process(ev)


def test_any_extension_drops_on_no_match(spark):
    # engine extension: op='any' = what the reference docs describe
    g = GrepFilter(op="any", include=("error.*",), exclude=("debug.*",))
    assert _survives(spark, g, {"message": "error x"})
    assert _survives(spark, g, {"message": "debug x"})  # exclude still non-inverting
    assert not _survives(spark, g, {"message": "plain"})


def test_and_partial_match_drops(spark):
    # grep_test.go:32-45
    g = GrepFilter(op="and", include=("error.*", "critical.*"))
    assert not _survives(spark, g, {"message": "error occurred in system"})


def test_exclude_quirk_survives(spark):
    # grep_test.go:47-59 — exclude does NOT invert (code wins over docs)
    g = GrepFilter(op="or", exclude=("debug.*",))
    assert _survives(spark, g, {"message": "debug message"})


def test_invalid_regex_rejected_at_build():
    # divergence (documented): reference drops at runtime w/ error
    # (grep_test.go:61-73); we reject at build time.
    with pytest.raises(Exception):
        GrepFilter(op="or", include=("[invalid",))


def test_patterns_can_hit_keys_and_quotes(spark):
    # grep.go:79 — the match target is the serialized JSON, sorted keys
    g = GrepFilter(op="and", include=('"level":"INFO"',))
    assert _survives(spark, g, {"level": "INFO", "msg": "x"})
    assert not _survives(spark, g, {"level": "INFOX"})  # quote anchors value end
    # key hit
    g2 = GrepFilter(op="or", include=('"msg"',))
    assert _survives(spark, g2, {"msg": "anything"})


def test_tag_gating_bypass(spark):
    # engine.go:100-103 — non-matching tag bypasses the filter unchanged
    g = GrepFilter(op="and", include=("never-matches-xyz",), match="app-*")
    assert _survives(spark, g, {"m": "hello"}, tag="other")  # bypass
    assert not _survives(spark, g, {"m": "hello"}, tag="app-1")  # gated, dropped


def test_null_parsed_matches_against_null_literal(spark):
    # json.Marshal(nil) == "null": unparsed rows grep against "null"
    g = GrepFilter(op="or", include=("null",))
    assert _survives(spark, g, None)
    g2 = GrepFilter(op="and", include=("something",))
    assert not _survives(spark, g2, None)


@pytest.mark.parametrize(
    "parsed",
    [
        {"b": "2", "a": "one"},
        {"z": "last", "a": "first", "m": "mid"},
        {"n": "7", "f": "1.5", "t": "true"},  # strings stay QUOTED (Go map[string]string)
        {"quote": 'say "hi"', "backslash": "a\\b"},
        {},
    ],
)
def test_string_map_canonical_matches_go_marshal(spark, parsed):
    df = spark.createDataFrame([(parsed,)], "parsed map<string,string>")
    got = df.select(canonical_json_of_string_map(F.col("parsed")).alias("j")).head()[0]
    assert got == oracle.go_json_marshal(parsed)


@pytest.mark.parametrize(
    "raw",
    [
        '{"b": 1, "a": "2", "z": true}',
        '{"n": 7, "f": 1.5, "s": "7"}',  # number 7 unquoted, string "7" quoted
        '{"data":{"y":1,"x":"s"},"m":"t"}',  # nested objects sorted too
        '{"arr":[1,"a",null],"empty":{}}',
        "{}",
    ],
)
def test_raw_canonical_matches_go_marshal(spark, raw):
    """Variant round-trip == Go json.Marshal(json.Unmarshal(raw))."""
    df = spark.createDataFrame([(raw,)], "raw string")
    got = df.select(canonical_json_from_raw(F.col("raw")).alias("j")).head()[0]
    assert got == oracle.go_json_marshal(json.loads(raw))


def test_grep_after_json_parse_end_to_end(spark):
    """Full parse->filter path equals oracle on a small corpus."""
    import datetime

    raws = [
        '{"level":"error","msg":"disk full","code":500}',
        '{"level":"info","msg":"ok"}',
        '{"level":"debug","msg":"noise"}',
        "not json at all",
    ]
    df = spark.createDataFrame(
        [(r, datetime.datetime(2020, 1, 1)) for r in raws],
        "raw string, ingest_time timestamp",
    ).withColumn("tag", F.lit("app-x"))
    parsed = ParserChain([JsonParser()]).apply(df)
    patterns = ('"level":"(error|info)"',)
    g = GrepFilter(op="and", include=patterns, match="app-*")
    kept = {r["raw"] for r in g.apply(parsed).collect()}

    expect = set()
    for raw in raws:
        ev = oracle.Event(raw=raw, tag="app-x")
        oracle.json_parse(ev)
        og = oracle.Grep(op="and", include=list(patterns), match="app-*")
        if og.apply(ev):
            expect.add(raw)
    assert kept == expect
    assert raws[0] in kept and raws[1] in kept and raws[2] not in kept


def test_patterns_validated_with_re2(spark):
    # Go syntax builds (\p{L}: Python re rejects it); rows are still
    # matched by rlike
    g = GrepFilter(op="and", include=(r'"\p{L}+"',))
    df = spark.createDataFrame([('{"w":"héllo"}', "t"), ("null", "t")], "canonical string, tag string")
    assert [r["canonical"] for r in g.apply(df).collect()] == ['{"w":"héllo"}']
    # what Go's regexp.Compile rejects fails at build
    with pytest.raises(Exception):
        GrepFilter(op="and", include=(r"x(?=y)",))
