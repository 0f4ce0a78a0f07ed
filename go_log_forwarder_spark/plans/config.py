"""YAML pipeline config -> DataFrame DAG builder (SURVEY §3.1).

Accepts the reference's config shape (cfg/cfg.yaml; internal/config/
config.go:31-103): ``System / Inputs / Parsers / Filters / Outputs`` lists
of ``Type``-discriminated dicts, with ``${ENV}`` expansion (config.go:91
``os.ExpandEnv``). The registry switch (config.go:162-244) becomes the
builder maps below; the four ordered plugin slices (engine.go:17-20 — the
reference's entire "physical plan") become ONE lazy DataFrame expression
tree that Catalyst analyzes and optimizes.

Inputs build batch DataFrames; `tcp` (S5, a dev-only socket source in
Spark) is accepted but only in streaming mode. Outputs map to sink specs +
writer callables; `splunk`/`gelf` become routed parquet tables carrying the
formatted payload column (SURVEY §2.7-K3/K4 graft mapping).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import yaml
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.filters import FilterChain, GrepFilter
from ..functions.parsers import GO_RFC3339, JsonParser, ParserChain, RegexParser
from ..operators.routing import SinkSpec
from ..sources.http import http_body_lines
from ..sources.tail import tail_batch


def _expand_env(text: str) -> str:
    """os.ExpandEnv parity: $VAR and ${VAR}; unknown -> empty string."""
    def sub(m):
        return os.environ.get(m.group(1) or m.group(2), "")

    return re.sub(r"\$(?:\{(\w+)\}|(\w+))", sub, text)


@dataclass
class PipelinePlan:
    inputs: list[dict] = field(default_factory=list)
    parsers: list = field(default_factory=list)
    filters: list = field(default_factory=list)
    sinks: list[SinkSpec] = field(default_factory=list)
    sink_configs: dict[str, dict] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# plugin registries (§2.10): the reference extends via 4 plugin interfaces +
# a registry switch (config.go:162-244); here a plugin is a builder function
# keyed by its Type string. register_parser/register_filter make the config
# surface user-extensible without touching this module.
# ---------------------------------------------------------------------------


def _build_json_parser(cfg: dict, common: dict):
    return JsonParser(**common)


def _build_regex_parser(cfg: dict, common: dict):
    return RegexParser(
        pattern=cfg["Pattern"], allow_empty=cfg.get("AllowEmpty", True), **common
    )


def _build_grok_parser(cfg: dict, common: dict):
    # extension: %{PATTERN:field} expressions compile onto the same
    # vectorized regex kernel (functions/grok.py)
    from ..functions.grok import grok_parser

    return grok_parser(cfg["Pattern"], **common)


PARSER_BUILDERS = {
    "json": _build_json_parser,
    "regex": _build_regex_parser,
    "grok": _build_grok_parser,
}


def register_parser(type_name: str, builder) -> None:
    """Add a parser plugin: ``builder(cfg_dict, common_kwargs) -> parser``
    (the ParserRegistry analog, config.go:186-200). The parser exposes
    ``name``, ``time_key``, ``time_format`` and ``parse(raw: Column) ->
    (matched, parsed, canonical)`` Columns: the match flag, the
    map<string,string> parse result and its Go ``json.Marshal`` text
    (see functions/parsers.py)."""
    PARSER_BUILDERS[type_name.lower()] = builder


def _build_grep_filter(cfg: dict):
    return GrepFilter(
        include=tuple(cfg.get("Include", []) or []),
        exclude=tuple(cfg.get("Exclude", []) or []),
        op=(cfg.get("Op") or "and").lower(),
        match=cfg.get("Match", "*") or "*",
        name=cfg.get("Name", "grep"),
    )


FILTER_BUILDERS = {"grep": _build_grep_filter}


def register_filter(type_name: str, builder) -> None:
    """Add a filter plugin: ``builder(cfg_dict) -> filter`` (config.go:204-218)."""
    FILTER_BUILDERS[type_name.lower()] = builder


def _build_parser(cfg: dict):
    t = cfg.get("Type", "").lower()
    common = dict(
        name=cfg.get("Name", t),
        time_key=cfg.get("TimeKey", ""),
        time_format=cfg.get("TimeFormat") or GO_RFC3339,
    )
    builder = PARSER_BUILDERS.get(t)
    if builder is None:
        raise ValueError(f"unknown parser type {t!r} (config.go:186-200 analog)")
    return builder(cfg, common)


def _build_filter(cfg: dict):
    t = cfg.get("Type", "").lower()
    builder = FILTER_BUILDERS.get(t)
    if builder is None:
        raise ValueError(f"unknown filter type {t!r} (config.go:204-218 analog)")
    return builder(cfg)


def load_plan(path: str | None = None, text: str | None = None) -> PipelinePlan:
    if text is None:
        with open(path) as f:
            text = f.read()
    cfg = yaml.safe_load(_expand_env(text)) or {}
    plan = PipelinePlan()
    plan.inputs = cfg.get("Inputs") or []
    plan.parsers = [_build_parser(p) for p in (cfg.get("Parsers") or [])]
    plan.filters = [_build_filter(p) for p in (cfg.get("Filters") or [])]
    for out in cfg.get("Outputs") or []:
        name = out.get("Name") or f"{out['Type']}_{len(plan.sinks)}"
        spec = SinkSpec(name=name, match=out.get("Match", "*") or "*", kind=out["Type"].lower())
        plan.sinks.append(spec)
        plan.sink_configs[name] = out
    return plan


def build_input_df(spark: SparkSession, input_cfg: dict) -> DataFrame:
    t = input_cfg.get("Type", "").lower()
    tag = input_cfg.get("Tag", "") or ""
    if t == "tail":
        if input_cfg.get("ChunkBytes"):
            # large-file path: parallel byte-range chunks with byte-exact
            # line numbers (see sources/tail.py::tail_batch_chunked)
            from ..sources.tail import tail_batch_chunked

            return tail_batch_chunked(
                spark, input_cfg["Glob"],
                chunk_bytes=int(input_cfg["ChunkBytes"]), tag=tag,
            )
        return tail_batch(spark, input_cfg["Glob"], tag=tag)
    if t == "http":
        # batch analog: a table of (body, remote_addr) request rows
        bodies = spark.read.parquet(input_cfg["BodyTable"])
        return http_body_lines(bodies, tag=tag)
    if t == "tcp":
        # batch analog: per-connection byte streams chunked per Read()
        # (tcp.go:163-208 — no line split, 64KB default buffer)
        from ..sources.tcp import DEFAULT_BUFFER_SIZE, tcp_chunks

        bodies = spark.read.parquet(input_cfg["BodyTable"])
        return tcp_chunks(
            bodies,
            buffer_size=int(input_cfg.get("BufferSize", DEFAULT_BUFFER_SIZE)),
            tag=tag,
        )
    raise ValueError(f"unsupported batch input type {t!r}")


def execute_plan(
    spark: SparkSession, plan: PipelinePlan, out_dir: str, stdout_limit: int = 20
) -> dict[str, int]:
    """Full run: build the pipeline, fan out to every configured output
    (engine.go:137-143). Returns per-sink routed-row counts.

    Sink kinds: ``counter`` counts (counter.go:46-62); ``stdout`` prints up
    to ``stdout_limit`` formatted lines (json/plain/template per Format,
    stdout.go:95-107) and appends the full formatted set to parquet;
    ``splunk``/``gelf``/``parquet`` append their formatted payloads to
    parquet tables under ``out_dir`` (the graft sink mapping, SURVEY §2.7).
    """
    import os as _os

    from pyspark.sql import functions as _F

    from ..operators import sinks as sink_fmt
    from ..operators.routing import fan_out_writes

    df = build_pipeline(spark, plan)

    def write_fn(spec: SinkSpec, sdf: DataFrame) -> None:
        cfg = plan.sink_configs.get(spec.name, {})
        kind = spec.kind
        if kind == "counter":
            # the count IS the sink output; fan_out_writes harvests it from
            # the Observation, so run a metrics-only noop action (no data
            # written, but the observed count materializes)
            sdf.write.format("noop").mode("overwrite").save()
            return
        if kind == "stdout":
            fmt = (cfg.get("Format") or "json").lower()
            if fmt == "json":
                out = sink_fmt.stdout_json_col(
                    _F.col("canonical"), _F.col("tag"), _F.col("event_time"),
                    _F.col("line_num"), _F.col("source"),
                )
            elif fmt == "plain":
                out = sink_fmt.stdout_plain_col(
                    _F.col("parsed"), _F.col("raw"), _F.col("tag"), _F.col("event_time")
                )
            else:
                out = sink_fmt.template_col(
                    cfg.get("Template", ""), _F.col("parsed"), _F.col("tag"),
                    _F.col("event_time"),
                )
            if cfg.get("Colors"):
                out = sink_fmt.colorize_col(out)
            lines = sdf.select(out.alias("line"))
            # full write FIRST: fan_out_writes reads the sink count from the
            # first action's observed metrics, and a take() short-circuits
            # partitions (it would record a partial count)
            lines.write.mode("append").parquet(_os.path.join(out_dir, spec.name))
            for r in lines.take(stdout_limit):
                print(r["line"])
            return
        if kind == "splunk":
            payload = sink_fmt.splunk_event_col(
                _F.col("parsed"), _F.col("raw"), _F.col("event_time"),
                _F.col("source"), _F.col("line_num"),
                index=cfg.get("Index", "main"),
                event_host=cfg.get("EventHost", ""),
                source_type=cfg.get("SourceType", "_json"),
                send_raw=bool(cfg.get("SendRaw")),
                event_fields=cfg.get("EventFields"),
            )
        elif kind == "gelf":
            payload = sink_fmt.gelf_message_col(
                _F.col("canonical"), _F.col("raw"), _F.col("event_time"),
                host=cfg.get("Host", "spark"),
            )
        else:  # plain parquet table of the routed rows
            sdf.write.mode("append").parquet(_os.path.join(out_dir, spec.name))
            return
        sdf.select(payload.alias("payload")).write.mode("append").parquet(
            _os.path.join(out_dir, spec.name)
        )

    return fan_out_writes(df, plan.sinks, write_fn)


def build_pipeline(spark: SparkSession, plan: PipelinePlan) -> DataFrame:
    """inputs -> union (S8, engine.go:21,59-68) -> parser chain -> filters.

    Returns the routed-ready frame (raw, parsed, canonical, parser, tag,
    source, line_num, event_time); pair with operators.routing for sinks.
    """
    dfs = [build_input_df(spark, c) for c in plan.inputs]
    if not dfs:
        raise ValueError("no inputs configured")
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    df = ParserChain(plan.parsers).apply(df)
    df = FilterChain(plan.filters).apply(df)
    return df
