"""Grep filter — regex include/exclude over the JSON-serialized parse result.

Reference semantics (``internal/filter/grep/grep.go:70-111``):
- The match target is ``json.Marshal(event.ParsedData)`` — the JSON text of
  the parsed map, with keys SORTED (Go's encoding/json sorts map keys), so
  patterns can hit keys, quotes and braces, not just values (grep.go:79).
- ``Op="or"``: the FIRST matching pattern — include *or* exclude — passes
  the event (grep.go:89-103). ⚠ AND the fall-through also passes: the final
  drop check applies only under "and" (grep.go:105-111), so per the CODE an
  "or" grep filter NEVER drops an event. Pinned by our oracle; we mirror it
  and additionally offer ``op="any"`` (engine extension, not in the
  reference) that drops when no pattern matches — what the reference's docs
  describe but its code doesn't do.
- ``Op="and"``: the event passes iff every pattern (include AND exclude)
  matched, else it is dropped (grep.go:105-108).
- ⚠ Exclude does NOT invert: the include and exclude code paths are
  identical (both count a match / pass on match under "or") — pinned by the
  reference's own test ``grep_test.go:47-59`` ("exclude pattern match"
  expects the event to SURVIVE). The docs say otherwise; the code wins.
- Tag gating (``engine.go:100-103``): the filter only applies when the
  event tag matches the filter's ``Match`` pattern; non-matching events
  BYPASS the filter unchanged.

Canonical serialization parity: Go unmarshals JSON into ``map[string]any``
and re-marshals it — sorted keys, native types, compact separators. Spark's
VariantType reproduces this exactly and stays fully JVM-side:
``to_json(try_parse_json(raw))`` emits sorted keys and preserves
number/bool/null/nesting. For regex-parsed data every value is a genuine Go
string, so the target is the sorted-key map serialization with ALL values
quoted. ``json.Marshal(nil)`` is the literal ``null`` for unparsed rows.

Divergences (documented, perf-motivated):
- The reference recompiles every regex per event (grep.go:74,90) and
  re-marshals the map once per pattern (grep.go:79,95); we compile patterns
  at build time and serialize once per row inside Catalyst.
- Patterns are validated with RE2 (Go's syntax) at build time, but rows are
  matched by Spark's ``rlike`` (java.util.regex).
- Go's json.Marshal HTML-escapes ``< > &`` (to \\u003c etc); we do not.
  None of the reference tests exercise those characters.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from .tags import compile_tag_pattern


def _escape_json_string(c: Column) -> Column:
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\t", "\\\\t")
    c = F.regexp_replace(c, "\r", "\\\\r")
    return c


def canonical_json_from_raw(raw: Column) -> Column:
    """Go ``json.Marshal(json.Unmarshal(raw))`` for the json-parser path:
    variant round-trip → sorted keys, types preserved, compact output."""
    return F.to_json(F.try_parse_json(raw))


def canonical_json_of_string_map(parsed: Column) -> Column:
    """Go ``json.Marshal`` of a ``map[string]string`` (the regex-parser
    output, regex.go:64-79): sorted keys, every value a quoted string.
    NULL map -> literal ``null``."""
    entry = lambda e: F.concat(  # noqa: E731
        F.lit('"'),
        _escape_json_string(e.getField("key")),
        F.lit('":"'),
        _escape_json_string(e.getField("value")),
        F.lit('"'),
    )
    body = F.concat(
        F.lit("{"),
        F.array_join(F.transform(F.array_sort(F.map_entries(parsed)), entry), ","),
        F.lit("}"),
    )
    return F.when(parsed.isNull(), F.lit("null")).otherwise(body)


@dataclass(frozen=True)
class GrepFilter:
    """Compiled grep filter (grep.go:29-111)."""

    include: tuple = ()
    exclude: tuple = ()
    op: str = "and"  # 'and' | 'or' (reference) | 'any' (extension)
    match: str = "*"  # tag pattern gating this filter (engine.go:100-103)
    name: str = "grep"

    def __post_init__(self) -> None:
        # Intentional config-validation divergence: the reference's Init
        # REJECTS op="or" (grep.go's `g.op != "and" && g.op == "or"` check is
        # a bug that only ever fires for "or") and ACCEPTS any other unknown
        # op, which then behaves as never-drop in Process. We accept "or"
        # (replicating its never-drop Process behavior below) and reject
        # unknown ops loudly — silently-never-dropping on a typo'd op is the
        # worse failure mode. Process-level semantics are code-parity; only
        # Init-time acceptance differs.
        if self.op not in ("and", "or", "any"):
            raise ValueError(f"unsupported logic operator {self.op!r} in grep filter")
        if not self.include and not self.exclude:
            raise ValueError("no exclude or include regex pattern provided for the grep filter")
        # build-time validation with RE2, Go's regexp syntax: what Go's
        # regexp.Compile rejects (lookaround, backreferences) raises here.
        # The array must be non-empty: pyarrow 16 skips compiling the
        # pattern for an empty input.
        for p in (*self.include, *self.exclude):
            pc.match_substring_regex(pa.array([""]), pattern=p)

    def keep_col(self, target: Column) -> Column:
        """Predicate: True = event survives this filter."""
        preds = [target.rlike(p) for p in (*self.include, *self.exclude)]
        if self.op == "or":
            # reference-code parity: "or" never drops (grep.go:105-111)
            return F.lit(True)
        if self.op == "any":
            return reduce(lambda a, b: a | b, preds)
        return reduce(lambda a, b: a & b, preds)

    def keep_pred(self, target_col: str = "canonical", tag_col: str = "tag") -> Column:
        """The full tag-gated survival predicate as a Column (rows whose
        tag does not match the filter's pattern bypass it — engine.go:
        100-103). Exposed so single-scan consumers (conditional
        aggregation over the unfiltered frame) can reuse the exact
        predicate ``apply`` filters with."""
        gate = compile_tag_pattern(self.match).column(F.col(tag_col))
        target = F.coalesce(F.col(target_col), F.lit("null"))
        return ~gate | self.keep_col(target)

    def apply(self, df, target_col: str = "canonical", tag_col: str = "tag"):
        """Tag-gated filter application: rows whose tag does NOT match the
        filter's pattern bypass it unchanged (engine.go:100-103).

        ``target_col`` is the canonical JSON text of the parse result —
        emitted by :class:`~..functions.parsers.ParserChain` as ``canonical``.
        """
        return df.filter(self.keep_pred(target_col, tag_col))


@dataclass
class FilterChain:
    """Sequential filter chain (engine.go:100-114): drop short-circuits."""

    filters: list = field(default_factory=list)

    def apply(self, df, target_col: str = "canonical", tag_col: str = "tag"):
        for flt in self.filters:
            df = flt.apply(df, target_col=target_col, tag_col=tag_col)
        return df
