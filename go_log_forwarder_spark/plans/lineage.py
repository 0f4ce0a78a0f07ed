"""Per-partition lineage + resumable runs (north rule; SURVEY §2.8).

The reference persists ``(path, inode) -> (offset, lastReadLine)`` to SQLite
every 100 ms (internal/input/tail/repository.go:50-120, tail.go:473-497) and
seeks to the saved offset on restart (tail.go:418) — at-least-once. This
engine is strictly stronger (exactly-once across retries):

- **Work unit** = input file (the file-scan task granule). The unit list
  comes from the filesystem listing, never from scanning row data.
- **Idempotent output**: each run processes ALL uncommitted units in ONE
  Spark job and writes every sink partitioned by unit with dynamic partition
  overwrite — a retried unit replaces its own output, never duplicates it.
- **Atomic lineage commit**: after the sink writes succeed, one lineage row
  per unit (run_id, unit, rows_in/parsed/dropped/routed, status, ts) is
  committed via temp+rename JSON (:class:`LineageStore`, one file per
  unit). Crash before the commit -> the unit is reprocessed and its output
  overwritten (no dup, no loss). Crash after -> it is skipped.
- **Resume** = anti-join of the unit list against committed lineage
  (a driver-side set difference over file names — partition pruning happens
  BEFORE any data is read, mirroring the offset seek).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import pipeline_metrics
from ..operators.routing import SinkSpec, fan_out_writes

UNIT_COL = "_unit"

_METRICS_SCHEMA = (
    "run_id string, unit string, rows_in long, rows_parsed long, "
    "rows_dropped long, rows_routed long, status string"
)


def _unit_path(unit: str) -> str:
    # input_file_name() yields a percent-encoded file:// URI — decode it,
    # or units with spaces etc. stat-fail and silently disable the reset
    return unquote(urlparse(unit).path or unit)


def unit_size(unit: str) -> int | None:
    """Current byte size of a unit (a file:// URI from input_file_name);
    None when unreadable. The manifest of a real table format carries this."""
    try:
        return os.path.getsize(_unit_path(unit))
    except OSError:
        return None


def unit_mtime_ns(unit: str) -> int | None:
    """Current mtime (ns) of a unit; None when unreadable. Recorded at
    commit so same-size-or-larger replacements are detected, not just
    shrinks (a real table format's snapshot id plays this role)."""
    try:
        return os.stat(_unit_path(unit)).st_mtime_ns
    except OSError:
        return None


class LineageStore:
    """One JSON file per committed (run_id, unit) — atomic via rename."""

    def __init__(self, base: str):
        self.base = base

    def _run_dir(self, run_id: str) -> str:
        return os.path.join(self.base, run_id)

    def committed(self, run_id: str) -> dict[str, dict]:
        d = self._run_dir(run_id)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in os.listdir(d):
            if f.endswith(".json"):
                rec = json.load(open(os.path.join(d, f)))
                out[rec["unit"]] = rec
        return out

    def commit(self, run_id: str, records: list[dict]) -> None:
        d = self._run_dir(run_id)
        os.makedirs(d, exist_ok=True)
        for rec in records:
            tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(rec, f)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, os.path.join(d, f"{uuid.uuid5(uuid.NAMESPACE_URL, rec['unit']).hex}.json"))

    def invalidate(self, run_id: str, unit: str) -> None:
        """Drop a unit's commit so the next run reprocesses it (the offset
        reset of tail.go:409-415 at unit granularity)."""
        p = os.path.join(
            self._run_dir(run_id), f"{uuid.uuid5(uuid.NAMESPACE_URL, unit).hex}.json"
        )
        if os.path.exists(p):
            os.remove(p)

    def metrics_df(self, spark: SparkSession, run_id: str) -> DataFrame:
        recs = list(self.committed(run_id).values())
        rows = [
            (
                r["run_id"], r["unit"], r["rows_in"], r["rows_parsed"],
                r["rows_dropped"], r["rows_routed"], r["status"],
            )
            for r in recs
        ]
        return spark.createDataFrame(rows, _METRICS_SCHEMA)


class ResumablePipeline:
    """Exactly-once resumable pipeline runner over file-unit granules.

    ``pipeline_fn(df) -> (parsed_df, keep_pred)`` is the parse stage and
    the filter chain's keep predicate (``GrepFilter.keep_pred()``); sinks
    receive the kept rows whose tag matches their pattern.
    """

    def __init__(self, work_dir: str, sinks: list[SinkSpec]):
        self.work_dir = work_dir
        self.sinks = sinks
        self.lineage = LineageStore(os.path.join(work_dir, "_lineage"))

    def _sink_dir(self, sink: SinkSpec) -> str:
        return os.path.join(self.work_dir, "sinks", sink.name)

    def list_units(self, spark: SparkSession, input_path: str) -> list[str]:
        df = spark.read.parquet(input_path)
        return sorted(
            r[0]
            for r in df.select(F.input_file_name().alias("f")).distinct().collect()
        )

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        pipeline_fn: Callable[[DataFrame], tuple[DataFrame, Column]],
        run_id: str,
        fail_after_units: int | None = None,
        max_units_per_batch: int | None = None,
    ) -> dict:
        """Process all units not yet committed for ``run_id``.

        ``fail_after_units``/``max_units_per_batch`` exist for the
        crash-resume tests (FIXTURES.md F8): process only a prefix of the
        todo list, optionally 'crash' (raise) after writing sink data but
        BEFORE committing lineage for the tail half of that prefix.
        """
        # drop Spark's cached file listing/sizes for this input up front —
        # after a truncation/rotation a stale cached length makes the scan
        # read past the new EOF (cheap: metadata only)
        spark.catalog.refreshByPath(input_path)
        units = self.list_units(spark, input_path)
        committed = self.lineage.committed(run_id)
        # truncation/replacement reset (tail.go:409-415: offset > size ->
        # seek 0), generalized: a committed unit whose file CHANGED since
        # commit — shrunk, grew (append), or was replaced in place (size
        # equal but mtime moved) — is invalidated so it reprocesses; the
        # dynamic-partition-overwrite sink replaces its old output (no dup).
        # Records from older stores may lack unit_mtime_ns; the mtime check
        # only fires when both sides are present.
        truncated = []
        for u, rec in committed.items():
            cur, old = unit_size(u), rec.get("unit_size")
            cur_mt, old_mt = unit_mtime_ns(u), rec.get("unit_mtime_ns")
            changed = (
                cur is not None and old is not None and cur != old
            ) or (cur_mt is not None and old_mt is not None and cur_mt != old_mt)
            if changed:
                self.lineage.invalidate(run_id, u)
                truncated.append(u)
        for u in truncated:
            committed.pop(u)
        done = set(committed)
        todo = [u for u in units if u not in done]
        if max_units_per_batch is not None:
            todo = todo[:max_units_per_batch]
        if not todo:
            return {"processed": 0, "skipped": len(done)}

        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df = spark.read.parquet(*todo).withColumn(UNIT_COL, F.input_file_name())
        parsed, keep_pred = pipeline_fn(df)

        def write(s: SinkSpec, sink_df: DataFrame) -> None:
            sink_df.write.mode("overwrite").partitionBy(UNIT_COL).parquet(self._sink_dir(s))

        parsed = parsed.persist()
        try:
            fan_out_writes(parsed.filter(keep_pred), self.sinks, write)
            # per-unit metrics (A2): the pipeline_metrics math, keyed by unit
            stats = {
                r[UNIT_COL]: r.asDict()
                for r in pipeline_metrics(
                    parsed, keep_pred, self.sinks, key_col=UNIT_COL
                ).collect()
            }
        finally:
            parsed.unpersist()

        records = []
        for i, u in enumerate(todo):
            if fail_after_units is not None and i >= fail_after_units:
                # simulated crash: sink data written, lineage NOT committed
                raise RuntimeError(f"injected failure before committing {u}")
            st = stats.get(u, {})
            records.append(
                {
                    "run_id": run_id,
                    "unit": u,
                    **{
                        k: st.get(k, 0)
                        for k in ("rows_in", "rows_parsed", "rows_dropped", "rows_routed")
                    },
                    "status": "committed",
                    "committed_at": time.time(),
                    "unit_size": unit_size(u),
                    "unit_mtime_ns": unit_mtime_ns(u),
                }
            )
            self.lineage.commit(run_id, [records[-1]])
        return {"processed": len(todo), "skipped": len(done)}

    def read_sink(self, spark: SparkSession, sink_name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.work_dir, "sinks", sink_name))
