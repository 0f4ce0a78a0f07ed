"""The benchmark workloads.

Each drives the program only through its public entry points and checks
its outputs against the repo's own oracles:

- ``token_prep``: ``__spark_entry__.queries()`` through the noop writer,
  gated by the DuckDB ``oracle_sql()`` texts;
- ``stream_forward``: ``streaming.pipeline.stream_events`` +
  ``run_foreach_batch`` with the json -> regex parser chain and the grep
  filter, gated by the same pipeline run as a batch over the same files.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

REGEX = r"^(?P<level>[A-Z]+) id=(?P<id>\d+) user=(?P<user>\d+)"
GREP_INCLUDE = '"user":"?[0-9]*[02468]"?[,}]'
GREP_EXCLUDE = '"level"'  # reference quirk: Exclude patterns must match too
GREP_MATCH = "app.*"


class Workload:
    """One workload: its seeded inputs, set-up, correctness gate and pass."""

    name = ""
    python_layer = "arrow"
    props = gen.Props()

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.info: dict = {}

    def generate(self) -> dict:  # untimed; returns the input manifest
        raise NotImplementedError

    def prepare(self, spark) -> None:  # set-up work after each session start
        pass

    def check(self, spark) -> list[str]:  # untimed; doubles as the warm-up
        raise NotImplementedError

    def run_pass(self, spark, tracer) -> None:
        raise NotImplementedError


def _norm_cell(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def frame_digest(df) -> tuple[int, list[str], str]:
    """Order-insensitive (rows, columns, value hash) of a pandas frame: the
    comparison ``scripts/check_correctness.py`` makes, kept here so the
    benchmark does not depend on a script later changes may edit."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(_norm_cell)
    df = df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))
    body = df.to_csv(index=False, float_format="%.9g").encode()
    return len(df), list(df.columns), hashlib.sha256(body).hexdigest()[:16]


class TokenPrep(Workload):
    """The north-star table: sequences/s over the tokens synthesized from
    ``events``, plus the IVF-PQ search over ``embeddings``, each query
    materialized through the noop writer."""

    name = "token_prep"
    props = gen.Props(n_events=10_000, n_docs=500, n_vectors=500, vocab_size=60,
                      near_dup_share=0.15, n_clusters=8)
    queries = {  # query -> layer of its final action
        "tokens_group_counts": "aggregate",
        "tokens_dedup_exact": "dedup",
        "token_bigrams_topk": "arrow",
        "ann_ivfpq_topk": "similarity",
    }

    def generate(self) -> dict:
        self.sf = os.path.join(self.work, "sf")
        self.query_s: dict[str, list[float]] = {}  # per-query wall seconds, every pass
        gen.write_tables(self.sf, self.seed, self.props)
        self.rows = self.props.n_events
        return {"digest": gen.digest([self.sf]), "rows": self.rows}

    def check(self, spark) -> list[str]:
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.execute(f"create view {t} as select * from read_parquet('{os.path.join(self.sf, t)}.parquet')")
        qs, oracles, problems = E.queries(), E.oracle_sql(), []
        results, self.check_s = {}, {}
        for q in self.queries:
            t0 = time.perf_counter()
            got = qs[q](spark, self.sf).toPandas()
            t1 = time.perf_counter()
            results[q] = got
            a, b = frame_digest(got), frame_digest(con.execute(oracles[q]).df())
            self.check_s[q] = (t1 - t0, time.perf_counter() - t1)
            if a != b:
                problems.append(f"{q}: spark {a} vs oracle {b}")
        con.close()
        ex = results["tokens_dedup_exact"]
        self.info = {  # exact-dedup groups seen, and groups holding duplicates
            "dedup.pairs_candidate": int(len(ex)),
            "dedup.pairs_kept": int((ex["n_dups"] > 1).sum()),
        }
        return problems

    def run_pass(self, spark, tracer) -> None:
        import __spark_entry__ as E

        qs = E.queries()
        for q, layer in self.queries.items():
            t0 = time.perf_counter()
            df = qs[q](spark, self.sf)
            if tracer is None:
                df.write.mode("overwrite").format("noop").save()
            else:
                with tracer.span(f"materialize:{q}", layer):
                    df.write.mode("overwrite").format("noop").save()
            self.query_s.setdefault(q, []).append(time.perf_counter() - t0)


# -- streaming ----------------------------------------------------------------

# app.web rows reach two sinks; db.query rows reach none
STREAM_SINKS = [("app", "app.*"), ("sys", "sys.*"), ("web", "*.web")]
STREAM_SCHEMA = pa.schema([
    ("raw", pa.string()), ("tag", pa.string()), ("source", pa.string()),
    ("line_num", pa.int64()), ("ingest_time", pa.timestamp("us")), ("due_s", pa.float64()),
])


class StreamForward(Workload):
    """Open loop: one generator thread drops a file of rows every
    ``FILE_EVERY`` seconds at ``RATE`` rows/s; a 1 s trigger picks them up."""

    name = "stream_forward"
    python_layer = "parsers"
    props = gen.Props()
    RATE = 200
    FILE_EVERY = 0.25
    TRIGGER_S = 1
    WARM_BATCHES = 2

    def generate(self) -> dict:
        self.in_dir = os.path.join(self.work, "stream_in")
        os.makedirs(self.in_dir, exist_ok=True)
        self.rows = 0
        return {"rate_rows_per_s": self.RATE, "file_every_s": self.FILE_EVERY}

    def _pipeline(self):
        from go_log_forwarder_spark.functions.filters import GrepFilter
        from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain, RegexParser

        chain = ParserChain([JsonParser(), RegexParser(pattern=REGEX)])
        grep = GrepFilter(include=(GREP_INCLUDE,), exclude=(GREP_EXCLUDE,), op="and", match=GREP_MATCH)
        return lambda df: grep.apply(chain.apply(df))

    def _sinks(self):
        from go_log_forwarder_spark.operators.routing import SinkSpec

        return [SinkSpec(n, m) for n, m in STREAM_SINKS]

    def _write_file(self, rng, path: str, n: int, due: float, file_no: int) -> None:
        weights = np.array([0.5, 0.25, 0.15, 0.1])
        tags = np.array(gen.TAGS[:4])[rng.choice(4, size=n, p=weights)]
        raws = [gen.log_line(rng, self.props) for _ in range(n)]
        if file_no >= 0:
            self.content.update("\n".join(f"{t}\t{r}" for t, r in zip(tags, raws)).encode())
        t = pa.table({
            "raw": raws, "tag": tags.tolist(), "source": [f"gen-{file_no}"] * n,
            "line_num": np.arange(1, n + 1, dtype=np.int64),
            "ingest_time": pa.array([int(due * 1e6)] * n, pa.timestamp("us")),
            "due_s": [due] * n,
        }, schema=STREAM_SCHEMA)
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
        pq.write_table(t, tmp)
        os.rename(tmp, path)  # the file source never sees a partial file

    def prepare(self, spark) -> None:
        from go_log_forwarder_spark.streaming.pipeline import stream_events

        self.schema = self._spark_schema()
        stream_events(spark, self.in_dir, self.schema)

    @staticmethod
    def _spark_schema():
        from pyspark.sql import types as T

        return T.StructType([
            T.StructField("raw", T.StringType()), T.StructField("tag", T.StringType()),
            T.StructField("source", T.StringType()), T.StructField("line_num", T.LongType()),
            T.StructField("ingest_time", T.TimestampType()), T.StructField("due_s", T.DoubleType()),
        ])

    def check(self, spark) -> list[str]:
        """The stream's gate needs the run's own files, so it runs after the
        run (``gate``); the warm-up runs inside ``run_stream``."""
        return []

    def run_stream(self, spark, seconds: float, sampler) -> dict:
        """Generate rows for ``seconds`` and drain them; the sampler's CPU
        time and memory cover the timed part only."""
        from go_log_forwarder_spark.streaming.pipeline import run_foreach_batch, stream_events

        out = os.path.join(self.work, "stream_out")
        query = run_foreach_batch(
            stream_events(spark, self.in_dir, self.schema), self._pipeline(), self._sinks(), out,
            os.path.join(self.work, "ckpt"), trigger_seconds=self.TRIGGER_S)
        rng = np.random.default_rng(self.seed)
        t_warm = time.time()
        per_file = int(self.RATE * self.FILE_EVERY)
        gen_log: list[tuple[float, float, int]] = []  # (due, written, rows)
        gen_cpu = [0.0]  # the generator thread's CPU: the benchmark's, not the program's
        self.content = hashlib.sha256()  # of the seeded rows, not their times
        # warm the stream itself (the first micro-batches run the cold
        # streaming and foreachBatch paths): one batch per warm-up file
        for k in range(self.WARM_BATCHES):
            self._write_file(rng, os.path.join(self.in_dir, f"warm{k}.parquet"), per_file, time.time(), -1 - k)
            query.processAllAvailable()
        warm_last = query.lastProgress["batchId"]
        rss_warm_mb = sampler.phase()
        cpu0, t_timed = sampler.cpu_seconds(), time.time()
        start = time.time() + 0.5

        def produce():
            for k in range(int(seconds / self.FILE_EVERY)):
                due = start + k * self.FILE_EVERY
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._write_file(rng, os.path.join(self.in_dir, f"f{k:05d}.parquet"), per_file, due, k)
                gen_log.append((due, time.time(), per_file))
            gen_cpu[0] = time.thread_time()

        producer = threading.Thread(target=produce, name="stream-generator")
        producer.start()
        producer.join()
        t_drain = time.time()
        try:
            query.processAllAvailable()
            cpu_s = sampler.cpu_seconds() - cpu0 - gen_cpu[0]
            progress = [p for p in query.recentProgress if p.batchId > warm_last]
        finally:
            query.stop()
        self.rows = sum(n for _, _, n in gen_log)
        self.info = {"inputs.digest": self.content.hexdigest()[:16]}
        return {"gen_log": gen_log, "progress": progress, "out": out, "run_id": str(query.runId),
                "cpu_s": cpu_s, "t_timed": t_timed, "rss_warm_mb": rss_warm_mb,
                "phase_s": {"warm": t_timed - t_warm, "generate": t_drain - t_timed, "drain": time.time() - t_drain}}

    def gate(self, spark, run: dict) -> tuple[list[str], dict]:
        """The union of sink rows must equal the batch pipeline over the
        same files; returns (problems, measurements)."""
        problems = []
        batch = self._pipeline()(spark.read.schema(self.schema).parquet(self.in_dir))
        want = {}
        for s in self._sinks():
            rows = batch.filter(s.compiled.column(batch["tag"])).select("source", "line_num").collect()
            want[s.name] = sorted((r[0], r[1]) for r in rows)
        window: dict[int, tuple[float, float]] = {}  # timed batch id -> (trigger start, commit)
        for p in run["progress"]:
            if p.numInputRows:
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                window[p.batchId] = (ts, ts + p.durationMs.get("triggerExecution", 0) / 1000.0)
        delivered: dict[str, list] = {}
        routed: dict[int, set] = {}  # batch id -> rows delivered to any sink
        due_of: dict[tuple, float] = {}
        parsed = bypassed = 0
        for name, _ in STREAM_SINKS:
            d = os.path.join(run["out"], name)
            got = []
            for b in (os.listdir(d) if os.path.isdir(d) else []):
                t = pq.read_table(os.path.join(d, b), columns=["source", "line_num", "due_s", "parser"])
                keys = list(zip(t["source"].to_pylist(), t["line_num"].to_pylist()))
                got += keys
                routed.setdefault(int(b.split("=")[1]), set()).update(keys)
                due_of.update(zip(keys, t["due_s"].to_pylist()))
                if name == "sys":
                    # grep's gate (GREP_MATCH) passes sys.* rows unfiltered, so
                    # they reach this sink parsed or not: their parse share is
                    # the parser chain's
                    parsers = t["parser"].to_pylist()
                    bypassed += len(parsers)
                    parsed += sum(x is not None for x in parsers)
            delivered[name] = sorted(got)
            if delivered[name] != want[name]:
                problems.append(f"stream sink {name}: {len(got)} rows, batch pipeline {len(want[name])}")
        lags = [(window[bid][1] - due_of[k]) * 1000.0 for bid, keys in routed.items() if bid in window for k in keys]
        missing = len(set().union(*(set(want[n]) - set(delivered[n]) for n in want)))
        batches = [p for p in run["progress"] if p.numInputRows]
        busy = sum(p.durationMs.get("triggerExecution", 0) for p in batches) / 1000.0
        processed = sum(p.numInputRows for p in batches)
        backlog = 0
        for p in batches:
            end = window[p.batchId][1]
            gen_rows = sum(n for _, w, n in run["gen_log"] if w <= end)
            done = sum(q.numInputRows for q in batches if q.batchId <= p.batchId)
            backlog = max(backlog, gen_rows - done)
        self.info["parsers.parsed_ratio"] = parsed / bypassed if bypassed else 0.0
        m = {
            "missing": missing,
            "lag_ms": lags,
            "batch_s": [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in batches],
            "rows_per_busy_s": processed / busy if busy else 0.0,
            "gen_late_ms": max((w - due) * 1000.0 for due, w, _ in run["gen_log"]),
            "backlog_max": backlog,
            "phases": {k: statistics.median([p.durationMs.get(k, 0) for p in batches] or [0])
                       for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                                 "commitOffsets", "latestOffset", "getBatch")},
            "n_batches": len(batches),
            "window": window,
            "routed": {bid: len(keys) for bid, keys in routed.items()},
        }
        return problems, m


WORKLOADS = {w.name: w for w in (TokenPrep, StreamForward)}
