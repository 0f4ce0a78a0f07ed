"""Physical-plan shape assertions — the 100 TB readiness gates.

Correctness tests prove the operators compute the right answer; these prove
the PLANS are the ones you'd want on a 1000-executor cluster: filters reach
the parquet scan, column pruning drops unused (esp. wide/binary) columns,
small dims broadcast, map-side ops don't shuffle, salting balances the
skewed source, and whole-stage codegen covers the hot expressions.
"""

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark.functions.enrich import broadcast_enrich
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain
from go_log_forwarder_spark.operators.partitioning import salted_repartition, source_salt_factors
from go_log_forwarder_spark.operators.routing import SinkSpec, route_exploded
from go_log_forwarder_spark.sources.tokens import synth_tokens


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("toks") / "tokens")
    synth_tokens(spark, 20000, max_len=16, partitions=8).write.parquet(p)
    return p


def test_filter_pushdown_reaches_scan(spark, tokens_path):
    df = spark.read.parquet(tokens_path).filter(F.col("source") == "src-a").select("doc_id")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src-a)" in plan


def test_column_pruning_drops_tokens_array(spark, tokens_path):
    """A count over doc_id must not read the (wide) tokens array."""
    df = spark.read.parquet(tokens_path).groupBy("source").agg(F.count("doc_id"))
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema


def test_enrich_is_broadcast_not_shuffle(spark, tokens_path):
    facts = spark.read.parquet(tokens_path)
    lookup = spark.createDataFrame(
        [("src-a", "t1"), ("src-hot", "t2")], "source string, team string"
    )
    plan = plan_of(broadcast_enrich(facts, lookup))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the fact side must NOT be exchanged for the join (only the broadcast)
    assert plan.count("Exchange hashpartitioning") == 0


def test_parse_route_is_shuffle_free(spark, tokens_path):
    """The whole parse -> tag -> route -> explode path is map-side only."""
    from go_log_forwarder_spark.sources.tokens import parse_tokens_raw, serialize_tokens

    df = parse_tokens_raw(serialize_tokens(spark.read.parquet(tokens_path)))
    routed = route_exploded(
        df.withColumn("tag", F.concat(F.lit("tok-"), F.col("parsed.source"))),
        [SinkSpec("a", "*"), SinkSpec("b", "*-hot")],
    )
    plan = plan_of(routed)
    assert "Exchange" not in plan
    # whole-stage codegen spans show as *(n) in the physical plan string
    assert "*(1)" in plan


def test_per_sink_counts_single_shuffle(spark, tokens_path):
    """Counting per sink = exactly ONE exchange (the final group-by), with
    map-side partial aggregation before it."""
    from go_log_forwarder_spark.operators.aggregate import per_sink_source_counts

    df = spark.read.parquet(tokens_path).withColumn(
        "tag", F.concat(F.lit("tok-"), F.col("source"))
    )
    out = per_sink_source_counts(df, [SinkSpec("a", "*"), SinkSpec("b", "*-hot")])
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 1
    # map-side combine: r7's conditional-aggregation form sums per-sink
    # indicator columns (partial_sum) where the r2 explode form counted
    # exploded rows (partial_count) — either way the exchange must carry
    # pre-aggregated rows, never the raw (or exploded) relation
    assert "partial_sum" in plan or "partial_count" in plan
    # no explode feeds the exchange (the stack() UNPIVOT above the final
    # aggregate is a Generate too, but over sinks x sources rows — only
    # an explode Generate would blow the pre-exchange relation up)
    assert "Generate explode" not in plan


def test_salted_repartition_balances_hot_source(spark, tokens_path):
    """src-hot holds ~60% of rows; plain repartition(source) would put them
    in ONE partition. Salting must spread the hot source over multiple
    partitions while leaving aggregates intact."""
    df = spark.read.parquet(tokens_path)
    factors = source_salt_factors(df, "source", 16)
    assert factors["src-hot"] > 1  # pre-scan detects the skew
    salted = salted_repartition(df, "source", 16, row_key="doc_id", factors=factors)
    sizes = (
        salted.filter(F.col("source") == "src-hot")
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    # hot rows span multiple partitions ((source,salt) tuples can collide in
    # the partition hash, so <= S distinct partitions, but always > 1)
    assert 1 < len(sizes) <= factors["src-hot"]
    counts = [r["count"] for r in sizes]
    # unsalted would be 100% in one partition; salted: no partition dominates
    assert max(counts) < sum(counts) * 0.5


def test_json_parse_evaluated_once_per_row(spark, tokens_path):
    """The first-match-wins chain must not re-evaluate from_json per
    reference (parsed/parser/canonical/event_time all derive from ONE
    struct)."""
    import datetime

    df = spark.createDataFrame(
        [('{"a":"1"}', datetime.datetime(2024, 1, 1))], "raw string, ingest_time timestamp"
    )
    out = ParserChain([JsonParser()]).apply(df)
    plan = plan_of(out.select("parsed", "parser", "canonical", "event_time"))
    assert plan.count("from_json") <= 2  # one for the map view (+1 tolerated
    # for the variant canonical path) — never one per derived column


def test_grep_filter_stays_in_scan_stage(spark, tokens_path):
    """Filter chain compiles to a plain Filter over the scan (no shuffle,
    no UDF node for the JVM path)."""
    import datetime

    from go_log_forwarder_spark.functions.filters import GrepFilter

    df = spark.createDataFrame(
        [('{"a":"1"}', "t", datetime.datetime(2024, 1, 1))],
        "raw string, tag string, ingest_time timestamp",
    )
    out = GrepFilter(op="and", include=("x",)).apply(ParserChain([JsonParser()]).apply(df))
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_avoids_shuffle(spark, tokens_path):
    """Both sides bucketed on the join key -> SortMergeJoin with ZERO
    Exchange (co-located join; the bucketing strategy for repeated joins
    at 10^12 rows)."""
    from go_log_forwarder_spark.operators.partitioning import write_bucketed

    df = spark.read.parquet(tokens_path)
    write_bucketed(df.select("doc_id", "source", "n_tok"), "t_buck_a", key="doc_id", buckets=8)
    write_bucketed(df.select("doc_id", "tokens"), "t_buck_b", key="doc_id", buckets=8)
    # disable broadcast so the planner must choose between shuffle and
    # buckets (at 10^12 rows neither side broadcasts anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_buck_a").join(spark.table("t_buck_b"), "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located by buckets
        assert joined.count() == df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tcp_chunks_shuffle_free(spark):
    """Chunk-per-read explode is map-side only: no Exchange, no Python."""
    from go_log_forwarder_spark.sources.tcp import tcp_chunks

    bodies = spark.createDataFrame(
        [("x" * 100, "c1")], "body string, remote_addr string"
    )
    plan = plan_of(tcp_chunks(bodies, buffer_size=16))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_bucketed_pairs_plan_is_grouped_arrow_kernel(spark):
    """The gated embedding-dedup plan: IVF assign (broadcast centroids) +
    grouped-map Arrow kernel per bucket. NEVER a cartesian/nested-loop join
    of the corpus against itself, and zero driver-side collect nodes."""
    from go_log_forwarder_spark.functions import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(sim.bucketed_cosine_pairs(emb, 500000, k=4))
    assert "FlatMapGroupsInPandas" in plan  # the per-bucket numpy kernel
    assert "CartesianProduct" not in plan
    # the only nested-loop join is row x K-CENTROIDS with the centroid side
    # broadcast (k rows) — the intended assign shape; corpus x corpus would
    # show as a second non-broadcast join or a cartesian product
    assert "BroadcastExchange" in plan
    assert plan.count("Join") == plan.count("BroadcastNestedLoopJoin BuildRight") == 1


def test_all_pairs_plan_is_block_shuffle_not_collect(spark):
    """Exact all-pairs: ONE hash exchange (block-pair groups) feeding the
    grouped Arrow kernel — no corpus broadcast, no nested-loop join."""
    from go_log_forwarder_spark.functions import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(sim.all_pairs_cosine_micro(emb, 0, num_blocks=4))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_concat_prefix_sum_is_blocked_not_per_source(spark):
    """The packing cumsum must never sort a whole source in one task: the
    full-relation window partitions on (source, _blk) — high cardinality —
    and the only per-source-alone window runs over the block-subtotal
    AGGREGATE (rows/PACK_BLOCK), whose offsets then broadcast-join back."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tokens_pack_concat(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # level-1 window keyed by (source, _blk)
    assert "windowspecdefinition(source" in plan and "_blk" in plan
    specs = [seg.split(")")[0] for seg in plan.split("windowspecdefinition(")[1:]]
    per_source_only = [s for s in specs if "_blk" not in s and "_btot" not in s]
    # any window WITHOUT the block key must be the subtotal-level cumsum
    # (its frame sums _btot), never the raw row relation
    for s in per_source_only:
        raise AssertionError(f"raw-relation window partitioned by source alone: {s}")
    # the offsets come back via broadcast, not another big-side exchange
    assert "BroadcastHashJoin" in plan


def test_length_stats_is_histogram_not_global_sort(spark):
    """Exact percentiles must come from the (source, n_tok) value histogram:
    the raw relation is only partially aggregated (partial_count before the
    exchange); windows run over the aggregated histogram, and no row_number
    ranks the full row set."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tokens_length_stats(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "row_number" not in plan
    # map-side partial aggregation of the histogram counts
    assert "partial_count" in plan


def test_tokens_group_counts_single_scan(spark):
    """Sink AND source aggregates must come from ONE pass of the
    serialize->parse pipeline (a union of two aggregations would recompute
    the parse per branch): exactly one events scan in the plan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tokens_group_counts(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan


def test_split_seed_debroadcast_plan(spark):
    """VERDICT r3 item 2 (plan half): the seed relation joins by broadcast
    ONLY under the row threshold; past it (forced with
    seed_broadcast_rows=0) the candidate join is a real shuffle join — a
    data-dependent relation is never unconditionally broadcast, and the
    plan never degrades to a cartesian product. checkpoint=False exposes
    the per-level joins that localCheckpoint would otherwise hide."""
    from go_log_forwarder_spark.functions import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float((i * 3) % 11), float(i % 5), 1.0]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    assigned = sim.ivf_assign(emb, k=1)

    dflt = sim.split_hot_buckets(assigned, split_cap=20, checkpoint=False)
    p_dflt = plan_of(dflt)
    forced = sim.split_hot_buckets(
        assigned, split_cap=20, seed_broadcast_rows=0, checkpoint=False
    )
    p_forced = plan_of(forced)

    for p in (p_dflt, p_forced):
        assert "CartesianProduct" not in p
    # small seeds: the candidate join is broadcast (more BroadcastExchange
    # nodes than the forced-shuffle plan, which must fall back to a
    # shuffle join for the same relation)
    assert p_dflt.count("BroadcastExchange") > p_forced.count("BroadcastExchange")
    assert ("SortMergeJoin" in p_forced) or ("ShuffledHashJoin" in p_forced)


def test_frame_sample_zero_shuffle_plan(spark):
    """Per-frame video access must stay a single-pass plan: ONE Arrow
    kernel decodes each video's movi chunks into an array column, then
    the time-grid explode and the element_at frame lookup run inside
    whole-stage codegen — no Exchange, no join, no second decode."""
    from go_log_forwarder_spark.functions import multimodal as mm

    df = mm.frame_sample(mm.synth_media(spark, 45), every_ms=100)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # exactly two kernels: synth_media's builder + the frame decoder
    assert plan.count("MapInPandas") == 2
    assert "Generate explode" in plan and "element_at" in plan


def test_ann_ivfpq_topk_plan_has_no_python_eval(spark):
    """The IVF assignment and hot-bucket seed distances use the JVM int_dot
    fold: the executed (AQE-final) plan of the IVF-PQ search crosses no
    Python boundary for a per-row scalar UDF."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["ann_ivfpq_topk"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
