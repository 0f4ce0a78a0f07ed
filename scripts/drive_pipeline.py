"""End-to-end drive: sf0.001 events.parquet -> parse -> grep -> enrich -> route -> sinks."""
import tempfile, os
from pyspark.sql import functions as F
from go_log_forwarder_spark.session import get_spark
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain, RegexParser
from go_log_forwarder_spark.functions.filters import GrepFilter
from go_log_forwarder_spark.functions.enrich import broadcast_enrich
from go_log_forwarder_spark.operators.routing import SinkSpec, fan_out_writes
from go_log_forwarder_spark.operators.aggregate import per_sink_counts, pipeline_metrics

spark = get_spark()  # local[$SPARK_GRAFT_CPUS]
ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
# ingest: props is the raw JSON log line; tag derived from event_type; source from user_id
df = ev.select(
    F.col("props").alias("raw"),
    F.concat(F.lit("evt-"), F.col("event_type")).alias("tag"),
    F.concat(F.lit("src"), (F.col("user_id") % 5).cast("string")).alias("source"),
    F.col("ts").alias("ingest_time"),
    "event_id",
)
parsed = ParserChain([JsonParser(), RegexParser(pattern=r"^(?P<level>[A-Z]+) (?P<msg>.+)$")]).apply(df)
grep = GrepFilter(op="and", include=('"k":[0-9]+',), match="evt-*")
kept = grep.apply(parsed)
lookup = spark.createDataFrame(
    [("src0", "team-a"), ("src1", "team-b"), ("src2", "team-c")], "source string, team string")
enriched = broadcast_enrich(kept, lookup)
sinks = [SinkSpec("all", "*"), SinkSpec("errors", "evt-err*"), SinkSpec("clicks", "evt-click"),
         SinkSpec("infix", "e*-*i*"), SinkSpec("none", "")]
out = tempfile.mkdtemp(prefix="glfs_sinks_")
def write(s, sdf):
    sdf.write.mode("overwrite").parquet(os.path.join(out, s.name))
counts = fan_out_writes(enriched, sinks, write)
print("fan_out counts:", counts)
print("per_sink_counts:")
per_sink_counts(enriched, sinks).orderBy("sink_name").show()
print("metrics:")
pipeline_metrics(parsed, grep.keep_pred(), sinks).orderBy("source").show()
# re-read a sink from disk (real surface: parquet written by the writes)
back = spark.read.parquet(os.path.join(out, "errors"))
print("errors sink rows on disk:", back.count(), "distinct tags:", [r[0] for r in back.select("tag").distinct().collect()])
print("sample row:", back.select("raw","tag","source","team","parsed","canonical").head())
