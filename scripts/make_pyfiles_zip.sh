#!/usr/bin/env bash
# Package the engine for multi-executor deployment (north rule:
# `spark-submit --py-files` at N and 4N executors).
#
#   ./scripts/make_pyfiles_zip.sh [out.zip]
#   spark-submit --py-files dist/go_log_forwarder_spark.zip \
#       --conf spark.sql.adaptive.enabled=true \
#       --conf spark.sql.session.timeZone=UTC \
#       your_job.py
#
# The library is pure Python (pandas UDFs + Catalyst expressions) — no jars
# beyond stock Spark. get_spark() runs the Python workers under the
# go_log_forwarder_spark.pyworker daemon, which starts before --py-files reach
# sys.path: on standalone or Kubernetes also install the package in the
# executor image or put it on spark.executorEnv.PYTHONPATH.
set -euo pipefail
cd "$(dirname "$0")/.."
out="${1:-dist/go_log_forwarder_spark.zip}"
mkdir -p "$(dirname "$out")"
rm -f "$out"
python -c "
import zipfile, pathlib
out = '$out'
root = pathlib.Path('go_log_forwarder_spark')
with zipfile.ZipFile(out, 'w', zipfile.ZIP_DEFLATED) as z:
    for p in sorted(root.rglob('*.py')):
        z.write(p, p.as_posix())
print('wrote', out)
"
python -c "
import sys, zipfile
sys.path.insert(0, '$out')
import go_log_forwarder_spark
from go_log_forwarder_spark.functions.tags import tag_match_py
assert tag_match_py('foobar', 'foo*')
print('zip import check OK:', go_log_forwarder_spark.__version__)
"
