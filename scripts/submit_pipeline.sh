#!/usr/bin/env bash
# Package the engine and launch the quality-filter pipeline via spark-submit.
#   ./scripts/submit_pipeline.sh INPUT_PARQUET OUTPUT_TABLE [MASTER] [extra args...]
# On a real cluster set MASTER to yarn/k8s and pass --model-dir pointing at a
# shared-filesystem copy of models/heli. Session confs come from the engine's
# one conf table (heliport_spark.plans.session_conf), applied by
# pipeline_submit.py; only the driver memory is set here, because the driver
# JVM starts before any Python runs.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
INPUT="$1"; OUTPUT="$2"; MASTER="${3:-local[8]}"; shift 2 || true; shift || true

ZIPDIR="$(mktemp -d)"
trap 'rm -rf "$ZIPDIR"' EXIT
ZIP="$ZIPDIR/heliport_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" heliport_spark -x '*__pycache__*')

# not exec'd, so the EXIT trap removes the zip; the script exits with
# spark-submit's status (set -e)
spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --driver-memory "${DRIVER_MEMORY:-8g}" \
  "$REPO/scripts/pipeline_submit.py" "$INPUT" "$OUTPUT" \
  --model-dir "${HELIPORT_MODEL_DIR:-$REPO/models/heli}" "$@"
