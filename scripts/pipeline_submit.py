"""spark-submit entry point for the quality-filter pipeline (north_rule:
"launched via spark-submit --py-files on multi-executor clusters").

Usage:
  spark-submit --py-files heliport_spark.zip \
      scripts/pipeline_submit.py INPUT_PARQUET OUTPUT_TABLE \
      [--buckets N] [--model-dir DIR]

The model artifact is NOT shipped through --py-files (it is 158 MB of mmap'd
numpy, not code): on a cluster it lives on a shared filesystem or is
distributed once per host via --archives, and its path is passed with
--model-dir / $HELIPORT_MODEL_DIR.
"""

import argparse
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("input")
    ap.add_argument("output")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--model-dir", default=None)
    ap.add_argument("--no-ft", action="store_true")
    ap.add_argument("--signal-gate", action="store_true",
                    help="decode PCM of transcript-gate survivors and AND "
                         "silence/clipping/drift flags into keep")
    args = ap.parse_args()

    from heliport_spark.pipeline import run_pipeline
    from heliport_spark.plans import get_spark

    # the engine's one conf table (plans.session_conf); spark-submit's own
    # master stays in charge, so the stock Python daemon is kept
    spark = get_spark(app_name="heliport_quality_filter")

    clips = spark.read.parquet(args.input)
    counters = run_pipeline(
        spark, clips, args.output, n_buckets=args.buckets,
        model_dir=args.model_dir, with_ft=not args.no_ft,
        with_signal_gate=args.signal_gate,
    )
    print(f"pipeline complete: {counters}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
