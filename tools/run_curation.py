"""spark-submit entry point for the corpus-curation plan.

    python tools/make_pyfiles_zip.py
    spark-submit --py-files pubscience_spark.zip tools/run_curation.py \
        <docs.parquet> <out_dir> [--lang en] [--threshold 0.85]

Prints the manifest JSON (also written to <out_dir>/manifest.json).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("docs")
    ap.add_argument("out_dir")
    ap.add_argument("--lang", default=None)
    ap.add_argument("--detector", action="store_true",
                    help="gate on the native detector, not the lang column")
    ap.add_argument("--threshold", type=float, default=0.85)
    ap.add_argument("--min-chars", type=int, default=100)
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--para-dedup", action="store_true",
                    help="C4-style corpus-wide paragraph dedup stage")
    ap.add_argument("--master", default=None,
                    help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    args = ap.parse_args()

    from pubscience_spark.plans.curation import curate_corpus
    from pubscience_spark.session import get_spark
    spark = get_spark(app_name="curate", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        manifest = curate_corpus(
            spark, spark.read.parquet(args.docs), args.out_dir,
            lang_keep=args.lang, use_detector=args.detector,
            neardup_threshold=args.threshold, min_chars=args.min_chars,
            min_words=args.min_words, para_dedup=args.para_dedup)
    finally:
        spark.stop()
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
