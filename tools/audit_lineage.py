"""Audit the extracted table against its lineage log.

Recomputes per-bucket row counts and crc32 checksums from the data files
and compares them to the committed lineage rows — the integrity check the
reference performs implicitly by "write once at end marks success"
(``extractor/parse.py:75-79``), made explicit and distributed.

    python tools/audit_lineage.py <out_dir>       # exits 1 on mismatch
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(spark, out_dir: str) -> list[str]:
    from pyspark.sql import functions as F

    from pubscience_spark.plans.pipeline import lineage_checksum
    extracted = spark.read.parquet(os.path.join(out_dir, "extracted"))
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    actual = extracted.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("a_rows"),
        lineage_checksum().alias("a_sum"))
    expected = lineage.groupBy("bucket").agg(
        F.sum("row_count").alias("e_rows"), F.sum("checksum").alias("e_sum"))
    joined = actual.join(expected, "bucket", "full").collect()
    problems = []
    for r in joined:
        if r["a_rows"] != r["e_rows"]:
            problems.append(f"bucket {r['bucket']}: rows {r['a_rows']} != "
                            f"lineage {r['e_rows']}")
        elif r["a_sum"] != r["e_sum"]:
            problems.append(f"bucket {r['bucket']}: checksum mismatch")
    return problems


def main() -> int:
    from pubscience_spark.session import get_spark
    out_dir = sys.argv[1]
    spark = get_spark(app_name="lineage-audit")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        problems = audit(spark, out_dir)
    finally:
        spark.stop()
    if problems:
        print("\n".join(problems))
        return 1
    print("lineage audit OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
