"""A minimal spark-submit entry point: runs the flagship KG query and
prints a row count.  Exercises the --py-files deployment path:

    python tools/make_pyfiles_zip.py
    spark-submit --master local[4] --driver-java-options -XX:CICompilerCount=2 \
        --py-files snorkel_spark.zip tools/submit_job.py

``spark-submit`` starts the driver JVM before this script runs, so no
JVM option set from Python reaches it: a local master's JIT flag (see
``snorkel_spark/session.py``) is passed on the command line.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.appName("snorkel_spark_submit")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from snorkel_spark.functions.labeling import apply_lfs, make_fixture_lfs
    from snorkel_spark.labelmodel.model import majority_vote
    from snorkel_spark.operators.parser import parse_sentences
    from snorkel_spark.plans.pipeline import build_candidates
    from snorkel_spark.sources import fixtures as FX
    from snorkel_spark.sources.interleaved import synthesize_raw_documents

    sents = parse_sentences(synthesize_raw_documents(spark, sf_dir))
    cands = build_candidates(sents)
    L = apply_lfs(cands, make_fixture_lfs(FX.known_spouse_names()))
    mv = majority_vote(L)
    print(json.dumps({"ok": True, "n_scored": mv.count()}))
    spark.stop()


if __name__ == "__main__":
    main()
