"""A minimal spark-submit entry point: runs the flagship KG query and
prints a row count and the session's case-mapping setting.  Exercises
the --py-files deployment path:

    python tools/make_pyfiles_zip.py
    spark-submit --master local[4] --driver-java-options -XX:CICompilerCount=2 \
        --py-files snorkel_spark.zip tools/submit_job.py

The session runs with the package's settings (``session_conf``), sized
by the cores this driver may use.  ``spark-submit`` starts the driver
JVM before this script runs, so the launch settings (master, driver
heap and a local master's JIT flag, see ``snorkel_spark/session.py``)
come from the command line.
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import SparkSession


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from snorkel_spark.session import session_conf

    spark = SparkSession.builder.appName("snorkel_spark_submit").config(
        map=session_conf(len(os.sched_getaffinity(0)))
    ).getOrCreate()
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
    case_mapping = spark.conf.get("spark.sql.icu.caseMappings.enabled")
    print(json.dumps({"ok": True, "n_scored": mv.count(), "icu_case_mappings": case_mapping}))
    spark.stop()


if __name__ == "__main__":
    main()
