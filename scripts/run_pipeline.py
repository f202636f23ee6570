#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline.

Cluster launch (the north rule's deployment shape):

    python scripts/build_pyfiles.py          # → dist/graphiti_spark.zip
    spark-submit --py-files dist/graphiti_spark.zip \
        scripts/run_pipeline.py \
        --episodes /path/to/episodes_parquet \
        --output   /path/to/graph_tables \
        [--resume] [--sf-dir /root/testdata/sf0.01 --replicas 4]

On a real cluster add --master yarn/k8s and executor sizing; the job
itself is master-agnostic (it uses the session Spark gives it). Input
is either an existing episodes parquet table (--episodes) or the
deterministic synthesizer over a testdata sf dir (--sf-dir).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--episodes", help="episodes parquet dir (input_hint shape)")
    ap.add_argument("--sf-dir", help="synthesize episodes from this testdata dir")
    ap.add_argument("--replicas", type=int, default=1)
    ap.add_argument("--output", required=True, help="graph tables root dir")
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("graphiti_spark_pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from graphiti_spark.materialize import materialize_graph
    from graphiti_spark.synth import synthesize_episodes

    if args.episodes:
        episodes = spark.read.parquet(args.episodes)
    elif args.sf_dir:
        episodes = synthesize_episodes(spark, args.sf_dir, replicas=args.replicas)
    else:
        raise SystemExit("one of --episodes / --sf-dir is required")

    io = materialize_graph(spark, episodes, args.output, resume=args.resume)
    # each materialize_graph call writes one metrics file; print the
    # latest (a --resume with nothing left to do writes none)
    rows = io.read("metrics").collect()
    last = max(r.seq for r in rows)
    metrics = {f"{r.stage}.{r.metric}": r.value for r in rows if r.seq == last}
    print(json.dumps(dict(sorted(metrics.items()))))
    spark.stop()


if __name__ == "__main__":
    main()
