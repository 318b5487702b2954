"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule execution contract):

    zip -r a2r.zip anything2rdf_spark
    spark-submit --py-files a2r.zip run_pipeline.py \
        --input  <transcripts parquet/Iceberg path> \
        --warehouse <checkpoint warehouse path> \
        [--dictionary <entity dictionary parquet>] \
        [--alias-edges <alias edges parquet>] \
        [--synth-convs N]   # generate synthetic input instead of --input

Local smoke:  python run_pipeline.py --synth-convs 200 --warehouse /tmp/wh
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (input_hint schema)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--dictionary", help="entity dictionary parquet path")
    ap.add_argument("--alias-edges", dest="alias_edges", help="alias edges parquet path")
    ap.add_argument("--synth-convs", dest="synth_convs", type=int, default=0)
    ap.add_argument(
        "--demo-fixtures",
        dest="demo_fixtures",
        action="store_true",
        help="inject the synthetic code tables / dictionary / alias edges "
        "for missing inputs (implied by --synth-convs; NEVER default for "
        "real inputs — synthetic triples would contaminate a real KG)",
    )
    ap.add_argument("--fingerprint", default="v1")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--mention-engine",
        dest="mention_engine",
        choices=["scan", "join"],
        default="scan",
        help="scan = driver-collected dictionary + native JVM regex scan; "
        "join = token-index join for dictionaries too large to collect",
    )
    ap.add_argument(
        "--broadcast-map-max-rows",
        dest="broadcast_map_max_rows",
        type=int,
        default=5_000_000,
        help="canonical-map rewrite broadcasts under this row count, else shuffle-joins; "
        "alias graphs up to this many edges are solved on the driver",
    )
    args = ap.parse_args(argv)

    from anything2rdf_spark.plans.pipeline import Pipeline
    from anything2rdf_spark.session import get_spark
    from anything2rdf_spark.sources import synth

    spark = get_spark(master=args.master, app_name="a2r-pipeline")

    if args.synth_convs:
        transcripts = synth.transcripts(spark, n_convs=args.synth_convs, seed=42)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --synth-convs")

    # Synthetic stand-ins are for demo/synthetic runs ONLY: silently
    # injecting fake code tables or alias edges into a run over REAL
    # transcripts would contaminate the output KG with synthetic triples.
    demo = bool(args.synth_convs) or args.demo_fixtures
    if args.dictionary:
        dictionary = spark.read.parquet(args.dictionary)
        surfaces = None
    elif demo:
        dictionary = synth.entity_dictionary(spark)
        surfaces = synth.ALL_MENTION_NAMES
    else:
        ap.error("--dictionary is required for real inputs (or pass --demo-fixtures)")
    if args.alias_edges:
        alias_edges = spark.read.parquet(args.alias_edges)
    else:
        alias_edges = synth.alias_edges(spark) if demo else None
    code_tables = synth.code_tables(spark) if demo else None

    pipe = Pipeline(
        spark, args.warehouse, broadcast_map_max_rows=args.broadcast_map_max_rows
    )
    metrics = pipe.run(
        transcripts=transcripts,
        dictionary=dictionary,
        code_tables=code_tables,
        alias_edges=alias_edges,
        dictionary_surfaces=surfaces,
        fingerprint=args.fingerprint,
        force=args.force,
        mention_engine=args.mention_engine,
    )
    metrics["n_triples"] = pipe.triples().count()
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
