"""Command-line grid-search runner — the reference's flagship entry point
re-expressed over this engine (SURVEY.md §3.1; reference:
cuvs_bench_grid_search_v3.py:845-874 argparse -> main:746-838).

Lifecycle parity with the reference's main():
argparse -> ``load_all_input_configs`` (filter_config.yaml + params_config.yaml
merged with defaults) -> per (data source x active filter) run -> grid family
(cagra->IVF / hnsw->LSH / ivfpq->composed IVF+PQ per the SURVEY §2 I1/I2
knob mapping) -> one-time
cached exact ground truth -> per-combo build/search/recall rows appended to an
incremental CSV (reference :690-693) -> per-family summary CSV of
best-recall/best-QPS rows (all_runs_summary-2.csv shape).

The reference selects a pre-materialized quantized corpus by folder name
(--quantization-folder half_precision|full_precision); here the tier is a
column derivation applied before the split (operators.quantize), so the same
flag selects the same storage-precision semantics with no extra copies.

Usage (mirrors the reference flags)::

    python -m filtered_ads_vector_search_spark \
        --data /root/testdata/sf0.01 \
        --quantization-folder full_precision \
        --config-path tests/reference_configs \
        --algo-type cagra \
        --results-dir /tmp/grid_results
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import topk as TK
from .operators.filters import with_rating_bucket
from .operators.gridsearch import (
    grid_search,
    grid_search_ivfpq,
    grid_search_lsh,
    summarize,
)
from .sources.config import (
    filter_predicates,
    ivf_grid_from_config,
    ivfpq_grid_from_config,
    load_all_input_configs,
    lsh_grid_from_config,
)
from .sources.sinks import write_metrics_csv

#: --quantization-folder values (the reference's corpus folder names,
#: index_data.ipynb cell 0) -> column-derivation tier.
QUANT_TIERS = ("full_precision", "half_precision", "scalar8")


def _apply_quantization(emb: DataFrame, tier: str) -> DataFrame:
    if tier == "full_precision":
        return emb
    if tier == "half_precision":
        from .operators.quantize import float16_roundtrip_udf

        return emb.withColumn("embedding", float16_roundtrip_udf(F.col("embedding")))
    if tier == "scalar8":
        from .operators.quantize import sq8_apply, sq8_train

        bounds = sq8_train(emb).first()
        return emb.withColumn(
            "embedding", sq8_apply(F.col("embedding"), bounds["lo"], bounds["hi"])
        )
    raise ValueError(f"--quantization-folder must be one of {QUANT_TIERS}, got {tier!r}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="filtered_ads_vector_search_spark",
        description="Filtered vector-search grid-search benchmark (Spark engine)",
    )
    p.add_argument(
        "--data",
        required=True,
        help="sf directory containing embeddings.parquet, or a parquet path "
        "with (vec_id, embedding) columns",
    )
    p.add_argument(
        "--quantization-folder",
        default="full_precision",
        choices=QUANT_TIERS,
        help="storage-precision tier (reference folder names)",
    )
    p.add_argument(
        "--config-path",
        default=".",
        help="directory with filter_config.yaml + params_config.yaml",
    )
    p.add_argument(
        "--algo-type",
        default="cagra",
        choices=["cagra", "hnsw", "ivfpq"],
        help="index family: cagra->IVF, hnsw->LSH, ivfpq->composed IVF+PQ",
    )
    p.add_argument(
        "--results-dir",
        default=None,
        help="override the config's results_dir",
    )
    p.add_argument(
        "--limit-values",
        type=int,
        default=None,
        help="truncate each knob list to N values (smoke runs)",
    )
    p.add_argument(
        "--replay-seconds",
        type=float,
        default=0.0,
        help="per-combo throughput replay duration (reference run_time_seconds; "
        "0 disables the replay stage)",
    )
    return p


def run(argv: list[str] | None = None, spark: SparkSession | None = None) -> str:
    """Run the sweep; returns the results directory. Separated from main()
    so tests can drive it with an existing session."""
    args = build_parser().parse_args(argv)
    config = load_all_input_configs(args.config_path)
    results_dir = args.results_dir or config["results_dir"]
    os.makedirs(results_dir, exist_ok=True)

    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="favs-grid-cli")
        spark.sparkContext.setLogLevel("ERROR")

    emb_path = args.data
    if os.path.isdir(emb_path) and os.path.exists(os.path.join(emb_path, "embeddings.parquet")):
        emb_path = os.path.join(emb_path, "embeddings.parquet")
    emb = _apply_quantization(spark.read.parquet(emb_path), args.quantization_folder)

    queries, corpus = TK.split_queries(emb)
    corpus = with_rating_bucket(corpus)
    predicates = filter_predicates(config)

    all_metrics: DataFrame | None = None
    n_runs = len(predicates)
    for i, (filter_name, pred) in enumerate(predicates.items(), 1):
        run_name = f"{args.algo_type}_{args.quantization_folder}_{filter_name}"
        print(f"--- run {i}/{n_runs}: {run_name} ---", file=sys.stderr)
        # incremental per-combo CSV, named like the reference's
        # {algo}_{qtype}_..._grid_search_results_new.csv (reference :608-610)
        csv_path = os.path.join(results_dir, f"{run_name}_grid_search_results.csv")
        t0 = time.time()
        if args.algo_type == "ivfpq":
            cfg = ivfpq_grid_from_config(config, limit_values=args.limit_values)
            metrics = grid_search_ivfpq(
                spark,
                queries,
                corpus,
                cfg,
                predicate=pred,
                run_name=run_name,
                csv_path=csv_path,
            )
        elif args.algo_type == "cagra":
            cfg = ivf_grid_from_config(config, limit_values=args.limit_values)
            metrics = grid_search(
                spark,
                queries,
                corpus,
                cfg,
                predicate=pred,
                run_name=run_name,
                csv_path=csv_path,
                replay_seconds=args.replay_seconds,
            )
        else:
            cfg = lsh_grid_from_config(config, limit_values=args.limit_values)
            metrics = grid_search_lsh(
                spark,
                queries,
                corpus,
                cfg,
                predicate=pred,
                run_name=run_name,
                csv_path=csv_path,
            )
        print(f"    {time.time() - t0:.1f}s", file=sys.stderr)
        all_metrics = metrics if all_metrics is None else all_metrics.unionByName(metrics)

    assert all_metrics is not None, "no active filters in config"
    # final summary CSV (reference all_runs_summary-2.csv); the summary is a
    # handful of rows, so a single output file is the right layout
    write_metrics_csv(
        summarize(all_metrics).coalesce(1),
        os.path.join(results_dir, "all_runs_summary.csv"),
    )
    return results_dir


def main() -> None:
    out = run()
    print(f"results saved in {out}")


if __name__ == "__main__":
    main()
