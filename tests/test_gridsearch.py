"""Grid-search driver (SURVEY.md §2 H4-H6): combos, metrics CSV, summary."""

import os

from pyspark.sql import functions as F

from filtered_ads_vector_search_spark.operators.gridsearch import (
    GridConfig,
    grid_search,
    param_grid,
    summarize,
)
from filtered_ads_vector_search_spark.operators import topk as TK

from conftest import SF_SMOKE

# reference-shaped filter_config.yaml + params_config.yaml
CONFIG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference_configs")


def test_param_grid_constraint():
    cfg = GridConfig(n_centroids=[4, 8], nprobe=[2, 8, 16])
    combos = param_grid(cfg)
    assert {(c["n_centroids"], c["nprobe"]) for c in combos} == {
        (4, 2),
        (8, 2),
        (8, 8),
    }


def test_grid_search_lsh_end_to_end(spark, tmp_path):
    from filtered_ads_vector_search_spark.operators.gridsearch import (
        LSHGridConfig,
        grid_search_lsh,
        lsh_param_grid,
    )

    assert len(lsh_param_grid(LSHGridConfig())) == 8  # defaults: nothing pruned
    assert (
        len(lsh_param_grid(LSHGridConfig(n_bits=[2], n_tables=[4], multiprobe=[0, 3]))) == 1
    )  # multiprobe > n_bits pruned
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    csv_path = str(tmp_path / "lsh_grid.csv")
    cfg = LSHGridConfig(n_bits=[4], n_tables=[8], multiprobe=[0, 2], k=5)
    rows = grid_search_lsh(spark, q, c, cfg, csv_path=csv_path).collect()
    assert len(rows) == 2
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert all(r["build_time_seconds"] > 0 for r in rows)
    # E9 MemoryMonitor analog: per-combo index memory footprint column
    assert all(r["memory_increase_build_gb"] >= 0.0 for r in rows)
    rec = {r["multiprobe"]: r["recall"] for r in rows}
    # multiprobe widens candidates -> recall must not decrease
    assert rec[2] >= rec[0] - 1e-9
    with open(csv_path) as f:
        assert len(f.readlines()) == 3  # header + 2 combos


def test_grid_search_end_to_end(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    csv_path = str(tmp_path / "grid.csv")
    cfg = GridConfig(n_centroids=[4, 8], nprobe=[2, 8], k=5)
    metrics = grid_search(spark, q, c, cfg, csv_path=csv_path).cache()
    rows = metrics.collect()
    assert len(rows) == 3  # constraint prunes (4, 8)
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert all(r["build_time_seconds"] > 0 for r in rows)
    # E9 MemoryMonitor analog (reference utils_grid_search.py:1034-1253):
    # the persisted index relation is materialized by the search, so at
    # least one combo must report a positive storage delta
    assert all(r["memory_increase_build_gb"] >= 0.0 for r in rows)
    assert any(r["memory_increase_build_gb"] > 0.0 for r in rows)
    # more probes at same centroids -> recall must not decrease
    rec = {(r["n_centroids"], r["nprobe"]): r["recall"] for r in rows}
    assert rec[(8, 8)] >= rec[(8, 2)] - 1e-9
    # nprobe == n_centroids probes everything -> exact recall 1.0
    assert rec[(8, 8)] == 1.0
    assert os.path.exists(csv_path)
    with open(csv_path) as f:
        assert len(f.readlines()) == 4  # header + 3 combos

    summ = summarize(metrics).collect()
    which = {r["which"] for r in summ}
    assert which == {"best_recall", "best_qps"}
    best_recall_row = [r for r in summ if r["which"] == "best_recall"][0]
    assert best_recall_row["recall"] == max(r["recall"] for r in rows)


def test_summarize_works_for_both_grid_families(spark):
    """summarize() must accept either family's metrics schema (ADVICE r1):
    knob columns are intersected, shared metric columns always present."""
    from filtered_ads_vector_search_spark.operators.gridsearch import summarize

    ivf = spark.createDataFrame(
        [("ivf", 16, 4, 0.9, 100.0, 1.5), ("ivf", 32, 8, 0.95, 80.0, 2.0)],
        "run string, n_centroids int, nprobe int, recall double, qps double,"
        " build_time_seconds double",
    )
    lsh = spark.createDataFrame(
        [("lsh", 4, 8, 0, 0.7, 300.0, 0.8), ("lsh", 4, 8, 2, 0.85, 150.0, 0.8)],
        "run string, n_bits int, n_tables int, multiprobe int, recall double,"
        " qps double, build_time_seconds double",
    )
    s_ivf = summarize(ivf).collect()
    assert {r["which"] for r in s_ivf} == {"best_recall", "best_qps"}
    assert {r["n_centroids"] for r in s_ivf} == {32, 16}
    s_lsh = summarize(lsh).collect()
    assert {r["which"] for r in s_lsh} == {"best_recall", "best_qps"}
    best_recall = [r for r in s_lsh if r["which"] == "best_recall"][0]
    assert best_recall["multiprobe"] == 2 and best_recall["recall"] == 0.85


def test_yaml_config_roundtrip_reference_files(spark):
    """Load reference-shaped filter_config.yaml/params_config.yaml
    (utils_grid_search.py:90-139 semantics) and drive a grid run at the
    smoke SF from them."""
    from filtered_ads_vector_search_spark.operators.filters import with_rating_bucket
    from filtered_ads_vector_search_spark.operators.gridsearch import grid_search
    from filtered_ads_vector_search_spark.sources import (
        filter_predicates,
        ivf_grid_from_config,
        load_all_input_configs,
        lsh_grid_from_config,
    )

    cfg = load_all_input_configs(CONFIG_DIR)
    # merge semantics: active_filters selection, settings flattened, defaults
    assert [name for _, name in cfg["filter_configurations"]] == ["mid_rated"]
    assert cfg["filter_configurations"][0][0] == ["1.0-2.0", "2.0-3.0"]
    assert cfg["num_queries"] == 10000          # global_settings flattened
    assert cfg["run_time_seconds"] == 30
    assert cfg["num_workers_throughput"] == 2   # absent in YAML -> default
    assert cfg["results_dir"] == "comprehensive_comparison_results"
    assert cfg["data_sizes"] == [5000000]

    preds = filter_predicates(cfg)
    assert set(preds) == {"mid_rated"}

    ivf = ivf_grid_from_config(cfg)
    assert ivf.n_centroids == [32, 64, 96, 128] and ivf.k == 10
    lsh = lsh_grid_from_config(cfg)
    assert lsh.n_bits == [4, 5] and lsh.k == 10
    assert all(0 <= m <= max(lsh.n_bits) for m in lsh.multiprobe)

    # drive an actual (knob-truncated) grid run from the YAML-derived config
    emb = with_rating_bucket(spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"))
    q, c = TK.split_queries(emb)
    small = ivf_grid_from_config(cfg, limit_values=1)
    rows = grid_search(spark, q, c, small, predicate=preds["mid_rated"]).collect()
    assert len(rows) == 1
    assert rows[0]["n_centroids"] == 32 and rows[0]["nprobe"] == 1
    assert 0.0 <= rows[0]["recall"] <= 1.0


def test_yaml_load_config_default_fallback(tmp_path):
    from filtered_ads_vector_search_spark.sources import load_config

    import pytest

    assert load_config(str(tmp_path / "missing.yaml"), {"a": 1}) == {"a": 1}
    with pytest.raises(FileNotFoundError):
        load_config(str(tmp_path / "missing.yaml"))
    p = tmp_path / "c.yaml"
    p.write_text("x:\n  y: [1, 2]\n")
    assert load_config(str(p)) == {"x": {"y": [1, 2]}}


def test_cli_end_to_end_reference_configs(spark, tmp_path):
    """Drive the CLI exactly as a reference user would — their own YAML
    configs, both algo types — and check the reference-shaped artifacts:
    per-run incremental CSV (one row per combo) + all_runs_summary.csv
    (best_recall/best_qps per run). Reference: cuvs_bench_grid_search_v3.py
    main:746-838 + argparse :845-874."""
    import csv

    from filtered_ads_vector_search_spark.cli import run

    for algo in ("cagra", "hnsw"):
        out = run(
            [
                "--data", SF_SMOKE,
                "--quantization-folder", "full_precision",
                "--config-path", CONFIG_DIR,
                "--algo-type", algo,
                "--results-dir", str(tmp_path / algo),
                "--limit-values", "1",
            ],
            spark=spark,
        )
        run_name = f"{algo}_full_precision_mid_rated"
        with open(f"{out}/{run_name}_grid_search_results.csv") as f:
            combos = list(csv.DictReader(f))
        assert len(combos) == 1 and combos[0]["run"] == run_name
        assert 0.0 <= float(combos[0]["recall"]) <= 1.0
        summary_dir = f"{out}/all_runs_summary.csv"
        found = []
        for name in os.listdir(summary_dir):
            if name.endswith(".csv"):
                with open(os.path.join(summary_dir, name)) as f:
                    found.extend(csv.DictReader(f))
        assert {r["which"] for r in found} == {"best_recall", "best_qps"}


def test_cli_half_precision_tier(spark, tmp_path):
    """--quantization-folder half_precision routes the corpus through the
    fp16 round-trip before the split (reference folder-selection semantics,
    index_data.ipynb cell 0)."""
    from filtered_ads_vector_search_spark.cli import run

    out = run(
        [
            "--data", SF_SMOKE,
            "--quantization-folder", "half_precision",
            "--config-path", CONFIG_DIR,
            "--algo-type", "cagra",
            "--results-dir", str(tmp_path),
            "--limit-values", "1",
        ],
        spark=spark,
    )
    name = "cagra_half_precision_mid_rated_grid_search_results.csv"
    assert os.path.exists(os.path.join(out, name))


def test_grid_search_ivfpq_end_to_end(spark, tmp_path):
    """Third grid family: one fixed build, (nprobe x rerank) sweep; rerank
    and wider probes must not lower recall; CSV sink row per combo."""
    from filtered_ads_vector_search_spark.operators.gridsearch import (
        IVFPQGridConfig,
        grid_search_ivfpq,
        ivfpq_param_grid,
    )

    assert len(ivfpq_param_grid(IVFPQGridConfig())) == 4
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q, c = TK.split_queries(emb)
    csv_path = str(tmp_path / "ivfpq_grid.csv")
    cfg = IVFPQGridConfig(nprobe=[2, 4], rerank=[0, 20], n_centroids=8, k=5)
    rows = grid_search_ivfpq(spark, q, c, cfg, fixed=True, csv_path=csv_path).collect()
    assert len(rows) == 4
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert all(r["build_time_seconds"] > 0 for r in rows)
    assert all(r["memory_increase_build_gb"] >= 0.0 for r in rows)
    rec = {(r["nprobe"], r["rerank"]): r["recall"] for r in rows}
    # exact rerank of a top-20 ADC shortlist strictly contains the rerank=0
    # top-5, so it can only help (or tie). NOTE: recall is NOT asserted
    # monotone in nprobe at fixed rerank — more probes add candidates that
    # can evict true neighbors from a fixed-size ADC shortlist (classic
    # IVFPQ behavior when the rerank list is small).
    assert rec[(4, 20)] >= rec[(4, 0)] - 1e-9
    assert rec[(2, 20)] >= rec[(2, 0)] - 1e-9
    with open(csv_path) as f:
        assert len(f.readlines()) == 5  # header + 4 combos


def test_cli_ivfpq_algo_type(spark, tmp_path):
    """--algo-type ivfpq drives the composed-tier sweep from the
    reference-shaped YAML (itopk_size -> rerank axis) and writes the same artifacts."""
    import csv

    from filtered_ads_vector_search_spark.cli import run

    out = run(
        [
            "--data", SF_SMOKE,
            "--quantization-folder", "full_precision",
            "--config-path", CONFIG_DIR,
            "--algo-type", "ivfpq",
            "--results-dir", str(tmp_path),
            "--limit-values", "1",
        ],
        spark=spark,
    )
    run_name = "ivfpq_full_precision_mid_rated"
    with open(f"{out}/{run_name}_grid_search_results.csv") as f:
        combos = list(csv.DictReader(f))
    assert len(combos) == 1 and combos[0]["run"] == run_name
    assert 0.0 <= float(combos[0]["recall"]) <= 1.0
    assert int(combos[0]["rerank"]) >= int(combos[0]["k"])
