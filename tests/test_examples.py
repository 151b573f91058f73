"""The example pipelines are product surface — smoke them end-to-end."""

from __future__ import annotations

import sys

sys.path.insert(0, "examples")


def test_iowa_pipeline_end_to_end(spark, tmp_path):
    from examples.run_iowa_pipeline import main

    counts = main(str(tmp_path / "iowa"))
    assert counts["bronze_rows"] == counts["silver_rows"] == 5000
    assert counts["fact_sales_rows"] == 5000  # unique invoice PKs preserved
    assert counts["dim_store_rows"] == 40
    assert counts["report_rows"] > 0


def test_curation_pipeline_monotone(spark):
    from examples.curate_corpus import main

    stats = main("/root/testdata/sf0.001")
    chain = [
        stats["input"],
        stats["after_quality"],
        stats["after_exact_dedup"],
        stats["after_cluster_dedup"],
        stats["after_line_dedup"],
        stats["after_weighted_sample"],
    ]
    assert chain == sorted(chain, reverse=True)  # each stage only removes
    assert chain[-1] > 0
    # layout stages fan docs out into chunks, then packs bound sequences
    assert stats["n_chunks"] >= stats["after_weighted_sample"]
    assert 0 < stats["n_sequences"] <= stats["n_chunks"]
    # contrastive prep: 4 anchors x 3 negatives; index QA in [0, 1e6]
    assert stats["n_hard_negatives"] == 12
    assert 0 <= stats["ivf_recall_ppm_min"] <= 1_000_000
    # estimator QA: worst decile-mean |minhash - exact| stays a fraction
    # of the [0, 1e6] ppm scale (32-hash signatures). None is legal —
    # it means the LSH banding produced zero candidate pairs at this
    # tiny sf (the text/embedding union can still cluster docs via the
    # embedding side alone).
    if stats["minhash_worst_decile_err_ppm"] is not None:
        assert 0 <= stats["minhash_worst_decile_err_ppm"] <= 500_000
    # split covers the whole curated corpus; eval side non-trivial
    assert 0 < stats["n_eval_split"] < stats["after_weighted_sample"]
    # budget gate selects a strict, non-empty subset
    assert 0 < stats["n_budget_selected"] <= stats["after_weighted_sample"]


def test_stream_demo_end_to_end(spark):
    from examples.stream_events import main

    stats = main("/root/testdata/sf0.001")
    assert stats["unique_events"] == stats["staged_rows"] // 2
    assert stats["window_rows"] > 0 and stats["closed_sessions"] > 0


def test_ann_index_lifecycle_example(spark, tmp_path):
    from examples.ann_index_lifecycle import main

    stats = main("/root/testdata/sf0.001", str(tmp_path))
    assert stats["cells"] == 16
    assert stats["delta_vectors"] > 0
    assert (
        stats["indexed_after_ingest"]
        == stats["base_vectors"] + stats["delta_vectors"]
    )
    assert len(stats["top5"]) == 5
