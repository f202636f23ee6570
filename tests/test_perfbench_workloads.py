"""The benchmark's workloads drive the program through names it imports
directly (``run_pipeline``, ``dedupe_edges``, the resolve operators,
``lsh_candidate_pairs(include_texts=)``, ``enrich_nodes``, ...). Both
workloads run here on tiny corpora: the untimed checks pass and the
layer-by-layer traced build counts what the timed build produced, so a
renamed or re-signed program function fails here before it fails a
benchmark run."""

from __future__ import annotations

import pytest

from perfbench import workloads as W
from perfbench.spans import Tracer

TINY = {
    "bulk_template": {"n_docs": 60, "replicas": 1},
    "bulk_entity_rich": {"n_groups": 2, "n_entities": 40, "n_docs": 80},
}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_workload_builds_checks_and_traces(spark, tmp_path, monkeypatch, workload):
    monkeypatch.setattr(W, "SIZES", TINY)
    info = W.prepare(spark, workload, 7, str(tmp_path / "input"))
    episodes = W.episodes(spark, workload, info)
    try:
        out = W.build(spark, episodes)
        checks, rows = W.check_output(
            out, W.ground_truth(workload, info, episodes)
        )
        assert [c for c in checks if not c[1]] == []
        assert rows["triples_raw"] > 0 and rows["edges"] > 0

        counts = W.traced_build(spark, episodes, Tracer())
        assert counts["triples_out"] == rows["triples_raw"]
        assert counts["n_edges"] == rows["edges"]
    finally:
        W.release(spark)
