"""Repeatable benchmark of the fuzzy-matching engine: two seeded workloads,
end-to-end metrics from untraced runs and per-layer metrics from traced runs.

Run ``python3 perfbench/run.py --workload corpus-dedup --seed 1 --seconds 8
--trace 0`` from the repository root; see ``perfbench/NOTES.md``.
"""
