"""Spark-free microbenchmarks of the engine's numpy kernels, single core.

Inputs come from the run's seed, so every workload's traced run reports the
same kernels on inputs of the same shape: code files from the corpus
fixture for shingling and one-permutation hashing, person-name pairs for the
bit-parallel LCS ratio.
"""

from __future__ import annotations

import time

import numpy as np

MIN_SECONDS = 0.3  # each figure times whole passes until at least this long


def _timed_passes(fn) -> tuple[float, int]:
    passes, t0 = 0, time.perf_counter()
    while True:
        fn()
        passes += 1
        wall = time.perf_counter() - t0
        if wall >= MIN_SECONDS:
            return wall, passes


def kernel_figures(seed: int) -> dict[str, float]:
    from fuzzy_matching_spark.fixtures.corpus import generate_corpus
    from fuzzy_matching_spark.fixtures.persons import generate_person_pair
    from fuzzy_matching_spark.kernel import batchlcs
    from fuzzy_matching_spark.operators import minhash

    texts = [r["content"] for r in generate_corpus(60, seed=seed).rows]
    out = {}
    for mode, k, n_docs in (("word", 3, 40), ("char", 5, len(texts))):
        docs = texts[:n_docs]
        wall, passes = _timed_passes(lambda: [minhash.shingle_hashes(t, k, mode) for t in docs])
        out[f"kernel.shingle_{mode}_us_per_doc"] = wall / (passes * len(docs)) * 1e6

    shl = [minhash.shingle_hashes(t, 5, "char") for t in texts]
    sh = np.concatenate(shl)
    idx = np.repeat(np.arange(len(shl), dtype=np.uint64), [s.size for s in shl])
    wall, passes = _timed_passes(lambda: minhash._oph_batch(sh, idx, len(shl), 125))
    out["kernel.oph_us_per_doc"] = wall / (passes * len(shl)) * 1e6

    orig, var = generate_person_pair(2000, seed=seed)
    left = [f"{r['Фамилия']} {r['Имя']} {r['Отчество']}".lower() for r in orig]
    right = [f"{r['Фамилия']} {r['Имя']} {r['Отчество']}".lower() for r in var]
    wall, passes = _timed_passes(lambda: batchlcs.ratio_pairs(left, right))
    out["kernel.ratio_pairs_per_s"] = passes * len(left) / wall
    return out
