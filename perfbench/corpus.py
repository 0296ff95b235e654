"""Seeded benchmark corpora, made by the repository's fixture generator.

The generator pins every per-document draw at seed 42 (``build_docs``), so
the benchmark seed reaches the one random source left open: the rng that
``build_universe`` draws the entity universe from (stem ambiguity, alias
surfaces, persons, pem probabilities). Two seeds therefore give documents
with the same skeleton whose mentions, candidates and links differ.

Generation reuses ``gen.generate`` unchanged (documents, gold spans, the
resource tables, gold pairs and the NumPy-oracle goldens); this module only
supplies the tier config and the seeded universe rng. Corpora are cached
per (workload, seed) so a repeated seed skips generation, which is not part
of any timed figure.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

# Universe shape of the repository's bench tier; only the corpus size and
# the oracle flag differ per workload.
_UNIVERSE = dict(n_stems=50, n_persons=60, pair_cap=50, n_hot=35)

CORPUS_DOCS = {"e2e_bulk": 3_000, "spans_job": 2_000}

# Bumped whenever the corpus recipe above changes, so stale caches rebuild.
RECIPE = "r3"


def corpus_cfg(workload: str, seed: int) -> dict:
    return dict(_UNIVERSE, n_docs=CORPUS_DOCS[workload],
                with_oracle=workload == "spans_job", universe_seed=seed)


def ensure_corpus(workload: str, seed: int, cache_root: str) -> str:
    """Return the fixture-shaped corpus dir for (workload, seed), generating
    it on first use. Generation writes to a temporary dir that is renamed
    into place, so an interrupted run never leaves a half corpus behind."""
    out = os.path.join(cache_root, f"{workload}-s{seed}-{RECIPE}")
    if os.path.exists(os.path.join(out, "_VERSION.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _generate(corpus_cfg(workload, seed), seed, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _generate(cfg: dict, seed: int, out_dir: str) -> None:
    from refined_spark.fixtures import gen

    tier = f"perfbench-s{seed}"
    build_universe = gen.build_universe

    def seeded_universe(tier_cfg, _rng):
        return build_universe(
            tier_cfg, np.random.Generator(np.random.PCG64(seed)))

    gen.TIERS[tier] = cfg
    gen.build_universe = seeded_universe
    try:
        gen.generate(tier, out_dir)
    finally:
        gen.build_universe = build_universe
        del gen.TIERS[tier]
