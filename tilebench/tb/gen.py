"""The benchmark's own input generators. Each takes only (n, seed).

The engine's synth module covers images and polylines; the star-shaped
regions of join_tile and the document corpus of docs_dedup are made here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# the six dense clusters of the engine's synthetic image table
# (sources/synth.py): regions sit on them so the join has work to do
METROS = np.array([
    [-74.006, 40.713], [139.692, 35.690], [-0.128, 51.507],
    [2.352, 48.857], [-118.244, 34.052], [77.209, 28.614],
])
RING_VERTICES = 64

_VOCAB = (
    "map tile layer road river bridge harbor market plaza garden tower street "
    "avenue park station metro rail bus ferry airport coast island valley hill "
    "forest lake canal dock pier square church temple museum school library "
    "hotel cafe bakery shop mall factory farm field vineyard orchard meadow "
    "trail summit ridge cliff beach dune reef bay cape delta basin plain mesa"
).split()


def _star(cx: float, cy: float, radius: float, lobes: int, phase: float) -> list:
    """Closed star-shaped ring of RING_VERTICES vertices around (cx, cy)."""
    t = np.linspace(0.0, 2 * np.pi, RING_VERTICES, endpoint=False)
    r = radius * (1.0 + 0.45 * np.cos(lobes * t + phase))
    pts = np.column_stack([cx + r * np.cos(t), cy + r * np.sin(t)])
    return np.vstack([pts, pts[:1]]).tolist()


def regions_pdf(n: int, seed: int) -> pd.DataFrame:
    """n star-shaped regions: (polygon_id, rings) with rings in lon/lat.

    Regions cluster on the metros, so neighbours overlap; every third one
    has a star-shaped hole. polygon_id is "r" + a two-digit index.
    """
    rng = np.random.default_rng([seed, 71])
    rows = []
    for i in range(n):
        # placement, size and shape follow the index; the seed nudges the
        # centres and turns the stars, so the join's work and the number of
        # tiles it feeds vary little between seeds
        ring_pos = 2 * np.pi * 7 * i / n
        cx, cy = (METROS[i % len(METROS)] + 0.03 * np.array([np.cos(ring_pos), np.sin(ring_pos)])
                  + rng.normal(0.0, 0.002, 2))
        radius = 0.02 + 0.05 * ((i * 5) % 8) / 7
        lobes = 4 + i % 4
        phase = rng.uniform(0.0, 2 * np.pi)
        rings = [_star(cx, cy, radius, lobes, phase)]
        if i % 3 == 0:
            rings.append(_star(cx, cy, radius * 0.35, lobes, phase + 0.5))
        rows.append((f"r{i:02d}", rings))
    return pd.DataFrame(rows, columns=["polygon_id", "rings"])


def documents_pdf(n: int, seed: int) -> pd.DataFrame:
    """n documents (doc_id, text): word salad where about a third of the
    documents are edited copies of an earlier one (5-20% of words replaced),
    so near-duplicate pairs span the 0.5 Jaccard threshold."""
    rng = np.random.default_rng([seed, 72])
    vocab = np.array(_VOCAB)
    docs: list[np.ndarray] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.33:
            words = docs[int(rng.integers(0, i))].copy()
            edit = rng.random(len(words)) < rng.uniform(0.05, 0.2)
            words[edit] = rng.choice(vocab, int(edit.sum()))
        else:
            words = rng.choice(vocab, int(rng.integers(20, 60)))
        docs.append(words)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [" ".join(w) for w in docs],
    })
