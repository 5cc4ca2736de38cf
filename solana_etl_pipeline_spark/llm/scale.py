"""Recommended scale-guard defaults for the near-dup families.

The raw operators stay EXACT by default — ``minhash_near_dup_pairs``,
``simhash_candidate_pairs``, ``embedding_near_dup_pairs`` default to
``max_bucket=None`` (full per-bucket clique) and
``incremental_near_dup_batch`` to ``max_probe_per_bucket=None``
(exhaustive probe) — so a caller who wants textbook LSH semantics gets
them. But the plan you would actually run at 100 TB has the guards ON:
one mass-duplicated boilerplate bucket (a footer shared by 5 M pages)
turns the bucket self-join into an s·(s-1)/2 = 1.25e13-pair job no
partitioning survives, and nobody at that scale should have to know
the knob exists. The pipeline/registry entry points
(``queries/llm.py``) therefore pass these values, making the default
driver-witnessed plan the 100 TB-shaped one.

Derivation (``git show 6eb1dfe:tools/mega_bucket_rehearsal.py`` +
fixture probes, recorded in COVERAGE.md item 16):

* ``MAX_BUCKET = 1000`` is the rehearsal-measured value: at 100 k docs
  with a planted clone cluster grown 5 k -> 20 k, the uncapped clique
  goes 12.1 -> 158.5 s (quadratic, 200 M pairs) while ``max_bucket=
  1000`` stays flat (12.6 s, 19 999 star pairs) with IDENTICAL
  connected-components survivors. With the cap, candidate volume is
  bounded by bands * n * (cap-1)/2 — linear in corpus size — and a
  triggered bucket emits s-1 star edges instead of s*(s-1)/2.
* Headroom above organic collisions: the largest organic band bucket
  in the sf0.1 fixtures is 168 (simhash 16-bit bands; minhash 4,
  embedding hyperplane 38), measured r11 — the cap is ~6x the organic
  maximum, so on the driver fixtures the guarded plan is bit-identical
  to the exact one and every oracle MUST still MATCH.
* ``MAX_PROBE_PER_BUCKET = 1000`` is the temporal twin (the store's
  hot bucket grows per batch, eroding "probe cost ∝ batch size"): the
  salted two-phase min-k keeps partials map-side-combinable and the
  final merge ≤ 64 * k structs per bucket, so k = 1000 bounds both the
  merge (64 k structs) and the per-arrival candidate fan-out (1000 per
  band) while clone arrivals still verify against the bucket's minimum
  ids at est_jaccard 1.0.

The recall trade, stated plainly: inside a TRIGGERED bucket, pairwise
links between non-identical members are lost — only star edges to the
bucket's min-id representative are emitted, and a near-but-not-equal
member whose verify against the representative fails drops out. For
mass-duplication (the pathology that creates mega-buckets) the
representative IS an exact clone, every member verifies at
jaccard 1.0 / hamming 0 / cosine 1.0, and downstream
connected-components resolution is provably unchanged
(tests/test_llm.py star/CC-equivalence pins). On organically skewed
non-clone buckets the trade is real — callers who need exhaustive
pairs inside hot buckets should call the raw operators with
``max_bucket=None`` and budget for the quadratic.
"""

from __future__ import annotations

# Band-bucket star cap for minhash / simhash / embedding near-dup
# (see module docstring for the rehearsal derivation).
MAX_BUCKET: int = 1000

# Per-bucket probe bound for the incremental near-dup store's
# cross-batch candidate lookup.
MAX_PROBE_PER_BUCKET: int = 1000
