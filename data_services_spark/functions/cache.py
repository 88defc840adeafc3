"""The ONE-SLOT persist device: at most one cached relation alive per
slot list (each call releases the previous call's), eviction degrades
to recomputation — never a spill — and release is safe any time,
including after the owning SparkSession stopped (the blocks died with
it; a failing JVM-side unpersist is swallowed). Previously returned
results stay correct; they just recompute instead of reading cache.

Four slots remain. Each pair is sf0.1 driver-protocol time (fresh
build + toArrow(), min of 5, local[4]) in two sessions, with the slot
-> with persist_slot turned into the identity:

- ``text._BIGRAM_CACHE``, lm_bigram_logprob: 2.28, 2.53 s -> 2.46,
  2.44 s;
- ``multimodal._NEAR_DUP_CACHE``, image_near_dup: 4.95, 4.14 s -> 4.62,
  4.33 s (the decode-every-image Arrow pass runs once, not once per
  band-join side);
- ``sampling._PACK_CACHE``, token_packing_dict: 1.66, 1.81 s -> 1.62,
  1.87 s; token_packing_bpe: 2.28, 2.56 s -> 2.14, 2.59 s (the
  tokenizer runs once, not once per prefix-sum branch);
- ``sampling._DSIR_CACHE``, dsir_weights: 1.12, 0.90 s -> 1.38, 1.29 s;
  dsir_resample: 1.15, 1.27 s -> 1.40, 1.49 s.

Only dsir's win is outside the noise band. The other operators that
read an intermediate twice do it through one reused exchange instead
(bm25_scores, winnow_shared_pairs, prefix_jaccard_join, semdedup, the
co-occurrence pairs, the dedup capstones): a persist makes a build
impure, so the plan memo cannot store it.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Every slot list ever handed to persist_slot (round 14, r13 ADVICE):
# a slot used to stay pinned until the SAME query ran again. The
# registry now calls release_all_slots() at the START of every fresh
# query build — the next query frees every predecessor's cache, each
# query still fills (and pays for) its own slots inside its timed
# region, and re-executing an already-built plan (bench marginal reps)
# never triggers a release.
_ALL_SLOTS: list[list[DataFrame]] = []


def release_all_slots() -> None:
    """Release every registered slot (see _ALL_SLOTS rationale)."""
    for cache in _ALL_SLOTS:
        release_slot(cache)


def release_slot(cache: list[DataFrame]) -> None:
    """Unpersist and drop everything in ``cache`` (normally 0/1 entry)."""
    while cache:
        df = cache.pop()
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 - dead-session cache is gone
            pass


def persist_slot(cache: list[DataFrame], df: DataFrame,
                 level: StorageLevel = StorageLevel.MEMORY_ONLY
                 ) -> DataFrame:
    """Release the previous occupant, persist ``df``, record it."""
    # identity, not ==: distinct empty slot lists compare value-equal
    if not any(c is cache for c in _ALL_SLOTS):
        _ALL_SLOTS.append(cache)
    release_slot(cache)
    df = df.persist(level)
    cache.append(df)
    return df
