"""Workload definitions: datagen parameters, engine settings and loop shape.

Every workload is a single closed-loop client on ``local[nproc]`` against a
table of 16 buckets. Setup
applies ``warm_epochs`` epochs untimed, then one refresh, one lookup and
one scan. The minimum work of a run is fixed, so every run measures the same
operations on a given host; ``--seconds`` adds work only when the minimum
takes less time than that.

- ``timed_epochs`` = 0: run at least ``min_cycles`` whole compaction cycles
  and until ``--seconds`` have passed, stopping on a cycle boundary. After
  each epoch: one rollup refresh (if ``rollup``) and ``lookups_per_epoch``
  lookups.
- ``timed_epochs`` > 0: apply that many epochs, then at least
  ``min_rounds`` read rounds (``lookups_per_round`` lookups and one scan) on
  the unchanging state, and until ``--seconds`` have passed.
"""

from __future__ import annotations

import hashlib
import json

# lookup key mix: keys the log updates most, base keys, keys never written
KEY_MIX = {"hot": 0.4, "cold": 0.4, "absent": 0.2}

WORKLOADS: dict[str, dict] = {
    # The live tailer: small epochs of a mostly-unique-key log. After every
    # commit the rollup consumer refreshes and point readers look up keys
    # beside the writes. A bucket gets two delta files per epoch (upserts
    # and tombstones), so compact_files_per_bucket=6 folds every 3rd epoch
    # and readers see the stack deepen and fold. The third warm-up epoch
    # folds, so the timed loop starts at delta depth 0.
    "drip": {
        "n_docs": 20_000,
        "hot_frac": 0.01,
        "hot_mass": 0.05,
        "insert_frac": 0.2,
        "min_len": 8,
        "max_len": 64,
        "epoch_events": 2_000,
        "n_epochs": 64,
        "compact_files_per_bucket": 6,
        "warm_epochs": 3,
        "rollup": True,
        "timed_epochs": 0,
        "lookups_per_epoch": 2,
        "min_cycles": 2,
    },
    # Catch-up replay of a hot-key log in five large epochs with no
    # consumer, then read rounds on the resulting delta stack. The key
    # multiplicity (about 7 events per key in the engine's 2% probe) sends
    # mor_dedup="auto" to the maxby strategy; the stack never reaches the
    # compaction threshold.
    "bulk": {
        "n_docs": 20_000,
        "hot_frac": 0.01,
        "hot_mass": 0.95,
        "insert_frac": 0.05,
        "min_len": 4,
        "max_len": 32,
        "epoch_events": 150_000,
        "n_epochs": 6,
        "compact_files_per_bucket": 64,
        "warm_epochs": 1,
        "rollup": False,
        "timed_epochs": 5,
        "lookups_per_round": 3,
        "min_rounds": 5,
    },
}

# datagen fields that shape the generated inputs (the cache key)
DATAGEN_KEYS = (
    "n_docs", "hot_frac", "hot_mass", "insert_frac", "min_len", "max_len",
    "epoch_events", "n_epochs",
)


def datagen_params(name: str) -> dict:
    w = WORKLOADS[name]
    return {k: w[k] for k in DATAGEN_KEYS}


def datagen_digest(name: str) -> str:
    blob = json.dumps(datagen_params(name), sort_keys=True).encode()
    return hashlib.sha1(blob).hexdigest()[:10]
