#!/usr/bin/env python
"""Regenerate baselinr_spark/functions/models.npz, the trained count
tables the scoring models load (`langid.build_model`,
`perplexity.build_model`), by training both on the seeded synthetic
corpus. Run it after changing the corpus, the tokenizers or the hashing;
tests/test_models_shipped.py fails until the file matches training.

Usage: python tools/train_models.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np

from baselinr_spark.functions import langid, perplexity

OUT = os.path.join(ROOT, "baselinr_spark", "functions", "models.npz")


def main() -> int:
    lid = langid.train_counts()
    lid32 = lid.astype(np.int32)
    counts, total = perplexity.train_counts()
    keys = np.array(sorted(counts), dtype=np.uint32)
    vals = np.array([counts[k] for k in keys.tolist()], dtype=np.int64)
    if not (lid32 == lid).all() or vals.max() >= 2**31:
        raise SystemExit("a trained count does not fit int32")
    np.savez_compressed(OUT, langid_counts=lid32, ppl_keys=keys,
                        ppl_counts=vals.astype(np.int32),
                        ppl_total=np.int64(total))
    print(f"wrote {OUT} ({os.path.getsize(OUT)} B): langid {lid32.shape}, "
          f"perplexity {len(keys)} n-grams over {total} tokens")
    return 0


if __name__ == "__main__":
    sys.exit(main())
