"""The shipped model counts (baselinr_spark/functions/models.npz) are
exactly what training on the seeded corpus produces, so loading them
scores every document as the trained models would."""

import numpy as np

from baselinr_spark.functions import langid, perplexity

REGEN = ("the shipped models.npz differs from fresh training; regenerate "
         "it with: python tools/train_models.py")


def test_langid_weights_equal_training():
    c = langid.train_counts()
    trained = np.log(c / c.sum(axis=1, keepdims=True))
    assert langid.build_model().tobytes() == trained.tobytes(), REGEN


def test_perplexity_table_equals_training():
    counts, total = perplexity.build_model()
    want_counts, want_total = perplexity.train_counts()
    assert total == want_total, REGEN
    assert counts == want_counts, REGEN
