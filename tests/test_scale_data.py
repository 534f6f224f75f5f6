"""tools/make_scale_data.py text perturbation (no Spark): a replica k > 0
is never an exact duplicate of its base document."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from make_scale_data import _perturb_words  # noqa: E402


@pytest.mark.parametrize("text", ["", "solo", "two words", "same same", "a b a b", "the quick brown fox jumps"])
def test_every_replica_differs_from_base(text):
    assert _perturb_words(text, 0) == text
    for k in range(1, 13):
        assert _perturb_words(text, k) != text, (text, k)


def test_rotation_keeps_near_duplicate():
    text = "the quick brown fox jumps"
    assert sorted(_perturb_words(text, 1).split(" ")) == sorted(text.split(" "))
