"""The generators are pure functions of their seed.

    python3 -m pytest cawdbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os

import gen


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _snapshots(seed: int, out: str):
    return gen.make_snapshots(seed, out, n_gens=3, base_rows=6000, growth_rows=600)


def _corpus(seed: int, out: str):
    return gen.make_corpus(seed, out, n_docs=400)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ga, gb = _snapshots(7, a), _snapshots(7, b)
    ca, cb = _corpus(7, a + "/corpus"), _corpus(7, b + "/corpus")
    assert _tree_digest(a) == _tree_digest(b)
    assert [(g.modified_column, g.new_file, g.shared_stripes) for g in ga] == [
        (g.modified_column, g.new_file, g.shared_stripes) for g in gb
    ]
    assert ca.planted_pairs == cb.planted_pairs and ca.exact_dup_docs == cb.exact_dup_docs


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _snapshots(7, a)
    _snapshots(8, b)
    ca, cb = _corpus(7, a + "/corpus"), _corpus(8, b + "/corpus")
    assert not set(_tree_digest(a).values()) & set(_tree_digest(b).values())
    assert ca.planted_pairs != cb.planted_pairs


def test_planted_truth_is_recorded(tmp_path):
    gens = _snapshots(3, str(tmp_path))
    assert gens[0].shared_stripes == 0
    # an append-layout generation repeats all but the last of its
    # predecessor's stripes
    assert all(0 < g.shared_stripes < g.stripes for g in gens[1:])
    assert [g.new_file for g in gens] == [None, None, "fresh_g002"]
    corpus = _corpus(3, str(tmp_path / "corpus"))
    assert corpus.planted_pairs and all(a < b for a, b in corpus.planted_pairs)
    assert corpus.exact_dup_docs > 0
