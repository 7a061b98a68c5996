"""The seeded inputs: the same seed gives byte-identical files, another
seed gives different ones.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import tables  # noqa: E402

SHAPE = corpus.Shape(fields=5, width=80, height=76, spectra=5, spec_samples=50)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_corpus_same_seed_is_byte_identical(tmp_path):
    a = corpus.make_corpus(str(tmp_path / "a"), 7, SHAPE)
    b = corpus.make_corpus(str(tmp_path / "b"), 7, SHAPE)
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert len(fa) == SHAPE.frames + SHAPE.spectra + 2
    assert fa == fb
    assert a["fits_bytes"] == b["fits_bytes"] > 0


def test_corpus_other_seed_differs(tmp_path):
    corpus.make_corpus(str(tmp_path / "a"), 7, SHAPE)
    corpus.make_corpus(str(tmp_path / "b"), 8, SHAPE)
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert fa.keys() == fb.keys()
    assert all(fa[k] != fb[k] for k in fa)


def test_corpus_has_multi_epoch_targets_and_whole_cutouts():
    pos = corpus.spectrum_positions(7, SHAPE)
    assert len(set(pos)) < len(pos)  # some targets have several epochs
    margin_deg = (min(SHAPE.width, SHAPE.height) / 2 - corpus.CUTOUT / 2) * corpus.PIX_SCALE_DEG
    for field, ra, dec in pos:
        ra0, dec0 = corpus.field_center(field, SHAPE)
        assert abs(ra - ra0) < margin_deg and abs(dec - dec0) < margin_deg


def test_tables_same_seed_is_byte_identical(tmp_path):
    tables.make_tables(str(tmp_path / "a"), 3)
    tables.make_tables(str(tmp_path / "b"), 3)
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert sorted(fa) == sorted(f"{t}.parquet" for t in tables.TABLES)
    assert fa == fb


def test_tables_other_seed_differs(tmp_path):
    tables.make_tables(str(tmp_path / "a"), 3)
    tables.make_tables(str(tmp_path / "b"), 4)
    fa, fb = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    fixed = {"region.parquet", "nation.parquet"}  # domain tables
    assert all(fa[k] != fb[k] for k in fa if k not in fixed)
