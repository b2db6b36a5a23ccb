"""Determinism and sanity checks of the benchmark's inputs and mirrors.

Run: python3 -m pytest udpbench/test_inputs.py -q   (no Spark needed)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from udpbench import expected as X  # noqa: E402
from udpbench import inputs as I  # noqa: E402


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_fixture_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    I.write_fixture_tables(7, a)
    I.write_fixture_tables(7, b)
    I.write_fixture_tables(8, c)
    fa = _files(a)
    assert fa == _files(b)
    assert sorted(fa) == sorted(
        f"{t}.parquet"
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events")
    )
    assert fa["lineitem.parquet"] != _files(c)["lineitem.parquet"]


def _corpus_bytes(seed):
    base = I.base_corpus(seed, 120)
    first = I.delivered_batch(seed, base, 20)
    ops = [I.ingest_op(seed, r, base, first, 20) for r in range(12)]
    parts = [d.text for d in base + first.docs]
    for op in ops:
        parts.append(repr((op.batch_id, op.replay, sorted(op.relands.items()))))
        parts.extend(d.file_ref + d.text for d in op.docs)
    parts.append(repr(I.history_filters(seed, 16)))
    return "\n".join(parts).encode()


def test_pipeline_inputs_are_identical_per_seed():
    assert _corpus_bytes(3) == _corpus_bytes(3)
    assert _corpus_bytes(3) != _corpus_bytes(4)


def test_batches_carry_every_class_and_planted_relands():
    base = I.base_corpus(5, 300)
    first = I.delivered_batch(5, base, 20)
    ops = [I.ingest_op(5, r, base, first, 20) for r in range(40)]
    assert any(op.replay for op in ops) and not all(op.replay for op in ops)
    for op in [first] + ops:
        assert {X.classify(d.text) for d in op.docs[:3]} == set(I.CLASSES)
    assert sum(len(op.relands) for op in ops if not op.replay) > 0


def test_classes_follow_the_planted_keyword():
    for d in I.base_corpus(9, 200):
        assert X.classify(d.text) == d.cls


def test_dedup_mirror_flags_verbatim_relands():
    base = I.base_corpus(11, 300)
    first = I.delivered_batch(11, base, 20)
    m = X.DedupMirror()
    m.verdicts(0, base)
    flags = m.verdicts(1, first.docs)
    for doc_id, (_, edits) in first.relands.items():
        if edits == 0:
            assert flags[doc_id]
    replay = m.copy().verdicts(1, first.docs)
    assert replay == flags


def test_digest_is_order_insensitive():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert X.digest(["x", "y", "z"], rows) == X.digest(["x", "y", "z"], rows[::-1])
    assert X.digest(["x", "y", "z"], rows) != X.digest(["x", "y", "z"], rows[:1])
