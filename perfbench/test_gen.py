"""The seeded input generator: same seed, same bytes.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import collections
import filecmp
import os

import gen


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


def test_same_seed_writes_identical_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_lake(7, str(a), with_embeddings=True)
    gen.write_lake(7, str(b), with_embeddings=True)
    names = _files(a)
    assert names == _files(b)
    assert len([n for n in names if n.startswith("documents")]) == gen.N_FILES
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_other_seed_other_lake():
    assert gen.lake_table(1, 200).equals(gen.lake_table(1, 200))
    assert not gen.lake_table(1, 200).equals(gen.lake_table(2, 200))


def test_lake_carries_injected_duplicates():
    n = 1000
    t = gen.lake_table(3, n).to_pydict()
    assert len(t["doc_id"]) == n + int(n * gen.DUP_FRAC) + int(n * gen.NEAR_FRAC)
    assert len(set(t["doc_id"])) == len(t["doc_id"])  # fresh ids
    assert t["doc_id"] != sorted(t["doc_id"])  # seeded row order
    by_text = collections.Counter(t["text"])
    assert sum(c - 1 for c in by_text.values()) >= int(n * gen.DUP_FRAC)
    assert all(len(x) == m for x, m in zip(t["text"], t["n_chars"]))
    assert set(w for x in t["text"] for w in x.split()) <= set(gen.VOCAB)


def test_schedule_is_seeded_and_reads_follow_writes():
    ids = list(range(100))
    a = gen.schedule(5, 60.0, 2.0, ids)
    assert a == gen.schedule(5, 60.0, 2.0, ids)
    assert a != gen.schedule(6, 60.0, 2.0, ids)
    assert all(x.due < y.due for x, y in zip(a, a[1:]))
    kinds = collections.Counter(r.kind for r in a)
    assert kinds["search"] > kinds["upload"] > 0
    ryw = [r for r in a if r.upload_ref is not None]
    assert ryw, "some reads must target earlier uploads"
    for r in ryw:
        up = a[r.upload_ref]
        assert up.kind == "upload" and r.doc_id == up.doc_id
        assert up.due <= r.due - gen.RYW_GAP_S
        assert up.doc_id == gen.upload_doc_id(up.filename, up.payload)
