"""Tests of the benchmark itself (no Spark): seeded inputs and reference
checks. Run from the checkout root: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
from workloads import Curate, Pairs, Route  # noqa: E402

SMALL = {"pages": 3000, "documents": 160, "vectors": 320}


def _digest(path: str) -> str:
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
    )
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _make(tmp, seed: int) -> dict[str, str]:
    out = {
        "pages": str(tmp / f"pages{seed}"),
        "permuted": str(tmp / f"perm{seed}.parquet"),
        "window": str(tmp / f"win{seed}.parquet"),
        "embeddings": str(tmp / f"emb{seed}.parquet"),
    }
    inputs.write_pages(out["pages"], inputs.page_window(seed, SMALL["pages"]))
    inputs.permuted_documents(out["permuted"], seed, SMALL["documents"])
    inputs.document_window(out["window"], seed, SMALL["documents"])
    inputs.sampled_embeddings(out["embeddings"], seed, SMALL["vectors"])
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = _make(tmp_path / "a", 7), _make(tmp_path / "b", 7)
    for k in a:
        assert _digest(a[k]) == _digest(b[k]), k


def test_two_seeds_give_equal_size_different_inputs(tmp_path):
    a, b = _make(tmp_path, 7), _make(tmp_path, 8)
    for k in a:
        ta, tb = pq.read_table(a[k]), pq.read_table(b[k])
        assert ta.num_rows == tb.num_rows and ta.schema == tb.schema, k
        assert not ta.equals(tb), k


def test_permuted_documents_keep_dense_ids(tmp_path):
    path = str(tmp_path / "d.parquet")
    inputs.permuted_documents(path, 3, SMALL["documents"])
    ids = pq.read_table(path).column("doc_id").to_pylist()
    assert sorted(ids) == list(range(SMALL["documents"]))


class _Result:
    """Stand-in for ``pipeline.PipelineResult`` built from a reference."""

    def __init__(self, ref):
        self.band_counts = list(ref["band_counts"])
        self.per_shard = {k: dict(v) for k, v in ref["per_shard"].items()}
        self.context_count = ref["context_count"]
        self.context_bytes = ref["context_bytes"]
        self.quarantined = ref["quarantined"]
        self.stages_skipped = []


def test_route_check_catches_a_corrupted_reference(tmp_path):
    wl = Route()
    wl.pages = SMALL["pages"]
    wl.prepare(str(tmp_path), 5)
    out = {"result": _Result(wl.ref)}
    assert wl.check(out) == []
    assert wl.ref["quarantined"] > 0 and sum(wl.ref["band_counts"]) > 0
    wl.ref["per_shard"][3]["byte_count"] += 1
    assert wl.check(out) == ["/per_shard/3/byte_count: expected "
                             f"{out['result'].per_shard[3]['byte_count'] + 1} "
                             f"got {out['result'].per_shard[3]['byte_count']}"]


@pytest.mark.parametrize("cls", [Curate, Pairs])
def test_table_check_catches_a_corrupted_reference(tmp_path, cls):
    wl = cls()
    wl.documents = SMALL["documents"]
    if cls is Pairs:
        wl.vectors = SMALL["vectors"]
    wl.prepare(str(tmp_path), 5)
    rows = {q: wl.ref[q] for q in wl._queries}
    assert all(r for _cols, r in rows.values()), "reference has empty results"
    assert wl.check({"rows": rows}) == []
    q = wl._queries[0]
    cols, good = wl.ref[q]
    bad = [tuple(v + 1 if isinstance(v, float) else v for v in good[0])] + good[1:]
    wl.ref[q] = (cols, bad)
    assert wl.check({"rows": rows})


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) is None
    t = run.tail([float(x) for x in range(20)])
    assert t == {"value": 9.0, "percentile": 50.0, "samples": 20}
