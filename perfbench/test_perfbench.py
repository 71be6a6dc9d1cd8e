"""Tests of the benchmark's own code: input determinism, the output
checks, the Solr mock and span self times. No Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import mmap
import os
import subprocess
import sys
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, pss_kb, tree_pss_mb  # noqa: E402


@pytest.fixture
def small(monkeypatch):
    """Shrink every generator size so a test generates in milliseconds."""
    monkeypatch.setattr(gen, "INDEX_RECORDS", 400)
    monkeypatch.setattr(gen, "REINDEX_DOCS", 2000)
    monkeypatch.setattr(gen, "CURATE_BASE_DOCS", 1200)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_digest_other_seed_other_digest(small, tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a["digest"] == b["digest"]
    assert a == b
    assert c["digest"] != a["digest"]


def test_iso2709_records_parse_with_the_package_reader(small, tmp_path):
    """The generator's own encoder writes records the package decodes to
    the fields the generator planted."""
    sys.path.insert(0, os.path.dirname(HERE))
    from traject_spark.marc.serialize import from_iso2709, split_iso2709_stream

    m = gen.generate("index_iso2709_ndjson", 3, str(tmp_path / "in"))
    raw = b"".join(
        open(os.path.join(tmp_path, "in", "mrc", f), "rb").read()
        for f in sorted(os.listdir(tmp_path / "in" / "mrc"))
    )
    recs = [from_iso2709(r) for r in split_iso2709_stream(raw)]
    assert len(recs) == m["records"] == gen.INDEX_RECORDS
    by_id = {
        next(c["value"] for c in r["controlfields"] if c["tag"] == "001"): r
        for r in recs
    }
    table = pq.read_table(tmp_path / "in" / "parquet").to_pylist()
    assert len(table) == len(by_id)
    for row in table[:50]:
        assert by_id[row["record_id"]]["datafields"] == row["marc"]["datafields"]
    assert m["input_bytes"] == len(raw)


def _index_output(manifest: dict, path) -> list:
    """A correct NDJSON output for the index check: the spot-checked
    records with their expected fields, and filler for the rest."""
    spot = {e["id"]: e for e in manifest["spot_check"]}
    lines = []
    for i in range(manifest["records"]):
        rid = f"rec{i:07d}"
        e = spot.get(rid)
        rec = {"record_id": rid}
        if e:
            rec.update(title=e["title"], oclc=e["oclc"],
                       pub_date=e["pub_date"], language=e["language"])
        lines.append(json.dumps(rec))
    os.makedirs(path)
    (path / "part-00000.json").write_text("\n".join(lines) + "\n")
    return lines


def test_index_check_passes_correct_and_fails_corrupted(small, tmp_path):
    m = gen.generate("index_iso2709_ndjson", 1, str(tmp_path / "in"))
    out = tmp_path / "out"
    lines = _index_output(m, out)
    assert checks.check_index(str(out), m) == []
    # a lost record
    (out / "part-00000.json").write_text("\n".join(lines[1:]) + "\n")
    assert checks.check_index(str(out), m)
    # an untrimmed title on a spot-checked record
    victim = m["spot_check"][0]["id"]
    bad = [
        ln.replace('"title": [', '"title": ["x /", ') if victim in ln else ln
        for ln in lines
    ]
    (out / "part-00000.json").write_text("\n".join(bad) + "\n")
    assert any(victim in p for p in checks.check_index(str(out), m))


def test_reindex_check_passes_correct_and_fails_corrupted(small, tmp_path):
    m = gen.generate("reindex_parquet_solr", 1, str(tmp_path / "in"))
    good = {
        "accepted_docs": m["accepted_docs"],
        "accepted_digest": m["accepted_digest"],
        "rejected_single_posts": len(m["poison_ids"]),
    }
    assert checks.check_reindex(good, m) == []
    for key, value in [("accepted_docs", m["accepted_docs"] - 1),
                       ("accepted_digest", "0" * 16),
                       ("rejected_single_posts", 0)]:
        assert checks.check_reindex({**good, key: value}, m)


def _curated(path, ids, marked) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "near_dup_of": pa.array([1 if i in marked else None for i in ids],
                                          pa.int64())}),
        os.path.join(path, "part-00000.parquet"),
    )


def test_curate_check_passes_correct_and_fails_corrupted(small, tmp_path):
    m = gen.generate("curate_corpus", 1, str(tmp_path / "in"))
    docs = pq.read_table(tmp_path / "in" / "docs").column("doc_id").to_pylist()
    dropped = {i for ids in m["dropped"].values() for i in ids}
    kept = [i for i in docs if i not in dropped]
    marked = {max(a, b) for a, b in m["near_dup_pairs"]}
    out = tmp_path / "out"
    _curated(out, kept, marked)
    assert checks.check_curate(str(out), m) == []
    for role in ("exact_dups", "contaminated", "gated"):
        _curated(out, kept + m["dropped"][role][:1], marked)
        assert any(role in p for p in checks.check_curate(str(out), m))
    _curated(out, kept, set())
    assert any("recall" in p for p in checks.check_curate(str(out), m))


@pytest.mark.parametrize("seed", range(1, 5))
def test_planted_exact_dups_are_all_the_normalized_duplicates(small, tmp_path, seed):
    """Exact dedup drops every doc whose lower-cased, whitespace-collapsed
    text repeats: the manifest's exact_dups must be exactly those, so no
    near-dup copy may repeat its base or another copy."""
    m = gen.generate("curate_corpus", seed, str(tmp_path / "in"))
    rows = pq.read_table(tmp_path / "in" / "docs").to_pylist()
    skip = set(m["dropped"]["gated"]) | set(m["dropped"]["contaminated"])
    groups: dict = {}
    for r in rows:
        if r["doc_id"] not in skip:
            key = " ".join(r["text"].lower().split())
            groups.setdefault(key, []).append(r["doc_id"])
    dups = {i for g in groups.values() for i in g if i != min(g)}
    assert dups == set(m["dropped"]["exact_dups"])


def test_near_dup_recall_counts_larger_id_of_each_pair():
    pairs = [[1, 5], [9, 2], [3, 4]]
    assert checks.near_dup_recall({5, 9, 4}, pairs) == 1.0
    assert checks.near_dup_recall({1, 2}, pairs) == 0.0
    assert checks.near_dup_recall({5}, pairs) == pytest.approx(1 / 3)


def _post(url: str, body: bytes) -> int:
    req = urllib.request.Request(url, data=body, method="POST",
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def test_solr_mock_counts_posts_and_rejects_poison():
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "solr_mock.py")],
        stdout=subprocess.PIPE, text=True)
    try:
        port = int(proc.stdout.readline().split()[1])
        base = f"http://127.0.0.1:{port}"
        update = f"{base}/solr/core/update/json"
        docs = [{"id": [f"d{i}"], "title": ["ok"]} for i in range(3)]
        assert _post(update, json.dumps(docs).encode()) == 200
        assert _post(update, json.dumps(
            [{"id": ["p"], "title": ["a POISON b"]}, docs[0]]).encode()) == 400
        assert _post(update, json.dumps([{"id": ["d9"], "title": ["x"]}]).encode()) == 200
        with urllib.request.urlopen(f"{base}/admin/stats", timeout=10) as resp:
            st = json.loads(resp.read())
        assert st["batch_posts"] == 2 and st["single_posts"] == 1
        assert st["accepted_docs"] == 4 and st["rejected_posts"] == 1
        assert st["accepted_digest"] == gen.id_set_digest(["d0", "d1", "d2", "d9"])
        assert st["max_inflight"] == 1
        assert _post(f"{base}/admin/reset", b"") == 200
        with urllib.request.urlopen(f"{base}/admin/stats", timeout=10) as resp:
            assert json.loads(resp.read())["accepted_docs"] == 0
    finally:
        proc.terminate()
        proc.wait(timeout=10)
        proc.stdout.close()
    assert proc.returncode is not None


def test_self_time_subtracts_child_spans():
    t = Tracer()
    t.spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 1, "start": 1.5, "end": 2.0},
    ]
    st = t.self_times()
    assert st["root"] == pytest.approx(5.0)  # children cover 1..6
    assert st["a"] == pytest.approx(2.5)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(0.5)


def test_pss_leaves_out_heap_sized_mappings_and_excluded_processes():
    """A touched 64 MiB anonymous block stands in for the Java heap: it
    counts below the size cut-off and not at or above it."""
    block = mmap.mmap(-1, 64 << 20)
    try:
        block.write(b"x" * (64 << 20))
        with_block = pss_kb(os.getpid(), 1 << 40)
        without = pss_kb(os.getpid(), 64 << 10)
        assert with_block - without >= 60 << 10
    finally:
        block.close()
    child = subprocess.Popen([sys.executable, "-c", "input()"],
                             stdin=subprocess.PIPE)
    try:
        both = tree_pss_mb(os.getpid(), 1 << 40)
        alone = tree_pss_mb(os.getpid(), 1 << 40, exclude={child.pid})
        assert both - alone >= 1
    finally:
        child.communicate(b"\n", timeout=10)
