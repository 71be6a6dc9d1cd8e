"""Output checks, one per workload. Pure Python over the output files
(plus the Solr mock's counters); each returns a list of problems, empty
when the output is correct."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

from gen import id_set_digest


def _part_files(out_dir: str, suffix: str = "") -> list:
    return sorted(
        p for p in glob.glob(os.path.join(out_dir, "part-*"))
        if p.endswith(suffix)
    )


def check_index(out_dir: str, manifest: dict) -> list:
    """NDJSON directory: one line per input record; the spot-checked
    records carry the id, trimmed 245ab title(s), OCLC number, pub_date
    and language names the generator planted."""
    want = {e["id"]: e for e in manifest["spot_check"]}
    lines, got = 0, {}
    for path in _part_files(out_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                lines += 1
                rec = json.loads(line)
                if rec.get("record_id") in want:
                    got[rec["record_id"]] = rec
    problems = []
    if lines != manifest["records"]:
        problems.append(f"{lines} records out, {manifest['records']} in")
    for rid, e in want.items():
        rec = got.get(rid)
        if rec is None:
            problems.append(f"{rid}: missing")
            continue
        seen = {
            "title": rec.get("title"),
            "oclc": rec.get("oclc"),
            "pub_date": rec.get("pub_date"),
            "language": sorted(rec.get("language") or []),
        }
        for k, v in seen.items():
            if v != e[k]:
                problems.append(f"{rid}: {k} {v!r} != {e[k]!r}")
    return problems[:20]


def check_reindex(stats: dict, manifest: dict) -> list:
    """Solr mock counters: the accepted docs are exactly the generated
    docs minus the poison docs, and each poison doc was skipped once
    (rejected as a single-doc POST). How the writer batches and recovers
    is not checked: the POST counts are per-layer metrics."""
    expect = {
        "accepted_docs": manifest["accepted_docs"],
        "accepted_digest": manifest["accepted_digest"],
        "rejected_single_posts": len(manifest["poison_ids"]),
    }
    return [
        f"{k}: {stats.get(k)!r} != {v!r}"
        for k, v in expect.items()
        if stats.get(k) != v
    ]


def near_dup_recall(marked: set, pairs: list) -> float:
    """Share of planted (base, copy) pairs whose larger id got marked:
    the witness marks every member of a cluster but its minimum id."""
    if not pairs:
        return 1.0
    return sum(max(a, b) in marked for a, b in pairs) / len(pairs)


def read_curated(out_dir: str) -> tuple:
    """-> (ids, ids marked as near duplicates) of a curated parquet dir."""
    ids, marked = [], set()
    for path in _part_files(out_dir, ".parquet"):
        t = pq.read_table(path, columns=["doc_id", "near_dup_of"])
        d = t.column("doc_id").to_pylist()
        n = t.column("near_dup_of").to_pylist()
        ids += d
        marked.update(i for i, w in zip(d, n) if w is not None)
    return ids, marked


def check_curate(out_dir: str, manifest: dict) -> list:
    """Curated parquet: the kept ids are exactly the generated ids minus
    the planted too-short/NULL, contaminated and exact-duplicate docs
    (so both drop counts equal the planted counts), and near-dup recall
    meets the stated floor."""
    ids, marked = read_curated(out_dir)
    problems = []
    if len(ids) != manifest["kept"]:
        problems.append(f"{len(ids)} kept, expected {manifest['kept']}")
    if id_set_digest(str(i) for i in ids) != manifest["kept_digest"]:
        problems.append("kept ids differ from the expected set")
    out = set(ids)
    for role, dropped in manifest["dropped"].items():
        leaked = out.intersection(dropped)
        if leaked:
            problems.append(f"{len(leaked)} {role} docs kept")
    recall = near_dup_recall(marked, manifest["near_dup_pairs"])
    if recall < manifest["near_dup_recall_floor"]:
        problems.append(
            f"near-dup recall {recall:.3f} < {manifest['near_dup_recall_floor']}"
        )
    return problems
