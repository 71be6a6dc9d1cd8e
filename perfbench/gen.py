"""Seeded input generator for the perfbench workloads.

Runs in its own process and never imports ``traject_spark``: the inputs
are built here from the seed alone (own ISO-2709 encoder, own pyarrow
nested-parquet writer), so a change to the package's synthesis or
serialization code cannot change what the benchmark reads.

    python3 perfbench/gen.py --workload index_iso2709_ndjson --seed 1 --out DIR

writes the input files plus ``manifest.json`` into DIR. The manifest holds
the expected values the output checks compare against and ``digest``, a
sha256 over every input file's name and bytes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

#: bump whenever the generated bytes change for a given seed
GEN_VERSION = 5

WORKLOADS = ("index_iso2709_ndjson", "reindex_parquet_solr", "curate_corpus")

# sizes per run, chosen so one closed-loop run takes a few seconds at
# local[4]: many runs fit in one measuring window
INDEX_RECORDS = 6_000
INDEX_FILES = 8
REINDEX_DOCS = 16_000
REINDEX_FILES = 4
SOLR_BATCH = 100
#: poison docs per parquet file (= per Solr writer partition), each in its
#: own batch: an even spread keeps the one-by-one recovery work the same
#: in every partition, whatever the seed
POISON_PER_FILE = 1
CURATE_BASE_DOCS = 8_000
CURATE_FILES = 4

# ---------------------------------------------------------------------------
# vocabulary
# ---------------------------------------------------------------------------

_ONSETS = ["b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t",
           "v", "br", "ch", "st", "tr", "pl", "gr", "th", "sh", "k", "w"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea", "io"]
_CODAS = ["", "n", "r", "s", "t", "l", "m", "nd", "st", "ck"]
#: accented / non-Latin words mixed into titles, authors and documents
NON_ASCII_WORDS = [
    "Müller", "école", "Straße", "año", "Ærø", "Łódź", "größe", "crème",
    "søren", "naïve", "Ελλάδα", "история", "Москва", "東京", "北京", "日本語",
    "文学", "한국", "عربي", "Çelik", "São", "Zürich", "Dvořák", "Ísland",
]
STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "that", "for",
             "with", "on", "as", "by", "was", "at", "from", "be", "have"]


def _vocabulary(n: int) -> list:
    """``n`` distinct pseudo-words, the same for every seed."""
    rng = random.Random("perfbench-vocabulary")
    words: set = set()
    out = []
    while len(out) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(rng.randint(1, 3))
        )
        if w not in words and w not in STOPWORDS:
            words.add(w)
            out.append(w)
    return out


VOCAB = _vocabulary(6000)

#: MARC language codes the records use, with the names the marc_languages
#: translation map gives them
LANG_NAMES = {
    "eng": "English", "ger": "German", "fre": "French", "spa": "Spanish",
    "rus": "Russian", "chi": "Chinese", "jpn": "Japanese", "ita": "Italian",
}
LANGS = list(LANG_NAMES)
#: leader byte 6 (type of record) cycled by the generator
RECORD_TYPES = ["a", "a", "a", "c", "e", "g", "j", "m"]

# ---------------------------------------------------------------------------
# ISO-2709
# ---------------------------------------------------------------------------

FT = b"\x1e"  # field terminator
RT = b"\x1d"  # record terminator
SD = b"\x1f"  # subfield delimiter


def encode_iso2709(leader_6_7: str, controlfields, datafields) -> bytes:
    """One UTF-8 ISO-2709 record (leader byte 9 = 'a').

    ``controlfields``: [(tag, value)]; ``datafields``:
    [(tag, ind1, ind2, [(code, value), ...])]."""
    directory = bytearray()
    data = bytearray()
    for tag, value in controlfields:
        body = value.encode("utf-8") + FT
        directory += f"{tag}{len(body):04d}{len(data):05d}".encode("ascii")
        data += body
    for tag, ind1, ind2, subfields in datafields:
        body = (ind1 + ind2).encode("ascii") + b"".join(
            SD + code.encode("ascii") + value.encode("utf-8")
            for code, value in subfields
        ) + FT
        directory += f"{tag}{len(body):04d}{len(data):05d}".encode("ascii")
        data += body
    directory += FT
    base = 24 + len(directory)
    total = base + len(data) + 1
    leader = f"{total:05d}c{leader_6_7} a22{base:05d} a 4500"
    return leader.encode("ascii") + bytes(directory) + bytes(data) + RT


# ---------------------------------------------------------------------------
# MARC records
# ---------------------------------------------------------------------------

def _words(rng: random.Random, k: int, non_ascii_share: float) -> list:
    return [
        rng.choice(NON_ASCII_WORDS) if rng.random() < non_ascii_share
        else rng.choice(VOCAB)
        for _ in range(k)
    ]


def _marc_record(rng: random.Random, rid: str, profile: dict,
                 poison: bool = False) -> tuple:
    """-> (leader_6_7, controlfields, datafields, expected) for one record.

    ``profile`` fixes the per-record property ranges: share of non-ASCII
    words, share of records with 880 fields, mean number of 650s and
    mean note length."""
    na = profile["non_ascii_share"]
    year = rng.randint(1900, 2020)
    lang = rng.choice(LANGS)
    leader_6_7 = rng.choice(RECORD_TYPES) + "m"
    f008 = f"880520s{year}    xxu" + " " * 17 + lang + " d"
    title_a = " ".join(_words(rng, rng.randint(2, 8), na)).capitalize()
    title_b = " ".join(_words(rng, rng.randint(1, 5), na))
    if poison:
        title_b += f" POISON{rid}"
    surname = _words(rng, 1, na)[0].capitalize()
    given = rng.choice(VOCAB).capitalize()
    author = f"{surname}, {given}"
    oclc = str(rng.randint(1, 99_999_999))
    lcc = f"{rng.choice('ABDEGHJKLMNPQRSTZ')}{rng.randint(1, 999)} .{rng.choice('ABCDEFGH')}{rng.randint(1, 99)}"
    datafields = [
        ("035", " ", " ", [("a", f"(OCoLC){oclc}")]),
    ]
    langs_out = [lang]
    if rng.random() < 0.2:
        extra = rng.choice([c for c in LANGS if c != lang])
        packed = lang + extra if rng.random() < 0.5 else extra
        datafields.append(("041", "0", " ", [("a", packed)]))
        langs_out.append(extra)
    datafields += [
        ("050", "0", "0", [("a", lcc)]),
        ("100", "1", " ", [("a", author + ",")]),
        ("245", "1", "0", [("a", title_a + " :"), ("b", title_b + " /"),
                           ("c", f"by {given} {surname}.")]),
        ("260", " ", " ", [("a", "New York :"),
                           ("b", rng.choice(VOCAB).capitalize() + " Press,"),
                           ("c", f"{year}.")]),
        ("300", " ", " ", [("a", f"{rng.randint(40, 900)} p. ;"),
                           ("c", "24 cm.")]),
    ]
    note_words = max(3, int(rng.expovariate(1.0 / profile["note_words"])))
    datafields.append(("500", " ", " ", [("a", " ".join(_words(rng, note_words, na)) + ".")]))
    if rng.random() < 0.5:
        summary = max(5, int(rng.expovariate(1.0 / (2 * profile["note_words"]))))
        datafields.append(("520", " ", " ", [("a", " ".join(_words(rng, summary, na)) + ".")]))
    n650 = min(12, int(rng.expovariate(1.0 / profile["mean_650"])))
    for _ in range(n650):
        subs = [("a", " ".join(_words(rng, rng.randint(1, 3), na)).capitalize())]
        if rng.random() < 0.4:
            subs.append(("x", "History"))
        if rng.random() < 0.3:
            subs.append(("z", rng.choice(["France", "China", "Brazil", "Kenya", "Peru"]) + "."))
        datafields.append(("650", " ", "0", subs))
    titles = [f"{title_a} : {title_b}"]
    if rng.random() < profile["alt_script_share"]:
        for linked in rng.sample(["245", "100", "260"], rng.randint(1, 3)):
            alt = " ".join(rng.sample(NON_ASCII_WORDS[11:], 3))
            datafields.append((
                "880", "1", "0", [("6", f"{linked}-01"), ("a", alt)],
            ))
            if linked == "245":
                # 245ab extraction includes the linked alternate script
                titles.append(alt)
    expected = {
        "id": rid,
        "title": titles,
        "oclc": [oclc],
        "pub_date": [str(year)],
        "language": sorted({LANG_NAMES[c] for c in langs_out}),
    }
    return leader_6_7, [("001", rid), ("008", f008)], datafields, expected


def _marc_row(rid: str, leader_6_7: str, controlfields, datafields) -> dict:
    """The nested-parquet row (record_id, marc struct) for one record, in
    the reader's leader form (length and base address as encoded)."""
    raw = encode_iso2709(leader_6_7, controlfields, datafields)
    return {
        "record_id": rid,
        "marc": {
            "leader": raw[:24].decode("ascii"),
            "controlfields": [{"tag": t, "value": v} for t, v in controlfields],
            "datafields": [
                {"tag": t, "ind1": i1, "ind2": i2,
                 "subfields": [{"code": c, "value": v} for c, v in sfs]}
                for t, i1, i2, sfs in datafields
            ],
        },
    }, raw


_SUBFIELD = pa.struct([("code", pa.string()), ("value", pa.string())])
MARC_ARROW_SCHEMA = pa.schema([
    ("record_id", pa.string()),
    ("marc", pa.struct([
        ("leader", pa.string()),
        ("controlfields", pa.list_(pa.struct([("tag", pa.string()), ("value", pa.string())]))),
        ("datafields", pa.list_(pa.struct([
            ("tag", pa.string()), ("ind1", pa.string()), ("ind2", pa.string()),
            ("subfields", pa.list_(_SUBFIELD)),
        ]))),
    ])),
])


def _write_parquet(rows: list, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path,
                   compression="snappy")


def _split(items: list, parts: int) -> list:
    size = math.ceil(len(items) / parts)
    return [items[i * size:(i + 1) * size] for i in range(parts)]


def gen_index(rng: random.Random, out: str) -> dict:
    """ISO-2709 files (the input) plus a nested-parquet twin of the same
    records (the pre-decoded input the traced per-layer calls use)."""
    profile = {
        "non_ascii_share": 0.08,
        "alt_script_share": 0.25,
        "mean_650": 3.0,
        "note_words": 25,
    }
    rows, raws, expected = [], [], []
    for i in range(INDEX_RECORDS):
        rid = f"rec{i:07d}"
        l67, cfs, dfs, exp = _marc_record(rng, rid, profile)
        row, raw = _marc_row(rid, l67, cfs, dfs)
        rows.append(row)
        raws.append(raw)
        expected.append(exp)
    os.makedirs(os.path.join(out, "mrc"))
    os.makedirs(os.path.join(out, "parquet"))
    for k, part in enumerate(_split(raws, INDEX_FILES)):
        with open(os.path.join(out, "mrc", f"part-{k:02d}.mrc"), "wb") as fh:
            fh.write(b"".join(part))
    for k, part in enumerate(_split(rows, INDEX_FILES)):
        _write_parquet(part, MARC_ARROW_SCHEMA,
                       os.path.join(out, "parquet", f"part-{k:02d}.parquet"))
    spot = rng.sample(expected, 200)
    return {
        "records": INDEX_RECORDS,
        "input_bytes": sum(len(r) for r in raws),
        "profile": profile,
        "spot_check": spot,
    }


def gen_reindex(rng: random.Random, out: str) -> dict:
    """Nested parquet (the convert-once layout) with planted poison docs,
    each in its own Solr batch of ``SOLR_BATCH`` docs."""
    profile = {
        "non_ascii_share": 0.15,
        "alt_script_share": 0.4,
        "mean_650": 1.5,
        "note_words": 10,
    }
    per_file = REINDEX_DOCS // REINDEX_FILES
    batches = per_file // SOLR_BATCH
    poison_idx = {
        f * per_file + b * SOLR_BATCH + rng.randrange(SOLR_BATCH)
        for f in range(REINDEX_FILES)
        for b in rng.sample(range(batches), POISON_PER_FILE)
    }
    rows, poison_ids = [], []
    for i in range(REINDEX_DOCS):
        rid = f"doc{i:07d}"
        bad = i in poison_idx
        l67, cfs, dfs, _ = _marc_record(rng, rid, profile, poison=bad)
        rows.append(_marc_row(rid, l67, cfs, dfs)[0])
        if bad:
            poison_ids.append(rid)
    os.makedirs(os.path.join(out, "parquet"))
    for k, part in enumerate(_split(rows, REINDEX_FILES)):
        _write_parquet(part, MARC_ARROW_SCHEMA,
                       os.path.join(out, "parquet", f"part-{k:02d}.parquet"))
    good = sorted(set(r["record_id"] for r in rows) - set(poison_ids))
    return {
        "records": REINDEX_DOCS,
        "profile": profile,
        "batch_size": SOLR_BATCH,
        "poison_ids": poison_ids,
        "accepted_docs": len(good),
        "accepted_digest": id_set_digest(good),
    }


def id_set_digest(ids) -> str:
    """Order-independent digest of a set of ids (sum of per-id hashes
    modulo 2**64), the same function the Solr mock applies to the ids it
    accepts."""
    acc = 0
    for i in ids:
        acc = (acc + int.from_bytes(
            hashlib.blake2b(i.encode("utf-8"), digest_size=8).digest(), "big"
        )) % (1 << 64)
    return f"{acc:016x}"


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

#: token-length distribution: lognormal with mean ~54 tokens, the mean of
#: the repository's documents.parquet fixture
_LEN_MU, _LEN_SIGMA = math.log(46.0), 0.55
CONTAMINATION_N = 13
MIN_TOKENS = 5
NEAR_DUP_RECALL_FLOOR = 0.9


def _doc_tokens(rng: random.Random, n: int) -> list:
    return [
        rng.choice(STOPWORDS) if rng.random() < 0.3
        else rng.choice(NON_ASCII_WORDS) if rng.random() < 0.02
        else VOCAB[min(len(VOCAB) - 1, int(rng.paretovariate(1.1)) - 1)
                   if rng.random() < 0.3 else rng.randrange(len(VOCAB))]
        for _ in range(n)
    ]


def gen_curate(rng: random.Random, out: str) -> dict:
    """Documents with planted exact duplicates, near-duplicate clusters
    (token edits, cluster size 2-6 so LSH buckets vary in size), eval-set
    contamination and too-short / NULL documents."""
    base = []
    for _ in range(CURATE_BASE_DOCS):
        n = max(MIN_TOKENS + 1, int(rng.lognormvariate(_LEN_MU, _LEN_SIGMA)))
        base.append(_doc_tokens(rng, n))
    eval_set = [" ".join(_doc_tokens(rng, rng.randint(20, 40))) for _ in range(60)]

    # roles are assigned over disjoint base docs
    order = list(range(len(base)))
    rng.shuffle(order)
    n_contam = len(base) // 100
    n_exact_src = len(base) // 20
    contam_src = order[:n_contam]
    exact_src = order[n_contam:n_contam + n_exact_src]
    near_pool = [i for i in order[n_contam + n_exact_src:] if len(base[i]) >= 30]

    docs = []  # (text, role, group) ; ids assigned after shuffling
    for i, toks in enumerate(base):
        docs.append((" ".join(toks), "base", i))
    for i in contam_src:
        ev = rng.choice(eval_set).split()
        start = rng.randrange(0, len(ev) - CONTAMINATION_N + 1)
        span = ev[start:start + CONTAMINATION_N + rng.randrange(4)]
        toks = list(base[i])
        at = rng.randrange(len(toks) + 1)
        docs[i] = (" ".join(toks[:at] + span + toks[at:]), "contaminated", i)
    for i in exact_src:
        for _ in range(rng.choice([1, 1, 1, 2, 3])):
            text = " ".join(base[i])
            # normalization-equal variants: case and whitespace only
            # upper-casing round-trips through lower() for ASCII only
            if text.isascii() and rng.random() < 0.5:
                text = text.upper()
            if rng.random() < 0.5:
                text = "  " + text.replace(" ", "  ", 3) + "\n"
            docs.append((text, "exact_copy", i))
    near_pairs_src = []
    n_near_src = len(base) // 25
    for i in near_pool[:n_near_src]:
        size = rng.choice([1, 1, 1, 1, 2, 2, 3, 5])
        copies: list = []
        while len(copies) < size:
            # each edit replaces a token with another word at a position
            # no other edit touches, so a copy always differs from its
            # base; a copy equal to an earlier one is drawn again. Either
            # would be an exact duplicate, which exact dedup drops.
            toks = list(base[i])
            for at in rng.sample(range(len(toks)), max(1, len(toks) // 45)):
                word = toks[at]
                while word == toks[at]:
                    word = rng.choice(VOCAB)
                toks[at] = word
            if toks not in copies:
                copies.append(toks)
        for toks in copies:
            docs.append((" ".join(toks), "near_copy", i))
            near_pairs_src.append(i)
    for _ in range(len(base) // 200):
        docs.append((" ".join(_doc_tokens(rng, rng.randint(0, MIN_TOKENS - 1))), "short", -1))
    for _ in range(len(base) // 400):
        docs.append((None, "null", -1))

    ids = rng.sample(range(1, 50 * len(docs)), len(docs))
    rng.shuffle(docs)
    rows = [{"doc_id": ids[k], "text": d[0]} for k, d in enumerate(docs)]

    gated = {ids[k] for k, d in enumerate(docs) if d[1] in ("short", "null")}
    contaminated = {ids[k] for k, d in enumerate(docs) if d[1] == "contaminated"}
    # exact-dup groups: the base doc and its copies; the min id survives
    groups: dict = {}
    exact_set = set(exact_src)
    for k, d in enumerate(docs):
        if d[2] in exact_set and d[1] in ("base", "exact_copy"):
            groups.setdefault(d[2], []).append(ids[k])
    exact_dups = {i for g in groups.values() for i in g if i != min(g)}
    near_pairs = []
    by_src: dict = {}
    near_src = set(near_pairs_src)
    for k, d in enumerate(docs):
        if d[1] == "base" and d[2] in near_src:
            by_src.setdefault(d[2], {"base": None, "copies": []})["base"] = ids[k]
        elif d[1] == "near_copy":
            by_src.setdefault(d[2], {"base": None, "copies": []})["copies"].append(ids[k])
    for v in by_src.values():
        near_pairs += [[v["base"], c] for c in v["copies"]]
    kept = sorted({r["doc_id"] for r in rows} - gated - contaminated - exact_dups)

    os.makedirs(os.path.join(out, "docs"))
    os.makedirs(os.path.join(out, "eval"))
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    for k, part in enumerate(_split(rows, CURATE_FILES)):
        _write_parquet(part, schema, os.path.join(out, "docs", f"part-{k:02d}.parquet"))
    _write_parquet([{"text": t} for t in eval_set], pa.schema([("text", pa.string())]),
                   os.path.join(out, "eval", "part-00.parquet"))
    return {
        "records": len(rows),
        "min_tokens": MIN_TOKENS,
        "contamination_n": CONTAMINATION_N,
        "gated_out": len(gated),
        "contaminated_out": len(contaminated),
        "exact_dups": len(exact_dups),
        "dropped": {"gated": sorted(gated), "contaminated": sorted(contaminated),
                    "exact_dups": sorted(exact_dups)},
        "kept": len(kept),
        "kept_digest": id_set_digest(str(i) for i in kept),
        "near_dup_pairs": near_pairs,
        "near_dup_recall_floor": NEAR_DUP_RECALL_FLOOR,
    }


GENERATORS = {
    "index_iso2709_ndjson": gen_index,
    "reindex_parquet_solr": gen_reindex,
    "curate_corpus": gen_curate,
}


def input_digest(root: str) -> str:
    """sha256 over (relative path, bytes) of every input file under root,
    in sorted order; the manifest itself is excluded."""
    h = hashlib.sha256()
    paths = []
    for d, _, files in os.walk(root):
        for f in files:
            rel = os.path.relpath(os.path.join(d, f), root)
            if rel != "manifest.json":
                paths.append(rel)
    for rel in sorted(paths):
        h.update(rel.encode("utf-8") + b"\0")
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs of ``workload`` for ``seed`` into the new directory
    ``out`` and return the manifest (also written as out/manifest.json)."""
    os.makedirs(out)
    rng = random.Random(f"{workload}:{seed}:v{GEN_VERSION}")
    manifest = GENERATORS[workload](rng, out)
    manifest.update(workload=workload, seed=seed, gen_version=GEN_VERSION,
                    digest=input_digest(out))
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    return manifest


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    m = generate(args.workload, args.seed, args.out)
    print(json.dumps({"digest": m["digest"], "records": m["records"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
