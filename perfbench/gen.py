"""Seeded input generator for the benchmark.

Everything the engine reads in a run comes from here, derived from one
seed: the document corpus with planted duplicates and contamination, the
amendment and retraction micro-batches, and the riff frames of the
bridge. One process, numpy and pyarrow only; the same seed gives
byte-identical files.
"""
import json
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
STUB = "amended takedown stub"
TAIL = " zq amendment tail"
BENCH_DOCS = 5  # ids below this are the decontamination benchmark docs


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def corpus(seed, n_docs):
    """Document corpus with planted structure: ~6 % exact copies and ~6 %
    near copies of earlier docs, and ~3 % docs that carry a 5-gram of a
    benchmark doc (ids < 5). Returns the columns.

    A near copy is its source plus one appended token, as in the engine's
    own fixture: 3-shingle Jaccard >= 0.9 for the docs the quality gate
    keeps (>= 20 tokens), copies of copies included. The engine's incremental path finds near
    duplicates with an estimated (MinHash) tier that equals the exact
    chain only for pairs far from its 0.6 threshold; interior edits put
    pairs near 0.6, where the two legitimately disagree."""
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, n_docs, 15, 110)
    kind = rng.random(n_docs)
    for i in range(BENCH_DOCS + 1, n_docs):
        src = int(rng.integers(BENCH_DOCS, i))
        if kind[i] < 0.06:
            texts[i] = texts[src]
        elif kind[i] < 0.12:
            texts[i] = texts[src] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
        elif kind[i] < 0.15:
            bench = texts[int(rng.integers(0, BENCH_DOCS))].split(" ")
            at = int(rng.integers(0, len(bench) - 5))
            toks = texts[i].split(" ")
            cut = int(rng.integers(0, len(toks)))
            texts[i] = " ".join(toks[:cut] + bench[at:at + 5] + toks[cut:])
    return {"doc_id": np.arange(n_docs), "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)]}


def write_corpus(path, docs):
    _write(path, {
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": docs["text"], "lang": docs["lang"], "source": docs["source"],
        "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64())})


def crud_batches(seed, docs, k, per_batch):
    """K amendment micro-batches and K retraction micro-batches of
    `per_batch` distinct ids each (never a benchmark doc), plus each
    amended id's new content in the four classes of the engine's
    registered amendment: a sub-quality stub, an exact copy of a donor
    doc, a near copy (donor text plus a short tail), and fresh text.
    Donors are never themselves amended."""
    rng = np.random.default_rng([seed, 3])
    n = len(docs["text"])
    ids = rng.permutation(np.arange(BENCH_DOCS, n))
    amend = ids[:k * per_batch]
    retract = ids[k * per_batch:2 * k * per_batch]
    amended = set(amend.tolist())
    donors = [d for d in ids[2 * k * per_batch:].tolist() if d not in amended]
    rows = []
    for j, i in enumerate(amend.tolist()):
        cls = j % 4
        if cls == 0:
            text = STUB
        elif cls == 3:
            text = " ".join("am%06x" % int(x) for x in rng.integers(0, 1 << 24, 24))
        else:
            donor = docs["text"][donors[j]]
            text = donor if cls == 1 else donor + TAIL
        rows.append((i, docs["lang"][i], text))
    split = lambda a: [sorted(a[b * per_batch:(b + 1) * per_batch].tolist()) for b in range(k)]
    return {"amend_batches": split(amend), "retract_batches": split(retract),
            "amendments": rows}


def apply_crud(docs, crud, kind):
    """The corpus after every amendment (kind "amend") or every
    retraction (kind "retract") of `crud` is applied."""
    if kind == "amend":
        new = {r[0]: r for r in crud["amendments"]}
        rows = [new.get(i, (i, docs["lang"][i], docs["text"][i])) for i in docs["doc_id"].tolist()]
    else:
        gone = {i for b in crud["retract_batches"] for i in b}
        rows = [(i, docs["lang"][i], docs["text"][i]) for i in docs["doc_id"].tolist() if i not in gone]
    return {"doc_id": np.array([r[0] for r in rows]), "lang": [r[1] for r in rows],
            "text": [r[2] for r in rows], "source": [f"src{r[0] % 20}" for r in rows]}


def write_amendments(path, rows):
    _write(path, {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "lang": [r[1] for r in rows], "text": [r[2] for r in rows]})


def riff_encode(headers, payload):
    """The riff wire format: 0xff, header count, then per header a 1-byte
    name length, the name, a 4-byte big-endian JSON length and a JSON
    array of strings; the payload fills the rest."""
    out = bytearray([0xFF, len(headers)])
    for name, values in headers:
        nb = name.encode()
        js = json.dumps(values, separators=(",", ":")).encode()
        out += bytes([len(nb)]) + nb + struct.pack(">i", len(js)) + js
    return bytes(out + payload)


def riff_frames(seed, seq0, n, period_ns, texts):
    """`n` riff frames with `seq` (from seq0) and `due_ns` headers (frame
    i is due i * period_ns after the phase starts); payloads are 1-3
    corpus texts, so their sizes vary."""
    rng = np.random.default_rng([seed, 4, seq0])
    frames = []
    for i in range(n):
        parts = rng.integers(0, len(texts), int(rng.integers(1, 4)))
        payload = " ".join(texts[p] for p in parts).encode()
        frames.append(riff_encode([("Content-Type", ["text/plain"]),
                                   ("seq", [str(seq0 + i)]),
                                   ("due_ns", [str(i * period_ns)])], payload))
    return frames


def write_frames(path, frames):
    with open(path, "wb") as f:
        for fr in frames:
            f.write(struct.pack(">i", len(fr)))
            f.write(fr)
