"""Seeded input generator with planted ground truth.

Every workload's inputs come from one ``numpy`` generator seeded with the
run's ``--seed``; nothing reads the clock or the environment, so the same
seed and knobs give byte-identical files. ``generate`` writes each file
twice (the second copy into memory) and compares SHA-256 digests, which is
the self-check that the bytes really repeat.

Knobs (``Knobs``): number of records, duplicate rate, family-shape mix
(star / chain / clone), string length and vocabulary size. The planted
truth is written next to the inputs (``truth.parquet`` / ``truth.json``)
and is read only by the checks, never by the program under test.
"""

from __future__ import annotations

import dataclasses
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")


@dataclasses.dataclass(frozen=True)
class Knobs:
    """Input-shape knobs of one workload; recorded in every result."""

    records: int                 # documents / rows / vectors in one input
    dup_rate: float              # share of records that are planted duplicates
    shapes: tuple = (0.4, 0.4, 0.2)  # star, chain, clone share of families
    length: int = 60             # words per doc / chars per name / vector dim
    vocab: int = 4000            # distinct words the text is drawn from
    family_size: int = 4         # members per family, root included
    batches: int = 0             # incremental_ingest: number of batches
    batch_size: int = 0          # incremental_ingest: docs per batch


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        words.add("".join(_CONS[rng.integers(len(_CONS))]
                          + _VOWELS[rng.integers(len(_VOWELS))]
                          for _ in range(n)))
    return np.array(sorted(words))


def _family_shapes(rng, n_families, shapes):
    p = np.asarray(shapes, dtype=float)
    return rng.choice(np.array(["star", "chain", "clone"]), size=n_families,
                      p=p / p.sum())


# ---------------------------------------------------------------------------
# documents (incremental_ingest)
# ---------------------------------------------------------------------------


def _word_cdf(vocab):
    # mildly Zipfian word choice, like natural text
    p = 1.0 / (np.arange(len(vocab), dtype=float) + 20.0)
    return np.cumsum(p / p.sum())


def _doc_words(rng, vocab, cdf, n_words):
    idx = np.minimum(np.searchsorted(cdf, rng.random(n_words)), len(vocab) - 1)
    return list(vocab[idx])


def _edit(rng, vocab, words, edits):
    out = list(words)
    for pos in rng.choice(len(out), size=min(edits, len(out)), replace=False):
        out[pos] = vocab[rng.integers(len(vocab))]
    return out


def _edits_for(n_words):
    # one replaced word per ~60 words keeps one hop at Jaccard ~0.9 on
    # word 3-shingles, so two hops still pass 0.8 and four do not
    return max(1, n_words // 60)


def _docs(rng, vocab, k: Knobs, n_records):
    """(ids, texts, family, clone_group): ids ``0..n_records-1``, texts in
    shuffled order, ``family`` the planted entity id and ``clone_group``
    the byte-identity group (-1 when unique)."""
    fam_size = k.family_size
    cdf = _word_cdf(vocab)
    n_dup_docs = int(round(n_records * k.dup_rate))
    n_families = max(1, n_dup_docs // (fam_size - 1))
    shapes = _family_shapes(rng, n_families, k.shapes)
    texts, family, clone = [], [], []
    for f, shape in enumerate(shapes):
        n_words = int(rng.integers(k.length // 2, k.length * 3 // 2 + 1))
        root = _doc_words(rng, vocab, cdf, n_words)
        members = [root]
        for _ in range(fam_size - 1):
            if shape == "clone":
                members.append(root)
            elif shape == "star":
                members.append(_edit(rng, vocab, root, _edits_for(n_words)))
            else:
                members.append(_edit(rng, vocab, members[-1],
                                     _edits_for(n_words)))
        for m in members:
            texts.append(" ".join(m))
            family.append(f)
            clone.append(f if shape == "clone" else -1)
    while len(texts) < n_records:
        n_words = int(rng.integers(k.length // 2, k.length * 3 // 2 + 1))
        texts.append(" ".join(_doc_words(rng, vocab, cdf, n_words)))
        family.append(n_families + len(texts))
        clone.append(-1)
    texts, family, clone = texts[:n_records], family[:n_records], clone[:n_records]
    order = rng.permutation(len(texts))
    ids = np.arange(len(texts), dtype=np.int64)
    return (ids, [texts[i] for i in order],
            np.asarray(family, dtype=np.int64)[order],
            np.asarray(clone, dtype=np.int64)[order])


# ---------------------------------------------------------------------------
# counterparties (counterparty_linkage)
# ---------------------------------------------------------------------------

_SUFFIXES = ["gmbh", "ltd", "bv", "sa", "ag", "inc", "llc", "oy"]


def _name(rng, vocab, length):
    words = []
    while sum(len(w) + 1 for w in words) < length:
        words.append(str(vocab[rng.integers(len(vocab))]).capitalize())
    return " ".join(words + [_SUFFIXES[rng.integers(len(_SUFFIXES))].upper()])


def _typo(rng, name):
    # edits stay past the 4-char blocking prefix so the pair can meet
    pos = int(rng.integers(5, len(name))) if len(name) > 6 else len(name) - 1
    c = _CONS[rng.integers(len(_CONS))]
    return name[:pos] + c + name[pos + 1:]


def _case(rng, name):
    words = name.split(" ")
    i = int(rng.integers(1, len(words))) if len(words) > 1 else 0
    words[i] = words[i].upper() if words[i] != words[i].upper() else words[i].lower()
    return " ".join(words)


def _iban(rng):
    digits = "".join(str(d) for d in rng.integers(0, 10, size=18))
    return "DE" + digits


def _counterparties(rng, vocab, k: Knobs):
    """Rows (id, name, iban) with entity ids. Families are exact
    duplicates (clone), typo/case variants of one root (star) and
    transitive chains whose ends no longer match (chain). A share of
    ibans is empty or null."""
    fam_size = k.family_size
    n_dup = int(round(k.records * k.dup_rate))
    n_families = max(1, n_dup // (fam_size - 1))
    shapes = _family_shapes(rng, n_families, k.shapes)
    rows, entity = [], []
    for f, shape in enumerate(shapes):
        root = _name(rng, vocab, k.length)
        iban = _iban(rng)
        members = [root]
        for _ in range(fam_size - 1):
            if shape == "clone":
                members.append(root)
            elif shape == "star":
                members.append(_case(rng, root) if rng.random() < 0.3
                               else _typo(rng, root))
            else:
                members.append(_typo(rng, _typo(rng, members[-1])))
        for m in members:
            rows.append((m, iban))
            entity.append(f)
    while len(rows) < k.records:
        rows.append((_name(rng, vocab, k.length), _iban(rng)))
        entity.append(n_families + len(rows))
    rows, entity = rows[:k.records], entity[:k.records]
    # empty and null ibans (FIXTURES §1.1): whole entities lose theirs so
    # every member keeps one shared key
    blank = {e: ("" if rng.random() < 0.5 else None)
             for e in sorted(set(entity)) if rng.random() < 0.03}
    rows = [(n, blank.get(e, i)) for (n, i), e in zip(rows, entity)]
    order = rng.permutation(len(rows))
    return ([rows[i] for i in order],
            np.asarray(entity, dtype=np.int64)[order])


def _csv_field(v):
    if v is None:
        return ""
    return '""' if v == "" else v


# ---------------------------------------------------------------------------
# embeddings (semantic_dedup)
# ---------------------------------------------------------------------------


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _embeddings(rng, k: Knobs):
    dim, fam_size = k.length, k.family_size
    n_dup = int(round(k.records * k.dup_rate))
    n_families = max(1, n_dup // (fam_size - 1))
    shapes = _family_shapes(rng, n_families, k.shapes)
    vecs, family, clone = [], [], []
    for f, shape in enumerate(shapes):
        root = _unit(rng.standard_normal(dim))
        members = [root]
        for _ in range(fam_size - 1):
            if shape == "clone":
                members.append(root)
            elif shape == "star":
                members.append(_unit(root + 0.025 * rng.standard_normal(dim)))
            else:
                # ~0.975 cosine per hop: neighbours match at 0.95, the
                # ends of a 3-hop chain do not
                members.append(_unit(members[-1]
                                     + 0.04 * rng.standard_normal(dim)))
        vecs.extend(members)
        family.extend([f] * fam_size)
        clone.extend([f if shape == "clone" else -1] * fam_size)
    n_rest = max(0, k.records - len(vecs))
    vecs.extend(_unit(rng.standard_normal((n_rest, dim))))
    family.extend(range(n_families + 1, n_families + 1 + n_rest))
    clone.extend([-1] * n_rest)
    vecs = np.round(np.asarray(vecs[:k.records]), 6)
    order = rng.permutation(len(vecs))
    return (vecs[order], np.asarray(family[:k.records], dtype=np.int64)[order],
            np.asarray(clone[:k.records], dtype=np.int64)[order])


# ---------------------------------------------------------------------------
# files
# ---------------------------------------------------------------------------


def _parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="zstd", row_group_size=1 << 20)
    return buf.getvalue()


def _build(workload: str, seed: int, k: Knobs) -> dict[str, bytes]:
    """All input and truth files of one workload, as bytes by name."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, k.vocab)
    files: dict[str, bytes] = {}
    if workload == "incremental_ingest":
        # one pool, so batch docs can be near-dups of the corpus, of
        # earlier batches or of each other; ids follow stream order
        n_batch = k.batches * k.batch_size
        ids, texts, fam, clone = _docs(rng, vocab, k, k.records + n_batch)
        files["corpus.parquet"] = _parquet_bytes(pa.table(
            {"doc_id": ids[:k.records], "text": texts[:k.records]}))
        for b in range(k.batches):
            lo = k.records + b * k.batch_size
            hi = lo + k.batch_size
            files[f"batch_{b:03d}.parquet"] = _parquet_bytes(pa.table(
                {"doc_id": ids[lo:hi], "text": texts[lo:hi]}))
        files["truth.parquet"] = _parquet_bytes(pa.table(
            {"doc_id": ids, "family": fam, "clone_group": clone}))
    elif workload == "counterparty_linkage":
        rows, entity = _counterparties(rng, vocab, k)
        lines = ["id,name,iban"]
        lines += [f"{i},{n},{_csv_field(b)}" for i, (n, b) in enumerate(rows)]
        files["counterparties.csv"] = ("\n".join(lines) + "\n").encode()
        files["truth.parquet"] = _parquet_bytes(pa.table(
            {"id": np.arange(len(rows), dtype=np.int64), "entity": entity}))
    elif workload == "semantic_dedup":
        vecs, fam, clone = _embeddings(rng, k)
        ids = np.arange(len(vecs), dtype=np.int64)
        emb = pa.array(list(vecs), type=pa.list_(pa.float64()))
        files["vectors.parquet"] = _parquet_bytes(pa.table(
            {"vec_id": ids, "embedding": emb}))
        files["truth.parquet"] = _parquet_bytes(pa.table(
            {"vec_id": ids, "family": fam, "clone_group": clone}))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    files["truth.json"] = json.dumps(
        {"workload": workload, "seed": seed, "knobs": dataclasses.asdict(k)},
        sort_keys=True).encode()
    return files


def generate(workload: str, seed: int, k: Knobs, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir`` and self-check that a
    second generation from the same seed is byte-identical. Returns the
    SHA-256 digest of every file."""
    files = _build(workload, seed, k)
    digests = {n: hashlib.sha256(b).hexdigest() for n, b in files.items()}
    again = {n: hashlib.sha256(b).hexdigest()
             for n, b in _build(workload, seed, k).items()}
    if again != digests:
        raise RuntimeError(f"generator is not deterministic for seed {seed}")
    os.makedirs(out_dir, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
    return digests
