"""Seeded benchmark inputs, cached by (name, seed, size).

Every fixture is a directory under ``<work>/fixtures/<name>-s<seed>-n<size>``
holding parquet data plus ``_fixture.json``: the build parameters, the
expected outcomes known by construction (the *plan*), and a SHA-256
fingerprint of the data files. A cached fixture is used only if its
fingerprint still matches the bytes on disk; otherwise it is rebuilt.

Interleaved tables are ``generator.interleaved_documents`` output. The
generator evaluates interpreted higher-order functions per span, so a
fresh 250k-doc table costs ~15 s on a 4-core VM. To keep per-seed set-up
small, one *tile* of ``TILE_DOCS`` documents is generated (the only
Spark jobs here) and copied ``copies`` times with pyarrow, each copy with
its numeric doc_id shifted by ``copy * TILE_DOCS`` (one file per copy;
the eight hot keys keep their ids). Rows therefore repeat their spans
every tile, but every row is still scanned and validated.

Defects for the dirty variant are injected by a rule known by
construction: a hash of each tile row picks at most one of three
defects, so the expected failing-doc count and the expected violation
rows per ``(error_type, path)`` follow from counting the rule over the
tile, without running any validator.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkjesse import generator

# Bump when a builder changes what it writes: cached fixtures of another
# version are rebuilt.
VERSION = 5
TILE_DOCS = 5_000

# defect class -> (share of rows per mille, expected violation key)
DEFECTS = {
    "bad_kind": (35, ("not_in_range", "/spans/0/kind")),
    "bad_offset": (35, ("not_in_range", "/spans/0/offset")),
    "bad_doc_id": (30, ("no_match", "/doc_id")),
}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def fingerprint(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                for block in iter(lambda: fh.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


class FixtureStore:
    """Builds fixtures on first use and verifies them on every use."""

    def __init__(self, root: str) -> None:
        self.root = os.path.join(root, "fixtures")
        os.makedirs(self.root, exist_ok=True)
        self.built: list[str] = []

    def get(self, name: str, seed: int, size: int, build) -> tuple[str, dict]:
        """Return ``(path, plan)``. ``build(dest)`` writes the data into
        ``dest`` and returns the plan (a JSON-able dict)."""
        path = os.path.join(self.root, f"{name}-s{seed}-n{size}")
        meta_file = os.path.join(path, "_fixture.json")
        if os.path.exists(meta_file):
            with open(meta_file, encoding="utf-8") as fh:
                meta = json.load(fh)
            if meta.get("version") == VERSION \
                    and meta.get("fingerprint") == fingerprint(path):
                return path, meta["plan"]
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(tmp)
        plan = build(tmp)
        meta = {"version": VERSION, "name": name, "seed": seed,
                "size": size, "plan": plan, "fingerprint": fingerprint(tmp)}
        with open(os.path.join(tmp, "_fixture.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(meta, fh, sort_keys=True)
        os.rename(tmp, path)
        self.built.append(name)
        return path, plan


# ---------------------------------------------------------------------------
# interleaved documents (validate_clean, audit_dirty, json_kernel)
# ---------------------------------------------------------------------------

def _defect_class(seed: int, row: int, doc_id: str, spans: list):
    """Defect class of tile row number ``row`` from a hash of the seed,
    the row number and its doc_id (so every copy of a tile row carries
    the same defect), or None. Span defects need a first span to edit."""
    key = f"{seed}|{row}|{doc_id}".encode()
    r = int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(),
                       "little") % 1000
    lo = 0
    for name, (share, _) in DEFECTS.items():
        if lo <= r < lo + share:
            return None if name != "bad_doc_id" and not spans else name
        lo += share
    return None


def _inject(tile: pa.Table, seed: int) -> tuple[pa.Table, dict]:
    """The tile with the rule's defects applied, and the count of rows
    per defect class."""
    rows = tile.to_pylist()
    counts = {name: 0 for name in DEFECTS}
    for i, row in enumerate(rows):
        d = _defect_class(seed, i, row["doc_id"], row["spans"])
        if d is None:
            continue
        counts[d] += 1
        if d == "bad_kind":
            row["spans"][0]["kind"] = "bogus"
        elif d == "bad_offset":
            row["spans"][0]["offset"] = -1
        else:
            row["doc_id"] = "x" + row["doc_id"][1:]
    return pa.Table.from_pylist(rows, schema=tile.schema), counts


def _shift_ids(ids: list, copy: int) -> list:
    """Numeric part of each doc_id shifted by ``copy * TILE_DOCS``; the
    one-letter prefix (``d``, or ``x`` on a bad_doc_id defect) is kept.
    The generator's eight hot keys (d0..d7) stay unshifted, so each keeps
    its share of the table at any number of copies."""
    out = []
    for doc_id in ids:
        num = int(doc_id[1:])
        out.append(doc_id[0]
                   + str(num if num < 8 else num + copy * TILE_DOCS))
    return out


def _shift_json(texts: list, old: list, new: list) -> list:
    """``to_json(struct(doc_id, spans))`` strings with the leading doc_id
    replaced."""
    out = []
    for text, a, b in zip(texts, old, new):
        head = '{"doc_id":"%s"' % a
        if not text.startswith(head):
            raise RuntimeError(f"unexpected JSON head {text[:40]!r}")
        out.append('{"doc_id":"%s"' % b + text[len(head):])
    return out


def build_tile(spark, seed: int):
    """Return a builder writing one generator tile, its dirty variant
    (defects injected by the rule), its media_assets table and the
    defect-rule counts (``plan``)."""

    def build(dest: str) -> dict:
        docs = generator.interleaved_documents(spark, TILE_DOCS, seed=seed,
                                               partitions=4)
        docs.write.parquet(os.path.join(dest, "docs"))
        n_assets = max(10, TILE_DOCS // 4)
        generator.media_assets(spark, n_assets, seed=seed) \
            .write.parquet(os.path.join(dest, "media_assets"))
        dirty, counts = _inject(pq.read_table(os.path.join(dest, "docs")),
                                seed)
        os.makedirs(os.path.join(dest, "dirty_docs"))
        pq.write_table(dirty, os.path.join(dest, "dirty_docs",
                                           "part-00000.parquet"))
        return {"tile_docs": TILE_DOCS, "n_assets": n_assets,
                "defects": counts}
    return build


def expected_outcome(tile_plan: dict, copies: int) -> dict:
    """Failing docs and violation rows per (error_type, path) for
    ``copies`` dirty tile copies."""
    per_key: dict = {}
    for name, (_, key) in DEFECTS.items():
        n = tile_plan["defects"][name] * copies
        k = f"{key[0]}|{key[1]}"
        per_key[k] = per_key.get(k, 0) + n
    return {"docs": TILE_DOCS * copies,
            "fail": sum(tile_plan["defects"].values()) * copies,
            "violations": per_key}


def build_interleaved(spark, seed: int, tile_path: str, copies: int, *,
                      dirty: bool, as_json: bool = False):
    """Return a builder writing ``copies`` (dirty) tile copies, one file
    per copy named by its number, as ``(doc_id, spans)`` or, with
    ``as_json``, ``(doc_id, json)``. Copies are written with pyarrow (no
    Spark job per copy; the JSON form takes one ``to_json`` job)."""

    def build(dest: str) -> dict:
        data = os.path.join(dest, "data")
        os.makedirs(data)
        src = os.path.join(tile_path, "dirty_docs" if dirty else "docs")
        tile = pq.read_table(src)
        ids = tile.column("doc_id").to_pylist()
        texts = None
        if as_json:
            rows = spark.read.parquet(src).select("doc_id", F.to_json(
                F.struct("doc_id", "spans")).alias("json")).collect()
            ids = [r["doc_id"] for r in rows]
            texts = [r["json"] for r in rows]
        for copy in range(copies):
            shifted = _shift_ids(ids, copy)
            if as_json:
                table = pa.table({
                    "doc_id": pa.array(shifted, pa.string()),
                    "json": pa.array(_shift_json(texts, ids, shifted),
                                     pa.string())})
            else:
                table = tile.set_column(
                    tile.schema.get_field_index("doc_id"),
                    tile.schema.field("doc_id"),
                    pa.array(shifted, pa.string()))
            pq.write_table(table, os.path.join(
                data, f"part-{copy:05d}.parquet"))
        return {"docs": TILE_DOCS * copies, "copies": copies}
    return build


# ---------------------------------------------------------------------------
# text corpus (corpus_pipeline)
# ---------------------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, size: int, prefix: str = "") -> list:
    """``size`` distinct lowercase words of 3–10 letters (no stopwords:
    every word is at least three letters and none is a STOPWORDS entry)."""
    words: set = set()
    out = []
    while len(out) < size:
        n = int(rng.integers(3, 11))
        w = prefix + "".join(rng.choice(_LETTERS, n))
        if w not in words and w != "the" and w != "and":
            words.add(w)
            out.append(w)
    return out


def _zipf_docs(rng, vocab, n_docs, *, exponent=1.1, lo=24, hi=96):
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -exponent
    p /= p.sum()
    lens = rng.integers(lo, hi, n_docs)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    vocab_a = np.array(vocab, dtype=object)
    out, pos = [], 0
    for n in lens:
        out.append(list(vocab_a[ids[pos:pos + n]]))
        pos += n
    return out


def _pii(rng) -> str:
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return f"user{int(rng.integers(0, 10**6))}@example.org"
    if kind == 1:
        return "%03d-%03d-%04d" % tuple(int(x) for x in rng.integers(
            [200, 200, 0], [999, 999, 9999]))
    return "10.%d.%d.%d" % tuple(int(x) for x in rng.integers(0, 255, 3))


def build_corpus(seed: int, n_docs: int, *, dup_share: float = 0.05,
                 near_share: float = 0.05, pii_share: float = 0.03):
    """Zipf-vocabulary corpus with injected exact duplicates, one-token
    near-duplicates, PII strings and eval-set passages, the eval set, and
    a DSIR target corpus drawn with a steeper Zipf exponent. Each
    injection hits its own disjoint set of base docs, so every seed has
    the same duplicate structure (near-duplicates form pairs, never
    chains)."""

    def build(dest: str) -> dict:
        rng = np.random.default_rng(seed)
        vocab = _vocab(rng, 20_000)
        n_dups = int(n_docs * dup_share)
        n_base = n_docs - n_dups
        n_near, n_pii = int(n_docs * near_share), int(n_docs * pii_share)
        n_plant = max(1, n_docs // 100)
        docs = _zipf_docs(rng, vocab, n_base)
        order = iter(rng.permutation(n_base).tolist())

        def take(k: int) -> list:
            return [next(order) for _ in range(k)]

        for target, src in zip(take(n_near), take(n_near)):
            near = list(docs[src])
            j = int(rng.integers(0, len(near)))
            while True:
                w = vocab[int(rng.integers(0, len(vocab)))]
                if w != near[j]:
                    break
            near[j] = w
            docs[target] = near
        for i in take(n_pii):
            docs[i].insert(int(rng.integers(0, len(docs[i]))), _pii(rng))
        # eval set over a disjoint vocabulary; 12-token passages of it are
        # planted into 1% of the corpus, so only those docs (and Bloom
        # false positives) share 3-grams with it
        eval_vocab = _vocab(rng, 2_000, prefix="q")
        evals = _zipf_docs(rng, eval_vocab, 200)
        for i in take(n_plant):
            src = evals[int(rng.integers(0, len(evals)))]
            start = int(rng.integers(0, len(src) - 12))
            pos = int(rng.integers(0, len(docs[i])))
            docs[i][pos:pos] = src[start:start + 12]
        texts = [" ".join(d) for d in docs]
        texts += [texts[i] for i in take(n_dups)]
        texts = [texts[i] for i in rng.permutation(len(texts))]
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(texts)),
                                                    pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       os.path.join(dest, "docs.parquet"))
        pq.write_table(pa.table({"text": pa.array(
            [" ".join(d) for d in evals], pa.string())}),
                       os.path.join(dest, "eval.parquet"))
        target = [" ".join(d) for d in _zipf_docs(rng, vocab, 500,
                                                  exponent=1.4)]
        pq.write_table(pa.table({"text": pa.array(target, pa.string())}),
                       os.path.join(dest, "target.parquet"))
        if len(set(texts)) != len(texts) - n_dups:
            raise RuntimeError("corpus texts collide beyond the injected "
                               "duplicates; pick another seed")
        return {"docs": len(texts), "injected_exact_dups": n_dups}
    return build
