"""Seeded word-count corpus generator.

A corpus is `n_tokens` tokens drawn from a Zipf(`zipf_s`) distribution
over a vocabulary of `vocab` words, cut into documents whose lengths are
uniform in `doc_len`, each document tagged with one of `sources` source
names. Every corpus directory holds `documents.parquet` (the engine's
documents schema, so registry queries and their DuckDB oracles apply
unchanged), the workload's input layout (`text/` files, or `stream/`
parquet files), optionally `slice/documents.parquet` (the first
`slice_docs` documents), and `truth.json`:

    tokens    total token count
    distinct  number of distinct words
    digest    sum over (word, count) pairs of md5prefix60(f"{word}\\t{count}"),
              a multiset hash: independent of output order

Corpora are cached by (seed, parameters, generator source); generation is
never inside a timed span.
"""

import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def md5prefix60(s: str) -> int:
    """First 15 hex digits of md5(s) as an integer (60 bits)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def digest_pairs(pairs) -> int:
    """Order-independent hash of an iterable of (word, count) pairs."""
    return sum(md5prefix60(f"{w}\t{c}") for w, c in pairs)


def vocabulary(rng, size):
    """`size` distinct lowercase words of 5-10 letters.

    The last five letters spell the word's index in base 26, which makes
    the words distinct; a random 0-5 letter prefix varies their length.
    """
    ids = np.arange(size, dtype=np.int64)
    rows = np.empty((size, 10), dtype=np.uint8)
    rows[:, :5] = LETTERS[rng.integers(0, 26, size=(size, 5))]
    for k in range(5):
        rows[:, 9 - k] = LETTERS[(ids // 26 ** k) % 26]
    starts = 5 - rng.integers(0, 6, size=size)
    flat = rows.tobytes()
    return [flat[10 * i + s:10 * i + 10].decode("ascii")
            for i, s in enumerate(starts.tolist())]


def generate(seed, n_tokens, vocab, zipf_s, doc_len, sources):
    """Build a corpus in memory: (documents table, truth digest)."""
    params = json.dumps([n_tokens, vocab, zipf_s, doc_len, sources], sort_keys=True)
    rng = np.random.default_rng([seed, zlib.crc32(params.encode())])
    words = vocabulary(rng, vocab)
    # rank r (0 = most frequent) -> word id; a per-seed permutation, so the
    # hot words differ between seeds
    rank_to_word = rng.permutation(vocab)
    weights = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** zipf_s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n_tokens)), vocab - 1)
    ids = rank_to_word[ranks]

    lo, hi = doc_len
    lengths = []
    total = 0
    while total < n_tokens:
        n = int(rng.integers(lo, hi + 1))
        n = min(n, n_tokens - total)
        lengths.append(n)
        total += n
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    word_arr = np.array(words, dtype=object)[ids]
    texts = [" ".join(word_arr[bounds[i]:bounds[i + 1]]) for i in range(len(lengths))]
    n_docs = len(texts)
    source_names = [f"src{j:03d}.txt" for j in range(sources)]
    src = rng.integers(0, sources, size=n_docs)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(["en"] * n_docs, type=pa.string()),
        "source": pa.array([source_names[s] for s in src.tolist()], type=pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), dtype=np.int64, count=n_docs)),
    })
    counts = np.bincount(ids, minlength=vocab)
    nz = np.nonzero(counts)[0]
    truth = {
        "tokens": int(n_tokens),
        "distinct": int(len(nz)),
        "digest": str(digest_pairs((words[i], int(counts[i])) for i in nz.tolist())),
        "docs": n_docs,
    }
    return table, truth


def write_corpus(out_dir, table, truth, layout, files, slice_docs=0):
    """Lay the corpus out under `out_dir` (written to a temp dir, renamed last)."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # several row groups, so a scan of the one file splits across cores
    row_group = max(1, table.num_rows // 16)
    pq.write_table(table, os.path.join(tmp, "documents.parquet"), row_group_size=row_group)
    if layout == "text":
        d = os.path.join(tmp, "text")
        os.makedirs(d)
        per = -(-table.num_rows // files)
        texts = table.column("text").to_pylist()
        for f in range(files):
            with open(os.path.join(d, f"part-{f:03d}.txt"), "w", encoding="ascii") as fh:
                for t in texts[f * per:(f + 1) * per]:
                    fh.write(t)
                    fh.write("\n")
    elif layout == "split":
        d = os.path.join(tmp, "stream")
        os.makedirs(d)
        per = -(-table.num_rows // files)
        for f in range(files):
            pq.write_table(table.slice(f * per, per), os.path.join(d, f"part-{f:03d}.parquet"))
    if slice_docs:
        d = os.path.join(tmp, "slice")
        os.makedirs(d)
        pq.write_table(table.slice(0, slice_docs), os.path.join(d, "documents.parquet"),
                       row_group_size=max(1, slice_docs // 8))
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def source_hash():
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def ensure(cache_dir, seed, spec, keep=6):
    """Return the corpus directory for (seed, spec), generating it if absent.

    `spec` holds n_tokens, vocab, zipf_s, doc_len, sources, layout, files
    and, optionally, slice_docs.
    At most `keep` corpora stay cached; the least recently used go first.
    """
    key_src = json.dumps({"seed": seed, "spec": spec, "gen": source_hash(),
                          "v": GEN_VERSION}, sort_keys=True)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:16]
    out_dir = os.path.join(cache_dir, key)
    if not os.path.exists(os.path.join(out_dir, "truth.json")):
        os.makedirs(cache_dir, exist_ok=True)
        table, truth = generate(seed, spec["n_tokens"], spec["vocab"], spec["zipf_s"],
                                tuple(spec["doc_len"]), spec["sources"])
        write_corpus(out_dir, table, truth, spec["layout"], spec["files"],
                     spec.get("slice_docs", 0))
    os.utime(out_dir)
    cached = sorted((os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
                     if not d.endswith(".tmp")), key=os.path.getmtime)
    for old in cached[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return out_dir
