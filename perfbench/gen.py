"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Two families of inputs:

- ``ingest``: text files for the file pipeline. One backlog wave of mixed
  1- to 4-byte UTF-8 files (sizes from below one chunk to a few hundred
  KB, plus a few files over the pipeline's size bound), then small waves
  of a few new files plus re-landed copies of earlier content under new
  names. File sizes do not depend on the seed; contents and order do.
- ``tables``: the ``documents``, ``embeddings`` and ``events`` parquet
  tables the declared queries read, shaped like the repo's fixtures
  (30-word vocabulary with ~5 % "<earlier doc> dup" near-duplicates,
  64-d unit vectors with 10 labels, a 30-day sorted event stream).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Words of each UTF-8 width, so chunk cuts land inside 2-, 3- and 4-byte
# code points and the chunker has to back off.
WORDS = {
    1: ["spark", "stream", "file", "chunk", "dna", "base", "trit", "code",
        "the", "a", "of", "data", "hash", "batch"],
    2: ["données", "größe", "çà", "ñandú", "день", "κώδικας", "שלום", "مرحبا"],
    3: ["数据", "流水线", "編碼", "テキスト", "핵산", "ลำดับ", "€uro"],
    4: ["𝔡𝔫𝔞", "😀😃", "🧬", "𓂀", "𝄞𝄢"],
}
# The pipeline configuration the benchmark runs, defined once here:
# run.py passes it to the JVM and check.py reads it from the manifest.
PARAMS = {
    "chunk": 1000,                # Config.chunkSize, as in the reference DAG
    "nsym": 10,                   # Config.errorCorrectionSymbols
    "max_file_bytes": 400_000,    # Config.maxFileBytes the benchmark sets
}
BACKLOG_BYTES = 4_000_000         # size of the backlog wave, oversize files aside
BACKLOG_FILES = 140               # files in the backlog wave, besides the oversize ones
BACKLOG_MIN, BACKLOG_MAX = 200, 300_000  # smallest and largest backlog file before scaling
OVERSIZE = 2                      # backlog files over max_file_bytes
WAVE_SIZES = (300, 2_000, 8_000, 18_000)  # new files of each small wave
WAVE_RELAND = 2                   # re-landed copies per small wave
WAVES = 16                        # small waves generated (a run lands a prefix)


def backlog_sizes():
    """The backlog's file sizes, the same for every seed: log-uniform
    quantiles from below one chunk to a few hundred KB, scaled to
    ``BACKLOG_BYTES``. Only the order and the text change with the seed."""
    q = (np.arange(BACKLOG_FILES) + 0.5) / BACKLOG_FILES
    s = np.exp(np.log(BACKLOG_MIN) + q * np.log(BACKLOG_MAX / BACKLOG_MIN))
    s = (s * BACKLOG_BYTES / s.sum()).astype(int)
    s[-1] += BACKLOG_BYTES - s.sum()
    return s


_WIDTH_P = [0.55, 0.2, 0.15, 0.1]
_VOCAB = [w for k in (1, 2, 3, 4) for w in WORDS[k]]
_PICK_P = np.array([p / len(WORDS[k]) for k, p in zip((1, 2, 3, 4), _WIDTH_P)
                    for _ in WORDS[k]])
_NBYTES = np.array([len(w.encode()) + 1 for w in _VOCAB])


def _text(rng, nbytes, tag):
    """Mixed-width UTF-8 text of exactly ``nbytes`` bytes, led by a unique tag."""
    words = rng.choice(len(_VOCAB), size=nbytes // 4 + 8, p=_PICK_P)
    n = int(np.searchsorted(np.cumsum(_NBYTES[words]), nbytes - len(tag))) + 1
    sep = "\n" if rng.random() < 0.3 else " "
    data = sep.join([tag] + [_VOCAB[i] for i in words[:n]]).encode()
    cut = min(nbytes, len(data))
    while cut < len(data) and data[cut] & 0xC0 == 0x80:
        cut -= 1  # end on a whole code point
    return (data[:cut] + b"." * (nbytes - cut)).decode()


def ingest(seed, out):
    """Writes ``out/backlog/*.txt`` and ``out/wave_NNN/*.txt``; returns the manifest."""
    rng = np.random.default_rng(seed)
    manifest = {"params": PARAMS, "backlog": [], "waves": []}
    os.makedirs(f"{out}/backlog")
    contents = []
    sizes = backlog_sizes()
    rng.shuffle(sizes)
    for i, n in enumerate(sizes):
        text = _text(rng, int(n), f"backlog-{seed}-{i}")
        manifest["backlog"].append(_land(out, "backlog", f"b{i:04d}.txt", text))
        contents.append(text)
    for k in range(OVERSIZE):
        n = PARAMS["max_file_bytes"] + 1_000 + 50_000 * k
        text = _text(rng, n, f"oversize-{seed}-{k}")
        manifest["backlog"].append(_land(out, "backlog", f"big{k}.txt", text))
    for w in range(WAVES):
        d = f"wave_{w:03d}"
        os.makedirs(f"{out}/{d}")
        files = []
        for j, n in enumerate(rng.permutation(WAVE_SIZES)):
            text = _text(rng, int(n), f"wave-{seed}-{w}-{j}")
            files.append(_land(out, d, f"w{w:03d}_{j}.txt", text))
            contents.append(text)
        for j in range(WAVE_RELAND):
            text = contents[int(rng.integers(len(contents) - len(WAVE_SIZES)))]
            files.append(_land(out, d, f"w{w:03d}_copy{j}.txt", text))
        manifest["waves"].append(files)
    return manifest


def _land(out, d, name, text):
    data = text.encode()
    with open(f"{out}/{d}/{name}", "wb") as f:
        f.write(data)
    return {"dir": d, "name": name, "bytes": len(data), "md5": hashlib.md5(data).hexdigest()}


VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def tables(seed, out, docs=500, vecs=500, events=10_000, users=150):
    rng = np.random.default_rng(seed + 1_000_003)
    os.makedirs(out)
    texts = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(5, size=docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    v = rng.standard_normal((vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=vecs), pa.int32()),
    }), f"{out}/embeddings.parquet")

    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, size=events)) + start
    pq.write_table(pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(users, size=events), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(5, size=events)],
        "value": np.round(rng.exponential(50.0, size=events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=events)],
    }), f"{out}/events.parquet")
