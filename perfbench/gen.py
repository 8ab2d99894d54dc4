"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the workload, the seed and this file: the
same seed gives byte-identical files.  Inputs are written once per seed
under ``<checkout>/.perfbench_data/``, keyed by a hash of this file so an
edit here regenerates them, and reused by later runs; generation time is
reported apart from ``setup_s``.

The tables follow the schemas of the engine's catalog (``documents``,
``events``); the MapReduce corpus is plain text lines.
Sizes and counts are the same for every seed (document lengths, duplicate
count, events per user, roughly equal landing files); the seed only
shuffles them, so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:10]

# sizes: small enough that one warm pass of each workload takes a few
# seconds on a 4-core VM, so a run fits the benchmark's time budget
N_DOCS = 1000
N_NEAR_DUPS = 50
N_EVENTS = 8_000
N_EVENT_USERS = 300
N_EVENT_FILES = 8
EVENT_SPAN_S = 3 * 24 * 3600
N_CORPUS_FILES = 8
CORPUS_LINES_PER_FILE = 1200
CORPUS_VOCAB = 20_000

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _write_table(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def gen_documents(seed: int, out: Path) -> None:
    """``documents``: random texts of 8 to 99 words over a 30-word
    vocabulary; 5% are copies of an earlier document with one word appended
    (near-duplicates)."""
    rng = _rng(seed, 1)
    vocab = np.array(DOC_VOCAB)
    lengths = rng.permutation(np.resize(np.arange(8, 100), N_DOCS))
    dups = set(rng.choice(np.arange(20, N_DOCS), N_NEAR_DUPS, replace=False).tolist())
    texts: list[str] = []
    for i in range(N_DOCS):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    langs = np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write_table(table, out / "documents.parquet")


def gen_events(seed: int, out: Path) -> None:
    """``events`` as a landing directory of time-ordered parquet files.

    The seed sets the event times and where the file boundaries fall (each
    file within a quarter of an equal share); each file holds one contiguous
    time slice, so a watermarked stream that reads the files in order never
    sees late data.  File mtimes increase with the file index, which is the
    order the file source lists them in.  Every user has the same number of
    events."""
    rng = _rng(seed, 3)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, EVENT_SPAN_S * 10**6, N_EVENTS))
    user = rng.permutation(np.resize(np.arange(N_EVENT_USERS), N_EVENTS))
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]
    value = np.round(rng.gamma(2.0, 40.0, N_EVENTS), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts0 + offs.astype("timedelta64[us]"), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(etype.tolist(), pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    share = N_EVENTS / N_EVENT_FILES
    jitter = rng.uniform(-0.25, 0.25, N_EVENT_FILES - 1)
    bounds = [0, *(round((i + 1 + j) * share) for i, j in enumerate(jitter)), N_EVENTS]
    landing = out / "events_landing"
    landing.mkdir()
    mtime = 1_700_000_000
    for i in range(N_EVENT_FILES):
        path = landing / f"part-{i:05d}.parquet"
        _write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (mtime + i, mtime + i))


def gen_corpus(seed: int, out: Path) -> None:
    """Text corpus for the MapReduce jobs: lines of words whose frequencies
    follow a Zipf law over a 20k-word vocabulary (many, uneven reduce keys)."""
    rng = _rng(seed, 4)
    corpus = out / "corpus"
    corpus.mkdir()
    ranks = np.arange(1, CORPUS_VOCAB + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    # word ids are shuffled so frequency is not ordered by spelling
    names = np.array([f"w{i:05x}" for i in rng.permutation(CORPUS_VOCAB)])
    for f in range(N_CORPUS_FILES):
        lens = rng.integers(4, 16, CORPUS_LINES_PER_FILE)
        ids = rng.choice(CORPUS_VOCAB, int(lens.sum()), p=p)
        words = names[ids]
        lines, pos = [], 0
        for n in lens:
            lines.append(" ".join(words[pos : pos + n]))
            pos += n
        (corpus / f"input{f:03d}.txt").write_text("\n".join(lines) + "\n")


GENERATORS = {
    "llm_text": gen_documents,
    "mapreduce_corpus": gen_corpus,
    "stream_events": gen_events,
}


def describe(root: Path) -> dict:
    """Rows, bytes and file count of every input under ``root``."""
    info = {}
    for entry in sorted(root.iterdir()):
        if entry.name == "manifest.json":
            continue
        files = [entry] if entry.is_file() else sorted(p for p in entry.rglob("*") if p.is_file())
        rows = 0
        for p in files:
            if p.suffix == ".parquet":
                rows += pq.ParquetFile(p).metadata.num_rows
            else:
                with open(p, "rb") as fh:
                    rows += sum(1 for _ in fh)
        info[entry.name] = {
            "rows": rows,
            "bytes": sum(p.stat().st_size for p in files),
            "files": len(files),
        }
    return info


def ensure_inputs(data_root: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Return the input directory for (workload, seed), generating it on the
    first call.  The manifest records sizes and the generation time."""
    dest = data_root / f"{workload}-s{seed}-{GEN_VERSION}"
    manifest = dest / "manifest.json"
    if manifest.exists():
        return dest, json.loads(manifest.read_text())
    tmp = data_root / f".tmp-{workload}-s{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    GENERATORS[workload](seed, tmp)
    info = {"gen_s": time.perf_counter() - t0, "inputs": describe(tmp)}
    (tmp / "manifest.json").write_text(json.dumps(info, indent=1))
    try:
        os.rename(tmp, dest)
    except OSError:  # another run generated it first
        shutil.rmtree(tmp, ignore_errors=True)
    return dest, json.loads(manifest.read_text())
