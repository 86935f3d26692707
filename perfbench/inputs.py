"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size preset,
``FIXTURE_VERSION``, ``INPUTS_VERSION``) and is cached under
``perfbench/.cache/`` in the checkout, keyed by all of them. The
program under test only ever sees the files written here.

Payload text comes from the repo's fixture generators
(``fixtures/generate.py``: ``_gen_plain`` / ``_gen_html`` / ``_gen_pdf``
and ``_turn_counts``) driven by RNGs derived from the seed, so the
kind mix (40/30/30 plain/html/pdf_layout) and the zipf + two
mega-conversation skew are the engine's own fixture profile.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.generate import (
    FIXTURE_VERSION,
    _gen_html,
    _gen_pdf,
    _gen_pdf_words,
    _gen_plain,
    _turn_counts,
)
from pdfextraction_spark.payload import encode_pdf_envelope

# bump when anything below changes what gets written
INPUTS_VERSION = 3

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# per-workload sizes; "tiny" is the self-test preset
SIZES = {
    "full": {
        "extract_pooled": {"turns": 300_000, "pool": 4096, "convs": 4000,
                           "files": 16},
        "extract_unique": {"turns": 64_000, "pool": 4096, "convs": 1000,
                           "files": 16, "large_frac": 0.01},
    },
    "tiny": {
        "extract_pooled": {"turns": 3000, "pool": 256, "convs": 60,
                           "files": 4},
        "extract_unique": {"turns": 2000, "pool": 256, "convs": 60,
                           "files": 4, "large_frac": 0.01},
    },
}

# RNG stream ids, so no two uses of one seed share a stream
_S_TURNS, _S_POOL, _S_LARGE = range(3)
_LARGE_PIECES = 512  # generator outputs the large documents are cut from

_BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
_ROLES = np.array(["user", "assistant", "tool"], dtype=object)


def _payload(rng: np.random.Generator) -> str:
    mix = rng.random()
    if mix < 0.4:
        return _gen_plain(rng)
    if mix < 0.7:
        return _gen_html(rng)
    return _gen_pdf(rng)


def _pool(seed: int, size: int) -> list:
    return [_payload(np.random.default_rng([seed, _S_POOL, i]))
            for i in range(size)]


def _distinct(text: str, i) -> str:
    """Make ``text`` unique without changing its kind or kernel path:
    an extra envelope key (ignored by both decoders), a trailing HTML
    comment (dropped by the tokenizer) or a trailing plain line."""
    if text.startswith('{"kind": "pdf_layout"'):
        return text[:-1] + f', "doc": "d{i}"}}'
    if text.startswith("<"):
        return text + f"<!-- d{i} -->"
    return text + f"\nref d{i}"


def _large_docs(seed: int, n: int) -> list:
    """``n`` large documents: every third an envelope of >= 5k words
    (pages stacked 800pt apart on one canvas), the others >= 50 KB of
    HTML. Each is a seeded random run of pieces from a pool of
    generator outputs, so the tail's cost averages over many pieces
    for any seed, and ends with its own marker, so no two are equal."""
    rng = np.random.default_rng([seed, _S_LARGE])
    html = [_gen_html(rng) for _ in range(_LARGE_PIECES)]
    pages = [_gen_pdf_words(rng) for _ in range(_LARGE_PIECES)]
    docs = []
    for j in range(n):
        if j % 3 == 2:
            words, i = [], 0
            while len(words) < 5000:
                dy = 800.0 * i
                words += [(t, x0, y0 + dy, x1, y1 + dy) for t, x0, y0, x1, y1
                          in pages[rng.integers(_LARGE_PIECES)]]
                i += 1
            docs.append(_distinct(
                encode_pdf_envelope(words, page_height=800.0 * i), f"L{j}"))
        else:
            parts, size = [], 0
            while size < 50_000:
                parts.append(html[rng.integers(_LARGE_PIECES)])
                size += len(parts[-1])
            docs.append(_distinct("".join(parts), f"L{j}"))
    return docs


def transcripts_table(seed: int, turns: int, pool: int, convs: int,
                      unique: bool = False, large_frac: float = 0.0
                      ) -> pa.Table:
    """Transcripts table (engine input schema) of about ``turns`` rows.

    Pooled: payloads are drawn from ``pool`` distinct generator outputs,
    so content dedup collapses them. Unique: every row's payload is
    distinct, and a ``large_frac`` tail of rows carries large documents
    (>= 50 KB HTML, >= 5k-word envelopes) built by concatenating
    generator output."""
    rng = np.random.default_rng([seed, _S_TURNS])
    counts = _turn_counts(convs, turns, rng, mega=2)
    total = int(counts.sum())
    conv = np.repeat(np.arange(convs), counts)
    turn_idx = (np.arange(total)
                - np.r_[0, np.cumsum(counts)[:-1]][conv]).astype(np.int32)
    base = np.asarray(_pool(seed, pool), dtype=object)
    texts = base[rng.integers(0, pool, size=total)]
    if unique:
        texts = np.array([_distinct(t, i) for i, t in enumerate(texts)],
                         dtype=object)
        if large_frac > 0:
            # evenly spaced, so every file gets its share of the tail
            step = round(1 / large_frac)
            rows = np.arange(int(rng.integers(step)), total, step)
            texts[rows] = _large_docs(seed, len(rows))
    ts = _BASE_TS + (conv.astype(np.int64) * 420
                     + turn_idx.astype(np.int64) * 13) * np.timedelta64(1, "s")
    return pa.table({
        "conv_id": pa.array(np.char.add("conv-",
                                        np.char.zfill(conv.astype(str), 6)),
                            pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(_ROLES[turn_idx % 3], pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.nulls(total, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us")),
    })


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files (one row group each)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                           row_group_size=max(part.num_rows, 1))


def _build_extract(tmp: str, seed: int, workload: str, cfg: dict) -> dict:
    unique = workload != "extract_pooled"
    tbl = transcripts_table(seed, cfg["turns"], cfg["pool"], cfg["convs"],
                            unique=unique,
                            large_frac=cfg.get("large_frac", 0.0))
    write_parts(tbl, os.path.join(tmp, "transcripts"), cfg["files"])
    return {"turns": tbl.num_rows, "files": cfg["files"]}


def ensure_inputs(workload: str, seed: int, size: str = "full") -> str:
    """Build (once) and return the input directory for a workload/seed.

    The directory holds ``inputs.json`` (what was written) next to the
    data. A build goes to ``<dir>.tmp``, which is removed first, so a
    crashed earlier build can never leak stale files into this one."""
    cfg = SIZES[size][workload]
    cfg_tag = hashlib.sha1(
        json.dumps(cfg, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(
        CACHE_DIR, f"{workload}-s{seed}-{size}-{cfg_tag}"
                   f"-f{FIXTURE_VERSION}-i{INPUTS_VERSION}")
    if os.path.exists(os.path.join(path, "inputs.json")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = _build_extract(tmp, seed, workload, cfg)
    info.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
