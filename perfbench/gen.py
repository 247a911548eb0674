"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow + the standard library: no Spark, so
inputs exist before the program under test starts. The same
``(workload, seed, scale)`` always produces byte-identical files. Each
generator writes a ``manifest.json`` next to its files with the
parameters the benchmark output records (rows, files, null rate,
planted-duplicate rate, vocabulary size, write:read ratio) plus the
expected values the output checks need.

``scale`` shrinks the input for set-up warm-up passes; the timed phase
always uses ``scale=1``.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------
# csv_etl: a directory of CSV files per write batch
# --------------------------------------------------------------------
CSV_COLUMNS = ["Unique ID", "Geo Type Name", "Geo Place Name", "Data Value", "Start Date", "Message"]
CSV_BATCHES = 3
CSV_FILES = 4
CSV_ROWS = 1500
CSV_NULL_RATE = 0.03
_GEO_TYPES = ["Borough", "Citywide", "UHF34", "UHF42", "CD"]


def _csv_file_columns(i: int) -> list[str]:
    """Column layout of file ``i`` of a batch: file 0 is canonical (it
    fixes the union's column order), one in four files reverses the
    order and one in four omits ``Geo Place Name``. A file that omits a
    column aligns by name to NULL there, so ``dropna`` removes all of
    its rows."""
    if i % 4 == 1:
        return list(reversed(CSV_COLUMNS))
    if i % 4 == 3:
        return [c for c in CSV_COLUMNS if c != "Geo Place Name"]
    return list(CSV_COLUMNS)


def gen_csv(root: str, seed: int, scale: float = 1.0) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_files = max(2, int(CSV_FILES * scale)) if scale < 1 else CSV_FILES
    n_rows = max(20, int(CSV_ROWS * scale))
    batches = []
    uid = 0
    for b in range(CSV_BATCHES):
        d = os.path.join(root, f"batch{b}")
        os.makedirs(d)
        kept = 0
        in_rows = 0
        for f in range(n_files):
            cols = _csv_file_columns(f)
            null = rng.random((n_rows, len(CSV_COLUMNS))) < CSV_NULL_RATE
            null[:, 0] = False  # the key is never null
            geo = rng.integers(0, len(_GEO_TYPES), n_rows)
            place = rng.integers(0, 200, n_rows)
            value = rng.integers(0, 1_000_000, n_rows) / 100.0
            day = rng.integers(0, 3650, n_rows)
            msg = rng.integers(0, 50, n_rows)
            rows = []
            for r in range(n_rows):
                full = {
                    "Unique ID": str(uid + r),
                    "Geo Type Name": _GEO_TYPES[geo[r]],
                    "Geo Place Name": f"Place {place[r]}",
                    "Data Value": f"{value[r]:.2f}",
                    "Start Date": str(np.datetime64("2010-01-01") + np.timedelta64(int(day[r]), "D")),
                    "Message": f"note {msg[r]}",
                }
                for j, c in enumerate(CSV_COLUMNS):
                    if null[r, j]:
                        full[c] = ""
                rows.append([full[c] for c in cols])
                if len(cols) == len(CSV_COLUMNS) and not null[r].any():
                    kept += 1
            uid += n_rows
            in_rows += n_rows
            with open(os.path.join(d, f"part-{f:03d}.csv"), "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(cols)
                w.writerows(rows)
        batches.append({
            "dir": f"batch{b}",
            "files": n_files,
            "rows": in_rows,
            "kept_rows": kept,
            "bytes": _tree_bytes(d),
        })
    return {
        "params": _params(n_files * n_rows, n_files, CSV_NULL_RATE, 0.0, 0, "1:2"),
        "batches": batches,
        "files_per_write": n_files,
        "columns": CSV_COLUMNS,
    }


def _write_table(path: str, cols: dict) -> None:
    """One parquet file with a single row group."""
    t = pa.table(cols)
    pq.write_table(t, path, row_group_size=max(1, t.num_rows))


# --------------------------------------------------------------------
# neardup_feed: a document corpus in per-epoch batches, with planted
# near-duplicates
# --------------------------------------------------------------------
DOC_BATCHES = 40
DOC_BATCH_SIZE = 250
DOC_VOCAB = 50_000
DOC_DUP_RATE = 0.10


def _words(idx: np.ndarray) -> list[str]:
    return [f"w{i:x}" for i in idx]


def gen_docs(root: str, seed: int, scale: float = 1.0) -> dict:
    """Docs of 60-100 words drawn uniformly from ``DOC_VOCAB`` tokens,
    so two unrelated docs share no word 3-gram in practice. With
    probability ``DOC_DUP_RATE`` a doc is instead a copy of an earlier
    doc (same or earlier batch) with one or two words replaced: Jaccard
    of 3-gram sets >= ~0.8 for copy pairs, so the 0.8 threshold keeps
    them, and the LSH bands (16 x 2 rows) miss such a pair with
    probability < 1e-7."""
    rng = np.random.default_rng([seed, 3])
    n_batches = DOC_BATCHES if scale >= 1 else 1
    size = max(20, int(DOC_BATCH_SIZE * scale))
    docs: list[list[str]] = []
    planted = 0
    for b in range(n_batches):
        ids, texts = [], []
        for _ in range(size):
            if docs and rng.random() < DOC_DUP_RATE:
                base = list(docs[rng.integers(0, len(docs))])
                for _e in range(int(rng.integers(1, 3))):
                    base[int(rng.integers(0, len(base)))] = f"w{int(rng.integers(0, DOC_VOCAB)):x}"
                words = base
                planted += 1
            else:
                words = _words(rng.integers(0, DOC_VOCAB, int(rng.integers(60, 101))))
            ids.append(len(docs))
            docs.append(words)
            texts.append(" ".join(words))
        _write_table(os.path.join(root, f"batch-{b:04d}.parquet"), {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
        })
    return {
        "params": _params(n_batches * size, n_batches, 0.0, DOC_DUP_RATE, DOC_VOCAB, "1:8"),
        "batches": n_batches,
        "docs_per_batch": size,
        "planted_dups": planted,
    }


def _params(rows, files, null_rate, dup_rate, vocab, ratio) -> dict:
    return {
        "rows": rows,
        "files": files,
        "null_rate": null_rate,
        "planted_dup_rate": dup_rate,
        "vocab": vocab,
        "write_read_ratio": ratio,
    }


GENERATORS = {
    "csv_etl": gen_csv,
    "neardup_feed": gen_docs,
}


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def materialize(cache_root: str, workload: str, seed: int, scale: float = 1.0, keep: int = 6) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` for the workload's inputs, generating
    them on first use. Generated inputs are cached per
    ``(workload, seed, scale)``; only the ``keep`` most recently used
    entries per workload survive, so a long series of seeds does not
    fill the disk."""
    with open(__file__, "rb") as fh:  # editing a generator invalidates its cache
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    name = f"{workload}-s{seed}-x{scale:g}-v{version}"
    d = os.path.join(cache_root, name)
    mpath = os.path.join(d, "manifest.json")
    if not os.path.isfile(mpath):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = GENERATORS[workload](tmp, seed, scale)
        manifest.update(seed=seed, scale=scale)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    _evict(cache_root, workload, keep)
    with open(mpath) as fh:
        return d, json.load(fh)


def _evict(cache_root: str, workload: str, keep: int) -> None:
    entries = [
        os.path.join(cache_root, e)
        for e in os.listdir(cache_root)
        if e.startswith(f"{workload}-s") and ".tmp" not in e
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
