"""Seeded benchmark inputs, cached on disk by (kind, seed, size).

Two fixture kinds:

* a parquet ``sequences`` table built with ``bloomine_spark.datagen``
  (planted target categories, ``source`` skewed so ``src0`` holds about half
  the rows), written as one file per Spark task;
* a per-sample FASTQ.gz set: 150-bp reads of unequal sample sizes, with about
  1% of reads carrying a planted flank pair of one of the probes, half of
  them reverse-complemented.

Generation is vectorized numpy (fixed-width records assembled as one byte
matrix), so building either fixture takes about a second. Entries are
written to a temporary name and renamed, so an interrupted run never leaves
a half-written entry, and only the newest few entries are kept.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np

READ_LEN = 150
FLANK_LEN = 24
PLANT_SHARE = 0.01
# unequal per-sample shares: the largest sample is ~30% of all bases, so on
# 4 cores its task outlasts the others (the straggler real sample sets show)
SAMPLE_WEIGHTS = (1, 1, 1, 1, 2, 2, 3, 5)
_KEEP_ENTRIES = 6
_ACGT = np.frombuffer(b"ACGT", dtype=np.uint8)
_COMPLEMENT = np.zeros(256, dtype=np.uint8)
for _a, _b in zip(b"ACGT", b"TGCA"):
    _COMPLEMENT[_a] = _b


def _evict(cache_dir: str, keep: str) -> None:
    """Drop all but the newest entries; never the one just made."""
    entries = [os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
               if not e.startswith(".")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[_KEEP_ENTRIES:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _cached(cache_dir: str, name: str, build) -> str:
    """Path of the cache entry ``name``, building it with ``build(tmp)``."""
    path = os.path.join(cache_dir, name)
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(cache_dir, exist_ok=True)
    tmp = os.path.join(cache_dir, f".tmp-{name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    _evict(cache_dir, path)
    return path


def sequences_table(cache_dir: str, seed: int, rows: int, files: int,
                    vocab: int) -> str:
    """Directory of ``files`` parquet files holding ``rows`` sequences with
    tokens drawn from ``range(vocab)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomine_spark.datagen import generate_rows

    def build(tmp: str) -> None:
        bounds = np.linspace(0, rows, files + 1).astype(np.int64)
        for i in range(files):
            pdf = generate_rows(np.arange(bounds[i], bounds[i + 1]),
                                seed=seed, vocab=vocab)
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                           os.path.join(tmp, f"part-{i:03d}.parquet"))

    return _cached(cache_dir, f"seq-s{seed}-r{rows}-f{files}-v{vocab}", build)


def dna_probes(seed: int, n_probes: int) -> dict[str, tuple[str, str]]:
    """``{probe_id: (flank1, flank2)}`` of random ``FLANK_LEN``-bp flanks."""
    rng = np.random.default_rng([seed, 1])
    flanks = _ACGT[rng.integers(0, 4, size=(n_probes, 2, FLANK_LEN))]
    return {f"p{i}": (flanks[i, 0].tobytes().decode(),
                      flanks[i, 1].tobytes().decode())
            for i in range(n_probes)}


def _digits(values: np.ndarray, width: int) -> np.ndarray:
    """(n, width) ASCII matrix of zero-padded decimal ``values``."""
    pows = 10 ** np.arange(width - 1, -1, -1, dtype=np.int64)
    digits = (values[:, None] // pows[None, :]) % 10 + ord("0")
    return digits.astype(np.uint8)


def _sample_fastq(rng, sample: int, n_reads: int,
                  probes: list[tuple[bytes, bytes]]
                  ) -> tuple[bytes, list[str]]:
    """One sample's uncompressed FASTQ bytes and its planted read ids."""
    seq = _ACGT[rng.integers(0, 4, size=(n_reads, READ_LEN))]
    qual = rng.integers(ord("#"), ord("J") + 1, size=(n_reads, READ_LEN),
                        dtype=np.uint8)
    planted = np.flatnonzero(rng.random(n_reads) < PLANT_SHARE)
    which = rng.integers(0, len(probes), size=len(planted))
    gaps = rng.integers(10, 41, size=len(planted))
    starts = rng.integers(0, READ_LEN - 2 * FLANK_LEN - gaps + 1)
    rev = rng.random(len(planted)) < 0.5
    for r, p, gap, at, rc in zip(planted, which, gaps, starts, rev):
        f1, f2 = probes[p]
        row = seq[r]
        row[at:at + FLANK_LEN] = np.frombuffer(f1, np.uint8)
        b = at + FLANK_LEN + gap
        row[b:b + FLANK_LEN] = np.frombuffer(f2, np.uint8)
        if rc:
            seq[r] = _COMPLEMENT[row[::-1]]

    # fixed-width records "@sNN_rNNNNNNNN\n<seq>\n+\n<qual>\n" as one matrix
    id_head = np.frombuffer(f"@s{sample:02d}_r".encode(), np.uint8)
    ids = np.hstack([np.tile(id_head, (n_reads, 1)),
                     _digits(np.arange(n_reads), 8)])
    nl = np.full((n_reads, 1), ord("\n"), np.uint8)
    plus = np.tile(np.frombuffer(b"\n+\n", np.uint8), (n_reads, 1))
    recs = np.hstack([ids, nl, seq, plus, qual, nl])
    planted_ids = [ids[r, 1:].tobytes().decode() for r in planted]
    return recs.tobytes(), planted_ids


def fastq_set(cache_dir: str, seed: int, reads: int,
              n_probes: int) -> str:
    """Directory of per-sample ``.fastq.gz`` files for ``reads`` reads in
    total, plus ``meta.json`` holding the base count and the planted read
    ids per sample."""
    probes = [(a.encode(), b.encode())
              for a, b in dna_probes(seed, n_probes).values()]
    weights = np.asarray(SAMPLE_WEIGHTS, dtype=np.float64)
    per_sample = np.floor(reads * weights / weights.sum()).astype(np.int64)

    def build(tmp: str) -> None:
        planted = {}
        for s, n in enumerate(per_sample.tolist()):
            rng = np.random.default_rng([seed, 2, s])
            data, ids = _sample_fastq(rng, s, n, probes)
            with open(os.path.join(tmp, f"s{s:02d}.fastq.gz"), "wb") as fh:
                fh.write(gzip.compress(data, compresslevel=1, mtime=0))
            planted[f"s{s:02d}"] = ids
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"bases": int(per_sample.sum()) * READ_LEN,
                       "planted": planted}, fh)

    return _cached(cache_dir, f"fq-s{seed}-r{reads}-p{n_probes}", build)


def fastq_records(path: str) -> dict[str, bytes]:
    """``{read_id: record bytes without the final newline}`` of one file."""
    with open(path, "rb") as fh:
        lines = gzip.decompress(fh.read()).split(b"\n")
    return {lines[i][1:].decode(): b"\n".join(lines[i:i + 4])
            for i in range(0, len(lines) - 3, 4)}
