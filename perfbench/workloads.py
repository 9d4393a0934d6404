"""The three benchmark workloads.

Each workload builds its seeded input (``fixtures``), runs one batch job per
call of ``job`` through the package's public operators, checks the job's
output in ``check`` (raising ``CheckFailed``), and measures its layers on a
fixed Arrow batch taken from its input (``layer_metrics``). ``job`` opens a
span around each layer call on the tracer it is given; an untraced job gets
a tracer whose spans do nothing, so traced and untraced jobs run the same
Spark operations. Where a span boundary needs an intermediate result, the
job caches it and counts it in both modes.

Why these three: ``screen_cascade`` loads the two-flank cascade (scored
verify, cache, full-outer combine) and leaves sketches and FASTQ parsing
idle; ``probe_grid_fastq`` is the raw-read path (gunzip, parse, Bloom
prescreen for many targets, the only sink write) with almost nothing
reaching verify; ``corpus_sketch`` is all sketch update and merge with no
screen code at all. An optimisation of one layer is exercised by one
workload and bypassed by the others.
"""

from __future__ import annotations

import functools
import glob
import gzip
import hashlib
import json
import os
import statistics
import time
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import fixtures
from bloomine_spark import oracle
from bloomine_spark.datagen import DEFAULT_TARGET
from bloomine_spark.functions.hashing import rolling_kgram_hash
from bloomine_spark.functions.kgrams import (
    raw_list_values,
    token_batch_from_arrow,
)
from bloomine_spark.operators.cascade import cascade, combined_flank_scores
from bloomine_spark.operators.multiscreen import screen_multi_scores
from bloomine_spark.operators.screen import (
    FlatWindows,
    make_screen_kernel,
    prepare_target,
)
from bloomine_spark.params import ScreenParams
from bloomine_spark.sketch.cms import CountMinSketch
from bloomine_spark.sketch.core import (
    STATE_COL,
    merge_grouped,
    sketch_partials,
    tree_merge_global,
)
from bloomine_spark.sketch.hll import HyperLogLog
from bloomine_spark.sketch.kll import KLL
from bloomine_spark.sources.fastq import (
    DNA_COMPLEMENT_MAP,
    parse_fastq_flat,
    read_fastq,
    tokenize_bases,
    write_fastq,
)

PARAMS = ScreenParams()
PROBE_TOKENS = 300_000  # size of the fixed batch the layer timings run on
_REPEATS = 3


class CheckFailed(Exception):
    """A job's output disagreed with the expected result."""


def _median_time(fn, repeats: int = _REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _digest(items) -> str:
    return hashlib.sha256("\n".join(sorted(items)).encode()).hexdigest()


def _parquet_batch(path: str, rows: int) -> pa.RecordBatch:
    first = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    table = pq.read_table(first).slice(0, rows).combine_chunks()
    return table.to_batches()[0]


def _bloom_member(bloom, seqs, k: int):
    """``member(kgram)`` answering as ``bloom`` does for every k-gram of
    ``seqs``, so the oracle sees the filter's false positives too."""
    table = {}
    for seq in seqs:
        arr = np.asarray(seq, dtype=np.uint64)
        win = np.lib.stride_tricks.sliding_window_view(arr, k)
        h = rolling_kgram_hash(arr, len(arr) - k + 1, k)
        table.update(zip(map(tuple, win.tolist()),
                         bloom.contains_hashes(h).tolist()))
    return table.__getitem__


def _probe_rows(lens: np.ndarray) -> int:
    """Leading rows holding about ``PROBE_TOKENS`` tokens."""
    return int(np.searchsorted(np.cumsum(lens), PROBE_TOKENS)) + 1


def kernel_metrics(rb: pa.RecordBatch, targets: list[list[int]],
                   complement_map=None) -> dict:
    """Single-threaded layer timings on one Arrow batch.

    Screen figures cover every target in ``targets`` (empty for a workload
    that runs no screen, whose screen figures are then 0). The prescreen is
    the forward and reversed window hashing, done once as the multi-target
    kernel does, plus every target's Bloom probes; verify is the screen
    kernel's time beyond the prescreen.
    """
    k = PARAMS.k
    tb = token_batch_from_arrow(rb, "tokens")
    values = raw_list_values(rb, "tokens")
    n_win = len(tb.flat) - k + 1
    hashes = rolling_kgram_hash(tb.flat, n_win, k)
    bloom = prepare_target(DEFAULT_TARGET, PARAMS).bloom
    out = {
        "functions.rolling_hash_ns_per_token": 1e9 * _median_time(
            lambda: rolling_kgram_hash(tb.flat, n_win, k)) / len(tb.flat),
        "sketch.bloom.probe_ns_per_window": 1e9 * _median_time(
            lambda: bloom.contains_hashes(hashes)) / n_win,
    }
    for name, factory in (("hll", _hll), ("cms", _cms), ("kll", _kll)):
        out[f"sketch.{name}.update_ns_per_value"] = 1e9 * _median_time(
            lambda f=factory: f().update_values(values)) / len(values)

    ctxs = [prepare_target(t, PARAMS, complement_map) for t in targets]

    def prescreen():
        for rev in (False, True):
            win = FlatWindows(tb, k, reverse=rev,
                              complement_map=complement_map if rev else None)
            for ctx in ctxs:
                ctx.bloom.contains_hashes(win.hashes)

    kern, parts = 0.0, []
    for ctx in ctxs:
        kernel = make_screen_kernel(types.SimpleNamespace(value=ctx),
                                    "tokens", ["doc_id"], "scored",
                                    True, False)
        runs = []
        kern += _median_time(lambda: runs.append(list(kernel([rb]))))
        parts += runs[0]
    pre = _median_time(prescreen) if ctxs else 0.0
    fp = sum(p.num_rows for p in parts)
    sp, rc = (sum(int(np.sum(p.column(c).to_numpy(False))) for p in parts)
              for c in ("sp_pass", "rc"))
    out.update({
        "screen.prescreen_s": pre,
        "screen.verify_s": max(kern - pre, 0.0),
        "screen.fp_pass_ratio": fp / (rb.num_rows * len(ctxs)) if ctxs
        else 0.0,
        "screen.sp_pass_ratio": sp / fp if fp else 0.0,
        "screen.rc_share": rc / fp if fp else 0.0,
    })
    return out


def prepare_seconds(targets, complement_map=None) -> float:
    """Driver-side ``prepare_target`` time for all of a job's targets."""
    return _median_time(lambda: [prepare_target(t, PARAMS, complement_map)
                                 for t in targets]) if targets else 0.0


# picklable factories: executors import them from bloomine_spark
_hll = functools.partial(HyperLogLog.empty, 12)
_cms = functools.partial(CountMinSketch.empty, 1e-3, 1e-3)
_kll = functools.partial(KLL, 200)


class _ParquetWorkload:
    """A workload whose input is a parquet ``sequences`` table."""

    files = 8
    vocab = 256

    def __init__(self, cache: str, sink: str, seed: int, small: bool):
        self.rows = self.sizes[small]
        self.path = fixtures.sequences_table(cache, seed, self.rows,
                                             self.files, self.vocab)
        self.tokens = int(pq.read_table(self.path, columns=["n_tok"])
                          .column("n_tok").to_numpy().sum())

    def source(self, spark):
        return spark.read.parquet(self.path)

    def probe_batch(self) -> pa.RecordBatch:
        rb = _parquet_batch(self.path, 1 << 30)
        lens = rb.column(rb.schema.get_field_index("n_tok")).to_numpy()
        return rb.slice(0, _probe_rows(lens))

    def parquet_scan(self, spark, tracer) -> float:
        with tracer.span("sources.parquet_scan") as s:
            spark.read.parquet(self.path).select(
                F.sum(F.size("tokens"))).collect()
        return tracer.duration(s)


class ScreenCascade(_ParquetWorkload):
    """Two-flank cascade over a parquet sequences table: flank 1 and flank 2
    are the halves of the planted 24-token target, so about a fifth of the
    rows pass the prescreen and reach the scored verify."""

    name = "screen_cascade"
    sizes = (25_000, 4_000)  # rows: full, smoke
    nominal_job_s = 2.5  # one job on a 4-core machine; sets the job count
    flanks = (DEFAULT_TARGET[:12], DEFAULT_TARGET[12:])
    oracle_rows = 300

    def __init__(self, cache: str, sink: str, seed: int, small: bool):
        super().__init__(cache, sink, seed, small)
        self.thresholds = [prepare_target(f, PARAMS).mst for f in self.flanks]
        self._digest = None

    def job(self, spark, df, tracer):
        """Ids of the rows passing both flanks; ``cascade`` caches both
        score logs, and counting each one ends its flank's span."""
        with tracer.span("cascade.flank1"):
            _hits, s1, s2 = cascade(df, *self.flanks, PARAMS,
                                    keep_tokens=False)
            s1.count()
        with tracer.span("cascade.flank2"):
            s2.count()
        with tracer.span("cascade.combine"):
            rows = (combined_flank_scores(s1, s2, *self.thresholds)
                    .filter(F.col("pass") == 1).select("doc_id").collect())
        s1.unpersist()
        s2.unpersist()
        return [r.doc_id for r in rows]

    def check(self, hits) -> None:
        digest = _digest(hits)
        if self._digest is None:
            self._check_oracle(set(hits))
            self._digest = digest
        elif digest != self._digest:
            raise CheckFailed("cascade hit set changed between runs")

    def _check_oracle(self, hits: set) -> None:
        """Hit decisions on a row sample against the pure-Python oracle,
        with Bloom membership emulated so filter false positives agree."""
        k = PARAMS.k
        rb = _parquet_batch(self.path, self.oracle_rows * 10)
        ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
        toks = rb.column(rb.schema.get_field_index("tokens")).to_pylist()
        blooms = [prepare_target(f, PARAMS).bloom for f in self.flanks]
        for i in range(0, len(ids), 10):
            read = toks[i]
            want = all(oracle.screen_read(
                read, f, PARAMS, _bloom_member(b, (read, read[::-1]), k)).hit
                for f, b in zip(self.flanks, blooms))
            if want != (ids[i] in hits):
                raise CheckFailed(f"cascade decision differs from the "
                                  f"oracle on {ids[i]}")

    def layer_metrics(self, spark, tracer) -> dict:
        scan = self.parquet_scan(spark, tracer)
        out = kernel_metrics(self.probe_batch(), [self.flanks[0]])
        sp_rows = out["screen.fp_pass_ratio"] * out["screen.sp_pass_ratio"]
        out.update({
            "sources.parquet_scan_s": scan,
            "screen.prepare_s": prepare_seconds(self.flanks),
            "cascade.flank2_input_ratio": sp_rows,
        })
        return out


class ProbeGridFastq:
    """Several DNA probes x 2 flanks screened in one pass over per-sample
    FASTQ.gz files; hit reads are semi-joined back and written as FASTQ."""

    name = "probe_grid_fastq"
    sizes = (16_000, 4_000)  # reads: full, smoke
    nominal_job_s = 3.5
    n_probes = 3

    def __init__(self, cache: str, sink: str, seed: int, small: bool):
        self.reads = self.sizes[small]
        self.path = fixtures.fastq_set(cache, seed, self.reads,
                                       self.n_probes)
        with open(os.path.join(self.path, "meta.json")) as fh:
            meta = json.load(fh)
        self.planted = meta["planted"]
        self.tokens = meta["bases"]
        self.files = sorted(glob.glob(os.path.join(self.path, "*.fastq.gz")))
        self.targets = {
            f"{pid}.f{j + 1}": tokenize_bases(flank).tolist()
            for pid, pair in fixtures.dna_probes(seed, self.n_probes).items()
            for j, flank in enumerate(pair)
        }
        self.out = os.path.join(sink, "hits")
        self.max_unplanted = max(5, self.reads // 1000)
        self._records = None

    def source(self, spark):
        return self.files

    def _hit_keys(self, reads):
        scores = screen_multi_scores(reads, self.targets,
                                     complement_map=DNA_COMPLEMENT_MAP)
        return scores.filter(F.col("sp_pass")).select(
            "source", "doc_id").distinct()

    def job(self, spark, files, tracer):
        """Scan the reads into the cache once, screen them, then semi-join
        the collected hit keys back to the cached reads and write them."""
        with tracer.span("sources.fastq_scan"):
            reads = read_fastq(spark, files, keep_quality=True).cache()
            reads.count()
        with tracer.span("multiscreen.screen"):
            rows = self._hit_keys(reads).collect()
        with tracer.span("sources.sink_write"):
            keys = spark.createDataFrame(rows, "source string, doc_id string")
            write_fastq(reads.join(keys, ["source", "doc_id"], "left_semi"),
                        self.out)
        reads.unpersist()
        return self.out

    def check(self, out: str) -> None:
        if self._records is None:
            self._records = {}
            for f in self.files:
                sample = os.path.basename(f).split(".")[0]
                for rid, rec in fixtures.fastq_records(f).items():
                    self._records[(sample, rid)] = rec
        got = {}
        for part in glob.glob(os.path.join(out, "source=*", "part-*")):
            sample = os.path.basename(os.path.dirname(part))[len("source="):]
            with open(part, "rb") as fh:
                lines = fh.read().split(b"\n")
            for i in range(0, len(lines) - 3, 4):
                got[(sample, lines[i][1:].decode())] = b"\n".join(
                    lines[i:i + 4])
        want = {(s, r) for s, ids in self.planted.items() for r in ids}
        missing, extra = want - got.keys(), got.keys() - want
        if missing:
            raise CheckFailed(f"{len(missing)} planted reads not in the "
                              f"sink, e.g. {min(missing)}")
        for key, rec in got.items():
            if self._records.get(key) != rec:
                raise CheckFailed(f"sink record {key} differs from input")
        # a random read passes a flank's screen about once in 10^4 reads:
        # each one must be a hit of the pure-Python oracle, and many more
        # than that rate means the screen passes reads it should not
        if len(extra) > self.max_unplanted:
            raise CheckFailed(f"{len(extra)} unplanted reads in the sink")
        for key in sorted(extra):
            if not self._oracle_hit(self._records[key].split(b"\n")[1]):
                raise CheckFailed(f"unplanted sink read {key} is not an "
                                  f"oracle hit")

    def _oracle_hit(self, bases: bytes) -> bool:
        """Whether the oracle passes the read for any flank, with Bloom
        membership emulated and the retry on the reverse complement."""
        k = PARAMS.k
        read = tokenize_bases(bases).tolist()
        rc = DNA_COMPLEMENT_MAP[np.asarray(read[::-1])].tolist()
        for t in self.targets.values():
            bloom = prepare_target(t, PARAMS, DNA_COMPLEMENT_MAP).bloom
            member = _bloom_member(bloom, (read, rc), k)
            if oracle.screen_read(read, t, PARAMS, member,
                                  lambda r, rc=rc: rc).sp_pass:
                return True
        return False

    def layer_metrics(self, spark, tracer) -> dict:
        with open(self.files[-1], "rb") as fh:
            ids, flat, offsets, _q = parse_fastq_flat(
                gzip.decompress(fh.read()))
        n = min(_probe_rows(np.diff(offsets)), len(ids))
        rb = pa.RecordBatch.from_arrays(
            [pa.array(ids[:n]),
             pa.ListArray.from_arrays(pa.array(offsets[:n + 1], pa.int32()),
                                      pa.array(flat[:offsets[n]]))],
            ["doc_id", "tokens"])
        out = kernel_metrics(rb, list(self.targets.values()),
                             DNA_COMPLEMENT_MAP)
        sink_bytes = sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(self.out, "source=*", "part-*")))
        out.update({
            "sources.sink_bytes": sink_bytes,
            "screen.prepare_s": prepare_seconds(
                list(self.targets.values()), DNA_COMPLEMENT_MAP),
        })
        return out


class CorpusSketch(_ParquetWorkload):
    """HLL and CMS over ``tokens`` and KLL over ``n_tok`` globally, plus HLL
    per skewed ``source``, on one parquet table whose vocabulary (2^16
    tokens at full size) is far above the HLL register count."""

    name = "corpus_sketch"
    sizes = (24_000, 4_000)  # rows: full, smoke
    nominal_job_s = 3.5
    # the vocabulary scales with the corpus (~100 tokens per entry), so every
    # source's distinct count is near the vocabulary size at both sizes
    vocabs = (1 << 16, 1 << 13)
    aggs = (("hll", [], "tokens", _hll), ("cms", [], "tokens", _cms),
            ("kll", [], "n_tok", _kll), ("hll_source", ["source"], "tokens",
                                         _hll))

    def __init__(self, cache: str, sink: str, seed: int, small: bool):
        self.vocab = self.vocabs[small]
        super().__init__(cache, sink, seed, small)
        self._exact = None

    def job(self, spark, df, tracer):
        """The two stages ``sketch_agg`` and ``sketch_agg_global`` are made
        of, with the partial states persisted between them so each stage
        has its own span."""
        out = {}
        for name, cols, col, factory in self.aggs:
            with tracer.span("sketch.core.partials"):
                parts = sketch_partials(df, cols, col, factory).persist()
                parts.count()
            with tracer.span("sketch.core.merge"):
                if cols:
                    rows = merge_grouped(parts, cols, factory).collect()
                    out[name] = {r[cols[0]]: HyperLogLog.from_bytes(
                        r[STATE_COL]) for r in rows}
                else:
                    out[name] = type(factory()).from_bytes(
                        tree_merge_global(parts, factory))
            parts.unpersist()
        return out

    def _exact_stats(self):
        """Exact counts, plus one in-process HLL and CMS over the same
        tokens: both merges are exact, so Spark's merged states must equal
        these bit for bit."""
        table = pq.read_table(self.path)
        flat = table.column("tokens").combine_chunks().values.to_numpy()
        sources = table.column("source").to_numpy(zero_copy_only=False)
        rows_src = np.repeat(sources, table.column("n_tok").to_numpy())
        per_source = {}
        for s in np.unique(sources):
            vals = flat[rows_src == s]
            ref = _hll()
            ref.update_values(vals)
            per_source[s] = (len(np.unique(vals)), ref)
        ref_hll, ref_cms = _hll(), _cms()
        ref_hll.update_values(flat)
        ref_cms.update_values(flat)
        return {"counts": np.bincount(flat, minlength=self.vocab),
                "per_source": per_source, "hll": ref_hll, "cms": ref_cms,
                "n_tok": np.sort(table.column("n_tok").to_numpy())}

    def check(self, out) -> None:
        if self._exact is None:
            self._exact = self._exact_stats()
        ex = self._exact
        counts, per_source = ex["counts"], ex["per_source"]
        if set(out["hll_source"]) != set(per_source):
            raise CheckFailed("per-source HLL groups differ from sources")
        hll_err = 3 * 1.04 / np.sqrt(out["hll"].m)
        triples = [(out["hll"], int(np.count_nonzero(counts)), ex["hll"])]
        triples += [(out["hll_source"][s], n, ref)
                    for s, (n, ref) in per_source.items()]
        for got, exact, ref in triples:
            if not np.array_equal(got.registers, ref.registers):
                raise CheckFailed("merged HLL registers differ from one "
                                  "sketch over the same tokens")
            if abs(got.estimate() - exact) > hll_err * exact:
                raise CheckFailed(f"HLL estimate {got.estimate():.0f} vs "
                                  f"exact {exact}")
        if not np.array_equal(out["cms"].counts, ex["cms"].counts):
            raise CheckFailed("merged CMS counters differ from one sketch "
                              "over the same tokens")
        cms = out["cms"]
        present = np.flatnonzero(counts)
        est = cms.estimate_values(present)
        if np.any(est < counts[present]):
            raise CheckFailed("CMS underestimates a count")
        eps_n = np.e / cms.w * counts.sum()
        over = int(np.sum(est - counts[present] > eps_n))
        # each point query exceeds eps*N with probability at most delta
        if over > 1e-3 * len(present):
            raise CheckFailed(f"CMS exceeds eps*N on {over} tokens")
        kll, n_tok = out["kll"], ex["n_tok"]
        n = len(n_tok)
        for q in (0.1, 0.25, 0.5, 0.75, 0.9):
            x = kll.quantile(q)
            lo = np.searchsorted(n_tok, x, side="left") / n
            hi = np.searchsorted(n_tok, x, side="right") / n
            if not lo - 0.03 <= q <= hi + 0.03:
                raise CheckFailed(f"KLL q={q} rank outside bound")

    def layer_metrics(self, spark, tracer) -> dict:
        scan = self.parquet_scan(spark, tracer)
        df = self.source(spark)
        state_bytes = sum(
            sketch_partials(df, cols, col, factory).select(
                F.sum(F.length(STATE_COL))).collect()[0][0]
            for _name, cols, col, factory in self.aggs)
        out = kernel_metrics(self.probe_batch(), [])
        out.update({
            "sources.parquet_scan_s": scan,
            "sketch.core.state_bytes": state_bytes,
        })
        return out


WORKLOADS = {w.name: w for w in (ScreenCascade, ProbeGridFastq, CorpusSketch)}
