"""Two-phase Bloom-prescreen + verify filter over token sequences.

The flagship operator (SURVEY.md §2.2 F1/F3/F4): given a target token
pattern, find rows whose token array contains it (exactly, or within a
scored error tolerance). Phase 1 is a Bloom membership prescreen over
distinct k-gram windows with a reversed-array retry on failure; phase 2
verifies survivors (exact subarray containment, or the reference's
max-subalignment score vs MST).

Spark-first design: the whole per-row pipeline (FP → RC retry → SP) runs
fused inside ONE ``mapInPandas`` pass — shuffle-free, embarrassingly
parallel, the cluster-scale analog of the reference's per-thread loop
(/root/reference/src/BlooMineUtils.cpp:306-373). The Bloom filter, target
k-gram set, and thresholds are built once on the driver (they are tiny) and
shipped via a Spark broadcast, exactly as the reference shares its filter by
const-ref across threads (/root/reference/src/BlooMineUtils.cpp:262-264).
Everything inside the kernel is vectorized numpy over Arrow batches — no
per-row Python in the FP hot path; only post-prescreen survivors (a tiny
fraction) see per-row scoring.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloomine_spark.functions.hashing import hash_kgram_columns
from bloomine_spark.functions.kgrams import (
    TokenBatch,
    distinct_per_row,
    unique_kgram_hashes,
)
from bloomine_spark.params import ScreenParams
from bloomine_spark.sketch.bloom import BloomFilter


@dataclass
class TargetContext:
    """Driver-built, broadcast-shipped screening context for one target.

    The build is the reference's generateBloomFilter + MST computation
    (/root/reference/src/BlooMineUtils.cpp:76-120) re-expressed over token
    k-grams.
    """

    target_tokens: np.ndarray        # int64
    k: int
    params: ScreenParams
    kset_hashes: np.ndarray          # sorted unique uint64 k-gram hashes
    kgram_matrix: np.ndarray         # (n_kset, k) int64, rows sorted by hash
    fp_threshold: int
    mst: float
    bloom_bytes: bytes
    complement_map: np.ndarray | None = None  # optional vocab permutation
    # this target's answer tables (screen_scores builds them on the driver)
    answers: AnswerTables | None = None

    _bloom: BloomFilter | None = field(default=None, repr=False, compare=False)

    @property
    def bloom(self) -> BloomFilter:
        if self._bloom is None:
            object.__setattr__(self, "_bloom", BloomFilter.from_bytes(self.bloom_bytes))
        return self._bloom

    def __getstate__(self):
        d = dict(self.__dict__)
        d["_bloom"] = None
        return d

    def low_complexity(self) -> bool:
        """True when <50% of the target's k-grams are unique — the
        reference's Bloom-FP blowup warning (/root/reference/src/utilities.hpp:89-99)."""
        n_windows = max(len(self.target_tokens) - self.k + 1, 0)
        return len(self.kset_hashes) < 0.5 * n_windows


def prepare_target(
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> TargetContext:
    tokens = np.asarray(list(target_tokens), dtype=np.int64)
    k = params.k
    if len(tokens) < k:
        raise ValueError(f"target shorter than k={k}")
    hashes = unique_kgram_hashes(tokens, k)
    # k-gram token matrix aligned with the sorted hash array (for exact
    # candidate verification — hash collisions must not fabricate coverage)
    from bloomine_spark.functions.hashing import rolling_kgram_hash

    win = np.lib.stride_tricks.sliding_window_view(tokens, k)
    wh = rolling_kgram_hash(tokens.astype(np.uint64), len(tokens) - k + 1, k)
    order = np.argsort(wh, kind="stable")
    wh_sorted = wh[order]
    first = np.ones(len(wh_sorted), dtype=bool)
    first[1:] = wh_sorted[1:] != wh_sorted[:-1]
    kgram_matrix = win[order][first]
    kset_hashes = wh_sorted[first]
    if len(kset_hashes) != len(hashes):  # pragma: no cover - sanity
        raise AssertionError("hash dedup mismatch")

    bf = BloomFilter.build(kset_hashes, params.false_positive)
    return TargetContext(
        target_tokens=tokens,
        k=k,
        params=params,
        kset_hashes=kset_hashes,
        kgram_matrix=np.ascontiguousarray(kgram_matrix, dtype=np.int64),
        fp_threshold=params.fp_threshold(len(kset_hashes)),
        mst=params.mst(len(kset_hashes)),
        bloom_bytes=bf.to_bytes(),
        complement_map=complement_map,
    )


# ---------------------------------------------------------------------------
# scoring kernel (runs only on prescreen survivors)
# ---------------------------------------------------------------------------

def score_coverage_mask(mask: np.ndarray, p: ScreenParams) -> int:
    """Max-subalignment score of one boolean coverage mask (thin wrapper
    over score_runs; kept as the conformance-test surface)."""
    edges = np.flatnonzero(np.diff(mask.astype(np.int8)))
    starts = np.concatenate(([0], edges + 1))
    ends = np.concatenate((edges + 1, [len(mask)]))
    return score_runs(mask[starts], ends - starts, p)


def score_runs(run_cov: np.ndarray, run_len: np.ndarray, p: ScreenParams) -> int:
    """Max-subalignment score from a run-length-encoded coverage mask.

    Implements the reference's removeTrailing → splitSubalignments →
    findMaxSubalignment chain (/root/reference/src/FQread.hpp:320-489),
    preserving the X9 bridge-cost quirk ``go + (ge*g - 1)``. Only prescreen
    survivors reach this (SURVEY.md §7 risk note).
    """
    cov_idx = np.flatnonzero(run_cov)
    if len(cov_idx) == 0:
        return 0
    # strip leading/trailing uncovered runs (removeTrailing)
    lo, hi = cov_idx[0], cov_idx[-1]
    run_cov = run_cov[lo : hi + 1]
    run_len = run_len[lo : hi + 1]

    gap_threshold = p.gap_threshold()

    # fragments: maximal chunks split at gap runs >= gap_threshold; within a
    # fragment, covered runs score +hit*len, internal gaps -go-(g-1)*ge
    frag_scores: list[float] = []
    frag_gaps: list[int] = []
    cur = 0.0
    for cov, ln in zip(run_cov, run_len):
        if cov:
            cur += p.hit * int(ln)
        elif ln >= gap_threshold:
            frag_scores.append(int(cur))
            frag_gaps.append(int(ln))
            cur = 0.0
        else:
            cur -= p.gap_open + p.gap_extend * (int(ln) - 1)
    frag_scores.append(int(cur))
    frag_gaps.append(0)

    s = len(frag_scores)
    best = frag_scores[0]
    if s > 1:
        for i in range(s):
            acc = 0.0
            for j in range(i, s):
                acc += frag_scores[j]
                cand = int(acc) if j > i else frag_scores[i]
                if cand > best:
                    best = cand
                if j < s - 1:
                    acc -= p.gap_open
                    acc -= p.gap_extend * frag_gaps[j] - 1  # X9 quirk
    return int(best)


# ---------------------------------------------------------------------------
# the mapInPandas kernel
# ---------------------------------------------------------------------------

class FlatWindows:
    """All length-k windows of the FLAT buffer, row structure derived
    lazily: hashes are computed for every flat position once; row ids /
    in-row starts / validity are materialized only for the (few) positions
    that survive a probe. This keeps per-batch transient allocations to the
    hash array itself — large temporaries serialize multi-worker executors
    on kernel page zeroing."""

    def __init__(self, batch: TokenBatch, k: int, reverse: bool = False,
                 complement_map: np.ndarray | None = None):
        from bloomine_spark.functions.hashing import rolling_kgram_hash

        self.batch = batch
        self.k = k
        self.reverse = reverse
        flat = batch.flat
        if complement_map is not None:
            flat = complement_map[flat.astype(np.int64)].astype(np.uint64)
        n_flat = max(len(flat) - k + 1, 0)
        self.hashes = rolling_kgram_hash(flat, n_flat, k, reverse=reverse)
        self._row_ends = batch.offsets + batch.lens

    def rows_of(self, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(row_ids, valid_mask) for flat window positions."""
        rows = np.searchsorted(self.batch.offsets, pos, side="right") - 1
        valid = pos + self.k <= self._row_ends[rows]
        return rows, valid

    def starts_of(self, pos: np.ndarray, rows: np.ndarray) -> np.ndarray:
        """In-row window starts (reversed-row coordinates when reverse)."""
        starts = pos - self.batch.offsets[rows]
        if self.reverse:
            starts = self.batch.lens[rows] - self.k - starts
        return starts


def _row_hit_counts(
    win: FlatWindows, hit_pos: np.ndarray, n_rows: int,
    row_mask: np.ndarray | None,
) -> np.ndarray:
    """Distinct-kgram filter hit count per row (vectorized F1/A3).

    Row structure is derived for the hit windows only:
    distinct-hits-per-row == distinct (row, hash) among valid hits.
    """
    if len(hit_pos) == 0:
        return np.zeros(n_rows, dtype=np.int64)
    rows, valid = win.rows_of(hit_pos)
    if row_mask is not None:
        valid &= row_mask[rows]
    rows = rows[valid]
    hh = win.hashes[hit_pos[valid]]
    uniq = distinct_per_row(rows, hh)
    return np.bincount(rows[uniq], minlength=n_rows)


# largest vocab**k for which the screen precomputes answer tables: 1 Mi
# codes are 8 MB per table at 64 targets and 2 Mi filter probes per target
ANSWER_TABLE_MAX_CODES = 1 << 20


@dataclass
class AnswerTables:
    """Every target filter's answer for every k-gram of a small vocabulary.

    A ``complement_map`` of V tokens declares the vocabulary, so a window
    has one of only V**k k-grams (5**7 = 78,125 for DNA at k=7). Entry
    ``fwd[c]`` holds bit t == ``ctxs[t].bloom.contains_hashes`` of the
    forward hash of k-gram code c = sum(tok[j] * V**(k-1-j)); ``rev[c]`` the
    same for the reverse(-complement) window. The hashes are FlatWindows'
    (same recurrence, same orientation transform), so one gather per
    window gives the very answers every per-target probe would — false
    positives included.
    """

    vocab: int
    k: int
    n_targets: int
    fwd: np.ndarray  # (V**k,) uint8/16/32/64; (V**k, words) above 64 targets
    rev: np.ndarray

    @classmethod
    def build(cls, ctxs: Sequence[TargetContext]) -> AnswerTables | None:
        """Tables for ``ctxs`` (one k, one complement map), or None when
        no vocabulary is declared or V**k exceeds ANSWER_TABLE_MAX_CODES."""
        cmap = ctxs[0].complement_map if ctxs else None
        if cmap is None:
            return None
        v, k = len(cmap), ctxs[0].k
        n = v**k
        if n > ANSWER_TABLE_MAX_CODES:
            return None
        # token j of every k-gram, in code order; the reverse window is
        # FlatWindows' transform: complement each token, read right to left
        place = v ** np.arange(k - 1, -1, -1, dtype=np.int64)
        digits = (np.arange(n, dtype=np.int64)[:, None] // place) % v
        h_f = hash_kgram_columns([c.astype(np.uint64) for c in digits.T])
        h_r = hash_kgram_columns(
            [cmap[c].astype(np.uint64) for c in digits.T[::-1]]
        )
        n_t = len(ctxs)
        words = -(-n_t // 64)
        dtype = next(d for d in (np.uint8, np.uint16, np.uint32, np.uint64)
                     if np.iinfo(d).bits >= min(n_t, 64))
        fwd = np.zeros((n, words), dtype=dtype)
        rev = np.zeros((n, words), dtype=dtype)
        for t, ctx in enumerate(ctxs):
            bit = dtype(1 << (t % 64))
            fwd[ctx.bloom.contains_hashes(h_f), t // 64] |= bit
            rev[ctx.bloom.contains_hashes(h_r), t // 64] |= bit
        if words == 1:
            fwd, rev = fwd[:, 0].copy(), rev[:, 0].copy()
        return cls(v, k, n_t, fwd, rev)

    def codes(self, flat: np.ndarray) -> np.ndarray | None:
        """int32 k-gram code of every flat window; None when some token is
        outside the vocabulary (the caller then probes the filters)."""
        if len(flat) and int(flat.max()) >= self.vocab:
            return None
        n_win = max(len(flat) - self.k + 1, 0)
        tok = flat.astype(np.int32)
        code = tok[:n_win].copy()
        for j in range(1, self.k):
            code *= self.vocab
            code += tok[j : j + n_win]
        return code

    def hits(self, table: np.ndarray, codes: np.ndarray) -> list[np.ndarray]:
        """Per target, the window positions its filter answers "maybe" for."""
        masks = table[codes]
        any_hit = masks if masks.ndim == 1 else masks.any(axis=1)
        pos = np.flatnonzero(any_hit)
        masks = masks[pos]
        out = []
        for t in range(self.n_targets):
            word = masks if masks.ndim == 1 else masks[:, t // 64]
            out.append(pos[(word & word.dtype.type(1 << (t % 64))) != 0])
        return out


@dataclass
class PhaseOne:
    """One target's prescreen outcome over a batch: distinct filter hits
    and pass flags, forward and on the reverse retry (forward failures)."""

    counts_f: np.ndarray
    fp_f: np.ndarray
    counts_r: np.ndarray
    fp_r: np.ndarray

    @property
    def fp_any(self) -> np.ndarray:
        return self.fp_f | self.fp_r

    @property
    def fp_hits(self) -> np.ndarray:
        return np.where(self.fp_r, self.counts_r, self.counts_f).astype(np.int32)


def prescreen(
    batch: TokenBatch,
    ctxs: Sequence[TargetContext],
    rc_retry: bool,
    tables: AnswerTables | None,
) -> tuple[FlatWindows, FlatWindows | None, list[PhaseOne]]:
    """Phase 1 (F1 + the F4 reverse retry) for every target of ``ctxs``.

    Window hashes are computed once per orientation and shared by all
    targets. With answer tables and every token inside their vocabulary,
    one gather per window and orientation replaces all targets' Bloom
    probes; otherwise each target probes its filter. Both give the same
    hits, so the outcome (and any error) is the probe path's.
    """
    n = batch.n_rows
    k, cmap = ctxs[0].k, ctxs[0].complement_map
    win_f = FlatWindows(batch, k)
    win_r: FlatWindows | None = None
    codes = tables.codes(batch.flat) if tables is not None else None
    hits_f = tables.hits(tables.fwd, codes) if codes is not None else None
    hits_r = None
    phases = []
    for t, ctx in enumerate(ctxs):
        if hits_f is not None:
            hit = hits_f[t]
        else:
            hit = np.flatnonzero(ctx.bloom.contains_hashes(win_f.hashes))
        counts_f = _row_hit_counts(win_f, hit, n, None)
        if ctx.fp_threshold <= 0:
            fp_f = np.ones(n, dtype=bool)  # FQread.hpp:69 quirk
        else:
            fp_f = counts_f >= ctx.fp_threshold
        rc_rows = ~fp_f
        fp_r = np.zeros(n, dtype=bool)
        counts_r = np.zeros(n, dtype=np.int64)
        if rc_retry and rc_rows.any() and ctx.fp_threshold > 0:
            if win_r is None:
                win_r = FlatWindows(batch, k, reverse=True, complement_map=cmap)
            if codes is not None:
                if hits_r is None:
                    hits_r = tables.hits(tables.rev, codes)
                hit = hits_r[t]
            else:
                hit = np.flatnonzero(ctx.bloom.contains_hashes(win_r.hashes))
            counts_r = _row_hit_counts(win_r, hit, n, rc_rows)
            fp_r = rc_rows & (counts_r >= ctx.fp_threshold)
        phases.append(PhaseOne(counts_f, fp_f, counts_r, fp_r))
    return win_f, win_r, phases


def _exact_candidates(
    win: FlatWindows,
    batch: TokenBatch,
    ctx: TargetContext,
    row_sel: np.ndarray,
    reverse: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(row_ids, starts) of windows whose TOKENS exactly match a target k-gram.

    Candidates come from hash membership (searchsorted into the sorted target
    hash set) and are then confirmed token-by-token against the aligned
    k-gram matrix, so Bloom/hash collisions cannot fabricate coverage —
    mirroring the reference's exact map lookup
    (/root/reference/src/FQread.hpp:233-241).
    """
    e = np.zeros(0, dtype=np.int64)
    if len(win.hashes) == 0:
        return e, e
    idx = np.searchsorted(ctx.kset_hashes, win.hashes)
    idx = np.minimum(idx, len(ctx.kset_hashes) - 1)
    cand_pos = np.flatnonzero(ctx.kset_hashes[idx] == win.hashes)
    if len(cand_pos) == 0:
        return e, e
    rows, valid = win.rows_of(cand_pos)
    valid &= row_sel[rows]
    cand_pos = cand_pos[valid]
    rows = rows[valid]
    if len(cand_pos) == 0:
        return e, e
    # gather window tokens from the ORIGINAL buffer: (n_cand, k)
    gather = cand_pos[:, None] + np.arange(ctx.k, dtype=np.int64)[None, :]
    toks = batch.flat[gather].astype(np.int64)
    if reverse:
        # RC orientation: the canonical transform is reverse (optionally
        # composed with the vocabulary complement map)
        if ctx.complement_map is not None:
            toks = ctx.complement_map[toks]
        toks = toks[:, ::-1]
    ok = (toks == ctx.kgram_matrix[idx[cand_pos]]).all(axis=1)
    return rows[ok], win.starts_of(cand_pos[ok], rows[ok])


def _score_survivors(
    batch: TokenBatch, ctx: TargetContext, win: FlatWindows,
    row_sel: np.ndarray, reverse: bool, scores: np.ndarray,
) -> None:
    """Scored verify of one orientation's survivors ``row_sel`` into
    ``scores`` (in place).

    Coverage from exact-verified k-gram candidates is painted onto ONE
    global canvas (every window interval stays inside its row, so a single
    cumsum gives every row's mask at once — no per-row allocations).
    """
    if not row_sel.any():
        return
    rids, starts = _exact_candidates(win, batch, ctx, row_sel, reverse)
    if len(rids) == 0:
        return
    total_len = len(batch.flat)
    gpos = batch.offsets[rids] + starts
    delta = np.zeros(total_len + 1, dtype=np.int32)
    np.add.at(delta, gpos, 1)
    np.add.at(delta, gpos + ctx.k, -1)
    gmask = np.cumsum(delta[:total_len]) > 0
    # global run-length encoding; per row: slice + clip runs
    edges = np.flatnonzero(np.diff(gmask.view(np.int8)))
    run_starts = np.concatenate(([0], edges + 1))
    run_ends = np.concatenate((edges + 1, [total_len]))
    run_vals = gmask[run_starts]
    # row-bound run windows for ALL survivors in two vectorized
    # searchsorteds; the remaining per-row work is the quirk-preserving
    # O(runs) scoring itself
    rs = np.unique(rids)
    offs = batch.offsets[rs]
    ends = offs + batch.lens[rs]
    i0s = np.searchsorted(run_ends, offs, side="right")
    i1s = np.searchsorted(run_starts, ends, side="left")
    for r, o, e, i0, i1 in zip(
        rs.tolist(), offs.tolist(), ends.tolist(), i0s.tolist(), i1s.tolist(),
    ):
        rl = np.minimum(run_ends[i0:i1], e) - np.maximum(run_starts[i0:i1], o)
        scores[r] = score_runs(run_vals[i0:i1], rl, ctx.params)


def _contains_subarray(
    batch: TokenBatch, pattern: np.ndarray,
    row_sel: np.ndarray, reverse: bool, complement_map: np.ndarray | None,
) -> np.ndarray:
    """Exact contiguous-subarray containment per row (vectorized).

    Hash every len(pattern)-window of the flat buffer, compare to the
    pattern hash, confirm token equality, then validate row boundaries —
    collision-proof. Used by verify mode "exact".
    """
    from bloomine_spark.functions.hashing import rolling_kgram_hash

    n_rows = len(row_sel)
    out = np.zeros(n_rows, dtype=bool)
    kp = len(pattern)
    win = FlatWindows(batch, kp, reverse=reverse, complement_map=complement_map)
    if len(win.hashes) == 0:
        return out
    # the transformed read contains raw-P iff some window w satisfies
    # reverse(π(w)) == P, and win.hashes are exactly hash(reverse(π(w)))
    pat_h = rolling_kgram_hash(pattern.astype(np.uint64), 1, kp)[0]
    cand_pos = np.flatnonzero(win.hashes == pat_h)
    if len(cand_pos) == 0:
        return out
    rows, valid = win.rows_of(cand_pos)
    valid &= row_sel[rows]
    cand_pos, rows = cand_pos[valid], rows[valid]
    if len(cand_pos) == 0:
        return out
    gather = cand_pos[:, None] + np.arange(kp, dtype=np.int64)[None, :]
    toks = batch.flat[gather].astype(np.int64)
    if complement_map is not None:
        toks = complement_map[toks]
    if reverse:
        toks = toks[:, ::-1]
    ok = (toks == pattern[None, :].astype(np.int64)).all(axis=1)
    out[np.unique(rows[ok])] = True
    return out


def make_screen_kernel(
    ctx_bc,  # Broadcast[TargetContext]
    tokens_col: str,
    passthrough: list[str],
    mode: str,
    rc_retry: bool,
    keep_tokens: bool,
):
    """Build the mapInArrow function. ``ctx_bc`` is a Spark broadcast.

    Arrow-native: the tokens list column is consumed through its contiguous
    values+offsets buffers (zero copy, no per-row ndarrays), and survivor
    rows are emitted with ``take`` on the original Arrow columns.
    """
    import pyarrow as pa

    from bloomine_spark.functions.kgrams import (
        iter_cache_slices,
        token_batch_from_arrow,
    )

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        ctx: TargetContext = ctx_bc.value
        for rb0 in batches:
            if rb0.num_rows == 0:
                continue
            # cache-blocking: process the batch in zero-copy row slices so
            # the window-hash/canvas temporaries stay cache-resident (all
            # downstream logic is per-row, so slicing is semantics-free)
            yield from _screen_slice_iter(rb0, ctx)

    def _screen_slice_iter(rb0, ctx):
        p = ctx.params
        for rb in iter_cache_slices(rb0, tokens_col):
            n = rb.num_rows
            if n == 0:
                continue
            batch = token_batch_from_arrow(rb, tokens_col)

            # ---- phase 1: forward, then the RC retry of failures (F1/F4)
            win_f, win_r, (ph,) = prescreen(batch, [ctx], rc_retry, ctx.answers)
            fp_f, fp_r, fp_any = ph.fp_f, ph.fp_r, ph.fp_any
            if not fp_any.any():
                continue

            # ---- phase 2: verify survivors
            scores = np.zeros(n, dtype=np.int64)
            if mode == "scored":
                _score_survivors(batch, ctx, win_f, fp_f, False, scores)
                if fp_r.any():
                    _score_survivors(batch, ctx, win_r, fp_r, True, scores)
                sp_pass = fp_any & (scores >= ctx.mst)
            elif mode == "exact":
                contains = _contains_subarray(
                    batch, ctx.target_tokens, fp_f, False, None
                )
                if fp_r.any():
                    contains |= _contains_subarray(
                        batch, ctx.target_tokens, fp_r, True, ctx.complement_map
                    )
                sp_pass = fp_any & contains
                scores = np.where(contains, len(ctx.target_tokens) * int(p.hit), 0)
            else:  # pragma: no cover
                raise ValueError(f"unknown mode {mode!r}")

            out_idx = pa.array(np.flatnonzero(fp_any))
            idx_np = np.flatnonzero(fp_any)
            cols = {c: rb.column(rb.schema.get_field_index(c)).take(out_idx)
                    for c in passthrough}
            cols["rc"] = pa.array(fp_r[idx_np])
            cols["fp_hits"] = pa.array(ph.fp_hits[idx_np])
            cols["score"] = pa.array(scores[idx_np].astype(np.int64))
            cols["threshold"] = pa.array(
                np.full(len(idx_np), float(ctx.mst), dtype=np.float64)
            )
            cols["sp_pass"] = pa.array(sp_pass[idx_np])
            if keep_tokens:
                cols[tokens_col] = rb.column(
                    rb.schema.get_field_index(tokens_col)
                ).take(out_idx)
            yield pa.RecordBatch.from_pydict(cols)

    return kernel


def screen_scores(
    df: DataFrame,
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    tokens_col: str = "tokens",
    mode: str = "scored",
    rc_retry: bool = True,
    keep_tokens: bool = False,
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Score-log DataFrame: one row per FP-surviving input row.

    Columns: passthrough cols + (rc, fp_hits, score, threshold, sp_pass)
    — the Spark analog of ``<prefix>_flank_scores.tsv``
    (/root/reference/src/BlooMineUtils.cpp:43-60).
    """
    spark = df.sparkSession
    ctx = prepare_target(target_tokens, params, complement_map)
    ctx.answers = AnswerTables.build([ctx])
    ctx_bc = spark.sparkContext.broadcast(ctx)

    passthrough = [f.name for f in df.schema.fields if f.name != tokens_col]
    fields = [f for f in df.schema.fields if f.name != tokens_col]
    fields += [
        T.StructField("rc", T.BooleanType()),
        T.StructField("fp_hits", T.IntegerType()),
        T.StructField("score", T.LongType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("sp_pass", T.BooleanType()),
    ]
    if keep_tokens:
        fields.append(df.schema[tokens_col])
    schema = T.StructType(fields)

    kernel = make_screen_kernel(
        ctx_bc, tokens_col, passthrough, mode, rc_retry, keep_tokens
    )
    return df.mapInArrow(kernel, schema=schema)


def screen_hits(
    df: DataFrame,
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    **kwargs,
) -> DataFrame:
    """Rows passing BOTH phases — the ``_BMfiltered`` output analog
    (/root/reference/src/BlooMineUtils.cpp:270-282)."""
    return screen_scores(df, target_tokens, params, **kwargs).filter(
        F.col("sp_pass")
    )
