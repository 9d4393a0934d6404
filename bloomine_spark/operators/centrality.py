"""Graph centrality: exact harmonic centrality (bounded BFS closure)
and HyperBall (Boldi & Vigna 2013) — the HLL-sketch approximation
CommonCrawl itself uses to rank hosts, and the operator that ties this
repo's mergeable-sketch family to the crawl-graph tier.

Harmonic centrality of a node v on a directed graph is
``H(v) = Σ_{u≠v, d(u,v)<∞} 1/d(u,v)`` with distances along edge
direction. Exact computation materializes the pairwise-distance
relation — O(n²) pairs — so :func:`harmonic_centrality_exact` is a
guarded baseline (same contract as ``embedding_near_dup_exact``).

HyperBall replaces each node's reachability ball with a HyperLogLog
counter: ``c_v`` starts as {v}; round r merges every in-neighbor's
counter into v's (register-max — the library's ``HyperLogLog.merge``
semantics), so after round r ``c_v`` sketches ``{u : d(u,v) ≤ r}`` and
the harmonic sum accumulates ``(|c_v^r| − |c_v^{r−1}|)/r``. State per
node is one m-byte register array (b=12 → 4 KB); per round the plan is
one (node, state) shuffle onto the statically partitioned edge list
and one grouped register-max fold — the same narrow-state discipline
as the sketch UDAFs, which is what makes centrality feasible on a
100 TB crawl graph where the exact O(n²) relation is not. The fold is
fully vectorized (sketch-kernel discipline): states of one partition
stack into an (rows, m) uint8 matrix, per-node runs collapse with one
``np.maximum.reduceat``, and the whole batch estimates as matrix math
— zero per-group Python (the generic ``merge_grouped`` path measured
20× slower at 200k nodes). Rounds stop at the global fixpoint (no
node's registers changed — monotone, so fixpoint = all balls saturated
= diameter reached).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloomine_spark.sketch.core import STATE_COL
from bloomine_spark.sketch.hll import HyperLogLog, _alpha

__all__ = ["harmonic_centrality_exact", "hyperball_harmonic"]

_HDR = 6  # HLL state header: b"HLL1" + pack("<bb", b, hashed_input)


def _init_registers(hashes: np.ndarray, b: int) -> np.ndarray:
    """(n, m) uint8 register matrix with one element routed per row —
    the vectorized batch twin of ``HyperLogLog._fold_chunk`` (same
    sentinel-bit + cleared-low-bits float-exponent rank; byte-parity
    with the scalar path is pinned in tests)."""
    n = len(hashes)
    m = 1 << b
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    idx = (h >> np.uint64(64 - b)).astype(np.int64)
    rest = (h << np.uint64(b)) | (np.uint64(1) << np.uint64(b - 1))
    if b >= 12:
        cleared = rest & ~np.uint64(0x7FF)
    else:
        high = rest & ~np.uint64(0x7FF)
        cleared = np.where(high == 0, rest, high)
    xf = cleared.astype(np.float64)
    e = xf.view(np.uint64) >> np.uint64(52)
    rank = (np.uint64(1087) - e).astype(np.uint8)
    regs = np.zeros((n, m), np.uint8)
    regs[np.arange(n), idx] = rank
    return regs


def _estimate_matrix(regs: np.ndarray, m: int) -> np.ndarray:
    """Row-wise HLL estimates — branch-for-branch the vectorized form
    of ``HyperLogLog.estimate``."""
    rf = regs.astype(np.float64)
    raw = _alpha(m) * m * m / np.sum(np.exp2(-rf), axis=1)
    zeros = (regs == 0).sum(axis=1)
    out = raw.copy()
    small = (raw <= 2.5 * m) & (zeros > 0)
    if small.any():
        out[small] = m * np.log(m / zeros[small])
    large = (raw > (1 << 32) / 30.0) & ~small
    if large.any():
        out[large] = -(1 << 32) * np.log(1.0 - raw[large] / (1 << 32))
    return out


def _prep_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def harmonic_centrality_exact(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 64,
    max_nodes: int = 200_000,
) -> DataFrame:
    """(node, harmonic) for every node, exact — layered BFS closure over
    the pairwise relation. Each round expands the current frontier one
    hop and anti-joins the known set, so a pair is materialized exactly
    once at its true (minimal) distance. O(n²) worst-case pairs: the
    node count is guarded at ``max_nodes`` — use
    :func:`hyperball_harmonic` past that."""
    e = _prep_edges(edges, src_col, dst_col).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n > max_nodes:
        e.unpersist()
        nodes.unpersist()
        raise ValueError(
            f"{n} nodes > max_nodes={max_nodes}: the exact pairwise "
            "relation is O(n^2); use hyperball_harmonic"
        )
    dist = e.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.lit(1).alias("d")
    ).localCheckpoint(eager=True)
    frontier = dist
    for r in range(2, max_iter + 1):
        nxt = (
            frontier.join(e, frontier["v"] == e["src"])
            .select("u", e["dst"].alias("v"), F.lit(r).alias("d"))
            .filter(F.col("u") != F.col("v"))
            .join(dist.select("u", "v"), ["u", "v"], "left_anti")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        # measured and kept: re-checkpointing the union each round COPIES
        # the accumulated pair relation, but the alternative (a lazy
        # union tree of per-round checkpoint legs) multiplies the
        # anti-join's input partitions by the round count — task overhead
        # cost more than the copy saved (sf0.1: 5.6 → 6.6 s)
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    out = nodes.join(
        dist.groupBy(F.col("v").alias("node")).agg(
            F.sum(F.lit(1.0) / F.col("d")).alias("harmonic")
        ),
        "node",
        "left",
    ).select("node", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    e.unpersist()
    nodes.unpersist()
    return out


def hyperball_harmonic(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    b: int = 12,
    max_iter: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """(node, harmonic_est) via HyperBall — HLL counters iterated along
    edges. Relative error tracks the HLL's 1.04/√m (b=12 → ~1.6%; at
    small graphs the linear-counting regime is effectively exact,
    pinned in tests). ``b`` trades state bytes (2^b per node per round
    of shuffle) against precision, exactly as in the sketch family."""
    e = _prep_edges(edges, src_col, dst_col).repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # changed-node count rides the checkpoint job as an accumulator
    # instead of a second per-round aggregate job. Loop-stop via an
    # accumulator is result-safe: overcount (task retry) only runs an
    # extra round, and at a fixpoint an extra round is the identity
    # (register max is idempotent); undercount cannot happen for
    # completed tasks.
    changed_acc = edges.sparkSession.sparkContext.accumulator(0)
    m = 1 << b
    rec = _HDR + m
    header = HyperLogLog.empty(b, hashed_input=True).to_bytes()[:_HDR]

    # counter seeds use xxhash64(node) as the element hash directly
    # (hashed_input=True semantics), so re-inserting v during merges is
    # idempotent; init is one vectorized register write per batch
    @F.pandas_udf(T.BinaryType())
    def init_state(h: pd.Series) -> pd.Series:
        regs = _init_registers(
            h.to_numpy(dtype=np.int64).view(np.uint64), b
        )
        return pd.Series([header + r.tobytes() for r in regs])

    seed_schema = T.StructType(
        [
            T.StructField("node", T.StringType()),
            T.StructField(STATE_COL, T.BinaryType()),
            T.StructField("est", T.DoubleType()),
        ]
    )
    fold_schema = T.StructType(
        [
            T.StructField("node", T.StringType()),
            T.StructField(STATE_COL, T.BinaryType()),
            T.StructField("est", T.DoubleType()),
            T.StructField("_prev_est", T.DoubleType()),
            T.StructField("_prev_harm", T.DoubleType()),
        ]
    )

    def _concat_sorted(pdfs):
        # all copies of a node are co-located (repartition("node")
        # upstream) but may SPLIT ACROSS ARROW BATCHES — concat the
        # partition first (a partial fold would emit duplicate node
        # rows whose join fan-out compounds per round)
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return None
        pdf = pd.concat(parts, ignore_index=True)
        return pdf.sort_values("node", kind="stable")

    def _registers(pdf) -> np.ndarray:
        return np.frombuffer(
            b"".join(bytes(s) for s in pdf[STATE_COL]), np.uint8
        ).reshape(len(pdf), rec)[:, _HDR:]

    def seed_fold(pdfs) -> "pd.DataFrame":
        pdf = _concat_sorted(pdfs)
        if pdf is None:
            return
        mat = _registers(pdf)
        names = pdf["node"].to_numpy()
        starts = np.flatnonzero(np.r_[True, names[1:] != names[:-1]])
        folded = np.maximum.reduceat(mat, starts, axis=0)
        yield pd.DataFrame(
            {
                "node": names[starts],
                STATE_COL: [header + row.tobytes() for row in folded],
                "est": _estimate_matrix(folded, m),
            }
        )

    def merge_fold(pdfs) -> "pd.DataFrame":
        # the previous round's (state, est, harmonic) rows ride the SAME
        # union as the in-neighbor states (flagged _is_prev) instead of
        # a per-round join of the folded result back onto `cur`: exactly
        # one prev row per node, so prev values are picked out
        # positionally after the sort — the join variant shuffled every
        # node's m-byte registers a second time each round (its
        # _prev_state comparison side) plus both join exchanges, pure
        # overhead at any graph size. Register math is unchanged: max is
        # order-insensitive, and _changed compares the same bytes the
        # Spark-side binary <> did (headers are constant).
        pdf = _concat_sorted(pdfs)
        if pdf is None:
            return
        mat = _registers(pdf)
        names = pdf["node"].to_numpy()
        starts = np.flatnonzero(np.r_[True, names[1:] != names[:-1]])
        folded = np.maximum.reduceat(mat, starts, axis=0)
        prev_pos = np.flatnonzero(pdf["_is_prev"].to_numpy())
        # every node here is in the previous round's dense state
        # (nodes = src ∪ dst), exactly once — fail loudly, not wrongly
        if len(prev_pos) != len(starts):
            raise RuntimeError(
                f"merge_fold: {len(prev_pos)} previous-state rows for "
                f"{len(starts)} nodes; each node needs exactly one"
            )
        changed = (folded != mat[prev_pos]).any(axis=1)
        changed_acc.add(int(changed.sum()))
        yield pd.DataFrame(
            {
                "node": names[starts],
                STATE_COL: [header + row.tobytes() for row in folded],
                "est": _estimate_matrix(folded, m),
                "_prev_est": pdf["est"].to_numpy()[prev_pos],
                "_prev_harm": pdf["harmonic_est"].to_numpy()[prev_pos],
            }
        )

    state = nodes.select(
        "node", init_state(F.xxhash64("node")).alias(STATE_COL)
    )
    cur = (
        state.repartition("node")
        .mapInPandas(seed_fold, schema=seed_schema)  # est of the seed state
        .withColumn("harmonic_est", F.lit(0.0))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for r in range(1, max_iter + 1):
        rounds = r
        incoming = (
            cur.select(F.col("node").alias("src"), STATE_COL)
            .join(e, "src")
            .select(
                F.col("dst").alias("node"),
                STATE_COL,
                F.lit(None).cast("double").alias("est"),
                F.lit(None).cast("double").alias("harmonic_est"),
                F.lit(False).alias("_is_prev"),
            )
        )
        prev = cur.select(
            "node", STATE_COL, "est", "harmonic_est",
            F.lit(True).alias("_is_prev"),
        )
        before = changed_acc.value
        cur = (
            incoming.unionByName(prev)
            .repartition("node")
            .mapInPandas(merge_fold, schema=fold_schema)
            .select(
                "node",
                STATE_COL,
                "est",
                (
                    F.col("_prev_harm")
                    + F.greatest(
                        F.col("est") - F.col("_prev_est"), F.lit(0.0)
                    )
                    / F.lit(float(r))
                ).alias("harmonic_est"),
            )
            .localCheckpoint(eager=True)
        )
        if changed_acc.value - before == 0:
            break
    e.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return cur.select("node", "harmonic_est")
