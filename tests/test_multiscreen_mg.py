"""One-pass multi-target screening equivalence + Misra–Gries bounds."""

import types

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bloomine_spark.datagen import DEFAULT_TARGET, generate_rows
from bloomine_spark.functions.hashing import rolling_kgram_hash
from bloomine_spark.functions.kgrams import token_batch_from_arrow
from bloomine_spark.operators import screen as screen_mod
from bloomine_spark.operators.multiscreen import (
    polyfamily_onepass,
    prepare_targets,
    screen_multi_scores,
)
from bloomine_spark.operators.screen import (
    AnswerTables,
    make_screen_kernel,
    prepare_target,
    prescreen,
    screen_scores,
)
from bloomine_spark.params import ScreenParams
from bloomine_spark.sketch.mg import MisraGries
from bloomine_spark.sources.fastq import DNA_COMPLEMENT_MAP

P = ScreenParams()

TARGET_B = [201, 202, 203, 204, 205, 206, 207, 208, 209, 210,
            211, 212, 213, 214, 215, 216, 217, 218, 219, 220,
            221, 222, 223, 224]


@pytest.fixture(scope="module")
def seq_df(spark):
    pdf = generate_rows(np.arange(800), seed=42)
    # plant TARGET_B occurrences in a slice of rows
    for i in range(40, 70):
        toks = pdf.at[i, "tokens"].copy()
        if len(toks) > len(TARGET_B) + 2:
            toks[2 : 2 + len(TARGET_B)] = TARGET_B
            pdf.at[i, "tokens"] = toks
    return spark.createDataFrame(pdf).cache()


def test_multi_screen_equals_single_screens(spark, seq_df):
    multi = screen_multi_scores(
        seq_df, {"tA": DEFAULT_TARGET, "tB": TARGET_B}, P
    ).toPandas()
    for tid, target in (("tA", DEFAULT_TARGET), ("tB", TARGET_B)):
        single = (
            screen_scores(seq_df, target, P)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        got = (
            multi[multi["target_id"] == tid]
            .drop(columns=["target_id"])
            .sort_values("doc_id")
            .reset_index(drop=True)[single.columns]
        )
        pd.testing.assert_frame_equal(got, single, check_dtype=False)
    assert (multi["target_id"] == "tB").sum() >= 30


def test_polyfamily_onepass_equals_multipass(spark, seq_df):
    from bloomine_spark.operators.cascade import polyfamily_run

    probes = {
        "pA": (DEFAULT_TARGET[:12], DEFAULT_TARGET[12:]),
        "pB": (TARGET_B[:12], TARGET_B[12:]),
    }
    one = polyfamily_onepass(seq_df, probes, P).toPandas()
    multi = polyfamily_run(seq_df, probes, P).toPandas()
    key = lambda df: sorted(  # noqa: E731
        zip(df["doc_id"], df["target_id"], df["total_score"])
    )
    assert key(one) == key(multi)
    assert len(one) > 20


# ------------------------------------------------- DNA k-gram answer tables
def _dna_targets(n: int, seed: int) -> dict[str, list[int]]:
    rng = np.random.default_rng(seed)
    return {f"t{i:02d}": rng.integers(0, 4, 24).tolist() for i in range(n)}


def _dna_reads(targets: dict, n_reads: int, seed: int) -> list[list[int]]:
    """Random ACGT reads: every 6th carries a target forward, every 6th
    its reverse complement (some with two mismatches), every 9th some N
    bases; lengths 0..159, so some reads are shorter than k."""
    rng = np.random.default_rng(seed)
    flanks = list(targets.values())
    reads = []
    for i in range(n_reads):
        toks = rng.integers(0, 4, int(rng.integers(0, 160)))
        if len(toks) > 40 and i % 6 in (1, 2, 3):
            t = np.asarray(flanks[i % len(flanks)])
            if i % 6 != 1:
                t = DNA_COMPLEMENT_MAP[t][::-1]
            at = int(rng.integers(0, len(toks) - 24))
            toks[at : at + 24] = t
            if i % 6 == 3:
                toks[at + 5] = (toks[at + 5] + 1) % 4
                toks[at + 17] = (toks[at + 17] + 2) % 4
        if i % 9 == 0:
            toks[rng.random(len(toks)) < 0.05] = 4
        reads.append(toks.tolist())
    return reads


def _arrow_reads(reads: list[list[int]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({
        "doc_id": pa.array([f"r{i}" for i in range(len(reads))]),
        "tokens": pa.array(reads, type=pa.list_(pa.int32())),
    })


def _by_row(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return pdf.sort_values(keys).reset_index(drop=True)


def test_answer_tables_equal_bloom_probe_path(spark, monkeypatch):
    """DNA screens through DNA_COMPLEMENT_MAP: the table gathers give the
    Bloom-probe path's score logs row for row, multi- and single-target;
    10 targets make the mask wider than one byte."""
    targets = _dna_targets(10, seed=31)
    df = spark.createDataFrame(
        [(f"r{i}", r) for i, r in enumerate(_dna_reads(targets, 900, 32))],
        "doc_id string, tokens array<int>",
    ).cache()
    ctxs = list(prepare_targets(targets, P, DNA_COMPLEMENT_MAP).values())
    tables = AnswerTables.build(ctxs)
    assert tables.fwd.dtype == np.uint16 and tables.fwd.shape == (5**7,)

    def run():
        multi = screen_multi_scores(df, targets, P,
                                    complement_map=DNA_COMPLEMENT_MAP)
        singles = [screen_scores(df, targets[t], P,
                                 complement_map=DNA_COMPLEMENT_MAP)
                   for t in ("t00", "t07")]
        return (_by_row(multi.toPandas(), ["target_id", "doc_id"]),
                [_by_row(s.toPandas(), ["doc_id"]) for s in singles])

    multi, singles = run()
    monkeypatch.setattr(screen_mod, "ANSWER_TABLE_MAX_CODES", 0)
    assert AnswerTables.build(ctxs) is None
    multi_probe, singles_probe = run()
    pd.testing.assert_frame_equal(multi, multi_probe)
    for got, want in zip(singles, singles_probe):
        pd.testing.assert_frame_equal(got, want)
    passed = multi[multi["sp_pass"]]
    assert passed["rc"].any() and (~passed["rc"]).any()
    assert (~multi["sp_pass"]).any()  # mismatched plants fail verify
    assert passed["target_id"].nunique() == 10


def test_answer_tables_several_words_match_filters():
    """70 targets need two 64-bit words per entry; every bit is the
    target filter's answer for that k-gram, and the prescreen outcome
    equals the probe path's."""
    targets = _dna_targets(70, seed=41)
    ctxs = list(prepare_targets(targets, P, DNA_COMPLEMENT_MAP).values())
    tables = AnswerTables.build(ctxs)
    assert tables.fwd.dtype == np.uint64 and tables.fwd.shape == (5**7, 2)

    # bit t of entry c == ctxs[t]'s answer for k-gram c (forward) and for
    # its reverse complement (reverse table)
    codes = np.random.default_rng(42).integers(0, 5**7, 500)
    kgrams = (codes[:, None] // 5 ** np.arange(6, -1, -1)) % 5
    for table, grams in ((tables.fwd, kgrams),
                         (tables.rev, DNA_COMPLEMENT_MAP[kgrams][:, ::-1])):
        h = np.concatenate([rolling_kgram_hash(g.astype(np.uint64), 1, 7)
                            for g in grams])
        for t, ctx in enumerate(ctxs):
            bits = (table[codes, t // 64] >> np.uint64(t % 64)) & np.uint64(1)
            assert np.array_equal(bits.astype(bool),
                                  ctx.bloom.contains_hashes(h))

    batch = token_batch_from_arrow(
        _arrow_reads(_dna_reads(targets, 600, 43)), "tokens")
    _, _, want = prescreen(batch, ctxs, True, None)
    _, _, got = prescreen(batch, ctxs, True, tables)
    for a, b in zip(want, got):
        for f in ("counts_f", "fp_f", "counts_r", "fp_r"):
            assert np.array_equal(getattr(a, f), getattr(b, f)), f
    assert sum(int(ph.fp_r.sum()) for ph in got) > 10


def _kernel_rows(ctx, rb, rc_retry):
    kern = make_screen_kernel(types.SimpleNamespace(value=ctx), "tokens",
                              ["doc_id"], "scored", rc_retry, False)
    try:
        return pa.Table.from_batches(list(kern(iter([rb])))).to_pandas()
    except IndexError as e:
        return f"IndexError: {e}"


def test_out_of_vocab_token_keeps_probe_path():
    """A batch with a token >= V skips the tables: same rows without the
    RC retry, and the same complement-map IndexError with it."""
    target = _dna_targets(1, seed=51)["t00"]
    reads = [[0, 1, 2, 3] * 10 + target + [7], [1, 2] * 30]
    for rc_retry in (False, True):
        ctx = prepare_target(target, P, DNA_COMPLEMENT_MAP)
        want = _kernel_rows(ctx, _arrow_reads(reads), rc_retry)
        ctx.answers = AnswerTables.build([ctx])
        assert ctx.answers is not None
        got = _kernel_rows(ctx, _arrow_reads(reads), rc_retry)
        if rc_retry:
            assert got == want and "out of bounds" in got
        else:
            pd.testing.assert_frame_equal(got, want)
            assert got["sp_pass"].tolist() == [True]
        # and a multi-target prescreen on the same batch
        batch = token_batch_from_arrow(_arrow_reads(reads), "tokens")
        ctxs = [ctx, prepare_target(_dna_targets(2, 52)["t01"], P,
                                    DNA_COMPLEMENT_MAP)]
        outcomes = []
        for tables in (None, AnswerTables.build(ctxs)):
            try:
                outcomes.append([(ph.counts_f.tolist(), ph.fp_r.tolist())
                                 for ph in prescreen(batch, ctxs, rc_retry,
                                                     tables)[2]])
            except IndexError as e:
                outcomes.append(str(e))
        assert outcomes[0] == outcomes[1]


# ---------------------------------------------------------------- MG sketch
def test_mg_bounds_and_heavy_hitters():
    rng = np.random.default_rng(11)
    n = 300_000
    stream = rng.zipf(1.3, n) % 10_000
    m = 256
    sk = MisraGries(m)
    # feed in chunks (exercises repeated combine/truncate)
    for part in np.array_split(stream, 13):
        sk.update_values(part)
    assert sk.n == n
    uniq, true_counts = np.unique(stream, return_counts=True)
    est = sk.estimate_values(uniq)
    err = true_counts - est
    assert (est <= true_counts).all()          # never overestimates
    assert (err <= n / m).all(), err.max()     # MG bound
    # every item above n/m is present
    heavy = uniq[true_counts > n / m]
    assert all(sk.estimate(int(h)) > 0 for h in heavy)
    # top-1 is the true top-1 for a zipf stream
    assert sk.top_k(1)[0][0] == int(uniq[np.argmax(true_counts)])


def test_mg_merge_bound_across_groupings():
    rng = np.random.default_rng(12)
    n = 200_000
    stream = rng.zipf(1.2, n) % 5000
    uniq, true_counts = np.unique(stream, return_counts=True)
    m = 200
    for n_parts in (2, 7, 16):
        merged = MisraGries(m)
        for part in np.array_split(stream, n_parts):
            piece = MisraGries(m)
            piece.update_values(part)
            merged.merge(piece)
        assert merged.n == n
        est = merged.estimate_values(uniq)
        assert (est <= true_counts).all()
        assert (true_counts - est <= n / m).all(), n_parts


def test_mg_serde():
    sk = MisraGries(32)
    sk.update_values(np.array([1, 1, 1, 2, 2, 3]))
    sk2 = MisraGries.from_bytes(sk.to_bytes())
    assert sk2.estimate(1) == sk.estimate(1) and sk2.n == 6
    assert sk2.top_k(2)[0] == (1, 3)


def test_mg_spark_agg(spark, seq_df):
    from bloomine_spark.sketch.core import sketch_agg_global

    merged = sketch_agg_global(seq_df, "tokens", lambda: MisraGries(512))
    pdf = seq_df.toPandas()
    all_tokens = np.concatenate(pdf["tokens"].to_list())
    uniq, true_counts = np.unique(all_tokens, return_counts=True)
    est = merged.estimate_values(uniq.astype(np.int64))
    assert (est <= true_counts).all()
    assert (true_counts - est <= len(all_tokens) / 512).all()
    assert merged.n == len(all_tokens)
