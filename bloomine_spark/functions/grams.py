"""Word n-gram digest relations — the shared machinery behind the
repetition pack, the novelty curves, and surgical decontamination.

THE cross-engine contract (every DuckDB oracle replays it bit-for-bit):

* words are the raw single-space split, so an n-gram IS the exact
  substring of the document and its char span is ``[start, start+len)``
  with ``start`` the cumulative ``len(word)+1`` prefix sum;
* a gram's identity is ``md5`` of the SPACE-JOINED per-word md5 digests
  (for n = 1 the word digest itself) — gram TEXT never rides the plan,
  and engines agree including any md5-collision noise;
* every gram size is built from ONE window pass (``max(ns) − 1`` leads
  over the per-word digests), never one pass per n.

Changing any expression here changes the persisted digest convention —
update the oracles in ``__spark_entry__.py`` in the same commit."""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["word_gram_digests"]


def word_gram_digests(
    df: DataFrame,
    ns: Iterable[int],
    text_col: str,
    carry_cols: tuple[str, ...] = (),
    with_length: bool = False,
) -> DataFrame:
    """One row per (document, position, gram size): ``(*carry_cols,
    doc_id, start, n, gh[, gl])`` — ``gh`` the gram digest, ``gl`` the
    exact char length of the gram's substring (only when
    ``with_length``). ``df`` must carry ``doc_id`` and ``text_col``;
    windows partition by ``doc_id`` so grams never span documents."""
    ns = sorted({int(n) for n in ns})
    if not ns or ns[0] < 1:
        raise ValueError("ns must be non-empty gram sizes >= 1")
    max_n = ns[-1]
    w = df.select(
        *carry_cols,
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "_w"),
    ).select(
        *carry_cols, "doc_id", "pos",
        F.md5("_w").alias("h"),
        F.length("_w").cast("long").alias("wl"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    w = w.withColumn(
        "start",
        F.coalesce(
            F.sum(F.col("wl") + 1).over(
                win.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    )
    lead_cols = [
        F.lead("h", k).over(win).alias(f"_h{k}") for k in range(1, max_n)
    ]
    if with_length:
        lead_cols += [
            F.lead("wl", k).over(win).alias(f"_l{k}")
            for k in range(1, max_n)
        ]
    if lead_cols:
        w = w.select(*carry_cols, "doc_id", "start", "h", "wl", *lead_cols)

    def _entry(n: int):
        fields = [F.lit(n).alias("n")]
        if n == 1:
            fields.append(F.col("h").alias("gh"))
        else:
            fields.append(
                F.md5(F.concat_ws(
                    " ", F.col("h"),
                    *[F.col(f"_h{k}") for k in range(1, n)],
                )).alias("gh")
            )
        if with_length:
            gl = F.col("wl") + F.lit(n - 1).cast("long")
            for k in range(1, n):
                gl = gl + F.col(f"_l{k}")
            fields.append(gl.cast("long").alias("gl"))
        s = F.struct(*fields)
        if n == 1:
            return s
        return F.when(F.col(f"_h{n-1}").isNotNull(), s)

    g = w.select(
        *carry_cols, "doc_id", "start",
        F.explode(
            F.filter(
                F.array(*[_entry(n) for n in ns]), lambda x: x.isNotNull()
            )
        ).alias("_g"),
    )
    out = [
        *carry_cols, "doc_id", "start",
        F.col("_g.n").alias("n"), F.col("_g.gh").alias("gh"),
    ]
    if with_length:
        out.append(F.col("_g.gl").alias("gl"))
    return g.select(*out)
