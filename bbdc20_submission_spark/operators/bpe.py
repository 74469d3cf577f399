"""Distributed BPE vocabulary induction (Sennrich et al. 2016) — the
tokenizer-training stage of a pretraining pipeline, run on-cluster.

The classic algorithm is inherently iterative (each merge depends on
the counts AFTER the previous merge), so the Spark form mirrors
Lloyd's-style iteration: a small bounded state (one winning pair per
round) crosses the driver, everything heavy stays distributed.

Scale shape:
  * the corpus collapses to the DISTINCT-WORD frequency table first
    (one explode + groupBy over the corpus — the only pass whose cost
    scales with corpus size; Heaps' law makes the word table orders of
    magnitude smaller than the text);
  * each merge round runs entirely on that word table: pair counts via
    a narrow zip-explode weighted by word frequency, ONE aggregated
    row (max by count, lexicographic tie-break — deterministic)
    crossing to the driver, and the merge applied as a narrow
    left-to-right fold expression;
  * lineage is cut with localCheckpoint every few rounds (the word
    table is tiny, the 100-TB corpus is never revisited).

``bpe_tokenize`` applies a learned merge list to new text in an
Arrow-batched pandas UDF — per-word greedy merge application is
object-at-a-time work, the sanctioned Python edge (same class as the
multimodal codecs); learning, the expensive part, is all JVM.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bbdc20_submission_spark.functions.sqlfrag import lit
from bbdc20_submission_spark.operators.text import ws_tokens

END = "</w>"


def _merge_pair_expr(col: str, a: str, b: str) -> str:
    """SQL fold applying ONE merge greedily left-to-right: scan the
    symbol array, replacing each adjacent (a, b) with a||b; a symbol
    consumed by a merge can't start another (greedy semantics, matched
    by the local reference implementation in tests)."""
    return (
        f"aggregate({col}, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {lit(a)} "
        f"AND x = {lit(b)} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({lit(a + b)})) "
        "ELSE concat(acc, array(x)) END)"
    )


def learn_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_frequency: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list — the tokenizer artifact.

    Words are whitespace tokens; each word starts as its character
    sequence plus the ``</w>`` end-of-word marker (Sennrich's setup,
    so merges can capture suffixes). Stops early when the best pair's
    corpus frequency falls below ``min_frequency``. Deterministic:
    the winning pair each round is max by (count, then lexicographic
    pair order), and greedy merge application is order-defined."""
    words = (
        df.select(F.explode(ws_tokens(F.col(text_col))).alias("_w"))
        .filter(F.length("_w") > 0)
        .groupBy("_w")
        .agg(F.count("*").alias("_n"))
        .select(
            F.concat(
                F.split(F.col("_w"), ""), F.array(F.lit(END))
            ).alias("_sym"),
            "_n",
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pair_expr = (
            "filter(transform(sequence(1, size(_sym)), i -> "
            "struct(element_at(_sym, i) AS a, "
            "CASE WHEN i < size(_sym) "
            "THEN element_at(_sym, CAST(i + 1 AS INT)) "
            "ELSE CAST(NULL AS STRING) END AS b)), p -> p.b IS NOT NULL)"
        )
        best = (
            words.select(F.explode(F.expr(pair_expr)).alias("_p"), "_n")
            .groupBy("_p")
            .agg(F.sum("_n").alias("_c"))
            .orderBy(F.desc("_c"), F.asc("_p.a"), F.asc("_p.b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["_c"] < min_frequency:
            break
        a, b = best[0]["_p"]["a"], best[0]["_p"]["b"]
        merges.append((a, b))
        words = words.select(
            F.expr(_merge_pair_expr("_sym", a, b)).alias("_sym"), "_n"
        )
        if (i + 1) % checkpoint_every == 0:
            words = words.localCheckpoint()
    return merges


def apply_merges(symbols: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Reference greedy application of an ordered merge list to one
    symbol sequence (used by ``bpe_tokenize`` and the test oracle)."""
    for a, b in merges:
        out: list[str] = []
        for s in symbols:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        symbols = out
    return symbols


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list -> array<string>
    of subword units (Arrow-batched pandas UDF; per-word greedy merge
    application is object-at-a-time work — the learner, which touches
    the corpus-scale data, stays JVM-side)."""
    from pyspark.sql.functions import pandas_udf

    merge_list = list(merges)

    @pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            units: list[str] = []
            for w in (t or "").split(" "):
                if not w:
                    continue
                units.extend(apply_merges(list(w) + [END], merge_list))
            out.append(units)
        return pd.Series(out)

    return df.withColumn(out_col, _tok(F.col(text_col)))
