"""The SQL-fragment layer (``functions/sqlfrag``) and the operator
contracts that depend on it: an existing output column is replaced in
place (``withColumn`` semantics), non-string sampler keys keep working,
and column names with backticks or dots survive the SQL round trip."""

from __future__ import annotations

import os
import re

import pytest

from bbdc20_submission_spark.functions.sqlfrag import ident, lit, with_sql
from bbdc20_submission_spark.operators.chunking import pack_sequences, scrub_text
from bbdc20_submission_spark.operators.sampling import (
    mixture_sample,
    split_assign,
    stratified_sample,
    token_budget_sample,
)
from bbdc20_submission_spark.operators.text import (
    classifier_quality_score,
    language_id,
    quality_score,
    text_stats,
    with_repetition_flag,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bbdc20_submission_spark",
)

DOCS = [
    (1, "the cat is on the mat and that is that"),
    (2, "der Hund ist nicht mit ein Ball"),
    (3, "mail bob@example.com or call +1 (555) 123-4567 now"),
    (4, "el perro y la casa de que por un"),
    (5, "repeat repeat repeat repeat repeat"),
    (6, "le chat et la maison pour un que est"),
]


def test_ident_escapes_backticks():
    assert ident("text") == "`text`"
    assert ident("a.b") == "`a.b`"
    assert ident("te`xt") == "`te``xt`"


def test_lit_is_type_aware():
    assert lit("don't \\ stop") == "'don\\'t \\\\ stop'"
    assert lit(True) == "true" and lit(False) == "false"
    assert lit(7) == "7"
    assert lit(0.5) == "0.5D"
    assert lit(float("inf")) == "CAST('inf' AS DOUBLE)"


@pytest.mark.parametrize("value", [None, b"x", [1], {"a": 1}, object()])
def test_lit_rejects_unsupported_types(value):
    with pytest.raises(TypeError):
        lit(value)


def test_lit_round_trips_through_spark(spark):
    values = ["it's", "back\\slash", True, False, -3, 2**40, 0.1, -2.5e-300,
              float("inf"), float("-inf")]
    row = spark.range(1).selectExpr(
        *[f"{lit(v)} AS c{i}" for i, v in enumerate(values)]
    ).first()
    assert list(row) == values
    nan = spark.range(1).selectExpr(f"{lit(float('nan'))} AS x").first()["x"]
    assert nan != nan


def test_with_sql_adds_and_replaces_in_place(spark):
    df = spark.createDataFrame([(1, "a", 10)], "`i.d` long, `s`` x` string, v long")
    out = with_sql(df, v="v + 1", w="v * 2")
    assert out.columns == ["i.d", "s` x", "v", "w"]
    # every expression reads the input columns
    assert tuple(out.first()) == (1, "a", 11, 20)
    kept = with_sql(df, ["v", "i.d"], **{"s` x": "upper(`s`` x`)"})
    assert kept.columns == ["v", "i.d", "s` x"]
    assert tuple(kept.first()) == (10, 1, "A")


def _docs(spark, extra: str | None = None):
    """The test corpus; ``extra`` puts a stale string column of that
    name at position 1, between the id and the text."""
    if extra is None:
        return spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = [(i, "stale", t) for i, t in DOCS]
    return spark.createDataFrame(rows, f"doc_id long, {ident(extra)} string, text string")


def _chunks(spark, extra: str | None = None):
    rows = [(d, c, 3 + (d * 7 + c) % 11) for d in range(1, 9) for c in range(4)]
    if extra is None:
        return spark.createDataFrame(rows, "doc_id long, chunk_id long, n_tokens long")
    return spark.createDataFrame(
        [(d, "stale", c, n) for d, c, n in rows],
        f"doc_id long, {ident(extra)} string, chunk_id long, n_tokens long",
    )


def _pack_sequences(df):
    return pack_sequences(df, budget_tokens=16, n_buckets=3)


# (operator, output column, input factory): every operator that appends
# an output column to its input frame through a SQL projection
OUT_COL_CASES = [
    (split_assign, "split", _docs),
    (language_id, "lang_pred", _docs),
    (classifier_quality_score, "clf_score", _docs),
    (with_repetition_flag, "repetition_ok", _docs),
    (quality_score, "quality", _docs),
    (text_stats, "stat_n_tokens", _docs),
    (_pack_sequences, "pack_bucket", _chunks),
    (_pack_sequences, "seq_id", _chunks),
    (_pack_sequences, "seq_pos", _chunks),
]


@pytest.mark.parametrize(
    "op,col,make",
    OUT_COL_CASES,
    ids=[f"{op.__name__.lstrip('_')}-{col}" for op, col, _ in OUT_COL_CASES],
)
def test_existing_output_column_is_replaced_in_place(spark, op, col, make):
    fresh = op(make(spark))
    out = op(make(spark, extra=col))
    assert out.columns.count(col) == 1, out.columns
    assert out.columns.index(col) == 1, out.columns
    assert sorted(out.columns) == sorted(fresh.columns)
    key = ["doc_id", "chunk_id"] if "chunk_id" in fresh.columns else ["doc_id"]

    def values(df):
        return {tuple(r[k] for k in key): r[col] for r in df.select(*key, col).collect()}

    assert values(out) == values(fresh)


def test_scrub_text_replaces_existing_out_col_in_place(spark):
    out = scrub_text(_docs(spark, extra="text_scrubbed"))
    assert out.columns == ["doc_id", "text_scrubbed", "text"]
    masked = {r["doc_id"]: r["text_scrubbed"] for r in out.collect()}
    assert masked[3].startswith("mail <EMAIL> or call")
    assert masked == {
        r["doc_id"]: r["text_scrubbed"] for r in scrub_text(_docs(spark)).collect()
    }


def _strata_frame(spark, kind: str):
    rows = [(i, i % 4 if kind == "int" else i % 3 == 0, 5 + i % 17) for i in range(600)]
    return spark.createDataFrame(rows, f"doc_id long, s {kind}, ntok long")


SAMPLERS = {
    "stratified": lambda df, keys: stratified_sample(
        df, "s", dict(zip(keys, (0.5, 0.2)))
    ),
    "mixture": lambda df, keys: mixture_sample(
        df, "s", dict(zip(keys, (0.7, 0.3))), total_fraction=0.4
    ),
    "token_budget": lambda df, keys: token_budget_sample(
        df, "s", dict(zip(keys, (900, 400))), "ntok", n_coarse=16
    ),
}
KEYS = {"int": (2, 0), "boolean": (True, False)}


@pytest.mark.parametrize("kind", sorted(KEYS))
@pytest.mark.parametrize("sampler", sorted(SAMPLERS))
def test_non_string_strata_keys_match_string_keys(spark, sampler, kind):
    df = _strata_frame(spark, kind)
    keys = KEYS[kind]
    as_str = df.withColumn("s", df["s"].cast("string"))
    str_keys = tuple(str(k).lower() for k in keys)
    sample = SAMPLERS[sampler]
    got = {r["doc_id"] for r in sample(df, keys).collect()}
    want = {r["doc_id"] for r in sample(as_str, str_keys).collect()}
    assert got == want
    assert 0 < len(got) < 600


def test_text_column_with_backtick_and_dot(spark):
    plain = _docs(spark)
    odd = plain.withColumnRenamed("text", "te`x.t")
    scrubbed = scrub_text(odd, text_col="te`x.t", out_col="clean")
    assert {r["doc_id"]: r["clean"] for r in scrubbed.collect()} == {
        r["doc_id"]: r["clean"]
        for r in scrub_text(plain, out_col="clean").collect()
    }
    langs = language_id(odd, text_col="te`x.t")
    assert langs.columns == ["doc_id", "te`x.t", "lang_pred"]
    assert {r["doc_id"]: r["lang_pred"] for r in langs.collect()} == {
        r["doc_id"]: r["lang_pred"] for r in language_id(plain).collect()
    }


def test_one_quoting_style_in_package():
    """Projections go through ``with_sql`` and literals through ``lit``:
    no hand-written passthrough star and no second string quoter."""
    banned = re.compile(r'selectExpr\(\s*"\*"|sql_str_lit')
    hits = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    text = fh.read()
                hits += [f"{path}: {m.group(0)}" for m in banned.finditer(text)]
    assert hits == []
