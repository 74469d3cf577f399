"""Deterministic input generators for the benchmark workloads.

Everything here is a pure function of its ``seed``: the same seed gives
byte-identical files, another seed gives other files. Nothing imports
Spark, so inputs are written before the program under test starts.

* ``write_documents`` — a harness-shaped ``documents.parquet``
  (doc_id, text, lang, source, n_chars): bag-of-words texts over a
  30-word vocabulary, 10-100 words each, 5% near-copies of an earlier
  document with `` dup`` appended, and a few exact copies.
* ``dupheavy_documents`` — the duplicate-heavy curation corpus built
  from those documents: each base document, plus an exact copy of 25%
  of them, plus two near-copies (one word replaced) of 50% of them.
* ``write_bbdc_native`` — the BBDC native CSV layout: a headerless
  label CSV plus one EMG (8 channels, 600 Hz) and one mocap (9 columns,
  100 Hz) CSV per (subject, trial), with 2% empty cells.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row"
    " the agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

ARM_ACTIONS = {
    "la": ("la-nothing", "la-lift", "la-pour"),
    "ra": ("ra-nothing", "ra-hold", "ra-stir"),
}
EMG_COLS = tuple(f"c{i}" for i in range(8))
MOCAP_COLS = (
    "LHand_Position_X", "LHand_Position_Y", "LHand_Position_Z",
    "RHand_Position_X", "RHand_Position_Y", "RHand_Position_Z",
    "Chest_Position_X", "Chest_Position_Y", "Chest_Position_Z",
)
TRAIN_SUBJECTS = ("s01", "s02", "s03", "s04", "s05")
TEST_SUBJECT = "s06"


def _docs_table(rows: list[tuple[int, str, str, str]]) -> pa.Table:
    ids, texts, langs, sources = (list(c) for c in zip(*rows))
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOCS_SCHEMA,
    )


def base_documents(seed: int, n_docs: int) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows of the harness-shaped corpus."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, n_docs)
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    rows: list[tuple[int, str, str, str]] = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 0 and roll < 0.05:
            text = rows[int(rng.integers(0, i))][1] + " dup"
        elif i > 0 and roll < 0.052:
            text = rows[int(rng.integers(0, i))][1]
        else:
            words = rng.integers(0, len(VOCAB), lengths[i])
            text = " ".join(VOCAB[w] for w in words)
        rows.append((i, text, LANGS[langs[i]], f"src{i % N_SOURCES}"))
    return rows


def dupheavy_documents(seed: int, n_base: int) -> list[tuple[int, str, str, str]]:
    """Base corpus plus an exact copy of 25% of the documents and two
    one-word-edited near-copies of another 50%; copies keep the
    original's lang and source and get fresh ids after the base."""
    base = base_documents(seed, n_base)
    rng = np.random.default_rng([seed, 2])
    roll = rng.random(n_base)
    rows = list(base)
    next_id = n_base
    for (_, text, lang, source), r in zip(base, roll):
        if r < 0.25:
            rows.append((next_id, text, lang, source))
            next_id += 1
        elif r < 0.75:
            words = text.split()
            for _ in range(2):
                edited = list(words)
                pos = int(rng.integers(0, len(edited)))
                edited[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))] + "x"
                rows.append((next_id, " ".join(edited), lang, source))
                next_id += 1
    return rows


def write_documents(path: str, rows: list[tuple[int, str, str, str]]) -> None:
    pq.write_table(_docs_table(rows), path)


def _write_csv(path: str, header: list[str] | None, cols: list[list]) -> None:
    """Plain CSV with empty cells for NaN (``repr`` for floats, so the
    text is a pure function of the values)."""
    with open(path, "w") as fh:
        if header is not None:
            fh.write(",".join(header) + "\n")
        for row in zip(*cols):
            fh.write(
                ",".join(
                    v if isinstance(v, str) else "" if v != v else repr(v)
                    for v in row
                )
                + "\n"
            )


def _trial_series(rng, span_s: float, hz: int, n_cols: int, loc_step: float,
                  scale: float) -> list[list]:
    n = int(round(span_s * hz))
    ts = np.arange(n) / hz
    cols = [ts.tolist()]
    for c in range(n_cols):
        v = rng.normal(c * loc_step, scale, n)
        v[rng.random(n) < 0.02] = np.nan
        cols.append(np.round(v, 6).tolist())
    return cols


def write_bbdc_native(root: str, seed: int, trials: int, span_s: float) -> dict:
    """Stage ``root/train`` (labels.csv, emg/, mocap/ for s01-s05) and
    ``root/test`` (emg/, mocap/ for s06). Returns the layout facts the
    output check needs."""
    rng = np.random.default_rng([seed, 3])
    trial_ids = [f"t{i + 1:02d}" for i in range(trials)]
    for side, subjects in (("train", TRAIN_SUBJECTS), ("test", (TEST_SUBJECT,))):
        for sub in ("emg", "mocap"):
            os.makedirs(os.path.join(root, side, sub), exist_ok=True)
        labels: list[list] = [[], [], [], []]
        for s in subjects:
            for t in trial_ids:
                for arm in ("la", "ra"):
                    bounds = np.sort(rng.uniform(0.5, span_s - 0.5, 4))
                    edges = [0.0, *np.round(bounds, 3).tolist(), span_s]
                    for a, b in zip(edges, edges[1:]):
                        labels[0].append(f"{s}{t}.{arm}")
                        labels[1].append(float(a))
                        labels[2].append(float(b))
                        labels[3].append(ARM_ACTIONS[arm][int(rng.integers(0, 3))])
                _write_csv(
                    os.path.join(root, side, "emg", f"{s}{t}.csv"),
                    ["ts", *EMG_COLS],
                    _trial_series(rng, span_s, 600, len(EMG_COLS), 0.5, 1.0),
                )
                _write_csv(
                    os.path.join(root, side, "mocap", f"{s}{t}.csv"),
                    ["ts", *MOCAP_COLS],
                    _trial_series(rng, span_s, 100, len(MOCAP_COLS), 0.1, 0.5),
                )
        if side == "train":
            _write_csv(os.path.join(root, side, "labels.csv"), None, labels)
    return {"test_keys": [f"{TEST_SUBJECT}{t}.{arm}" for t in trial_ids
                          for arm in ("la", "ra")],
            "span_s": span_s}
