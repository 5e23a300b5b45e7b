"""Seeded input tables for the benchmark workloads.

The benchmark runs from a plain checkout, so it cannot rely on any
pre-generated test data: every table is made here from ``--seed``,
and the same seed always gives byte-identical tables.

- ``documents``: the text corpus schema the registered pipelines read
  (doc_id, text, lang, source, n_chars). Texts draw from a small
  vocabulary, like the repository's test corpus, and carry three planted
  properties so every pipeline stage has work: exact copies (dedup),
  copies that differ only in case and spacing (clean, then dedup), and
  copied 12-word spans (shared shingles, so decontamination drops
  some train documents).
- ``lineitem``: the TPC-H-shaped fact table the feature workload reads.

``replicate_documents`` grows a base corpus with the replica rules of
``scripts/gen_scale.py`` (key offsets plus replica-tagged word
rewrites), so cross-replica copies stay distinct documents.
"""

from __future__ import annotations

import datetime as _dt
import importlib.util
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = Path(__file__).resolve().parents[1]

VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def script(name: str):
    """``scripts/<name>.py`` as a module (the scripts folder is not a
    package)."""
    path = REPO_ROOT / "scripts" / f"{name}.py"
    spec = importlib.util.spec_from_file_location(f"_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def documents(n: int, seed: int) -> pa.Table:
    """``n`` documents of 10-100 words; ~2% exact copies, ~2% copies
    differing in case/whitespace only, ~3% with a 12-word span copied
    from another document."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, size=n)
    words = [list(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    kind = rng.random(n)
    src = rng.integers(0, n, size=n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.03 and len(words[j]) >= 12 and len(words[i]) >= 12:
            at = int(rng.integers(0, len(words[j]) - 11))
            words[i][:12] = words[j][at:at + 12]
    texts = [" ".join(w) for w in words]
    for i in range(1, n):
        j = int(src[i]) % i
        if 0.03 <= kind[i] < 0.05:
            texts[i] = texts[j]
        elif 0.05 <= kind[i] < 0.07:
            texts[i] = "  ".join(texts[j].split(" ")).upper()
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[k] for k in lang], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def replicate_documents(base: pa.Table, factor: int, seed: int) -> pa.Table:
    """``factor`` replicas of ``base`` by ``scripts/gen_scale.py``'s
    rules: doc ids offset per replica, and replica ``i > 0`` suffixes
    about half the words with a replica tag. The seed moves the tags
    (replica ``i`` is tagged as ``seed * factor + i``), so each seed
    gives a different vocabulary across replicas."""
    gs = script("gen_scale")
    moduli = {"doc": int(base.column("doc_id").to_numpy().max()) + 1}
    parts = [base]
    for i in range(1, factor):
        rep = gs._offset_batch(base, moduli, i)
        parts.append(gs._perturb_documents(rep, seed * factor + i))
    return pa.concat_tables(parts)


def lineitem(n: int, seed: int) -> pa.Table:
    """A ``lineitem`` table of ``n`` rows with the TPC-H column set."""
    rng = np.random.default_rng([seed, 2])
    n_orders = max(1, n // 4)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)
    base = _dt.datetime(1995, 1, 1)
    days = rng.integers(0, 2500, size=n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, size=n)),
            "l_partkey": pa.array(rng.integers(0, max(1, n // 30), size=n)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), size=n)),
            "l_linenumber": pa.array(
                rng.integers(1, 8, size=n).astype(np.int32)
            ),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]
            ),
            "l_linestatus": pa.array(
                np.array(["O", "F"])[rng.integers(0, 2, size=n)]
            ),
            "l_shipdate": pa.array(
                [base + _dt.timedelta(days=int(d)) for d in days],
                type=pa.timestamp("us"),
            ),
        }
    )


def write_table(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` as ``<directory>/<name>.parquet`` (one file, the
    layout ``mldag_spark.queries.tables.load`` reads)."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path)
    return path
