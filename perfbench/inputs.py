"""Seeded benchmark inputs.

Every input is a pure function of the workload seed, so two runs with
the same ``--seed`` read byte-identical data and the program receives
only the generated files.

- ``write_bronze_csvs``: the reference-shaped bronze CSVs that
  ``run_etl --data-dir`` reads, produced by the engine's own
  ``sources.generator`` (seeded ``rand``) and written one file per table.
- ``write_corpus``: the ``documents`` and ``embeddings`` parquet tables
  the curation queries scan, in the layout of the engine's fixture
  tables (one file, one row group each). About one document in twenty
  is a near-duplicate of an earlier one (a copy with `` dup`` appended),
  so the dedup operators have clusters to find.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data table column row key value query join group agg sort "
    "filter scan hash merge window stream batch spark vector line part "
    "order customer big small fast slow"
).split()
LANGS = (("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
N_SOURCES = 20
DIM = 64
N_LABELS = 10
DUP_FRACTION = 0.05


def write_bronze_csvs(spark, out_dir: str, base_rows: int, seed: int) -> dict[str, int]:
    """Write customers/products/stores/sales.csv under ``out_dir`` and
    return the row count of each: for base rows N, the sizes ``run_etl``
    generates itself (N customers, N products, max(5000, N/10) stores,
    5N sales)."""
    from pyspark.sql import functions as F

    from retail_sales_analysis_etl_bi_project_spark.sources.csv import RAW_COLUMNS
    from retail_sales_analysis_etl_bi_project_spark.sources.generator import (
        gen_customers,
        gen_products,
        gen_sales,
        gen_stores,
    )

    n = {
        "customers": base_rows,
        "products": base_rows,
        "stores": max(5000, base_rows // 10),
        "sales": 5 * base_rows,
    }
    products = gen_products(spark, n["products"], seed=seed)
    tables = {
        "customers": gen_customers(spark, n["customers"], seed=seed),
        "products": products,
        "stores": gen_stores(spark, n["stores"], seed=seed),
        "sales": gen_sales(
            spark, products, n["sales"], n["customers"], n["products"],
            n["stores"], seed=seed,
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        part_dir = os.path.join(out_dir, f"_{name}")
        (
            df.select(*[F.col(c).cast("string") for c in RAW_COLUMNS[name]])
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(part_dir)
        )
        (part,) = glob.glob(os.path.join(part_dir, "part-*.csv"))
        shutil.move(part, os.path.join(out_dir, f"{name}.csv"))
        shutil.rmtree(part_dir)
    return n


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    words = np.array(VOCAB)
    langs = [lang for lang, _ in LANGS]
    weights = [w for _, w in LANGS]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_FRACTION:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": [langs[j] for j in rng.choice(len(langs), n_docs, p=weights)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, N_LABELS, n_vecs).astype(np.int32),
        }
    )


def write_corpus(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """Write documents.parquet and embeddings.parquet under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
