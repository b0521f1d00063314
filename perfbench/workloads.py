"""The benchmark's workloads: what one op is, and how its output is checked.

Each workload builds its seeded inputs in ``__init__`` and exposes
``op() -> (latency_s, error)``: ``error`` is ``None`` when the op's
output check passed, else the reason it failed. With a ``Tracer`` the
op's layer calls are recorded as spans (see spans.py).

- ``EtlBatch`` (the write path): one ``run_etl.main`` run over bronze
  CSVs written from the seed.
- ``CurationPass`` (CPU and Python-worker heavy, shared caches): one
  pass over ten curation queries, in a fixed order, in one warm session.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import io
import os
import re
import shutil
import time

import pyarrow.parquet as pq

from inputs import write_bronze_csvs, write_corpus


class EtlBatch:
    name = "etl_batch"
    # the first op is ~1.7x the later ones, and the second and third
    # can still be ~10% slow
    warmup_ops = 3
    # 100k sales, 20k customers, 20k products, 5k stores
    BASE_ROWS = 20000
    # run_etl's module-level names that each traced call goes through
    TRACED = (
        "read_raw_csv", "clean_customers", "clean_products", "clean_stores",
        "clean_sales_observed", "write_staging", "build_warehouse",
        "save_warehouse", "validation_report", "write_validation_report",
    )

    def __init__(self, spark, work: str, seed: int, tracer=None):
        from retail_sales_analysis_etl_bi_project_spark import run_etl

        self.run_etl = run_etl
        self.bronze = os.path.join(work, "bronze")
        rows = write_bronze_csvs(spark, self.bronze, self.BASE_ROWS, seed)
        self.bronze_rows = sum(rows.values())
        self.sales_rows = rows["sales"]
        self.out_root = os.path.join(work, "etl-out")
        self.n_ops = 0
        if tracer is not None:
            for fn in self.TRACED:
                setattr(run_etl, fn, tracer.wrap("run_etl", fn, getattr(run_etl, fn)))

    def op(self) -> tuple[float, str | None]:
        out = os.path.join(self.out_root, str(self.n_ops))
        self.n_ops += 1
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):
            self.run_etl.main(["--data-dir", self.bronze, "--out", out])
        latency = time.perf_counter() - t0
        try:
            return latency, self.check(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def check(self, out: str) -> str | None:
        """Validation-report invariants of clean generated bronze data,
        and the gold fact row count against the clean sales rows."""
        with open(os.path.join(out, "validation_report.txt")) as f:
            report = f.read()

        def number(pattern: str) -> int:
            m = re.search(pattern, report, re.MULTILINE)
            if m is None:
                raise ValueError(f"validation report lacks {pattern!r}")
            return int(m.group(1))

        n_rows = number(r"^rows in sales: (\d+)$")
        bad_fk = number(r"^sales rows with bad foreign keys: (\d+)$")
        n_raw = number(r"^sales raw rows: (\d+)$")
        n_clean = number(r"^sales clean rows: (\d+)")
        files = glob.glob(os.path.join(out, "gold", "fact_sales", "**", "*.parquet"), recursive=True)
        n_fact = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
        if n_rows != self.sales_rows:
            return f"rows in sales {n_rows} != {self.sales_rows}"
        if bad_fk != 0:
            return f"{bad_fk} sales rows with bad foreign keys"
        if n_raw != n_clean:
            return f"sales raw rows {n_raw} != clean rows {n_clean}"
        if n_fact != n_clean:
            return f"gold fact_sales rows {n_fact} != clean sales rows {n_clean}"
        return None


def _norm_rows():
    """The result normalisation of the repo's oracle gate
    (tools/compare_oracle.py), loaded from the checkout."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(root, "tools", "compare_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm_rows


class CurationPass:
    name = "curation_pass"
    # the first pass compiles everything (~25 s); passes 2-5 still fall
    # by ~15% as the JIT settles
    warmup_ops = 4
    DOCS = 300
    VECTORS = 300
    QUERIES = (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_substring_spans",
        "text_profile",
        "text_repetition_signals",
        "text_pii_scrub",
        "corpus_filter_pipeline",
        "corpus_curation_funnel",
        "sim_ivf_ann_topk",
        "dedup_semantic_clusters",
    )
    TABLES = ("documents", "embeddings")
    bronze_rows = 0  # reads no bronze CSVs

    def __init__(self, spark, work: str, seed: int, tracer=None):
        import __spark_entry__ as entry

        self.spark = spark
        self.tracer = tracer
        self.data = os.path.join(work, "corpus")
        write_corpus(self.data, self.DOCS, self.VECTORS, seed)
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.builders = {q: queries[q] for q in self.QUERIES}
        self.oracles = {q: oracles[q] for q in self.QUERIES}
        self.norm_rows = _norm_rows()
        self.expected: dict[str, tuple] | None = None

    def _oracle_results(self) -> dict[str, tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            out = {}
            for q, sql in self.oracles.items():
                res = con.execute(sql)
                out[q] = self.norm_rows([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def op(self) -> tuple[float, str | None]:
        """One pass. The first pass is checked against the DuckDB twins;
        every later pass against the first pass's verified rows."""
        latency = 0.0
        got: dict[str, tuple] = {}
        for q in self.QUERIES:
            build = self.builders[q]
            t0 = time.perf_counter()
            if self.tracer is None:
                df = build(self.spark, self.data)
                rows = df.collect()
            else:
                df = self.tracer.call("query", f"{q}.build", build, self.spark, self.data)
                rows = self.tracer.call("query", f"{q}.exec", df.collect)
            latency += time.perf_counter() - t0
            got[q] = self.norm_rows(df.columns, [tuple(r) for r in rows])
        if self.expected is None:
            want, source = self._oracle_results(), "DuckDB oracle"
        else:
            want, source = self.expected, "verified first pass"
        bad = [q for q in self.QUERIES if got[q] != want[q]]
        if self.expected is None and not bad:
            self.expected = got
        return latency, (f"{', '.join(bad)} differ from the {source}" if bad else None)


WORKLOADS = {w.name: w for w in (EtlBatch, CurationPass)}
