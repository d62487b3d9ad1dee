"""Output checks, run outside the timed passes.

Each check returns a list of problems; an empty list is a pass.  The
expected values come from the corpus generator and the fake model's rule,
never from the engine.
"""

from __future__ import annotations

import glob
import importlib.util
import os
from datetime import datetime

import pyarrow.parquet as pq

from perfbench import fakellm

ERROR = fakellm.ERROR_TRIPLE[0]


def read_dir(path: str, columns: list[str] | None = None):
    """One pyarrow table from every parquet part file under ``path``."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    import pyarrow as pa

    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def check_clean(table, corpus) -> list[str]:
    """Dense ids 1..N in (publish_date, link) order and the kept rows exactly."""
    problems = []
    rows = sorted(zip(*(table.column(c).to_pylist() for c in
                        ("id_news", "link", "title", "content", "publish_date", "category"))))
    if len(rows) != len(corpus.kept):
        return [f"clean kept {len(rows)} rows, expected {len(corpus.kept)}"]
    if [r[0] for r in rows] != list(range(1, len(rows) + 1)):
        problems.append("id_news is not dense 1..N")
    bad = 0
    for (i, link, title, content, day, cat), exp in zip(rows, corpus.kept):
        if (link, title, content, cat) != (exp[0], exp[1], exp[2], exp[4]) or \
                day != datetime.fromisoformat(exp[3]):
            bad += 1
    if bad:
        problems.append(f"{bad} clean rows differ from the expected (publish_date, link) order")
    return problems


def check_enriched(table, raise_pct: int, malformed_pct: int, expected_rows: int) -> list[str]:
    """Every row's triple is the fake model's answer for its prompt, and the
    run carries one processing timestamp."""
    from project_market_pulse_etl_pipeline_with_llm_integration_spark.operators.enrich import (
        build_prompt,
    )

    problems = []
    if table.num_rows != expected_rows:
        problems.append(f"enriched {table.num_rows} rows, expected {expected_rows}")
    stamps = set(table.column("etl_processing_time").to_pylist())
    if len(stamps) != 1:
        problems.append(f"{len(stamps)} distinct etl_processing_time values, expected 1")
    cols = [table.column(c).to_pylist() for c in
            ("title", "content", "sentiment_llm", "category_llm", "market_impact_summary")]
    wrong = sentinels = expected_sentinels = 0
    for title, content, s, c, m in zip(*cols):
        exp = fakellm.expected_triple(build_prompt(title, content), raise_pct, malformed_pct)
        wrong += (s, c, m) != exp
        sentinels += s == ERROR
        expected_sentinels += exp[0] == ERROR
    if wrong:
        problems.append(f"{wrong} rows differ from the model's answer for their prompt")
    if sentinels != expected_sentinels:
        problems.append(f"{sentinels} {ERROR} rows, expected {expected_sentinels}")
    return problems


def check_table(spark, table: str, corpus) -> list[str]:
    """Partition and row counts read back through the registered table."""
    problems = []
    want: dict[str, int] = {}
    for r in corpus.kept:
        want[r[4]] = want.get(r[4], 0) + 1
    parts = spark.sql(f"SHOW PARTITIONS {table}").count()
    if parts != len(want):
        problems.append(f"{table}: {parts} partitions, expected {len(want)}")
    got = {r[0]: r[1] for r in spark.sql(
        f"SELECT category, count(*) FROM {table} GROUP BY category").collect()}
    if got != want:
        problems.append(f"{table}: per-category row counts {got} != {want}")
    return problems


def _oracle_tool(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over the suite's tables, hashed the way ``tools/check_oracle.py``
    hashes (order-insensitive, per-column canonical strings)."""

    def __init__(self, root: str, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        import __spark_entry__ as entry

        self.tool = _oracle_tool(root)
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def has(self, name: str) -> bool:
        return name in self.sql

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> list[str]:
        rel = self.con.sql(self.sql[name])
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
        if len(rows) != len(orows):
            return [f"{name}: {len(rows)} rows, oracle {len(orows)}"]
        if sorted(cols) != sorted(ocols):
            return [f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"]
        if self.tool.table_hash(cols, rows) != self.tool.table_hash(ocols, orows):
            return [f"{name}: value hash differs from the oracle"]
        return []
