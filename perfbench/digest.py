"""Order-insensitive result digests and the DuckDB oracle check.

A digest is ``(columns, rows, lo, hi)``: the sorted column names, the row
count and two 32-bit halves of the sum of one xxhash64 per row. Every cell
is cast to a canonical string first (floating point to nine significant
digits, NaN as NULL), so the same rows in any order, from Spark or from a
DuckDB oracle, give the same digest.

Timed ops take their digest with ``observe`` on the same action that
writes the result, so checking a result launches no extra Spark job.

Oracle digests are kept in a JSON file keyed by the SQL text and the
sha256 of every input table, so a later run on byte-identical inputs
reuses the answer instead of running the oracle again.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_FLOATING = ("float", "double", "decimal")


def _row_hash(df: DataFrame):
    cells = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        col = F.col(f"`{field.name}`")
        if field.dataType.typeName() in _FLOATING:
            d = col.cast("double")
            cell = F.when(d.isNull() | F.isnan(d), F.lit("NULL")).otherwise(
                F.format_string("%.8e", d)
            )
        else:
            cell = F.coalesce(col.cast("string"), F.lit("NULL"))
        cells.append(cell)
    return F.xxhash64(F.concat_ws("\x1f", *cells))


def _aggregates(df: DataFrame) -> list:
    h = _row_hash(df)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftrightunsigned(h, 32)), F.lit(0)).alias("hi"),
    ]


def _as_digest(df: DataFrame, row) -> tuple:
    return (tuple(sorted(df.columns)), int(row["rows"]), int(row["lo"]), int(row["hi"]))


def observe(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with digest aggregates attached; read them with :func:`observed`
    after the action that consumes the returned frame."""
    obs = Observation()
    return df.observe(obs, *_aggregates(df)), obs


def observed(df: DataFrame, obs: Observation) -> tuple:
    return _as_digest(df, obs.get)


def noop_digest(df: DataFrame) -> tuple:
    """Run ``df`` into the noop sink and return its digest."""
    watched, obs = observe(df)
    watched.write.format("noop").mode("overwrite").save()
    return observed(df, obs)


def frame_digest(df: DataFrame) -> tuple:
    """Digest of ``df`` by one aggregate action (for reference results)."""
    return _as_digest(df, df.agg(*_aggregates(df)).collect()[0])


class Oracle:
    """DuckDB with the fixture tables of one directory registered as views,
    its digests cached in ``cache_path``."""

    def __init__(
        self, sf_dir: str, tables: tuple[str, ...], threads: int, temp_dir: str, cache_path: str
    ):
        self.con = duckdb.connect(
            config={"threads": threads, "memory_limit": "2GB", "temp_directory": temp_dir}
        )
        inputs = hashlib.sha256()
        for t in tables:
            path = f"{sf_dir}/{t}.parquet"
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            with open(path, "rb") as fh:
                inputs.update(t.encode() + hashlib.sha256(fh.read()).digest())
        self.inputs_key = inputs.hexdigest()
        self.cache_path = cache_path

    def digest(self, spark: SparkSession, sql: str) -> tuple:
        key = hashlib.sha256((self.inputs_key + sql).encode()).hexdigest()
        cache = {}
        if os.path.exists(self.cache_path):
            with open(self.cache_path) as fh:
                cache = json.load(fh)
        if key not in cache:
            cols, *rest = frame_digest(spark.createDataFrame(self.con.execute(sql).arrow()))
            cache[key] = [list(cols), *rest]
            tmp = f"{self.cache_path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(cache, fh)
            os.replace(tmp, self.cache_path)
        cols, *rest = cache[key]
        return (tuple(cols), *rest)

    def rows(self, sql: str) -> int:
        return int(self.con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])

    def close(self) -> None:
        self.con.close()
