"""The benchmark's workloads: which ops a pass runs, and how each op's
output is checked.

An op has two timed phases: ``build`` returns the op's result (for a
registry query this is ``QueryDef.fn(spark, sf_dir)``, which may run
eager jobs of its own), and the action materializes the result's
DataFrames (``frames``) -- into a noop sink on warm passes, collected to
the driver on the cold pass.  ``check`` then compares the cold pass's
result and rows with an independent answer, off the clock.

Why these workloads (the full reasoning is in perfbench/README.md):

- ``tpch_sf1`` is bound by executor work: scans, joins, shuffles and
  aggregation (TPC-H q21 and Q1 over 6M lineitem rows).
- ``driver_sf0.1`` is bound by the driver: the paper's CO2 pipeline
  (many tiny ``pyspark.ml`` jobs), a retrieval-eval query whose
  ``QueryDef.fn`` runs eager checkpoint jobs, and a micro-batch streaming
  query.
"""

from __future__ import annotations

import importlib.util
import math
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_canon():
    """``canon`` from tools/check_oracle.py: rows sorted (order-insensitive),
    ints and strings exact, floats by ``repr`` (bit-exact)."""
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.canon


canon = _load_canon()


def canonical(rows: list, columns: list[str]) -> list[tuple]:
    return canon([r.asDict() for r in rows], sorted(columns))


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[SparkSession], object]
    #: the DataFrames of a result that the action materializes
    frames: Callable[[object], list[DataFrame]]
    #: (result, collected rows per frame) -> problems found
    check: Callable[[object, list[list]], list[str]]


def _single(result: object) -> list[DataFrame]:
    return [result]


class Oracle:
    """DuckDB views over the staged tables, for the registry ops' oracles."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def compare(self, columns: list[str], rows: list, sql: str) -> list[str]:
        rel = self.con.sql(sql)
        dcols = rel.columns
        if sorted(dcols) != sorted(columns):
            return [f"columns spark={sorted(columns)} duckdb={sorted(dcols)}"]
        drows = [dict(zip(dcols, r)) for r in rel.fetchall()]
        if len(rows) != len(drows):
            return [f"row count spark={len(rows)} duckdb={len(drows)}"]
        got, want = canonical(rows, columns), canon(drows, sorted(columns))
        mismatched = sum(a != b for a, b in zip(got, want))
        return [f"{mismatched} of {len(rows)} rows differ from the DuckDB oracle"] if mismatched else []


def registry_op(name: str, sf_dir: str, oracle: Oracle) -> Op:
    from big_data_co2_emission_analysis_spark.queries import all_queries

    qd = all_queries()[name]

    def check(result: DataFrame, rows: list[list]) -> list[str]:
        return oracle.compare(result.columns, rows[0], qd.oracle)

    return Op(name, lambda spark: qd.fn(spark, sf_dir), _single, check)


# -- the paper's CO2 pipeline -------------------------------------------


def co2_expected(csv_path: str) -> dict:
    """The pipeline's analytic answers, computed with pandas alone."""
    import pandas as pd

    from big_data_co2_emission_analysis_spark.co2.world_dim import ISO_PATCHES, WORLD_DIM

    raw = pd.read_csv(csv_path, dtype={"Country Name": str, "Country Code": str}, keep_default_na=False, na_values=[""])
    clean = raw[["Country Name", "Country Code", "2004", "2014"]].dropna().copy()
    clean["change"] = clean["2014"] - clean["2004"]
    reduced = clean["change"] <= 0

    def top(col: str, ascending: bool) -> list[tuple[str, float]]:
        rows = clean.sort_values([col, "Country Name"], ascending=[ascending, True]).head(3)
        return list(zip(rows["Country Name"], rows[col]))

    dim_codes = [ISO_PATCHES.get(name, iso) for iso, name, _, _ in WORLD_DIM]
    codes = set(clean["Country Code"])
    return {
        "n_raw": len(raw),
        "n_clean": len(clean),
        "n_reduced": int(reduced.sum()),
        "n_increased": int((~reduced).sum()),
        "sums": (
            math.fsum(clean.loc[reduced, "change"]),
            math.fsum(clean.loc[~reduced, "change"]),
            math.fsum(clean["change"]),
        ),
        "top_2014": top("2014", False),
        "top_2004": top("2004", False),
        "reducers": top("change", True),
        "increasers": top("change", False),
        "world_rows": len(dim_codes),
        "world_matched": sum(c in codes for c in dim_codes),
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def co2_pipeline_op(csv_path: str, expected: dict) -> Op:
    """The paper's pipeline as one op: ingest -> clean -> derive -> k-means
    (``run_pipeline``), then the top-3 analytics, the country comparison
    and the world join over its (cached) assignments."""
    from big_data_co2_emission_analysis_spark.co2 import pipeline as P

    k = 5
    tops = ("top_2014", "top_2004", "reducers", "increasers")

    def frames(r) -> list[DataFrame]:
        a = r.assigned
        return [
            a,
            r.cluster_ranges,
            P.top_emitters(a, "2014"),
            P.top_emitters(a, "2004"),
            P.top_reducers(a),
            P.top_increasers(a),
            P.selected_countries(a),
            P.world_join(a),
        ]

    def check(r, rows: list[list]) -> list[str]:
        problems = []
        got = (r.n_raw, r.n_clean, r.n_reduced, r.n_increased)
        want = tuple(expected[x] for x in ("n_raw", "n_clean", "n_reduced", "n_increased"))
        if got != want:
            problems.append(f"counts {got} != {want}")
        sums = (r.sum_reduced, r.sum_increased, r.sum_total)
        if not all(map(_close, sums, expected["sums"])):
            problems.append(f"sums {sums} != {expected['sums']}")
        assigned, ranges, *top_rows, _, world = rows
        for key, got_rows in zip(tops, top_rows):
            if [tuple(x) for x in got_rows] != expected[key]:
                problems.append(f"{key} {[tuple(x) for x in got_rows]} != {expected[key]}")
        matched = sum(x["change"] is not None for x in world)
        if (len(world), matched) != (expected["world_rows"], expected["world_matched"]):
            problems.append(f"world join rows/matched {(len(world), matched)}")
        # k-means has no independent answer; check its invariants
        if len(r.centroids) != k or not -1.0 <= r.silhouette <= 1.0:
            problems.append(f"k-means: {len(r.centroids)} centroids, silhouette {r.silhouette}")
        if len(assigned) != r.n_clean or any(not 0 <= a["cluster"] < k for a in assigned):
            problems.append("k-means assignments do not cover the clean rows with clusters 0..k-1")
        if not ranges or len(ranges) > k or any(x["min_change"] > x["max_change"] for x in ranges):
            problems.append(f"cluster ranges {ranges}")
        return problems

    return Op("co2.paper_pipeline", lambda spark: P.run_pipeline(spark, csv_path, k=k), frames, check)


# -- workloads ------------------------------------------------------------


@dataclass
class Workload:
    name: str
    ops: list[Op]


TPCH_QUERIES = ("q21_waiting_suppliers", "pricing_summary")
DRIVER_QUERIES = ("bm25_eval_metrics", "streaming_hourly_counts")
WORKLOADS = ("tpch_sf1", "driver_sf0.1")


def data_dir(name: str, build_dir: str) -> str:
    """The tables a workload reads: the committed sf1 fixture, or the
    sf0.1 tables cut out of it."""
    import inputs

    sf1 = os.path.join(ROOT, "fixtures", "sf1")
    return sf1 if name == "tpch_sf1" else inputs.stage_tables(sf1, build_dir)


def make(name: str, sf_dir: str, csv_path: str) -> Workload:
    oracle = Oracle(sf_dir)
    if name == "tpch_sf1":
        return Workload(name, [registry_op(q, sf_dir, oracle) for q in TPCH_QUERIES])
    if name == "driver_sf0.1":
        ops = [registry_op(q, sf_dir, oracle) for q in DRIVER_QUERIES]
        ops.append(co2_pipeline_op(csv_path, co2_expected(csv_path)))
        return Workload(name, ops)
    raise ValueError(f"unknown workload {name!r}")
