"""Inputs the benchmark generates; the program under test only reads them.

Two kinds:

- ``stage_tables``: the sf0.1 star schema, cut out of the committed
  ``fixtures/sf1`` tables.  ``fixtures/sf1`` was made by replicating the
  sf0.1 tables ten times with every key shifted by ``replica * count``,
  so the rows whose keys fall below the sf0.1 counts are exactly the
  sf0.1 tables.  The cut is written once per checkout (with DuckDB, so no
  JVM starts) and reused by every run; it does not depend on the seed.
- ``write_co2_csv``: a CSV with the shape of the World Bank CO2 table the
  paper's pipeline reads (header, 264 rows x 65 fields, trailing comma,
  about 15% empty cells), generated from the run's seed.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
import shutil

#: table -> (key column, exclusive upper bound at sf0.1); tables absent
#: here (region, nation) are copied whole.
SF01_KEYS = {
    "customer": ("c_custkey", 15_000),
    "supplier": ("s_suppkey", 1_000),
    "part": ("p_partkey", 20_000),
    "orders": ("o_orderkey", 150_000),
    "lineitem": ("l_orderkey", 150_000),
    "events": ("event_id", 100_000),
    "documents": ("doc_id", 5_000),
    "embeddings": ("vec_id", 2_000),
}
TABLES = ("region", "nation", *SF01_KEYS)

#: per-table ORDER BY of the staged file, so row order (and with it any
#: order-sensitive tie-break) does not depend on the fixture's layout
_ORDER = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "lineitem": "l_orderkey, l_linenumber",
}


def _fingerprint(src: str) -> str:
    sig = hashlib.sha1()
    for table in TABLES:
        d = os.path.join(src, f"{table}.parquet")
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                sig.update(f"{table}/{name}:{os.path.getsize(os.path.join(d, name))};".encode())
    return sig.hexdigest()[:12]


def stage_tables(src: str, build_dir: str, fraction: float = 1.0) -> str:
    """Return a directory ``.../sf<scale>`` holding one parquet file per
    table: the rows of ``src`` (``fixtures/sf1``) whose key is below
    ``fraction`` times its sf0.1 bound.  ``fraction=1`` is sf0.1.

    Written into a temporary sibling and renamed into place, so a run
    never sees a half-written copy; an existing copy is reused."""
    import duckdb

    scale = f"{0.1 * fraction:g}"
    final = os.path.join(build_dir, f"data-{_fingerprint(src)}", f"sf{scale}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for table in TABLES:
            where = ""
            if table in SF01_KEYS:
                key, bound = SF01_KEYS[table]
                where = f"WHERE {key} < {int(bound * fraction)}"
            order = _ORDER.get(table, SF01_KEYS.get(table, ("1",))[0])
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}/{table}.parquet/*.parquet') "
                f"{where} ORDER BY {order}) TO '{tmp}/{table}.parquet' (FORMAT parquet)"
            )
    finally:
        con.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    try:
        os.rename(tmp, final)
    except OSError:  # another process published the same copy first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


CO2_ROWS = 264
CO2_YEARS = [str(y) for y in range(1960, 2020)]


def write_co2_csv(path: str, seed: int) -> None:
    """Write a WDI-shaped CO2 CSV determined by ``seed`` alone.

    Countries are the world dimension's ISO codes (the four ``-99`` codes
    replaced by the real ones, as the WDI file has them) followed by
    aggregate codes that match no world row, like the WDI's regional
    rows.  Early years are sparse (25% empty) and later years dense (5%),
    which keeps the empty share near the reference's 15%."""
    from big_data_co2_emission_analysis_spark.co2.world_dim import ISO_PATCHES, WORLD_DIM

    rng = random.Random(seed)
    codes: dict[str, str] = {}
    for iso, name, _, _ in WORLD_DIM:
        code = ISO_PATCHES.get(name, iso)
        if code != "-99":
            codes.setdefault(code, name)
    countries = [(name, code) for code, name in codes.items()]
    countries +=[(f"Aggregate region {i}", f"Z{i:02d}") for i in range(CO2_ROWS - len(countries))]
    rng.shuffle(countries)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["Country Name", "Country Code", "Indicator Name", "Indicator Code", *CO2_YEARS, ""])
        for name, code in countries[:CO2_ROWS]:
            level = rng.lognormvariate(0.8, 1.1)
            trend = rng.uniform(-0.03, 0.04)
            cells = []
            for i, year in enumerate(CO2_YEARS):
                if rng.random() < (0.25 if int(year) < 1990 else 0.05):
                    cells.append("")
                else:
                    value = level * (1 + trend) ** (i - 30) * rng.uniform(0.9, 1.1)
                    cells.append(f"{value:.6f}")
            w.writerow([name, code, "CO2 emissions (metric tons per capita)", "EN.ATM.CO2E.PC", *cells, ""])
