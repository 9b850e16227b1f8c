"""Output checks: registry queries against their DuckDB oracle, and
seed-independent invariants of one medallion pipeline pass.

The pipeline checks and storage figures read the lake with DuckDB, an
engine independent of the one under test, and launch no Spark jobs."""

from __future__ import annotations

import os

import duckdb

from urban_traffic_data_lake_project_spark.operators.monte_carlo import DEFAULT_SCENARIOS
from urban_traffic_data_lake_project_spark.plans import pipeline as P
from urban_traffic_data_lake_project_spark.queries import REGISTRY
from urban_traffic_data_lake_project_spark.testing import compare_frames

# Queries checked by row count only: mc_scenarios has no oracle.
ROWS_ONLY = {"mc_scenarios": len(DEFAULT_SCENARIOS)}
# bootstrap_ci's registry oracle replays 1,000 Poisson replicates per
# lineitem row in DuckDB, longer than a whole query pass; its strict oracle
# stays in tests/test_analytics.py. Here it is checked against invariants
# that any correct bootstrap satisfies, with the sample means from DuckDB.
BOOTSTRAP_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
BOOTSTRAP_REPLICATES = 1000
BOOTSTRAP_MEANS_SQL = "SELECT " + ", ".join(f"avg({c}) AS {c}" for c in BOOTSTRAP_COLS) + " FROM lineitem"
SILVER_KEYS = {
    "traffic_clean": ("traffic_id", P.TRAFFIC_NUMERICS),
    "weather_clean": ("weather_id", P.WEATHER_NUMERICS),
}
GOLD_COLUMNS = {
    "monte_carlo_scenarios": {
        "scenario", "description", "mean_traffic", "traffic_std",
        "congestion_prob_high", "accident_risk_high", "threshold_used", "n_simulations",
    },
    "monte_carlo_results": {"column_name", "mean_estimate", "ci_lower_95", "ci_upper_95"},
    "factor_loadings": {"Factor_1_loading"},
    "traffic_weather_factors": {"traffic_id", "Factor_1_score"},
}


def oracle_sql(name: str) -> str | None:
    """The DuckDB SQL whose result checks query ``name``, or None."""
    if name in ROWS_ONLY:
        return None
    return BOOTSTRAP_MEANS_SQL if name == "bootstrap_ci" else REGISTRY[name].oracle


def bootstrap_problems(spark_pdf, means_pdf) -> list[str]:
    """Invariants of a bootstrap_ci result: one row per column, the CI
    brackets the estimate, and the estimate (the mean of the replicate
    means) is the sample mean within the replicates' sampling error."""
    got = spark_pdf.set_index("column_name")
    if sorted(got.index) != sorted(BOOTSTRAP_COLS):
        return [f"bootstrap_ci: columns {sorted(got.index)}, want {sorted(BOOTSTRAP_COLS)}"]
    problems = []
    for c in BOOTSTRAP_COLS:
        r, mean = got.loc[c], float(means_pdf[c].iloc[0])
        # 5 standard errors of a mean of the replicate means, plus rounding
        tol = 5 * r["std_estimate"] / BOOTSTRAP_REPLICATES**0.5 + 1e-4
        if not r["ci_lower_95"] <= r["mean_estimate"] <= r["ci_upper_95"]:
            problems.append(f"bootstrap_ci {c}: CI {r['ci_lower_95']}..{r['ci_upper_95']} "
                            f"misses estimate {r['mean_estimate']}")
        if not abs(r["mean_estimate"] - mean) <= tol:
            problems.append(f"bootstrap_ci {c}: estimate {r['mean_estimate']}, sample mean {mean:.6f}")
    return problems


def query_problems(name: str, spark_pdf, oracle_pdf) -> list[str]:
    """Mismatches of one query result against its oracle result, against
    its row count for the ROWS_ONLY queries, or against the bootstrap
    invariants."""
    if name in ROWS_ONLY:
        want = ROWS_ONLY[name]
        return [] if len(spark_pdf) == want else [f"{name}: {len(spark_pdf)} rows, want {want}"]
    if name == "bootstrap_ci":
        return bootstrap_problems(spark_pdf, oracle_pdf)
    return compare_frames(spark_pdf, oracle_pdf)


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _columns(con, path: str) -> set[str]:
    return {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {_parquet(path)}").fetchall()}


def pipeline_problems(paths: P.LayerPaths) -> dict[str, list[str]]:
    """Invariant violations per stage, for any input seed:

    - silver: keys unique, no nulls in median-filled numerics
    - merge: every silver traffic key reaches ``merged_data``
    - gold: each table non-empty with its expected columns
    """
    out: dict[str, list[str]] = {"silver": [], "merge": [], "gold": []}
    con = duckdb.connect()
    try:
        for table, (key, numerics) in SILVER_KEYS.items():
            path = os.path.join(paths.silver, table)
            missing = [c for c in [key, *numerics] if c not in _columns(con, path)]
            if missing:
                out["silver"].append(f"{table}: missing columns {missing}")
                continue
            nulls = ", ".join(f"count(*) FILTER (WHERE {c} IS NULL)" for c in numerics)
            # dedup keeps one survivor per key, NULL included (tests/test_pipeline.py)
            n, keys, *null_counts = con.execute(
                f"SELECT count(*), count(DISTINCT {key}) + coalesce(max(({key} IS NULL)::INT), 0), "
                f"{nulls} FROM {_parquet(path)}"
            ).fetchone()
            if keys != n:
                out["silver"].append(f"{table}: {n} rows but {keys} distinct keys")
            left = {c: k for c, k in zip(numerics, null_counts) if k}
            if left:
                out["silver"].append(f"{table}: nulls left after median fill {left}")

        merged = os.path.join(paths.silver, "merged_data")
        traffic = os.path.join(paths.silver, "traffic_clean")
        (lost,) = con.execute(
            f"SELECT count(*) FROM (SELECT traffic_id FROM {_parquet(traffic)} "
            f"EXCEPT SELECT traffic_id FROM {_parquet(merged)})"
        ).fetchone()
        if lost:
            out["merge"].append(f"merged_data: {lost} silver traffic keys missing")

        for table, cols in GOLD_COLUMNS.items():
            path = os.path.join(paths.gold, table)
            have = _columns(con, path)
            if not cols <= have:
                out["gold"].append(f"{table}: missing columns {sorted(cols - have)}")
            elif con.execute(f"SELECT count(*) FROM {_parquet(path)}").fetchone()[0] == 0:
                out["gold"].append(f"{table}: empty")
    finally:
        con.close()
    return out


def _data_files(root: str) -> list[str]:
    """Part files under ``root``, not the checksum sidecars or commit
    markers the writers leave beside them."""
    return [
        os.path.join(d, n) for d, _, names in os.walk(root) for n in names if n.startswith("part-")
    ]


def lake_stats(paths: P.LayerPaths) -> dict[str, float]:
    """Data files and rows per file of each stage's output, all files the
    pass left in the lake, and the lake's bytes over the bronze CSV bytes."""
    stage_dirs = {
        "bronze": [os.path.join(paths.bronze, t) for t in ("traffic_raw", "weather_raw")],
        "silver": [os.path.join(paths.silver, t) for t in SILVER_KEYS],
        "merge": [os.path.join(paths.silver, "merged_data")],
        "gold": [os.path.join(paths.gold, t) for t in GOLD_COLUMNS],
    }
    out: dict[str, float] = {}
    sizes: dict[str, int] = {}
    con = duckdb.connect()
    try:
        for st, dirs in stage_dirs.items():
            files = [f for d in dirs for f in _data_files(d)]
            scan = "read_csv({}, header = true)" if st == "bronze" else "read_parquet({})"
            listed = "[" + ", ".join(f"'{f}'" for f in files) + "]"
            (rows,) = con.execute(f"SELECT count(*) FROM {scan.format(listed)}").fetchone()
            out[f"pipeline.{st}.files"] = len(files)
            out[f"pipeline.{st}.rows_per_file"] = rows / len(files)
            sizes[st] = sum(os.path.getsize(f) for f in files)
    finally:
        con.close()
    out["pipeline.files_written"] = sum(len(fs) for _, _, fs in os.walk(paths.base))
    out["pipeline.bytes_per_input_byte"] = sum(sizes.values()) / sizes["bronze"]
    return out
