"""The benchmark's workloads: sizes, ops, oracles and output checks.

Registry ops are checked against their DuckDB oracle, computed on the
generated inputs before the timed window: row count, column names and
the sorted canonicalized values (the correctness gate of
`tools/check_correctness.py`). Ops that call the
package directly are checked against expectations computed with DuckDB
or plain Python from the same inputs.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from harness import Op

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from check_correctness import rows_key  # noqa: E402  (the oracle gate's canonicalization)

KMODES_K = 4
KMODES_COLS = 10
KMODES_BASE_SEED = 3

# Input sizes. sql_analytics replicates orders/lineitem/events 2x with
# the KEY_SHIFTS scheme; kmodes_fit's point table holds more distinct
# value combinations than KModes.COMBO_THRESHOLD (100k), so the
# distributed Lloyd loop runs.
SIZES = {
    "sql_analytics": {"sf": 0.01, "replicas": 2, "n_docs": 100, "n_emb": 100, "ingest_rows": 20_000},
    "kmodes_fit": {"sf": 0.01, "replicas": 1, "n_docs": 2_000, "n_emb": 100,
                   "points": 104_000, "ensemble_points": 10_000},
}
# Nominal seconds per cycle over a workload's ops (4 vCPUs, quiet host):
# a window of --seconds runs round(seconds / CYCLE_S) whole cycles.
CYCLE_S = {"sql_analytics": 11.0, "kmodes_fit": 11.5}
# --tiny: the self-test size; every op still runs and is checked
TINY = {
    "sql_analytics": {"sf": 0.001, "replicas": 1, "n_docs": 100, "n_emb": 100, "ingest_rows": 1_000},
    "kmodes_fit": {"sf": 0.001, "replicas": 1, "n_docs": 300, "n_emb": 100,
                   "points": 3_000, "ensemble_points": 1_000},
}

# (op key, tables it reads): a registry op's credited rows are the summed
# row counts of the tables it reads
SQL_REGISTRY = [
    ("q01", ["lineitem"]),
    ("q04", ["customer", "nation", "region"]),
    ("q16", ["customer", "nation", "orders"]),
    ("q18", ["customer", "lineitem", "orders"]),
    ("q21", ["events"]),
    ("q30", ["events"]),
    ("q32", ["events"]),
    ("qo73", ["customer", "lineitem", "nation", "orders", "part", "region", "supplier"]),
    ("qo74", ["lineitem", "supplier"]),
    ("o16", ["customer", "lineitem", "nation", "orders", "supplier"]),
]
SQL_STREAMING = [("qo12", ["events"])]
KMODES_REGISTRY = [("ql01", ["orders"])]


# ---------------------------------------------------------------------------
# input generation (no package imports)


def near_dup_edges(docs_path: str, out_path: str) -> int:
    """Word-trigram Jaccard >= 0.2 document pairs (doc_a < doc_b), the
    near-duplicate edge list the dedup ops build, computed with DuckDB."""
    con = duckdb.connect()
    try:
        con.execute(f"""
        COPY (
          WITH shingles AS (
            SELECT DISTINCT doc_id, shingle FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                     i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
              FROM read_parquet('{docs_path}'))
          ), sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id
          ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT doc_a, doc_b FROM pairs
          JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2
          ORDER BY doc_a, doc_b
        ) TO '{out_path}' (FORMAT PARQUET)""")
        return con.execute(f"SELECT count(*) FROM read_parquet('{out_path}')").fetchone()[0]
    finally:
        con.close()


def generate(workload: str, data_dir: str, seed: int, tiny: bool) -> list:
    """Write the workload's inputs; return the planted k-modes modes."""
    size = (TINY if tiny else SIZES)[workload]
    inputs.generate(data_dir, seed, size["sf"], size["replicas"], size["n_docs"], size["n_emb"])
    rng = np.random.default_rng([seed, 1])
    planted: list = []
    if workload == "sql_analytics":
        n = size["ingest_rows"]
        batch = pa.table({
            "event_id": np.arange(n, dtype=np.int64) + 50_000_000,
            "user_id": rng.integers(0, 500, n).astype(np.int64),
            "event_type": np.array(inputs.EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
        })
        pq.write_table(batch, os.path.join(data_dir, "ingest_batch.parquet"), row_group_size=n)
    else:
        def points(name, n, gen=rng):
            table, modes = inputs.kmodes_points(gen, n, KMODES_COLS, KMODES_K, 0.4)
            pq.write_table(table.take(rng.permutation(n)), os.path.join(data_dir, f"{name}.parquet"), row_group_size=n)
            return modes

        # a seeded row permutation of one fixed planted table: the Lloyd
        # iteration count depends on the values, not on the row order, so
        # every seed runs the same number of iterations
        planted = points("kmodes_points", size["points"], np.random.default_rng(KMODES_BASE_SEED))
        points("kmodes_ensemble", size["ensemble_points"])
        near_dup_edges(os.path.join(data_dir, "documents.parquet"), os.path.join(data_dir, "near_dup_edges.parquet"))
    return planted


def row_counts(data_dir: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        for f in os.listdir(data_dir) if f.endswith(".parquet")
    }


# ---------------------------------------------------------------------------
# checks


def expect_rows(cols, rows):
    """A check that compares a (columns, rows) result with an expected one:
    row count, column names, then the sorted canonical rows."""
    want_cols, want_key = sorted(cols), rows_key(list(cols), rows)

    def check(result):
        got_cols, got_rows = result
        if len(got_rows) != len(want_key):
            return f"row count {len(got_rows)} != oracle {len(want_key)}"
        if sorted(got_cols) != want_cols:
            return f"columns {sorted(got_cols)} != oracle {want_cols}"
        got_key = rows_key(list(got_cols), got_rows)
        if got_key != want_key:
            diffs = [(g, w) for g, w in zip(got_key, want_key) if g != w][:3]
            return f"values differ from oracle; first diffs (got, oracle): {diffs}"
        return None

    return check


class Oracle:
    """DuckDB over the generated inputs."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in inputs.REGISTRY_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.data_dir = data_dir

    def rows(self, sql: str):
        rel = self.con.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()

    def close(self):
        self.con.close()


def _lit(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def kmodes_replay_sql(path: str, cols, modes) -> str:
    """Per-row nearest mode (argmin Hamming, ties to the lowest index)
    and its distance, over the parquet file at `path`."""
    dists = ", ".join(
        "(" + " + ".join(f"({c} <> {_lit(v)})::INT" for c, v in zip(cols, m)) + ")" for m in modes
    )
    return (f"SELECT *, list_position(dist, list_min(dist)) - 1 AS cluster, list_min(dist) AS dmin "
            f"FROM (SELECT *, [{dists}] AS dist FROM read_parquet('{path}'))")


def lloyd_fixed_point_error(con, path: str, cols, modes) -> str | None:
    """None when one more Lloyd step (assign, then per-column mode with
    ties to the smallest value; empty clusters keep their mode) leaves
    `modes` unchanged."""
    melt = " UNION ALL ".join(f"SELECT cluster, '{c}' AS col, {c} AS value FROM a" for c in cols)
    rows = con.execute(f"""
        WITH a AS ({kmodes_replay_sql(path, cols, modes)}),
        m AS ({melt}),
        n AS (SELECT cluster, col, value, count(*) AS n FROM m GROUP BY ALL)
        SELECT cluster, col, value FROM (
          SELECT *, row_number() OVER (PARTITION BY cluster, col ORDER BY n DESC, value ASC) AS rn FROM n)
        WHERE rn = 1""").fetchall()
    new = {i: dict(zip(cols, m)) for i, m in enumerate(modes)}
    for cluster, col, value in rows:
        new[cluster][col] = value
    stepped = [tuple(new[i][c] for c in cols) for i in range(len(modes))]
    if stepped != [tuple(m) for m in modes]:
        return "modes are not a Lloyd fixed point of the input"
    return None


def union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """vertex -> minimum vertex id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


# ---------------------------------------------------------------------------
# ops


@dataclass
class Ctx:
    """What every op needs: the live session and where things are."""

    spark: object
    data_dir: str
    work_dir: str
    counts: dict
    oracle: Oracle
    procs: object  # probes.Processes


def registry_query(reg: dict, key: str):
    (name,) = [n for n in reg if n.startswith(key + "_")]
    return reg[name]


def registry_ops(ctx: Ctx, reg: dict, spec, checks: dict) -> list[Op]:
    """`checks` maps an op key to its oracle check (see oracle_checks)."""
    ops = []
    for key, reads in spec:
        q = registry_query(reg, key)

        def call(tr, q=q):
            with tr.span("operators.plan"):
                df = q.fn(ctx.spark, ctx.data_dir)
                cols = df.columns
            with tr.span("operators.exec"):
                return cols, df.collect()

        ops.append(Op(key, sum(ctx.counts[t] for t in reads), call, checks[key]))
    return ops


def registry_spec(workload: str):
    return SQL_REGISTRY + SQL_STREAMING if workload == "sql_analytics" else KMODES_REGISTRY


def registry_tables(workload: str) -> list[str]:
    """The registry tables the workload's registry ops read."""
    return sorted({t for _, reads in registry_spec(workload) for t in reads})


# Registry oracles corrected here until the registry fixes them (each fix
# applies only while the registry text still contains what it replaces).
# q32: the running session SUM orders by ts alone while the LAG flags order
# by (ts, event_id); on tied timestamps (every event of the 2x replica has
# a twin) DuckDB may then number sessions out of step with the flags and
# emit 1-event sessions the replicated input cannot have (seen in 3 of 23
# runs; the engine's result was right each time).
ORACLE_FIXES = {
    "q32": [("SELECT user_id, ts,\n         CASE", "SELECT user_id, ts, event_id,\n         CASE"),
            ("PARTITION BY user_id ORDER BY ts\n", "PARTITION BY user_id ORDER BY ts, event_id\n")],
}


def oracle_sql(reg: dict, key: str) -> str:
    sql = registry_query(reg, key).oracle
    fixes = ORACLE_FIXES.get(key, [])
    if all(sql.count(old) == 1 for old, _ in fixes):
        for old, new in fixes:
            sql = sql.replace(old, new)
    return sql


def oracle_checks(oracle: Oracle, reg: dict, workload: str) -> dict:
    """Every registry op's expected result, from its DuckDB oracle."""
    spec = registry_spec(workload)
    checks = {key: expect_rows(*oracle.rows(oracle_sql(reg, key))) for key, _ in spec}
    if workload == "sql_analytics":
        checks["ingest_write"] = expect_rows(*oracle.rows(INGEST_AGG.format(path=ingest_batch_path(oracle.data_dir))))
    return checks


INGEST_AGG = ("SELECT event_type, count(*) AS n, sum(event_id) AS sum_id, count(DISTINCT user_id) AS users "
              "FROM read_parquet('{path}') GROUP BY event_type")


def ingest_batch_path(data_dir: str) -> str:
    return os.path.join(data_dir, "ingest_batch.parquet")


def ingest_write_op(ctx: Ctx, checks: dict) -> Op:
    """Write a seeded event batch as parquet partitioned by event_type
    (sources.tables.write_parquet), read it back and aggregate."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.sources.tables import write_parquet

    batch = ctx.spark.read.parquet(ingest_batch_path(ctx.data_dir))
    out = os.path.join(ctx.work_dir, "ingest_out")

    def call(tr):
        with tr.span("sources.write") as sp:
            io0 = ctx.procs.io() if tr.enabled else None
            write_parquet(batch, out, partition_by=["event_type"])
            if io0:
                sp.attrs["wchar"] = ctx.procs.io()[1] - io0[1]
                sp.attrs["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                        for d, _, fs in os.walk(out) for f in fs)
        with tr.span("sources.read"):
            df = ctx.spark.read.parquet(out).groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id"),
                F.countDistinct("user_id").alias("users"))
            return df.columns, df.collect()

    return Op("ingest_write", 2 * ctx.counts["ingest_batch"], call, checks["ingest_write"])


def sql_analytics_ops(ctx: Ctx, reg: dict, checks: dict) -> list[Op]:
    return (registry_ops(ctx, reg, SQL_REGISTRY, checks) + [ingest_write_op(ctx, checks)]
            + registry_ops(ctx, reg, SQL_STREAMING, checks))


class KModesOps:
    """KModes.fit, EnsembleKModes.fit, KModesModel.transform of the
    training points, the k-modes registry op and connected_components.

    The two fits are deterministic for fixed inputs, so their warm-up
    result is checked against the input with DuckDB (`settle`, before
    any timing) and every timed call must reproduce it exactly. The
    points are scored with the warm-up model."""

    def __init__(self, ctx: Ctx, reg: dict):
        from pyspark_distributed_kmodes_spark.ml.kmodes import EnsembleKModes, KModes

        self.ctx, self.reg = ctx, reg
        self.KModes, self.EnsembleKModes = KModes, EnsembleKModes
        read = lambda name: ctx.spark.read.parquet(self.path(name))  # noqa: E731
        self.points, self.ensemble_points = read("kmodes_points"), read("kmodes_ensemble")
        self.edges = read("near_dup_edges")
        self.cols = [f"a{j}" for j in range(KMODES_COLS)]
        self.model = None  # the first fit's model: scores the points
        self.last: dict[str, object] = {}
        self.expected: dict[str, object] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.data_dir, f"{name}.parquet")

    # -- calls -------------------------------------------------------------

    def fit(self, tr):
        with tr.span("kmodes.fit") as sp:
            m = self.KModes(KMODES_K, self.cols, max_iter=20, seed=42).fit(self.points)
            sp.attrs["iters"] = m.n_iter
        self.model = self.model or m
        self.last["kmodes_fit"] = m
        return m

    def ensemble(self, tr):
        with tr.span("kmodes.ensemble"):
            m = self.EnsembleKModes(None, KMODES_K, seed=42, cols=tuple(self.cols)).fit(self.ensemble_points)
        self.last["ensemble_fit"] = m
        return m

    def predict(self, tr):
        with tr.span("kmodes.predict"):
            rows = self.model.transform(self.points).groupBy("prediction").count().collect()
        return sorted((r["prediction"], r["count"]) for r in rows)

    def cc(self, tr):
        from pyspark_distributed_kmodes_spark.functions.graph import connected_components

        with tr.span("graph.cc"):
            rows = connected_components(self.edges, "doc_a", "doc_b").collect()
        return sorted((r["vertex"], r["component"]) for r in rows)

    # -- checks ------------------------------------------------------------

    @staticmethod
    def _model_key(m):
        return (list(m.modes), m.cost, m.n_iter, m.converged)

    def _check(self, key: str, canon=lambda r: r):
        def check(result):
            want = self.expected[key]
            if isinstance(want, str):
                return want  # the warm-up result failed its input check
            return None if canon(result) == want else f"{key}: result differs from the expected one"
        return check

    def fit_error(self, m) -> str | None:
        con, path = self.ctx.oracle.con, self.path("kmodes_points")
        if not m.converged or not 1 <= m.n_iter <= 20:
            return f"did not converge (n_iter={m.n_iter})"
        if len(m.modes) != KMODES_K:
            return f"{len(m.modes)} modes for k={KMODES_K}"
        err = lloyd_fixed_point_error(con, path, self.cols, m.modes)
        if err:
            return err
        cost = con.execute(f"SELECT sum(dmin) FROM ({kmodes_replay_sql(path, self.cols, m.modes)})").fetchone()[0]
        return None if float(cost) == m.cost else f"cost {m.cost} != replayed {cost}"

    def ensemble_error(self, m) -> str | None:
        # the meta step clusters the distinct partition modes, so it may
        # return fewer than k modes when fewer distinct candidates exist
        if not 1 <= len(m.modes) <= KMODES_K or len(set(m.modes)) != len(m.modes):
            return f"{len(m.modes)} modes (distinct: {len(set(m.modes))}) for k={KMODES_K}"
        if any(len(mode) != KMODES_COLS for mode in m.modes):
            return "mode width differs from the column count"
        total, n = self.ctx.oracle.con.execute(
            f"SELECT sum(dmin), count(*) FROM ({kmodes_replay_sql(self.path('kmodes_ensemble'), self.cols, m.modes)})"
        ).fetchone()
        return None if float(total) / n == m.cost else f"mean cost {m.cost} != replayed {float(total) / n}"

    def predict_check(self, result) -> str | None:
        n_rows = self.ctx.counts["kmodes_points"]
        if sum(n for _, n in result) != n_rows:
            return f"{sum(n for _, n in result)} predictions for {n_rows} rows"
        if any(not 0 <= c < KMODES_K for c, _ in result):
            return "prediction outside [0, k)"
        return None if result == self.expected["predict"] else "per-cluster counts differ from the replay"

    def settle(self) -> None:
        """After the warm-up: fix every expected result from the inputs."""
        con = self.ctx.oracle.con
        fit, ens = self.last["kmodes_fit"], self.last["ensemble_fit"]
        self.expected["kmodes_fit"] = self.fit_error(fit) or self._model_key(fit)
        self.expected["ensemble_fit"] = self.ensemble_error(ens) or self._model_key(ens)
        rows = con.execute(
            f"SELECT cluster, count(*) FROM ({kmodes_replay_sql(self.path('kmodes_points'), self.cols, self.model.modes)}) "
            "GROUP BY cluster").fetchall()
        self.expected["predict"] = sorted((int(c), int(n)) for c, n in rows)
        edges = pq.read_table(self.path("near_dup_edges")).to_pylist()
        self.expected["graph_cc"] = sorted(union_find_components([(e["doc_a"], e["doc_b"]) for e in edges]).items())

    def ops(self, checks: dict) -> list[Op]:
        """Scoring runs twice per cycle, after each fit: in a fit-once,
        score-many use it is the frequent call, and its median then rests
        on four calls per window, so one slow call does not move it."""
        c = self.ctx.counts
        predict = Op("predict", c["kmodes_points"], self.predict, self.predict_check)
        ops = [
            Op("kmodes_fit", c["kmodes_points"], self.fit, self._check("kmodes_fit", self._model_key)),
            predict,
            Op("ensemble_fit", c["kmodes_ensemble"], self.ensemble, self._check("ensemble_fit", self._model_key)),
            predict,
        ]
        ops += registry_ops(self.ctx, self.reg, KMODES_REGISTRY, checks)
        ops.append(Op("graph_cc", c["near_dup_edges"], self.cc, self._check("graph_cc")))
        return ops

    def planted_recovered(self, planted) -> int:
        """How many planted modes the latest fit returned (reported, not
        checked: Lloyd from a seeded random init may stop in a local
        optimum that merges two planted clusters)."""
        modes = set(map(tuple, self.last["kmodes_fit"].modes))
        return sum(tuple(p) in modes for p in planted)
