"""The ``compliance_batch`` workload: one sequential caller running the
nightly report job in a fresh engine process.

The fixed operation list runs the product reports (``api``) and four
registered graph/Cypher reports, writing every result through
``api.export_audit_report`` in a seeded format, plus one graph-viz export.
Each operation is timed from its call to the end of its export, so the
eager work inside the report functions (checkpoints, convergence jobs)
and the final write are measured together. After the timed pass every
artifact is read back: the product reports against DuckDB twins, the
registered operators against their registry oracle with
``tests/compare.py``.
"""

from __future__ import annotations

import glob
import os
import random
import time

import pandas as pd
import pyarrow.parquet as pq

from interactive import UBO_SQL, bfs, hierarchy_edges
from mimranalytics_core_spark.operators.graph import HIERARCHY_SQL, TRADE_CREDIT_SQL

REGISTRY_OPS = (
    "graph_risk_score",
    "graph_scc",
    "cypher_supply_chain",
    "cypher_temporal_bare_headline",
)


def plan(seed: int) -> dict:
    """Seeded parameters of one nightly job. The cycle length and the viz
    radius stay fixed: each changes its operation's cost by a third, which
    would move the latency percentiles with the seed instead of the code."""
    rng = random.Random(seed)
    d1 = rng.randint(2, 14)
    labels = [
        "ubo_report",
        "conflict_report",
        "circular_ownership",
        "structure_diff",
        "pagerank",
        "betweenness",
        "component",
        *REGISTRY_OPS,
    ]
    return {
        "threshold": round(rng.uniform(0.005, 0.03), 4),
        "max_levenshtein": rng.choice([2, 3]),
        "max_len": 4,
        "t1": f"2024-01-{d1:02d} {rng.randrange(24):02d}:00:00",
        "t2": f"2024-01-{d1 + rng.randint(3, 14):02d} {rng.randrange(24):02d}:00:00",
        "viz_entities": sorted({f"n:{rng.randrange(25)}" for _ in range(2)}),
        "viz_hops": 2,
        "formats": {label: rng.choice(["csv", "parquet"]) for label in labels},
    }


def operations(spark, data_dir: str, p: dict, out_dir: str, tracer):
    """(label, thunk) pairs; each thunk builds and exports one report."""
    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.registry import all_ops

    ops = all_ops()

    def export(label, build):
        def thunk():
            df = build()
            path = os.path.join(out_dir, label)
            fmt = p["formats"][label]
            if label in REGISTRY_OPS:
                tracer.call(
                    f"operators.{label}.exec",
                    api.export_audit_report,
                    (spark, data_dir, df, path, fmt),
                    {},
                )
            else:
                api.export_audit_report(spark, data_dir, df, path, fmt=fmt)

        return label, thunk

    items = [
        export("ubo_report", lambda: api.ubo_report(spark, data_dir, threshold=p["threshold"])),
        export(
            "conflict_report",
            lambda: api.conflict_report(spark, data_dir, max_levenshtein=p["max_levenshtein"]),
        ),
        export(
            "circular_ownership",
            lambda: api.circular_ownership(spark, data_dir, max_len=p["max_len"]),
        ),
        export("structure_diff", lambda: api.structure_diff(spark, data_dir, p["t1"], p["t2"])),
        export("pagerank", lambda: api.centrality(spark, data_dir, kind="pagerank")),
        export("betweenness", lambda: api.centrality(spark, data_dir, kind="betweenness")),
        export("component", lambda: api.centrality(spark, data_dir, kind="component")),
    ]
    items += [export(name, lambda name=name: ops[name].fn(spark, data_dir)) for name in REGISTRY_OPS]
    items.append(
        (
            "graph_viz",
            lambda: api.export_graph_viz(
                spark,
                data_dir,
                p["viz_entities"],
                hops=p["viz_hops"],
                path=os.path.join(out_dir, "graph_viz"),
            ),
        )
    )
    return items


def run_pass(items) -> list[tuple[str, float, str | None]]:
    """Run the list once; (label, seconds, error or None) per operation."""
    out = []
    for label, thunk in items:
        t0 = time.perf_counter()
        try:
            thunk()
            err = None
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            err = f"{type(exc).__name__}: {exc}"[:300]
        out.append((label, time.perf_counter() - t0, err))
    return out


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------


def read_artifact(path: str, fmt: str) -> pd.DataFrame:
    if fmt == "parquet":
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    files = sorted(glob.glob(os.path.join(path, "*.csv")))
    return pd.concat(
        [pd.read_csv(f, keep_default_na=False, na_values=[""]) for f in files], ignore_index=True
    )


def _coerce(art: pd.DataFrame, like: pd.DataFrame) -> pd.DataFrame:
    """Give a CSV-read frame the column types of the oracle's frame."""
    for col in art.columns:
        if col not in like.columns:
            continue
        kind = like[col].dtype.kind
        if kind == "M":
            art[col] = pd.to_datetime(art[col]).astype(like[col].dtype)
        elif kind in "iufb":
            art[col] = art[col].astype(like[col].dtype)
        else:
            art[col] = art[col].astype(object).where(art[col].notna(), None)
            art[col] = art[col].map(lambda v: v if v is None else str(v))
    return art


class _Frame:
    """The one method ``tests.compare.compare`` calls on a Spark frame."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 (mirrors pyspark)
        return self.pdf


def _same_rows(got: pd.DataFrame, sql: str, con, cols: list[str]) -> bool:
    def norm(df: pd.DataFrame) -> list[tuple]:
        return sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in row)
            for row in df[cols].itertuples(index=False)
        )

    want = con.execute(sql).fetchdf()
    return len(got) == len(want) and norm(got) == norm(want)


def oracle_sql(con, spec, cache_dir: str) -> str:
    """SQL reading the op's oracle result. The registered operators take no
    parameters and the dataset is fixed, so DuckDB evaluates each oracle
    once per checkout (``graph_risk_score``'s takes ~16 s) and later runs
    read the stored result."""
    path = os.path.join(cache_dir, f"{spec.name}.parquet")
    if not os.path.isfile(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        con.execute(f"COPY ({spec.oracle}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, path)
    return f"SELECT * FROM read_parquet('{path}')"


def verify(con, data_dir: str, p: dict, out_dir: str, cache_dir: str) -> dict[str, str | None]:
    """Label → None when the artifact is correct, else a reason."""
    from mimranalytics_core_spark.registry import all_ops
    from tests.compare import compare

    ops = all_ops()
    twins = {
        "ubo_report": (
            f"""SELECT owner, entity, ROUND(weight, 6) AS effective_ownership
                FROM ({UBO_SQL}) WHERE weight >= {p['threshold']}""",
            ["owner", "entity", "effective_ownership"],
        ),
        "conflict_report": (
            f"""SELECT a.c_custkey AS entity_a, b.c_custkey AS entity_b,
                       a.c_nationkey AS shared_attribute,
                       levenshtein(a.c_name, b.c_name) AS name_distance
                FROM customer a JOIN customer b
                  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
                WHERE levenshtein(a.c_name, b.c_name) <= {p['max_levenshtein']}""",
            ["entity_a", "entity_b", "shared_attribute", "name_distance"],
        ),
        "circular_ownership": (
            f"""WITH RECURSIVE {TRADE_CREDIT_SQL},
                walk(origin, node, depth) AS (
                    SELECT src, dst, 1 FROM tc_edges
                    UNION ALL
                    SELECT w.origin, e.dst, w.depth + 1
                    FROM walk w JOIN tc_edges e ON e.src = w.node
                    WHERE w.depth < {p['max_len']} AND w.node <> w.origin)
                SELECT DISTINCT origin AS entity_on_cycle FROM walk WHERE node = origin""",
            ["entity_on_cycle"],
        ),
        "structure_diff": (
            f"""WITH snap AS (SELECT user_id, event_type, MIN(ts) AS first_seen
                              FROM events GROUP BY ALL),
                s1 AS (SELECT user_id, event_type FROM snap
                       WHERE first_seen <= TIMESTAMP '{p['t1']}'),
                s2 AS (SELECT user_id, event_type FROM snap
                       WHERE first_seen <= TIMESTAMP '{p['t2']}')
                (SELECT *, 'added' AS change FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s1))
                UNION ALL
                (SELECT *, 'removed' FROM (SELECT * FROM s1 EXCEPT SELECT * FROM s2))""",
            ["user_id", "event_type", "change"],
        ),
    }
    n_nodes = con.execute(
        f"WITH {HIERARCHY_SQL} SELECT COUNT(*) FROM (SELECT src FROM edges UNION SELECT dst FROM edges)"
    ).fetchone()[0]

    result: dict[str, str | None] = {}
    for label, fmt in p["formats"].items():
        try:
            art = read_artifact(os.path.join(out_dir, label), fmt)
        except (OSError, ValueError) as exc:
            result[label] = f"artifact unreadable: {exc}"
            continue
        if label in twins:
            sql, cols = twins[label]
            ok = _same_rows(art, sql, con, cols)
            result[label] = None if ok else "differs from DuckDB twin"
        elif label in ("pagerank", "component"):
            result[label] = None if len(art) == n_nodes else f"{len(art)} rows, {n_nodes} nodes"
        elif label == "betweenness":
            result[label] = None if 0 < len(art) <= n_nodes else f"{len(art)} rows"
        else:
            sql = oracle_sql(con, ops[label], cache_dir)
            if fmt == "csv":
                art = _coerce(art, con.execute(sql).fetchdf())
            problems = compare(_Frame(art), con, sql, name=label)
            result[label] = "; ".join(problems)[:300] or None
    result["graph_viz"] = _verify_viz(con, p, os.path.join(out_dir, "graph_viz"))
    return result


def _verify_viz(con, p: dict, path: str) -> str | None:
    edges = hierarchy_edges(con)
    seen = set(bfs(edges, p["viz_entities"], p["viz_hops"]))
    want = len(seen) + len({(s, d) for s, d in edges if s in seen and d in seen})
    got = 0
    for f in glob.glob(os.path.join(path, "kind=*", "*.json")):
        with open(f) as fh:
            got += sum(1 for line in fh if line.strip())
    return None if got == want else f"{got} viz rows, expected {want}"
