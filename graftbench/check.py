"""Correctness checks for a benchmark run, made after the timed window.

- Metric requests: each distinct request is re-run as DuckDB SQL rendered
  from the generator's own definition of the metric in the manifest
  version the request ran against, and its rows are compared with the
  rows graft returned. The definition graft parsed must equal the
  generator's.
- Deploys: `Ingestion.Result` counts must equal the counts the generator
  knows, and the sink must read back with as many records.
- Funnel / stream: the 12 accounting rows must equal DuckDB running
  graft's own oracle SQL for `pipeline_e2e_v2` on the same corpus.
"""
import json
import math

import duckdb

REL_TOL = 1e-6


def connect(temp_dir, threads=4):
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    con.sql("SET memory_limit='1GB'")
    con.sql(f"SET temp_directory='{temp_dir}'")
    return con


# ------------------------------------------------------ metric requests

_AGG = {"count": "count({})", "count_distinct": "count(DISTINCT {})", "sum": "sum({})",
        "average": "avg({})", "min": "min({})", "max": "max({})", "median": "median({})",
        "median_approx": "median({})", "count_distinct_approx": "count(DISTINCT {})"}
_OPS = {"==": "=", "<>": "!="}


def _pred(f):
    return f"{f['field']} {_OPS.get(f['operator'], f['operator'])} {f['value']}"


def _agg(m, gated):
    e = f"({m['expression']})"
    if gated and m["filters"]:
        e = "CASE WHEN {} THEN {} END".format(" AND ".join(map(_pred, m["filters"])), e)
    return _AGG[m["calculation_method"]].format(e)


def _period(ts, grain):
    return f"CAST(date_trunc('{grain}', {ts}) AS DATE)"


def _select(m, keys, aggs, table, where):
    cols = ", ".join(keys + aggs)
    w = f" WHERE {' AND '.join(map(_pred, where))}" if where else ""
    g = " GROUP BY ALL" if keys else ""
    return f"SELECT {cols} FROM {table}{w}{g}"


def render(spec, defs):
    """DuckDB SQL for a request; `defs` maps metric name to the generator's
    definition, narrowed to the dimensions the request asked for."""
    ms = []
    for sm in spec["metrics"]:
        m = dict(defs[sm["name"]])
        m["dimensions"] = sm["dimensions"]
        ms.append(m)
    m0, t, kind = ms[0], spec["table"], spec["kind"]
    grain_keys = [f"{_period(m0['timestamp'], spec['grain'])} AS period"] if spec["grain"] else []
    keys = grain_keys + list(m0["dimensions"])
    if kind == "simple":
        return _select(m0, keys, [f"{_agg(m0, False)} AS {m0['name']}"], t, m0["filters"])
    if kind in ("fused", "ratio", "derived"):
        fused = _select(m0, keys, [f"{_agg(m, True)} AS {m['name']}" for m in ms], t, [])
        if kind == "fused":
            return fused
        if kind == "ratio":
            e = f"{ms[0]['name']} / NULLIF({ms[1]['name']}, 0)"
        else:
            e = spec["expression"]
        return f"SELECT *, {e} AS {spec['name']} FROM ({fused})"
    if kind == "cumulative":
        per = _select(m0, keys, [f"{_agg(m0, False)} AS {m0['name']}"], t, m0["filters"])
        part = f"PARTITION BY {', '.join(m0['dimensions'])} " if m0["dimensions"] else ""
        lo = f"{spec['trailing'] - 1} PRECEDING" if spec["trailing"] else "UNBOUNDED PRECEDING"
        return (f"SELECT *, sum({m0['name']}) OVER ({part}ORDER BY period "
                f"ROWS BETWEEN {lo} AND CURRENT ROW) AS cumulative_{m0['name']} FROM ({per})")
    parts = [_select(m0, [f"'{g}' AS grain", f"{_period(m0['timestamp'], g)} AS period"] +
                     list(m0["dimensions"]), [f"{_agg(m0, False)} AS {m0['name']}"], t, m0["filters"])
             for g in spec["grains"]]
    return " UNION ALL ".join(parts)


def _norm(v):
    if v is None or isinstance(v, (str, bool)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return float(v) if isinstance(v, float) or not float(v).is_integer() else int(v)


def _close(a, b, calc=None, band=None):
    if band is not None:
        return a is not None and band[0] - 1e-9 <= a <= band[1] + 1e-9
    if a is None or b is None or isinstance(a, str) or isinstance(b, str):
        return a == b
    if calc == "count_distinct_approx":  # HLL++ at rsd 0.01: 5 sigma, or a few register collisions
        return abs(a - b) <= max(4.0, 0.05 * abs(b))
    if isinstance(a, float) and math.isnan(a) and isinstance(b, float) and math.isnan(b):
        return True
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _sort_key(row):
    return tuple("" if isinstance(v, (int, float)) and not isinstance(v, bool) else str(v) for v in row)


def check_request(con, rec, defs):
    """Returns None when graft's rows match, else a one-line reason."""
    spec = rec["spec"]
    for sm in spec["metrics"]:
        g = defs.get(sm["name"])
        if g is None:
            return f"{sm['name']} not in manifest v{rec['version']}"
        for k in ("calculation_method", "expression", "timestamp", "time_grains", "filters"):
            if sm[k] != g[k]:
                return f"{sm['name']}.{k} parsed as {sm[k]!r}, manifest has {g[k]!r}"
        if not set(sm["dimensions"]) <= set(g["dimensions"]):
            return f"{sm['name']} dimensions {sm['dimensions']} not in manifest"
    calc = spec["metrics"][0]["calculation_method"]
    sql = render(spec, defs)
    approx_median = spec["kind"] == "simple" and calc == "median_approx"
    if approx_median:  # percentile_approx: any value between the 45th and 55th percentiles
        e = f"({spec['metrics'][0]['expression']})"
        sql = sql.replace(f"median({e})", f"quantile_disc({e}, 0.45), quantile_disc({e}, 0.55)")
    want = [tuple(_norm(v) for v in r) for r in con.sql(sql).fetchall()]
    got = [tuple(_norm(v) for v in r) for r in rec["rows"]]
    if len(want) != len(got):
        return f"{len(got)} rows, oracle has {len(want)}"
    want.sort(key=_sort_key)
    got.sort(key=_sort_key)
    for g, w in zip(got, want):
        if approx_median:
            ok = all(_close(a, b) for a, b in zip(g[:-1], w[:-2])) and _close(g[-1], None, band=w[-2:])
        else:
            ok = len(g) == len(w) and all(
                _close(a, b, calc if spec["kind"] == "simple" and i == len(g) - 1 else None)
                for i, (a, b) in enumerate(zip(g, w)))
        if not ok:
            return f"row {g} != oracle {w}"
    return None


def check_deploy(con, op, expected):
    if not op.get("ok"):
        return op.get("error", "deploy failed")
    for k in ("metrics", "records", "malformed"):
        if op[k] != expected[k]:
            return f"Ingestion.Result.{k}={op[k]}, generator expects {expected[k]}"
    if op["out_path"] != op["sink"]:
        return f"sink path {op['out_path']} != {op['sink']}"
    n = con.sql(f"SELECT count(*) FROM read_parquet('{op['sink']}/**/*.parquet', "
                "hive_partitioning = true)").fetchone()[0]
    if n != expected["records"]:
        return f"sink reads back {n} records, generator expects {expected['records']}"
    return None


# --------------------------------------------------------------- funnel

def funnel_oracle(con, oracle_sql, corpus_dir):
    con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{corpus_dir}/documents.parquet'")
    return [[_norm(v) for v in r] for r in con.sql(oracle_sql).fetchall()]


def check_rows(got, want):
    got = [[_norm(v) for v in r] for r in got]
    return None if got == want else f"funnel rows {got} != oracle {want}"


def load_manifest_defs(path):
    with open(path) as f:
        return {m["name"]: m for m in json.load(f)["metrics"].values()}
