"""Seeded input generators for the graft benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical parquet and JSON inputs. The program under test sees only
the files written here.

- `corpus`: a `documents` table (testdata schema) with controlled exact
  duplicates, near-duplicate families, shared boilerplate spans and
  documents that overlap the evaluation set (`doc_id < 25`), fitted to
  the statistics of the sf0.1 testdata corpus (`calibrate.py`).
- `facts`: `orders` / `lineitem` / `events` with the testdata schemas,
  row counts and column distributions.
- `manifests`: a dbt manifest (~1,000 metrics on ~200 models, nested
  glossary categories) and a chain of drifted deploy versions.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- corpus

# Fitted to the sf0.1 `documents` testdata table (5,000 docs), measured by
# `calibrate.py`; spec.json records the measurement next to that of a
# generated corpus.
VOCABULARY = ("a agg batch big column customer data fast filter group hash join key line merge "
              "order part query row scan slow small sort spark stream table the value vector "
              "window").split()  # 30 words, each equally likely
CORPUS_DEFAULTS = dict(
    docs=5000,
    sources=20,                 # source = src<doc_id % sources>
    min_tokens=10,              # tokens per doc: uniform in [min, max]
    max_tokens=99,
    exact_dup_share=0.0,        # docs that repeat another doc byte for byte (the
                                # testdata's 0.16% are all two variants of one base)
    family_share=0.05,          # docs that are a near-dup variant of another doc
    family_marker="dup",        # a variant is its base plus this token ...
    family_edits=1,             # ... appended this many times (a variant of a variant adds another)
    boilerplate_share=0.0,      # docs carrying one shared 16-token span (none measured)
    eval_overlap_docs=0,        # docs past doc_id 25 rewritten as a variant of a doc_id < 25
    langs=dict(en=0.41, de=0.14, es=0.15, fr=0.15, zh=0.15),
)


def corpus(path, seed, **overrides):
    """Write `<path>/documents.parquet`; returns the generator parameters.

    Every doc starts fresh; then each copy or variant, in doc_id order,
    takes the current text of a doc drawn uniformly from the whole
    corpus, so a variant may precede its base and variants of variants
    occur, as in the testdata."""
    p = dict(CORPUS_DEFAULTS, **overrides)
    rng = np.random.default_rng([seed, 101])
    vocab = np.array(VOCABULARY)
    n = p["docs"]
    boiler = " ".join(rng.choice(vocab, size=16))
    suffix = " " + " ".join([p["family_marker"]] * p["family_edits"])
    lens = rng.integers(p["min_tokens"], p["max_tokens"] + 1, size=n)
    texts = [" ".join(rng.choice(vocab, size=k)) for k in lens]
    kinds = rng.random(n)
    c_exact = p["exact_dup_share"]
    c_fam = c_exact + p["family_share"]
    c_boil = c_fam + p["boilerplate_share"]
    for i in range(n):
        k = kinds[i]
        if k < c_exact:
            texts[i] = texts[rng.integers(n)]
        elif k < c_fam:
            texts[i] = texts[rng.integers(n)] + suffix
        elif k < c_boil:
            toks = texts[i].split()
            at = rng.integers(len(toks) + 1)
            texts[i] = " ".join(toks[:at] + [boiler] + toks[at:])
    for i in rng.choice(np.arange(25, n), size=p["eval_overlap_docs"], replace=False):
        texts[i] = texts[rng.integers(25)] + suffix
    doc_id = np.arange(n, dtype=np.int64)
    langs = list(p["langs"])
    shares = np.array([p["langs"][x] for x in langs])
    table = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": [langs[j] for j in rng.choice(len(langs), size=n, p=shares / shares.sum())],
        "source": [f"src{j}" for j in doc_id % p["sources"]],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/documents.parquet")
    return p


# ----------------------------------------------------------- fact tables

# Row counts and column distributions of the testdata fact tables
# (sf0.01 measured; sf0.1 has 10x the rows).
FACT_ROWS = dict(orders=150_000, lineitem=600_000, events=100_000)  # sf0.1

_DAY0 = np.datetime64("1995-01-01", "us")
_EVENTS0 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng, n, start, days):
    """Midnight timestamps on `days` consecutive days from `start`."""
    return start + (rng.integers(0, days, size=n) * _DAY_US).astype("timedelta64[us]")


def facts(path, seed, scale=1.0):
    """Write orders/lineitem/events parquet at `scale` x sf0.1 rows."""
    rng = np.random.default_rng([seed, 202])
    n_o = max(10, int(FACT_ROWS["orders"] * scale))
    n_l = max(40, int(FACT_ROWS["lineitem"] * scale))
    n_e = max(10, int(FACT_ROWS["events"] * scale))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n_o // 10), size=n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_o),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, size=n_o), 2),
        "o_orderdate": _days(rng, n_o, _DAY0, 2400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_o),
    }), f"{path}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, n_o, size=n_l),
        "l_partkey": rng.integers(0, max(1, n_l // 30), size=n_l),
        "l_suppkey": rng.integers(0, max(1, n_l // 600), size=n_l),
        "l_linenumber": rng.integers(1, 8, size=n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, size=n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n_l) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_l),
        "l_linestatus": rng.choice(["F", "O"], size=n_l),
        "l_shipdate": _days(rng, n_l, _DAY0 + np.timedelta64(_DAY_US, "us"), 2500),
    }), f"{path}/lineitem.parquet")
    span_us = 30 * _DAY_US  # events arrive in order over 30 days
    pq.write_table(pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _EVENTS0 + np.sort(rng.integers(0, span_us, size=n_e)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_e * 3 // 200), size=n_e),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], size=n_e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, size=n_e), 2)),
        "props": ['{"k": %d}' % j for j in rng.integers(0, 100, size=n_e)],
    }), f"{path}/events.parquet")


# -------------------------------------------------------------- manifest

# per fact table: timestamp column, dimension columns, measure
# expressions (with the calculation methods each may carry), filters
TABLES = {
    "orders": dict(
        ts="o_orderdate", dims=["o_orderstatus", "o_orderpriority"],
        measures=[("o_totalprice", "num"), ("o_totalprice * 0.9", "num"),
                  ("o_custkey", "key"), ("o_orderkey", "key")],
        filters=[("o_orderstatus", "=", "'F'"), ("o_totalprice", ">", "100000"),
                 ("o_orderpriority", "!=", "'5-LOW'")]),
    "lineitem": dict(
        ts="l_shipdate", dims=["l_returnflag", "l_linestatus"],
        measures=[("l_extendedprice", "num"), ("l_quantity", "num"),
                  ("l_extendedprice * (1 - l_discount)", "num"), ("l_tax", "num"),
                  ("l_partkey", "key"), ("l_orderkey", "key")],
        filters=[("l_quantity", ">", "10"), ("l_returnflag", "=", "'R'"),
                 ("l_discount", "<=", "0.05")]),
    "events": dict(
        ts="ts", dims=["event_type"],
        measures=[("value", "num"), ("user_id", "key"), ("event_id", "key")],
        filters=[("event_type", "=", "'purchase'"), ("value", ">=", "10.5")]),
}
NUM_CALCS = ["sum", "average", "min", "max", "median", "median_approx"]
KEY_CALCS = ["count", "count_distinct", "count_distinct_approx"]
GRAINS = ["day", "week", "month", "quarter", "year"]
CATS = [f"{a}/{b}" for a in ["Finance", "Sales", "Product", "Ops", "Growth"]
        for b in ["Revenue", "Volume", "Quality", "Retention", "Cost", "Risk"]] + \
       [f"Finance/Revenue/{r}" for r in ["EMEA", "AMER", "APAC"]]

MANIFEST_DEFAULTS = dict(metrics=1000, models=200, drift_share=0.05, versions=30)


def _metric(rng, idx, model_ids, model_table):
    mid = model_ids[rng.integers(len(model_ids))]
    t = TABLES[model_table[mid]]
    expr, kind = t["measures"][rng.integers(len(t["measures"]))]
    calcs = NUM_CALCS if kind == "num" else KEY_CALCS
    calc = calcs[rng.integers(len(calcs))]
    k = rng.integers(2, 4)
    grains = sorted(rng.choice(GRAINS, size=k, replace=False).tolist(), key=GRAINS.index)
    n_f = rng.choice([0, 0, 1])
    filters = [dict(zip(("field", "operator", "value"), t["filters"][j]))
               for j in rng.choice(len(t["filters"]), size=n_f, replace=False)]
    name = f"m{idx:05d}_{calc}"
    return {
        "name": name, "label": f"Metric {idx}", "description": f"generated metric {idx}",
        "type": "simple", "calculation_method": calc, "expression": expr,
        "timestamp": t["ts"], "time_grains": grains, "dimensions": list(t["dims"]),
        "filters": filters,
        "meta": {"datahub_glossary_category": CATS[rng.integers(len(CATS))],
                 "owner": f"team{idx % 7}"},
        "tags": ["generated"], "package_name": "bench", "path": f"metrics/{name}.yml",
        "depends_on": {"nodes": [mid]},
    }


def _manifest_json(metrics, nodes, sources):
    return json.dumps({
        "metadata": {"dbt_schema_version": "https://schemas.getdbt.com/dbt/manifest/v9.json"},
        "metrics": {f"metric.bench.{m['name']}": m for m in metrics},
        "nodes": nodes, "sources": sources, "semantic_models": {},
    })


def expected_counts(metrics):
    """Ingestion.Result the generator knows: metric rows and glossary
    records (root + one node per distinct category + one term per metric)."""
    cats = {m["meta"]["datahub_glossary_category"] for m in metrics}
    return dict(metrics=len(metrics), records=1 + len(cats) + len(metrics), malformed=0)


def manifests(path, seed, **overrides):
    """Write v0..v<versions> manifest JSON plus `catalog.json` (each
    version's expected ingestion counts, read by the correctness check
    only)."""
    p = dict(MANIFEST_DEFAULTS, **overrides)
    rng = np.random.default_rng([seed, 303])
    tabs = list(TABLES)
    nodes, model_table = {}, {}
    for i in range(p["models"]):
        tab = tabs[i % len(tabs)]
        mid = f"model.bench.fct_{tab}_{i:03d}"
        model_table[mid] = tab
        nodes[mid] = {"database": "analytics", "schema": f"mart_{i % 9}",
                      "name": f"fct_{tab}_{i:03d}", "alias": "" if i % 2 else f"f_{tab}_{i}",
                      "resource_type": "model", "package_name": "bench",
                      "depends_on": {"nodes": [f"source.bench.raw.{tab}"]}}
    sources = {f"source.bench.raw.{t}": {"database": "raw", "schema": "tpch", "name": t,
                                          "identifier": t, "resource_type": "source",
                                          "source_name": "raw"} for t in tabs}
    model_ids = sorted(nodes)
    metrics = [_metric(rng, i, model_ids, model_table) for i in range(p["metrics"])]
    next_idx = p["metrics"]
    os.makedirs(path, exist_ok=True)
    catalog = {"models": model_table, "versions": []}
    for v in range(p["versions"] + 1):
        if v > 0:  # drift: ~drift_share of metrics added, removed or changed
            n_d = max(3, int(len(metrics) * p["drift_share"]))
            for j in rng.choice(len(metrics), size=n_d, replace=False):
                op = rng.integers(3)
                if op == 0:
                    metrics.append(_metric(rng, next_idx, model_ids, model_table))
                    next_idx += 1
                elif op == 1:
                    metrics[j] = None
                elif metrics[j] is not None:
                    m = dict(metrics[j])
                    t = TABLES[model_table[m["depends_on"]["nodes"][0]]]
                    m["label"] = m["label"] + " v" + str(v)
                    m["filters"] = [] if m["filters"] else [
                        dict(zip(("field", "operator", "value"), t["filters"][0]))]
                    metrics[j] = m
            metrics = [m for m in metrics if m is not None]
        with open(f"{path}/v{v}.json", "w") as f:
            f.write(_manifest_json(metrics, nodes, sources))
        catalog["versions"].append(expected_counts(metrics))
    with open(f"{path}/catalog.json", "w") as f:
        json.dump(catalog, f)
