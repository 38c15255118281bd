"""Output checks, run after the timed region.

Registry queries are compared with DuckDB running the query's
`SparkEntry.oracleSql` over the same parquet tables, with the rules of
`tools/compare_oracle.py`: columns by name, rows sorted, the same dtype kind
per column, exact values. The topology's sink is compared with the multiset
computed here from the generated frames.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    files = [f for f in files if "/_" not in f[len(path):]]
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(oracle, got):
    """None when `got` equals `oracle` under the oracle rules, else the reason."""
    if got is None:
        return "no output"
    ocols, gcols = sorted(oracle.columns), sorted(got.columns)
    if ocols != gcols:
        return f"columns differ: got {gcols}, oracle {ocols}"
    if len(oracle) != len(got):
        return f"row count differs: got {len(got)}, oracle {len(oracle)}"
    o = oracle[ocols].sort_values(by=ocols, ignore_index=True)
    g = got[gcols].sort_values(by=gcols, ignore_index=True)
    bad = []
    for c in ocols:
        oc, gc = o[c], g[c]
        ok, gk = oc.dtype.kind, gc.dtype.kind
        if ok != gk and {ok, gk} != {"i", "u"}:
            bad.append(f"{c}: dtype {gc.dtype} vs oracle {oc.dtype}")
        elif ok == "M" or gk == "M":
            if not pd.to_datetime(oc).astype("datetime64[us]").equals(
                    pd.to_datetime(gc).astype("datetime64[us]")):
                bad.append(f"{c}: timestamps differ")
        elif ok == "f" or gk == "f":
            diff = (oc.astype(float) - gc.astype(float)).abs()
            both_nan = oc.isna() & gc.isna()
            if (diff.fillna(1.0)[~both_nan] > 0).any():
                bad.append(f"{c}: max abs diff {diff.max():.3e}")
        elif not oc.astype(object).equals(gc.astype(object)):
            bad.append(f"{c}: {(oc.astype(object) != gc.astype(object)).sum()} values differ")
    return "; ".join(bad) if bad else None


def oracle_frames(data_dir, oracle_sql, threads):
    """{query: DataFrame or error string} from DuckDB over `data_dir`."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, threads)}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in oracle_sql.items():
        if not sql:
            out[name] = "no oracle SQL"
            continue
        try:
            out[name] = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run fails its query
            out[name] = f"oracle SQL error: {e}"
    con.close()
    return out


def check_queries(data_dir, out_dir, oracle_sql, threads):
    """{query: (reason or None, oracle row count or None)}."""
    res = {}
    for name, oracle in oracle_frames(data_dir, oracle_sql, threads).items():
        if isinstance(oracle, str):
            res[name] = (oracle, None)
        else:
            res[name] = (compare(oracle, read_parquet_dir(os.path.join(out_dir, name))),
                         len(oracle))
    return res


def topology_expected(frames_dir):
    """The sink the paper's topology must produce from the landed frames:
    purchases with amount >= 100 as (key, user_id, amount); donations with
    cents >= 10000 as (key, user_id, trunc(cents / 100))."""
    rows, keys = [], []
    for topic in ("purchases", "donations"):
        for f in sorted(glob.glob(os.path.join(frames_dir, topic, "*.json"))):
            with open(f) as fh:
                for line in fh:
                    rec = json.loads(line)
                    key, v = int(rec["key"]), json.loads(rec["value"])
                    keys.append(key)
                    if topic == "purchases" and v["amount"] >= 100:
                        rows.append((key, v["user_id"], int(v["amount"])))
                    elif topic == "donations" and v["donation_amount_cents"] >= 10000:
                        rows.append((key, v["user_id"], v["donation_amount_cents"] // 100))
    assert len(keys) == len(set(keys)), "generated keys are not unique"
    return pd.DataFrame(rows, columns=["key", "user_id", "amount"]).astype("int32")


def check_sink(expected, sink_dir):
    """None when the sink holds exactly the expected rows, each key once."""
    got = read_parquet_dir(sink_dir)
    if got is not None and got["key"].duplicated().any():
        return "a key appears more than once"
    return compare(expected, got)


def wrong_ops(kind, ops, inputs, work, oracle_sql, threads):
    """{op index: reason} for every operation that ran but gave a wrong output.

    A query or stateful op is wrong when its checked output (written from the
    cold pass to work/out/<name>) differs from the oracle, when its row count
    differs from the oracle's, or when its output differs from the checked
    one. A micro-batch is wrong when the sink of its drain
    (work/stream/pass<n>/large-transaction-made) differs from the expected
    multiset.
    """
    wrong = {}
    if kind in ("queries", "stateful"):
        checked = check_queries(inputs, os.path.join(work, "out"), oracle_sql, threads)
        for i, o in enumerate(ops):
            reason, n = checked[o["name"]]
            if reason is None and o["rows"] != n:
                reason = f"returned {o['rows']} rows, oracle {n}"
            if reason is None and o["mismatch"]:
                reason = "output differs from the oracle-checked cold-pass output"
            if o["error"] is None and reason is not None:
                wrong[i] = reason
    else:
        expected = topology_expected(inputs)
        for p in sorted({o["pass"] for o in ops}):
            reason = check_sink(expected, os.path.join(
                work, "stream", f"pass{p}", "large-transaction-made"))
            for i, o in enumerate(ops):
                if o["pass"] == p and o["error"] is None and reason is not None:
                    wrong[i] = reason
    return wrong
