#!/usr/bin/env python3
"""Self-test of the output checker: an exact output passes, and one dropped
row or one changed value each makes its operation a failed one, for a
registry query checked against DuckDB and for the topology's sink.

    python3 perfbench/selftest.py

Needs no engine build: it writes small inputs and stands in for the
engine's outputs.
"""
import os
import shutil
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

SQL = ("SELECT o_orderkey AS key, o_custkey AS user_id, o_totalprice AS amount "
       "FROM orders WHERE o_totalprice >= 250000")


def failed_ops(kind, ops, inputs, work, oracle_sql):
    wrong = check.wrong_ops(kind, ops, inputs, work, oracle_sql, 1)
    return [i for i, o in enumerate(ops) if o["error"] is not None or i in wrong]


def write_output(df, path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    df.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def main():
    results = []

    def expect(what, got_failed, want_failed):
        ok = bool(got_failed) == want_failed
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {what}: failed ops {got_failed}")

    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        # a registry query: its output is the oracle's result, then mutated
        inputs, work = os.path.join(tmp, "tables"), os.path.join(tmp, "q")
        gen.tables(inputs, seed=7, sf=0.001)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{inputs}/orders.parquet')")
        exact = con.sql(SQL).df()
        out = os.path.join(work, "out", "q_demo")
        ops = [{"name": "q_demo", "pass": p, "rows": len(exact), "error": None, "mismatch": False}
               for p in (0, 1)]
        write_output(exact, out)
        expect("query, exact output", failed_ops("queries", ops, inputs, work, {"q_demo": SQL}), False)
        write_output(exact.drop(index=3), out)
        expect("query, one row dropped", failed_ops("queries", ops, inputs, work, {"q_demo": SQL}), True)
        changed = exact.copy()
        changed.loc[5, "amount"] += 0.01
        write_output(changed, out)
        expect("query, one value changed", failed_ops("queries", ops, inputs, work, {"q_demo": SQL}), True)
        write_output(exact, out)
        short = [dict(o, rows=o["rows"] - 1) if o["pass"] == 1 else o for o in ops]
        expect("query, a steady op one row short",
               failed_ops("queries", short, inputs, work, {"q_demo": SQL}), True)

        # the topology: the sink holds the expected multiset, then mutated
        frames, work = os.path.join(tmp, "frames"), os.path.join(tmp, "t")
        gen.frames(frames, seed=7, files=2, per_file=50)
        exact = check.topology_expected(frames)
        sink = os.path.join(work, "stream", "pass0", "large-transaction-made")
        ops = [{"name": f"batch{i}", "pass": 0, "rows": 100, "error": None} for i in range(2)]
        write_output(exact, sink)
        expect("topology, exact sink", failed_ops("topology", ops, frames, work, {}), False)
        write_output(exact.drop(index=0), sink)
        expect("topology, one row dropped", failed_ops("topology", ops, frames, work, {}), True)
        changed = exact.copy()
        changed.loc[1, "amount"] += 1
        write_output(changed, sink)
        expect("topology, one value changed", failed_ops("topology", ops, frames, work, {}), True)
        write_output(exact.iloc[[0] + list(range(len(exact)))], sink)
        expect("topology, one row twice", failed_ops("topology", ops, frames, work, {}), True)

    print(f"{sum(results)}/{len(results)} checker self-tests passed")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
