"""Record the analytics result fingerprints in ``fingerprints.json``.

    python3 perfbench/record_fingerprints.py

Generates the analytics tables, digests every entry's result from
Spark, and cross-checks each digest against the entry's DuckDB oracle
(``queries.ORACLES``) over the same parquet files; the z-order write is
checked against the digest of the lineitem table it rewrites.  Nothing
is written unless every cross-check agrees.  Re-record only when the
generator or a query's specified result changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as harness


def main() -> int:
    work = os.path.join(harness.HERE, "_work", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        harness.prepare_env(work, trace=False)
        import duckdb
        import pyarrow.parquet as pq

        import checks
        import tracing
        import workloads as W
        from cascading_hbase_spark.catalog import TABLES
        from cascading_hbase_spark.queries import ORACLES
        from cascading_hbase_spark.session import get_session

        spark = get_session("perfbench-record")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            run = W.Run(spark, 0, 0.0, work, tracing.Tracer())
            a = W.Analytics(run)
            W.datagen.write_tables(a.data, W.SF)
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{a.data}/{t}.parquet'")
            entries, problems = {}, []
            for name in a.entries:
                got = a.result_digest(name)
                if name == W.ZORDER:
                    want = checks.digest(
                        pq.read_table(os.path.join(a.data, "lineitem.parquet")).to_pandas())
                elif name in ORACLES:
                    want = checks.digest(con.execute(ORACLES[name]).fetchdf())
                else:
                    want = got
                    print(f"{name}: no oracle, recorded unchecked", file=sys.stderr)
                if got != want:
                    problems.append(f"{name}: spark {got} != reference {want}")
                entries[name] = got
                print(name, got["rows"], file=sys.stderr)
        finally:
            harness.stop_session(spark)
        if problems:
            print("\n".join(problems), file=sys.stderr)
            return 1
        doc = {"sf": W.SF, "data_seed": 42, "entries": entries}
        with open(W.FINGERPRINTS, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
